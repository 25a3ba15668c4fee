package graft

import org.apache.spark.sql.functions._
import graft.operators.Retrieval
import graft.sources.Tables

class RetrievalSpec extends SparkSuite {

  private lazy val docs = Tables.documents(spark, sfDir)

  test("bm25 ranks a doc stuffed with the query term above all fixture docs") {
    import spark.implicits._
    val planted = Seq((900000L, "dup dup dup dup dup dup dup dup"))
      .toDF("doc_id", "text")
    val corpus = docs.select("doc_id", "text").unionByName(planted)
    val top = Retrieval.bm25(corpus, Seq("dup"), k = 3).collect()
    assert(top.head.getAs[Long]("doc_id") === 900000L)
    assert(top.head.getAs[Long]("rank") === 1L)
  }

  test("bm25 ranks are contiguous 1..k with positive scores, stable under repartition") {
    val r1 = Retrieval.bm25(docs, Seq("dup", "spark", "window"), k = 10)
    val rows = r1.orderBy("rank").collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq === (1L to 10L))
    assert(rows.forall(_.getAs[Double]("score") > 0.0))
    val r2 = Retrieval.bm25(docs.repartition(7), Seq("dup", "spark", "window"), k = 10)
    assert(r2.orderBy("rank").collect().map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  test("bm25 idf: a rare term outweighs a common one at equal tf") {
    import spark.implicits._
    // 10 docs: 'rare' appears in one doc, 'common' in all; the rare-only
    // doc must outrank the common-only doc for the combined query
    val corpus = ((0L until 8L).map(i => (i, "common filler words")) ++
      Seq((8L, "common rare"), (9L, "common common"))).toDF("doc_id", "text")
    val ranked = Retrieval.bm25(corpus, Seq("rare", "common"), k = 10)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    assert(ranked(8L) === 1L, s"rare-term doc must rank first: $ranked")
  }

  test("rrf fusion: a doc on both lists beats docs on one list at the same ranks") {
    import spark.implicits._
    val a = Seq((1L, 1L), (2L, 2L), (3L, 3L)).toDF("doc_id", "rank")
    val b = Seq((3L, 1L), (4L, 2L), (5L, 3L)).toDF("doc_id", "rank")
    val fused = Retrieval.rrfFuse(a, b, k = 5)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("rank")).toMap
    // doc 3 (rank 3 + rank 1) has 1/63 + 1/61 > any single-list score
    assert(fused(3L) === 1L)
    assert(fused.size === 5)
  }

  test("empty inputs flow through bm25, rrf, and mmr (no crash, empty out)") {
    import spark.implicits._
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Retrieval.bm25(noDocs, Seq("dup"), k = 5).count() === 0L)
    val noRanks = Seq.empty[(Long, Long)].toDF("doc_id", "rank")
    assert(Retrieval.rrfFuse(noRanks, noRanks, k = 5).count() === 0L)
    val noCands = Seq.empty[(Long, Long, Double)].toDF("query_id", "match_id", "score")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Retrieval.mmrRerank(noCands, noVecs, k = 5).count() === 0L)
  }

  test("rrf is top-k-input-bounded: fused output never exceeds |a| + |b|") {
    import spark.implicits._
    val a = Seq((1L, 1L)).toDF("doc_id", "rank")
    val b = Seq((2L, 1L)).toDF("doc_id", "rank")
    assert(Retrieval.rrfFuse(a, b, k = 100).count() === 2L)
  }

  test("mmr: near-duplicate of the top hit is demoted below a diverse candidate") {
    import spark.implicits._
    // candidates for one query: 10 ≈ 11 (near-identical directions, best
    // relevance), 12 orthogonal-ish with slightly worse relevance. Pure
    // relevance order is 10, 11, 12; MMR must pick 12 second.
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f, 0.01f)),
      (11L, Array(1.0f, 0.0f, 0.02f)),
      (12L, Array(0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cands = Seq(
      (1L, 10L, 0.10), (1L, 11L, 0.11), (1L, 12L, 0.30)
    ).toDF("query_id", "match_id", "score")
    val out = Retrieval.mmrRerank(cands, vecs, k = 3, lambda = 0.5)
      .orderBy("rank").collect().map(_.getAs[Long]("match_id")).toSeq
    assert(out === Seq(10L, 12L, 11L), s"got $out")
  }

  test("mmr: zero-norm candidate vectors rerank without NaN (similarity treated as 0)") {
    import spark.implicits._
    // 11 and 12 are zero vectors: cosine against anything is 0/0. The
    // former NaN leak left their maxSimToSel at the -Inf sentinel, and
    // BigDecimal(Infinity) threw at r >= 2.
    val vecs = Seq(
      (10L, Array(1.0f, 0.0f)),
      (11L, Array(0.0f, 0.0f)),
      (12L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val cands = Seq(
      (1L, 10L, 0.10), (1L, 11L, 0.20), (1L, 12L, 0.30)
    ).toDF("query_id", "match_id", "score")
    val out = Retrieval.mmrRerank(cands, vecs, k = 3, lambda = 0.5)
      .orderBy("rank").collect()
    assert(out.length === 3)
    assert(out.map(_.getAs[Long]("match_id")).toSeq === Seq(10L, 11L, 12L))
    assert(out.forall(r => !r.getAs[Double]("mmr").isNaN))
  }

  test("mmr invariants on fixtures: rank 1 = relevance winner, output bounded, deterministic") {
    val cands = graft.operators.KnnTopK.knnExact(
      Tables.defaultQueries(spark, sfDir),
      Tables.embeddings(spark, sfDir), k = 20, metric = "cosine")
    val emb = Tables.embeddings(spark, sfDir)
    val outRows = Retrieval.mmrRerank(cands, emb, k = 10).collect()
    val byQ = outRows.groupBy(_.getAs[Long]("query_id"))
    val top1 = cands.filter(col("rank") === 1).collect()
      .map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("match_id")).toMap
    for ((q, rows) <- byQ) {
      assert(rows.length === 10)
      val first = rows.find(_.getAs[Long]("rank") === 1L).get
      assert(first.getAs[Long]("match_id") === top1(q),
        "MMR rank 1 must be the pure-relevance winner")
    }
    val again = Retrieval.mmrRerank(cands.repartition(5), emb, k = 10)
      .orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(again === outRows.sortBy(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rank"))).map(_.toSeq).toSeq)
  }

  test("incremental mmr and the from-scratch brute twin select identically on fixtures") {
    val cands = graft.operators.KnnTopK.knnExact(
      Tables.defaultQueries(spark, sfDir),
      Tables.embeddings(spark, sfDir), k = 20, metric = "cosine")
    val emb = Tables.embeddings(spark, sfDir)
    def key(rows: Array[org.apache.spark.sql.Row]) = rows.map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("rank")) ->
        (r.getAs[Long]("match_id"), r.getAs[Double]("mmr"))).toMap
    val flagship = key(Retrieval.mmrRerank(cands, emb, k = 10).collect())
    val brute = key(Retrieval.mmrRerankBrute(cands, emb, k = 10).collect())
    assert(flagship === brute,
      "O(k·n) incremental and O(k²·n) recompute formulations must agree exactly")
  }

  test("maxsim: per-query-token MAX (not sum) over doc tokens, summed per query token") {
    import spark.implicits._
    val q = Seq((0L, 0L, Seq(1.0, 0.0)), (0L, 1L, Seq(0.0, 1.0)))
      .toDF("query_id", "tok_id", "qv")
    // doc 1: one perfect token per query token -> 1.0 + 1.0 = 2.0
    // doc 2: FIVE copies of the x-axis token, nothing on y -> max
    //        collapses the copies, score stays 1.0 (the late-interaction
    //        contract: repeating a matching token must not inflate)
    // doc 3: diagonal token, cos = 0.7071 to both axes -> 1.4142
    val d = (Seq((1L, Seq(1.0, 0.0)), (1L, Seq(0.0, 1.0))) ++
      (1 to 5).map(_ => (2L, Seq(1.0, 0.0))) ++
      Seq((3L, Seq(1.0, 1.0)))).toDF("match_id", "dv")
    val out = Retrieval.maxSim(q, d, k = 10).orderBy("rank").collect()
    val scores = out.map(r => r.getAs[Long]("match_id") -> r.getAs[Double]("score")).toMap
    assert(scores(1L) === 2.0)
    assert(scores(2L) === 1.0)
    assert(scores(3L) === 1.4142)
    assert(out.map(_.getAs[Long]("rank")).toSeq === Seq(1L, 2L, 3L))
    assert(out.head.getAs[Long]("match_id") === 1L)
  }

  test("maxsim cascade: full-candidate degenerate case equals exact; pruning keeps top-k shape") {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 8).select(
      floor(col("vec_id") / 4).cast("long").as("query_id"),
      col("vec_id").as("tok_id"), col("v").as("qv"))
    val d = e.select((col("vec_id") % 50).as("match_id"), col("v").as("dv"))
    val exact = Retrieval.maxSim(q, d, k = 10)
    // candidates >= corpus: stage 1 prunes nothing, result must be the
    // exact MaxSim bit-for-bit
    val full = Retrieval.maxSimCascade(q, d, k = 10, nCandidates = 1000)
    assert(full.exceptAll(exact).unionAll(exact.exceptAll(full)).count() === 0,
      "no-pruning cascade must equal exact MaxSim")
    // aggressive pruning still returns k well-formed rows per query
    val pruned = Retrieval.maxSimCascade(q, d, k = 10, nCandidates = 15)
    val byQ = pruned.collect().groupBy(_.getAs[Long]("query_id"))
    byQ.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("rank")).sorted.toSeq === (1L to 10L))
    }
  }

  test("maxsim on fixtures: contiguous ranks, bounded scores, repartition-stable") {
    val e = Tables.embeddings(spark, sfDir).select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
    val q = e.filter(col("vec_id") < 8).select(
      floor(col("vec_id") / 4).cast("long").as("query_id"),
      col("vec_id").as("tok_id"), col("v").as("qv"))
    val d = e.select((col("vec_id") % 100).as("match_id"), col("v").as("dv"))
    val rows = Retrieval.maxSim(q, d, k = 10).orderBy("query_id", "rank").collect()
    val byQ = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQ.keySet === Set(0L, 1L))
    byQ.values.foreach { qr =>
      assert(qr.map(_.getAs[Long]("rank")).toSeq === (1L to 10L))
      // 4 query tokens, each max-cosine in [-1, 1] -> score in [-4, 4]
      assert(qr.forall(r => math.abs(r.getAs[Double]("score")) <= 4.0))
    }
    val again = Retrieval.maxSim(q.repartition(5), d.repartition(7), k = 10)
      .orderBy("query_id", "rank").collect()
    assert(again.map(_.toSeq).toSeq === rows.map(_.toSeq).toSeq)
  }

  test("ranking metrics: perfect ranking scores 1.0; misses degrade dcg; all-miss scores 0") {
    import spark.implicits._
    val gold = Seq((1L, 10L), (1L, 11L), (2L, 20L), (3L, 30L))
      .toDF("query_id", "doc_id")
    // q1: both gold at ranks 1,2 (perfect); q2: gold at rank 3 behind
    // two misses; q3: gold absent from the ranking entirely
    val ranking = Seq((1L, 10L, 1L), (1L, 11L, 2L),
      (2L, 99L, 1L), (2L, 98L, 2L), (2L, 20L, 3L),
      (3L, 97L, 1L)).toDF("query_id", "doc_id", "rank")
    val m = Retrieval.rankingMetrics(ranking, gold, k = 10).collect()
      .map(r => r.getAs[Long]("query_id") ->
        (r.getAs[Double]("rr"), r.getAs[Double]("ndcg"))).toMap
    assert(m(1L) === ((1.0, 1.0)))
    assert(m(2L)._1 === math.rint(1.0 / 3 * 1e6) / 1e6)
    // q2 ndcg = g(3)/g(1) = round(1/log2(4),6)/round(1/log2(2),6) = 0.5/1
    assert(m(2L)._2 === 0.5)
    assert(m(3L) === ((0.0, 0.0)))
  }

  test("index-served bm25 equals the scan path exactly; postings read is bucket-pruned") {
    val dir = tempDir("graft_bm25_idx")
    val corpus = docs.select("doc_id", "text")
    Retrieval.buildBm25Index(corpus, dir, numBuckets = 8)
    val terms = Seq("dup", "spark", "window")
    val scan = Retrieval.bm25(corpus, terms, k = 10).orderBy("rank").collect()
    val served = Retrieval.bm25FromIndex(spark, dir, terms, k = 10)
    assert(served.orderBy("rank").collect().map(_.toSeq).toSeq ===
      scan.map(_.toSeq).toSeq, "index-served top-k must equal scan top-k bit-for-bit")
    // the query path must not scan buckets outside the terms' own: the
    // postings scan carries a PartitionFilters entry on bucket
    val plan = served.queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*bucket".r.findFirstIn(plan).isDefined,
      plan.take(800))
  }

  test("bm25 index append equals a from-scratch rebuild of the union corpus") {
    val corpus = docs.select("doc_id", "text")
    val h1 = corpus.filter(col("doc_id") % 2 === 0)
    val h2 = corpus.filter(col("doc_id") % 2 =!= 0)
    val dirA = tempDir("graft_bm25_app")
    val dirF = tempDir("graft_bm25_full")
    Retrieval.buildBm25Index(h1, dirA, numBuckets = 8)
    Retrieval.appendToBm25Index(h2, dirA)
    Retrieval.buildBm25Index(corpus, dirF, numBuckets = 8)
    // postings, df table, and stats all equal the rebuild row-for-row
    for (part <- Seq("postings", "terms", "stats")) {
      val a = spark.read.parquet(s"$dirA/$part")
      val f = spark.read.parquet(s"$dirF/$part").select(a.columns.map(col).toSeq: _*)
      assert(a.exceptAll(f).unionAll(f.exceptAll(a)).count() === 0,
        s"$part diverged between append and rebuild")
    }
    // and the appended index serves exactly what the scan path scores
    val served = Retrieval.bm25FromIndex(spark, dirA, Seq("dup", "spark"), k = 10)
      .orderBy("rank").collect()
    val scan = Retrieval.bm25(corpus, Seq("dup", "spark"), k = 10)
      .orderBy("rank").collect()
    assert(served.map(_.toSeq).toSeq === scan.map(_.toSeq).toSeq)
  }

  test("bm25 index: single-term query equals scan; rebuild (overwrite) is idempotent") {
    val dir = tempDir("graft_bm25_idx2")
    val corpus = docs.select("doc_id", "text")
    Retrieval.buildBm25Index(corpus, dir, numBuckets = 4)
    Retrieval.buildBm25Index(corpus, dir, numBuckets = 4) // overwrite, same result
    val scan = Retrieval.bm25(corpus, Seq("spark"), k = 5).orderBy("rank").collect()
    val served = Retrieval.bm25FromIndex(spark, dir, Seq("spark"), k = 5)
      .orderBy("rank").collect()
    assert(served.map(_.toSeq).toSeq === scan.map(_.toSeq).toSeq)
  }

  test("hardNegatives: per-query gold — a doc gold for one query negatives another") {
    import spark.implicits._
    val ranking = Seq(
      (0L, 10L, 1), (0L, 11L, 2), // query 0 ranks docs 10, 11
      (1L, 10L, 1), (1L, 12L, 2)  // query 1 ranks docs 10, 12
    ).toDF("query_id", "doc_id", "rank")
    val gold = Seq((0L, 10L)).toDF("query_id", "doc_id") // 10 gold ONLY for q0
    val neg = Retrieval.hardNegatives(ranking, gold)
      .select("query_id", "doc_id").as[(Long, Long)].collect().toSet
    // q0: 11 negative (10 is gold); q1: BOTH 10 and 12 negative
    assert(neg === Set((0L, 11L), (1L, 10L), (1L, 12L)))
  }
}
