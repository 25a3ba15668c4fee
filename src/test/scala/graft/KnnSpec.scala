package graft

import org.apache.spark.sql.functions._
import graft.functions.VectorOps
import graft.operators.{Dedup, Knn, KnnIvf, KnnTopK, Quantize, Recall}
import graft.sources.Tables

class KnnSpec extends SparkSuite {

  private lazy val corpus = Tables.embeddings(spark, sfDir)
  private lazy val queries = Tables.defaultQueries(spark, sfDir)

  test("knnExact returns exactly k matches per query, ranked") {
    val res = Knn.knnExact(queries, corpus, k = 5).collect()
    val byQuery = res.groupBy(_.getLong(0))
    assert(byQuery.size === 10)
    byQuery.values.foreach { rows =>
      assert(rows.map(_.getLong(3)).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    }
  }

  test("rank 1 of cosine distance self-search is the query itself at distance 0") {
    val res = Knn.knnExact(queries, corpus, k = 1).collect()
    res.foreach { r =>
      assert(r.getLong(1) === r.getLong(0)) // match_id == query_id
      assert(r.getDouble(2) === 0.0)
    }
  }

  test("window and bounded-aggregation formulations are row-identical") {
    for (metric <- Seq("cosine", "euclidean", "inner_product")) {
      val viaWindow = Knn.knnExact(queries, corpus, k = 7, metric = metric).collect()
        .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
      val viaAgg = KnnTopK.knnExact(queries, corpus, k = 7, metric = metric).collect()
        .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
      assert(viaAgg === viaWindow, s"formulations diverge for $metric")
    }
  }

  test("top-k is a prefix of full brute-force ranking") {
    val k5 = Knn.knnExact(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    val k20 = Knn.knnExact(queries, corpus, k = 20).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    k5.foreach { case (key, id) => assert(k20(key) === id) }
  }

  test("similarity mode inverts ordering direction but keeps the same matches") {
    val dist = Knn.knnExact(queries, corpus, k = 5, asDistance = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val sim = Knn.knnExact(queries, corpus, k = 5, asDistance = false)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dist === sim)
  }

  test("IVF recall@10 >= 0.95 vs exact (nProbe=12 of 16 cells)") {
    // fixture vectors are near-uniform (no cluster structure, SURVEY §5),
    // the worst case for IVF — recall still must clear the bar with a
    // deep probe, mirroring how ef_query trades speed for recall
    val exact = Knn.knnExact(queries, corpus, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = KnnIvf.approxKnn(corpus, queries, k = 10, numCells = 16, nProbe = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.95, s"recall@10 = $recall")
  }

  test("IVF with nProbe = numCells equals exact search") {
    val exact = Knn.knnExact(queries, corpus, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = KnnIvf.approxKnn(corpus, queries, k = 10, numCells = 8, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact)
  }

  test("IVF tombstones: marked ids vanish from load, serve stays exact on the live corpus") {
    val path = tempDir("graft_ivf_del")
    KnnIvf.save(KnnIvf.build(corpus, numCells = 8), path)
    val dels = corpus.select("vec_id").filter(col("vec_id") % 3 === 0)
    KnnIvf.markDeletedSaved(spark, path, dels)
    val loaded = KnnIvf.load(spark, path)
    val loadedIds = loaded.corpusWithCell.select("vec_id").collect().map(_.getLong(0)).toSet
    assert(loadedIds.forall(_ % 3 != 0), "no tombstoned id may survive load")
    assert(loadedIds.size.toLong === corpus.filter(col("vec_id") % 3 =!= 0).count(),
      "every live id must survive load")
    // full probe over the live view == exact search over the live corpus
    val served = KnnIvf.searchPruned(loaded, queries, k = 5, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = KnnTopK.knnExact(queries, corpus.filter(col("vec_id") % 3 =!= 0), k = 5)
      .collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(served === exact)
    // cumulative: a second mark unions with the first
    KnnIvf.markDeletedSaved(spark, path,
      corpus.select("vec_id").filter(col("vec_id") % 5 === 0))
    val after = KnnIvf.load(spark, path).corpusWithCell
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(after.forall(id => id % 3 != 0 && id % 5 != 0))
  }

  test("IVF compact folds tombstones in: same serve, tombstone table cleared, emptied cells dropped") {
    val path = tempDir("graft_ivf_cmp")
    KnnIvf.save(KnnIvf.build(corpus, numCells = 8), path)
    // delete a scatter of ids PLUS one whole cell, so compact must both
    // rewrite touched cells and drop a fully-emptied directory
    val cellToEmpty = KnnIvf.load(spark, path).corpusWithCell
      .select("cell").head().getInt(0)
    val dels = KnnIvf.load(spark, path).corpusWithCell
      .filter(col("vec_id") % 3 === 0 || col("cell") === cellToEmpty)
      .select("vec_id")
    KnnIvf.markDeletedSaved(spark, path, dels)
    val beforeCompact = KnnIvf.searchPruned(KnnIvf.load(spark, path),
        queries, k = 5, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    KnnIvf.compact(spark, path)
    val afterCompact = KnnIvf.searchPruned(KnnIvf.load(spark, path),
        queries, k = 5, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(afterCompact === beforeCompact, "compact must not change served results")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")),
      "compact must clear the tombstone table")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/corpus/cell=$cellToEmpty")),
      "a fully-emptied cell directory must be dropped")
    // corpus files now carry live rows only (no anti-join needed to serve)
    val raw = spark.read.parquet(s"$path/corpus").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val expected = KnnIvf.load(spark, path).corpusWithCell
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(raw === expected, "post-compact raw files must equal the live view")
    // compact with no tombstones is a no-op
    KnnIvf.compact(spark, path)
    assert(spark.read.parquet(s"$path/corpus").count().toInt === raw.size)
  }

  test("IVF refresh refits the layout on the live corpus and subsumes compact") {
    val path = tempDir("graft_ivf_rf")
    KnnIvf.save(KnnIvf.build(corpus, numCells = 4), path)
    KnnIvf.appendTo(spark, path,
      corpus.withColumn("vec_id", col("vec_id") + 10000000L))
    KnnIvf.markDeletedSaved(spark, path,
      corpus.select((col("vec_id") + 10000000L).as("vec_id"))
        .filter(col("vec_id") % 2 === 0))
    KnnIvf.refresh(spark, path, numCells = 8)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$path/tombstones")),
      "refresh must fold tombstones in and clear the table")
    val loaded = KnnIvf.load(spark, path)
    val ids = loaded.corpusWithCell.select("vec_id").collect().map(_.getLong(0)).toSet
    val expected = corpus.select("vec_id").collect().map(_.getLong(0)).toSet ++
      corpus.select("vec_id").collect().map(_.getLong(0) + 10000000L).filter(_ % 2 != 0)
    assert(ids === expected, "refresh must keep exactly the live id set")
    assert(loaded.model.clusterCenters.length === 8,
      "refresh must refit at the requested cell count")
    // serving stays exact at full probe over the refreshed layout
    val served = KnnIvf.searchPruned(loaded, queries, k = 5, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val liveCorpus = corpus.unionByName(
        corpus.withColumn("vec_id", col("vec_id") + 10000000L)
          .filter(col("vec_id") % 2 =!= 0))
    val exact = KnnTopK.knnExact(queries, liveCorpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(served === exact)
  }

  test("IVF save/load round-trips: loaded searchPruned == in-memory search") {
    val path = tempDir("graft_ivf_spec")
    val idx = KnnIvf.build(corpus, numCells = 8)
    KnnIvf.save(idx, path)
    val loaded = KnnIvf.load(spark, path)
    val mem = KnnIvf.search(idx, queries, k = 10, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val disk = KnnIvf.searchPruned(loaded, queries, k = 10, nProbe = 4).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(disk === mem)
  }

  test("BqPack codegen'd expression equals the HOF fold twin") {
    val rows = corpus.select(
      VectorOps.bqPack(col("embedding")).as("fast"),
      VectorOps.bqPackHof(col("embedding")).as("slow")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getSeq[Long](0) === r.getSeq[Long](1))
    }
    // edge vectors: empty (no words — the sequence-on-empty trap), 64
    // zeros (one all-zero word: zero is NOT positive), 65 dims (two words)
    import spark.implicits._
    val edges = Seq(
      Seq.empty[Double], Seq.fill(64)(0.0), Seq.fill(65)(1.0)
    ).toDF("v")
    val got = edges.select(
      VectorOps.bqPack(col("v")).as("fast"),
      VectorOps.bqPackHof(col("v")).as("slow")).collect()
    got.foreach(r => assert(r.getSeq[Long](0) === r.getSeq[Long](1)))
    assert(got(0).getSeq[Long](0) === Seq.empty)
    assert(got(1).getSeq[Long](0) === Seq(0L))
    assert(got(2).getSeq[Long](0) === Seq(-1L, 1L)) // 64 ones = all bits set
  }

  test("BqHamming over packed codes equals the per-dim sign-disagreement count") {
    val pairs = corpus.limit(40).select(col("vec_id"), col("embedding"),
        VectorOps.bqPack(col("embedding")).as("code"))
      .crossJoin(queries.limit(5))
    val rows = pairs.select(
      VectorOps.bqHamming(VectorOps.bqPack(col("query_vec")), col("code")).as("packed"),
      aggregate(
        zip_with(col("query_vec"), col("embedding"),
          (x, y) => when((x.cast("double") > 0.0) === (y.cast("double") > 0.0), lit(0L))
            .otherwise(lit(1L))),
        lit(0L), (acc, v) => acc + v).as("direct")).collect()
    assert(rows.length === 200)
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
  }

  test("BQ search over a persisted encoded layout scans codes only (no float read)") {
    val path = tempDir("graft_bq_spec")
    Quantize.bqEncodeCorpus(corpus).write.mode("overwrite").parquet(path)
    val persisted = spark.read.parquet(path)
    val viaCodes = Quantize.bqSearch(queries, persisted, k = 5)
    val plan = viaCodes.queryExecution.executedPlan.toString
    // the corpus-side scan (of the temp layout) must read id+code only;
    // the queries-side scan legitimately reads floats to pack on the fly
    val corpusScans = plan.linesIterator
      .filter(l => l.contains("FileScan") && l.contains("graft_bq_spec")).toSeq
    assert(corpusScans.nonEmpty, s"expected a scan of the persisted layout in:\n$plan")
    corpusScans.foreach { l =>
      assert(l.contains("bq_code"), s"expected bq_code in the layout scan: $l")
      assert(!l.contains("embedding"),
        s"float column must be pruned from the code scan: $l")
    }
    // and the pruned-scan path returns exactly what on-the-fly packing returns
    val onTheFly = Quantize.bqSearch(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val persistedRes = viaCodes.collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(persistedRes === onTheFly)
  }

  test("BQ rerank with an exhaustive candidate pool degenerates to exact search") {
    val n = corpus.count().toInt
    val bq = Quantize.bqSearchRerank(queries, corpus, k = 5, candidates = n).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val exact = KnnTopK.knnExact(queries, corpus, k = 5).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(bq === exact)
  }

  test("IVF x BQ with every cell probed degenerates to the plain BQ cascade") {
    val idx = KnnIvf.build(corpus, numCells = 8)
    val probed = Quantize.bqSearchProbed(idx, queries, k = 5, nProbe = 8, pool = 60)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    val plain = Quantize.bqSearchRerank(queries, corpus, k = 5, candidates = 60)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(probed === plain)
  }

  test("bqSearchRerankMulti equals bqSearchRerank at every pool budget") {
    val pools = Seq(10, 25, 60)
    // multi columns: (query_id, pool, match_id, score, rank)
    val multi = Quantize.bqSearchRerankMulti(queries, corpus, k = 5, pools).collect()
      .groupBy(_.getLong(1))
      .map { case (p, rows) =>
        p -> rows.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
      }
    pools.foreach { p =>
      val single = Quantize.bqSearchRerank(queries, corpus, k = 5, candidates = p).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(multi(p.toLong) === single, s"divergence at pool=$p")
    }
  }

  test("BQ cascade recall@5 vs the exact twin, measured") {
    val r = Recall.atK(
      Quantize.bqSearchRerank(queries, corpus, k = 5, candidates = 100),
      KnnTopK.knnExact(queries, corpus, k = 5), k = 5).collect()(0)
    val recall = r.getAs[Double]("recall_at_k")
    info(s"BQ (pool=100) recall@5 = $recall")
    assert(recall >= 0.5)
  }

  test("searchPrunedMulti equals searchPruned at every probe budget") {
    val idx = KnnIvf.build(corpus, numCells = 8)
    val nProbes = Seq(1, 2, 4, 8)
    // multi columns: (query_id, n_probe, match_id, score, rank)
    val multi = KnnIvf.searchPrunedMulti(idx, queries, k = 5, nProbes).collect()
      .groupBy(_.getLong(1))
      .map { case (np, rows) =>
        np -> rows.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3), r.getLong(4))).toSet
      }
    nProbes.foreach { np =>
      val single = KnnIvf.searchPruned(idx, queries, k = 5, nProbe = np).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
      assert(multi(np.toLong) === single, s"divergence at nProbe=$np")
    }
  }

  test("loaded IVF probe is a partition-pruned scan (PartitionFilters, not full read)") {
    val path = tempDir("graft_ivf_spec2")
    KnnIvf.save(KnnIvf.build(corpus, numCells = 8), path)
    val loaded = KnnIvf.load(spark, path)
    val plan = KnnIvf.searchPruned(loaded, queries, k = 5, nProbe = 2)
      .queryExecution.executedPlan.toString
    assert("PartitionFilters: \\[[^\\]]*cell".r.findFirstIn(plan).isDefined,
      s"expected a cell partition filter in:\n$plan")
  }

  test("traversal 'm' explode(nest(knn)) round-trips to the flat result") {
    import graft.operators.Traversal
    val flat = Knn.knnExact(queries, corpus, k = 5)
    val back = Traversal.traverseFlat(Traversal.withMatches(flat), "m", idCol = "query_id")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(r.fieldIndex("query_id")), r.getLong(r.fieldIndex("rank"))) ->
        (r.getLong(r.fieldIndex("match_id")), r.getDouble(r.fieldIndex("score")))
    assert(back.collect().map(key).toMap === flat.collect().map(key).toMap)
  }

  test("IVF add assigns new rows to existing cells (== full assign under the same model)") {
    import graft.operators.KnnIvf
    val half1 = corpus.filter(col("vec_id") % 2 === 0)
    val half2 = corpus.filter(col("vec_id") % 2 === 1)
    val idx1 = KnnIvf.build(half1, numCells = 8)
    val grown = KnnIvf.add(idx1, half2)
    val fullAssign = KnnIvf.IvfIndex(idx1.model,
      KnnIvf.add(KnnIvf.IvfIndex(idx1.model, idx1.corpusWithCell.limit(0)), corpus).corpusWithCell)
    val a = KnnIvf.search(grown, queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    val b = KnnIvf.search(fullAssign, queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(a === b)
  }

  test("IVF appendTo grows a saved index; loaded search sees the new rows") {
    import graft.operators.KnnIvf
    val path = tempDir("graft_ivf_app")
    val half1 = corpus.filter(col("vec_id") % 2 === 0)
    val half2 = corpus.filter(col("vec_id") % 2 === 1)
    val idx = KnnIvf.build(half1, numCells = 8)
    KnnIvf.save(idx, path)
    KnnIvf.appendTo(spark, path, half2)
    val loaded = KnnIvf.load(spark, path)
    assert(loaded.corpusWithCell.count() === corpus.count())
    val got = KnnIvf.searchPruned(loaded, queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    val mem = KnnIvf.search(KnnIvf.add(idx, half2), queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(got === mem)
  }

  test("versioned IVF: ingest commits linearize, racing disjoint-cell appends both land") {
    import graft.operators.Versioned
    val path = tempDir("graft_ivf_ver")
    val half1 = corpus.filter(col("vec_id") % 2 === 0)
    val half2 = corpus.filter(col("vec_id") % 2 === 1)
    val idx = KnnIvf.build(half1, numCells = 8)
    assert(KnnIvf.saveVersioned(idx, path) === 0)
    // loaded serve == in-memory serve (same contract as the in-place flavor)
    val mem = KnnIvf.search(idx, queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    val disk = KnnIvf.search(KnnIvf.loadVersioned(spark, path),
        queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(disk === mem)
    // split the second half into two CELL-DISJOINT batches by assigning
    // with the stored model first, then race the two ingests
    val withCell = idx.model.transform(half2.withColumn("__features",
        org.apache.spark.ml.functions.array_to_vector(
          col("embedding").cast("array<double>"))))
      .drop("__features").withColumnRenamed("__cell", "cell")
      .localCheckpoint(true)
    // split at a FILE boundary (manifest stats boxes partition the cell
    // space): cell-disjoint AND file-disjoint, so both racers must land
    val boxes = Versioned.snapshot(spark, s"$path/corpus").entries
      .flatMap(_.stats).map { case (_, lo, hi) => (lo, hi) }.sortBy(_._1)
    assert(boxes.length >= 2, "need >= 2 files to build disjoint batches")
    val splitAt = boxes(boxes.length / 2)._1
    val batchA = withCell.filter(col("cell") < splitAt).drop("cell")
    val batchB = withCell.filter(col("cell") >= splitAt).drop("cell")
    assert(batchA.count() > 0 && batchB.count() > 0,
      "both sides of the file-boundary split must carry rows")
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(batchA, batchB).map(b => pool.submit(
        new java.util.concurrent.Callable[Int] {
          def call(): Int = { gate.await(); KnnIvf.appendToVersioned(spark, path, b) }
        }))
      val got = fs.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet === Set(1, 2), s"both racing ingests must land, got $got")
    } finally pool.shutdown()
    val loaded = KnnIvf.loadVersioned(spark, path)
    assert(loaded.corpusWithCell.count() === corpus.count())
    // the committed index serves exactly like an in-memory add of the whole half
    val gotServe = KnnIvf.search(loaded, queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    val wantServe = KnnIvf.search(KnnIvf.add(idx, half2), queries, k = 10, nProbe = 8)
      .collect().map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(gotServe === wantServe)
    // time travel: v0 still serves the ORIGINAL half-corpus index
    val v0 = KnnIvf.search(KnnIvf.loadVersioned(spark, path, Some(0)),
        queries, k = 10, nProbe = 8).collect()
      .map(r => (r.getLong(0), r.getLong(3)) -> r.getLong(1)).toMap
    assert(v0 === mem)
  }

  test("versioned IVF: delete folds as a commit; compact racing an append refuses typed") {
    import graft.operators.Versioned
    val path = tempDir("graft_ivf_ver_del")
    KnnIvf.saveVersioned(KnnIvf.build(corpus, numCells = 8), path)
    val doomed = corpus.filter(col("vec_id") % 7 === 0).select("vec_id")
    KnnIvf.deleteVersioned(spark, path, doomed)
    val live = KnnIvf.loadVersioned(spark, path)
    assert(live.corpusWithCell.join(doomed, Seq("vec_id"), "left_semi").count() === 0)
    // deleted ids never serve
    assert(KnnIvf.search(live, queries, k = 5, nProbe = 8)
      .join(doomed.select(col("vec_id").as("match_id")), Seq("match_id"), "left_semi")
      .count() === 0)
    // compact racing an append: exactly one lands, the loser is typed
    val newRows = corpus.select((col("vec_id") + 5000000L).as("vec_id"),
      col("embedding"), col("label")).filter(col("vec_id") % 3 === 0)
      .localCheckpoint(true)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val outcomes = try {
      val tasks: Seq[() => Int] = Seq(
        () => KnnIvf.appendToVersioned(spark, path, newRows),
        () => KnnIvf.compactVersioned(spark, path, targetBytes = 1L << 20))
      val fs = tasks.map(t => pool.submit(
        new java.util.concurrent.Callable[Either[Throwable, Int]] {
          def call(): Either[Throwable, Int] = {
            gate.await()
            try Right(t()) catch { case e: Throwable => Left(e) }
          }
        }))
      fs.map(_.get(180, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    outcomes.collect { case Left(e) => e }.foreach(e => assert(
      e.isInstanceOf[Versioned.ConcurrentWriteConflictException],
      s"expected the typed conflict, got $e"))
    // whatever interleaving happened, the table must read consistently
    val after = KnnIvf.loadVersioned(spark, path).corpusWithCell
    assert(after.count() > 0)
    assert(after.join(doomed, Seq("vec_id"), "left_semi").count() === 0,
      "deletes survive any racing maintenance")
  }

  test("versioned IVF: vacuum composes — history reclaimed typed, serving intact") {
    import graft.operators.Versioned
    // the index corpus IS a versioned table, so retention maintenance
    // needs no index-specific code — this pins the composition: vacuum
    // reclaims pre-compact history, time travel past retention is the
    // TYPED error (never a raw missing-parquet read), and the retained
    // index serves bit-identically to its pre-vacuum self
    val path = tempDir("graft_ivf_ver_vac")
    KnnIvf.saveVersioned(KnnIvf.build(corpus, numCells = 8), path) // v0
    val delta = corpus.select((col("vec_id") + 6000000L).as("vec_id"),
      col("embedding"), col("label")).filter(col("vec_id") % 4 === 1)
    KnnIvf.appendToVersioned(spark, path, delta)                   // v1
    KnnIvf.compactVersioned(spark, path)                           // v2
    val served = KnnIvf.search(KnnIvf.loadVersioned(spark, path),
      queries, k = 5, nProbe = 8).select("query_id", "match_id", "score")
      .localCheckpoint(true)
    val stats = Versioned.vacuum(spark, s"$path/corpus", keepVersions = 1)
    assert(stats.deletedFiles > 0, "pre-compact history must actually reclaim")
    assert(stats.droppedVersions === Seq(0, 1))
    intercept[Versioned.VersionRetentionException] {
      KnnIvf.loadVersioned(spark, path, Some(0)).corpusWithCell.count()
    }
    val again = KnnIvf.search(KnnIvf.loadVersioned(spark, path),
      queries, k = 5, nProbe = 8).select("query_id", "match_id", "score")
    assert(again.exceptAll(served).unionAll(served.exceptAll(again)).count() === 0,
      "vacuum must never change what the retained index serves")
  }

  test("int8 scalar quantization: bounded reconstruction error, recall@10 >= 0.9") {
    import graft.operators.Quantize
    val dec = Quantize.decodeCorpus(Quantize.encodeCorpus(corpus))
    // componentwise |x - decoded| <= scale/127 (one floor step)
    val err = corpus.join(dec.withColumnRenamed("embedding", "dec_emb"), "vec_id")
      .select(Quantize.sqScale(col("embedding")).as("s"),
        aggregate(zip_with(col("embedding"), col("dec_emb"),
          (a, b) => abs(a.cast("double") - b.cast("double"))),
          lit(0.0), (acc, v) => greatest(acc, v)).as("maxerr"))
      .filter(col("maxerr") > col("s") / 127.0 * 1.0001)
    assert(err.isEmpty, "reconstruction error exceeded one quantization step")
    val exact = Knn.knnExact(queries, corpus, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Knn.knnExact(queries, dec, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall@10 = $recall")
  }

  test("product quantization: deterministic codes, measured recall@10") {
    import graft.operators.Pq
    val index = Pq.train(corpus, dim = 64, m = 16, k = 32)
    val enc = Pq.encode(index, corpus)
    assert(enc.select(size(col("pq_codes"))).distinct().head().getInt(0) === 16)
    val dec = Pq.decode(index, enc)
    val exact = Knn.knnExact(queries, corpus, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Knn.knnExact(queries, dec, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    info(s"PQ m=16 k=32 recall@10 = $recall")
    assert(recall >= 0.5, s"PQ recall@10 = $recall")
    // encoding is deterministic run-over-run (seeded kmeans)
    val enc2 = Pq.encode(Pq.train(corpus, dim = 64, m = 16, k = 32), corpus)
    assert(enc.select("vec_id", "pq_codes").exceptAll(
      enc2.select("vec_id", "pq_codes")).isEmpty)
  }

  test("PQ ADC search agrees with reconstruction search") {
    import graft.operators.Pq
    val index = Pq.train(corpus, dim = 64, m = 16, k = 32)
    val enc = Pq.encode(index, corpus)
    // identity check: ADC's LUT sums equal distance-to-reconstruction up
    // to float(decode)-vs-double(LUT) rounding — compare ALL pairs via a
    // big k so both sides rank the complete corpus
    val n = corpus.count().toInt
    val adc = Pq.adcSearch(index, queries, enc, k = n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val recon = Knn.knnExact(queries, Pq.decode(index, enc), k = n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(adc.keySet === recon.keySet)
    val maxDiff = adc.map { case (k2, v) => math.abs(v - recon(k2)) }.max
    assert(maxDiff <= 2e-4, s"ADC vs reconstruction max score diff $maxDiff")
    // and the ADC top-10 keeps reconstruction-level recall vs exact
    val exact = Knn.knnExact(queries, corpus, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val adc10 = Pq.adcSearch(index, queries, enc, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & adc10).size.toDouble / exact.size
    info(s"PQ ADC recall@10 = $recall")
    assert(recall >= 0.5, s"PQ ADC recall@10 = $recall")
  }

  test("IVFPQ: probing every cell degenerates to plain ADC search") {
    import graft.operators.{KnnIvf, Pq}
    val numCells = 8
    val ivf = KnnIvf.build(corpus, numCells = numCells)
    val pq = Pq.train(corpus, dim = 64, m = 16, k = 32)
    val encCells = Pq.encode(pq, ivf.corpusWithCell)
    val all = Pq.adcSearchProbed(pq,
      KnnIvf.probeCells(ivf, queries, nProbe = numCells), encCells, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val plain = Pq.adcSearch(pq, queries, Pq.encode(pq, corpus), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(all === plain, "nProbe = numCells must equal un-pruned ADC exactly")
    // pruned probing returns k rows per query and stays subset-sane
    val pruned = Pq.adcSearchProbed(pq,
      KnnIvf.probeCells(ivf, queries, nProbe = 2), encCells, k = 10)
    val counts = pruned.groupBy("query_id").count().collect().map(_.getLong(1))
    assert(counts.forall(_ === 10L))
  }

  test("filtered IVF with every cell probed equals exact filtered search") {
    val numCells = 8
    val ivf = KnnIvf.build(corpus, numCells = numCells)
    val pred = col("label") === 3
    val ann = KnnIvf.search(KnnIvf.filtered(ivf, pred), queries,
        k = 5, nProbe = numCells)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val exact = KnnTopK.knnExact(queries, corpus.filter(pred), k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(ann === exact, "full-probe filtered IVF must equal exact filtered k-NN")
    // pruned probing still honors the predicate
    val pruned = KnnIvf.search(KnnIvf.filtered(ivf, pred), queries, k = 5, nProbe = 2)
    val matchedLabels = pruned.join(corpus.select(col("vec_id").as("match_id"), col("label")),
      "match_id").select("label").distinct().collect().map(_.getInt(0)).toSeq
    assert(matchedLabels === Seq(3))
  }

  test("zero-norm corpus rows drop from both k-NN formulations identically") {
    import spark.implicits._
    // cosine against a zero vector is 0/0 = NaN: the window form ranked
    // NaN largest (FIRST for similarities), the aggregation form rejects
    // it — both must now exclude the row and fill k from valid matches
    val corpus0 = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.9f, 0.1f)),
      (3L, Array(0.0f, 0.0f)), (4L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val q = Seq((7L, Array(1.0f, 0.05f))).toDF("query_id", "query_vec")
    for (asDist <- Seq(true, false)) {
      val win = Knn.knnExact(q, corpus0, k = 3, asDistance = asDist)
        .collect().map(_.toSeq).toSet
      val agg = KnnTopK.knnExact(q, corpus0, k = 3, asDistance = asDist)
        .collect().map(_.toSeq).toSet
      assert(win === agg, s"formulations diverge (asDistance=$asDist)")
      assert(win.size === 3, "k must fill from the valid rows")
      assert(!win.exists(_(1) == 3L), "zero-norm row must not be a match")
    }
  }

  test("residual IVFADC: LUT decomposition equals centroid+residual reconstruction") {
    import graft.operators.{KnnIvf, Pq}
    val numCells = 8
    val ivf = KnnIvf.build(corpus, numCells = numCells)
    val idx = Pq.trainResidual(ivf, dim = 64, m = 16, k = 32)
    val enc = Pq.encodeResidual(idx, ivf)
    // probe EVERY cell so each (query, corpus row) pair is scored once;
    // the two ADC identities (<q,recon> split, per-cell ||recon||² table)
    // must equal brute-force cosine against recon = centroid + r̂ up to
    // float(decode)-vs-double(LUT) rounding
    val n = corpus.count().toInt
    val adc = Pq.adcSearchResidual(idx, ivf,
        KnnIvf.probeCells(ivf, queries, nProbe = numCells), enc, k = n)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val cents = ivf.model.clusterCenters.map(_.toArray.toSeq).toSeq
    val reconV = Pq.decode(idx, enc).withColumn("embedding",
      zip_with(col("embedding").cast("array<double>"),
        element_at(typedLit(cents), col("cell") + 1), (a, b) => a + b))
    val recon = Knn.knnExact(queries, reconV, k = n).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(adc.keySet === recon.keySet)
    val maxDiff = adc.map { case (k2, v) => math.abs(v - recon(k2)) }.max
    assert(maxDiff <= 5e-4, s"residual ADC vs reconstruction max diff $maxDiff")
    // same identity under the euclidean form: adc emits sqrt(||q−recon||²)
    // while knnExact's "euclidean" is the SQUARED distance — compare via
    // the square (rounding at 4dp on the sqrt widens to ~2·d·5e-5)
    val adcL2 = Pq.adcSearchResidual(idx, ivf,
        KnnIvf.probeCells(ivf, queries, nProbe = numCells), enc, k = n,
        metric = "euclidean")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val reconL2 = Knn.knnExact(queries, reconV, k = n, metric = "euclidean").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val maxDiffL2 = adcL2.map { case (k2, v) => math.abs(v * v - reconL2(k2)) }.max
    assert(maxDiffL2 <= 5e-3, s"residual ADC euclidean max squared-diff $maxDiffL2")
    // recall on these deliberately UNIFORM fixtures: residuals cannot
    // beat plain PQ (cells explain ~no variance here — the paper's gains
    // need clustered data), but they must stay in the same band
    val exact = Knn.knnExact(queries, corpus, k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val res10 = Pq.adcSearchResidual(idx, ivf,
        KnnIvf.probeCells(ivf, queries, nProbe = numCells), enc, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & res10).size.toDouble / exact.size
    info(s"residual IVFADC recall@10 (all cells probed) = $recall")
    assert(recall >= 0.4, s"residual IVFADC recall@10 = $recall")
  }

  test("sign-RP LSH finds all planted cosine duplicates") {
    val emb = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"), col("label"))
    val planted = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * 1.5).as("embedding"), col("label"))
    val pairs = Dedup.cosinePairsLsh(emb.unionByName(planted), dim = 64, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = planted.collect().map(r => (r.getLong(0) - 10000000L, r.getLong(0))).toSet
    assert(pairs === expected)
  }

  test("SemDeDup finds all planted duplicates and keeps exactly one per group") {
    val emb = corpus.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("embedding"), col("label"))
    val planted = emb.filter(col("vec_id") % 25 === 0)
      .select((col("vec_id") + 10000000L).as("vec_id"),
        transform(col("embedding"), x => x * 1.5).as("embedding"), col("label"))
    val union = emb.unionByName(planted)
    // normalization makes a scaled copy share its original's cluster, so
    // cluster blocking loses no planted pair
    val pairs = Dedup.semdedupPairs(union, numClusters = 8, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = planted.collect().map(r => (r.getLong(0) - 10000000L, r.getLong(0))).toSet
    assert(pairs === expected)
    val sel = Dedup.semdedupSelect(union, numClusters = 8, threshold = 0.99).collect()
    val byComp = sel.groupBy(_.getLong(1))
    assert(byComp.size === expected.size)
    byComp.values.foreach { rows =>
      assert(rows.count(_.getBoolean(4)) === 1, "exactly one keep per duplicate group")
      // centroid cosine is scale-invariant -> the pair ties and the
      // lower id (the original) is kept
      val kept = rows.find(_.getBoolean(4)).get
      assert(kept.getLong(0) === rows.map(_.getLong(0)).min)
    }
  }

  test("IVF appendTo is last-wins: replayed batches never duplicate ids") {
    val path = tempDir("graft_ivf_lw")
    KnnIvf.save(KnnIvf.build(corpus, numCells = 4), path)
    val delta = corpus.withColumn("vec_id", col("vec_id") + 10000000L)
    KnnIvf.appendTo(spark, path, delta)
    def dupIds() = spark.read.parquet(s"$path/corpus")
      .groupBy("vec_id").count().filter(col("count") > 1).count()
    val total = spark.read.parquet(s"$path/corpus").count()
    assert(dupIds() === 0L)
    // foreachBatch is at-least-once: the SAME batch replaying must be a
    // no-op on the corpus (the blind-append formulation duplicated here)
    KnnIvf.appendTo(spark, path, delta)
    assert(spark.read.parquet(s"$path/corpus").count() === total)
    assert(dupIds() === 0L)
    // and a re-sent id is an UPSERT (the reference's /index last-wins):
    // count unchanged, still no duplicates
    KnnIvf.appendTo(spark, path, delta.limit(5))
    assert(spark.read.parquet(s"$path/corpus").count() === total)
    assert(dupIds() === 0L)
  }
}
