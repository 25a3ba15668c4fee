package graft

import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}

class DedupSpec extends SparkSuite {
  import spark.implicits._

  private lazy val docs = spark.read.parquet(s"$sfDir/documents.parquet")

  private lazy val withNearDupes = {
    val base = docs.select("doc_id", "text")
    base.unionByName(base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"),
        concat($"text", lit(" extra tail words")).as("text")))
  }

  test("exact groups count duplicates and keep the min id") {
    val base = docs.select("doc_id", "text")
    val dupes = base.filter($"doc_id" % 10 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), $"text")
    val groups = Dedup.exactGroups(base.unionByName(dupes)).collect()
    assert(groups.count(_.getLong(2) == 2L) === 50)
    assert(groups.forall(_.getLong(1) < 10000000L)) // keeper is always the original
  }

  test("dropExactDuplicates keeps one row per content") {
    val base = docs.select("doc_id", "text")
    val doubled = base.unionByName(
      base.select(($"doc_id" + 10000000L).as("doc_id"), $"text"))
    assert(Dedup.dropExactDuplicates(doubled).count() === base.count())
  }

  test("minhash LSH finds every planted near-duplicate pair") {
    val pairs = Dedup.minhashPairs(withNearDupes, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.filter($"doc_id" % 10 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 10000000L)).toSet
    assert((planted -- pairs).isEmpty, s"missed ${(planted -- pairs).size} planted pairs")
  }

  test("bucket cap bounds an all-identical hot bucket; uncapped path unchanged") {
    // 40 identical docs: every band puts all 40 in one bucket, so the
    // uncapped candidate stage is C(40,2); cap 8 must emit exactly the
    // lowest-id C(8,2) pairs and count 16 bands x 32 evictions
    val docs = (0L until 40L).map(i => (i, "identical adversarial text body"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 32)
    val uncapped = Dedup.minhashCandidatesFromSigs(sigs)
    assert(uncapped.count() === 40L * 39 / 2)
    val capped = Dedup.minhashCandidatesFromSigs(sigs, maxBucketMembers = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped === (for (a <- 0L until 8L; b <- (a + 1) until 8L) yield (a, b)).toSet)
    val dropped = Dedup.bandBucketDrops(sigs, maxBucketMembers = 8)
      .head().getLong(0)
    assert(dropped === 16L * 32L)
    // uncapped drop count is zero by definition
    assert(Dedup.bandBucketDrops(sigs).head().getLong(0) === 0L)
  }

  test("star-link overflow keeps the hot bucket's component whole at linear cost") {
    val docs = (0L until 40L).map(i => (i, "identical adversarial text body"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 32)
    val linked = Dedup.minhashCandidatesFromSigs(sigs, maxBucketMembers = 8,
      overflowLink = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // C(8,2) all-pairs among the kept members + one star link per
    // overflow member against the bucket representative (id 0)
    val core = (for (a <- 0L until 8L; b <- (a + 1) until 8L) yield (a, b)).toSet
    val star = (8L until 40L).map(b => (0L, b)).toSet
    assert(linked === core ++ star)
    // the dedup consequence: connected components over the linked pairs
    // put ALL 40 docs in ONE component — nothing escapes the dedup pass
    val comps = Dedup.duplicateComponents(
      docs.select("doc_id"), linked.toSeq.toDF("id_a", "id_b"), "doc_id")
    assert(comps.select("component").distinct().count() === 1L)
    assert(comps.count() === 40L)
  }

  test("incremental candidates == full-corpus candidates minus old-old") {
    val sigs = Dedup.minhashSignatures(withNearDupes, "doc_id", "text", 3, 32)
      .localCheckpoint(true)
    val old = sigs.filter($"doc_id" < 10000000L)
    val neu = sigs.filter($"doc_id" >= 10000000L)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val inc = pairSet(Dedup.minhashCandidatesIncremental(old, neu))
    val full = pairSet(Dedup.minhashCandidatesFromSigs(sigs))
    val oldOld = pairSet(Dedup.minhashCandidatesFromSigs(old))
    assert(inc === (full -- oldOld))
    // every planted pair crosses old->new, so the delta finds them all
    val planted = docs.filter($"doc_id" % 10 === 0).collect()
      .map(r => (r.getLong(0), r.getLong(0) + 10000000L)).toSet
    assert((planted -- inc).isEmpty)
  }

  test("incremental verified pairs match the full verify restricted to new-touching pairs") {
    val sigs = Dedup.minhashSignatures(withNearDupes, "doc_id", "text", 3, 32)
      .localCheckpoint(true)
    val old = sigs.filter($"doc_id" < 10000000L)
    val neu = sigs.filter($"doc_id" >= 10000000L)
    def vset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = vset(Dedup.minhashPairsIncremental(withNearDupes, old, neu, threshold = 0.5))
    val full = vset(Dedup.minhashPairsFromSigs(withNearDupes, sigs, threshold = 0.5)
      .filter($"id_a" >= 10000000L || $"id_b" >= 10000000L))
    assert(inc === full)
  }

  test("candidate-scoped verify equals the corpus-wide verify row for row") {
    // short docs (< shingleN tokens), empty docs, a repeated doc_id and
    // planted near-copies, besides the sf fixture's own docs
    val base = docs.select("doc_id", "text").filter($"doc_id" % 4 === 0)
    val planted = base.filter($"doc_id" % 8 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"), concat($"text", lit(" extra tail words")).as("text"))
    val firstTwo = base.orderBy("doc_id").limit(2).collect().map(r => (r.getLong(0), r.getString(1)))
    val edge = Seq(
      (20000001L, "hello world"), (20000002L, "hello world"), (20000003L, "Hello  WORLD"),
      (20000004L, "lonely"), (20000005L, ""), (20000006L, "   "),
      (20000007L, firstTwo(0)._2), (20000007L, firstTwo(1)._2 + " and a tail"))
      .toDF("doc_id", "text")
    val corpus = base.unionByName(planted).unionByName(edge)
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", 3, 32).localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq.sorted
    Seq(0.4, 0.5).foreach { t =>
      val scoped = rows(Dedup.minhashPairsFromSigs(corpus, sigs, threshold = t))
      assert(scoped === rows(corpusWideVerify(corpus, sigs, t)), s"threshold $t")
      assert(scoped.exists(_._1 == 20000001L), "the short-doc copies pair")
      assert(scoped.count(r => r._1 == firstTwo(0)._1 && r._2 == 20000007L) === 1,
        "of the repeated id's two rows, only the copy pairs with its source")
    }
  }

  /** The verify as it was before candidate scoping: shingle-hash sets for
    * every doc of the corpus on both join sides. */
  private def corpusWideVerify(corpus: org.apache.spark.sql.DataFrame,
                               sigs: org.apache.spark.sql.DataFrame,
                               threshold: Double): org.apache.spark.sql.DataFrame = {
    val sets = corpus.select($"doc_id", Dedup.shingleHashSet($"text", 3).as("__set"))
    Dedup.minhashCandidatesFromSigs(sigs)
      .join(sets.select($"doc_id".as("id_a"), $"__set".as("__sa")), "id_a")
      .join(sets.select($"doc_id".as("id_b"), $"__set".as("__sb")), "id_b")
      .withColumn("jaccard", round(Dedup.jaccard($"__sa", $"__sb"), 4))
      .filter($"jaccard" >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  test("simhash incremental pairs == full pairs minus old-old") {
    val sigs = Dedup.simhashSignatures(withNearDupes, "doc_id", "text", 64)
      .localCheckpoint(true)
    val old = sigs.filter($"doc_id" < 10000000L)
    val neu = sigs.filter($"doc_id" >= 10000000L)
    def vset(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val inc = vset(Dedup.simhashPairsIncremental(old, neu))
    val full = vset(Dedup.simhashPairsFromSigs(sigs)
      .filter($"id_a" >= 10000000L || $"id_b" >= 10000000L))
    assert(inc === full)
  }

  test("star-link invariants hold on an ARBITRARY mixed corpus, not just megabuckets") {
    // theorem-level properties of the policy, checked on the real fixture
    // corpus with a stress-tiny cap (every bucket with >2 members
    // overflows): (1) capped+linked candidates are a SUBSET of the
    // uncapped candidates (a star link pairs two members of one bucket —
    // the uncapped join emits that pair too; the policy never invents a
    // pair); (2) id COVERAGE is identical — any id sharing a bucket with
    // >= 1 other member appears either among the kept pairs or as a star
    // link, so no doc silently exits the dedup pass under the cap.
    val sigs = Dedup.minhashSignatures(withNearDupes, "doc_id", "text", 3, 32)
      .localCheckpoint(true)
    val uncapped = Dedup.minhashCandidatesFromSigs(sigs)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val linked = Dedup.minhashCandidatesFromSigs(sigs, maxBucketMembers = 2,
      overflowLink = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((linked -- uncapped).isEmpty,
      s"star links invented ${(linked -- uncapped).size} pairs absent uncapped")
    def ids(ps: Set[(Long, Long)]) = ps.flatMap(p => Set(p._1, p._2))
    assert(ids(linked) === ids(uncapped))
    // and the cap genuinely bit: fewer pairs than the exact join
    assert(linked.size < uncapped.size)
  }

  test("simhash bucket cap + star link bound the identical-sig megabucket") {
    val docs = (0L until 40L).map(i => (i, "identical adversarial text body"))
      .toDF("doc_id", "text")
    val sigs = Dedup.simhashSignatures(docs, "doc_id", "text", 64)
    // identical signatures: every pair is hamming 0, so the uncapped join
    // is all C(40,2) pairs; capped+linked is C(8,2) + 32 star links, all
    // of which survive the hamming<=3 verification
    assert(Dedup.simhashPairsFromSigs(sigs).count() === 40L * 39 / 2)
    val linked = Dedup.simhashPairsFromSigs(sigs, maxBucketMembers = 8,
      overflowLink = true)
    assert(linked.count() === 8L * 7 / 2 + 32L)
    assert(linked.agg(max($"hamming")).head().getLong(0) === 0L)
    val overflow = Dedup.simhashBucketOverflow(sigs, maxBucketMembers = 8)
      .head().getLong(0)
    assert(overflow === 4L * 32L)
    assert(Dedup.simhashBucketOverflow(sigs).head().getLong(0) === 0L)
  }

  test("blocked cosine cap + star link bound a hot block; small blocks unchanged") {
    // one hot block of 30 identical vectors + one small block of 3
    val hot = (0L until 30L).map(i => (i, Array(1.0f, 2.0f, 2.0f), "hot"))
    val cold = (100L until 103L).map(i => (i, Array(-1.0f, 0.5f, 0.0f), "cold"))
    val emb = (hot ++ cold).toDF("vec_id", "embedding", "blk")
    val pairs = Dedup.cosinePairsBlocked(emb, Seq($"blk"), threshold = 0.99,
      maxBlockMembers = 8, overflowLink = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val hotCore = (for (a <- 0L until 8L; b <- (a + 1) until 8L) yield (a, b)).toSet
    val hotStar = (8L until 30L).map(b => (0L, b)).toSet
    val coldAll = (for (a <- 100L until 103L; b <- (a + 1) until 103L) yield (a, b)).toSet
    assert(pairs === hotCore ++ hotStar ++ coldAll)
    val overflow = Dedup.blockOverflow(emb, Seq($"blk"), maxBlockMembers = 8)
      .head().getLong(0)
    assert(overflow === 22L)
    // drop policy (no link): overflow members absent from the pair set
    val dropped = Dedup.cosinePairsBlocked(emb, Seq($"blk"), threshold = 0.99,
      maxBlockMembers = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(dropped === hotCore ++ coldAll)
  }

  test("minhash jaccard estimates match exact jaccard on planted pairs") {
    val pairs = Dedup.minhashPairs(withNearDupes, threshold = 0.5)
      .filter($"id_b" - $"id_a" === 10000000L)
    // planted pairs share all but ~3 trailing shingles
    assert(pairs.agg(min($"jaccard")).head().getDouble(0) > 0.6)
  }

  test("simhash finds every planted pair within its hamming<=3 contract") {
    // pigeonhole: 4 bands of 16 bits guarantee recall 1.0 for hamming <= 3
    val pairs = Dedup.simhashPairs(withNearDupes).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val sigs = Dedup.simhashSignatures(withNearDupes, "doc_id", "text")
    val a = sigs.select($"doc_id".as("id_a"), $"simhash".as("ha"))
    val b = sigs.select($"doc_id".as("id_b"), $"simhash".as("hb"))
    val within3 = a.join(b, $"id_b" === $"id_a" + 10000000L)
      .withColumn("h", Dedup.hamming($"ha", $"hb"))
      .filter($"h" <= 3)
      .select("id_a", "id_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(within3.nonEmpty)
    assert((within3 -- pairs).isEmpty,
      s"missed ${(within3 -- pairs).size} guaranteed pairs")
    pairs.foreach { case (x, y) => assert(x < y) }
  }

  test("portableHash64 computes the DuckDB-identical 60-bit md5 hash") {
    // pinned against CAST('0x' || substr(md5(s),1,15) AS BIGINT) in
    // DuckDB 1.0 (= int(md5_hex[:15], 16)) — the cross-engine contract
    // the dedup_*_md5 oracles stand on
    val got = Seq("abc", "hello world", "dup spark window").toDF("s")
      .select(Dedup.portableHash64($"s")).collect().map(_.getLong(0)).toSeq
    assert(got === Seq(648541476951500027L, 426544247714475757L, 652421773112250149L))
  }

  test("portable minhash twin agrees with the xxhash64 flagship pair-for-pair") {
    // same banding geometry (32 perms, 16 bands of 2), same exact-Jaccard
    // verify — on the fixture corpus both LSH families recover the same
    // verified pair set (near-identical recall at the planted j >= 0.8)
    val flagship = Dedup.minhashPairs(withNearDupes, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val portable = Dedup.minhashPairsPortable(withNearDupes, threshold = 0.5).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(portable === flagship,
      s"only-portable=${(portable -- flagship).size} only-flagship=${(flagship -- portable).size}")
  }

  test("portable simhash twin emits exactly the hamming<=3 pairs of its signatures") {
    // pigeonhole: 4 bands of 15 bits guarantee recall 1.0 for hamming <= 3,
    // so the banded output must EQUAL the brute-force signature join
    val pairs = Dedup.simhashPairsPortable(withNearDupes).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val sigs = Dedup.simhashSignaturesPortable(withNearDupes)
    val a = sigs.select($"doc_id".as("id_a"), $"sig".as("ha"))
    val b = sigs.select($"doc_id".as("id_b"), $"sig".as("hb"))
    val brute = a.join(b, $"id_a" < $"id_b")
      .withColumn("h", Dedup.hamming($"ha", $"hb"))
      .filter($"h" <= 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"),
        r.getAs[Int]("h").toLong)).toSet
    assert(brute.nonEmpty)
    assert(pairs === brute,
      s"banded=${pairs.size} brute=${brute.size} missed=${(brute -- pairs).size}")
  }

  test("zero-norm embeddings never emit as cosine near-dup pairs") {
    // two zero vectors share every LSH sign-bucket AND every sign-pattern
    // block; their cosine is 0/0 = NaN, which Spark's comparison ranks
    // LARGEST — without the isnan guard they'd emit as a duplicate pair
    val emb = Seq(
      (1L, Array(1.0, 0.0, 0.0, 0.0)),
      (2L, Array(0.0, 0.0, 0.0, 0.0)),
      (3L, Array(0.0, 0.0, 0.0, 0.0)),
      (4L, Array(1.0, 0.0, 0.0, 0.0))
    ).toDF("vec_id", "embedding")
    val lsh = Dedup.cosinePairsLsh(emb, dim = 4, threshold = 0.99).collect()
    assert(lsh.forall(r => !r.getDouble(2).isNaN))
    assert(lsh.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 4L)))
    val blocked = Dedup.cosinePairsBlocked(emb,
      Seq(lit(0)), threshold = 0.99).collect()
    assert(blocked.forall(r => !r.getDouble(2).isNaN))
    assert(blocked.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((1L, 4L)))
  }

  test("hamming expression") {
    val d = Seq((Seq(1, 0, 1, 0), Seq(1, 1, 0, 0))).toDF("a", "b")
    assert(d.select(Dedup.hamming($"a", $"b")).head().getInt(0) === 2)
  }

  test("ngram jaccard pairs are symmetric-safe (id_a < id_b) and above threshold") {
    val pairs = Dedup.ngramJaccardPairs(withNearDupes,
      blockExpr = md5(substring($"text", 1, 40).cast("binary")), threshold = 0.5).collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("duplicateComponents merges chains the pairwise policy misses") {
    val docs = Seq(1L, 2L, 3L, 4L, 5L, 9L).toDF("doc_id")
    // chain 1~2~3 (no direct 1~3 edge) + pair 4~5 + singleton 9
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("id_a", "id_b")
    val comp = Dedup.duplicateComponents(docs, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("duplicateComponentsChecked: a long chain hits the iteration cap with converged=false") {
    // path graph 0~1~2~…~30: min-label propagation moves the 0-label one
    // hop per round after the seeded first hop, so a 3-iteration budget
    // CANNOT converge — the cap must bail out with partial labels and
    // say so, not loop or silently claim completion
    val n = 30
    val docs = (0L to n).toDF("doc_id")
    val pairs = (0L until n).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val (partial, converged) = Dedup.labelPropagation(docs, pairs, "doc_id", maxIter = 3)
    assert(!converged)
    val labels = partial.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // partial labels are a refinement: every label is a reachable
    // (smaller) node, but the far end cannot have reached 0 yet
    assert(labels(0L) === 0L)
    assert(labels.forall { case (id, c) => c <= id })
    assert(labels(n.toLong) !== 0L)
    // the same graph under an adequate budget (diameter ≈ n hops, one
    // hop per round) converges to one component
    val (full, ok) = Dedup.labelPropagation(docs, pairs, "doc_id", maxIter = n + 2)
    assert(ok)
    assert(full.collect().map(_.getLong(1)).toSet === Set(0L))
    // the public call closes the chain on the driver whatever the budget
    val (closed, closedOk) = Dedup.duplicateComponentsChecked(docs, pairs, maxIter = 3)
    assert(closedOk)
    assert(closed.collect().map(_.getLong(1)).toSet === Set(0L))
  }

  test("duplicateComponents: driver union-find and propagation agree on a long chain, a star and singletons") {
    // chain 100~…~130 listed in a shuffled order (diameter 30 > the
    // default 20-round cap), star centre 260 with leaves 250..259 and
    // 261..269, singletons 400..404
    val chain = new scala.util.Random(7).shuffle((100L until 130L).map(i => (i, i + 1))).toSeq
    val star = ((250L until 260L) ++ (261L until 270L)).map(l => (260L, l))
    val ids = (100L to 130L) ++ (250L until 270L) ++ (400L until 405L)
    val docs = ids.toDF("doc_id")
    val pairs = (chain ++ star).toDF("id_a", "id_b")
    val want = ids.map(i => i -> (if (i <= 130L) 100L else if (i < 400L) 250L else i)).toMap
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (driver, driverOk) = Dedup.duplicateComponentsChecked(docs, pairs)
    val (fallback, fallbackOk) = Dedup.labelPropagation(docs, pairs, "doc_id", maxIter = 40)
    assert(driverOk && fallbackOk)
    assert(asMap(driver) === want)
    assert(asMap(fallback) === want)
    assert(driver.count() === ids.size.toLong)
  }

  test("duplicateComponents: an edge through an id outside docs joins on the driver path only") {
    // docs {1, 3, 5}; pairs 1~2~3 where 2 is not a doc. Union-find closes
    // 1 and 3 through 2; propagation passes no label through a non-doc id
    val docs = Seq(1L, 3L, 5L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("id_a", "id_b")
    def asMap(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(asMap(Dedup.duplicateComponents(docs, pairs)) === Map(1L -> 1L, 3L -> 1L, 5L -> 5L))
    assert(asMap(Dedup.labelPropagation(docs, pairs, "doc_id", maxIter = 20)._1) ===
      Map(1L -> 1L, 3L -> 2L, 5L -> 5L))
  }

  test("duplicateComponents starts at most 2 jobs on the driver path") {
    // a cluster-side pair frame over 4 partitions: the bounded collect is
    // the call's only action (the propagation path pins its edges, its
    // seed labels and every round, and runs a convergence check per round)
    val pairs = spark.range(0, 2000, 1, 4)
      .select(($"id" * 2).as("id_a"), ($"id" * 2 + 1).as("id_b")).localCheckpoint(true)
    val docs = spark.range(0, 4000).toDF("doc_id")
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet(): Unit
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val labels = try Dedup.duplicateComponents(docs, pairs) finally {
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get <= 2, s"${jobs.get} jobs")
    assert(labels.filter($"component" =!= $"doc_id").count() === 2000L)
    assert(labels.filter($"component" === $"doc_id" - 1).count() === 2000L)
  }

  test("dropNearDuplicates removes every doc that pairs with a lower id") {
    val pairs = Dedup.minhashPairs(withNearDupes, threshold = 0.5)
    val kept = Dedup.dropNearDuplicates(withNearDupes, pairs)
    // all planted copies (id >= 10M) pair with their lower-id original;
    // natural same-vocab near-dups are dropped too (keep-first policy)
    assert(kept.filter($"doc_id" >= 10000000L).count() === 0)
    val dropped = pairs.select($"id_b").distinct().count()
    assert(kept.count() === withNearDupes.count() - dropped)
  }

  test("langId is deterministic and total") {
    val preds = docs.select(TextOps.langId($"text").as("p"))
    assert(preds.filter($"p".isNull).count() === 0)
    val again = docs.select(TextOps.langId($"text").as("p"))
    assert(preds.exceptAll(again).count() === 0)
  }

  test("fingerprint is stable under identity and shifts under heavy edit") {
    val fp = docs.limit(20).select($"doc_id", TextOps.fingerprint($"text").as("f1"))
      .join(docs.limit(20).select($"doc_id", TextOps.fingerprint($"text").as("f2")), "doc_id")
    assert(fp.filter($"f1" =!= $"f2").count() === 0)
  }

  test("md5 fingerprint: stable, and always one of the doc's own gram hashes") {
    import org.apache.spark.sql.functions.{array_contains, md5, transform => xform}
    val withFp = docs.limit(50).select($"doc_id", $"text",
      TextOps.fingerprintMd5($"text").as("fp"))
    assert(withFp.filter($"fp".isNull).count() === 0)
    val grams = withFp.select($"fp",
      xform(Dedup.charNgrams($"text", 8), g => md5(g.cast("binary"))).as("hs"))
    assert(grams.filter(!array_contains($"hs", $"fp")).count() === 0)
  }

  test("token histogram covers every doc exactly once") {
    val h = TextOps.tokenHistogram(docs)
    assert(h.agg(org.apache.spark.sql.functions.sum($"n_docs")).head().getLong(0)
      === docs.count())
    assert(h.filter($"min_tokens" % 10 =!= 0).count() === 0)
  }

  test("calibrated quality gate flags roughly the worst decile") {
    val flagged = TextOps.calibratedQualityGate(docs, q = 0.1)
    val frac = flagged.count().toDouble / docs.count()
    assert(frac > 0.02 && frac <= 0.12, s"flagged fraction $frac")
    // every flagged doc scores strictly below the threshold
    assert(flagged.filter($"quality" >= $"threshold").count() === 0)
  }

  test("gopher rules: signals bounded, verdict consistent with its inputs") {
    val r = TextOps.gopherReport(docs).cache()
    assert(r.count() === docs.count())
    assert(r.filter($"symbol_ratio" < 0.0 || $"alpha_word_ratio" > 1.0).count() === 0)
    // verdict re-derivable from the emitted signals
    val bad = r.filter($"passes" =!= (
      ($"n_words" >= 50 && $"n_words" <= 100000 &&
        $"mean_word_len" >= 3.0 && $"mean_word_len" <= 10.0 &&
        $"symbol_ratio" <= 0.1 && $"alpha_word_ratio" >= 0.8 &&
        $"n_stop_hits" >= 2).cast("long")))
    assert(bad.count() === 0)
    // the rule discriminates on these fixtures (docs span 10..99 words)
    val verdicts = r.select($"passes").distinct().collect().map(_.getLong(0)).toSet
    assert(verdicts === Set(0L, 1L), s"gopher verdicts degenerate: $verdicts")
    r.unpersist()
  }

  test("duplicateSpans merges overlapping grams into one maximal span") {
    // shared 10-word run; in doc 2 it starts at word 3
    val run = "a b c d e f g h i j"
    val d = Seq(
      (1L, s"$run k l"),
      (2L, s"x y $run z")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // 8 overlapping 3-grams merge into exactly one span per doc
    assert(spans === Set((1L, 1L, 10L, 8L), (2L, 3L, 12L, 8L)))
  }

  test("duplicateSpans splits disjoint duplicated runs into separate spans") {
    val d = Seq(
      (1L, "p q r gapone s t u"),
      (2L, "p q r gaptwo s t u")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, n = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(spans === Set(
      (1L, 1L, 3L, 1L), (1L, 5L, 7L, 1L),
      (2L, 1L, 3L, 1L), (2L, 5L, 7L, 1L)))
  }

  test("duplicateSpans: docs shorter than n contribute nothing and don't crash") {
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a b c d")).toDF("doc_id", "text")
    assert(Dedup.duplicateSpans(d, n = 3).count() === 0)
  }

  test("duplicateSpans minDocs=3 (count-distinct path) ignores 2-doc grams") {
    val d = Seq(
      (1L, "a b c d"),
      (2L, "a b c e"),   // "a b c" in docs 1,2 only
      (3L, "x y z w"),
      (4L, "x y z v"),
      (5L, "x y z u")).toDF("doc_id", "text") // "x y z" spans 3 docs
    val spans = Dedup.duplicateSpans(d, n = 3, minDocs = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((3L, 1L, 3L), (4L, 1L, 3L), (5L, 1L, 3L)))
  }

  test("duplicateSpans: spans are >= n wide, disjoint, and in-bounds per doc") {
    val spans = Dedup.duplicateSpans(withNearDupes, n = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(spans.nonEmpty)
    val lens = withNearDupes.select($"doc_id",
      size(Dedup.tokens($"text")).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spans.foreach { case (id, s, e, g) =>
      assert(s >= 1 && e <= lens(id), s"span [$s,$e] out of bounds for doc $id")
      assert(e - s + 1 >= 10, s"span [$s,$e] narrower than n")
      assert(g === e - s + 1 - 9, s"gram count inconsistent for [$s,$e]")
    }
    // maximality: spans of one doc never touch or overlap
    spans.groupBy(_._1).values.foreach { ss =>
      val sorted = ss.sortBy(_._2)
      sorted.sliding(2).foreach {
        case Array((_, _, e1, _), (_, s2, _, _)) =>
          assert(s2 > e1 + 1, s"adjacent spans not merged: $e1 vs $s2")
        case _ =>
      }
    }
  }

  test("sql_spans (SQL surface) returns exactly the DataFrame operator's rows") {
    val dir = sfDir
    val df = SparkEntry.queries("dedup_spans")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val sql = SparkEntry.queries("sql_spans")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(sql === df)
  }

  test("spanCleanReport drops mostly-duplicated docs and keeps clean ones") {
    val shared = (1 to 8).map(i => s"s$i").mkString(" ") // 8 shared words
    val d = Seq(
      (1L, shared),                                  // 8/8 duplicated -> dropped
      (2L, s"$shared u1 u2"),                        // 8/10 = 0.8 -> dropped (not < 0.8)
      (3L, s"$shared u3 u4 u5 u6 u7 u8 u9 u10"),     // 8/16 = 0.5 -> kept
      (4L, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10")).toDF("doc_id", "text") // 0 -> kept
    val kept = Dedup.spanCleanReport(d, n = 4, maxCoverage = 0.8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(kept === Set((3L, 16L, 8L, 0.5), (4L, 10L, 0L, 0.0)))
  }

  test("spanCleanReport merges OVERLAPPING spans before summing (no double count)") {
    // two distinct duplicated substrings of doc 1 share word 'w3': B has
    // w1..w3, C has w3..w5, and gram start 2 (w2 w3 w4) is nowhere else.
    // duplicateSpans correctly reports overlapping spans [1,3] and [3,5];
    // a plain sum would count w3 twice (dup_words 6 > n_words 5,
    // coverage 1.2) — the interval merge must yield 5/5 = 1.0.
    val d = Seq(
      (1L, "w1 w2 w3 w4 w5"),
      (2L, "w1 w2 w3 x1 x2"),
      (3L, "y1 y2 w3 w4 w5")).toDF("doc_id", "text")
    val spans = Dedup.duplicateSpans(d, n = 3).filter($"doc_id" === 1L)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(spans === Set((1L, 3L), (3L, 5L))) // genuinely overlapping
    val r1 = Dedup.spanCleanReport(d, n = 3, maxCoverage = 2.0)
      .filter($"doc_id" === 1L).head()
    assert(r1.getAs[Long]("n_words") === 5L)
    assert(r1.getAs[Long]("dup_words") === 5L)
    assert(r1.getAs[Double]("coverage") === 1.0)
  }

  test("spanCutReport cuts duplicated spans but keeps the canonical copy") {
    import org.apache.spark.sql.functions.md5
    // doc 1 and doc 2 share 'a b c' (gram at doc1 pos 3, doc2 pos 1):
    // doc 1 is the lower id, so it KEEPS the span; doc 2 loses words 1-3
    val d = Seq(
      (1L, "x1 x2 a b c"),
      (2L, "a b c y1 y2"),
      (3L, "z1 z2 z3 z4 z5")).toDF("doc_id", "text")
    val rows = Dedup.spanCutReport(d, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    val h = (s: String) => d.sparkSession.range(1)
      .select(md5(org.apache.spark.sql.functions.lit(s).cast("binary"))).head().getString(0)
    assert(rows(1L) === ((5L, 0L, h("x1 x2 a b c")))) // canonical keeper: untouched
    assert(rows(2L) === ((5L, 3L, h("y1 y2"))))       // span cut, tail survives
    assert(rows(3L) === ((5L, 0L, h("z1 z2 z3 z4 z5"))))
    // a doc cut in full hashes the empty string
    val full = Seq((1L, "a b c"), (2L, "a b c")).toDF("doc_id", "text")
    val r2 = Dedup.spanCutReport(full, n = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(r2(1L) === ((0L, h("a b c"))))
    assert(r2(2L) === ((3L, h(""))))
  }

  test("normalization-composed minhash: accent variants dedup only after strip") {
    val base = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val twin = base.select(lit(2L).as("doc_id"),
      regexp_replace(col("text"), "e", "e\u0301").as("text"))
    val corpus = base.unionByName(twin)
    // decomposed combining marks change every 'e'-word, so raw shingle
    // hashing sees two unrelated docs...
    assert(Dedup.minhashPairsPortable(corpus, threshold = 0.5).isEmpty)
    // ...while the normalized pipeline folds them to an exact pair
    val normed = Dedup.minhashPairsPortable(
      corpus.select(col("doc_id"),
        TextOps.stripAccents(col("text")).as("text")),
      threshold = 0.5).collect()
    assert(normed.length === 1)
    assert((normed(0).getLong(0), normed(0).getLong(1), normed(0).getDouble(2))
      === ((1L, 2L, 1.0)))
  }

  // --- edit-distance near-dup (deletion-neighborhood blocking) ---

  /** Shared brute-force Levenshtein oracle for the edit-distance specs. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0 }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Seeded dense random corpus: alphabet {a,b,c}, length <= 8 — small
    * space, so thousands of within-distance pairs incl. duplicates. */
  private def randomTitles(seed: Long, n: Int): Seq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    (1L to n.toLong).map { i =>
      (i, Vector.fill(rnd.nextInt(9))("abc"(rnd.nextInt(3))).mkString)
    }
  }

  test("editDistancePairs finds every lev<=1 pair of a brute-force sweep") {
    // short-title corpus: exact dup, substitution, deletion, insertion,
    // distance-2 pair, and unrelated strings
    val titles = Seq(
      (1L, "spark engine"), (2L, "spark engine"),     // dist 0
      (3L, "spark enginz"),                           // dist 1 (sub of 1)
      (4L, "spark engin"),                            // dist 1 (del of 1)
      (5L, "sparkk engine"),                          // dist 1 (ins of 1)
      (6L, "spark enzinz"),                           // dist 2 from 1, 1 from 3
      (7L, "flink runtime"), (8L, "")
    ).toDF("doc_id", "title")
    val got = Dedup.editDistancePairs(titles, textCol = "title").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // brute force over the same corpus
    val rows = titles.collect().map(r => r.getLong(0) -> r.getString(1))
    val want = (for {
      (ia, ta) <- rows; (ib, tb) <- rows if ia < ib && lev(ta, tb) <= 1
    } yield (ia, ib) -> lev(ta, tb).toLong).toMap
    assert(got === want, s"got=$got want=$want")
    // the planted structure is actually exercised
    assert(want((1L, 2L)) === 0L && want((1L, 3L)) === 1L &&
      want((1L, 4L)) === 1L && want((1L, 5L)) === 1L && want((3L, 6L)) === 1L)
    assert(!want.contains((1L, 6L)), "distance-2 pair must be absent at d=1")
  }

  test("deletion-neighborhood pigeonhole: random corpus == brute force at d=1 and d=2") {
    // randomized equivalence over a dense space: 300 strings, alphabet
    // {a,b,c}, length <= 8 — thousands of within-distance pairs incl.
    // duplicates, so every edit kind and the dist-0 megabuckets are hit.
    // Fixed seed keeps the trial reproducible
    val strs = randomTitles(seed = 42, n = 300)
    val df = strs.toDF("doc_id", "title")
    for (maxD <- Seq(1, 2)) {
      val got = Dedup.editDistancePairs(df, textCol = "title", maxDist = maxD)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val want = (for {
        (ia, ta) <- strs; (ib, tb) <- strs
        if ia < ib && lev(ta, tb) <= maxD
      } yield (ia, ib) -> lev(ta, tb).toLong).toMap
      assert(got.size === want.size, s"d=$maxD: ${got.size} vs ${want.size}")
      assert(got === want, s"d=$maxD mismatch")
    }
  }

  test("incremental edit-distance pairs == full pairs minus old-old, random corpus") {
    // same dense random space as the pigeonhole pin, split 2:1 into an
    // existing corpus and a new batch — the incremental contract is
    // SET EQUALITY: full-corpus pairs touching the batch, nothing else,
    // no duplicates from the two orientations of a new-new pair
    val strs = randomTitles(seed = 7, n = 240)
    val df = strs.toDF("doc_id", "title")
    val old = df.filter($"doc_id" % 3 =!= 0)
    val neu = df.filter($"doc_id" % 3 === 0)
    def pset(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val incRows = Dedup.editDistancePairsIncremental(old, neu, textCol = "title")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(incRows.length === incRows.distinct.length, "duplicate pair rows")
    val full = pset(Dedup.editDistancePairs(df, textCol = "title"))
    val oldOld = pset(Dedup.editDistancePairs(old, textCol = "title"))
    assert(incRows.toSet === (full -- oldOld))
    assert(incRows.nonEmpty, "scenario guard: the batch must actually pair")
  }

  test("edit-distance pairs on an empty corpus short-circuit to empty") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "title")
    assert(Dedup.editDistancePairs(empty, textCol = "title").isEmpty)
    assert(Dedup.editBucketDrops(empty, textCol = "title",
      maxBucketMembers = 4).head().getLong(0) === 0L)
    // empty NEW batch against a non-empty corpus: nothing to pair
    val corpus = Seq((1L, "spark engine")).toDF("doc_id", "title")
    assert(Dedup.editDistancePairsIncremental(corpus, empty,
      textCol = "title").isEmpty)
  }

  test("editDistancePairs d=2 reaches the distance-2 pair; cap + drops observable") {
    val titles = Seq(
      (1L, "spark engine"), (6L, "spark enzinz"), (7L, "flink runtime")
    ).toDF("doc_id", "title")
    val d2 = Dedup.editDistancePairs(titles, textCol = "title", maxDist = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(d2 === Map((1L, 6L) -> 2L))
    // verbatim-duplicated titles: capped bucket emits C(cap,2) pairs and
    // the drop counter sees every eviction across the variant buckets
    val dup = (1L to 10L).map(i => (i, "same title")).toDF("doc_id", "title")
    val capped = Dedup.editDistancePairs(dup, textCol = "title",
      maxBucketMembers = 4)
    assert(capped.count() === 6L) // C(4,2)
    val drops = Dedup.editBucketDrops(dup, textCol = "title",
      maxBucketMembers = 4).head().getLong(0)
    // "same title" has no adjacent equal chars, so all length+1 variants
    // are distinct; every variant bucket holds all 10 docs, 6 evicted each
    assert(drops === ("same title".length + 1).toLong * 6L)
  }
}
