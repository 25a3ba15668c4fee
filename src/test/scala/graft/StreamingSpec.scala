package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.EventOps
import graft.sources.Tables
import graft.streaming.EventStream

class StreamingSpec extends SparkSuite {

  test("streaming hourly counts match the batch aggregate") {
    val q = EventStream.runToMemory(
      EventStream.hourlyCounts(EventStream.readEvents(spark, sfDir)), "hourly_out")
    try {
      val streamed = spark.table("hourly_out")
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = EventOps.hourlyAgg(Tables.events(spark, sfDir))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(streamed === batch)
    } finally q.stop()
  }

  test("streaming LSH near-dup candidates equal the batch candidate stage, any batch split") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.operators.Dedup
    import graft.streaming.DedupStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text").limit(200)
    val withDupes = docs.unionByName(docs.filter(col("doc_id") % 10 === 0)
      .select((col("doc_id") + 10000000L).as("doc_id"),
        concat(col("text"), lit(" extra tail words")).as("text")))
    val rows = withDupes.collect().map(r => (r.getLong(0), r.getString(1)))
    val batchCands = Dedup.minhashCandidates(withDupes)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batchCands.nonEmpty, "fixture must yield candidate pairs")

    // split mid-corpus so planted dup pairs straddle the batch boundary
    val (b1, b2) = rows.splitAt(rows.length / 2)
    val input = MemoryStream[(Long, String)]
    val stream = DedupStream.nearDupCandidatesStream(
      input.toDF().toDF("doc_id", "text"))
    // default trigger (not AvailableNow): data arrives AFTER start
    val q = stream.toDF().writeStream.outputMode("append")
      .format("memory").queryName("neardup_out").start()
    try {
      input.addData(b1.toSeq)
      q.processAllAvailable()
      input.addData(b2.toSeq)
      q.processAllAvailable()
      val streamed = spark.table("neardup_out").collect()
      val streamedPairs = streamed.map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamedPairs === batchCands,
        s"stream=${streamedPairs.size} batch=${batchCands.size} " +
        s"missed=${(batchCands -- streamedPairs).size} extra=${(streamedPairs -- batchCands).size}")
      // the signature-agreement estimate must match a batch recompute
      val sigOf = Dedup.minhashSignatures(withDupes, "doc_id", "text", 3, 32)
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
      streamed.foreach { r =>
        val (a, b, est) = (r.getLong(0), r.getLong(1), r.getDouble(2))
        val (sa, sb) = (sigOf(a), sigOf(b))
        val expected = math.rint(
          sa.zip(sb).count { case (x, y) => x == y }.toDouble / sa.length * 10000) / 10000
        assert(est === expected, s"pair ($a,$b): est $est != $expected")
      }
    } finally q.stop()
  }

  test("bucket cap: pairs within the horizon still emit, evictions are observable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DedupStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // three IDENTICAL texts share every band bucket; cap 1 keeps only the
    // most recent member per bucket, so d3 pairs with d2 (in-horizon) but
    // the d1-d3 pair is beyond the horizon by construction
    val text = "alpha beta gamma delta epsilon zeta"
    val acc = spark.sparkContext.longAccumulator("dedup_stream_dropped")
    val input = MemoryStream[(Long, String)]
    val q = DedupStream.nearDupCandidatesStream(
        input.toDF().toDF("doc_id", "text"),
        maxMembersPerBucket = 1, droppedAcc = Some(acc))
      .toDF().writeStream.outputMode("append")
      .format("memory").queryName("neardup_capped").start()
    try {
      input.addData((1L, text)); q.processAllAvailable()
      input.addData((2L, text)); q.processAllAvailable()
      input.addData((3L, text)); q.processAllAvailable()
      val pairs = spark.table("neardup_capped")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(pairs === Set((1L, 2L), (2L, 3L)),
        s"in-horizon pairs must emit, beyond-horizon must not: $pairs")
      // overflow is observable: every band bucket evicted once per
      // over-cap arrival (d2 evicts d1, d3 evicts d2 — 2 x 16 bands)
      assert(acc.value === 32L, s"dropped=${acc.value}")
    } finally q.stop()
  }

  test("processing-time TTL: beyond-horizon members expire, drops are observable") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DedupStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    // identical texts share every band bucket; d1 arrives, then the
    // stream idles past the TTL — d2 must NOT pair with the expired d1
    // (whether the sweep caught it on touch or the idle-bucket timeout
    // reclaimed the state first), while d3 in the same horizon as d2
    // still pairs. Processing-time timeouts make the engine re-trigger
    // batches continuously, so processAllAvailable never observes
    // quiescence (it hangs — measured): the harness bounds the churn
    // with a real trigger interval and POLLS progress/sink instead.
    // Wide margins: TTL 1s, idle 3.5s, trigger 250ms.
    val text = "alpha beta gamma delta epsilon zeta"
    val acc = spark.sparkContext.longAccumulator("dedup_stream_ttl_dropped")
    val input = MemoryStream[(Long, String)]
    val q = DedupStream.nearDupCandidatesStream(
        input.toDF().toDF("doc_id", "text"),
        ttlMs = 1000L, droppedAcc = Some(acc))
      .toDF().writeStream.outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("250 milliseconds"))
      .format("memory").queryName("neardup_ttl").start()
    def awaitInputTotal(n: Long): Unit = {
      val deadline = System.currentTimeMillis() + 60000
      while (q.recentProgress.map(_.numInputRows).sum < n) {
        assert(System.currentTimeMillis() < deadline,
          s"timed out waiting for $n input rows " +
          s"(got ${q.recentProgress.map(_.numInputRows).sum})")
        Thread.sleep(100)
      }
    }
    try {
      input.addData((1L, text)); awaitInputTotal(1)
      Thread.sleep(3500) // idle past the TTL: d1's horizon expires
      input.addData((2L, text)); awaitInputTotal(2)
      input.addData((3L, text)); awaitInputTotal(3)
      // the in-horizon pair lands within a few triggers
      val deadline = System.currentTimeMillis() + 60000
      def pairs() = spark.table("neardup_ttl")
        .select("id_a", "id_b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      while (!pairs().contains((2L, 3L)) &&
             System.currentTimeMillis() < deadline) Thread.sleep(100)
      val p = pairs()
      assert(!p.contains((1L, 2L)) && !p.contains((1L, 3L)),
        s"beyond-horizon member must not pair: $p")
      assert(p.contains((2L, 3L)), s"in-horizon pair must emit: $p")
      // d1 occupied 16 band buckets; each eviction (sweep or timeout) is
      // one observable drop
      assert(acc.value >= 16L, s"dropped=${acc.value}")
    } finally q.stop()
  }

  test("foreachBatch upsert builds a last-wins corpus from the stream") {
    val out = tempDir("graft_upsert") + "/corpus"
    val q = EventStream.upsertEachBatch(
      EventStream.readEvents(spark, sfDir).select("event_id", "event_type"), out)
    q.awaitTermination()
    val corpus = spark.read.parquet(out)
    val expected = Tables.events(spark, sfDir).select("event_id").distinct().count()
    assert(corpus.count() === expected)
    assert(corpus.select("event_id").distinct().count() === expected)
  }

  test("partitioned streaming upsert matches the flat one and rewrites only touched buckets") {
    val out = tempDir("graft_upsert_part") + "/corpus"
    val events = EventStream.readEvents(spark, sfDir).select("event_id", "event_type")
    EventStream.upsertEachBatchPartitioned(events, out, nBuckets = 8).awaitTermination()
    val expected = Tables.events(spark, sfDir).select("event_id").distinct().count()
    assert(spark.read.parquet(out).count() === expected)

    // second run: a stream carrying ONE id — record per-bucket mtimes first
    import scala.jdk.CollectionConverters._
    def bucketMtimes: Map[String, Long] =
      Files.list(java.nio.file.Paths.get(out)).iterator().asScala
        .filter(_.getFileName.toString.startsWith("__bkt="))
        .map { d =>
          d.getFileName.toString ->
            Files.list(d).iterator().asScala.map(f => Files.getLastModifiedTime(f).toMillis)
              .foldLeft(0L)(math.max)
        }.toMap
    val before = bucketMtimes
    val oneDir = tempDir("graft_one") + "/one"
    Tables.events(spark, sfDir).select("event_id", "event_type").limit(1)
      .coalesce(1).write.parquet(oneDir)
    val oneStream = spark.readStream
      .schema("event_id LONG, event_type STRING").parquet(oneDir)
    EventStream.upsertEachBatchPartitioned(oneStream, out, nBuckets = 8).awaitTermination()
    assert(spark.read.parquet(out).count() === expected) // still last-wins by id
    val changed = bucketMtimes.filter { case (k, t) => before.get(k).exists(_ < t) }.keySet
    assert(changed.size === 1, s"expected exactly one rewritten bucket, got $changed")
  }

  test("streaming dedup keeps one row per id across duplicated input files") {
    val dir = tempDir("graft_sdedup") + "/in"
    val ev = Tables.events(spark, sfDir).select("event_id", "ts", "event_type")
    ev.write.mode("append").parquet(dir)
    ev.write.mode("append").parquet(dir) // every id arrives (at least) twice
    val stream = spark.readStream
      .schema("event_id LONG, ts TIMESTAMP, event_type STRING").parquet(dir)
    val q = EventStream.runToMemory(
      EventStream.dedupedStream(stream).select("event_id"), "dedup_out",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val got = spark.table("dedup_out").count()
      assert(got === ev.select("event_id").distinct().count())
    } finally q.stop()
  }

  test("stream-stream interval self-join matches the batch range join") {
    val stream = EventStream.readEvents(spark, sfDir)
    val q = EventStream.runToMemory(
      EventStream.joinRecentPriors(stream), "recent_priors",
      org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("recent_priors").count()
      val ev = Tables.events(spark, sfDir).select("user_id", "ts", "event_type")
      val batch = ev.alias("a").join(
          ev.select(col("user_id").as("p_user"), col("ts").as("prior_ts")),
          col("user_id") === col("p_user") &&
            col("prior_ts") >= col("ts") - expr("INTERVAL 30 minutes") &&
            col("prior_ts") < col("ts"))
        .count()
      assert(streamed === batch && streamed > 0)
    } finally q.stop()
  }

  test("streaming ingest feeds the served ANN index (incremental /index -> /search)") {
    // the reference's lifecycle: vectors arrive incrementally (/index,
    // executor.py:127-168), the persisted index serves /search without a
    // rebuild. Streaming rendition: foreachBatch cell-assigns new rows
    // with the STORED centroid model and appends only their cell dirs.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.DataFrame
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir)
    val path = tempDir("graft_stream_ivf") + "/index"
    graft.operators.KnnIvf.save(graft.operators.KnnIvf.build(emb, numCells = 8), path)

    // stream in an exact copy of vector 0 under a fresh id
    val v0 = emb.filter(col("vec_id") === 0).select("embedding")
      .head().getSeq[Float](0)
    val input = MemoryStream[(Long, Seq[Float], Int)]
    val q = graft.streaming.IndexStream.indexEachBatch(
      input.toDF().toDF("vec_id", "embedding", "label"), path,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData((9999999L, v0, -1))
      q.processAllAvailable()
    } finally q.stop()

    val loaded = graft.operators.KnnIvf.load(spark, path)
    val queries = Seq((0L, v0)).toDF("query_id", "query_vec")
    val top = graft.operators.KnnIvf.searchPruned(loaded, queries, k = 2, nProbe = 2)
      .select("match_id").collect().map(_.getLong(0)).toSet
    assert(top === Set(0L, 9999999L), s"served matches: $top")
  }

  test("stream-built IVF index equals the single-call batch-append twin, any batch split") {
    // cell assignment is a pure per-row function of the FIXED stored
    // model, so the index a stream builds must be row-for-row the index
    // one batch append builds from the same rows — the stream==batch
    // contract the dedup stream carries, here for index ingest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 =!= 0)
    val root = tempDir("graft_stream_twin")
    val idx = graft.operators.KnnIvf.build(base, numCells = 4)
    graft.operators.KnnIvf.save(idx, s"$root/streamed")
    graft.operators.KnnIvf.save(idx, s"$root/batched")
    graft.operators.KnnIvf.appendTo(spark, s"$root/batched", delta)
    val rows = delta.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 3) // deliberately uneven split
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexStream.indexEachBatch(
      input.toDF().toDF("vec_id", "embedding"), s"$root/streamed",
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    def cells(p: String) = graft.operators.KnnIvf.load(spark, p)
      .corpusWithCell.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSet
    val s1 = cells(s"$root/streamed"); val s2 = cells(s"$root/batched")
    assert(s1 === s2, "streamed (vec_id, cell) set must equal batch twin")
    assert(s1.size === emb.count(), "no row lost or duplicated")
  }

  test("stream-built NSW graph is row-for-row identical to the batch-append twin") {
    // stronger than the IVF twin contract: per-shard build determinism
    // means ANY batch split yields the same local indices and adjacency,
    // not just the same served results
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val emb = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val base = emb.filter(col("vec_id") % 2 === 0)
    val delta = emb.filter(col("vec_id") % 2 =!= 0)
    val root = tempDir("graft_gstream_twin")
    val g = graft.operators.KnnHnsw.build(base, numShards = 3).localCheckpoint(true)
    graft.operators.KnnHnsw.save(g, s"$root/streamed")
    graft.operators.KnnHnsw.save(g, s"$root/batched")
    graft.operators.KnnHnsw.appendTo(spark, s"$root/batched", delta, numShards = 3)
    val rows = delta.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val (b1, b2) = rows.splitAt(rows.length / 3) // deliberately uneven split
    val input = MemoryStream[(Long, Array[Float])]
    val q = graft.streaming.IndexStream.indexEachBatchGraph(
      input.toDF().toDF("vec_id", "embedding"), s"$root/streamed", numShards = 3,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
    try {
      input.addData(b1.toSeq); q.processAllAvailable()
      input.addData(b2.toSeq); q.processAllAvailable()
    } finally q.stop()
    def frame(p: String) = graft.operators.KnnHnsw.load(spark, p)
      .select("shard", "local_idx", "vec_id", "neighbor_idx").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getSeq[Int](3).toList))
      .toSet
    val s1 = frame(s"$root/streamed"); val s2 = frame(s"$root/batched")
    assert(s1 === s2, "streamed graph must be structurally identical to batch twin")
    assert(s1.size === emb.count(), "no row lost or duplicated")
  }

  test("event-time-timeout sessionization emits exactly the gap sessions") {
    // Spark 4.1 moved MemoryStream under execution.streaming.runtime
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import java.sql.Timestamp
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val t0 = 1704067200L // 2024-01-01 00:00:00 UTC, epoch seconds
    def ts(s: Long) = new Timestamp(s * 1000L)
    val input = MemoryStream[(Long, Timestamp)]
    val sessions = EventStream.sessionizeStream(
      input.toDF().toDF("user_id", "ts"), gapSeconds = 1800)
    val q = sessions.toDF().writeStream.format("memory")
      .queryName("sess_out").outputMode("append").start()
    try {
      // user 1: two sessions (10s pair, then a lone event past the gap);
      // user 2: one single-event session
      input.addData((1L, ts(t0)), (1L, ts(t0 + 10)), (1L, ts(t0 + 5000)),
        (2L, ts(t0 + 100)))
      q.processAllAvailable()
      // sentinel far in the future: watermark (2h lag) passes every
      // session end + gap, firing all event-time timeouts
      input.addData((99L, ts(t0 + 1000000)))
      q.processAllAvailable()
      val got = spark.table("sess_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      val want = Set(
        (1L, t0, t0 + 10, 2L),
        (1L, t0 + 5000, t0 + 5000, 1L),
        (2L, t0 + 100, t0 + 100, 1L))
      assert(got === want, s"got $got")
    } finally q.stop()
  }

  test("stream-static enrichment joins every micro-batch against a batch dim") {
    import spark.implicits._
    val dim = Seq(("click", 1.0), ("view", 0.5), ("purchase", 10.0),
      ("signup", 5.0), ("error", 0.0)).toDF("event_type", "weight")
    val q = EventStream.runToMemory(
      EventStream.enrichWithDim(
        EventStream.readEvents(spark, sfDir).select("event_id", "event_type"), dim),
      "enriched_out", org.apache.spark.sql.streaming.OutputMode.Append())
    try {
      val streamed = spark.table("enriched_out")
      val batch = Tables.events(spark, sfDir).select("event_id", "event_type")
        .join(dim, "event_type")
      assert(streamed.count() === batch.count())
      val got = streamed.agg(sum(col("weight"))).head().getDouble(0)
      val want = batch.agg(sum(col("weight"))).head().getDouble(0)
      assert(math.abs(got - want) < 1e-6)
    } finally q.stop()
  }

  test("mapGroupsWithState running counts cover every user") {
    val q = EventStream.runToMemory(
      EventStream.runningUserCounts(EventStream.readEvents(spark, sfDir)), "user_counts",
      org.apache.spark.sql.streaming.OutputMode.Update())
    try {
      val got = spark.table("user_counts")
        .groupBy(col("user_id")).agg(max(col("n_events")).as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val want = Tables.events(spark, sfDir).groupBy(col("user_id")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === want)
    } finally q.stop()
  }
}
