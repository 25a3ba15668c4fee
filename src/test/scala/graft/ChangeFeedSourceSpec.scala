package graft


import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Versioned

/** The versioned table's change feed as a Structured Streaming source
  * (`format("graft-changes")`): offsets are version numbers, batches
  * are feed ranges, recovery comes from the engine's checkpoint. */
class ChangeFeedSourceSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_cfs_spec")

  private def docs(n: Int = 60) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"lang${i % 3}", (i * 3).toLong))
      .toDF("doc_id", "lang", "n_chars").repartition(4)
  }

  private def assertSameContent(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).unionAll(b.exceptAll(a)).count() === 0, hint)

  test("streamed feed == batch feed, one commit per micro-batch") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0 (baseline — no change rows)
    Versioned.upsert(Seq((5L, "xx", 999L), (1000L, "nw", 1L))
      .toDF("doc_id", "lang", "n_chars"), t, "doc_id") // v1: 1 update + 1 insert
    Versioned.deleteIds(Seq(Tuple1(7L)).toDF("doc_id"), t, "doc_id") // v2: 1 delete (COW)
    Versioned.deleteIdsMergeOnRead(Seq(Tuple1(11L)).toDF("doc_id"),
      t, "doc_id") // v3: 1 delete (DV)

    val seen = mutable.ArrayBuffer.empty[(Long, Set[Int], Long)] // (batchId, versions, rows)
    val stream = spark.readStream.format("graft-changes")
      .option("tableDir", t).option("idColumn", "doc_id")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerBatch", "1")
      .load()
    val q = stream.writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val vs = batch.select("version").distinct()
          .collect().map(_.getInt(0)).toSet
        seen.synchronized {
          seen += ((id, vs, batch.count())): Unit
        }
      }
      .start()
    try {
      q.processAllAvailable()
      // a commit landing WHILE the stream runs arrives in a later batch
      Versioned.append(Seq((2000L, "ap", 2L)).toDF("doc_id", "lang", "n_chars")
        .repartition(1), t) // v4: 1 insert
      q.processAllAvailable()
    } finally q.stop()

    val nonEmpty = seen.synchronized(seen.filter(_._3 > 0).toVector)
    // maxVersionsPerBatch=1 => each commit's changes rode alone
    assert(nonEmpty.forall(_._2.size == 1),
      s"admission control must cap each batch at one version: $nonEmpty")
    assert(nonEmpty.flatMap(_._2).sorted === Vector(1, 2, 3, 4),
      s"every committed version must stream exactly once: $nonEmpty")
    assert(nonEmpty.map(_._3).sum ===
      Versioned.changeFeed(spark, t, 0, 4, "doc_id").count(),
      "streamed row total must equal the batch feed over the same range")
  }

  test("startingVersion=latest streams only post-start commits; memory sink content matches the feed") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    Versioned.upsert(Seq((3L, "old", 1L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v1: history the stream must NOT see
    val startV = Versioned.versions(spark, t).max

    val stream = spark.readStream.format("graft-changes")
      .option("tableDir", t).option("idColumn", "doc_id")
      .load() // default startingVersion=latest
    val q = stream.writeStream.format("memory").queryName("cfs_latest")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cfs_latest").count() === 0,
        "latest must not replay pre-start history")
      Versioned.upsert(Seq((9L, "nx", 77L), (5000L, "nw", 5L))
        .toDF("doc_id", "lang", "n_chars"), t, "doc_id") // v2
      Versioned.deleteIds(Seq(Tuple1(21L)).toDF("doc_id"), t, "doc_id") // v3
      q.processAllAvailable()
    } finally q.stop()

    assertSameContent(spark.table("cfs_latest"),
      Versioned.changeFeed(spark, t, startV, startV + 2, "doc_id"),
      "the streamed rows must be exactly the post-start feed")
  }

  test("checkpoint restart: no redelivery, downtime commits are picked up, explicit startingVersion honored fresh") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    Versioned.upsert(Seq((2L, "a1", 10L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v1
    Versioned.upsert(Seq((4L, "a2", 20L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v2

    val seen = mutable.ArrayBuffer.empty[Int]
    def run(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("tableDir", t).option("idColumn", "doc_id")
        .option("startingVersion", "2") // changes OF v2 and later
        .load()
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val vs = batch.select("version").distinct().collect().map(_.getInt(0))
          seen.synchronized { seen ++= vs: Unit }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    run() // fresh: must serve exactly v2 (not v1 — startingVersion=2)
    assert(seen.synchronized(seen.sorted.toVector) === Vector(2),
      s"fresh start must begin at startingVersion, got $seen")

    // commits landing while the stream is DOWN
    Versioned.upsert(Seq((6L, "a3", 30L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v3
    Versioned.deleteIds(Seq(Tuple1(8L)).toDF("doc_id"), t, "doc_id") // v4

    run() // restart: picks up v3+v4, never redelivers v2
    assert(seen.synchronized(seen.sorted.toVector) === Vector(2, 3, 4),
      s"restart must resume from the checkpoint exactly once, got $seen")
  }

  test("history behind a rename streams under the anchor's post-rename schema") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    Versioned.upsert(Seq((5L, "pre", 50L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v1: committed under the OLD column name
    Versioned.renameColumn(spark, t, "n_chars", "len") // v2
    Versioned.append(Seq((8000L, "post", 8L)).toDF("doc_id", "lang", "len")
      .repartition(1), t) // v3

    val stream = spark.readStream.format("graft-changes")
      .option("tableDir", t).option("idColumn", "doc_id")
      .option("startingVersion", "earliest")
      .option("maxVersionsPerBatch", "1") // v1's batch ENDS below the rename
      .load()
    assert(stream.schema.fieldNames.contains("len_new") &&
      !stream.schema.fieldNames.contains("n_chars_new"),
      "the stream speaks the anchor (latest) schema")
    val q = stream.writeStream.format("memory").queryName("cfs_rename")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("cfs_rename")
    val v1 = out.filter(col("version") === 1).collect()
    assert(v1.length === 1 && v1.head.getAs[Long]("len_new") === 50L,
      "the pre-rename commit's change must surface under the NEW name")
    assert(out.filter(col("version") === 3).count() === 1,
      "the post-rename commit streams too")
  }

  test("restart with DEFAULT startingVersion=latest continues from the checkpoint, never a re-anchored latest") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    Versioned.upsert(Seq((1L, "pre", 1L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v1: pre-start history (must never stream)

    val seen = mutable.ArrayBuffer.empty[Int]
    def run(): Unit = {
      val q = spark.readStream.format("graft-changes")
        .option("tableDir", t).option("idColumn", "doc_id")
        .load() // DEFAULT startingVersion=latest
        .writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val vs = batch.select("version").distinct().collect().map(_.getInt(0))
          seen.synchronized { seen ++= vs: Unit }
        }
        .start()
      try {
        q.processAllAvailable()
        // one live commit so the first run checkpoints a real position
        if (seen.synchronized(seen.isEmpty)) {
          Versioned.upsert(Seq((2L, "live", 2L)).toDF("doc_id", "lang", "n_chars"),
            t, "doc_id") // v2
          q.processAllAvailable()
        }
      } finally q.stop()
    }

    run()
    assert(seen.synchronized(seen.sorted.toVector) === Vector(2),
      s"first run sees only the post-start commit, got $seen")

    // commits landing while the stream is DOWN: a restarted 'latest'
    // stream must serve them from its checkpoint, not re-anchor past
    // them (the re-anchored startVersion is 4 here; the checkpoint
    // says 2 — the checkpoint wins)
    Versioned.upsert(Seq((3L, "down1", 3L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v3
    Versioned.deleteIds(Seq(Tuple1(4L)).toDF("doc_id"), t, "doc_id") // v4

    run()
    assert(seen.synchronized(seen.sorted.toVector) === Vector(2, 3, 4),
      s"downtime commits stream exactly once after restart, got $seen")
  }

  test("a cdf-materialized table streams: materialized steps serve the grouped column order") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0 — two value columns, so order matters
    Versioned.setChangeFiles(spark, t, enabled = true) // v1 (metadata)
    Versioned.upsert(Seq((5L, "mu", 555L), (9000L, "mi", 9L))
      .toDF("doc_id", "lang", "n_chars"), t, "doc_id") // v2: MATERIALIZES
    assert(new java.io.File(s"$t/_changes/v00002").exists(),
      "fixture must exercise the materialized fast path")

    val q = spark.readStream.format("graft-changes")
      .option("tableDir", t).option("idColumn", "doc_id")
      .option("startingVersion", "earliest")
      .load()
      .writeStream.format("memory").queryName("cfs_mat").outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .start()
    try q.processAllAvailable() finally q.stop()

    val out = spark.table("cfs_mat")
    assertSameContent(out, Versioned.changeFeed(spark, t, 0,
      Versioned.versions(spark, t).max, "doc_id"),
      "materialized steps must stream value-correct (grouped _old/_new order)")
    val up = out.filter(col("doc_id") === 5L).head()
    assert(up.getAs[String]("lang_new") === "mu" &&
      up.getAs[Long]("n_chars_new") === 555L,
      "values must land in their own columns, never transposed")
  }

  test("endingVersion bounds a backfill; Trigger.AvailableNow drains the window and terminates") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    (1 to 4).foreach { i =>
      Versioned.upsert(Seq((i.toLong, s"b$i", i.toLong))
        .toDF("doc_id", "lang", "n_chars"), t, "doc_id") // v1..v4
    }

    val q = spark.readStream.format("graft-changes")
      .option("tableDir", t).option("idColumn", "doc_id")
      .option("startingVersion", "earliest")
      .option("endingVersion", "2")
      .option("maxVersionsPerBatch", "1")
      .load()
      .writeStream.format("memory").queryName("cfs_backfill")
      .outputMode("append")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(60000),
      "an AvailableNow backfill must drain its bounded window and stop")

    val got = spark.table("cfs_backfill")
      .select("version").distinct().collect().map(_.getInt(0)).toSet
    assert(got === Set(1, 2),
      s"the backfill serves exactly the (start, ending] window, got $got")

    // the window is validated: an empty one refuses at plan time
    val empty = intercept[Exception] {
      spark.readStream.format("graft-changes")
        .option("tableDir", t).option("idColumn", "doc_id")
        .option("startingVersion", "3").option("endingVersion", "2")
        .load()
        .writeStream.format("memory").queryName("cfs_backfill_bad")
        .option("checkpointLocation", s"$root/ckpt2")
        .start()
        .processAllAvailable()
    }
    def all(e: Throwable): Seq[Throwable] =
      Option(e).toSeq.flatMap(x => x +: all(x.getCause))
    assert(all(empty).exists(x =>
      Option(x.getMessage).exists(_.contains("bounded window is empty"))),
      s"expected the empty-window refusal, got: ${empty.getMessage}")
  }

  test("a stream starting before the vacuum horizon refuses typed, like any pinned read") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    (1 to 3).foreach { i =>
      Versioned.upsert(Seq((i.toLong, s"u$i", i.toLong))
        .toDF("doc_id", "lang", "n_chars"), t, "doc_id") // v1..v3
    }
    Versioned.vacuum(spark, t, keepVersions = 1) // only v3 retained

    val q = spark.readStream.format("graft-changes")
      .option("tableDir", t).option("idColumn", "doc_id")
      .option("startingVersion", "earliest")
      .load()
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    try {
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def all(e: Throwable): Seq[Throwable] =
        Option(e).toSeq.flatMap(x => x +: all(x.getCause))
      assert(all(err).exists(_.isInstanceOf[Versioned.VersionRetentionException]),
        s"expected the typed retention error, got: ${err.getMessage}")
    } finally q.stop()
  }

  test("mid-stream schema evolution refuses typed; options are validated") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t)

    // missing required options fail fast at plan time
    val miss = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-changes").load()
    }
    assert(miss.getMessage.contains("tableDir"))

    val q = spark.readStream.format("graft-changes")
      .option("tableDir", t).option("idColumn", "doc_id")
      .load()
      .writeStream
      .option("checkpointLocation", s"$root/ckpt")
      .foreachBatch((_: DataFrame, _: Long) => ())
      .start()
    try {
      q.processAllAvailable()
      // a rename commits mid-stream: the NEXT batch must refuse typed,
      // not serve rows under a silently shifted shape
      Versioned.renameColumn(spark, t, "n_chars", "len")
      Versioned.append(Seq((7000L, "rn", 1L)).toDF("doc_id", "lang", "len")
        .repartition(1), t)
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      assert(err.getMessage.contains("schema drift") ||
        Option(err.getCause).exists(_.getMessage.contains("schema drift")),
        s"expected the typed drift refusal, got: ${err.getMessage}")
    } finally q.stop()
  }

  test("startingTimestamp anchors the stream at the first commit stamped at-or-after t") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    Versioned.upsert(Seq((1L, "a", 1L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v1
    Thread.sleep(5)
    val probe = System.currentTimeMillis() // strictly between v1 and v2 stamps
    Thread.sleep(5)
    Versioned.upsert(Seq((2L, "b", 2L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v2
    Versioned.upsert(Seq((3L, "c", 3L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v3

    def streamedVersions(opts: (String, String)*): Set[Int] = {
      val seen = mutable.ArrayBuffer.empty[Int]
      val base = spark.readStream.format("graft-changes")
        .option("tableDir", t).option("idColumn", "doc_id")
      val q = opts.foldLeft(base) { case (acc, (k, v)) => acc.option(k, v) }
        .load()
        .writeStream
        .option("checkpointLocation",
          s"$root/ckpt_${java.util.UUID.randomUUID().toString.take(8)}")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val vs = batch.select("version").distinct().collect().map(_.getInt(0))
          seen.synchronized { seen ++= vs: Unit }
        }
        .start()
      try q.processAllAvailable() finally q.stop()
      seen.synchronized(seen.toSet)
    }

    assert(streamedVersions("startingTimestamp" -> probe.toString) === Set(2, 3),
      "a mid-history probe streams exactly the commits stamped after it")
    assert(streamedVersions("startingTimestamp" -> "0") === Set(1, 2, 3),
      "a probe before retained history streams everything retained")
    assert(streamedVersions(
        "startingTimestamp" -> (System.currentTimeMillis() + 60000L).toString)
      === Set.empty,
      "a future probe anchors at latest: only commits landing later stream")

    // endingTimestamp bounds the window by stamp: everything retained
    // up to the mid-history probe is exactly v1
    assert(streamedVersions("startingTimestamp" -> "0",
        "endingTimestamp" -> probe.toString) === Set(1),
      "an endingTimestamp ceiling drains only commits stamped <= t")

    val ex = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-changes")
        .option("tableDir", t).option("idColumn", "doc_id")
        .option("startingVersion", "earliest")
        .option("startingTimestamp", probe.toString)
        .load()
    }
    assert(ex.getMessage.contains("mutually exclusive"))
    val ex2 = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-changes")
        .option("tableDir", t).option("idColumn", "doc_id")
        .option("endingVersion", "2")
        .option("endingTimestamp", probe.toString)
        .load()
    }
    assert(ex2.getMessage.contains("mutually exclusive"))
  }

  test("crash recovery of the FIRST batch replays from the persisted initial base, not a re-resolved latest") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.LongOffset
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    Versioned.upsert(Seq((1L, "pre", 1L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v1: pre-start history (must never stream)

    val provider = new graft.streaming.ChangeFeedSourceProvider
    val metaPath = s"$root/ckpt/sources/0"
    val params = Map("tableDir" -> t, "idColumn" -> "doc_id") // default: latest
    // first start resolves latest=1 and must PERSIST it under the
    // engine-assigned metadataPath (the v1 initial-offset contract)
    provider.createSource(spark.sqlContext, metaPath, None,
      "graft-changes", params): Unit
    assert(new java.io.File(s"$metaPath/graft-initial-base").exists(),
      "first start must persist the resolved initial base")

    // the query dies after the offset-log write but before the first
    // commit; two commits land while it is down
    Versioned.upsert(Seq((3L, "down1", 3L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v2
    Versioned.upsert(Seq((4L, "down2", 4L)).toDF("doc_id", "lang", "n_chars"),
      t, "doc_id") // v3

    // restart: the engine replays batch 0 as getBatch(None, end) — the
    // recovered source must serve (1, 3], not re-anchor to latest=3
    // (which would silently skip v2+v3 or reverse the range)
    val recovered = provider.createSource(spark.sqlContext, metaPath, None,
      "graft-changes", params).asInstanceOf[graft.streaming.ChangeFeedSource]
    val batch = recovered.getBatch(None, LongOffset(3L))
    // getBatch hands back a STREAMING frame (the engine executes it
    // incrementally); outside the engine, lift its LogicalRDD rows back
    // into a batch frame to inspect them
    val lr = batch.queryExecution.logical
      .asInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    val replayed = org.apache.spark.sql.graft.StreamBridge.batchFrame(
      spark, batch.schema, lr.rdd)
    assert(replayed.select("version").distinct().collect()
      .map(_.getInt(0)).toSet === Set(2, 3),
      "the replayed first batch must carry exactly the downtime commits")
    assert(replayed.filter(col("doc_id").isin(3L, 4L)).count() === 2,
      "downtime rows must survive the crash-replay")
  }

  test("a commit landing between readStream.load() and query start refuses typed, not as an engine assertion") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t) // v0
    val provider = new graft.streaming.ChangeFeedSourceProvider
    val params = Map("tableDir" -> t, "idColumn" -> "doc_id")
    // the ENGINE-shaped call pair: DataSource resolves sourceSchema at
    // readStream.load() and createSource at query start through ONE
    // provider instance, passing createSource schema=None (this source
    // forbids a user schema, so the engine never captures one) — the
    // provider must remember its own load-time answer
    provider.sourceSchema(spark.sqlContext, None, "graft-changes", params): Unit
    // ...then a rename commits before the query starts
    Versioned.renameColumn(spark, t, "n_chars", "len")
    val ex = intercept[IllegalStateException] {
      provider.createSource(spark.sqlContext, s"$root/ckpt2/sources/0",
        None, "graft-changes", params)
    }
    assert(ex.getMessage.contains("schema drift"),
      s"expected the typed drift refusal, got: ${ex.getMessage}")
    // an unchanged table starts clean through the same instance pair
    val t2 = s"$root/t2"
    Versioned.init(docs(), t2)
    val p2 = Map("tableDir" -> t2, "idColumn" -> "doc_id")
    provider.sourceSchema(spark.sqlContext, None, "graft-changes", p2): Unit
    provider.createSource(spark.sqlContext, s"$root/ckpt3/sources/0",
      None, "graft-changes", p2): Unit
    // a direct caller passing an explicit captured schema is held to
    // the same bar (the pre-fix surface, kept honest)
    val t3 = s"$root/t3"
    Versioned.init(docs(), t3)
    val p3 = Map("tableDir" -> t3, "idColumn" -> "doc_id")
    val cap3 = (new graft.streaming.ChangeFeedSourceProvider)
      .sourceSchema(spark.sqlContext, None, "graft-changes", p3)._2
    Versioned.renameColumn(spark, t3, "n_chars", "len")
    val ex3 = intercept[IllegalStateException] {
      (new graft.streaming.ChangeFeedSourceProvider).createSource(
        spark.sqlContext, s"$root/ckpt4/sources/0",
        Some(cap3), "graft-changes", p3)
    }
    assert(ex3.getMessage.contains("schema drift"))
  }

  test("endingTimestamp refuses stream-specifically when t predates the first retained commit") {
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    Versioned.init(docs(), t)
    val firstStamp = Versioned.snapshot(spark, t, Some(0))
      .meta("committedAt").toLong
    // the ceiling resolves at query start (createSource), not load()
    val ex = intercept[IllegalArgumentException] {
      (new graft.streaming.ChangeFeedSourceProvider).createSource(
        spark.sqlContext, s"$root/ckpt/sources/0", None, "graft-changes",
        Map("tableDir" -> t, "idColumn" -> "doc_id",
          "startingVersion" -> "earliest",
          "endingTimestamp" -> (firstStamp - 60000L).toString))
    }
    assert(ex.getMessage.contains("predates the first retained commit"),
      s"expected the stream-specific pre-history refusal, got: ${ex.getMessage}")
  }
}
