package graft


import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Versioned
import graft.streaming.TableStream

/** `df.writeStream.format("graft-versioned")`: the versioned table as a
  * Structured Streaming SINK — one atomic commit per micro-batch under
  * the batch-id exactly-once guard. */
class VersionedSinkSpec extends SparkSuite {

  private def freshRoot(): String =
    tempDir("graft_vsink_spec")

  test("each micro-batch is one commit; checkpoint restart never redelivers") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"

    val input = MemoryStream[(Long, String, Long)]
    def start() = input.toDF().toDF("doc_id", "lang", "n_chars")
      .writeStream.format("graft-versioned")
      .option("tableDir", t)
      .option("checkpointLocation", s"$root/ckpt")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime(0))
      .start()

    val q = start()
    try {
      input.addData((1L, "a", 10L), (2L, "b", 20L))
      q.processAllAvailable()
      input.addData((3L, "c", 30L))
      q.processAllAvailable()
    } finally q.stop()

    assert(Versioned.versions(spark, t) === Seq(0, 1),
      "two row-bearing batches = init + one append")
    assert(Versioned.read(spark, t).count() === 3)

    // restart from the same checkpoint: the engine re-commits the last
    // batch's offsets — the replay guard must skip, then fresh data lands
    val q2 = start()
    try {
      q2.processAllAvailable()
      input.addData((4L, "d", 40L))
      q2.processAllAvailable()
    } finally q2.stop()

    assert(Versioned.read(spark, t).count() === 4,
      "restart must deliver new rows exactly once, no replays")
    assert(Versioned.read(spark, t).select("doc_id").as[Long].collect().sorted
      === Array(1L, 2L, 3L, 4L))
    // every commit after v0 carries the stream's batch-id stamp
    assert(Versioned.lastBatchId(spark, t, Some(TableStream.DefaultWriterId))
      .isDefined, "sink commits must be batch-id stamped")
  }

  test("statsColumn option keeps the manifest pruning layout on streamed commits") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("doc_id", "lang")
      .writeStream.format("graft-versioned")
      .option("tableDir", t)
      .option("checkpointLocation", s"$root/ckpt")
      .option("statsColumn", "doc_id")
      .start()
    try {
      input.addData((0 until 40).map(i => (i.toLong, s"l${i % 3}")): _*)
      q.processAllAvailable()
    } finally q.stop()
    val entries = Versioned.snapshot(spark, t).entries
    assert(entries.nonEmpty && entries.forall(_.stats.exists(_._1 == "doc_id")),
      "streamed files must carry doc_id min/max stats for manifest skipping")
    assert(Versioned.readRange(spark, t, None, "doc_id", 5L, 7L)
      .count() === 3)
  }

  test("non-append output modes and partitionBy refuse typed") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = freshRoot()
    val input = MemoryStream[(Long, String)]
    val agg = input.toDF().toDF("doc_id", "lang")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val modeEx = intercept[IllegalArgumentException] {
      agg.writeStream.format("graft-versioned")
        .option("tableDir", s"$root/t1")
        .option("checkpointLocation", s"$root/ckpt1")
        .outputMode("complete")
        .start()
    }
    assert(modeEx.getMessage.contains("Append only"),
      s"complete mode must refuse typed, got: ${modeEx.getMessage}")

    val partEx = intercept[IllegalArgumentException] {
      input.toDF().toDF("doc_id", "lang")
        .writeStream.format("graft-versioned")
        .option("tableDir", s"$root/t2")
        .option("checkpointLocation", s"$root/ckpt2")
        .partitionBy("lang")
        .start()
    }
    assert(partEx.getMessage.contains("owns its physical layout"),
      s"partitionBy must refuse typed, got: ${partEx.getMessage}")

    val optEx = intercept[IllegalArgumentException] {
      input.toDF().toDF("doc_id", "lang")
        .writeStream.format("graft-versioned")
        .option("checkpointLocation", s"$root/ckpt3")
        .start()
    }
    assert(optEx.getMessage.contains("tableDir"))
  }

  test("source-to-sink: the change feed maintains a downstream table with no foreachBatch") {
    import spark.implicits._
    val root = freshRoot()
    val (base, down) = (s"$root/base", s"$root/down")
    Versioned.init(
      (0 until 30).map(i => (i.toLong, s"lang${i % 3}", i.toLong * 2))
        .toDF("doc_id", "lang", "n_chars").repartition(2), base): Unit
    Versioned.upsert(Seq((3L, "up", 999L), (500L, "nw", 5L))
      .toDF("doc_id", "lang", "n_chars"), base, "doc_id") // v1
    Versioned.deleteIds(Seq(Tuple1(7L)).toDF("doc_id"), base, "doc_id") // v2

    val q = spark.readStream.format("graft-changes")
      .option("tableDir", base).option("idColumn", "doc_id")
      .option("startingVersion", "earliest")
      .load()
      .select(col("doc_id"), col("change"), col("version"))
      .writeStream.format("graft-versioned")
      .option("tableDir", down)
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val changes = Versioned.read(spark, down)
    assert(changes.count() ===
      Versioned.changeFeed(spark, base, 0, 2, "doc_id").count(),
      "the sinked table must hold exactly the feed's rows")
    assert(changes.filter(col("change") === "delete").count() === 1)
  }

  test("write-side schema evolution: widening queries commit under evolution rules; a mid-run table drift refuses typed and a corrected restart adopts") {
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val root = freshRoot()
    val t = s"$root/t"

    // a first stream establishes the table's two-column schema
    val in1 = MemoryStream[(Long, String)]
    val q1 = in1.toDF().toDF("doc_id", "lang")
      .writeStream.format("graft-versioned")
      .option("tableDir", t)
      .option("checkpointLocation", s"$root/ckpt1")
      .trigger(Trigger.ProcessingTime(0)).start()
    try { in1.addData((1L, "a")); q1.processAllAvailable() } finally q1.stop()

    // a WIDER stream (new column) commits under append's evolution
    // rules: the committed schema grows, old rows null-fill on read —
    // exactly what a library append with the same delta does
    val in2 = MemoryStream[(Long, String, Long)]
    val q2 = in2.toDF().toDF("doc_id", "lang", "n_chars")
      .writeStream.format("graft-versioned")
      .option("tableDir", t)
      .option("checkpointLocation", s"$root/ckpt2")
      .option("writerId", "wide")
      .trigger(Trigger.ProcessingTime(0)).start()
    try { in2.addData((2L, "b", 20L)); q2.processAllAvailable() } finally q2.stop()
    val widened = Versioned.read(spark, t)
    assert(widened.columns.toSet === Set("doc_id", "lang", "n_chars"))
    assert(widened.filter(col("doc_id") === 1L)
      .select("n_chars").head().isNullAt(0),
      "pre-evolution rows null-fill the new column")

    // a TABLE-side drift landing mid-run (a rename committed by another
    // writer) makes the sink's next commit refuse TYPED — the stream
    // fails instead of silently committing retired names — and the
    // failed batch publishes nothing
    val in3 = MemoryStream[(Long, String, Long)]
    val q3 = in3.toDF().toDF("doc_id", "lang", "n_chars")
      .writeStream.format("graft-versioned")
      .option("tableDir", t)
      .option("checkpointLocation", s"$root/ckpt3")
      .option("writerId", "drift")
      .trigger(Trigger.ProcessingTime(0)).start()
    val vBeforeDrift =
      try {
        in3.addData((3L, "c", 30L)); q3.processAllAvailable()
        Versioned.renameColumn(spark, t, "n_chars", "len") // MID-RUN drift
        val v = Versioned.versions(spark, t).max
        in3.addData((4L, "d", 40L)) // still carries the retired name
        val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          q3.processAllAvailable()
        }
        def msgs(e: Throwable): String = if (e == null) ""
          else String.valueOf(e.getMessage) + msgs(e.getCause)
        assert(msgs(ex).contains("rename"),
          s"expected the typed retired-name refusal, got: ${ex.getMessage}")
        v
      } finally q3.stop()
    assert(Versioned.versions(spark, t).max === vBeforeDrift,
      "the refused batch must publish nothing")

    // a corrected restart (input projected to the evolved name, fresh
    // checkpoint+writer for the re-planned query) adopts and drains
    val in4 = MemoryStream[(Long, String, Long)]
    val q4 = in4.toDF().toDF("doc_id", "lang", "len")
      .writeStream.format("graft-versioned")
      .option("tableDir", t)
      .option("checkpointLocation", s"$root/ckpt4")
      .option("writerId", "adopt")
      .trigger(Trigger.ProcessingTime(0)).start()
    try { in4.addData((4L, "d", 40L)); q4.processAllAvailable() } finally q4.stop()
    assert(Versioned.read(spark, t).filter(col("doc_id") === 4L).count() === 1,
      "the corrected restart must land the drifted batch's data")
  }
}
