package graft

import org.apache.spark.sql.functions._
import graft.operators.{Knn, Lifecycle, Traversal}
import graft.sources.Tables

class SourcesSpec extends SparkSuite {

  test("dump/load round-trips the corpus exactly (O14/O17)") {
    val path = tempDir("graft_dump") + "/corpus"
    val corpus = Tables.embeddings(spark, sfDir)
    Lifecycle.dump(corpus, path)
    val back = Lifecycle.load(spark, path)
    assert(back.count() === corpus.count())
    assert(back.exceptAll(corpus).count() === 0)
    assert(corpus.exceptAll(back).count() === 0)
  }

  test("clear empties the corpus but keeps the schema (O15)") {
    val corpus = Tables.embeddings(spark, sfDir)
    val cleared = Lifecycle.clear(corpus)
    assert(cleared.count() === 0)
    assert(cleared.schema === corpus.schema)
  }

  test("csv and json sinks/sources round-trip scalar tables") {
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "n_chars")
    for (fmt <- Seq("csv", "json")) {
      val path = tempDir(s"graft_$fmt") + s"/docs_$fmt"
      docs.write.mode("overwrite").option("header", "true").format(fmt).save(path)
      val back = spark.read.option("header", "true").option("inferSchema", "true")
        .format(fmt).load(path)
        .select(col("doc_id").cast("long"), col("lang"), col("n_chars").cast("long"))
      assert(back.count() === docs.count())
      assert(back.exceptAll(docs).count() === 0, s"$fmt round-trip drift")
    }
  }

  test("TextSources round-trips hostile text losslessly (quotes, newlines, tabs, edge whitespace)") {
    import spark.implicits._
    val hostile = Seq(
      (1L, "a", "comma, in \"quoted\" field\nsecond line"),
      (2L, "b", "  leading and trailing  "),
      (3L, "c", "tab\there quote:\" backslash:\\ pipe:|"),
      (4L, "d", ""), // empty string (CSV's classic empty-vs-null trap)
      (5L, "e", "plain")
    ).toDF("doc_id", "lang", "text")
    val base = tempDir("graft_textsrc")
    val j = graft.sources.TextSources.jsonlRoundTrip(hostile, s"$base/jsonl")
    assert(j.exceptAll(hostile).unionAll(hostile.exceptAll(j)).count() === 0,
      "jsonl round-trip drift")
    val c = graft.sources.TextSources.csvRoundTrip(hostile, s"$base/csv")
      // CSV cannot distinguish empty string from null on read; conform
      // the one planted empty back — the OTHER four rows (whitespace
      // edges included) must survive bit-exactly
      .withColumn("text", coalesce(col("text"), lit("")))
    assert(c.exceptAll(hostile).unionAll(hostile.exceptAll(c)).count() === 0,
      "csv round-trip drift")
    // the whitespace row specifically: default Spark CSV WRITE options
    // trim unquoted values — this pins that TextSources overrides them
    val ws = c.filter(col("doc_id") === 2L).head().getAs[String]("text")
    assert(ws === "  leading and trailing  ")
  }

  test("csv with multiLine=false stays splittable-compatible on newline-free frames") {
    import spark.implicits._
    val plain = Seq((1L, "x", "no newlines here"), (2L, "y", "none, \"but\" quotes"))
      .toDF("doc_id", "lang", "text")
    val path = tempDir("graft_csv1l") + "/csv"
    val back = graft.sources.TextSources.csvRoundTrip(plain, path, multiLine = false)
    assert(back.exceptAll(plain).unionAll(plain.exceptAll(back)).count() === 0)
  }

  test("orc sink/source round-trips the full embeddings table (nested arrays)") {
    val emb = Tables.embeddings(spark, sfDir)
    val path = tempDir("graft_orc") + "/emb_orc"
    emb.write.mode("overwrite").orc(path)
    val back = spark.read.orc(path)
    assert(back.schema === emb.schema)
    assert(back.exceptAll(emb).count() === 0, "orc round-trip drift")
  }

  test("limit clamp caps k at corpus size with all rows ranked (O8)") {
    val queries = Tables.defaultQueries(spark, sfDir, n = 2)
    val corpus = Tables.embeddings(spark, sfDir).filter(col("label") === 1)
    val n = corpus.count()
    val buf = new java.io.ByteArrayOutputStream()
    val res = Console.withErr(buf) {
      Knn.knnClamped(queries, corpus, k = 100000, knownCount = Some(n))
    }
    assert(res.count() === 2 * n)
    assert(res.agg(max(col("rank"))).head().getLong(0) === n)
    assert(buf.toString.contains(s"limit 100000 clamped to corpus size $n"), buf.toString)
  }

  test("events loader adapts to ts physical-type drift (long-ns / TZ / NTZ)") {
    import org.apache.spark.sql.types._
    val canonical = Tables.events(spark, sfDir)
    assert(canonical.schema("ts").dataType === TimestampType)
    val want = canonical.agg(sum(unix_timestamp(col("ts"))), count(lit(1))).head()
    val base = tempDir("graft_tsdrift")
    // (a) nanos-as-long — the pre-r9 fixture shape
    canonical.withColumn("ts", expr("unix_micros(ts) * 1000"))
      .write.parquet(s"$base/ns/events.parquet")
    // (b) UTC-adjusted TIMESTAMP — what a Spark writer produces
    canonical.write.parquet(s"$base/tz/events.parquet")
    // (c) TIMESTAMP_NTZ — the current (r10) fixture shape, re-asserted
    canonical.withColumn("ts", col("ts").cast(TimestampNTZType))
      .write.parquet(s"$base/ntz/events.parquet")
    for (variant <- Seq("ns", "tz", "ntz")) {
      val df = Tables.events(spark, s"$base/$variant")
      assert(df.schema("ts").dataType === TimestampType, s"variant=$variant")
      assert(df.agg(sum(unix_timestamp(col("ts"))), count(lit(1))).head() === want,
        s"variant=$variant")
    }
  }

  test("embeddings loader conforms drifted id/element types (int32 id, double vec)") {
    import org.apache.spark.sql.types._
    val emb = Tables.embeddings(spark, sfDir)
    val base = tempDir("graft_embdrift")
    emb.select(col("vec_id").cast("int").as("vec_id"),
        col("embedding").cast("array<double>").as("embedding"), col("label"))
      .write.parquet(s"$base/embeddings.parquet")
    val back = Tables.embeddings(spark, base)
    assert(back.schema("vec_id").dataType === LongType)
    back.schema("embedding").dataType match {
      case ArrayType(FloatType, _) => ()
      case other => fail(s"embedding element type not conformed: $other")
    }
    // float → double → float is exact, so values survive the round trip
    assert(back.exceptAll(emb).count() === 0)
  }

  test("documents loader conforms drifted int widths (int32 doc_id / n_chars)") {
    import org.apache.spark.sql.types._
    val docs = Tables.documents(spark, sfDir)
    val base = tempDir("graft_docdrift")
    docs.withColumn("doc_id", col("doc_id").cast("int"))
      .withColumn("n_chars", col("n_chars").cast("int"))
      .write.parquet(s"$base/documents.parquet")
    val back = Tables.documents(spark, base)
    assert(back.schema("doc_id").dataType === LongType)
    assert(back.schema("n_chars").dataType === LongType)
    assert(back.exceptAll(docs).count() === 0)
  }

  test("traversal: 'r' is identity, 'c' flattens chunks losslessly (O2)") {
    val docs = Tables.documents(spark, sfDir)
    val nested = Traversal.withChunks(docs)
    assert(Traversal.traverseFlat(nested, "r").count() === docs.count())
    val chunks = Traversal.traverseFlat(nested, "c")
    assert(chunks.count() === 2 * docs.count())
    // halves reassemble to the original length
    val total = chunks.groupBy(col("doc_id"))
      .agg(sum(length(col("chunk_text"))).as("n"))
      .join(docs.select(col("doc_id"), col("n_chars")), "doc_id")
      .filter(col("n") =!= col("n_chars")).count()
    assert(total === 0)
    intercept[IllegalArgumentException](Traversal.traverseFlat(nested, "x"))
  }
}
