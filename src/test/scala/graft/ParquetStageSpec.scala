package graft


import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.{ExpressionEncoder, RowEncoder}
import org.apache.spark.sql.graft.ParquetStage
import org.apache.spark.sql.types._

/** The executor-side parquet staging bridge: internal rows written by
  * [[ParquetStage.open]] must round-trip through `spark.read.parquet`
  * with full type fidelity — it is the write half of the SQL
  * UPDATE/MERGE delta path. */
class ParquetStageSpec extends SparkSuite {

  test("staged internal rows round-trip through spark.read.parquet") {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("emb", ArrayType(FloatType)),
      StructField("ts", TimestampType),
      StructField("flag", BooleanType)))
    val rows = Seq(
      Row(1L, "alpha", 1.5, Seq(0.1f, 0.2f), java.sql.Timestamp.valueOf("2026-01-02 03:04:05.123456"), true),
      Row(2L, null, null, null, null, false),
      Row(3L, "gamma", -0.25, Seq.empty[Float], java.sql.Timestamp.valueOf("1969-12-31 23:59:59.0"), true))
    val toInternal = ExpressionEncoder(RowEncoder.encoderFor(schema)).createSerializer()

    val dir = tempDir("graft_pq_stage")
    val file = s"$dir/staged-0.parquet"
    val w = ParquetStage.open(file, schema,
      spark.sparkContext.hadoopConfiguration)
    try rows.foreach(r => w.write(toInternal(r).copy(): InternalRow))
    finally w.close()

    val back = spark.read.schema(schema).parquet(file)
    assert(back.schema === schema ||
      back.schema.map(f => (f.name, f.dataType)) ===
        schema.map(f => (f.name, f.dataType)))
    val got = back.collect().map(r => r.getLong(0) -> r).toMap
    assert(got.size === 3)
    assert(got(1L).getString(1) === "alpha")
    assert(got(1L).getDouble(2) === 1.5)
    assert(got(1L).getSeq[Float](3) === Seq(0.1f, 0.2f))
    assert(got(1L).getTimestamp(4).toString === "2026-01-02 03:04:05.123456")
    assert(got(2L).isNullAt(1) && got(2L).isNullAt(2) && got(2L).isNullAt(3))
    assert(got(3L).getSeq[Float](3) === Seq.empty[Float])
    assert(got(3L).getBoolean(5))
  }
}
