package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val outDir = args(1)
    // optional third arg: comma-separated query names (builder-side
    // targeted re-verify; the driver always runs the full suite)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val spark = LocalSession()
    new java.io.File(outDir).mkdirs()
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failures(name) = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        // an EXECUTION-time failure (e.g. a gate's raise_error firing)
        // lands after the writer created the output dir — remove the
        // partial dir so a failed query is counted once (in _ERRORS.json)
        // and the driver never grades half-written parquet. The suite
        // invariant |result dirs| + |_ERRORS keys| == |queries| holds for
        // both analysis-time and execution-time failures.
        val partial = new java.io.File(s"$outDir/$name")
        if (partial.exists) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(): Unit
          }
          rm(partial)
        }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure sentinel: a query that throws must be LOUD, not a silently
    // shorter result list (r9 lost 26 driver rows to one analysis error
    // with nothing in the output marking them). _ERRORS.json is always
    // written — `{}` asserts "every registered query produced a dump";
    // nonempty maps name -> error. The suite-level invariant is
    // |query dirs| + |_ERRORS.json keys| == |SparkEntry.queries|.
    val errJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_ERRORS.json"), errJson)
    // stderr + sentinel only — rc stays 0 so the driver still grades the
    // queries that DID produce dumps (a partial suite graded is strictly
    // better than a partial suite discarded)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: ${failures.keys.mkString(", ")}")
    spark.stop()
  }
}
