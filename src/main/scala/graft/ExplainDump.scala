package graft

/** Builder-side plan dumper: write `.explain("formatted")` for named
  * [[SparkEntry.queries]] entries to files — args(0) = comma-separated
  * query names (or `all`), args(1) = output directory, one
  * `<name>.txt` per query. The fixture dir comes from
  * SPARK_GRAFT_SF_DIR; the session is Bench's own [[LocalSession]], so
  * the plan dumped is the plan benched.
  * Plans are captured WITHOUT executing the query, so session-state
  * builders (IVF/HNSW indexes, sorted layouts) are built only where a
  * query function itself materializes them on construction. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 2) {
      System.err.println("usage: ExplainDump <name[,name...]|all> <outDir>")
      sys.exit(2)
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val outDir = java.nio.file.Paths.get(args(1))
    java.nio.file.Files.createDirectories(outDir)
    val spark = LocalSession()
    val names: Seq[String] =
      if (args(0) == "all") SparkEntry.queries.keys.toSeq.sorted
      else args(0).split(",").toSeq
    // a failed explain must be distinguishable from success in scripts:
    // distinct log line, artifact still written (for the stack), and a
    // nonzero exit when anything failed
    var failed = List.empty[String]
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query '$name'"))
      val plan = try Right(fn(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => Left(s"EXPLAIN FAILED: $e") }
      java.nio.file.Files.write(outDir.resolve(s"$name.txt"),
        plan.merge.getBytes("UTF-8"))
      plan match {
        case Right(_) => println(s"[explain] wrote $name")
        case Left(_)  => failed ::= name; println(s"[explain] FAILED $name")
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[explain] ${failed.size} failed: ${failed.reverse.mkString(",")}")
      sys.exit(1)
    }
  }
}
