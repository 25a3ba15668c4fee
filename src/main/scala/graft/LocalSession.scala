package graft
import org.apache.spark.sql.SparkSession

/** The session the command-line mains (Verify, Bench, ProfileQueries,
  * ExplainDump) run in: local[SPARK_GRAFT_CPUS] (default 4) with one
  * shuffle partition per core, UTC session time, UI off, WARN logging. */
private[graft] object LocalSession {
  def apply(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
