package graft

/** Builder-side profiler: time a named subset of [[SparkEntry.queries]]
  * — args(0) = comma-separated query names, args(1) = optional repeat
  * count (default 3); the fixture dir comes from SPARK_GRAFT_SF_DIR —
  * with the same machine-speed canary Bench publishes, so a mover
  * flagged in a round's bench artifact can be adjudicated — host noise
  * vs real regression — without paying a full-registry sweep. Prints one
  * line per repeat and a per-query minimum, canary readings bracketing
  * the measurement. */
object ProfileQueries {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names = args(0).split(",").toSeq
    val repeats = if (args.length > 1) args(1).toInt else 3
    val spark = LocalSession()
    import org.apache.spark.sql.functions.{sum => fsum, col => fcol}
    def calibrate(): Double = {
      val t0 = System.nanoTime()
      spark.range(200000000L).select(fsum(fcol("id") % 1000007L)).count()
      (System.nanoTime() - t0) / 1e9
    }
    calibrate() // canary JIT warm-up
    val cal0 = calibrate()
    val mins = names.map { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        throw new IllegalArgumentException(s"unknown query '$name'"))
      val times = (1 to repeats).map { i =>
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"[profile] $name run$i: $t%.3f s")
        t
      }
      name -> times.min
    }
    val cal1 = calibrate()
    println(f"[profile] canary: $cal0%.3f / $cal1%.3f")
    mins.foreach { case (n, t) => println(f"[profile] MIN $n: $t%.3f s") }
    spark.stop()
  }
}
