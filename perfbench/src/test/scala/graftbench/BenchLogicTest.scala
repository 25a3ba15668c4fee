package graftbench

import org.apache.spark.sql.{Row, SparkSession}

/** Tests of the benchmark's own logic: the seeded generators, tail
  * selection, the planted-pair recall, the output checks and the work-CPU
  * meter. Run with `python3 perfbench/run.py --self-test`; exits 1 on any
  * failure. */
object BenchLogicTest {
  private var failures = 0

  private def check(name: String)(ok: => Boolean): Unit = {
    val passed = try ok catch { case e: Throwable => println(s"  $e"); false }
    if (!passed) failures += 1
    println(s"${if (passed) "ok  " else "FAIL"} $name")
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("graftbench-test")
      .config("spark.ui.enabled", "false").config("spark.sql.shuffle.partitions", "2")
      .config("spark.driver.host", "localhost").config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      def vecs(seed: Long) = Gen.vectors(spark, seed, 0, 40).as[(Long, Array[Float])].collect()
        .sortBy(_._1).map { case (id, v) => (id, v.toSeq) }.toSeq
      def texts(seed: Long) = Gen.docs(spark, seed, 200).as[(Long, String)].collect().sortBy(_._1).toSeq

      check("vectors: same seed, same frame, on any partitioning") {
        val again = Gen.vectors(spark, 7, 0, 40).repartition(3).as[(Long, Array[Float])].collect()
          .sortBy(_._1).map { case (id, v) => (id, v.toSeq) }.toSeq
        vecs(7) == vecs(7) && vecs(7) == again && vecs(7).forall(_._2.length == Gen.Dim)
      }
      check("vectors: another seed, other values") {
        vecs(7).zip(vecs(8)).forall { case (a, b) => a._1 == b._1 && a._2 != b._2 }
      }
      check("docs: same seed, same texts; another seed, other texts") {
        texts(7) == texts(7) && texts(7) != texts(8) &&
          texts(7).forall(_._2.split(' ').length == Gen.DocTokens)
      }
      check("planted pairs: one in CopyEvery, source an earlier original") {
        val pairs = Gen.plantedPairs(spark, 7, 1000).as[(Long, Long)].collect()
        pairs.length == 100 && pairs.forall { case (copy, src) => src < copy && !Gen.isCopy(src) } &&
          pairs.toSeq == Gen.plantedPairs(spark, 7, 1000).as[(Long, Long)].collect().toSeq
      }
      check("planted copy shares most words with its source") {
        val (copy, src) = (9L, Gen.sourceOf(7, 9L))
        val same = Gen.text(7, copy).split(' ').zip(Gen.text(7, src).split(' ')).count { case (a, b) => a == b }
        same >= Gen.DocTokens * 80 / 100 && same < Gen.DocTokens
      }
      check("upserted vector moves a little from the original") {
        val (a, b) = (Gen.vector(7, 3L), Gen.vector(7, 3L, round = 1))
        val d = math.sqrt(a.zip(b).map { case (x, y) => (x - y).toDouble * (x - y) }.sum)
        d > 0 && d < 0.2 * math.sqrt(Gen.Dim)
      }

      check("tail: highest ladder percentile with at least 10 samples beyond") {
        (1 to 3000).forall { n =>
          val xs = (1 to n).map(_.toDouble)
          Stats.tail(xs) match {
            case None => n < 21
            case Some((p, v)) =>
              val beyond = xs.count(_ > v)
              val higher = Stats.TailLadder.takeWhile(_ > p)
              beyond >= Stats.TailBeyond &&
                higher.forall(h => n - 1 - Stats.rankIndex(n, h) < Stats.TailBeyond)
          }
        }
      }
      check("tail: 1000 samples pick p99 with 10 beyond") {
        Stats.tail((1 to 1000).map(_.toDouble)) == Some((99.0, 990.0))
      }
      check("median of even and odd sample counts") {
        Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 && Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5
      }

      check("planted recall on a hand-built labelling") {
        // components {0,1,2} -> 0, {3} -> 3, {4,5} -> 4; doc 6 is unlabelled
        val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 3L), (4L, 4L), (5L, 4L)).toDF("doc_id", "component")
        val planted = Seq((1L, 0L), (2L, 0L), (3L, 0L), (5L, 4L), (6L, 4L)).toDF("copy_id", "source_id")
        Workload.plantedRecall(planted, labels) == 3.0 / 5.0
      }

      def row(q: Long, m: Long, s: Double, r: Long) = Row(q, m, s, r)
      val schema = KnnRows.schema
      def rows(rs: Row*) = spark.createDataFrame(spark.sparkContext.parallelize(rs), schema).collect().toSeq
      val good = (1 to Workload.K).map(r => row(1, r.toLong, (r - 1) / 100.0, r.toLong))
      check("search check: a well-formed result passes") {
        Workload.checkSearch(rows(good: _*), Seq(1L), _ => true, 100, Map(1L -> 1L)).isEmpty
      }
      check("search check: a tombstoned id fails") {
        Workload.checkSearch(rows(good: _*), Seq(1L), _ != 5L, 100).nonEmpty
      }
      check("search check: a missing row, a rank gap or a wrong first hit fails") {
        Workload.checkSearch(rows(good.drop(1): _*), Seq(1L), _ => true, 100).nonEmpty &&
          Workload.checkSearch(rows(good.map(r => row(1, r.getLong(1), r.getDouble(2), r.getLong(3) + 1)): _*),
            Seq(1L), _ => true, 100).nonEmpty &&
          Workload.checkSearch(rows(good: _*), Seq(1L), _ => true, 100, Map(1L -> 2L)).nonEmpty
      }
      check("search check: fewer live vectors than k want that many rows") {
        Workload.checkSearch(rows(good.take(3): _*), Seq(1L), _ => true, 3).isEmpty
      }

      check("span self time subtracts the union of its children") {
        val s = Span(1, "a", -1, 1, 0, 100)
        val kids = Seq(Span(2, "b", 1, 1, 10, 30), Span(3, "c", 1, 1, 20, 40), Span(4, "d", 1, 1, 90, 120))
        Tracer.selfMs(s, kids) == 100 - 30 - 10
      }

      check("work CPU counts the client thread and the tasks of the job it ran") {
        val meter = new CpuMeter(spark)
        val before = meter()
        spark.range(0, 2000000, 1, 2).selectExpr("sum(xxhash64(id) % 1000)").collect()
        val d = meter() - before
        d.tasks > 0 && d.thread > 0 && d.work == d.thread + d.tasks
      }
    } finally spark.stop()
    println(if (failures == 0) "all benchmark tests passed" else s"$failures benchmark test(s) failed")
    if (failures != 0) sys.exit(1)
  }
}

/** Schema of a [[graft.operators.KnnHnsw.search]] result row. */
object KnnRows {
  import org.apache.spark.sql.types._
  val schema: StructType = StructType(Seq(
    StructField("query_id", LongType), StructField("match_id", LongType),
    StructField("score", DoubleType), StructField("rank", LongType)))
}
