package graftbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  * graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                 --cores <n> --out <dir> --work <dir>
  * }}}
  *
  * Untraced (`--trace 0`), it warms the JVM up, sets the workload up
  * [[SetupRepeats]] times, primes it and lets the JIT settle (untimed),
  * runs the timed part for
  * `seconds` and prints the end-to-end metrics. Traced (`--trace 1`), it
  * records spans through set-up, runs the timed part for half the time
  * untraced and half traced, and prints the per-layer metrics. The last
  * stdout line is the result object; the run record and the spans go to
  * `--out`. Exits 1 when any output check failed. */
object Main {
  val SetupRepeats = 3
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Span names whose per-call time and self time are reported. */
  val SpanNames = Seq(
    "setup", "gen.vectors", "gen.docs", "warmup",
    "hnsw.build", "hnsw.save", "topk.exact", "recall.atk",
    "serve.q1", "serve.q64", "hnsw.load.call", "hnsw.search.call", "hnsw.search.exec",
    "lifecycle.bulk", "lifecycle.build", "lifecycle.save", "lifecycle.round",
    "hnsw.upsert", "hnsw.delete", "lifecycle.status",
    "dedup.pass", "dedup.signatures", "dedup.candidates", "dedup.pairs", "dedup.components",
    "dedup.survivors")
  /** Spans with child spans: their self time is reported too (a leaf's
    * self time is its whole time). */
  val ParentSpans = Set("setup", "warmup", "serve.q1", "serve.q64", "lifecycle.bulk",
    "lifecycle.round", "dedup.pass")
  /** Root spans that are one timed operation of a workload. */
  val OpRoots = Set("serve.q1", "serve.q64", "dedup.pass")
  /** Per-layer numbers the timed part measures itself. */
  val ExtraNames = Seq("hnsw.index_bytes_per_vector_byte", "hnsw.upsert.write_amp",
    "hnsw.delete.write_amp", "dedup.pairs_found", "dedup.verify_yield")
  val SparkNames = Seq("plan_ms", "jobs", "stages", "tasks", "driver_ms", "task_run_ms",
    "task_cpu_ms", "gc_ms", "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes")

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val cores = need("cores").toInt
    val out = Paths.get(need("out"))
    val work = Paths.get(need("work"))
    Files.createDirectories(out)

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"graftbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val tracer = new Tracer(spark, listen = traced)
    val c = new Ctx(spark, seed, work, tracer)
    val w = Workload(workload, c)

    tracer.on = traced
    // the first set-up also pays the warm-up; the median leaves it out.
    // Each set-up's (wall s, work CPU s).
    val setups = (1 to SetupRepeats).map { i =>
      val (_, ms, cpu) = c.measure { if (i == 1) w.warmup(); w.setup() }
      (ms / 1000, cpu.work / 1000)
    }
    w.prime()
    val jitWaitS = Jvm.awaitJitIdle()

    val (metrics, timed, record) =
      if (!traced) {
        val t = w.timed(seconds * 1000)
        val m = Seq(
          ("setup_s", Stats.median(setups.map(_._2)), "s"),
          ("op_cpu_ms", Stats.median(t.opCpuMs), "ms"),
          ("items_per_cpu_s", t.items / (t.cpuMs / 1000), "1/s"),
          ("quality", t.quality, "ratio"),
          ("heap_retained_mb", t.heapRetainedMb, "MB"))
        (m, Seq(t), Map.empty[String, Any])
      } else {
        tracer.on = false
        val plain = w.timed(seconds * 500)
        tracer.on = true
        val gc0 = Jvm.gcMs()
        Jvm.resetHeapPeak()
        val windowStart = tracer.now()
        val t = w.timed(seconds * 500)
        val gcMs = Jvm.gcMs() - gc0
        val heapPeak = Jvm.heapPeakMb()
        tracer.on = false
        val spans = tracer.finished()
        val m = perLayer(w, spans, windowStart, tracer, t) ++ Seq(
          ("jvm.gc_ms", gcMs.toDouble, "ms"),
          ("jvm.heap_peak_mb", heapPeak, "MB"),
          ("wall.op_p50_ms", Stats.median(plain.opMs), "ms"),
          ("wall.items_per_s", plain.items / (plain.wallMs / 1000), "1/s"),
          ("trace.overhead_ratio", Stats.median(t.opMs) / Stats.median(plain.opMs), "ratio"))
        val spansFile = out.resolve(s"$workload-seed$seed.spans.jsonl")
        Files.write(spansFile, spans.map(s => spanJson(s, tracer)).mkString("", "\n", "\n").getBytes("UTF-8"))
        (m, Seq(plain, t), Map("spans_file" -> spansFile.toString))
      }

    val correct = c.failed == 0 && c.attempted > 0 && timed.forall(t => !t.quality.isNaN)
    val result = Map(
      "correct" -> correct,
      "attempted" -> c.attempted,
      "failed" -> c.failed,
      "metrics" -> mutable.LinkedHashMap(metrics.map { case (k, v, u) =>
        k -> mutable.LinkedHashMap("value" -> v, "unit" -> u) }: _*))
    val runRecord = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "spark_version" -> spark.version, "master" -> s"local[$cores]",
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "setup_wall_s" -> setups.map(_._1), "setup_cpu_s" -> setups.map(_._2), "jit_wait_s" -> jitWaitS,
      "timed_parts" -> timed.map(t => mutable.LinkedHashMap(
        "items" -> t.items, "wall_ms" -> t.wallMs, "cpu_ms" -> t.cpuMs, "quality" -> t.quality,
        "heap_retained_mb" -> t.heapRetainedMb,
        "classes" -> t.classes.map { case (k, xs) => k -> (Stats.summary(xs) + ("samples" -> xs)) },
        "extra" -> t.extra)),
      "failures" -> c.failures.toSeq,
      "result" -> result) ++ record
    Files.write(out.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"),
      json.writeValueAsBytes(runRecord))
    c.failures.foreach(f => System.err.println(s"[graftbench] check failed: $f"))
    spark.stop()
    println(json.writeValueAsString(result))
    System.out.flush()
    if (!correct) sys.exit(1)
  }

  /** The per-layer table of one traced run. Span numbers come from the
    * traced window where the span occurs there, else from set-up; a span
    * the workload never enters reads 0. Spark counters are per timed
    * operation (root span), summed over its whole span tree. */
  private def perLayer(w: Workload, spans: Seq[Span], windowStart: Double, tracer: Tracer,
                       t: Timed): Seq[(String, Double, String)] = {
    val children = spans.groupBy(_.parent)
    def pick(name: String) = {
      val all = spans.filter(_.name == name)
      val inWindow = all.filter(_.start >= windowStart)
      if (inWindow.nonEmpty) inWindow else all
    }
    val perSpan = SpanNames.flatMap { n =>
      val ss = pick(n)
      (s"${n}_ms", Stats.mean(ss.map(_.ms)), "ms") +: (if (!ParentSpans(n)) Nil else
        Seq((s"$n.self_ms", Stats.mean(ss.map(s => Tracer.selfMs(s, children.getOrElse(s.id, Nil)))), "ms")))
    }
    val builds = pick("hnsw.build")
    val exacts = pick("topk.exact")
    val derived = Seq(
      ("hnsw.build_s_per_kdoc",
        if (builds.isEmpty || w.builtDocs == 0) 0.0 else Stats.mean(builds.map(_.ms)) / w.builtDocs, "s/kdoc"),
      ("topk.exact_ms_per_query",
        if (exacts.isEmpty || w.exactQueries == 0) 0.0 else Stats.mean(exacts.map(_.ms)) / w.exactQueries, "ms"))
    val extras = ExtraNames.map(n => (n, t.extra.getOrElse(n, 0.0),
      if (n == "dedup.pairs_found") "count" else "ratio"))

    val ops = spans.filter(s => s.start >= windowStart && s.parent == -1 && OpRoots(s.name))
    val byReq = spans.groupBy(_.req)
    val perOp = ops.map { root =>
      val ws = byReq.getOrElse(root.id, Nil).flatMap(s => tracer.workOf(s.id))
      val jobs = ws.flatMap(_.jobIntervals)
      Map(
        "plan_ms" -> tracer.planMsWithin(root),
        "jobs" -> ws.map(_.jobs).sum.toDouble,
        "stages" -> ws.map(_.stages).sum.toDouble,
        "tasks" -> ws.map(_.tasks).sum.toDouble,
        "driver_ms" -> (root.ms - Tracer.covered(jobs, root.start, root.end)),
        "task_run_ms" -> ws.map(_.runMs).sum.toDouble,
        "task_cpu_ms" -> ws.map(_.cpuNs).sum / 1e6,
        "gc_ms" -> ws.map(_.gcMs).sum.toDouble,
        "shuffle_write_bytes" -> ws.map(_.shuffleWrite).sum.toDouble,
        "shuffle_read_bytes" -> ws.map(_.shuffleRead).sum.toDouble,
        "spill_bytes" -> ws.map(_.spill).sum.toDouble)
    }
    val sparkMetrics = SparkNames.map { n =>
      val unit = if (n.endsWith("_ms")) "ms" else if (n.endsWith("_bytes")) "bytes" else "count"
      (s"spark.$n", Stats.mean(perOp.map(_(n))), unit)
    }
    perSpan ++ derived ++ extras ++ sparkMetrics
  }

  private def spanJson(s: Span, tracer: Tracer): String = {
    val base = mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name, "parent" -> s.parent,
      "req" -> s.req, "start_ms" -> s.start, "end_ms" -> s.end)
    tracer.workOf(s.id).foreach { w =>
      base ++= Seq("jobs" -> w.jobs, "stages" -> w.stages, "tasks" -> w.tasks,
        "task_run_ms" -> w.runMs, "task_cpu_ms" -> w.cpuNs / 1e6, "gc_ms" -> w.gcMs,
        "shuffle_write_bytes" -> w.shuffleWrite, "shuffle_read_bytes" -> w.shuffleRead,
        "spill_bytes" -> w.spill)
    }
    json.writeValueAsString(base)
  }
}
