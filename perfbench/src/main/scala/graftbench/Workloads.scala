package graftbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.operators.{Dedup, KnnHnsw, KnnTopK, Lifecycle, Recall}

/** What one timed part measured. `opMs` and `opCpuMs` are the wall time
  * and the work CPU ([[Cpu.work]]) of each of the workload's headline
  * operations; `items` took `wallMs` of wall time, and `cpuMs` of work
  * CPU at the median; `classes` holds every operation class for the run
  * record; `extra` holds per-layer numbers that are not spans. */
final case class Timed(opMs: Seq[Double], opCpuMs: Seq[Double], items: Long, wallMs: Double,
                       cpuMs: Double, quality: Double, heapRetainedMb: Double,
                       classes: Map[String, Seq[Double]], extra: Map[String, Double] = Map.empty)

/** State shared by a run: the session, the seed, the output checks and
  * the tracer. */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: Path, val trace: Tracer) {
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var dirs = 0

  def span[A](name: String)(f: => A): A = trace(name)(f)
  def tracing: Boolean = trace.on
  def now(): Double = trace.now()
  val cpu = new CpuMeter(spark)

  /** Runs `f`; returns its result, its wall ms and the CPU it spent. */
  def measure[A](f: => A): (A, Double, Cpu) = {
    val cpu0 = cpu()
    val t0 = now()
    val r = f
    val ms = now() - t0
    (r, ms, cpu() - cpu0)
  }

  /** Counts one checked operation; it fails when any problem is listed. */
  def verify(what: String, problems: Seq[String]): Unit = {
    attempted += 1
    if (problems.nonEmpty) {
      failed += 1
      if (failures.length < 20) failures += s"$what: ${problems.take(3).mkString("; ")}"
    }
  }

  /** Materialise `df` in memory once, so later calls read it. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    p
  }

  def freshDir(tag: String): String = {
    dirs += 1
    workDir.resolve(s"$tag-$dirs").toString
  }
}

object Ctx {
  def bytesUnder(dir: String): Long = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }
}

/** A workload: `warmup` pays the JVM's first-use costs once, `setup`
  * prepares everything the timed part needs (run several times; the last
  * one's state is used), `timed` runs the closed loop (one client thread)
  * until the next operation would end past `ms`. */
abstract class Workload(val c: Ctx) {
  def warmup(): Unit = ()
  def setup(): Unit
  /** Untimed work after the last set-up, before the timed part. */
  def prime(): Unit = ()
  def timed(ms: Double): Timed
  /** Docs one index build inserts, and queries one exact top-k scores. */
  def builtDocs: Long = 0
  def exactQueries: Int = 0
  protected def spark: SparkSession = c.spark
}

object Workload {
  // Index and query settings shared by every vector workload: build
  // knobs of the reference indexer (M = 16, efConstruction = 200), the
  // paper's k = 20 / ef = 50 queries, and a shard count that does not
  // depend on the host, so recall and stored bytes match everywhere.
  val Shards = 8
  val M = 16
  val EfC = 200
  val K = 20
  val Ef = 50
  val VectorBytes = Gen.Dim * 4L

  def apply(name: String, c: Ctx): Workload = name match {
    case "ann_serve" => new AnnServe(c)
    case "text_dedup" => new TextDedup(c)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** Problems with one search result: every expected query has exactly
    * min(k, live) rows ranked 1..n by non-decreasing score, all of them
    * live ids; `firstHit` pins the rank-1 id (and a zero distance) of
    * probe queries that equal an indexed vector. */
  def checkSearch(rows: Seq[Row], queries: Seq[Long], live: Long => Boolean, liveCount: Long,
                  firstHit: Map[Long, Long] = Map.empty): Seq[String] = {
    val want = math.min(K.toLong, liveCount).toInt
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    val stray = byQuery.keySet -- queries
    val problems = mutable.ArrayBuffer.empty[String]
    if (stray.nonEmpty) problems += s"rows for unknown queries ${stray.take(3)}"
    queries.foreach { q =>
      val rs = byQuery.getOrElse(q, Nil).sortBy(_.getAs[Long]("rank"))
      if (rs.length != want) problems += s"query $q: ${rs.length} rows, want $want"
      if (rs.map(_.getAs[Long]("rank")) != (1L to rs.length.toLong))
        problems += s"query $q: ranks ${rs.map(_.getAs[Long]("rank")).take(5)}"
      val scores = rs.map(_.getAs[Double]("score"))
      if (scores.zip(scores.drop(1)).exists { case (a, b) => a > b }) problems += s"query $q: scores out of order"
      rs.map(_.getAs[Long]("match_id")).filterNot(live).take(1)
        .foreach(id => problems += s"query $q: returned id $id, which is not live")
      firstHit.get(q).foreach { id =>
        val top = rs.headOption
        if (!top.exists(r => r.getAs[Long]("match_id") == id && r.getAs[Double]("score") == 0.0))
          problems += s"query $q: rank 1 is ${top.map(_.getAs[Long]("match_id"))}, want $id at distance 0"
      }
    }
    problems.toSeq
  }

  /** Run-record classes of one operation: wall ms, work CPU ms and the
    * whole JVM's CPU ms (JIT and GC threads included) per operation. */
  def opClasses(name: String, ops: Seq[(Double, Cpu)]): Map[String, Seq[Double]] = Map(
    s"${name}_ms" -> ops.map(_._1), s"${name}_cpu_ms" -> ops.map(_._2.work),
    s"${name}_jvm_cpu_ms" -> ops.map(_._2.process))

  /** Share of planted (copy, source) pairs whose two docs landed in one
    * duplicate component. `labels` is [[Dedup.duplicateComponents]]'
    * (doc_id, component); a doc missing from it counts as a miss. */
  def plantedRecall(planted: DataFrame, labels: DataFrame): Double = {
    val l = labels.select(col("doc_id"), col("component"))
    val total = planted.count()
    if (total == 0) return 1.0
    val hits = planted
      .join(l.toDF("copy_id", "c_copy"), Seq("copy_id"))
      .join(l.toDF("source_id", "c_source"), Seq("source_id"))
      .filter(col("c_copy") === col("c_source")).count()
    hits.toDouble / total
  }
}

import Workload._

/** Serving: closed loop of query batches against a saved index,
  * alternating Q = 1 and Q = 64. The index build, exact ground truth and
  * two warm-up batches are set-up; the timed part is load + search +
  * collect. In a traced run, after the last set-up, the versioned
  * lifecycle runs once on its own index ([[VersionedIndex]]: bulk build,
  * then one round of upsert, delete, fresh search and status, every
  * output checked) to give the write-path layers their spans. Untimed
  * batch pairs then warm the loop up. */
final class AnnServe(c: Ctx) extends Workload(c) {
  val N = 3000L
  val Q = 64
  val LifecycleN = 1000L
  val PrimePairs = 8
  override def builtDocs: Long = N
  override def exactQueries: Int = Q
  private var lifecycle: Option[VersionedIndex] = None
  private var dir: String = _
  private var queries: DataFrame = _
  private var singles: IndexedSeq[DataFrame] = _
  private var exact: DataFrame = _
  private var indexBytes = 0L
  private val queryIds = (N until N + Q).toVector

  def setup(): Unit = c.span("setup") {
    spark.catalog.clearCache()
    dir = c.freshDir("ann")
    val corpus = c.span("gen.vectors") {
      queries = c.pin(Gen.queries(spark, c.seed, N, N + Q))
      c.pin(Gen.vectors(spark, c.seed, 0, N))
    }
    // a Q = 1 batch is one query the client holds, as a local frame:
    // filtering the pinned frame by a literal id would generate and
    // compile new code for every distinct query
    val rows = queries.collect()
    singles = queryIds.map(q => spark.createDataFrame(rows.filter(_.getLong(0) == q).toSeq.asJava, queries.schema))
    val graph = c.span("hnsw.build") { c.pin(KnnHnsw.build(corpus, Shards, M, EfC)) }
    c.span("hnsw.save") { KnnHnsw.save(graph, dir) }
    graph.unpersist(true)
    indexBytes = Ctx.bytesUnder(dir)
    exact = c.span("topk.exact") { c.pin(KnnTopK.knnExact(queries, corpus, K)) }
    corpus.unpersist(true)
    c.span("warmup") { batch(singles(0), Seq(queryIds(0))); batch(queries, queryIds) }
  }

  /** One checked batch: its wall ms, the CPU it spent and its rows. */
  private def batch(qs: DataFrame, ids: Seq[Long]): (Double, Cpu, Array[Row]) = {
    val (rows, ms, cpu) = c.measure {
      c.span(if (ids.length == 1) "serve.q1" else "serve.q64") {
        val graph = c.span("hnsw.load.call") { KnnHnsw.load(spark, dir) }
        val res = c.span("hnsw.search.call") { KnnHnsw.search(graph, qs, K, Ef) }
        c.span("hnsw.search.exec") { res.collect() }
      }
    }
    c.verify("search batch", checkSearch(rows.toSeq, ids, id => id >= 0 && id < N, N))
    (ms, cpu, rows)
  }

  /** The versioned lifecycle (traced runs), then untimed batch pairs: the
    * JIT is still compiling the search path after set-up's two warm-up
    * batches. */
  override def prime(): Unit = c.span("warmup") {
    if (c.tracing) {
      val vectors = c.pin(Gen.vectors(spark, c.seed, 0, LifecycleN))
      val v = new VersionedIndex(c, c.freshDir("lifecycle"), LifecycleN)
      v.bulk(vectors)
      vectors.unpersist(true)
      v.round()
      lifecycle = Some(v)
    }
    (1 to PrimePairs).foreach { i => batch(singles(Q - i), Seq(queryIds(Q - i))); batch(queries, queryIds) }
  }

  private def lc(f: VersionedIndex => mutable.ArrayBuffer[Double]): Seq[Double] =
    lifecycle.map(v => f(v).toSeq).getOrElse(Nil)

  def timed(ms: Double): Timed = {
    val q1, q64 = mutable.ArrayBuffer.empty[(Double, Cpu)]
    var last: Array[Row] = Array.empty
    var answered = 0L
    val start = c.now()
    var lastMs = 0.0
    while (c.now() - start + lastMs <= ms) {
      if (q1.length <= q64.length) {
        val i = q1.length % Q
        val (t, cpu, _) = batch(singles(i), Seq(queryIds(i)))
        q1 += ((t, cpu)); lastMs = t
        answered += 1
      } else {
        val (t, cpu, rows) = batch(queries, queryIds)
        q64 += ((t, cpu)); lastMs = t
        last = rows; answered += Q
      }
    }
    val wall = c.now() - start
    val heap = Jvm.retainedMb()
    val recall = if (last.isEmpty) Double.NaN else c.span("recall.atk") {
      val approx = spark.createDataFrame(last.toSeq.asJava, last.head.schema)
      Recall.atK(approx, exact, K).collect().head.getAs[Double]("recall_at_k")
    }
    // work CPU per query: one Q = 1 and one Q = 64 batch, each at its
    // median, answer 1 + Q queries
    val q1Work = q1.map(_._2.work).toSeq
    val pairWork = Stats.median(q1Work) + Stats.median(q64.map(_._2.work).toSeq)
    Timed(q1.map(_._1).toSeq, q1Work, answered, wall, pairWork * answered / (1 + Q), recall, heap,
      opClasses("q1", q1.toSeq) ++ opClasses("q64", q64.toSeq) ++ Map(
        "lifecycle_round_ms" -> lc(_.rounds), "lifecycle_upsert_ms" -> lc(_.upserts),
        "lifecycle_delete_ms" -> lc(_.deletes), "lifecycle_fresh_query_ms" -> lc(_.fresh)),
      Map("hnsw.index_bytes_per_vector_byte" -> indexBytes.toDouble / (N * VectorBytes),
        "hnsw.upsert.write_amp" -> Stats.mean(lc(_.upAmp)),
        "hnsw.delete.write_amp" -> Stats.mean(lc(_.delAmp))))
  }
}

/** A versioned index and the driver's model of what it must hold: a
  * bulk build + `saveVersioned`, then rounds of upsert (half new ids,
  * half moved vectors), tombstone delete, a fresh load + search that must
  * see both commits, and the status counters, every output checked. */
final class VersionedIndex(c: Ctx, val dir: String, n: Long) {
  import VersionedIndex._
  private val spark = c.spark
  import spark.implicits._
  private val order = new scala.util.Random(c.seed).shuffle((0L until n).toVector)
  private val live = mutable.Set.empty[Long] ++= (0L until n)
  private val deleted = mutable.Set.empty[Long]
  private var inserted = n
  val rounds, upserts, deletes, fresh = mutable.ArrayBuffer.empty[Double]
  val upAmp, delAmp = mutable.ArrayBuffer.empty[Double]

  /** Bulk build + versioned save of `vectors` (ids 0 until n). */
  def bulk(vectors: DataFrame): Unit = c.span("lifecycle.bulk") {
    val graph = c.span("lifecycle.build") { c.pin(KnnHnsw.build(vectors, Shards, M, EfC)) }
    c.span("lifecycle.save") { KnnHnsw.saveVersioned(graph, dir, Shards) }
    graph.unpersist(true)
  }

  /** The next round: upsert, delete, fresh search, status. */
  def round(): Unit = {
    val r = rounds.length + 1
    require(r * (Batch / 2 + Deletes) <= n, "moved and deleted ids would overlap")
    val newIds = (inserted until inserted + Batch / 2).toVector
    val moved = order.slice((r - 1) * Batch / 2, r * Batch / 2)
    val gone = order.slice(order.length - r * Deletes, order.length - (r - 1) * Deletes)
    val rows = Gen.upserts(spark, c.seed, newIds ++ moved, r)
    // probes: the new value of 3 inserted and 3 moved ids must rank
    // first at distance 0; 2 held-out queries fill the batch to Q = 8
    val probeIds = newIds.take(3) ++ moved.take(3)
    val probes = (probeIds.zipWithIndex.map { case (id, i) => (i.toLong, Gen.vector(c.seed, id, r)) } ++
      (0 until 2).map(j => (6L + j, Gen.vector(c.seed, QueryBase + r * 2 + j))))
      .toDF("query_id", "query_vec")
    val before = if (c.tracing) Ctx.bytesUnder(dir) else 0L
    val t0 = c.now()
    var result: Array[Row] = Array.empty
    var status: Row = null
    c.span("lifecycle.round") {
      upserts += timeMs(c.span("hnsw.upsert") {
        KnnHnsw.appendToVersioned(spark, dir, rows, Shards, M, EfC)
      })
      val mid = if (c.tracing) Ctx.bytesUnder(dir) else 0L
      deletes += timeMs(c.span("hnsw.delete") {
        KnnHnsw.markDeletedVersioned(spark, dir, gone.toDF("vec_id"))
      })
      if (c.tracing) {
        val after = Ctx.bytesUnder(dir)
        upAmp += (mid - before).toDouble / (Batch * VectorBytes)
        delAmp += (after - mid).toDouble / (Deletes * VectorBytes)
      }
      fresh += timeMs {
        val graph = c.span("hnsw.load.call") { KnnHnsw.loadVersioned(spark, dir) }
        val res = c.span("hnsw.search.call") { KnnHnsw.search(graph, probes, K, Ef) }
        result = c.span("hnsw.search.exec") { res.collect() }
      }
      status = c.span("lifecycle.status") {
        Lifecycle.status(KnnHnsw.loadVersioned(spark, dir)).collect().head
      }
    }
    rounds += c.now() - t0
    inserted += Batch / 2
    live ++= newIds; live --= gone; deleted ++= gone
    c.verify("fresh search", checkSearch(result.toSeq, 0L until 8L, live, live.size.toLong,
      probeIds.indices.map(i => i.toLong -> probeIds(i)).toMap))
    val (indexed, active, dead) = (status.getAs[Long]("count_indexed"),
      status.getAs[Long]("count_active"), status.getAs[Long]("count_deleted"))
    c.verify("status", Seq(
      s"indexed $indexed != active $active + deleted $dead" -> (indexed != active + dead),
      s"active $active, expected ${live.size}" -> (active != live.size),
      s"deleted $dead, expected ${deleted.size}" -> (dead != deleted.size)
    ).collect { case (msg, true) => msg })
  }

  private def timeMs(f: => Any): Double = { val t = c.now(); f; c.now() - t }
}

object VersionedIndex {
  val Batch = 64
  val Deletes = 64
  /** Ids of held-out probe vectors, past every id a round can insert. */
  val QueryBase = 1000000L
}

/** MinHash near-duplicate removal over generated docs with planted
  * copies: signatures, LSH pairs with exact verify, connected
  * components, survivors. No vector code runs. */
final class TextDedup(c: Ctx) extends Workload(c) {
  val N = 10000L
  val PrimePasses = 2
  private var docs: DataFrame = _
  private var planted: DataFrame = _

  /** One untimed pass at full size: the first pass in a JVM runs slowest. */
  override def warmup(): Unit = c.span("warmup") {
    val d = c.pin(Gen.docs(spark, c.seed, N))
    pass(d, N)._3.unpersist(true)
    d.unpersist(true)
  }

  def setup(): Unit = c.span("setup") {
    spark.catalog.clearCache()
    docs = c.span("gen.docs") { c.pin(Gen.docs(spark, c.seed, N)) }
    planted = c.pin(Gen.plantedPairs(spark, c.seed, N))
  }

  /** Untimed passes on the set-up's docs: the JIT still speeds the first
    * passes up. */
  override def prime(): Unit = c.span("warmup") {
    (1 to PrimePasses).foreach(_ => pass(docs, N)._3.unpersist(true))
  }

  /** One dedup pass; returns its wall and CPU ms, the pinned component
    * labels, the pairs found and (traced) the LSH candidates. */
  private def pass(d: DataFrame, n: Long): (Double, Cpu, DataFrame, Long, Long) = {
    var candidates = 0L
    val ((labels, pairsFound, survivors), ms, cpu) = c.measure { c.span("dedup.pass") {
      val sigs = c.span("dedup.signatures") { c.pin(Dedup.minhashSignatures(d, "doc_id", "text", 3, 32)) }
      if (c.tracing) candidates = c.span("dedup.candidates") { Dedup.minhashCandidatesFromSigs(sigs).count() }
      val pairs = c.span("dedup.pairs") { c.pin(Dedup.minhashPairsFromSigs(d, sigs)) }
      val labels = c.span("dedup.components") { c.pin(Dedup.duplicateComponents(d, pairs)) }
      val survivors = c.span("dedup.survivors") {
        d.join(labels.filter(col("component") === col("doc_id")).select("doc_id"), Seq("doc_id"), "left_semi")
          .count()
      }
      val found = pairs.count()
      sigs.unpersist(true); pairs.unpersist(true)
      (labels, found, survivors)
    } }
    val removed = labels.filter(col("component") =!= col("doc_id")).count()
    val minLabel = labels.filter(col("component") > col("doc_id")).count()
    c.verify("dedup pass", Seq(
      s"survivors $survivors + removed $removed != docs $n" -> (survivors + removed != n),
      s"$minLabel docs labelled above their own id" -> (minLabel != 0)
    ).collect { case (msg, true) => msg })
    (ms, cpu, labels, pairsFound, candidates)
  }

  def timed(ms: Double): Timed = {
    val passes = mutable.ArrayBuffer.empty[(Double, Cpu)]
    val found, yields = mutable.ArrayBuffer.empty[Double]
    var labels: DataFrame = null
    val start = c.now()
    while (passes.isEmpty || c.now() - start + passes.last._1 <= ms) {
      if (labels != null) labels.unpersist(true)
      val (t, cpu, l, pairs, cands) = pass(docs, N)
      passes += ((t, cpu)); labels = l; found += pairs.toDouble
      if (cands > 0) yields += pairs.toDouble / cands
    }
    val heap = Jvm.retainedMb()
    val recall = plantedRecall(planted, labels)
    labels.unpersist(true)
    // throughput of the median pass: the per-pass output checks are not
    // dedup work, and the JIT still speeds up the first passes of a run
    val walls = passes.map(_._1).toSeq
    val works = passes.map(_._2.work).toSeq
    Timed(walls, works, N, Stats.median(walls), Stats.median(works), recall, heap, opClasses("pass", passes.toSeq),
      Map("dedup.pairs_found" -> Stats.mean(found.toSeq), "dedup.verify_yield" -> Stats.mean(yields.toSeq)))
  }
}
