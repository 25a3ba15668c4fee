package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XXH64

/** Seeded input generators. Every value is a pure function of
  * (seed, row id, position) through xxhash64 (Spark's own `XXH64`),
  * mapped over `spark.range`, so one seed gives the same frames on any
  * host and any partitioning, and graft only ever sees generated
  * DataFrames. */
object Gen {
  val Dim = 768
  val Clusters = 50
  /** Within-cluster noise relative to the spread of the cluster centres. */
  val Noise = 0.6f
  /** Displacement of an upserted vector from its previous value. */
  val Jitter = 0.1f

  def hash(seed: Long, parts: Long*): Long = parts.foldLeft(seed)((h, p) => XXH64.hashLong(p, h))

  /** A roughly standard-normal value from one 64-bit hash: the sum of its
    * four 16-bit lanes (Irwin–Hall, n = 4), centred and scaled. */
  def gauss(h: Long): Float = {
    val s = (h & 0xffffL) + ((h >>> 16) & 0xffffL) + ((h >>> 32) & 0xffffL) + (h >>> 48)
    ((s - 4 * 32767.5) / (65536.0 * math.sqrt(4.0 / 12.0))).toFloat
  }

  // hash-stream tags: one independent stream per generated quantity
  private val TCluster = 1L; private val TCentre = 2L; private val TNoise = 3L
  private val TJitter = 4L; private val TWord = 5L; private val TEdit = 6L
  private val TSource = 7L

  /** Vector `id`: its cluster's centre plus isotropic noise; `round > 0`
    * adds that upsert round's seeded displacement. */
  def vector(seed: Long, id: Long, round: Int = 0): Array[Float] = {
    val c = java.lang.Math.floorMod(hash(seed, TCluster, id), Clusters.toLong)
    val centre = hash(seed, TCentre, c)
    val noise = hash(seed, TNoise, id)
    val jitter = hash(seed, TJitter, id, round)
    Array.tabulate(Dim) { d =>
      val v = gauss(XXH64.hashLong(d, centre)) + Noise * gauss(XXH64.hashLong(d, noise))
      if (round == 0) v else v + Jitter * gauss(XXH64.hashLong(d, jitter))
    }
  }

  /** `(vec_id, embedding)` rows for ids `[from, until)`. */
  def vectors(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    spark.range(from, until).map(id => (id.longValue, vector(seed, id))).toDF("vec_id", "embedding")
  }

  /** Held-out queries `(query_id, query_vec)`: ids past the corpus, drawn
    * from the same distribution. */
  def queries(spark: SparkSession, seed: Long, from: Long, until: Long): DataFrame =
    vectors(spark, seed, from, until).toDF("query_id", "query_vec")

  /** New values of `ids` in upsert round `round` (>= 1). */
  def upserts(spark: SparkSession, seed: Long, ids: Seq[Long], round: Int): DataFrame = {
    import spark.implicits._
    ids.map(id => (id, vector(seed, id, round))).toDF("vec_id", "embedding")
  }

  val Vocab = 5000
  val DocTokens = 120
  /** Every `CopyEvery`-th doc is a planted near-copy of an earlier original. */
  val CopyEvery = 10
  /** Per-token replacement rate of a planted copy, in percent. */
  val CopyEditPct = 5

  def isCopy(id: Long): Boolean = id % CopyEvery == CopyEvery - 1

  /** Source of planted copy `id`: a seeded pick among the ORIGINAL docs
    * below it, so every planted pair is (copy, original). */
  def sourceOf(seed: Long, id: Long): Long = {
    val per = CopyEvery - 1
    val k = java.lang.Math.floorMod(hash(seed, TSource, id), (id / CopyEvery + 1) * per)
    k / per * CopyEvery + k % per
  }

  /** Text of doc `id`: [[DocTokens]] words over a [[Vocab]]-word
    * vocabulary; a planted copy repeats its source's words with
    * [[CopyEditPct]]% of positions replaced. */
  def text(seed: Long, id: Long): String = {
    val copy = isCopy(id)
    val own = hash(seed, TWord, id)
    val words = if (copy) hash(seed, TWord, sourceOf(seed, id)) else own
    val edits = hash(seed, TEdit, id)
    val sb = new java.lang.StringBuilder(DocTokens * 6)
    var p = 0
    while (p < DocTokens) {
      val edited = copy && java.lang.Math.floorMod(XXH64.hashLong(p, edits), 100L) < CopyEditPct
      val w = XXH64.hashLong(if (edited) p + DocTokens else p, if (edited) own else words)
      if (p > 0) sb.append(' ')
      sb.append('w').append(java.lang.Math.floorMod(w, Vocab.toLong))
      p += 1
    }
    sb.toString
  }

  /** `(doc_id, text)` for ids `[0, n)`. */
  def docs(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n).map(id => (id.longValue, text(seed, id))).toDF("doc_id", "text")
  }

  /** `(copy_id, source_id)` of every planted pair among ids `[0, n)`. */
  def plantedPairs(spark: SparkSession, seed: Long, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0, n).filter(id => isCopy(id)).map(id => (id.longValue, sourceOf(seed, id)))
      .toDF("copy_id", "source_id")
  }
}
