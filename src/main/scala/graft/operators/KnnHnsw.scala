package graft.operators

import scala.collection.mutable
import scala.reflect.runtime.universe.TypeTag

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.KnownNotContainsNull
import org.apache.spark.sql.functions._

/** Graph-shaped ANN: shard-partitioned navigable-small-world graphs — the
  * Spark-native rendition of the reference's actual index structure
  * (`executor.py:49,66-70` wraps an HNSW library; build knobs
  * ef_construction/M at `executor.py:52-55`, query knob ef at 66-70).
  *
  * A monolithic HNSW graph is a SERVING structure: one shared memory
  * space, pointer-chasing, lock-free inserts. A distributed batch engine
  * should not emulate that shape — the scale rendition is S independent
  * shard graphs:
  *
  *   - vectors hash-partition into S shards (`pmod(xxhash64(id), S)`);
  *   - each shard builds its own in-memory single-layer NSW graph
  *     (Malkov et al. 2014 — greedy beam insert, M neighbors per node,
  *     efConstruction beam width) inside ONE `flatMapGroups` task;
  *   - a query batch broadcasts to every shard, beam-searches each shard
  *     graph at efQuery, and the per-shard top-k merge globally through
  *     the same bounded aggregation every other k-NN path uses.
  *
  * Hash-sharding makes the merge EXACT: the true global top-k is the
  * union of per-shard true top-k, so approximation error comes only from
  * within-shard graph search — and shard graphs are N/S nodes, where
  * beam search is MORE accurate than over one N-node graph. The hierarchy
  * of HNSW accelerates entry-point descent on huge graphs; bounded shards
  * don't need it (entry = first inserted node), which also keeps the
  * build single-pass deterministic (insertion in ascending id order,
  * (distance, id) ordering everywhere — same graph every run, any
  * partitioning).
  *
  * 100 TB posture: choose S so one shard's vectors + adjacency fit one
  * task's heap (at 64-dim floats, a 4 GiB task holds ~10M vectors; 100 TB
  * of 1 KiB docs with embeddings wants S in the low thousands). Build is
  * embarrassingly parallel (one task per shard, no shuffle after the
  * hash exchange); the persisted layout is shard-partitioned parquet, so
  * serving reads stay pruned and append = rebuild of touched shards only.
  * Queries are broadcast-sized by the same contract as
  * [[KnnIvf.searchPruned]]'s probe set.
  */
object KnnHnsw {

  /** Deterministic single-layer NSW over one shard, built and searched
    * entirely inside a task. Distances are cosine (1 − cos) computed
    * with the same double-accumulator loop as the codegen'd
    * `VectorExprs.CosineSim`, so emitted scores agree bit-for-bit with
    * the exact twin's. Nodes live in growable primitive arrays; a
    * node's adjacency is `deg(i)` entries of `adj(i)`, whose build-time
    * capacity `mMax + 1` takes the reverse edge before a prune. */
  private[graft] final class NswGraph(m: Int, efConstruction: Int) {
    private val mMax = 2 * m // reverse-edge degree cap (layer-0 HNSW rule)
    private var n = 0
    private var ids = new Array[Long](16)
    private var vecs = new Array[Array[Float]](16)
    private var adj = new Array[Array[Int]](16)
    private var deg = new Array[Int](16)

    /** Restore one persisted shard for serving. Adjacency arrives as
      * persisted LOCAL indices, so restore is one array placement per
      * row: no sort, no id→index map (the cost the pre-r11 global-id
      * layout paid per query batch). A restored graph only serves, so
      * its build knobs are unused. */
    def this(shard: Array[ShardRow]) = {
      this(0, 0)
      n = shard.length
      ids = new Array[Long](n); vecs = new Array[Array[Float]](n)
      adj = new Array[Array[Int]](n); deg = new Array[Int](n)
      shard.foreach { case (_, i, id, vec, nbs, _) =>
        ids(i) = id; vecs(i) = vec; adj(i) = nbs; deg(i) = nbs.length
      }
    }

    def size: Int = n
    def id(i: Int): Long = ids(i)
    def vec(i: Int): Array[Float] = vecs(i)
    /** Node `i`'s out-edges in stored order (a copy). */
    def neighbors(i: Int): Array[Int] = java.util.Arrays.copyOf(adj(i), deg(i))

    /** The beam's total order on (distance, local index): distance by
      * `java.lang.Double.compare`, then vec id, so ties (exact duplicate
      * vectors) break identically every run. */
    private def compare(d1: Double, i1: Int, d2: Double, i2: Int): Int = {
      val c = java.lang.Double.compare(d1, d2)
      if (c != 0) c else java.lang.Long.compare(ids(i1), ids(i2))
    }

    /** A binary heap of (distance, local index) under [[compare]]:
      * nearest entry on top, or farthest when `farFirst`. */
    private final class Heap(farFirst: Boolean) {
      private var ds = new Array[Double](64)
      private var xs = new Array[Int](64)
      var size = 0
      def topDist: Double = ds(0)
      def topNode: Int = xs(0)
      private def above(a: Int, b: Int): Boolean = {
        val c = compare(ds(a), xs(a), ds(b), xs(b))
        if (farFirst) c > 0 else c < 0
      }
      private def swap(a: Int, b: Int): Unit = {
        val d = ds(a); ds(a) = ds(b); ds(b) = d
        val x = xs(a); xs(a) = xs(b); xs(b) = x
      }
      def push(d: Double, x: Int): Unit = {
        if (size == ds.length) {
          ds = java.util.Arrays.copyOf(ds, 2 * size)
          xs = java.util.Arrays.copyOf(xs, 2 * size)
        }
        ds(size) = d; xs(size) = x
        var c = size
        size += 1
        while (c > 0 && above(c, (c - 1) >>> 1)) {
          swap(c, (c - 1) >>> 1); c = (c - 1) >>> 1
        }
      }
      def pop(): Unit = {
        size -= 1
        ds(0) = ds(size); xs(0) = xs(size)
        var p = 0
        var done = false
        while (!done) {
          val l = 2 * p + 1
          if (l >= size) done = true
          else {
            val c = if (l + 1 < size && above(l + 1, l)) l + 1 else l
            if (above(c, p)) { swap(c, p); p = c } else done = true
          }
        }
      }
    }

    private val candidates = new Heap(farFirst = false)
    private val results = new Heap(farFirst = true)
    // visited(i) == stamp marks node i seen by the running search
    private var visited = new Array[Int](0)
    private var stamp = 0

    private[graft] def searchBeam(q: Array[Float], ef: Int,
        allowed: Int => Boolean = _ => true): IndexedSeq[(Double, Int)] =
      searchBeamWith(i => cosineDist(q, vecs(i)), ef, allowed)

    /** Beam search: best-first expansion keeping the ef closest found;
      * stops when the nearest open candidate is farther than the worst
      * kept result. Returns (distance, local index) sorted by [[compare]].
      * `allowed` is the tombstone filter (hnswlib `mark_deleted`
      * semantics, the reference's delete path `executor.py:223`):
      * DISALLOWED nodes still route the expansion — their edges are what
      * keep the graph connected — but never enter the result heap, so
      * they are excluded from every result list. With the default
      * always-true filter the control flow is identical to the unfiltered
      * beam (same admissions, same terminations, same results).
      *
      * Parameterized by the node-distance function, so the cosine path
      * ([[searchBeam]]) and the binary-quantized Hamming path
      * ([[KnnHnsw.searchBq]]) share identical control flow. */
    private[graft] def searchBeamWith(distFn: Int => Double, ef: Int,
        allowed: Int => Boolean = _ => true): IndexedSeq[(Double, Int)] = {
      if (n == 0) return IndexedSeq.empty
      if (visited.length < n) visited = new Array[Int](ids.length)
      if (stamp == Int.MaxValue) { java.util.Arrays.fill(visited, 0); stamp = 0 }
      stamp += 1
      candidates.size = 0; results.size = 0
      val d0 = distFn(0)
      visited(0) = stamp; candidates.push(d0, 0)
      if (allowed(0)) results.push(d0, 0)
      while (candidates.size > 0 && !(results.size >= ef &&
          compare(candidates.topDist, candidates.topNode,
            results.topDist, results.topNode) > 0)) {
        val c = candidates.topNode
        candidates.pop()
        val nbs = adj(c)
        var i = 0
        while (i < deg(c)) {
          val nb = nbs(i)
          if (visited(nb) != stamp) {
            visited(nb) = stamp
            val d = distFn(nb)
            if (results.size < ef ||
                compare(d, nb, results.topDist, results.topNode) < 0) {
              candidates.push(d, nb)
              if (allowed(nb)) {
                results.push(d, nb)
                if (results.size > ef) results.pop()
              }
            }
          }
          i += 1
        }
      }
      val out = new Array[(Double, Int)](results.size)
      var j = out.length - 1
      while (j >= 0) {
        out(j) = (results.topDist, results.topNode); results.pop(); j -= 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }

    /** NSW insert: beam-find efConstruction closest, link to the m
      * nearest bidirectionally, cap any over-degree neighbor at mMax
      * closest (its own distances, local-index tiebreak). */
    private[graft] def insert(id: Long, vec: Array[Float]): Unit = {
      if (n == ids.length) {
        ids = java.util.Arrays.copyOf(ids, 2 * n)
        vecs = java.util.Arrays.copyOf(vecs, 2 * n)
        adj = java.util.Arrays.copyOf(adj, 2 * n)
        deg = java.util.Arrays.copyOf(deg, 2 * n)
      }
      val idx = n
      ids(idx) = id; vecs(idx) = vec; adj(idx) = new Array[Int](mMax + 1)
      n += 1
      if (idx == 0) return
      val near = searchBeam(vec, efConstruction)
      deg(idx) = math.min(m, near.length)
      var j = 0
      while (j < deg(idx)) {
        val nb = near(j)._2
        adj(idx)(j) = nb
        adj(nb)(deg(nb)) = idx
        deg(nb) += 1
        if (deg(nb) > mMax) prune(nb)
        j += 1
      }
    }

    /** Keep node `nb`'s mMax closest out-edges, ordered by (distance from
      * `nb`, local index): an insertion sort of its mMax + 1 entries. */
    private def prune(nb: Int): Unit = {
      val xs = adj(nb)
      val ds = Array.tabulate(deg(nb))(k => cosineDist(vecs(nb), vecs(xs(k))))
      var k = 1
      while (k < ds.length) {
        val d = ds(k); val x = xs(k)
        var p = k - 1
        while (p >= 0 && {
            val c = java.lang.Double.compare(ds(p), d)
            c > 0 || (c == 0 && xs(p) > x)
          }) {
          ds(p + 1) = ds(p); xs(p + 1) = xs(p); p -= 1
        }
        ds(p + 1) = d; xs(p + 1) = x
        k += 1
      }
      deg(nb) = mMax
    }
  }

  /** A served graph row: (shard, local_idx, vec_id, embedding, neighbor_idx, deleted). */
  private[graft] type ShardRow = (Int, Int, Long, Array[Float], Array[Int], Boolean)

  /** Same arithmetic as the codegen'd CosineSim kernel (double
    * accumulators over float reads, same loop order) so JVM-side scores
    * match the Catalyst exact twin's bit-for-bit. */
  private[graft] def cosineDist(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    1.0 - dot / (math.sqrt(na) * math.sqrt(nb))
  }

  private def roundHalfUp4(d: Double): Double =
    java.math.BigDecimal.valueOf(d)
      .setScale(4, java.math.RoundingMode.HALF_UP).doubleValue() + 0.0

  private[operators] def buildShard(m: Int, efConstruction: Int,
      rows: Iterator[(Int, Long, Array[Float])]): Iterator[(Int, Int, Long, Array[Float], Array[Int])] = {
    val sorted = rows.toArray.sortBy(_._2) // ascending id = deterministic graph
    if (sorted.isEmpty) return Iterator.empty
    val shard = sorted.head._1
    val g = new NswGraph(m, efConstruction)
    sorted.foreach { case (_, id, vec) => g.insert(id, vec) }
    (0 until g.size).iterator.map { i =>
      val nbs = g.neighbors(i)
      java.util.Arrays.sort(nbs)
      (shard, i, g.id(i), g.vec(i), nbs)
    }
  }

  /** Build the sharded graph as a DataFrame (shard, local_idx, vec_id,
    * embedding, neighbor_idx): one `flatMapGroups` task per shard, each
    * holding only its own N/S vectors. Adjacency is persisted as LOCAL
    * indices alongside the row's own insertion index — the reference's
    * restore is load-once array reads (`executor.py:51-57`), and local
    * indices make OUR restore an array placement per row: no per-batch
    * re-sort and no id→index hash map at serve time (the r10 search path
    * re-derived both from global-id adjacency on every query batch).
    * `local_idx` is the rank of the id within its shard (insertion is
    * ascending-id), so the layout is deterministic and derivable —
    * storing it costs one int per row and buys an O(n) restore. */
  def build(corpus: DataFrame, numShards: Int, m: Int = 8,
            efConstruction: Int = 64,
            idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import corpus.sparkSession.implicits._
    corpus
      .select(pmod(xxhash64(col(idCol)), lit(numShards)).cast("int").as("shard"),
        col(idCol).cast("long").as("id"), col(vecCol).cast("array<float>").as("vec"))
      .as[(Int, Long, Array[Float])]
      .groupByKey(_._1)
      .flatMapGroups((_: Int, rows: Iterator[(Int, Long, Array[Float])]) =>
        buildShard(m, efConstruction, rows))
      .toDF("shard", "local_idx", "vec_id", "embedding", "neighbor_idx")
  }

  /** Persist shard-partitioned (the reference persists its graph + id map
    * and restores on startup, `executor.py:227-236`); a reload scans only
    * the shards it touches. */
  def save(graph: DataFrame, path: String): Unit =
    Scale.dumpPartitionedBy(graph, path, "shard")

  /** Read a [[save]]d graph, with no Spark job (see
    * [[Scale.loadPartitioned]]). */
  def load(spark: SparkSession, path: String): DataFrame =
    restoreColumns(Scale.loadPartitioned(spark, path))

  /** The schema restoration shared by [[load]] and [[loadVersioned]]. */
  private[graft] def restoreColumns(raw: DataFrame): DataFrame = {
    // a partitioned read appends shard last, typed by inference (int in
    // Spark 4.1.2); restore the written order and types so load is a
    // true inverse of save
    val base = Seq(col("shard").cast("int").as("shard"),
      col("local_idx").cast("int").as("local_idx"),
      col("vec_id"), col("embedding"),
      col("neighbor_idx").cast("array<int>").as("neighbor_idx"))
    // a graph saved after markDeleted carries its tombstones through
    // the round-trip (the reference persists its id map + deleted
    // accounting the same way, executor.py:227-236); files written
    // before the first tombstone read the flag as null, i.e. live
    if (raw.columns.contains("deleted"))
      raw.select(base :+
        coalesce(col("deleted").cast("boolean"), lit(false)).as("deleted"): _*)
    else raw.select(base: _*)
  }

  /** Append/upsert into a SAVED graph: new rows hash to their shards and
    * ONLY those shards rebuild (surviving existing rows + new rows,
    * last-wins on id), dynamically overwriting just the touched shard
    * directories — the graph sibling of [[KnnIvf.appendTo]]'s
    * cell-directory append. Because the per-shard build is deterministic
    * over the shard's id set, the appended index is IDENTICAL to a
    * from-scratch rebuild of the whole corpus (spec-pinned) — incremental
    * ingest costs touched-shards work with zero quality drift. The
    * touched-shard collect is ≤ numShards ints, the same bounded
    * metadata resolve as IVF's probed-cell set. */
  def appendTo(spark: SparkSession, path: String, newRows: DataFrame,
               numShards: Int, m: Int = 8, efConstruction: Int = 64,
               idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    overwriteShards(rebuildTouched(load(spark, path), newRows, idCol, vecCol,
      numShards, m, efConstruction,
      _.localCheckpoint(true))._2, // read completes before its source dirs rewrite
      path)
  }

  /** The shards `rows` hash to, sorted: ≤ numShards ints. */
  private def shardsOf(rows: DataFrame, numShards: Int): Array[Int] =
    rows.select(pmod(xxhash64(col("vec_id")), lit(numShards)).cast("int").as("shard"))
      .distinct().collect().map(_.getInt(0)).sorted

  private def inShards(shards: Array[Int]) =
    col("shard").isin(shards.map(Integer.valueOf): _*)

  /** The upsert rebuild of [[appendTo]] and [[appendToVersioned]]: the
    * shards `newRows` touch rebuild from their survivors plus the batch.
    * `pin` materializes the survivors before a publish over their own
    * files. Returns (touched shards, rebuilt rows). */
  private def rebuildTouched(saved: DataFrame, newRows: DataFrame,
      idCol: String, vecCol: String, numShards: Int, m: Int,
      efConstruction: Int, pin: DataFrame => DataFrame): (Array[Int], DataFrame) = {
    val incoming = newRows.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<float>").as("embedding"))
    val touched = shardsOf(incoming, numShards)
    val hasTombstones = saved.columns.contains("deleted")
    val survivingCols =
      if (hasTombstones) Seq(col("vec_id"), col("embedding"), col("deleted"))
      else Seq(col("vec_id"), col("embedding"))
    val surviving = pin(saved
      .filter(inShards(touched))
      .select(survivingCols: _*)
      .join(incoming.select("vec_id"), Seq("vec_id"), "left_anti"))
    val rebuilt = build(
      surviving.select("vec_id", "embedding").unionByName(incoming),
      numShards, m, efConstruction)
    // tombstoned survivors keep their flag (they must keep routing);
    // an upserted id revives as live — the reference's re-index path
    // treats a deleted id as brand new (executor.py:151-161 after
    // :224 removed it from the id map)
    (touched,
      if (!hasTombstones) rebuilt
      else rebuilt.join(surviving.select(col("vec_id"), col("deleted")),
          Seq("vec_id"), "left")
        .withColumn("deleted", coalesce(col("deleted"), lit(false)))
        .select(col("shard"), col("local_idx"), col("vec_id"),
          col("embedding"), col("neighbor_idx"), col("deleted")))
  }

  /** In-place publish: rewrite only the shard directories `rows` hold. */
  private def overwriteShards(rows: DataFrame, path: String): Unit =
    rows.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("shard").parquet(path)

  /** Purge tombstones from a SAVED graph: shards containing any deleted
    * row rebuild from their live rows only ([[appendTo]]'s
    * touched-shard pattern — the bounded collect is ≤ numShards ints);
    * untouched shard directories are never rewritten. Deterministic
    * per-shard builds make the compacted index IDENTICAL to a
    * from-scratch build of the live corpus (spec-pinned). The
    * tombstone-and-compact pair is the graph lifecycle the reference
    * cannot offer (hnswlib never reclaims deleted slots,
    * `executor.py:223` tombstones forever): serve through the
    * routed-but-excluded tombstones while deletion churn is low, compact
    * when the deleted fraction makes the extra routing work matter. */
  def compact(spark: SparkSession, path: String, numShards: Int,
              m: Int = 8, efConstruction: Int = 64): Unit =
    rebuildLive(load(spark, path), numShards, m, efConstruction,
        _.localCheckpoint(true)) // read completes before the dirs it read from rewrite
      .foreach { case (touched, live, rebuilt) =>
        overwriteShards(rebuilt, path)
        // a shard whose rows were ALL deleted emits nothing — dynamic
        // overwrite leaves its stale directory in place; drop it explicitly
        val emptied = touched.filterNot(shardsOf(live, numShards).toSet)
        if (emptied.nonEmpty) {
          val root = new Path(path)
          val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
          emptied.foreach { sh =>
            fs.delete(new Path(root, s"shard=$sh"), true): Unit
          }
        }
      }

  /** The compact rebuild of [[compact]] and [[compactVersioned]]:
    * (tombstoned shards, their live rows, those rebuilt), None if none. */
  private def rebuildLive(g: DataFrame, numShards: Int, m: Int,
      efConstruction: Int, pin: DataFrame => DataFrame)
      : Option[(Array[Int], DataFrame, DataFrame)] = {
    if (!g.columns.contains("deleted")) return None
    val touched = g.filter(col("deleted")).select("shard").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return None
    val live = pin(g.filter(inShards(touched))
      .filter(!col("deleted"))
      .select(col("vec_id"), col("embedding")))
    // rebuilt shards keep the column so every file in the table shares
    // one schema (the untouched shards still carry it)
    Some((touched, live,
      build(live, numShards, m, efConstruction).withColumn("deleted", lit(false))))
  }

  // ---------------------------------------------------------------------
  // Versioned graph: shard rewrites under the table layer's COMMIT
  // DISCIPLINE — the [[KnnIvf.saveVersioned]] sibling for the NSW index.
  // ---------------------------------------------------------------------

  /** Cluster a graph frame ~one-file-per-shard so manifest `shard`
    * stats stay sharp. Range-partitioned on the shard ALONE so file
    * stats boxes partition the shard space without overlap — the
    * precondition for shard-disjoint racers to rebase past each other
    * (see [[KnnIvf]]'s arrangeByCell note). */
  private def arrangeByShard(df: DataFrame, nFiles: Int): DataFrame =
    df.repartitionByRange(math.max(1, nFiles), col("shard"))
      .sortWithinPartitions("shard")

  /** Persist the sharded graph as a [[Versioned]] table with per-file
    * `shard` stats: every later mutation ([[appendToVersioned]],
    * [[markDeletedVersioned]], [[compactVersioned]]) is an atomic
    * manifest commit with retry/rebase — racing SHARD-DISJOINT ingests
    * both land, overlapping ones refuse typed, and a half-written shard
    * rewrite is invisible to readers (they only see committed
    * manifests). The in-place [[save]]/[[appendTo]]/[[compact]] flavor
    * keeps the reference's single-writer dump semantics
    * (`executor.py:227-236`). */
  def saveVersioned(graph: DataFrame, path: String, numShards: Int): Int =
    Versioned.init(arrangeByShard(graph, numShards), path,
      statsCol = Some("shard"))

  /** Restore a versioned graph at a pinned version (latest by default),
    * with the same schema restoration as [[load]]. */
  def loadVersioned(spark: SparkSession, path: String,
                    version: Option[Int] = None): DataFrame =
    restoreColumns(Versioned.read(spark, path, version))

  /** Append/upsert into a versioned graph as a partition-COW commit:
    * new rows hash to their shards, ONLY those shards rebuild
    * (survivors ∪ batch, last-wins on id — identical to a from-scratch
    * rebuild by per-shard determinism), and the rewrite publishes via
    * [[Versioned.replacePartitions]]: racing ingests on disjoint shard
    * sets both land with linearized versions; anything that touched
    * this writer's shards (same-shard ingest, compact) refuses typed. */
  def appendToVersioned(spark: SparkSession, path: String, newRows: DataFrame,
                        numShards: Int, m: Int = 8, efConstruction: Int = 64,
                        idCol: String = "vec_id", vecCol: String = "embedding"): Int =
    appendToVersionedAt(spark, path, newRows, numShards, m, efConstruction,
      idCol, vecCol, Versioned.snapshot(spark, path))

  /** [[appendToVersioned]] against a CALLER-PINNED base snapshot — the
    * deterministic-interleave face of the race protocol (the graph twin
    * of [[KnnIvf.appendToVersionedAt]]): a stale base whose touched
    * shards were since rewritten refuses with the typed conflict; a
    * stale base whose shards survived rebases and lands. */
  private[graft] def appendToVersionedAt(spark: SparkSession, path: String,
                                         newRows: DataFrame, numShards: Int,
                                         m: Int, efConstruction: Int,
                                         idCol: String, vecCol: String,
                                         base: Versioned.Snapshot): Int = {
    val (touched, rows) = rebuildTouched(loadVersioned(spark, path, Some(base.version)),
      newRows, idCol, vecCol, numShards, m, efConstruction, identity)
    if (touched.isEmpty) base.version else replaceShards(rows, path, touched, base)
  }

  /** Versioned publish: a partition-COW commit replacing `touched`. */
  private def replaceShards(rows: DataFrame, path: String, touched: Array[Int],
                            base: Versioned.Snapshot): Int =
    Versioned.replacePartitions(arrangeByShard(rows, touched.length),
      path, "shard", touched.map(_.toLong), base)

  /** Tombstone ids in a versioned graph as a partition-COW commit:
    * shards containing a marked id rewrite with the `deleted` flag set
    * (rows keep ROUTING, never surface — [[markDeleted]] semantics,
    * now atomic and time-travelable); untouched shards carry by
    * reference and null-fill the flag on read ([[loadVersioned]]
    * coalesces it to false). */
  def markDeletedVersioned(spark: SparkSession, path: String, ids: DataFrame,
                           idCol: String = "vec_id"): Int = {
    val marks = ids.select(col(idCol).as("vec_id")).distinct()
    val base = Versioned.snapshot(spark, path)
    val g = loadVersioned(spark, path, Some(base.version))
    val touched = g.join(broadcast(marks), Seq("vec_id"), "left_semi")
      .select("shard").distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return base.version
    replaceShards(markDeleted(g.filter(inShards(touched)), marks),
      path, touched, base)
  }

  /** Purge tombstones from a versioned graph as a partition-COW commit:
    * shards with any deleted row rebuild from live rows only (identical
    * to a from-scratch build of the live corpus, per-shard determinism);
    * racing commits follow the [[appendToVersioned]] rules. A shard
    * left with no live rows simply leaves the manifest. */
  def compactVersioned(spark: SparkSession, path: String, numShards: Int,
                       m: Int = 8, efConstruction: Int = 64): Int = {
    val base = Versioned.snapshot(spark, path)
    rebuildLive(loadVersioned(spark, path, Some(base.version)), numShards,
        m, efConstruction, identity)
      .fold(base.version) { case (touched, _, rebuilt) =>
        replaceShards(rebuilt, path, touched, base)
      }
  }

  /** Tombstone rows of a graph frame: every `vec_id` in `ids` keeps
    * ROUTING beam expansion (its edges are load-bearing for graph
    * connectivity — hnswlib's `mark_deleted`, the reference's delete
    * path `executor.py:213-225`: slot not reused, excluded from
    * results) but is excluded from every result list [[search]] emits.
    * Idempotent and cumulative: marking on an already-marked frame ORs
    * the tombstone sets. A plain left join — the deleted set stays
    * distributed, never collected. */
  def markDeleted(graph: DataFrame, ids: DataFrame,
                  idCol: String = "vec_id"): DataFrame = {
    val marks = ids.select(col(idCol).as("vec_id")).distinct()
      .withColumn("__mark", lit(true))
    val prior = if (graph.columns.contains("deleted")) col("deleted") else lit(false)
    graph.join(marks, Seq("vec_id"), "left")
      .withColumn("deleted", coalesce(col("__mark"), prior, lit(false)))
      .drop("__mark")
  }

  /** The serve path of [[search]], [[searchMulti]] and [[searchBq]]:
    * collect the bounded query batch (IVF's probe-resolve contract),
    * restore each shard graph ONCE inside its task, and run `emit` there
    * with the tombstone filter — a `deleted` column (from [[markDeleted]])
    * routes but is never returned. The graphs never leave their tasks. */
  private def serveShards[T <: Product : TypeTag](graph: DataFrame, queries: DataFrame,
      queryId: String, queryVec: String)(
      emit: (NswGraph, Int => Boolean, Array[(Long, Array[Float])]) => Iterator[T])
      : Dataset[T] = {
    import graph.sparkSession.implicits._
    val qs: Array[(Long, Array[Float])] = queries
      .select(col(queryId).cast("long"), col(queryVec).cast("array<float>"))
      .as[(Long, Array[Float])].collect().sortBy(_._1)
    val delCol =
      if (graph.columns.contains("deleted")) col("deleted") else lit(false)
    // a file read types both arrays as containsNull (every file-source
    // field is nullable), which makes the decode box each element; graph
    // rows come from [[build]], whose encoder rejects null elements, so
    // the tag holds and the decode is one primitive array copy
    def noNullElements(c: String) =
      GraftColumnBridge.column(KnownNotContainsNull(GraftColumnBridge.expression(col(c))))
        .as(c)
    graph
      .select(col("shard"), col("local_idx"), col("vec_id"), noNullElements("embedding"),
        noNullElements("neighbor_idx"), delCol.as("deleted"))
      .as[ShardRow]
      // shards are whole within a hash partition; a partition may hold
      // several, so restore each shard's graph separately
      .repartition(col("shard"))
      .mapPartitions { rows =>
        rows.toArray.groupBy(_._1).iterator.flatMap { case (_, shardRows) =>
          val dead = mutable.BitSet.fromSpecific(shardRows.iterator.filter(_._6).map(_._2))
          val allowed: Int => Boolean = if (dead.isEmpty) _ => true else i => !dead(i)
          emit(new NswGraph(shardRows), allowed, qs)
        }
      }
  }

  /** Search every shard graph for the broadcast query batch and merge
    * per-shard top-k globally. efQuery is the reference's ef knob
    * (`executor.py:66-70`): beam width per shard, recall-vs-cost. */
  def search(graph: DataFrame, queries: DataFrame, k: Int, efQuery: Int,
             queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val scored = serveShards(graph, queries, queryId, queryVec)(
      beamTopK(_, _, _, k, math.max(1, efQuery))).toDF("query_id", "match_id", "score")
    KnnTopK.boundedTopK(scored, k, asc = true)
  }

  /** Every query's per-shard top-k at beam width `ef`: (query, match, score). */
  private def beamTopK(g: NswGraph, allowed: Int => Boolean,
      qs: Array[(Long, Array[Float])], k: Int, ef: Int): Iterator[(Long, Long, Double)] =
    qs.iterator.flatMap { case (qid, qvec) =>
      g.searchBeam(qvec, ef, allowed).take(k).map { case (d, i) =>
        (qid, g.id(i), roundHalfUp4(d))
      }
    }

  /** [[search]] at SEVERAL beam widths in ONE pass over the graph — the
    * ef-sweep shape ([[KnnIvf.searchPrunedMulti]]'s precedent for the
    * graph index): each shard graph is shuffled and restored ONCE and
    * then beam-searched per (ef, query), instead of the sweep paying the
    * full exchange + O(n) restore once per ef value. Per-ef results are
    * IDENTICAL to [[search]] at that ef — same beam control flow, same
    * per-shard take(k), same bounded global merge, now keyed by
    * (ef, query) — spec-pinned in KnnHnswSpec.
    * @return (query_id, ef, match_id, score, rank) with ef as long */
  def searchMulti(graph: DataFrame, queries: DataFrame, k: Int,
                  efQueries: Seq[Int], queryId: String = "query_id",
                  queryVec: String = "query_vec"): DataFrame = {
    val efs = efQueries.map(e => math.max(1, e))
    val scored = serveShards(graph, queries, queryId, queryVec) { (g, allowed, qs) =>
      efs.iterator.flatMap(ef => beamTopK(g, allowed, qs, k, ef)
        .map { case (qid, id, score) => (ef.toLong, qid, id, score) })
    }.toDF("ef", "query_id", "match_id", "score")
    KnnTopK.boundedTopK(scored, k, asc = true, extraKeys = Seq("ef"))
  }

  /** Binary-quantized graph serving — the beam routes on HAMMING
    * distance over packed sign bits (the 32× cheaper per-hop distance of
    * the BQ cascade, [[Quantize.bqSearchRerank]], applied to the GRAPH
    * traversal), then the ef pool reranks by EXACT cosine inside the
    * same shard task — the float vectors are co-resident, so the rerank
    * costs pool·dim multiplies and ships nothing.
    *
    * Packing matches `VectorExprs.BqPack` bit-for-bit (bit set iff
    * component > 0, 64 components per long word), so the quantization
    * here IS the persisted `bq_code` layout's. Codes are packed at shard
    * restore (one O(n·dim) pass — the cost of a single full-shard
    * distance sweep) and could equally be persisted columns; emitted
    * scores are [[cosineDist]] + 4dp round, directly comparable to the
    * exact twin for recall gating.
    *
    * @param efQuery beam width AND rerank pool size per shard */
  def searchBq(graph: DataFrame, queries: DataFrame, k: Int, efQuery: Int,
               queryId: String = "query_id", queryVec: String = "query_vec"): DataFrame = {
    val ef = math.max(1, efQuery)
    def pack(v: Array[Float]): Array[Long] = {
      val words = new Array[Long]((v.length + 63) >>> 6)
      var i = 0
      while (i < v.length) {
        if (v(i).toDouble > 0.0) words(i >>> 6) |= 1L << (i & 63)
        i += 1
      }
      words
    }
    val scored = serveShards(graph, queries, queryId, queryVec) { (g, allowed, qs) =>
      val codes = Array.tabulate(g.size)(j => pack(g.vec(j)))
      qs.iterator.flatMap { case (qid, qvec) =>
        val qcode = pack(qvec)
        def hamming(j: Int): Double = {
          val c = codes(j)
          var w = 0; var h = 0
          while (w < c.length) {
            h += java.lang.Long.bitCount(qcode(w) ^ c(w)); w += 1
          }
          h.toDouble
        }
        val pool = g.searchBeamWith(hamming, ef, allowed)
        // exact-cosine rerank of the Hamming-routed pool, id tiebreak
        pool.map { case (_, j) => (cosineDist(qvec, g.vec(j)), j) }
          .sorted(Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
            .on[(Double, Int)] { case (d, j) => (d, g.id(j)) })
          .take(k)
          .map { case (d, j) => (qid, g.id(j), roundHalfUp4(d)) }
      }
    }.toDF("query_id", "match_id", "score")
    KnnTopK.boundedTopK(scored, k, asc = true)
  }
}
