package graft.operators

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorOps

/** IVF (inverted-file) approximate k-NN — the batch-native answer to the
  * reference's HNSW index (`/root/reference/executor.py:49,66-70,112`).
  * HNSW's incremental in-memory graph doesn't fit a scan-oriented engine;
  * the IVF equivalent keeps the same contract (approximate results, a
  * recall/speed knob) with cluster-friendly mechanics:
  *
  *  - build: KMeans centroids (Spark ML) over the corpus, each row
  *    assigned to its nearest cell — at scale, write the corpus
  *    partitioned by cell so a probe reads only matching partitions
  *    (partition pruning does the "index lookup").
  *  - search: queries go to their `nProbe` nearest cells only; exact
  *    distance + top-k within the probed cells. `nProbe` is the recall
  *    knob, playing the role of the reference's `ef_query`
  *    (`executor.py:63,92-95`, SURVEY §2.1 O19).
  */
object KnnIvf {

  /** Corpus with an IVF cell assignment + the fitted model. */
  case class IvfIndex(model: KMeansModel, corpusWithCell: DataFrame)

  /** Fit KMeans cells over the corpus embeddings and tag each row with
    * its cell. Deterministic for a fixed seed. */
  def build(corpus: DataFrame, numCells: Int,
            idCol: String = "vec_id", vecCol: String = "embedding",
            seed: Long = 42L, fitFraction: Double = 1.0): IvfIndex = {
    require(fitFraction > 0.0 && fitFraction <= 1.0,
      s"fitFraction $fitFraction out of (0, 1]")
    val featured = corpus.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    // fitFraction < 1: fit the centroids on a DETERMINISTIC id-hash
    // sample, then assign the full corpus — the only shape that exists
    // at 100 TB (the fit never scans the corpus; assignment, a narrow
    // map, does). Centroid quality from a uniform sample is the
    // published IVF practice (FAISS trains on ~max(10k·k, 1%) points).
    // Caller contract: fitFraction·N must stay >= numCells (checking it
    // here would cost a count in the build path); Spark ML's KMeans
    // raises its own error if the sample underfills k.
    val fitOn =
      if (fitFraction >= 1.0) featured
      else featured.filter(Sampling.hashKeep(col(idCol), fitFraction))
    val model = new KMeans()
      .setK(numCells).setSeed(seed).setMaxIter(10)
      // random init: one pass instead of k-means||'s 2+numIter scans —
      // cell balance is all IVF needs, exact centroids are irrelevant
      .setInitMode("random")
      .setFeaturesCol("__features").setPredictionCol("__cell")
      .fit(fitOn)
    IvfIndex(model, model.transform(featured).drop("__features")
      .withColumnRenamed("__cell", "cell"))
  }

  /** Nearest-`nProbe` cells per query, by exact distance to the (tiny,
    * literal) centroid set — no shuffle, the centroid table is inlined
    * into the expression. */
  /** Single source of truth for the (cell, centroid) pairs every probe
    * path shares — [[probeCells]] here and [[KnnJoin.annJoinIvf]]'s
    * array-sort formulation build their struct literals from this. */
  private[operators] def centroidSeq(model: KMeansModel): Seq[(Int, Seq[Double])] =
    model.clusterCenters.zipWithIndex.map { case (c, i) => (i, c.toArray.toSeq) }.toSeq

  private def queryCellsRanked(queries: DataFrame, model: KMeansModel,
                               nProbe: Int): DataFrame = {
    val cents: Seq[(Int, Seq[Double])] = centroidSeq(model)
    val centArr = array(cents.map { case (i, c) =>
      struct(lit(i).as("cell"), typedLit(c).as("cvec"))
    }: _*)
    val probed = queries
      .withColumn("__c", explode(centArr))
      .withColumn("__cdist", VectorOps.l2Sq(col("query_vec"), col("__c.cvec")))
    val w = Window.partitionBy(col("query_id")).orderBy(col("__cdist").asc, col("__c.cell").asc)
    probed.withColumn("__r", row_number().over(w))
      .filter(col("__r") <= nProbe)
      .select(col("query_id"), col("query_vec"), col("__c.cell").as("cell"),
        col("__r").cast("long").as("__probe_rank"))
  }

  private def queryCells(queries: DataFrame, model: KMeansModel, nProbe: Int): DataFrame =
    queryCellsRanked(queries, model, nProbe).drop("__probe_rank")

  /** Public probe assignment: one (query_id, query_vec, cell) row per
    * probed cell — the handoff for compositions like
    * [[Pq.adcSearchProbed]] (IVFPQ). */
  def probeCells(index: IvfIndex, queries: DataFrame, nProbe: Int): DataFrame =
    queryCells(queries, index.model, nProbe)

  /** Filtered view of an index — vector search under a metadata
    * predicate, the standard serving composition (every production
    * vector store exposes it). The predicate narrows the CORPUS side
    * only; cell probing and partition pruning compose with it unchanged
    * (the filter lands under the probed-cell scan, so a pruned read
    * scans only matching cells AND skips non-matching rows). Recall
    * caveat inherent to IVF post-filtering: a sparse predicate can
    * leave a probed cell empty — raise nProbe when filters are very
    * selective. */
  def filtered(index: IvfIndex, predicate: Column): IvfIndex =
    IvfIndex(index.model, index.corpusWithCell.filter(predicate))

  /** Approximate top-k: probe `nProbe` cells per query, exact re-rank
    * within probed cells. Same output shape as [[Knn.knnExact]].
    *
    * The top-k finisher is [[KnnTopK.boundedTopK]] (partial/final
    * aggregation), not a rank window: the probed candidate set is
    * ~N·nProbe/numCells rows per query — at corpus scale a full
    * sort-shuffle of that set is exactly what the bounded aggregation
    * exists to avoid ([[KnnJoin.annJoinIvf]] finishes the same way). */
  def search(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int,
             metric: String = "cosine",
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = queryCells(queries, index.model, nProbe)
    val scored = index.corpusWithCell
      .join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col(idCol).as("match_id"),
        // signed-zero canonicalization, same as [[Knn.knnExact]]: -0.0
        // compares equal to 0.0 under TopKBuf's primitive `!=` (falling
        // to the id tiebreak) but would EMIT as -0.0 — a hash-compare
        // mismatch against any engine that canonicalizes
        (round(VectorOps.distance(metric, col("query_vec"), col(vecCol)), 4)
          + lit(0.0)).as("score"))
    KnnTopK.boundedTopK(scored, k, asc = true)
  }

  /** Persist the index: the KMeans centroid model plus the corpus laid out
    * cell-per-directory, so a later probe is a partition-pruned read. The
    * reference persists its HNSW graph + id map and restores them on
    * startup (`executor.py:227-236`, `executor.py:51-57`); this is the
    * scan-engine equivalent — the directory layout IS the inverted file. */
  def save(index: IvfIndex, path: String): Unit = {
    index.model.write.overwrite().save(s"$path/model")
    Scale.dumpPartitionedBy(index.corpusWithCell, s"$path/corpus", "cell")
  }

  /** Restore a saved index. The corpus read keeps `cell` as a partition
    * column, so `cell IN (...)` filters become `PartitionFilters` — only
    * probed directories are scanned. If the index carries a tombstone
    * table (see [[markDeletedSaved]]), deleted ids are anti-joined out
    * here, so EVERY serve composition over the loaded index — plain,
    * filtered, BQ-probed, IVFPQ — excludes them without each path
    * having to know deletions exist. The anti join broadcasts the
    * (small) tombstone set and sits above the scan, so partition
    * pruning on `cell` still reaches the files. */
  def load(spark: SparkSession, path: String): IvfIndex = {
    val corpus = Scale.loadPartitioned(spark, s"$path/corpus")
    val live = loadTombstones(spark, path) match {
      case Some(t) => corpus.join(broadcast(t), t.columns.toSeq, "left_anti")
      case None    => corpus
    }
    IvfIndex(KMeansModel.load(s"$path/model"), live)
  }

  private def tombstonePath(path: String) = s"$path/tombstones"

  private def loadTombstones(spark: SparkSession, path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(tombstonePath(path))
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) Some(spark.read.parquet(tombstonePath(path))) else None
  }

  /** Soft-delete ids from a SAVED index — the reference's delete path
    * tombstones the hnswlib slot and reclaims nothing
    * (`executor.py:213-225`); the IVF rendition is a deletion-vector
    * side table: delete time is O(marks) — one small parquet append,
    * NO cell directory is touched — and the corpus files stay immutable
    * until [[compact]] folds the tombstones in. Unlike the graph index
    * ([[KnnHnsw.markDeleted]]) a tombstoned IVF row has no routing role
    * (cells are centroid-assigned, not edge-linked), so [[load]] can
    * drop it outright rather than carry a flag through serving.
    * Idempotent and cumulative: appended marks union with prior ones
    * (the anti join ignores duplicates). */
  def markDeletedSaved(spark: SparkSession, path: String, ids: DataFrame,
                       idCol: String = "vec_id"): Unit =
    ids.select(col(idCol)).distinct()
      .write.mode("append").parquet(tombstonePath(path))

  /** Fold tombstones into the corpus files: ONLY cells that contain a
    * deleted row rebuild (live rows rewritten, dynamic partition
    * overwrite — untouched cell directories are never rewritten), a
    * cell left with no live rows is dropped, and the tombstone table is
    * cleared. The touched-cell resolve is a bounded collect
    * (≤ numCells ints — the same metadata-sized resolve as
    * [[searchPruned]]'s probed-cell set). Centroids are untouched:
    * IVF serving is exact within probed cells regardless of centroid
    * quality, so deletion never requires refitting — rebuild cadence
    * stays an offline decision (see [[add]]). */
  def compact(spark: SparkSession, path: String): Unit =
    loadTombstones(spark, path).foreach { t => compactWith(spark, path, t) }

  private def compactWith(spark: SparkSession, path: String, t: DataFrame): Unit = {
    val key = t.columns.toSeq
    val corpus = Scale.loadPartitioned(spark, s"$path/corpus")
    val touched = corpus.join(broadcast(t), key, "left_semi")
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    if (touched.nonEmpty) {
      val live = corpus.filter(col("cell").isin(touched.map(Integer.valueOf): _*))
        .join(broadcast(t), key, "left_anti")
        .localCheckpoint(true) // read completes before its source dirs rewrite
      live.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .partitionBy("cell").parquet(s"$path/corpus")
      // a cell whose rows were ALL deleted emits nothing — dynamic
      // overwrite leaves its stale directory in place; drop it explicitly
      val liveCells = live.select("cell").distinct().collect().map(_.getInt(0)).toSet
      val emptied = touched.filterNot(liveCells)
      if (emptied.nonEmpty) {
        val root = new org.apache.hadoop.fs.Path(s"$path/corpus")
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        emptied.foreach { c =>
          fs.delete(new org.apache.hadoop.fs.Path(root, s"cell=$c"), true): Unit
        }
      }
    }
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    tp.getFileSystem(spark.sessionState.newHadoopConf()).delete(tp, true): Unit
  }

  /** Search a loaded index with explicit partition pruning: resolve the
    * probed cell set first (tiny — `|queries| × nProbe` ints; queries are
    * broadcast-sized by contract) and push it as a literal `IN` filter so
    * the scan reads only the matching cell directories. On a 100 TB corpus
    * with 4k cells and nProbe=8, that is a 0.2% read instead of a full
    * scan — the index lookup the reference gets from its in-memory graph. */
  def searchPruned(index: IvfIndex, queries: DataFrame, k: Int, nProbe: Int,
                   metric: String = "cosine",
                   idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val probes = queryCells(queries, index.model, nProbe)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val prunedIndex = IvfIndex(index.model,
      index.corpusWithCell.filter(col("cell").isin(cells.map(Integer.valueOf): _*)))
    search(prunedIndex, queries, k, nProbe, metric, idCol, vecCol)
  }

  /** The whole accuracy-vs-cost curve from ONE candidate scan: probe the
    * LARGEST requested budget's cells keeping each candidate's probe rank
    * (its cell's position in the query's probe order), replicate each
    * candidate to the budgets that would have seen it (a tiny broadcast
    * theta-join — no per-row lambda), and take top-k per (query, budget)
    * with the bounded aggregation. Per budget np the result row set is
    * IDENTICAL to [[searchPruned]] at nProbe=np (spec-pinned): a
    * candidate is visible at np iff its cell ranks <= np, and the top-k
    * finisher sees exactly that candidate set. Scan cost scales with
    * max(nProbes) only — probing 5 budgets costs one probe of 16, not
    * 1+2+4+8+16. Output adds `n_probe` to the knnExact shape. */
  def searchPrunedMulti(index: IvfIndex, queries: DataFrame, k: Int,
                        nProbes: Seq[Int], metric: String = "cosine",
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(nProbes.nonEmpty, "searchPrunedMulti needs at least one probe budget")
    val probes = queryCellsRanked(queries, index.model, nProbes.max)
    val cells = probes.select("cell").distinct().collect().map(_.getInt(0)).sorted
    val pruned = index.corpusWithCell
      .filter(col("cell").isin(cells.map(Integer.valueOf): _*))
    val levels = queries.sparkSession
      .createDataFrame(nProbes.distinct.sorted.map(np => Tuple1(np.toLong)))
      .toDF("n_probe")
    val scored = pruned
      .join(broadcast(probes), Seq("cell"))
      .select(col("query_id"), col(idCol).as("match_id"),
        (round(VectorOps.distance(metric, col("query_vec"), col(vecCol)), 4)
          + lit(0.0)).as("score"),
        col("__probe_rank"))
      .join(broadcast(levels), col("n_probe") >= col("__probe_rank"))
    KnnTopK.boundedTopK(
      scored.select(col("query_id"), col("match_id"), col("score"), col("n_probe")),
      k, asc = true, extraKeys = Seq("n_probe"))
  }

  /** Incremental index maintenance — the reference's `/index` endpoint
    * adds new vectors into the existing HNSW graph without a rebuild
    * (`executor.py:127-168`); the IVF analog assigns new rows to the
    * EXISTING centroids and appends. Centroids drift from optimal as the
    * corpus grows (as does an HNSW graph's quality); rebuild cadence is
    * an offline maintenance decision, not a query-path cost.
    *
    * Returns the updated in-memory index; `appendTo` additionally writes
    * the new rows into a saved index's cell-partitioned corpus (append
    * touches only the new rows' cell directories). */
  def add(index: IvfIndex, newRows: DataFrame,
          vecCol: String = "embedding"): IvfIndex = {
    val featured = newRows.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    val assigned = index.model.transform(featured)
      .drop("__features").withColumnRenamed("__cell", "cell")
    IvfIndex(index.model, index.corpusWithCell.unionByName(assigned))
  }

  /** Add new rows to a SAVED index (see [[save]]) with the reference's
    * `/index` LAST-WINS semantics (`executor.py:151-161`): cell-assign
    * with the stored model, then rewrite ONLY the touched cell
    * directories from (surviving rows ∪ batch) — an id already present
    * is replaced, never duplicated. Last-wins is also what makes a
    * foreachBatch REPLAY of the same batch idempotent
    * ([[graft.streaming.IndexStream.indexEachBatch]]): the replayed ids
    * anti-join their first copies away and identical rows land again.
    *
    * Cost: O(batch + touched-cell data) — bounded by the batch's cell
    * fan-out (≤ numCells rewrites), not by the index; a blind
    * mode("append") would be O(batch) but duplicates replayed ids. */
  def appendTo(spark: SparkSession, path: String, newRows: DataFrame,
               vecCol: String = "embedding"): Unit = {
    val model = KMeansModel.load(s"$path/model")
    val featured = newRows.withColumn("__features",
      array_to_vector(col(vecCol).cast("array<double>")))
    val incoming = model.transform(featured).drop("__features")
      .withColumnRenamed("__cell", "cell")
    // bounded metadata collect: the batch's distinct cells (<= numCells)
    val touched = incoming.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return // empty batch: nothing to assign or rewrite
    val surviving = Scale.loadPartitioned(spark, s"$path/corpus")
      .filter(col("cell").isin(touched.map(Integer.valueOf): _*))
      .join(incoming.select("vec_id"), Seq("vec_id"), "left_anti")
      .localCheckpoint(true) // read completes before its source dirs rewrite
    surviving.unionByName(incoming.select(surviving.columns.map(col): _*))
      .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
      .partitionBy("cell").parquet(s"$path/corpus")
  }

  /** Offline index maintenance: refit centroids on the CURRENT live
    * corpus and rewrite the cell layout — the "rebuild cadence" decision
    * [[add]] defers, as one call. Append-only growth under a fixed model
    * ([[appendTo]], [[graft.streaming.IndexStream.indexEachBatch]])
    * slowly unbalances cells as the data distribution drifts from the
    * one the centroids were fit on; correctness never degrades (serving
    * is exact within probed cells), but a hot cell grows probe cost and
    * a stale layout wastes pruning. Refresh re-fits (same deterministic
    * seed contract as [[build]]; `fitFraction` bounds the fit scan at
    * corpus scale) and re-lays-out in one pass over the live view —
    * pending tombstones are folded in by construction (the live view is
    * what gets rewritten), so refresh subsumes [[compact]]. */
  def refresh(spark: SparkSession, path: String, numCells: Int,
              idCol: String = "vec_id", vecCol: String = "embedding",
              seed: Long = 42L, fitFraction: Double = 1.0): Unit = {
    val live = load(spark, path).corpusWithCell.drop("cell")
      .localCheckpoint(true) // read completes before its source dirs rewrite
    save(build(live, numCells, idCol, vecCol, seed, fitFraction), path)
    val tp = new org.apache.hadoop.fs.Path(tombstonePath(path))
    tp.getFileSystem(spark.sessionState.newHadoopConf()).delete(tp, true): Unit
  }

  // ---------------------------------------------------------------------
  // Versioned index: the corpus under the table layer's COMMIT DISCIPLINE
  // ---------------------------------------------------------------------

  /** Cell-assign `newRows` with a fitted model — the shared head of
    * every ingest path. */
  private[graft] def assignCells(model: KMeansModel, newRows: DataFrame,
                                 vecCol: String): DataFrame =
    model.transform(newRows.withColumn("__features",
        array_to_vector(col(vecCol).cast("array<double>"))))
      .drop("__features").withColumnRenamed("__cell", "cell")

  /** Cluster an index frame one-file-per-cell-ish so manifest `cell`
    * stats stay sharp (a probe's file set ≈ its cell set). Range-
    * partitioning on the CELL ALONE — no row-level tiebreak — keeps
    * equal cells in one partition, so file stats boxes partition the
    * cell space without overlap: cell-disjoint racing ingests are then
    * file-disjoint whenever they split along a file boundary, the
    * precondition for both to land ([[Versioned.replacePartitions]]). */
  private def arrangeByCell(df: DataFrame, nFiles: Int): DataFrame =
    df.repartitionByRange(math.max(1, nFiles), col("cell"))
      .sortWithinPartitions("cell")

  /** Persist the index under [[Versioned]]'s commit protocol: the
    * corpus becomes a versioned table with per-file `cell` stats —
    * manifest-level partition pruning plays the role [[save]]'s Hive
    * directories play, and every later mutation is an ATOMIC manifest
    * commit with retry/rebase instead of an in-place directory rewrite.
    * The in-place flavor ([[save]]/[[appendTo]]/[[compact]]) matches
    * the reference's single-writer `/dump` semantics
    * (`executor.py:227-236`, which clobbers); this flavor is what a
    * multi-writer deployment needs: two concurrent appends can no
    * longer tear the saved index — racing CELL-DISJOINT ingests both
    * land (linearized versions), anything overlapping refuses typed,
    * and a torn write is impossible because readers only ever see
    * committed manifests. */
  def saveVersioned(index: IvfIndex, path: String): Int = {
    index.model.write.overwrite().save(s"$path/model")
    val nCells = index.model.clusterCenters.length
    Versioned.init(arrangeByCell(index.corpusWithCell, nCells),
      s"$path/corpus", statsCol = Some("cell"))
  }

  /** Restore a versioned index at a pinned version (latest by default)
    * — time travel for the INDEX: serve yesterday's corpus exactly as
    * committed, the capability the reference's clobbering dump can
    * never offer. */
  def loadVersioned(spark: SparkSession, path: String,
                    version: Option[Int] = None): IvfIndex =
    IvfIndex(KMeansModel.load(s"$path/model"),
      Versioned.read(spark, s"$path/corpus", version))

  /** Last-wins ingest as a partition-COW COMMIT (the versioned twin of
    * [[appendTo]], same `executor.py:151-161` replace-not-duplicate
    * semantics): cell-assign with the stored model, rewrite only the
    * touched cells' rows (survivors ∪ batch), and publish through
    * [[Versioned.replacePartitions]] — so two racing ingests on
    * disjoint cell sets BOTH land with linearized index versions, and
    * an ingest racing anything that touched its own cells (another
    * ingest of the same cells, a compact, a z-order) refuses with the
    * typed conflict instead of silently tearing the index. */
  def appendToVersioned(spark: SparkSession, path: String, newRows: DataFrame,
                        vecCol: String = "embedding"): Int =
    appendToVersionedAt(spark, path, newRows, vecCol,
      Versioned.snapshot(spark, s"$path/corpus"))

  /** [[appendToVersioned]] against a CALLER-PINNED base snapshot — the
    * deterministic-interleave face of the race protocol (gates and
    * specs stage "writer B read the table before writer A committed"
    * without depending on thread scheduling): a stale base whose
    * touched cells were since rewritten refuses with the typed
    * conflict; a stale base whose cells survived rebases and lands. */
  private[graft] def appendToVersionedAt(spark: SparkSession, path: String,
                                         newRows: DataFrame, vecCol: String,
                                         base: Versioned.Snapshot): Int = {
    val model = KMeansModel.load(s"$path/model")
    val incoming = assignCells(model, newRows, vecCol)
    val touched = incoming.select("cell").distinct()
      .collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return base.version
    val surviving = Versioned.read(spark, s"$path/corpus", Some(base.version))
      .filter(col("cell").isin(touched.map(Integer.valueOf): _*))
      .join(incoming.select("vec_id"), Seq("vec_id"), "left_anti")
    val rewritten = surviving
      .unionByName(incoming.select(surviving.columns.map(col): _*))
    Versioned.replacePartitions(arrangeByCell(rewritten, touched.length),
      s"$path/corpus", "cell", touched.map(_.toLong), base)
  }

  /** Delete ids from a versioned index as a partition-COW commit: only
    * cells containing a deleted row rewrite (from their live rows);
    * the deletion is immediately folded — no tombstone side table —
    * and lands atomically with the same race rules as
    * [[appendToVersioned]]. O(touched-cell data) instead of the
    * in-place flavor's O(marks): the price of making the delete a
    * first-class, time-travelable commit. */
  def deleteVersioned(spark: SparkSession, path: String, ids: DataFrame,
                      idCol: String = "vec_id"): Int = {
    val marks = ids.select(col(idCol).as("vec_id")).distinct()
    val base = Versioned.snapshot(spark, s"$path/corpus")
    val corpus = Versioned.read(spark, s"$path/corpus", Some(base.version))
    val touched = corpus.join(broadcast(marks), Seq("vec_id"), "left_semi")
      .select("cell").distinct().collect().map(_.getInt(0)).sorted
    if (touched.isEmpty) return base.version
    val rewritten = corpus
      .filter(col("cell").isin(touched.map(Integer.valueOf): _*))
      .join(broadcast(marks), Seq("vec_id"), "left_anti")
    Versioned.replacePartitions(arrangeByCell(rewritten, touched.length),
      s"$path/corpus", "cell", touched.map(_.toLong), base)
  }

  /** Re-cluster the versioned corpus one-cell-per-file and refresh
    * manifest stats, as a commit ([[Versioned.compact]] with
    * `clusterBy=cell`): the maintenance move that re-sharpens pruning
    * after ingest churn. Racing ANY interleaved commit refuses typed —
    * a compact rewrites every file, so nothing is rebasable. */
  def compactVersioned(spark: SparkSession, path: String,
                       targetBytes: Long = 128L << 20): Int =
    Versioned.compact(spark, s"$path/corpus", targetBytes,
      clusterBy = Some("cell"))

  /** One-call convenience for fixture-scale use. */
  def approxKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                numCells: Int = 16, nProbe: Int = 4,
                metric: String = "cosine"): DataFrame =
    search(build(corpus, numCells), queries, k, nProbe, metric)
}
