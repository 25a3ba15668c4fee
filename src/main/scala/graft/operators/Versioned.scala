package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Versioned corpus: snapshot isolation + time travel over plain
  * parquet, manifest-per-version (the minimal table-format core —
  * what Delta/Iceberg make industrial). The reference's store is a
  * single mutable memmap + binary index rewritten in place
  * (`/root/reference/executor.py:227-247`): a crashed dump corrupts it,
  * and yesterday's corpus is gone the moment an upsert lands. Here every
  * version is an immutable LIST OF FILES; a commit writes new files plus
  * one manifest, so:
  *
  *   - readers pin a manifest and see one consistent version end-to-end,
  *     never a half-written mix (snapshot isolation);
  *   - any historical version stays readable until its files are
  *     vacuumed (time travel — reproducing the exact training corpus of
  *     a past run is a first-class query);
  *   - upsert/delete are copy-on-write at FILE granularity: only files
  *     actually containing touched ids are rewritten, the rest are
  *     REFERENCED by the new manifest unchanged. At 100 TB with a
  *     clustered id layout, an upsert of 0.1% of rows rewrites ~0.1% of
  *     files, not the table;
  *   - commits race safely: the manifest rename is the atomic commit
  *     point, and a lost race surfaces as an error, not silent
  *     last-writer-wins corruption (optimistic concurrency).
  *
  * Paths are stored scheme-less (`Path.toUri.getPath`), which is exact
  * for a single-filesystem deployment (local/HDFS default FS); a
  * multi-scheme lakehouse would keep the URIs.
  */
object Versioned {

  /** Thrown when a commit cannot be rebased over what landed
    * concurrently: the interleaved commit rewrote/removed files this
    * writer read, or appended rows whose ids this writer's delta also
    * touches. The caller must re-run its operation against the new
    * snapshot — blind retry would publish a result computed from stale
    * data. Append-only and file/id-disjoint races never see this
    * (they rebase automatically inside the commit loop). */
  final class ConcurrentWriteConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Thrown when a pinned read names a version that existed but was
    * vacuumed away — the typed signal that distinguishes "history
    * expired by retention policy" from a corrupt table or a typo'd
    * version number (both still raise plain require failures). */
  final class VersionRetentionException(msg: String)
    extends IllegalStateException(msg)

  /** Internal signal for a lost manifest-rename race, caught by the
    * commit-retry loops; an IOException so pre-retry callers that
    * handled the race keep working. */
  private[graft] final class CommitRaceLost(msg: String)
    extends java.io.IOException(msg)

  /** Thrown when an ingest commit carries rows a standing CHECK
    * constraint rejects (or [[addConstraint]] finds existing rows the
    * new constraint rejects): the typed signal that distinguishes a
    * data-quality refusal from schema/concurrency errors. The commit
    * publishes NOTHING. */
  final class ConstraintViolationException(msg: String)
    extends IllegalArgumentException(msg)

  /** One data file reference, optionally carrying column statistics —
    * a SMALL LIST of (column, min, max) triples gathered at commit time.
    * Stats live in the MANIFEST — readers prune files without opening a
    * single parquet footer, the Iceberg-style skipping layer above the
    * footer-level zone maps [[Scale.dumpRangeSorted]] provides. More
    * than one column matters when layouts COMPOSE: a z-order commit
    * records `__z` for box probes AND the id column for copy-on-write
    * discovery — with a single slot, every upsert on a z-ordered table
    * silently fell back to O(table) candidate scans. */
  case class FileEntry(path: String, stats: Seq[(String, Long, Long)] = Seq.empty,
                       bloom: Option[(String, String)] = None,
                       rows: Option[Long] = None) {
    /** The triple recorded for column `c`, if any. */
    def statsFor(c: String): Option[(Long, Long)] =
      stats.collectFirst { case (`c`, lo, hi) => (lo, hi) }
    private[Versioned] def line: String = {
      val statsPart = stats.map { case (c, lo, hi) => s"\t$c\t$lo\t$hi" }.mkString
      // tagged suffixes keep old manifests parseable and old readers
      // merely rows/bloom-blind; a stats column literally named "rows"
      // or "bloom" is rejected at build time (writeData) to keep the
      // tags unambiguous
      val rowsPart = rows.map(n => s"\trows\t$n").getOrElse("")
      val bloomPart = bloom match {
        case Some((c, hex)) => s"\tbloom\t$c\t$hex"
        case None           => ""
      }
      s"$path$statsPart$rowsPart$bloomPart"
    }
  }

  private def parseEntry(l: String): FileEntry = {
    // path, then zero or more (col, lo, hi) triples, then an optional
    // tagged rows suffix, then an optional tagged bloom suffix — the
    // round-15 single-triple format parses as the one-element case, the
    // pre-stats format as the zero-element one, and pre-rows manifests
    // simply carry no count (readers fall back to scanning)
    val tok = l.split('\t')
    if (tok.isEmpty || tok(0).isEmpty)
      throw new IllegalStateException(s"malformed manifest line: $l")
    var i = 1
    val stats = Seq.newBuilder[(String, Long, Long)]
    // "rows" is the count TAG only in tag position — followed by exactly
    // one token before end-or-"bloom". A LEGACY manifest whose stats
    // column was literally named "rows" (legal before the tag existed)
    // has two values there and still parses as the triple it is; the
    // numeric second value can never equal "bloom", so the shapes are
    // disjoint and old tables stay readable.
    def rowsTagAt(j: Int): Boolean = tok(j) == "rows" &&
      (j + 2 == tok.length || (j + 2 < tok.length && tok(j + 2) == "bloom"))
    while (i < tok.length && tok(i) != "bloom" && !rowsTagAt(i)) {
      if (i + 2 >= tok.length)
        throw new IllegalStateException(s"malformed manifest line: $l")
      stats += ((tok(i), tok(i + 1).toLong, tok(i + 2).toLong))
      i += 3
    }
    val rows =
      if (i < tok.length && rowsTagAt(i)) {
        val n = tok(i + 1).toLong
        i += 2
        Some(n)
      } else None
    val bloom =
      if (i == tok.length) None
      else if (i + 3 == tok.length && tok(i) == "bloom") Some((tok(i + 1), tok(i + 2)))
      else throw new IllegalStateException(s"malformed manifest line: $l")
    FileEntry(tok(0), stats.result(), bloom, rows)
  }

  /** Per-file Bloom filter parameters: [[BloomBits]]-bit filter (hex in
    * the manifest), [[BloomK]] salted-md5 hash functions. Sizing: at
    * ~10k distinct keys/file the fpp is ~0.5; this layer targets
    * clustered layouts where a file holds FEW distinct values of the
    * bloom column (partition-ish columns: lang, source, domain) — there
    * the fpp is <1% and an equality probe opens almost nothing. */
  val BloomBits = 1024
  val BloomK = 3

  /** Bit positions of one value — Spark-side (build) and driver-side
    * (prune) MUST agree, so both route through md5 hex of "j:value". */
  private[graft] def bloomPositions(value: String): Seq[Int] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until BloomK).map { j =>
      val hex = md.digest(s"$j:$value".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(8)
      md.reset()
      (java.lang.Long.parseLong(hex, 16) % BloomBits).toInt
    }
  }

  private[graft] def bloomContains(hex: String, value: String): Boolean = {
    val words = hex.grouped(16).map(java.lang.Long.parseUnsignedLong(_, 16)).toArray
    bloomPositions(value).forall { p =>
      (words(p / 64) & (1L << (p % 64))) != 0L
    }
  }

  case class Snapshot(version: Int, entries: Seq[FileEntry],
                      meta: Map[String, String] = Map.empty) {
    def files: Seq[String] = entries.map(_.path)
    /** Deletion-vector sidecar files (merge-on-read deletes): parquet
      * files of deleted id values, referenced from commit METADATA —
      * never from [[entries]], so they are invisible to every data
      * scan and pruning decision; [[scanFiles]] applies them as one
      * anti-join mask. Empty on tables with no standing MoR deletes. */
    def dvFiles: Seq[String] =
      meta.get("dv.files").filter(_.nonEmpty).map(_.split(',').toSeq)
        .getOrElse(Seq.empty)
    /** The PHYSICAL id column the deletion vectors key on. */
    def dvCol: Option[String] = meta.get("dv.col").filter(_.nonEmpty)
    /** The schema RECORDED AT COMMIT TIME (Iceberg-style): readers get
      * it from one manifest read — zero parquet footers — and time
      * travel sees each version under its OWN schema. Absent only on
      * pre-schema-tracking manifests. */
    def schema: Option[org.apache.spark.sql.types.StructType] =
      meta.get("schema").map(
        org.apache.spark.sql.types.DataType.fromJson(_)
          .asInstanceOf[org.apache.spark.sql.types.StructType])
  }

  private def fs(spark: SparkSession, p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def manifestPath(tableDir: String, v: Int) =
    new Path(s"$tableDir/_manifests/v${"%05d".format(v)}.manifest")

  private def norm(p: Path): String = p.toUri.getPath

  /** Normalize an `input_file_name()` string (URI-encoded, scheme-
    * qualified on any filesystem) to the same decoded absolute path
    * [[norm]] yields for manifest entries — without this, stats and
    * copy-on-write joins silently mismatch on HDFS or on any path with
    * a URL-encodable character (space, '%', non-ASCII). */
  private def normFileName(s: String): String =
    norm(new Path(new java.net.URI(s)))

  /** Column-rename mapping (meta key `colmap`, `logical:physical`
    * pairs): parquet files ALWAYS store PHYSICAL names — the name each
    * column had at the last full-rewrite baseline (init / compact /
    * compactZOrder) — and [[renameColumn]] moves only the LOGICAL
    * label, as one metadata commit touching zero data files (the Delta
    * column-mapping idea in its minimal name-keyed form). Layout
    * metadata (manifest stats, blooms, zorder.dims) is keyed physical,
    * so renames never invalidate pruning; full rewrites re-baseline
    * physical = logical and drop the map. Only renamed columns appear
    * in the map. */
  private[graft] def colMap(snap: Snapshot): Map[String, String] =
    colMapOf(snap.meta)

  /** [[colMap]] from raw commit metadata — the segment predicates need
    * the mapping BEFORE a snapshot object exists. */
  private[graft] def colMapOf(meta: Map[String, String]): Map[String, String] =
    meta.get("colmap").filter(_.nonEmpty)
      .map(_.split(',').map { kv =>
        // split at the FIRST ':' only: logical names are separator-free
        // by [[renameColumn]]'s validation, but a legacy baseline
        // PHYSICAL name may contain ':' — a positional Array(l, p)
        // match would MatchError and leave the table unreadable
        val i = kv.indexOf(':')
        require(i > 0 && i < kv.length - 1, s"malformed colmap entry: $kv")
        kv.substring(0, i) -> kv.substring(i + 1)
      }.toMap).getOrElse(Map.empty)

  /** The PHYSICAL name of logical column `c` under the pinned snapshot
    * (identity when never renamed). */
  private[graft] def physOf(snap: Snapshot, c: String): String =
    colMap(snap).getOrElse(c, c)

  /** The LOGICAL name physical column `c` carries under the pinned
    * snapshot — the inverse of [[physOf]]. */
  private[graft] def logicalOf(snap: Snapshot, c: String): String =
    colMap(snap).collectFirst { case (l, `c`) => l }.getOrElse(c)

  /** Scan `files` under the snapshot's PHYSICAL schema — the exact
    * on-disk column names — with no logical projection. Internal
    * machinery that writes files back (z-order maintenance, drift
    * audits) works in this space so its output stays physical. */
  private[graft] def scanPhysical(spark: SparkSession, snap: Snapshot,
                                  files: Seq[String]): DataFrame = {
    val cm = colMap(snap)
    snap.schema match {
      case Some(logical) =>
        val phys = org.apache.spark.sql.types.StructType(logical.fields.map(f =>
          f.copy(name = cm.getOrElse(f.name, f.name))))
        spark.read.schema(phys).parquet(files: _*)
      case None => spark.read.parquet(files: _*)
    }
  }

  /** Scan `files` and serve the LOGICAL view: physical schema at the
    * reader (so every file resolves its on-disk names), the snapshot's
    * deletion-vector mask (merge-on-read deletes) as ONE anti-join,
    * then a zero-cost projection back to the committed logical names.
    * Every user-facing read routes through here, so MoR deletes apply
    * uniformly to read/readRange/readEquals/readBox/diff and to the
    * copy-on-write survivor scans (a COW rewrite physically drops the
    * masked rows of the files it touches). The DV side is the DELETED
    * id set — small next to the table — so the join broadcasts under
    * the planner's own threshold at sane delete fractions. */
  private[graft] def scanFiles(spark: SparkSession, snap: Snapshot,
                               files: Seq[String]): DataFrame =
    scanFilesWith(spark, snap, files, mask = true)

  /** [[scanFiles]] with the DV mask optional and an optional `__file`
    * provenance column: the copy-on-write paths need (a) the UNMASKED
    * view for touched-file discovery, so a delta re-introducing a
    * merge-on-read-deleted id finds (and rewrites away) the old
    * physical rows the vector was hiding, and (b) `input_file_name()`
    * attached ON the scan itself — above the DV anti-join the
    * expression has two sources and refuses. */
  private def scanFilesWith(spark: SparkSession, snap: Snapshot,
                            files: Seq[String], mask: Boolean,
                            withFile: Boolean = false): DataFrame = {
    val cm = colMap(snap)
    val base0 = scanPhysical(spark, snap, files)
    val base = if (withFile) base0.withColumn("__file", input_file_name())
               else base0
    val masked = (snap.dvFiles, snap.dvCol) match {
      case (dvs, Some(c)) if mask && dvs.nonEmpty =>
        val dv = spark.read.parquet(dvs: _*).select(col(c)).distinct()
        base.join(dv, base(c) === dv(c), "left_anti")
      case _ => base
    }
    snap.schema match {
      case Some(logical) if cm.nonEmpty =>
        val fileCol = if (withFile) Seq(col("__file")) else Seq.empty
        masked.select(logical.fields.toSeq.map(f =>
          col(cm.getOrElse(f.name, f.name)).as(f.name)) ++ fileCol: _*)
      case _ => masked
    }
  }

  /** Rename a logical-named DataFrame to physical names for write —
    * the inverse of [[scanFiles]]'s projection, applied before every
    * incremental (non-rebaselining) writeData. ONE select projection,
    * not iterative withColumnRenamed: sequential renames depend on map
    * iteration order and can transiently duplicate a name (renaming
    * l1 -> p1 while a logical column named p1 still exists makes the
    * next rename hit both); a single projection is order-free. */
  private def toPhysical(snap: Snapshot, df: DataFrame): DataFrame = {
    val cm = colMap(snap)
    if (cm.isEmpty) df
    else df.select(df.columns.toSeq.map(c => col(c).as(cm.getOrElse(c, c))): _*)
  }

  /** Schema evolution against a pinned snapshot, guarding the one name
    * a rename RETIRES: a new logical column may not take a name that is
    * still the physical identity of an existing (renamed) column — two
    * on-disk columns would collide. Compact re-baselines and frees the
    * name. */
  private def evolvedSchemaFor(snap: Snapshot, df: DataFrame)
      : org.apache.spark.sql.types.StructType = {
    val cm = colMap(snap)
    if (cm.nonEmpty) {
      val logicalOld = snap.schema.map(_.fieldNames.toSet).getOrElse(Set.empty)
      val physInUse = snap.schema
        .map(_.fieldNames.map(n => cm.getOrElse(n, n)).toSet).getOrElse(Set.empty)
      df.schema.fieldNames.filterNot(logicalOld.contains).foreach { n =>
        require(!physInUse.contains(n),
          s"column name '$n' was retired by a rename and is still the physical " +
            "name of an existing column — compact the table to re-baseline " +
            "before reusing it")
      }
    }
    evolveSchema(snap.schema, df)
  }

  /** All committed versions, ascending (empty if uninitialized) — the
    * FULL-LISTING enumeration. Hot-path resolution does not use this
    * anymore (see [[resolveLatest]]); it remains the source of truth for
    * vacuum, error reporting, and the fallback when the `_latest`
    * pointer is absent or stale. */
  def versions(spark: SparkSession, tableDir: String): Seq[Int] = {
    listingCalls.incrementAndGet()
    val dir = new Path(s"$tableDir/_manifests")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Seq.empty
    else {
      val names = f.listStatus(dir).map(_.getPath.getName)
      val live = names.collect { case n if n.matches("v\\d{5,}\\.manifest") =>
        n.stripPrefix("v").stripSuffix(".manifest").toInt }.toSet
      // complete any crashed checkpoint swap (see [[checkpointManifest]]):
      // a recovery file whose manifest is MISSING holds that version's
      // full content — rename it back so the version stays enumerable
      val recovered = names
        .collect { case n if n.matches("v\\d{5,}\\.manifest\\.ckpt") =>
          n.stripPrefix("v").stripSuffix(".manifest.ckpt").toInt }
        .filterNot(live)
        .filter { v =>
          f.rename(ckptPath(tableDir, v), manifestPath(tableDir, v))
          f.exists(manifestPath(tableDir, v))
        }
      (live ++ recovered).toSeq.sorted
    }
  }

  /** Test-visible instrumentation: how many times the O(#versions)
    * directory listing ran. The latest-pointer spec pins that the hot
    * read path does NOT list (a year of hourly commits is ~9k manifest
    * names per listing — the first thing a 100 TB table hits). */
  private[graft] val listingCalls = new java.util.concurrent.atomic.AtomicLong

  private def latestPointerPath(tableDir: String) =
    new Path(s"$tableDir/_manifests/_latest")

  /** Best-effort, MONOTONE advance of the `_latest` pointer after a
    * successful commit. The pointer is advisory: readers treat it as a
    * lower bound and forward-probe to the true latest, so a lost update
    * here (two committers racing the write, a crash between manifest
    * publish and pointer write) costs one extra exists() probe per
    * version of staleness — never a wrong answer. Failures are
    * swallowed for the same reason: the commit itself already succeeded
    * at the manifest rename, which remains the only atomic truth. */
  private def advanceLatest(spark: SparkSession, tableDir: String, v: Int): Unit =
    try {
      val p = latestPointerPath(tableDir)
      val f = fs(spark, p)
      if (readLatestPointer(spark, tableDir).forall(_ < v)) {
        val tmp = new Path(p.getParent,
          s"._latest.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val out = f.create(tmp, true)
        try out.write(s"$v\n".getBytes("UTF-8")) finally out.close()
        // overwrite semantics differ per scheme (local rename clobbers,
        // HDFS rename refuses) — delete-then-rename is fine for an
        // ADVISORY pointer: a reader hitting the gap just falls back
        if (f.exists(p)) f.delete(p, false)
        if (!f.rename(tmp, p)) f.delete(tmp, false)
      }
    } catch { case _: Throwable => () }

  private def readLatestPointer(spark: SparkSession, tableDir: String): Option[Int] =
    try {
      val p = latestPointerPath(tableDir)
      val f = fs(spark, p)
      if (!f.exists(p)) None
      else {
        val in = f.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
                  finally in.close()
        Some(txt.toInt).filter(_ >= 0)
      }
    } catch { case _: Throwable => None }

  /** O(1)-metadata resolution of the latest version: read the `_latest`
    * pointer, verify its manifest exists, forward-probe past any
    * staleness (a racing committer that lost the pointer write, or a
    * commit newer than the last pointer update). A healthy pointer
    * costs ONE small-file read + one or two exists() probes — never the
    * O(#versions) directory listing a year of hourly commits would pay
    * on every read. None = pointer absent/corrupt/pointing at a
    * vacuumed manifest → caller falls back to [[versions]]. */
  private def resolveLatest(spark: SparkSession, tableDir: String): Option[Int] =
    readLatestPointer(spark, tableDir).flatMap { p0 =>
      val f = fs(spark, manifestPath(tableDir, p0))
      if (!f.exists(manifestPath(tableDir, p0))) None
      else {
        var v = p0
        while (f.exists(manifestPath(tableDir, v + 1))) v += 1
        Some(v)
      }
    }

  /** Committed versions newest-first, LAZILY: starts from the pointer-
    * resolved latest and walks down while manifests exist (versions are
    * contiguous down to the vacuum horizon), so a consumer that stops
    * early — [[lastBatchId]] stops at the first stream-stamped commit —
    * pays O(answer depth) metadata probes, not an O(#versions) listing
    * per micro-batch. */
  private def versionsNewestFirst(spark: SparkSession, tableDir: String): Iterator[Int] =
    resolveLatest(spark, tableDir) match {
      case Some(latest) =>
        val f = fs(spark, manifestPath(tableDir, latest))
        Iterator.iterate(latest)(_ - 1)
          .takeWhile(v => v >= 0 && f.exists(manifestPath(tableDir, v)))
      case None => versions(spark, tableDir).sorted.reverse.iterator
    }

  /** Pin a version's file list (latest when `version` is None).
    *
    * Resolution cost (the 100 TB hot path): a pinned version opens its
    * manifest directly — one exists() + one read; "latest" resolves
    * through the `_latest` pointer — one small-file read + the probe —
    * with the directory listing reserved for the fallback and for ERROR
    * reporting (naming the retained range when a version is missing is
    * worth a listing; serving every healthy read is not). */
  def snapshot(spark: SparkSession, tableDir: String,
               version: Option[Int] = None): Snapshot = {
    // FULL resolutions memoize: a published manifest is immutable (the
    // CAS publish refuses overwrites; the only in-place rewrite —
    // [[checkpointManifest]] — is content-identical and changes the
    // file's (mtime, len) key, forcing a harmless re-parse), so a
    // (dir, version, mtime, len)-keyed cache can never serve stale
    // content. Repeated reads of a pinned version — every query in a
    // session touching the same table, every rebase retry walking
    // history — skip the chain walk and the segment parses entirely:
    // at ~1M files that is tens of driver MB re-parsed per query,
    // gone. PRUNED resolutions ([[snapshotWith]] with a real predicate)
    // bypass the cache: their entry set depends on the probe.
    val vOpt = version.orElse(resolveLatest(spark, tableDir))
    vOpt match {
      case Some(v) =>
        val key = try {
          val p = manifestPath(tableDir, v)
          val st = fs(spark, p).getFileStatus(p)
          Some((tableDir, v, st.getModificationTime, st.getLen))
        } catch { case _: java.io.FileNotFoundException => None }
        key.flatMap(k => snapCache.synchronized(Option(snapCache.get(k)))) match {
          case Some(hit) =>
            snapCacheHits.incrementAndGet()
            lastSegCounts.set((0, 0))
            hit
          case None =>
            val snap = snapshotWith(spark, tableDir, Some(v), (_, _) => true)
            key.foreach(k => snapCachePut(k, snap))
            snap
        }
      case None => // no versions: snapshotWith raises the typed error
        snapshotWith(spark, tableDir, None, (_, _) => true)
    }
  }

  /** LRU cache of full snapshot resolutions, bounded by TOTAL cached
    * entry count (a driver holding a few multi-hundred-thousand-file
    * snapshots is fine; unbounded growth across many tables is not).
    * Access-ordered so the eviction sweep drops the least recently
    * served snapshot first. */
  private val snapCache =
    new java.util.LinkedHashMap[(String, Int, Long, Long), Snapshot](64, 0.75f, true)
  private val SnapCacheBudget = 2000000L
  private var snapCacheEntryCount = 0L // guarded by snapCache's monitor
  private[graft] val snapCacheHits = new java.util.concurrent.atomic.AtomicLong()

  private def snapCachePut(k: (String, Int, Long, Long), snap: Snapshot): Unit =
    snapCache.synchronized {
      if (snapCache.put(k, snap) == null)
        snapCacheEntryCount += math.max(1, snap.entries.size)
      val it = snapCache.entrySet().iterator()
      while (snapCacheEntryCount > SnapCacheBudget && it.hasNext) {
        val e = it.next()
        if (e.getKey != k) { // never evict the snapshot just served
          snapCacheEntryCount -= math.max(1, e.getValue.entries.size)
          it.remove()
        }
      }
    }

  /** Test hook (and escape hatch for the one genuinely unsafe pattern:
    * deleting a table directory and re-creating it at the same path
    * within one mtime tick — the same caveat Spark's own file-index
    * cache carries). */
  private[graft] def snapshotCacheClear(): Unit = snapCache.synchronized {
    snapCache.clear(); snapCacheEntryCount = 0L
  }

  /** [[snapshot]] with a SEGMENT predicate: when the resolved full
    * manifest pages its entries out to segment files, only segments the
    * predicate keeps are read — the manifest-list pruning that lets
    * readRange/readEquals/readBox on a million-file table parse a
    * handful of KB-sized segment files instead of the whole entry list.
    * The predicate receives the TOP manifest's metadata (colmap /
    * zorder.* live there) and must be CONSERVATIVE: keep any segment it
    * cannot prove irrelevant. The returned Snapshot's entries are then a
    * SUBSET of the version's — containing every entry that could match —
    * so it must only feed reads that re-apply the same predicate
    * file-level and row-level on top. */
  private def snapshotWith(spark: SparkSession, tableDir: String,
                           version: Option[Int],
                           segPred: (Map[String, String], SegRef) => Boolean)
      : Snapshot = {
    val v = version.orElse(resolveLatest(spark, tableDir)).getOrElse {
      val vs = versions(spark, tableDir)
      require(vs.nonEmpty, s"no versions at $tableDir")
      vs.max
    }
    if (!fs(spark, manifestPath(tableDir, v)).exists(manifestPath(tableDir, v))) {
      // slow path, errors only: the listing distinguishes "vacuumed"
      // (below the retained contiguous range — typed) from "never
      // committed" and names the surviving range in the message
      val vs = versions(spark, tableDir)
      require(vs.nonEmpty, s"no versions at $tableDir")
      if (v < vs.min)
        throw new VersionRetentionException(
          s"version $v of $tableDir was removed by vacuum (earliest retained: " +
            s"${vs.min}); time travel past the retention window is gone — " +
            "pin versions you need or raise keepVersions")
      require(vs.contains(v), s"version $v not in $vs at $tableDir")
    }
    // Resolve the manifest CHAIN: a delta manifest (meta key `base`)
    // carries only this commit's added entries and `-\t<path>` removal
    // lines against version v-1; walk down to the nearest full manifest
    // (v0, every CheckpointEvery-th version, and any commit whose delta
    // wouldn't be smaller), then replay the deltas upward — removals
    // first, then adds appended, matching the `carried.filterNot ++
    // newEntries` shape every commit builds, so old-format (all-full)
    // and new-format chains reconstruct identical entry sequences.
    // Chain length is bounded by CheckpointEvery, so a snapshot read
    // pays O(CheckpointEvery) small manifest reads while a commit
    // writes O(delta) bytes — a 1M-file table no longer serializes its
    // whole live-file list on every append (Iceberg's manifest-list
    // idea collapsed to the two-level form this single-FS layout needs;
    // reference point for shape only).
    var chain = List(rawManifest(spark, tableDir, v))
    while (chain.head.base.isDefined)
      chain = rawManifest(spark, tableDir, chain.head.base.get) :: chain
    val top = chain.last // meta comes from the TOP manifest alone (written full per commit)
    val full = chain.head
    val deltas = chain.tail
    val meta = top.meta - "base"
    // segment resolution: inline entries always; paged segments only
    // when the predicate keeps them (delta manifests are inline-only by
    // construction — segments appear in FULL manifests — but the
    // resolution is generic). Removal lines targeting a skipped
    // segment's entries are no-ops on the accumulator, which is exactly
    // right: those entries were never added.
    var segSeen = 0
    var segOpened = 0
    def resolved(m: RawManifest): Seq[FileEntry] = {
      segSeen += m.segs.size
      val kept = m.segs.filter(segPred(meta, _))
      segOpened += kept.size
      m.adds ++ readSegsParallel(spark, kept)
    }
    val snap =
      if (deltas.isEmpty) Snapshot(v, resolved(full), meta)
      else {
        val acc = new java.util.LinkedHashMap[String, FileEntry]()
        resolved(full).foreach(e => acc.put(e.path, e))
        deltas.foreach { d =>
          d.removes.foreach(acc.remove)
          resolved(d).foreach { e => acc.remove(e.path); acc.put(e.path, e) }
        }
        Snapshot(v, scala.jdk.CollectionConverters.IterableHasAsScala(
          acc.values()).asScala.toVector, meta)
      }
    lastSegCounts.set((segOpened, segSeen))
    snap
  }

  /** One manifest file, parsed but NOT chain-resolved: commit metadata,
    * INLINE added entries, segment references (large full manifests
    * page their entry list out to range-keyed segment files — see
    * [[fullBodyLines]]), removal paths, and the delta-base version
    * (None = full manifest; the pre-round-15 all-inline format and the
    * round-15 delta format both parse unchanged). */
  private case class RawManifest(meta: Map[String, String],
                                 adds: Seq[FileEntry],
                                 segs: Seq[SegRef],
                                 removes: Seq[String],
                                 base: Option[Int])

  /** Reference to one manifest SEGMENT file: `count` entry lines whose
    * per-column stats boxes are bounded by `stats` (a triple is present
    * ONLY when every member entry carries one — skipping is sound only
    * when the box bounds all members) and whose bloom is the OR of the
    * members' (no false negatives survive an OR). Serialized as an
    * `@seg`-prefixed line reusing the entry format. */
  private[graft] case class SegRef(path: String, count: Int,
                                   stats: Seq[(String, Long, Long)],
                                   bloom: Option[(String, String)],
                                   rows: Option[Long] = None) {
    def statsFor(c: String): Option[(Long, Long)] =
      stats.collectFirst { case (`c`, lo, hi) => (lo, hi) }
    private[Versioned] def line: String =
      s"@seg\t$count\t" + FileEntry(path, stats, bloom, rows).line
  }

  private def parseSegRef(l: String): SegRef = {
    val rest = l.stripPrefix("@seg\t")
    val i = rest.indexOf('\t')
    if (i <= 0) throw new IllegalStateException(s"malformed segment line: $l")
    val e = parseEntry(rest.substring(i + 1))
    SegRef(e.path, rest.substring(0, i).toInt, e.stats, e.bloom, e.rows)
  }

  private def rawManifest(spark: SparkSession, tableDir: String,
                          v: Int): RawManifest = {
    // '#'-prefixed lines are commit metadata (k=v, value may contain
    // '='), '-\t'-prefixed lines are delta removals, '@seg\t'-prefixed
    // lines reference segment files, the rest are inline file entries
    val lines = manifestLines(spark, tableDir, v)
    val meta = lines.collect { case l if l.startsWith("#") =>
      val kv = l.drop(1).split("=", 2)
      kv(0) -> (if (kv.length > 1) kv(1) else "")
    }.toMap
    val body = lines.filterNot(_.startsWith("#"))
    val (segLines, rest) = body.partition(_.startsWith("@seg\t"))
    val (removeLines, entryLines) = rest.partition(_.startsWith("-\t"))
    RawManifest(meta, entryLines.map(parseEntry), segLines.map(parseSegRef),
      removeLines.map(_.drop(2)), meta.get("base").map(_.toInt))
  }

  /** Read kept segments CONCURRENTLY on a small shared daemon pool —
    * a cold full resolution of a heavily-paged manifest (~1000 segments
    * at a million files) is pure I/O latency stacking, and reading the
    * pages serially on the driver would hand back the very cost paging
    * removed. Order is preserved (invokeAll returns futures in task
    * order), so chain replay sees the exact sequence a single-file
    * manifest would have carried. */
  private def readSegsParallel(spark: SparkSession,
                               segs: Seq[SegRef]): Seq[FileEntry] =
    if (segs.size <= 1) segs.flatMap(readSegEntries(spark, _))
    else {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[Seq[FileEntry]]] =
        segs.map { s =>
          new java.util.concurrent.Callable[Seq[FileEntry]] {
            def call(): Seq[FileEntry] = readSegEntries(spark, s)
          }
        }.asJava
      segPool.invokeAll(tasks).asScala.toSeq.flatMap(_.get())
    }

  private lazy val segPool = java.util.concurrent.Executors.newFixedThreadPool(
    8,
    (r: Runnable) => {
      val t = new Thread(r, "graft-manifest-segment-reader")
      t.setDaemon(true)
      t
    })

  private def readSegEntries(spark: SparkSession, seg: SegRef): Seq[FileEntry] = {
    val p = new Path(seg.path)
    val in = fs(spark, p).open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).map(parseEntry).toList
    finally in.close()
  }

  /** Metadata-only relocation fix-up after a table DIRECTORY move:
    * manifest paths travel absolutely (see [[writeData]]), so the files
    * under a just-renamed table are still recorded under the old
    * prefix — left alone, every scan of a renamed table with data
    * fails on the dangling paths. This rewrites every path field the
    * manifests carry — inline file entries, delta removals, segment
    * references and the entry lines inside their pages, and the
    * `dv.files` sidecar list (the one path-bearing META key; change
    * files resolve by convention under `tableDir/_changes` and need no
    * rewrite) — from `oldDir` to `newDir`. Cost is O(manifest bytes):
    * pure metadata, zero data files opened, the same at 100 TB as at a
    * megabyte. Callers run this while they exclusively own `newDir`
    * (table RENAME: the destination did not exist a moment ago; staged
    * CTAS publish: the path was hidden until the rename), so the
    * non-atomic per-file rewrite is never concurrently read. */
  private[graft] def relocateManifests(spark: SparkSession, newDir: String,
                                       oldDir: String): Unit = {
    val oldP = norm(new Path(oldDir))
    val newP = norm(new Path(newDir))
    def reloc(p: String): String =
      if (p == oldP || p.startsWith(oldP + "/")) newP + p.drop(oldP.length) else p
    def relocEntryLine(l: String): String = {
      val i = l.indexOf('\t')
      if (i < 0) reloc(l) else reloc(l.substring(0, i)) + l.substring(i)
    }
    def relocLine(l: String): String =
      if (l.startsWith("#dv.files="))
        "#dv.files=" + l.stripPrefix("#dv.files=").split(',')
          .map(reloc).mkString(",")
      else if (l.startsWith("#")) l
      else if (l.startsWith("-\t")) "-\t" + reloc(l.drop(2))
      else if (l.startsWith("@seg\t")) {
        val rest = l.stripPrefix("@seg\t")
        val i = rest.indexOf('\t')
        "@seg\t" + rest.substring(0, i + 1) + relocEntryLine(rest.substring(i + 1))
      } else relocEntryLine(l)
    val mDir = new Path(s"$newDir/_manifests")
    val f = fs(spark, mDir)
    def rewrite(p: Path, perLine: String => String): Unit = {
      val in = f.open(p)
      val lines = try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().toList finally in.close()
      val out = lines.map(perLine)
      if (out != lines) {
        val tmp = new Path(p.getParent,
          s".${p.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
        val o = f.create(tmp, true)
        try o.write((out.mkString("\n") + "\n").getBytes("UTF-8"))
        finally o.close()
        f.delete(p, false): Unit
        require(f.rename(tmp, p), s"manifest relocation rename failed at $p")
      }
    }
    f.listStatus(mDir).filter(_.isFile)
      .filter(_.getPath.getName.endsWith(".manifest"))
      .foreach(s => rewrite(s.getPath, relocLine))
    val segsDir = new Path(mDir, "segs")
    if (f.exists(segsDir))
      f.listStatus(segsDir).filter(_.isFile)
        .foreach(s => rewrite(s.getPath, relocEntryLine))
    snapshotCacheClear()
  }

  /** Test-visible instrumentation: (segment files OPENED, segment refs
    * SEEN) by the most recent snapshot resolution on this thread — the
    * spec pins that a pruned read parses a strict subset. */
  private[graft] val lastSegCounts = new ThreadLocal[(Int, Int)] {
    override def initialValue(): (Int, Int) = (0, 0)
  }

  private def manifestLines(spark: SparkSession, tableDir: String,
                            v: Int): List[String] = {
    val p = manifestPath(tableDir, v)
    val f = fs(spark, p)
    val in = try f.open(p) catch {
      case e: java.io.FileNotFoundException =>
        // a checkpoint swap that crashed between its delete and rename
        // left the full content under the deterministic recovery name —
        // complete the rename (racing recoverers: the loser's rename
        // fails but the target then exists) and serve the read
        val ckpt = ckptPath(tableDir, v)
        if (!f.exists(ckpt)) throw e
        f.rename(ckpt, p)
        if (f.exists(p)) f.open(p) else f.open(ckpt)
    }
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().filter(_.nonEmpty).toList
    finally in.close()
  }

  /** The most recent committed streaming batch id, scanning manifests
    * newest-first and stopping at the first commit that carries one —
    * O(1) manifest reads when a stream is the (sole) writer. None if no
    * commit was stream-made. The [[graft.streaming.TableStream]]
    * exactly-once guard. */
  def lastBatchId(spark: SparkSession, tableDir: String,
                  writerId: Option[String] = None): Option[Long] =
    versionsNewestFirst(spark, tableDir)
      .flatMap { v =>
        val lines = manifestLines(spark, tableDir, v)
        // a writerId-scoped probe matches only commits stamped by the
        // SAME writer: a second stream (new checkpoint, different query)
        // must not have its low batch ids swallowed by another writer's
        // high-water mark
        val sameWriter = writerId.forall(w =>
          lines.contains(s"#writerId=$w"))
        if (!sameWriter) None
        else lines.collectFirst { case l if l.startsWith("#batchId=") =>
          l.stripPrefix("#batchId=").toLong }
      }
      .nextOption()

  /** RESTORE: make an old version the table's new latest — as a NEW
    * commit whose manifest references the old version's files and
    * metadata verbatim (schema, colmap, deletion vectors, zorder layout
    * all travel back together). Zero data movement: at 100 TB rolling
    * back a bad ingest is one manifest write, and the bad version stays
    * in history for forensics until vacuum ages it out. Refuses typed
    * when the restore target has been vacuumed. Concurrency: restore is
    * an absolute statement ("the table IS version v's content again"),
    * so it publishes over whatever landed concurrently — commits
    * linearize by rename order as always. */
  def restore(spark: SparkSession, tableDir: String, version: Int): Int = {
    val target = snapshot(spark, tableDir, Some(version)) // typed if vacuumed
    commitWithRebase(spark, tableDir, _ => Some((target.entries,
      target.meta + ("op" -> "restore"))))
  }

  /** INSERT OVERWRITE as ONE versioned commit: the new version's
    * content is exactly `df`. Every previous file leaves the MANIFEST —
    * never the disk: time travel still serves the old versions, vacuum
    * owns reclamation, and [[restore]] undoes a bad refresh — standing
    * deletion vectors die with the content they masked, and the full
    * new content validates against the standing constraints before
    * anything publishes. Like [[compact]], the rewrite re-baselines
    * column mapping (physical == logical again) and carries the
    * standing table metadata (constraints, cdf, catalog identity).
    *
    * History intact is what separates this from the REPLACE TABLE
    * refusal: a replace destroys lineage, an overwrite is a REVERTIBLE
    * full-refresh commit — the nightly silver-table rebuild a medallion
    * pipeline runs. Schema follows the same widen-only evolution rule
    * as [[append]] (the SQL surface has already cast rows to the
    * table's schema; library callers may widen, never re-type).
    *
    * Concurrency: the overwrite's claim covers the WHOLE table, so any
    * interleaved commit is a genuine conflict — typed refusal, never a
    * rebase. Cost is O(new content) + one manifest write at any scale. */
  def replaceContent(df: DataFrame, tableDir: String,
                     statsCol: Option[String] = None,
                     bloomCol: Option[String] = None): Int = {
    val s = df.sparkSession
    val base = snapshot(s, tableDir)
    val evolved = evolvedSchemaFor(base, df) // widen-only, typed, pre-write
    requireConstraints(s, base, df, tableDir)
    rewriteAll(s, base, tableDir, df, (statsCol.toSeq, bloomCol),
      Map("schema" -> evolved.json, "op" -> "overwrite"))
  }

  /** SHALLOW CLONE: initialize `dstDir` as a new table whose v0
    * manifest references the source version's files and metadata
    * verbatim — zero data copied, so branching a 100 TB corpus for an
    * experiment costs one manifest write. The clone then lives its own
    * life: copy-on-write mutations write into ITS data directory and
    * carry untouched source files by reference; its vacuum walks only
    * its own data directory, so it can never reclaim source files.
    * The one standing hazard (same contract as Delta/Iceberg shallow
    * clones, documented rather than hidden): VACUUM ON THE SOURCE does
    * not know about clone references and may reclaim files a clone
    * still reads — keep the source's retention covering live clones, or
    * deep-copy with compact() on the clone to cut the dependency. */
  def cloneShallow(spark: SparkSession, srcDir: String, dstDir: String,
                   version: Option[Int] = None): Int = {
    require(versions(spark, dstDir).isEmpty,
      s"table already initialized at $dstDir")
    val src = snapshot(spark, srcDir, version)
    commitManifest(spark, dstDir, 0, src.entries,
      src.meta + ("op" -> "clone") +
        ("clonedFrom" -> s"$srcDir@${src.version}"))
  }

  /** DESCRIBE HISTORY for the table: one row per retained version —
    * version, commit timestamp, the stamped operation, live-file count,
    * and the files added/removed BY that commit. Pure metadata: delta
    * manifests carry their add/remove lines directly, full manifests
    * diff against the previous snapshot (unknowable only for a full
    * manifest sitting exactly on the vacuum horizon → -1). Driver-side
    * construction over manifest reads — the frame is O(#versions) rows
    * of audit metadata, not data. */
  def history(spark: SparkSession, tableDir: String): DataFrame = {
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no versions at $tableDir")
    val rows = vs.map { v =>
      val raw = rawManifest(spark, tableDir, v)
      val snapAtV = snapshot(spark, tableDir, Some(v))
      val snapFiles = snapAtV.files
      val (added, removed) = raw.base match {
        case Some(_) =>
          // a changed entry travels as remove+add (stats refresh, not
          // file churn) — count file-path adds/removes, matching the
          // full-manifest diff below
          val addPaths = raw.adds.map(_.path).toSet
          ((addPaths -- raw.removes).size, (raw.removes.toSet -- addPaths).size)
        case None if v == vs.min && v > 0 => (-1, -1) // horizon: prior state gone
        case None if v == 0 => (raw.adds.size, 0)
        case None =>
          val prev = snapshot(spark, tableDir, Some(v - 1)).files.toSet
          val curF = raw.adds.map(_.path).toSet
          ((curF -- prev).size, (prev -- curF).size)
      }
      // standing merge-on-read mask debt AS OF this version — the
      // observability twin of the bloom-saturation and z-drift warnings:
      // dv_files is how many sidecars every masked read opens, dv_rows
      // how many ids the anti-join carries (-1 on commits predating the
      // dv.rows stamp; 0 whenever no vector stands). Pure metadata.
      val dvF = raw.meta.get("dv.files").filter(_.nonEmpty)
        .map(_.split(',').length).getOrElse(0)
      val dvR = if (dvF == 0) 0L
                else raw.meta.get("dv.rows").map(_.toLong).getOrElse(-1L)
      // PHYSICAL rows in the snapshot (sum of per-file counts; visible
      // rows = total_rows - dv_rows while a vector stands). -1 on
      // versions whose entries predate row-count stamping.
      val totR = if (snapAtV.entries.forall(_.rows.isDefined))
                   snapAtV.entries.flatMap(_.rows).sum
                 else -1L
      (v, raw.meta.get("committedAt").map(_.toLong),
        raw.meta.getOrElse("op", "unknown"), snapFiles.size, added, removed,
        dvF, dvR, totR)
    }
    spark.createDataFrame(rows)
      .toDF("version", "committed_at", "operation", "num_files",
        "files_added", "files_removed", "dv_files", "dv_rows", "total_rows")
  }

  /** DESCRIBE DETAIL for the table: ONE row of current-state metadata —
    * the at-a-glance companion to [[history]]'s per-version audit. Pure
    * manifest arithmetic (zero data files opened): pinned latest
    * version, its operation stamp, live file count, physical row count
    * (-1 when any entry predates row-count stamping), standing
    * deletion-vector debt, CHECK-constraint count, whether materialized
    * change files are on, the z-order clustering dims (empty when none),
    * and how many columns currently live under a rename mapping. The
    * shape Delta's DESCRIBE DETAIL popularized (reference point only). */
  def detail(spark: SparkSession, tableDir: String): DataFrame = {
    val snap = snapshot(spark, tableDir)
    val totR = if (snap.entries.forall(_.rows.isDefined))
                 snap.entries.flatMap(_.rows).sum
               else -1L
    val dvF = snap.dvFiles.size
    val dvR = if (dvF == 0) 0L
              else snap.meta.get("dv.rows").map(_.toLong).getOrElse(-1L)
    // MAINTENANCE NUDGE: merge-on-read debt is a deliberate trade
    // (deletes commit in O(ids)), but every read pays the anti-join
    // mask until a compact materializes it — surface WHEN that bill is
    // worth paying, so the consolidation policy is discoverable from
    // the same row an operator already reads. Thresholds: many sidecar
    // files (each is an extra read per scan) or a mask covering >= 10%
    // of physical rows (the scan streams 10% dead weight). Unknown
    // row counts (legacy manifests, dvR = -1) recommend on file count
    // alone — never a false "healthy".
    // SMALL-FILE DEBT is the second bar: a streaming sink commits one
    // file per row-bearing trigger, so a long-running ingest piles up
    // files every scan must open and manifest arithmetic grows with —
    // the exact debt the sink's own docs tell the operator to amortize.
    // Recommend when the file count exceeds its bar AND the MEAN rows
    // per file sit under the small-file floor (rows, not bytes: the
    // manifest records exact per-file counts, so the test stays pure
    // metadata — zero namenode calls on a million-file table; a healthy
    // large corpus has many files but target-sized ones, so the mean
    // clears the floor). Unknown row counts stay SILENT on this bar
    // (asymmetric to the DV bars deliberately: the nudge drives
    // compactIfNeeded's automated full rewrite, and a legacy manifest
    // cannot distinguish a healthy million-file corpus from debt — a
    // false recommendation here is a 100 TB rewrite, not a masked read).
    val needsCompaction = dvF > DvFileDebtThreshold ||
      (dvR > 0 && totR > 0 && dvR.toDouble / totR >= DvRowDebtRatio) ||
      (snap.files.size > SmallFileCountThreshold && totR >= 0 &&
        totR.toDouble / snap.files.size < SmallFileMeanRows)
    spark.createDataFrame(Seq((
        snap.version,
        snap.meta.getOrElse("op", "unknown"),
        snap.files.size,
        totR, dvF, dvR,
        constraintsOf(snap).size,
        snap.meta.get("cdf").contains("true"),
        snap.meta.getOrElse("zorder.dims", ""),
        colMap(snap).size,
        needsCompaction)))
      .toDF("version", "operation", "num_files", "total_rows",
        "dv_files", "dv_rows", "num_constraints", "cdf_enabled",
        "zorder_dims", "renamed_columns", "needs_compaction")
  }

  /** [[detail]]'s compaction-nudge bars: recommend once the standing
    * deletion-vector debt costs every scan more than a compact would
    * amortize — more sidecar files than this, or a mask covering at
    * least this fraction of physical rows. */
  private[graft] val DvFileDebtThreshold = 8
  private[graft] val DvRowDebtRatio = 0.10

  /** [[detail]]'s small-file bars: recommend compaction once MORE than
    * this many live files average FEWER than this many rows each — the
    * debt profile of per-trigger streaming commits (thousands of tiny
    * files), never of a healthy large corpus (many files, target-sized).
    * Rows proxy bytes so the test stays manifest-only. */
  private[graft] val SmallFileCountThreshold = 16
  private[graft] val SmallFileMeanRows = 65536L

  /** Act on [[detail]]'s `needs_compaction` nudge: compact ONLY when
    * the debt bars recommend it — standing merge-on-read mask debt OR
    * small-file debt (the per-trigger files a long-running
    * [[graft.streaming.VersionedSink]] ingest accumulates) — returning
    * the committed version (None = healthy, zero commits, one manifest
    * read). The idempotent maintenance tick a scheduler calls after
    * every ingest window — at 100 TB the decision must be metadata-only
    * and the rewrite must run only when a scan is actually paying for
    * the standing mask or the file fan-in. Layout-preserving: a
    * z-ordered table re-clusters on its own dims (byte-sized range
    * count), everything else folds through [[compact]]. */
  def compactIfNeeded(spark: SparkSession, tableDir: String,
                      targetBytes: Long = 128L << 20): Option[Int] = {
    val nudged = detail(spark, tableDir)
      .select(col("needs_compaction")).head().getBoolean(0)
    if (!nudged) None
    else {
      // LAYOUT-PRESERVING tick: a z-ordered table re-clusters on its own
      // dims (plain compact would fold the files but silently demote the
      // multi-dimensional pruning the operator paid for), with the range
      // count sized by bytes exactly like compact sizes its files — so
      // the tick CONVERGES (a tiny debt-ridden table folds to one file
      // and goes healthy, never re-nudging itself). zorder.dims records
      // the names the files carry (physical); a rename since the last
      // rewrite moved only the logical label, so translate before
      // scanning the logical view.
      val snap = snapshot(spark, tableDir)
      val dims = snap.meta.get("zorder.dims").filter(_.nonEmpty)
        .map(_.split(',').toSeq.map(logicalOf(snap, _)))
      Some(dims match {
        case Some(ds) =>
          val f = fs(spark, new Path(tableDir))
          val total = snap.files.map(p => f.getFileStatus(new Path(p)).getLen).sum
          val ranges = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
          compactZOrder(spark, tableDir, ds, numRanges = ranges)
        case None => compact(spark, tableDir, targetBytes)
      })
    }
  }

  /** Resolve "the table as of time t": the NEWEST version whose commit
    * timestamp is <= `tsMillis` — "reproduce the exact corpus last
    * Tuesday's run trained on" without having recorded a version
    * number. Walks newest-first from the pointer-resolved latest
    * (O(distance from latest) manifest reads, the common recent-history
    * probe; a deep historical probe pays the walk, never a data scan).
    * Commits predating timestamp stamping fall back to their manifest
    * file's mtime. Typed errors distinguish "before the first commit"
    * from "history vacuumed past t". */
  def versionAsOf(spark: SparkSession, tableDir: String, tsMillis: Long): Int = {
    var oldestSeen = -1
    var oldestTs = Long.MaxValue
    versionsNewestFirst(spark, tableDir).foreach { v =>
      val ts = manifestLines(spark, tableDir, v)
        .collectFirst { case l if l.startsWith("#committedAt=") =>
          l.stripPrefix("#committedAt=").toLong }
        .getOrElse {
          val p = manifestPath(tableDir, v)
          fs(spark, p).getFileStatus(p).getModificationTime
        }
      if (ts <= tsMillis) return v
      oldestSeen = v; oldestTs = ts
    }
    require(oldestSeen >= 0, s"no versions at $tableDir")
    if (oldestSeen > 0)
      throw new VersionRetentionException(
        s"history of $tableDir before version $oldestSeen was removed by " +
          s"vacuum; the oldest retained commit is at $oldestTs > $tsMillis")
    throw new IllegalArgumentException(
      s"$tableDir has no commit at or before $tsMillis " +
        s"(first commit at $oldestTs)")
  }

  /** [[read]] pinned by TIMESTAMP instead of version number. */
  def readAsOf(spark: SparkSession, tableDir: String, tsMillis: Long): DataFrame =
    read(spark, tableDir, Some(versionAsOf(spark, tableDir, tsMillis)))

  /** The FIRST retained version whose commit stamp is >= `tsMillis` —
    * the "changes since time t" streaming anchor ([[versionAsOf]]'s
    * forward-looking twin): None when every retained commit predates t
    * (the stream should serve only future commits). Walks newest-first
    * from the pointer like [[versionAsOf]]; pre-stamping manifests fall
    * back to file mtime the same way.
    *
    * Retention discipline matches [[versionAsOf]]: when the walk
    * exhausts at a vacuum horizon (oldest retained version > 0) whose
    * stamp is still AFTER t, commits stamped between t and the horizon
    * were removed — answering with the oldest retained version would
    * make a "changes since t" CDC replay silently omit them, so it
    * throws [[VersionRetentionException]] instead. On a full-history
    * table (v0 retained) the same probe legitimately anchors at v0:
    * nothing before the first commit can be missing. */
  def versionAtOrAfter(spark: SparkSession, tableDir: String,
                       tsMillis: Long): Option[Int] = {
    var candidate: Option[Int] = None
    var oldestSeen = -1
    var oldestTs = Long.MaxValue
    versionsNewestFirst(spark, tableDir).foreach { v =>
      val ts = manifestLines(spark, tableDir, v)
        .collectFirst { case l if l.startsWith("#committedAt=") =>
          l.stripPrefix("#committedAt=").toLong }
        .getOrElse {
          val p = manifestPath(tableDir, v)
          fs(spark, p).getFileStatus(p).getModificationTime
        }
      if (ts >= tsMillis) { candidate = Some(v); oldestSeen = v; oldestTs = ts }
      else return candidate
    }
    if (oldestSeen > 0 && oldestTs > tsMillis)
      throw new VersionRetentionException(
        s"history of $tableDir before version $oldestSeen was removed by " +
          s"vacuum; a 'changes since $tsMillis' replay would silently omit " +
          s"the vacuumed commits stamped before $oldestTs — the oldest " +
          "retained commit")
    candidate
  }

  /** Read a pinned version (latest by default). The file list AND the
    * schema come from ONE manifest read, so the scan is consistent no
    * matter what commits land mid-query and no footer is opened for
    * schema discovery; files predating a schema-evolving commit
    * null-fill the columns they lack. */
  def read(spark: SparkSession, tableDir: String,
           version: Option[Int] = None): DataFrame = {
    val snap = snapshot(spark, tableDir, version)
    require(snap.files.nonEmpty,
      s"version ${snap.version} of $tableDir has no files (fully deleted)")
    scanFiles(spark, snap, snap.files)
  }

  /** Result of [[countAt]]: the row count of one pinned version, and
    * whether it was served from manifest metadata alone (zero data
    * files opened) or required a masked scan. */
  case class TableCount(count: Long, metadataOnly: Boolean, version: Int)

  /** COUNT(*) of a pinned version, metadata-only when the manifest can
    * prove it: every commit records each file's exact row count (tagged
    * `rows` — computed from the written data, so per-file counts are
    * exact, not estimates), and the version's count is their sum. That
    * answer costs ONE manifest resolution regardless of table size —
    * at 100 TB the difference between a sub-second metadata read and a
    * full-corpus scan. Falls back to the masked scan, honestly flagged
    * `metadataOnly = false`, in exactly two cases: entries predating
    * row-count tracking (old manifests), and standing merge-on-read
    * deletion vectors (the mask hides SOME rows of the files it
    * touches; how many requires looking — Iceberg draws the same line,
    * metadata counts only without positional deletes; shape reference
    * only). A fully-deleted version counts 0 without touching [[read]]
    * (which refuses on zero files). */
  def countAt(spark: SparkSession, tableDir: String,
              version: Option[Int] = None): TableCount = {
    // manifest-LIST fast path: when the version lands on a FULL manifest
    // whose inline entries and segment refs all carry row counts (and no
    // DV stands), the answer is one small-file read — segment pages are
    // never opened, so a cold count on a million-file table parses the
    // KB-scale ref list, not tens of MB of entry text
    val fast = version.orElse(resolveLatest(spark, tableDir)).flatMap { v =>
      try {
        val raw = rawManifest(spark, tableDir, v)
        val dvEmpty = raw.meta.get("dv.files").forall(_.isEmpty)
        if (raw.base.isEmpty && dvEmpty && raw.removes.isEmpty &&
            raw.adds.forall(_.rows.isDefined) && raw.segs.forall(_.rows.isDefined))
          Some(TableCount(
            raw.adds.flatMap(_.rows).sum + raw.segs.flatMap(_.rows).sum,
            metadataOnly = true, v))
        else None
      } catch { case scala.util.control.NonFatal(_) => None } // slow path errors properly
    }
    fast.getOrElse {
      val snap = snapshot(spark, tableDir, version)
      if (snap.entries.isEmpty) TableCount(0L, metadataOnly = true, snap.version)
      else if (snap.dvFiles.isEmpty && snap.entries.forall(_.rows.isDefined))
        TableCount(snap.entries.map(_.rows.get).sum, metadataOnly = true, snap.version)
      else
        TableCount(scanFiles(spark, snap, snap.files).count(),
          metadataOnly = false, snap.version)
    }
  }

  /** Exact MIN/MAX of a stats column from manifest metadata alone, or
    * None when the manifest cannot PROVE the answer: per-file min/max
    * are exact (computed from the written rows at commit time), so
    * their fold over all entries is the table's true extremes — but
    * only when every entry carries the triple (one stats-blind file
    * could hide the real min) and no deletion vector stands (the mask
    * might hide exactly the extreme row). Callers fall back to an
    * aggregate scan on None; the common id-clustered case answers "max
    * allocated id" in one manifest read. Column name is LOGICAL —
    * resolved through the rename map like every other stats consumer. */
  def minMaxAt(spark: SparkSession, tableDir: String, column: String,
               version: Option[Int] = None): Option[(Long, Long)] = {
    val snap = snapshot(spark, tableDir, version)
    if (snap.entries.isEmpty || snap.dvFiles.nonEmpty) None
    else {
      val physCol = physOf(snap, column)
      val trips = snap.entries.map(_.statsFor(physCol))
      if (trips.exists(_.isEmpty)) None
      else Some((trips.map(_.get._1).min, trips.map(_.get._2).max))
    }
  }

  /** Incremental consumption: ONLY the rows committed after
    * `fromVersion` — the file-set difference of two manifests, which is
    * exact when history since `fromVersion` is append-only. If any file
    * `fromVersion` referenced has since been rewritten (copy-on-write
    * upsert/delete, compaction), the difference would double-count old
    * rows — so this REFUSES instead of silently corrupting the
    * downstream incremental aggregate; the caller falls back to a full
    * recompute (or consumes [[diff]]). This is the primitive that turns
    * a maintained aggregate into `merge(agg_so_far, agg(delta))` at
    * O(delta) cost per refresh. */
  def readAppendedSince(spark: SparkSession, tableDir: String,
                        fromVersion: Int): DataFrame = {
    val from = snapshot(spark, tableDir, Some(fromVersion))
    val to = snapshot(spark, tableDir)
    val missing = from.files.toSet -- to.files.toSet
    if (missing.nonEmpty)
      throw new IllegalStateException(
        s"history since v$fromVersion is not append-only (${missing.size} file(s) " +
          s"rewritten by copy-on-write/compaction) — incremental read would " +
          "double-count; recompute from the full snapshot or consume diff()")
    // merge-on-read deletes rewrite NO files but retract rows the
    // consumer already saw — a file-set delta cannot express that, so
    // refuse exactly like a rewrite (diff() carries retractions)
    if (from.meta.getOrElse("dv.files", "") != to.meta.getOrElse("dv.files", ""))
      throw new IllegalStateException(
        s"history since v$fromVersion includes merge-on-read deletes — the " +
          "append-only file delta cannot express retractions; recompute from " +
          "the full snapshot or consume diff()")
    val delta = to.files.filterNot(from.files.toSet)
    if (delta.isEmpty) {
      val any = to.files.headOption.getOrElse(
        throw new IllegalArgumentException(s"no files at $tableDir"))
      scanFiles(spark, to, Seq(any)).filter(lit(false))
    } else scanFiles(spark, to, delta)
  }

  /** Nullability-normalized view of a type: evolution must refuse TYPE
    * changes (silent coercion is how corpora rot) but not
    * `containsNull`/`nullable` drift — a cast-produced array<float>
    * and a parquet-read one differ only there and hold the same data. */
  private def widenNullable(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = {
    import org.apache.spark.sql.types._
    dt match {
      case ArrayType(e, _)   => ArrayType(widenNullable(e), containsNull = true)
      case MapType(k, v, _)  => MapType(widenNullable(k), widenNullable(v), true)
      case StructType(fs)    => StructType(fs.map(f =>
        f.copy(dataType = widenNullable(f.dataType), nullable = true)))
      case other             => other
    }
  }

  /** LOSSLESS numeric promotions the table accepts without a rewrite:
    * int->long and float->double (plus byte/short up to them). These are
    * exactly the widenings Spark 4's parquet readers cast on the fly
    * when the committed read schema is wider than a file's physical
    * type, so a year of int32 files keeps reading under a bigint column
    * with ZERO data movement. Everything else (string->int, long->int,
    * double->float, decimal scale changes, nested moves) still refuses
    * typed — silent lossy coercion is how corpora rot. */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    val intRank = Map[DataType, Int](ByteType -> 1, ShortType -> 2,
      IntegerType -> 3, LongType -> 4)
    (intRank.contains(from) && intRank.contains(to) &&
      intRank(from) < intRank(to)) ||
      (from == FloatType && to == DoubleType)
  }

  /** The committed schema widened by `df`'s new columns (appended at the
    * end) and by lossless numeric promotions ([[widensTo]], either
    * direction of arrival — a wide delta promotes the column, a narrow
    * delta keeps reading under the committed wide type); any other type
    * change on a common column refuses. */
  private def evolveSchema(old: Option[org.apache.spark.sql.types.StructType],
                           df: DataFrame): org.apache.spark.sql.types.StructType = {
    val incoming = df.schema
    old match {
      case None => incoming
      case Some(o) =>
        val promoted = o.fields.map { prev =>
          incoming.fields.find(_.name == prev.name) match {
            case Some(f)
              if widenNullable(prev.dataType) == widenNullable(f.dataType) => prev
            case Some(f) if widensTo(prev.dataType, f.dataType) =>
              prev.copy(dataType = f.dataType) // committed column widens
            case Some(f) if widensTo(f.dataType, prev.dataType) =>
              prev // narrow delta reads under the committed wide type
            case Some(f) =>
              throw new IllegalArgumentException(
                s"schema evolution cannot change column '${f.name}' from " +
                  s"${prev.dataType.simpleString} to ${f.dataType.simpleString}")
            case None => prev
          }
        }
        org.apache.spark.sql.types.StructType(
          promoted ++ incoming.fields.filterNot(f => o.fieldNames.contains(f.name)))
    }
  }

  /** Write `df`'s rows as this version's new data files and return their
    * entries (normalized paths, plus per-file min/max of `statsCol` when
    * requested — one O(delta) pass over the freshly written, page-warm
    * files). One directory per COMMIT ATTEMPT — the version prefix keeps
    * lineage readable, the random token means two writers racing the
    * same next version write disjoint directories and the loser's rename
    * failure leaves the winner's data untouched (paths travel absolutely
    * in the manifest, so nothing reads the directory name back). */
  private def writeData(df: DataFrame, tableDir: String, v: Int,
                        statsCols: Seq[String] = Seq.empty,
                        bloomCol: Option[String] = None): Seq[FileEntry] = {
    require(!(statsCols ++ bloomCol).exists(c => c == "bloom" || c == "rows"),
      "a stats/bloom column literally named 'bloom' or 'rows' would collide with a manifest tag")
    val dataDir = s"$tableDir/data/v${"%05d".format(v)}_" +
      java.util.UUID.randomUUID().toString.take(8)
    df.write.mode("overwrite").parquet(dataDir)
    val dir = new Path(dataDir)
    val paths = fs(df.sparkSession, dir).listStatus(dir)
      .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
      .map(s => norm(s.getPath)).sorted.toSeq
    val readBack = df.sparkSession.read.parquet(dataDir)
    // a stats/bloom column the written rows don't carry (e.g. '__z'
    // scaffolding inherited from a z-order commit that a later COW's
    // rewrite doesn't materialize) degrades to "no stats — always read",
    // never a failed commit whose data files are already on disk
    val present = statsCols.distinct.filter(readBack.columns.contains)
    // per-file ROW COUNT always rides along (tagged `rows` in the
    // manifest): it is free inside the stats pass, footer-cheap when
    // computed alone (an empty read schema serves counts from parquet
    // row-group metadata), and it is what lets countAt() answer
    // count(*)-shaped questions from ONE manifest read at any scale.
    // Every requested column's min/max rides in the same single pass
    // over the freshly written, page-warm files.
    val aggs = count(lit(1)).as("__n") +: present.flatMap(c =>
      Seq(min(col(c).cast("long")), max(col(c).cast("long"))))
    val stats = readBack
      .groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect().map { r =>
        // all-null (or uncastable) stats column in a file => the file
        // commits WITHOUT that triple and is simply never pruned on it —
        // a missing statistic must degrade to "always read", not crash a
        // commit whose data files are already on disk
        val trips = present.zipWithIndex.flatMap { case (c, j) =>
          if (r.isNullAt(2 + 2 * j) || r.isNullAt(3 + 2 * j)) None
          else Some((c, r.getLong(2 + 2 * j), r.getLong(3 + 2 * j)))
        }
        normFileName(r.getString(0)) -> ((trips, r.getLong(1)))
      }.toMap
    // a written part absent from the stats scan has zero rows — proven
    // empty, so it never enters the manifest at all
    val base = paths.flatMap(p => stats.get(p).map { case (st, n) =>
      FileEntry(p, st, rows = Some(n)) })
    bloomCol.filter(readBack.columns.contains) match {
      case None => base
      case Some(bc) =>
        // per-file Bloom over the column's NON-NULL string values:
        // k salted-md5 positions per value (the same arithmetic
        // bloomPositions/bloomContains run driver-side), OR-folded into
        // BloomBits/64 words with map-side combine — one O(delta) scan,
        // bounded (files × words) collect. A file whose values are all
        // null gets the all-zero bloom: no probe value can live there.
        val posCols = (0 until BloomK).map(j =>
          (conv(substring(md5(concat(lit(s"$j:"), col("__v")).cast("binary")), 1, 8),
            16, 10).cast("long") % BloomBits).cast("int"))
        val words = df.sparkSession.read.parquet(dataDir)
          .select(input_file_name().as("__f"), col(bc).cast("string").as("__v"))
          .where(col("__v").isNotNull)
          .select(col("__f"), explode(array(posCols: _*)).as("__p"))
          .select(col("__f"), expr("CAST(__p / 64 AS INT)").as("__w"),
            expr("shiftleft(CAST(1 AS BIGINT), __p % 64)").as("__bit"))
          .groupBy("__f", "__w").agg(bit_or(col("__bit")).as("__bits"))
          .collect()
          .groupBy(r => normFileName(r.getString(0)))
          .map { case (f, rs) =>
            val arr = new Array[Long](BloomBits / 64)
            rs.foreach(r => arr(r.getInt(1)) = r.getLong(2))
            f -> arr.map("%016x".format(_)).mkString
          }
        val zeroHex = "0" * (BloomBits / 4)
        // saturation audit: at 1024 bits / k=3 a file holding ~>300
        // distinct values sets >50% of the bits and the fpp (~sat^k)
        // quietly climbs toward "prunes nothing while still paying the
        // build scan" — make that VISIBLE at build time instead of
        // letting filesForEquals degrade silently (the pruning itself
        // stays sound either way: a saturated bloom only over-reads)
        words.foreach { case (f, hex) =>
          val sat = hex.grouped(16)
            .map(w => java.lang.Long.bitCount(java.lang.Long.parseUnsignedLong(w, 16)))
            .sum.toDouble / BloomBits
          if (sat > 0.5)
            org.slf4j.LoggerFactory.getLogger(getClass).warn(
              f"bloom on '$bc' in $f is ${sat * 100}%.0f%% saturated " +
                f"(est. fpp ~${math.pow(sat, BloomK) * 100}%.0f%%): the column is " +
                "too high-cardinality per file for a useful bloom — cluster " +
                "the layout on it or drop bloomCol")
        }
        base.map(e => e.copy(bloom =
          Some((bc, words.getOrElse(e.path, zeroHex)))))
    }
  }

  /** Full manifests are forced at v0 and every CheckpointEvery-th
    * version, so a snapshot read replays at most CheckpointEvery-1
    * deltas and vacuum's checkpoint rewrite stays rare. 8 balances
    * commit bytes (7/8 of commits write O(delta)) against read fan-in
    * (≤8 small sequential manifest reads — at 100 TB these are KB-sized
    * metadata files, dwarfed by any data I/O they gate). */
  private[graft] val CheckpointEvery = 8

  /** A FULL manifest with at least this many entries pages its entry
    * list out to segment files ([[fullBodyLines]]); smaller tables keep
    * the single-file format (one read, no indirection). Tunable so the
    * spec can exercise segmentation at test scale — a production
    * deployment would carry it as a table property. */
  private[graft] var SegmentThreshold = 4096

  /** Entries per segment file once a manifest segments. 1024 keeps a
    * million-file table's segment LIST near a thousand lines (a few
    * hundred KB parsed per pruned read, vs tens of MB for the full
    * entry list) while each opened segment stays a single small read. */
  private[graft] var SegmentEntries = 1024

  /** Body lines of a FULL manifest: inline entry lines below
    * [[SegmentThreshold]]; above it, the entries are sorted by the most
    * common stats column, chunked into [[SegmentEntries]]-sized SEGMENT
    * files under `_manifests/segs/`, and the manifest carries one
    * `@seg` ref per chunk with per-column stats ranges (recorded only
    * when every member has the triple) and the OR of member blooms.
    * Range-keying on the dominant stats column makes segment boxes
    * tight, so [[readRange]]/[[readEquals]]/[[readBox]] resolve through
    * [[snapshotWith]] opening only intersecting segments — Iceberg's
    * manifest-list idea in the minimal form this single-FS layout needs
    * (reference point for shape only). Segment files orphaned by a lost
    * publish race or a checkpoint rewrite are reclaimed by [[vacuum]]'s
    * reference sweep. */
  private def fullBodyLines(spark: SparkSession, tableDir: String, v: Int,
                            entries: Seq[FileEntry]): Seq[String] =
    if (entries.size < SegmentThreshold) entries.map(_.line)
    else {
      val keyCol = entries.flatMap(_.stats.map(_._1))
        .groupBy(identity).view.mapValues(_.size).toSeq
        .sortBy { case (c, n) => (-n, c) }.headOption.map(_._1)
      val sorted = keyCol match {
        case Some(c) => entries.sortBy(e =>
          e.statsFor(c).map(_._1).getOrElse(Long.MaxValue))
        case None => entries
      }
      val dir = new Path(s"$tableDir/_manifests/segs")
      val f = fs(spark, dir)
      f.mkdirs(dir)
      sorted.grouped(SegmentEntries).zipWithIndex.map { case (chunk, i) =>
        val p = new Path(dir, s"v${"%05d".format(v)}." +
          s"${java.util.UUID.randomUUID().toString.take(8)}.$i.seg")
        val out = f.create(p, true)
        try out.write((chunk.map(_.line).mkString("\n") + "\n").getBytes("UTF-8"))
        finally out.close()
        val cols = chunk.flatMap(_.stats.map(_._1)).distinct
        val segStats = cols.flatMap { c =>
          val boxes = chunk.map(_.statsFor(c))
          if (boxes.exists(_.isEmpty)) None // a box must bound ALL members
          else Some((c, boxes.map(_.get._1).min, boxes.map(_.get._2).max))
        }
        val segBloom = chunk.flatMap(_.bloom.map(_._1)).distinct match {
          case Seq(c) if chunk.forall(_.bloom.exists(_._1 == c)) =>
            val words = new Array[Long](BloomBits / 64)
            chunk.foreach(_.bloom.foreach { case (_, hex) =>
              hex.grouped(16).map(java.lang.Long.parseUnsignedLong(_, 16))
                .zipWithIndex.foreach { case (w, j) => words(j) |= w } })
            Some((c, words.map("%016x".format(_)).mkString))
          case _ => None
        }
        // record the member-row SUM on the ref (only when every member
        // carries a count): countAt's manifest-list fast path sums refs
        // without opening a single segment file — Iceberg's
        // record_count-on-the-manifest-list idea (shape reference only)
        val segRows =
          if (chunk.forall(_.rows.isDefined)) Some(chunk.flatMap(_.rows).sum)
          else None
        SegRef(norm(p), chunk.size, segStats, segBloom, segRows).line
      }.toList
    }

  /** Atomic commit: manifest written to a dot-temp, then PUBLISHED by an
    * atomic fail-on-exists primitive (hard link on local filesystems,
    * rename on HDFS-like ones — see below). Two writers committing the
    * same next version cannot both succeed — the loser gets
    * [[CommitRaceLost]] and the commit loops rebase it against the new
    * snapshot.
    *
    * When `base` (the snapshot this commit was rebased against, always
    * version v-1) is supplied and v is not a checkpoint version, the
    * manifest is written as a DELTA — `#base=`+added entries+removal
    * lines — whenever that is strictly smaller than the full list, so
    * commit bytes are O(changed files), not O(live files). Metadata is
    * always written in full (it is O(schema), not O(files)) so the hot
    * read path still resolves schema/zorder/batchId from ONE manifest. */
  private[graft] def commitManifest(spark: SparkSession, tableDir: String, v: Int,
                                    entries: Seq[FileEntry],
                                    meta: Map[String, String] = Map.empty,
                                    base: Option[Snapshot] = None): Int = {
    val target = manifestPath(tableDir, v)
    val f = fs(spark, target)
    f.mkdirs(target.getParent)
    if (f.exists(target))
      throw new CommitRaceLost(
        s"concurrent commit: version $v already exists at $tableDir")
    // writer-unique temp name: two writers racing the same version must
    // never share (and truncate) one tmp — the loser must lose at the
    // RENAME, with intact bytes on both sides
    val tmp = new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    val out = f.create(tmp, true)
    // `base` is a physical chain key commitManifest owns — never let a
    // stale copy ride in via `snap.meta ++ ...` carryover and mark a
    // full manifest as a delta; `committedAt` is stamped fresh per
    // commit for the same reason (timestamp travel resolves through it)
    val metaLines = (meta - "base" +
      ("committedAt" -> System.currentTimeMillis.toString))
      .toSeq.sorted.map { case (k, vl) => s"#$k=$vl" }
    val bodyLines: Seq[String] = base match {
      case Some(b) if b.version == v - 1 && v % CheckpointEvery != 0 =>
        val baseMap = b.entries.map(e => e.path -> e).toMap
        val entryMap = entries.map(e => e.path -> e).toMap
        // a changed entry (same path, new stats/bloom) travels as
        // remove+add so replay's removals-then-adds order is exact
        val removed = b.entries.filter(e => !entryMap.get(e.path).contains(e)).map(_.path)
        val added = entries.filter(e => !baseMap.get(e.path).contains(e))
        if (removed.size + added.size >= entries.size)
          fullBodyLines(spark, tableDir, v, entries)
        else s"#base=${v - 1}" +: (added.map(_.line) ++ removed.map(p => s"-\t$p"))
      case _ => fullBodyLines(spark, tableDir, v, entries)
    }
    try out.write(
      ((metaLines ++ bodyLines).mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    // Atomic publish, per scheme. HDFS-like filesystems: rename, which
    // atomically FAILS when the destination exists. Local filesystems:
    // Hadoop's rename is POSIX rename(2), which silently OVERWRITES an
    // existing destination — the exists() check above is only a fast
    // path with a TOCTOU window, and two racing commits could both
    // "win" with one manifest clobbered (a lost update; the round-12
    // barrier spec caught exactly this). link(2) is the local
    // compare-and-swap: hard-linking the tmp to the target atomically
    // raises EEXIST if any other writer published first.
    val scheme = target.toUri.getScheme
    val published =
      if (scheme == null || scheme == "file") {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(norm(target)),
            java.nio.file.Paths.get(norm(tmp)))
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
          // local mounts without hard-link support (FUSE/NFS/SMB/FAT
          // exposed via file://): fall back to exists+rename — the
          // narrower TOCTOU window of the pre-link protocol, strictly
          // better than every commit failing on such a mount. The
          // FileAlreadyExistsException arm above must stay FIRST (it is
          // a FileSystemException subclass and means the race was lost,
          // not that links are unsupported).
          case _: UnsupportedOperationException | _: java.nio.file.FileSystemException =>
            !f.exists(target) && f.rename(tmp, target)
        } finally f.delete(tmp, false)
      } else {
        val ok = f.rename(tmp, target)
        if (!ok) f.delete(tmp, false)
        ok
      }
    if (!published)
      throw new CommitRaceLost(
        s"concurrent commit: lost the publish race for version $v at $tableDir")
    // manifest is live — advance the advisory latest pointer so the next
    // reader resolves "latest" in O(1) metadata instead of a listing
    advanceLatest(spark, tableDir, v)
    v
  }

  /** Create version 0 from `df`. Fails if the table already exists.
    * `statsCol` opts into manifest-level file statistics for that
    * column (see [[readRange]]). */
  def init(df: DataFrame, tableDir: String,
           meta: Map[String, String] = Map.empty,
           statsCol: Option[String] = None,
           bloomCol: Option[String] = None): Int = {
    require(versions(df.sparkSession, tableDir).isEmpty,
      s"table already initialized at $tableDir")
    commitManifest(df.sparkSession, tableDir, 0,
      writeData(df, tableDir, 0, statsCol.toSeq, bloomCol),
      meta + ("schema" -> df.schema.json) + ("op" -> "init"))
  }

  /** Bounded commit-retry: each attempt re-reads the LATEST snapshot,
    * asks `rebase` for the manifest that commit should publish (None =
    * true conflict, refuse), and races the rename. An append's data
    * files are written ONCE before the loop (their directory is
    * attempt-unique, so the retries move only manifest lines, never
    * data); when `rebase` refuses or throws, or the retries run out,
    * `attemptData` is discarded. Delta/Iceberg call the same thing
    * optimistic concurrency with conflict detection.
    *
    * A rebase may write a deletion-vector sidecar of its own (the
    * consolidation of [[morDeleteRebase]], the retraction of
    * [[retractDvFor]]); the code that writes one records its path in
    * `written`, which is attempt data too. Whatever of the attempt data
    * the published manifest does not reference is discarded: all of it
    * on a refusal, a throw or when the retries run out; on success a
    * sidecar written against a DV set that lost the race, or a MoR
    * delete's own sidecar once consolidated away. A sidecar carried in
    * from an existing manifest (a restore's, any carried `dv.files`) is
    * never recorded, so never touched. */
  private val CommitRetries = 5
  private[graft] def commitWithRebase(s: SparkSession, tableDir: String,
                                      rebase: Snapshot => Option[(Seq[FileEntry], Map[String, String])],
                                      attemptData: Seq[FileEntry] = Seq.empty,
                                      written: scala.collection.Seq[String] = Seq.empty)
                                     : Int = {
    var last: CommitRaceLost = null
    var attempt = 0
    def discard(published: => Iterator[String]): Unit =
      discardAttemptData(s, attemptData.map(_.path) ++ written, published)
    while (attempt < CommitRetries) {
      val snap = snapshot(s, tableDir)
      val (entries, meta) =
        try rebase(snap).getOrElse(throw new ConcurrentWriteConflictException(
          s"commit to $tableDir conflicts with version ${snap.version} " +
            "committed concurrently: the interleaved commit rewrote files " +
            "or rows this writer read — re-run against the new snapshot"))
        catch { case e: Throwable => discard(Iterator.empty); throw e }
      try {
        val v = commitManifest(s, tableDir, snap.version + 1, entries, meta,
          base = Some(snap))
        discard(entries.iterator.map(_.path) ++ Snapshot(v, entries, meta).dvFiles)
        return v
      } catch { case e: CommitRaceLost => last = e; attempt += 1 }
    }
    discard(Iterator.empty)
    throw last
  }

  /** Best-effort reclamation of attempt data no manifest references:
    * the directory of every path in `paths` that `published` does not
    * name, except a directory that also holds a published one of
    * `paths`. Each `writeData` call writes its own directory, so an
    * unpublished write goes whole — leaving it would orphan a
    * rewrite-sized directory (or a sidecar) per failed attempt until
    * someone vacuums — and only attempt paths can live in it.
    * `published` is walked only when there are attempt paths (a
    * metadata commit does no work here). Failures here are swallowed:
    * cleanup must never mask the typed conflict. */
  private def discardAttemptData(s: SparkSession, paths: Seq[String],
                                 published: => Iterator[String]): Unit =
    if (paths.nonEmpty) try {
      val mine = paths.toSet
      val live = published.filter(mine).toSet
      val dead = paths.filterNot(live)
      if (dead.nonEmpty) {
        val liveDirs = live.map(new Path(_).getParent)
        dead.map(new Path(_).getParent).distinct.filterNot(liveDirs)
          .foreach(d => fs(s, d).delete(d, true))
      }
    } catch { case _: Throwable => () }

  /** The write-and-commit step every rewriting commit shares: write
    * `rows` (arranged by the caller, in the column space its files
    * store) as `base`'s next version with the given (stats columns,
    * bloom column), then publish through [[commitWithRebase]]. `rebase`
    * is the operation's conflict rule and commit metadata: handed the
    * latest snapshot and the written entries, it returns the manifest
    * to publish, or None for a true conflict. No rows = nothing to
    * write (a delete that matched no row). */
  private def writeAndCommit(s: SparkSession, base: Snapshot, tableDir: String,
                             rows: Option[DataFrame],
                             skipping: (Seq[String], Option[String]),
                             written: scala.collection.Seq[String] = Seq.empty)
                            (rebase: (Snapshot, Seq[FileEntry]) =>
                              Option[(Seq[FileEntry], Map[String, String])]): Int = {
    val added = rows.fold(Seq.empty[FileEntry])(
      writeData(_, tableDir, base.version + 1, skipping._1, skipping._2))
    commitWithRebase(s, tableDir, rebase(_, added), added, written)
  }

  /** A FULL rewrite (compact, z-order, overwrite): `rows` replace every
    * file of `base`, so any interleaved commit is a true conflict and
    * publishing is only ever over `base` itself. The fresh commit
    * metadata is `meta` over the standing table metadata
    * ([[carriedTableMeta]]). */
  private def rewriteAll(s: SparkSession, base: Snapshot, tableDir: String,
                         rows: DataFrame, skipping: (Seq[String], Option[String]),
                         meta: Map[String, String]): Int =
    writeAndCommit(s, base, tableDir, Some(rows), skipping) { (latest, added) =>
      if (latest.version == base.version) Some((added, carriedTableMeta(base) ++ meta))
      else None
    }

  /** The skipping columns a rewrite of `snap`'s rows inherits: every
    * stats column of its entries, and their bloom column when all share
    * one. Keyed physical as committed — or, for a RE-BASELINING rewrite
    * (compact, z-order: physical == logical again), keyed logical, with
    * the '__z' scaffolding dropped along with the layout it described. A
    * column the written rows don't carry degrades in [[writeData]] to
    * "no stats — always read". */
  private def inheritedSkipping(snap: Snapshot, rebaseline: Boolean)
      : (Seq[String], Option[String]) = {
    def key(c: String) = if (rebaseline) logicalOf(snap, c) else c
    val stats = snap.entries.flatMap(_.stats.map(_._1)).distinct
      .filterNot(c => rebaseline && c == "__z").map(key)
    val bloom = snap.entries.flatMap(_.bloom.map(_._1)).distinct match {
      case Seq(c) => Some(key(c))
      case _      => None
    }
    (stats, bloom)
  }

  /** Append-only commit: O(delta) data write; every existing file is
    * carried into the new manifest by reference (stats included). A
    * delta with NEW columns evolves the committed schema — older files
    * null-fill on read; changing an existing column's type refuses.
    *
    * Concurrency: two racing appends BOTH land. The loser of the
    * manifest rename rebases — its data files are already on disk in an
    * attempt-unique directory, so the retry just re-reads the winner's
    * snapshot and republishes `winner.entries ++ mine` (appends remove
    * nothing, so an append rebases over ANY interleaved commit,
    * including copy-on-write). Versions linearize in rename order. */
  def append(df: DataFrame, tableDir: String,
             meta: Map[String, String] = Map.empty,
             statsCol: Option[String] = None,
             bloomCol: Option[String] = None): Int = {
    val s = df.sparkSession
    val base = snapshot(s, tableDir)
    // evolution + DV guards BEFORE any data writes: a delta reusing a
    // rename-retired name (or re-introducing a merge-on-read-deleted
    // id) must refuse typed with nothing on disk to reclaim
    evolvedSchemaFor(base, df): Unit
    requireNoDvOverlap(s, base, df, tableDir)
    requireConstraints(s, base, df, tableDir)
    // delta files write PHYSICAL names (and stats/bloom key physical)
    // so one read schema covers files on both sides of any rename
    val newEntries = writeData(toPhysical(base, df), tableDir, base.version + 1,
      statsCol.map(physOf(base, _)).toSeq, bloomCol.map(physOf(base, _)))
    // snap.meta carries standing table metadata (zorder.* bucketization,
    // colmap, deletion vectors) across appends; the caller's meta wins
    // on key collision. An append whose rows carry a merge-on-read-
    // deleted id REFUSES typed: append has no per-id rewrite machinery,
    // so it can neither resurrect the id (old masked rows would come
    // back with it) nor land the new rows visibly (the vector would
    // mask them) — upsert is the resurrection path.
    commitWithRebase(s, tableDir, snap => {
      requireNoDvOverlap(s, snap, df, tableDir)
      // a constraint added CONCURRENTLY must gate this ingest too —
      // re-validate only when the standing set actually changed
      if (constraintsOf(snap) != constraintsOf(base))
        requireConstraints(s, snap, df, tableDir)
      Some((snap.entries ++ newEntries,
        snap.meta ++ meta + ("schema" -> evolvedSchemaFor(snap, df).json)
          + ("op" -> "append")))
    }, newEntries)
  }

  /** Manifest-stats pruning for copy-on-write DISCOVERY: the subset of
    * `entries` that could possibly contain an id of `deltaIds` — files
    * whose id-column stats box holds at least one delta id (one pass
    * over the SMALL delta against the broadcast per-file stats table),
    * plus every file carrying no stats on the id column (unprovable ⇒
    * candidate). On a clustered-id layout this turns the upsert's
    * touched-file scan from O(table) into O(candidate files) — the
    * difference between an upsert and a table scan at 100 TB. None = no
    * entry carries id stats (e.g. string ids, whose long-cast stats are
    * null): pruning cannot help and the caller takes them all. Sound by
    * the same argument as [[filesForRange]]: a file whose stats box
    * excludes every delta id cannot contain one. Shared with
    * [[changeFeed]], which prunes SHARED files for deletion-vector
    * deltas the same way. */
  private[graft] def candidateFilesIn(s: SparkSession, entries: Seq[FileEntry],
                                      deltaIds: DataFrame, idCol: String,
                                      physId: String): Option[Seq[String]] = {
    val withStats = entries.flatMap(e =>
      e.statsFor(physId).map { case (lo, hi) => (e.path, lo, hi) })
    if (withStats.isEmpty) None
    else {
      val statless = entries.collect {
        case e if !e.stats.exists(_._1 == physId) => e.path
      }
      val statsDf = s.createDataFrame(withStats).toDF("__p", "__lo", "__hi")
      // try_cast: an id column the stats layer couldn't long-cast has no
      // stats rows anyway (None above), but ANSI mode must never make a
      // pruning OPTIMIZATION throw on an odd id value
      val idL = expr(s"try_cast(`$idCol` AS BIGINT)")
      val hit = deltaIds
        .join(broadcast(statsDf), idL >= col("__lo") && idL <= col("__hi"))
        .select("__p").distinct().collect().map(_.getString(0))
      Some((hit ++ statless).toSeq)
    }
  }

  /** The append-path guard for merge-on-read deletes: refuse when the
    * incoming rows carry ids a standing deletion vector masks. */
  private def requireNoDvOverlap(s: SparkSession, snap: Snapshot,
                                 df: DataFrame, tableDir: String): Unit =
    (snap.dvFiles, snap.dvCol) match {
      case (dvs, Some(c)) if dvs.nonEmpty =>
        val phys = toPhysical(snap, df)
        if (phys.columns.contains(c)) {
          val dv = s.read.parquet(dvs: _*).select(col(c)).distinct()
          if (!dv.join(phys.select(col(c)).distinct(), Seq(c), "left_semi").isEmpty)
            throw new IllegalStateException(
              s"append to $tableDir re-introduces ids deleted merge-on-read — " +
                "append cannot safely resurrect them (the old masked rows would " +
                "return too); upsert the rows instead, or compact first")
        }
      case _ => ()
    }

  /** The file subset a range predicate on `statsCol` can possibly touch:
    * files whose manifest stats box intersects `[lo, hi]`, plus files
    * with no stats for that column (must be read — skipping is only
    * sound when the stats PROVE emptiness). Pure manifest arithmetic,
    * zero file opens. */
  def filesForRange(spark: SparkSession, tableDir: String, version: Option[Int],
                    statsCol: String, lo: Long, hi: Long): Seq[String] = {
    val snap = snapshot(spark, tableDir, version)
    filesForRangeIn(snap.entries, physOf(snap, statsCol), lo, hi)
  }

  /** Entries-level twin of [[filesForRange]] — lets callers that already
    * hold a pinned [[Snapshot]] prune WITHOUT re-resolving "latest" (a
    * commit landing between two independent resolutions would mix
    * versions: files from v+1 read under v's schema). */
  private[graft] def filesForRangeIn(entries: Seq[FileEntry], statsCol: String,
                                     lo: Long, hi: Long): Seq[String] =
    entries.flatMap { e =>
      e.statsFor(statsCol) match {
        case Some((fLo, fHi)) => if (fLo <= hi && fHi >= lo) Some(e.path) else None
        case None             => Some(e.path)
      }
    }

  /** The file subset an EQUALITY probe on `bloomCol` can possibly
    * touch: files whose manifest Bloom filter contains the value, plus
    * files carrying no bloom for that column (must be read). Like
    * [[filesForRange]]: pure manifest arithmetic, zero file opens, and
    * skipping is sound because a Bloom filter has no false negatives. */
  def filesForEquals(spark: SparkSession, tableDir: String, version: Option[Int],
                     bloomCol: String, value: String): Seq[String] = {
    val snap = snapshot(spark, tableDir, version)
    bloomFilesIn(snap.entries, physOf(snap, bloomCol), value)
  }

  /** Entries-level twin of [[filesForEquals]] (the bloom analogue of
    * [[filesForRangeIn]]): ONE implementation of "files whose bloom for
    * the physical column contains the value, plus files carrying no
    * bloom for it" — shared by the library read paths and the
    * DataSource relation so the keep-set arithmetic can never drift
    * between them. */
  private[graft] def bloomFilesIn(entries: Seq[FileEntry], physCol: String,
                                  value: String): Seq[String] =
    entries.collect {
      case FileEntry(p, _, Some((c, hex)), _) if c == physCol =>
        if (bloomContains(hex, value)) Some(p) else None
      case FileEntry(p, _, _, _) => Some(p)
    }.flatten

  /** Equality read through manifest-level Bloom skipping — the string-
    * column twin of [[readRange]] (min/max boxes are useless for
    * high-cardinality or unordered string equality; a per-file Bloom
    * answers "could this file contain v?" in one manifest read). The
    * exact predicate still applies on top: pruning is an I/O
    * optimization, never a semantics change. */
  def readEquals(spark: SparkSession, tableDir: String, version: Option[Int],
                 bloomCol: String, value: String): DataFrame = {
    // one PRUNED snapshot resolution: the pruning decision and the read
    // share the SAME pinned version (a racing commit cannot mix
    // versions); on a segmented manifest, a segment whose OR-folded
    // bloom excludes the value is never parsed (no false negatives
    // survive an OR — the skip is as sound as the per-file one). Blooms
    // key physical names, the equality applies on the logical view.
    val snap = snapshotWith(spark, tableDir, version, (meta, seg) => {
      val phys = colMapOf(meta).getOrElse(bloomCol, bloomCol)
      seg.bloom match {
        case Some((c, hex)) if c == phys => bloomContains(hex, value)
        case _                           => true
      }
    })
    readPruned(spark, tableDir, version, snap,
      bloomFilesIn(snap.entries, physOf(snap, bloomCol), value),
      col(bloomCol) === value)
  }

  /** The scan of a pruned read: the kept files of the pinned snapshot
    * under the exact predicate. When nothing is kept, one carrier file
    * filtered to no rows keeps the schema — taken from the FULL
    * resolution when segment pruning emptied the entry list of a live
    * table — and a fully deleted version raises the same error as
    * [[read]]. */
  private def readPruned(spark: SparkSession, tableDir: String,
                         version: Option[Int], snap: Snapshot,
                         keep: Seq[String], pred: org.apache.spark.sql.Column)
      : DataFrame =
    if (keep.nonEmpty) scanFiles(spark, snap, keep).filter(pred)
    else {
      val carrier = if (snap.files.nonEmpty) snap
                    else snapshot(spark, tableDir, version)
      require(carrier.files.nonEmpty,
        s"version ${carrier.version} of $tableDir has no files (fully deleted)")
      scanFiles(spark, carrier, Seq(carrier.files.head)).filter(lit(false))
    }

  /** Range read through manifest-level skipping: only the
    * [[filesForRange]] subset is handed to the scan, then the exact
    * predicate applies on top (pruning is an I/O optimization, never a
    * semantics change). With a range-clustered layout
    * ([[Scale.dumpRangeSorted]]-style commits), a narrow probe opens a
    * handful of files out of millions — and the decision costs one
    * manifest read, not a footer fetch per file. */
  def readRange(spark: SparkSession, tableDir: String, version: Option[Int],
                statsCol: String, lo: Long, hi: Long): DataFrame = {
    // one PRUNED snapshot resolution, same rationale as readEquals: on
    // a segmented manifest only segments whose range box intersects
    // [lo, hi] are parsed — a narrow probe on a million-file table
    // reads the segment list plus a handful of segment files, not the
    // whole entry list. Stats are keyed by PHYSICAL name; the predicate
    // applies on the logical view scanFiles serves.
    val snap = snapshotWith(spark, tableDir, version, (meta, seg) => {
      val phys = colMapOf(meta).getOrElse(statsCol, statsCol)
      seg.statsFor(phys).forall { case (sLo, sHi) => sLo <= hi && sHi >= lo }
    })
    readPruned(spark, tableDir, version, snap,
      filesForRangeIn(snap.entries, physOf(snap, statsCol), lo, hi),
      col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** Last-wins upsert as a copy-on-write commit: only files CONTAINING a
    * delta id are rewritten (their surviving rows + the delta, one
    * write); untouched files carry over by reference. The touched-file
    * discovery is a semi-join on the snapshot scan and collects ≤ |files|
    * strings — bounded by layout, not data. */
  def upsert(delta: DataFrame, tableDir: String, idCol: String): Int =
    copyOnWrite(delta, tableDir, idCol, "upsert", Some(_ => delta))

  /** Delete by id: the same copy-on-write commit without new rows for
    * the deleted ids; a file emptied entirely simply leaves the
    * manifest. */
  def deleteIds(ids: DataFrame, tableDir: String, idCol: String): Int =
    copyOnWrite(ids.select(idCol), tableDir, idCol, "delete", None)

  /** ONE atomic commit applying a MIXED row-level delta: every row whose
    * id appears in `upserts` or `removeIds` leaves the table (files
    * containing one are rewritten without those rows, untouched files
    * carry by reference), and the `upserts` rows land — the combined
    * copy-on-write the SQL `UPDATE` / `MERGE INTO` surface needs, where
    * one statement deletes, updates and inserts in a single snapshot
    * step (reference semantics: executor.py:170-225's update/delete
    * endpoints composed, but transactional). A reader never observes the
    * deletes without the inserts: both publish under one manifest
    * rename.
    *
    * `baseVersion` pins the snapshot the delta was COMPUTED from (the
    * engine's scan of the statement's target): the commit's conflict
    * window then covers the full scan→commit span — any interleaved
    * commit that rewrote a pinned file, or appended rows contesting a
    * delta id, refuses typed through [[cowRebase]] instead of silently
    * clobbering with stale-derived rows. Ids are the table's key
    * (last-wins contract): a multi-row id is replaced as a unit. */
  def applyDelta(upserts: DataFrame, removeIds: DataFrame, tableDir: String,
                 idCol: String, baseVersion: Option[Int] = None): Int =
    copyOnWrite(upserts, tableDir, idCol, "write_delta", Some(_ => upserts),
      extraRemoveIds = Some(removeIds), baseVersion = baseVersion)

  /** Sidecar-count bound: when a MoR delete would leave MORE standing
    * sidecars than this, the commit folds them all into ONE (an O(DV)
    * rewrite — the vector is small next to the table by the MoR premise).
    * Without the bound a table taking daily MoR deletes reads 365
    * sidecars per masked scan after a year; with it every read opens at
    * most [[DvConsolidateAt]] small parquet files. */
  private[graft] val DvConsolidateAt = 8

  /** MERGE-ON-READ delete: write the deleted id set as a deletion-vector
    * sidecar (one small parquet) and commit with every data file carried
    * by reference — O(deleted ids) write cost, vs [[deleteIds]]' COW
    * O(touched files) rewrite. At 100 TB deleting 0.001% of rows
    * copy-on-write rewrites ~0.001% of a petabyte; merge-on-read writes
    * kilobytes and every read masks via one anti-join ([[scanFiles]]),
    * paid until the next [[compact]]/[[compactZOrder]] materializes the
    * deletes and drops the vectors (their fresh meta omits `dv.*` and
    * their input scan is already masked — apply-and-drop is free).
    *
    * Resurrection contract: a later append/upsert/merge whose delta
    * RE-INTRODUCES a deleted id retracts it from the standing vector
    * (those commits subtract their incoming ids — see
    * [[retractDvFor]]), so "delete then re-add" behaves exactly like
    * the COW path. Races linearize by commit order: the vector masks
    * ids as of its commit position, appends rebase over it like any
    * metadata-carrying commit.
    *
    * The vector keys on `idCol`'s PHYSICAL name, so renames never
    * invalidate it; successive MoR deletes accumulate sidecars (each
    * commit is O(its own delta)) and must agree on the id column. */
  def deleteIdsMergeOnRead(ids: DataFrame, tableDir: String, idCol: String): Int = {
    val s = ids.sparkSession
    val base = snapshot(s, tableDir)
    val physId = physOf(base, idCol)
    base.dvCol.foreach(c => require(c == physId,
      s"merge-on-read deletes at $tableDir key on '$c'; got '$idCol' ($physId)"))
    val distinctIds = toPhysical(base, ids.select(col(idCol))).distinct()
    // a zero-match delete commits NOTHING and returns the standing
    // version — SQL's "0 rows affected". Without the guard it would
    // stamp dv.files from an empty sidecar set, and the consolidation
    // read over zero paths cannot even infer a schema.
    if (distinctIds.isEmpty) return base.version
    val dvEntries = writeData(distinctIds, tableDir, base.version + 1)
    val cache = scala.collection.mutable.Map.empty[String, Map[String, String]]
    val consolidated = scala.collection.mutable.Buffer.empty[String]
    commitWithRebase(s, tableDir,
      morDeleteRebase(s, tableDir, idCol, physId, dvEntries, cache, consolidated),
      dvEntries, consolidated)
  }

  /** The rebase rule of [[deleteIdsMergeOnRead]]'s commit loop, exposed
    * for the spec. The sidecar parquet was written under the BASE
    * snapshot's physical name for `idCol`; if a concurrent
    * compact/compactZOrder re-baselined column names before the rebase
    * retry (or an interleaved writer changed the DV key column),
    * stamping `dv.col` with the stale physical name would make every
    * subsequent read throw resolving it — refuse as a true conflict
    * instead (the caller re-runs against the new snapshot, whose reads
    * are already delete-materialized or re-keyed). Folds sidecars into
    * one when the standing count crosses [[DvConsolidateAt]] and stamps
    * `dv.rows` (the mask-debt observability [[history]] surfaces); both
    * are cached per base-DV-set so bounded commit retries don't rewrite;
    * each consolidated sidecar's path is recorded in `written`. */
  private[graft] def morDeleteRebase(s: SparkSession, tableDir: String,
      idCol: String, physId: String, dvEntries: Seq[FileEntry],
      cache: scala.collection.mutable.Map[String, Map[String, String]],
      written: scala.collection.mutable.Buffer[String] =
        scala.collection.mutable.Buffer.empty[String])
      (snap: Snapshot): Option[(Seq[FileEntry], Map[String, String])] = {
    if (physOf(snap, idCol) != physId || !snap.dvCol.forall(_ == physId)) None
    else {
      val dvMeta = cache.getOrElseUpdate(snap.dvFiles.mkString(","), {
        val standing = snap.dvFiles ++ dvEntries.map(_.path)
        val ids = s.read.parquet(standing: _*).select(col(physId)).distinct()
        if (standing.size > DvConsolidateAt) {
          val rows = ids.count()
          val one = writeData(ids, tableDir, snap.version + 1)
          written ++= one.map(_.path)
          Map("dv.files" -> one.map(_.path).mkString(","),
            "dv.rows" -> rows.toString)
        } else Map("dv.files" -> standing.mkString(","),
          "dv.rows" -> ids.count().toString)
      })
      Some((snap.entries,
        snap.meta ++ dvMeta + ("dv.col" -> physId) + ("op" -> "delete_mor")))
    }
  }

  /** The deletion-vector retraction a re-introducing write owes: when a
    * standing DV exists and the incoming delta carries the DV column,
    * ids present in BOTH are subtracted (one consolidated sidecar
    * rewrite — O(DV), not O(table)); with no overlap the vectors carry
    * unchanged and this costs one small join. Returns the meta updates
    * for the commit (empty = carry as-is); the rewritten sidecar's path
    * is recorded in `written`. */
  private def retractDvFor(s: SparkSession, snap: Snapshot, delta: DataFrame,
                           tableDir: String, v: Int,
                           written: scala.collection.mutable.Buffer[String])
      : Map[String, String] =
    (snap.dvFiles, snap.dvCol) match {
      case (dvs, Some(c)) if dvs.nonEmpty =>
        val deltaPhys = toPhysical(snap, delta)
        if (!deltaPhys.columns.contains(c)) Map.empty
        else {
          val dv = s.read.parquet(dvs: _*).select(col(c)).distinct()
          val incoming = deltaPhys.select(col(c)).distinct()
          if (dv.join(incoming, Seq(c), "left_semi").isEmpty) Map.empty
          else {
            val survived = dv.join(incoming, Seq(c), "left_anti")
            val n = survived.count()
            if (n == 0L) Map("dv.files" -> "", "dv.col" -> "", "dv.rows" -> "0")
            else {
              val rewritten = writeData(survived, tableDir, v)
              written ++= rewritten.map(_.path)
              Map("dv.files" -> rewritten.map(_.path).mkString(","),
                "dv.rows" -> n.toString)
            }
          }
        }
      case _ => Map.empty
    }

  /** Rename a column as a METADATA-ONLY commit: every data file carries
    * by reference (ZERO bytes rewritten — at 100 TB a rename that
    * rewrote the table would be an outage), the committed logical
    * schema takes the new name, and the `colmap` entry records the
    * unchanged PHYSICAL identity old files (and all future incremental
    * writes) store. Reads at this and later versions serve the new
    * name; time travel below sees the old one (schema is per-version).
    * Manifest stats / blooms / zorder.dims key physical names, so every
    * pruning layer survives untouched. Renaming back to the original
    * name just drops the map entry. Names must stay free of the
    * manifest separators. */
  def renameColumn(spark: SparkSession, tableDir: String,
                   oldName: String, newName: String): Int = {
    require(newName.nonEmpty && !newName.exists(c => c == ':' || c == ',' ||
      c == '\t' || c == '\n' || c == '#'),
      s"invalid column name '$newName' (colmap separators)")
    commitWithRebase(spark, tableDir, latest => {
      val logical = latest.schema.getOrElse(throw new IllegalStateException(
        s"$tableDir predates schema tracking — compact it before renaming"))
      require(logical.fieldNames.contains(oldName),
        s"no column '$oldName' at $tableDir (have ${logical.fieldNames.mkString(", ")})")
      require(!logical.fieldNames.contains(newName),
        s"column '$newName' already exists at $tableDir")
      val cm = colMap(latest)
      // the mirror of [[evolvedSchemaFor]]'s retired-name guard: a rename
      // may not TAKE a name that is still the PHYSICAL identity of some
      // OTHER renamed column — two logical columns would map to colliding
      // on-disk names and every later physical projection would be
      // ambiguous (renaming a column back to its own physical name is the
      // map-dropping case and stays legal)
      val physInUse = (cm - oldName).values.toSet
      require(!physInUse.contains(newName),
        s"column name '$newName' is still the physical (on-disk) name of a " +
          "renamed column — compact the table to re-baseline before reusing it")
      val phys = cm.getOrElse(oldName, oldName)
      // the physical half of the recorded entry must also stay free of
      // the manifest separators: a baseline column named with one (legal
      // at init) would corrupt the colmap encoding — refuse the rename
      // and point at the rewrite that re-baselines the name
      require(!phys.exists(c => c == ':' || c == ',' || c == '\t' ||
        c == '\n' || c == '#'),
        s"physical column name '$phys' contains a colmap separator — " +
          "compact the table (re-baselining the physical names) before renaming")
      // a CHECK constraint references columns by LOGICAL name — renaming
      // one out from under it would leave the expression unresolvable on
      // the next ingest. Refuse (never rewrite the expression textually);
      // the caller drops and re-adds the constraint under the new name.
      val refd = constraintsOf(latest).filter { case (_, e) =>
        constraintRefs(spark, e).contains(oldName) }
      require(refd.isEmpty,
        s"column '$oldName' is referenced by CHECK constraint(s) " +
          s"${refd.keys.toSeq.sorted.mkString(", ")} — drop and re-add them " +
          "under the new name")
      val newMap = ((cm - oldName) + (newName -> phys))
        .filter { case (l, p) => l != p }
      val newSchema = org.apache.spark.sql.types.StructType(logical.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val metaBase = latest.meta + ("schema" -> newSchema.json) + ("op" -> "rename")
      Some((latest.entries,
        if (newMap.isEmpty) metaBase - "colmap"
        else metaBase + ("colmap" -> newMap.toSeq.sorted
          .map { case (l, p) => s"$l:$p" }.mkString(","))))
    })
  }

  /** ADD a column as a METADATA-ONLY commit: zero bytes rewritten — the
    * committed logical schema widens by one NULLABLE field appended at
    * the end, and every existing file null-fills it on read, exactly
    * like evolution-by-append already serves files written before a
    * widening delta. The mirror of [[renameColumn]]'s guards applies:
    * the name must be free of manifest separators, unused, and not the
    * retired physical identity of a renamed column. Non-nullable adds
    * refuse — no existing row could satisfy them. */
  def addColumn(spark: SparkSession, tableDir: String, name: String,
                dataType: org.apache.spark.sql.types.DataType): Int = {
    require(name.nonEmpty && !name.exists(c => c == ':' || c == ',' ||
      c == '\t' || c == '\n' || c == '#'),
      s"invalid column name '$name' (colmap separators)")
    commitWithRebase(spark, tableDir, latest => {
      val logical = latest.schema.getOrElse(throw new IllegalStateException(
        s"$tableDir predates schema tracking — compact it before adding columns"))
      require(!logical.fieldNames.contains(name),
        s"column '$name' already exists at $tableDir")
      val cm = colMap(latest)
      val physInUse = logical.fieldNames.map(n => cm.getOrElse(n, n)).toSet
      require(!physInUse.contains(name),
        s"column name '$name' was retired by a rename and is still the " +
          "physical name of an existing column — compact the table to " +
          "re-baseline before reusing it")
      val widened = org.apache.spark.sql.types.StructType(logical.fields :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
      Some((latest.entries,
        latest.meta + ("schema" -> widened.json) + ("op" -> "add_column")))
    })
  }

  /** The table's standing CHECK constraints: name -> boolean SQL
    * expression over LOGICAL column names, stored as `constraint.<name>`
    * commit metadata (so they ride every snapshot, travel with restore /
    * clone / time travel, and cost zero reads to discover). */
  def constraintsOf(snap: Snapshot): Map[String, String] =
    snap.meta.collect { case (k, v) if k.startsWith("constraint.") =>
      k.stripPrefix("constraint.") -> v }

  /** The standing table metadata a FULL-REWRITE commit (compact,
    * z-order, overwrite) must carry forward: constraints, the CDF
    * opt-in, and the `catalog.*` identity properties (idColumn and the
    * pruning layout) — dropping those silently turns a maintained
    * catalog table's SQL DELETE/UPDATE/MERGE into a typed refusal and
    * loses the layout every later ingest should keep. Deliberately NOT
    * carried: `colmap` (the rewrite re-baselines physical == logical),
    * `zorder.*` (the layout it described is gone; compactZOrder
    * re-stamps its own), and `dv.files` (the vectors masked content the
    * rewrite replaced). */
  private def carriedTableMeta(snap: Snapshot): Map[String, String] =
    snap.meta.filter { case (k, _) =>
      k.startsWith("constraint.") || k.startsWith("catalog.") || k == "cdf" }

  /** Column names a constraint expression references, via the SQL
    * parser's unresolved-attribute walk (never a textual match — a
    * column name appearing inside a string literal must not count). */
  private def constraintRefs(s: SparkSession, check: String): Set[String] =
    s.sessionState.sqlParser.parseExpression(check).collect {
      case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
        a.name
    }.toSet

  /** Refuse `df` (an ingest delta) if any standing constraint rejects a
    * row. ANSI CHECK semantics: TRUE and NULL pass, only FALSE violates
    * — so a delta that omits a constrained column (null-fill on read)
    * passes, exactly like the committed nulls would. One bounded
    * O(delta) probe per constraint, run BEFORE any data writes. */
  private def requireConstraints(s: SparkSession, snap: Snapshot,
                                 df: DataFrame, tableDir: String): Unit = {
    val cs = constraintsOf(snap)
    if (cs.nonEmpty) {
      // evaluate under the snapshot's full logical schema: absent
      // columns null-fill (as they would on read), extra delta columns
      // pass through untouched
      val padded = snap.schema.map(_.fields.toSeq
        .filterNot(f => df.columns.contains(f.name))
        .foldLeft(df)((d, f) => d.withColumn(f.name, lit(null).cast(f.dataType))))
        .getOrElse(df)
      cs.toSeq.sortBy(_._1).foreach { case (name, check) =>
        val bad = padded.filter(expr(check) <=> lit(false))
        val sample = bad.limit(1).collect()
        if (sample.nonEmpty)
          throw new ConstraintViolationException(
            s"commit to $tableDir violates CHECK constraint '$name' " +
              s"($check); example row: ${sample.head}")
      }
    }
  }

  /** ADD a CHECK constraint as one metadata commit: `check` is a boolean
    * SQL expression over logical column names that every INGESTED row
    * must satisfy from this commit on ([[append]], [[upsert]],
    * [[mergeIfNewer]] refuse typed on violation; deletes and the
    * row-identical maintenance rewrites never re-validate rows that
    * already passed). Existing data is validated ONCE here — one full
    * scan at add time, the price of the guarantee "every visible row
    * satisfies every standing constraint". NULL evaluates as pass (ANSI
    * CHECK); referenced columns must exist; renaming a referenced
    * column refuses (drop and re-add the constraint under the new
    * name). */
  def addConstraint(spark: SparkSession, tableDir: String,
                    name: String, check: String): Int = {
    require(name.matches("[A-Za-z0-9_]+"),
      s"invalid constraint name '$name' (want [A-Za-z0-9_]+)")
    require(check.nonEmpty && !check.exists(c => c == '\n' || c == '\r'),
      "constraint expression must be non-empty and single-line")
    commitWithRebase(spark, tableDir, latest => {
      require(!latest.meta.contains(s"constraint.$name"),
        s"constraint '$name' already exists at $tableDir (drop it first)")
      val logical = latest.schema.getOrElse(throw new IllegalStateException(
        s"$tableDir predates schema tracking — compact it before adding constraints"))
      val unknown = constraintRefs(spark, check) -- logical.fieldNames
      require(unknown.isEmpty,
        s"constraint '$name' references unknown column(s) ${unknown.mkString(", ")} " +
          s"(have ${logical.fieldNames.mkString(", ")})")
      // the one-time full validation runs against THIS snapshot inside
      // the commit closure, so a racing ingest cannot slip unvalidated
      // rows under the new constraint
      if (latest.files.nonEmpty) {
        val bad = scanFiles(spark, latest, latest.files)
          .filter(expr(check) <=> lit(false))
        val sample = bad.limit(1).collect()
        if (sample.nonEmpty)
          throw new ConstraintViolationException(
            s"cannot add constraint '$name' ($check) at $tableDir: existing " +
              s"rows violate it; example row: ${sample.head}")
      }
      Some((latest.entries, latest.meta +
        (s"constraint.$name" -> check) + ("op" -> "add_constraint")))
    })
  }

  /** DROP a CHECK constraint — one metadata commit. */
  def dropConstraint(spark: SparkSession, tableDir: String,
                     name: String): Int =
    commitWithRebase(spark, tableDir, latest => {
      require(latest.meta.contains(s"constraint.$name"),
        s"no constraint '$name' at $tableDir " +
          s"(have ${constraintsOf(latest).keys.toSeq.sorted.mkString(", ")})")
      Some((latest.entries,
        latest.meta - s"constraint.$name" + ("op" -> "drop_constraint")))
    })

  /** Conditional MERGE: apply a delta row only when it is STRICTLY newer
    * than the committed row by `orderCol` (ties keep the current row —
    * a replayed stale extract can never clobber fresher data, the
    * idempotence an at-least-once upstream needs); unmatched delta ids
    * insert. [[upsert]] is last-write-wins by ARRIVAL; this is
    * last-write-wins by DATA, the MERGE shape warehouse tables use for
    * out-of-order feeds.
    *
    * Same copy-on-write commit as [[upsert]]: only files containing a
    * contested id rewrite; untouched files carry by reference; the
    * winner resolution is one per-id window over (touched rows ∪ delta)
    * — work scales with the delta's file overlap, never the table.
    * Contract: delta ids unique (the same contract as upsert's
    * within-delta semantics); rows beyond the first per (id, orderCol)
    * tie would resolve arbitrarily. */
  def mergeIfNewer(delta: DataFrame, tableDir: String, idCol: String,
                   orderCol: String): Int = {
    val deltaIds = delta.select(col(idCol)).distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol))
      .orderBy(col(orderCol).desc, col("__src").asc)
    // the rows that land: the per-id winners over (contested touched
    // rows ∪ delta) — a stale delta row that loses the newer-than race
    // never lands, so it can never refuse the commit on a constraint
    def winners(touchedRows: DataFrame): DataFrame =
      touchedRows.join(deltaIds, Seq(idCol), "left_semi")
        .withColumn("__src", lit(0)) // current wins orderCol ties
        .unionByName(delta.withColumn("__src", lit(1)),
          allowMissingColumns = true)
        .withColumn("__rk", row_number().over(w))
        .filter(col("__rk") === 1).drop("__rk", "__src")
    copyOnWrite(delta, tableDir, idCol, "merge", Some(winners))
  }

  /** Change-data capture between two committed versions: one row per id
    * whose presence or content changed, classified
    * `insert | delete | update`; unchanged ids are dropped. For every
    * non-id column `c` the output carries `c_old` / `c_new` (null on
    * the absent side of inserts/deletes). Comparison is null-safe per
    * column (`<=>`), so a null→value flip counts as an update.
    *
    * Scale shape: one full outer join of the two pinned snapshots on
    * the id — the minimal possible work for content diff (both sides
    * must be read once); the filter drops the unchanged majority before
    * anything downstream. Because versions are immutable file lists,
    * the diff is reproducible forever — "what changed between last
    * month's corpus and today's" stays a query, not a log hunt. */
  def diff(spark: SparkSession, tableDir: String, fromVersion: Int,
           toVersion: Int, idCol: String): DataFrame = {
    val a = read(spark, tableDir, Some(fromVersion))
    val b = read(spark, tableDir, Some(toVersion))
    require(a.columns.sorted.sameElements(b.columns.sorted),
      s"schema drift between v$fromVersion and v$toVersion: " +
        s"${a.columns.mkString(",")} vs ${b.columns.mkString(",")}")
    classifyChanges(a, b, idCol, a.columns.filterNot(_ == idCol).toSeq)
  }

  /** The row-level classification [[diff]] and [[stepChanges]] share:
    * `oldRows` and `newRows` full-outer-joined on `idCol`, each value
    * column `c` carried as `c_old` / `c_new`, and a `change` of
    * `insert | delete | update` (null-safe per column); unchanged ids
    * are dropped. With no value column only inserts and deletes exist. */
  private def classifyChanges(oldRows: DataFrame, newRows: DataFrame, idCol: String,
                              cols: Seq[String]): DataFrame = {
    def side(rows: DataFrame, tag: String) =
      rows.select(col(idCol) +: cols.map(c => col(c).as(s"${c}_$tag")): _*)
        .withColumn(s"__in_$tag", lit(true))
    val changed = cols.map(c => !(col(s"${c}_old") <=> col(s"${c}_new")))
      .reduceOption(_ || _).getOrElse(lit(false))
    side(oldRows, "old").join(side(newRows, "new"), Seq(idCol), "full_outer")
      .withColumn("change",
        when(col("__in_old").isNull, lit("insert"))
          .when(col("__in_new").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change").isNotNull)
      .drop("__in_old", "__in_new")
  }

  /** Pull-based incremental CDC consumption with a durable version
    * checkpoint — the consumer loop a CDC export / downstream-index
    * maintenance job runs on a schedule: each call hands `f` the
    * [[changeFeed]] over `(lastConsumed, latest]` and advances the
    * checkpoint ONLY after `f` returns, so a consumer that crashes
    * mid-batch replays its whole window on the next call
    * (at-least-once; exactly-once consumers make `f` idempotent on the
    * window, e.g. upsert-by-id or write-by-(from,to]-key). State is one
    * tiny file under `stateDir` (temp + rename publish; a torn or
    * missing offset replays — always safe under at-least-once).
    * Returns the consumed `(from, to]` window, or None when nothing
    * landed since. The first call consumes `(initial, latest]` —
    * `initial` defaults to 0, so v0's content is bootstrapped with
    * [[read]], not the feed (the feed reports CHANGES, v0 is a birth).
    *
    * If retention vacuumed versions inside the pending window the feed
    * raises the same typed [[VersionRetentionException]] as any pinned
    * read — the consumer recomputes from the full snapshot and
    * re-checkpoints at that version (keep retention longer than the
    * consumer's cadence). One consumer per `stateDir`: two processes
    * polling the same offset race read-modify-write and would BOTH
    * process a window — still within at-least-once, but give each
    * consumer its own stateDir. */
  def consumeChanges(spark: SparkSession, tableDir: String, stateDir: String,
                     idCol: String, initial: Int = 0)
                    (f: DataFrame => Unit): Option[(Int, Int)] = {
    val off = new Path(s"$stateDir/offset")
    val fsys = fs(spark, off)
    val last =
      if (!fsys.exists(off)) initial
      else {
        val in = fsys.open(off)
        try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in),
          "UTF-8").trim.toInt
        finally in.close()
      }
    val latest = snapshot(spark, tableDir).version
    if (latest <= last) None
    else {
      f(changeFeed(spark, tableDir, last, latest, idCol))
      // advance only after the consumer succeeded (temp + rename)
      val tmp = new Path(s"$stateDir/offset.tmp")
      val out = fsys.create(tmp, true)
      try out.write(latest.toString.getBytes("UTF-8")) finally out.close()
      if (fsys.exists(off)) fsys.delete(off, false)
      if (!fsys.rename(tmp, off))
        throw new java.io.IOException(s"could not publish CDC offset $off")
      Some((last, latest))
    }
  }

  /** Maintenance commits whose VISIBLE content is row-identical by
    * construction ([[compact]], [[compactZOrder]],
    * [[compactZOrderIncremental]] — each rewrites every referenced row
    * verbatim, folding any standing deletion-vector mask physically):
    * the change feed skips them without reading a byte. [[rebucketize]]
    * commits through [[compactZOrder]] (`zorder`), so it is covered.
    * `replace_partitions`, the op of [[replacePartitions]]' HNSW/IVF
    * index writes, is NOT listed — it takes a caller-supplied frame, so
    * row-identity is a convention there, not a contract — and rows it
    * carries verbatim simply fall out of the join as unchanged. */
  private val RowIdenticalOps = Set("compact", "zorder", "zorder_incremental")

  /** One (prev -> cur) step of the change feed, classified and ALIGNED
    * to `fin`'s logical schema (no version/op columns — the caller
    * stamps those). None for metadata-only steps. Shared by
    * [[changeFeed]] (fallback compute) and [[maybeWriteChangeFile]]
    * (materialization runs the SAME computation with fin = cur, so the
    * written file can never drift from what the fallback would have
    * computed — including under rebased commits and DV interleavings). */
  private def stepChanges(spark: SparkSession, prev: Snapshot, cur: Snapshot,
                          idCol: String, fin: Snapshot,
                          finSchema: org.apache.spark.sql.types.StructType)
      : Option[DataFrame] = {
    // project a step's logical view onto the final logical schema:
    // rename-stable through PHYSICAL identity, lossless widening casts,
    // null-fill for columns the step predates
    def alignToFinal(step: Snapshot, df: DataFrame): DataFrame = {
      df.select(finSchema.fields.toSeq.map { f =>
        val stepName = logicalOf(step, physOf(fin, f.name))
        if (df.columns.contains(stepName))
          col(stepName).cast(f.dataType).as(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*)
    }
    def slice(snap: Snapshot, files: Seq[String]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
          finSchema)
      else alignToFinal(snap, scanFiles(spark, snap, files))
    def dvIds(snap: Snapshot): Option[DataFrame] =
      (snap.dvFiles, snap.dvCol) match {
        case (dvs, Some(c)) if dvs.nonEmpty =>
          Some(spark.read.parquet(dvs: _*).select(col(c).as("__dvid")).distinct())
        case _ => None
      }
    val dvSame =
      prev.meta.getOrElse("dv.files", "") == cur.meta.getOrElse("dv.files", "")
    val prevPaths = prev.files.toSet
    val curPaths = cur.files.toSet
    val removed = prev.files.filterNot(curPaths)
    val added = cur.files.filterNot(prevPaths)
    if (removed.isEmpty && added.isEmpty && dvSame) None // metadata-only
    else {
      // shared files a DV delta could affect, stats-pruned like COW
      // discovery (a superset is sound: untouched rows fall out of
      // the join as unchanged)
      val dvCandidates: Seq[String] =
        if (dvSame) Seq.empty
        else {
          val shared = cur.entries.filter(e => prevPaths(e.path))
          val delta = (dvIds(prev), dvIds(cur)) match {
            case (Some(a), Some(b)) => a.except(b).union(b.except(a))
            case (Some(a), None)    => a
            case (None, Some(b))    => b
            case (None, None)       => null // unreachable: dvSame above
          }
          candidateFilesIn(spark, shared, delta, "__dvid",
            physOf(cur, idCol)).getOrElse(shared.map(_.path))
        }
      val oldSlice = slice(prev, (removed ++ dvCandidates).distinct)
      val newSlice = slice(cur, (added ++ dvCandidates).distinct)
      Some(classifyChanges(oldSlice, newSlice, idCol,
        finSchema.fieldNames.toSeq.filterNot(_ == idCol)))
    }
  }

  /** CHANGE DATA FEED: the per-commit row-level changes over
    * `(fromVersion, toVersion]`, one row per (id, commit) whose
    * visibility or content changed — classified
    * `insert | delete | update`, with `c_old`/`c_new` value pairs per
    * non-id column (null on the absent side), plus the commit `version`
    * and its stamped `op`. The incremental twin of [[diff]]: where diff
    * full-outer-joins two whole snapshots (right for "what changed
    * between last month and today" across arbitrary rewrites), the feed
    * walks the commits and reads ONLY what each one touched —
    *
    *   - file churn: the removed/added file-set difference of adjacent
    *     manifests (pure metadata), scanned under each side's own
    *     deletion-vector mask; rows carried verbatim through a rewrite
    *     fall out of the per-step join as unchanged;
    *   - merge-on-read deletes/retractions: zero files churn, so the
    *     step is driven by the DV sidecar delta — the affected SHARED
    *     files are pruned by manifest id-stats exactly like copy-on-write
    *     discovery ([[candidateFilesIn]]), so a clustered layout reads a
    *     handful of files, not the table;
    *   - metadata-only commits (rename, widen, restore-to-self) and the
    *     row-identical maintenance rewrites ([[RowIdenticalOps]]) cost
    *     and emit NOTHING. [[restore]] to an older version is processed
    *     through its real file-set difference, so the feed reports the
    *     semantic rollback as the deletes/updates it is.
    *
    * At 100 TB this is O(touched slice) per commit instead of O(2 ×
    * table) — the shape that makes downstream incremental consumers
    * (index maintenance, CDC export, cache invalidation) affordable.
    * The one honest caveat, shared with Delta's CDF-less tables: a
    * commit that rewrote a large slice costs a read of that slice even
    * if few rows changed; materializing change files at write time
    * trades write amplification for it and is out of scope here.
    *
    * Schema changes inside the range are aligned to the TO-version's
    * logical schema: renames map through physical identity, widened
    * columns cast up losslessly, later-added columns null-fill on older
    * steps. Requires schema-stamped manifests (every table this library
    * initializes) and an id-unique table — the same keyed contract as
    * [[upsert]]/[[diff]]. */
  def changeFeed(spark: SparkSession, tableDir: String, fromVersion: Int,
                 toVersion: Int, idCol: String,
                 projectToVersion: Option[Int] = None): DataFrame = {
    require(fromVersion <= toVersion,
      s"changeFeed range is reversed: v$fromVersion > v$toVersion")
    // projectToVersion: serve the range under a LATER version's schema
    // (null-filling later-added columns, speaking post-rename names) —
    // what a STREAMING consumer needs so every micro-batch of a split
    // range carries one uniform shape, whichever side of a rename/widen
    // its commits fall on. Default: the range end's own schema.
    require(projectToVersion.forall(_ >= toVersion),
      s"projectToVersion must be >= the range end v$toVersion, got " +
        s"${projectToVersion.get} (projecting BACKWARD would drop columns)")
    val fin = snapshot(spark, tableDir,
      Some(projectToVersion.getOrElse(toVersion)))
    val finSchema = fin.schema.getOrElse(throw new IllegalStateException(
      s"changeFeed requires schema-stamped manifests; v$toVersion of " +
        s"$tableDir predates schema tracking — use diff()"))
    require(finSchema.fieldNames.contains(idCol),
      s"id column '$idCol' not in v$toVersion's schema: " +
        finSchema.fieldNames.mkString(","))
    // the output owns these names; a table column colliding with them
    // (or with another column's _old/_new form) would silently shadow
    val names = finSchema.fieldNames.toSet
    val reserved = names.intersect(Set("change", "version", "op")) ++
      names.filter(n => (n.endsWith("_old") || n.endsWith("_new")) &&
        names.contains(n.stripSuffix("_old").stripSuffix("_new")))
    require(reserved.isEmpty,
      s"changeFeed cannot serve a schema with column(s) ${reserved.mkString(", ")}" +
        " — they collide with the feed's change/version/op/_old/_new output names")
    val valueCols = finSchema.fields.toSeq.filterNot(_.name == idCol)
    val steps = ((fromVersion + 1) to toVersion).flatMap { v =>
      val cur = snapshot(spark, tableDir, Some(v))
      val op = cur.meta.getOrElse("op", "unknown")
      // row-identical rewrites skip even when dv.files changed: a
      // compact MATERIALIZES the standing mask (visible rows unchanged),
      // it never adds or retracts one
      if (RowIdenticalOps(op)) None
      else materializedStep(spark, tableDir, v, cur, fin, finSchema, idCol)
        // prev resolves ONLY on the computed path: a materialized step
        // stays serveable even when v-1 fell past the vacuum horizon
        .orElse(stepChanges(spark, snapshot(spark, tableDir, Some(v - 1)),
          cur, idCol, fin, finSchema))
        .map(_.withColumn("version", lit(v)).withColumn("op", lit(op)))
    }
    if (steps.isEmpty) {
      import org.apache.spark.sql.types._
      val out = StructType(
        StructField(idCol, finSchema(idCol).dataType) +:
        // column ORDER must match the computed-step branch (all _old
        // then all _new — the shape stepChanges' join select yields):
        // the streaming source anchors its schema on this empty range
        // and the engine binds batch rows positionally
        (valueCols.map(f => StructField(s"${f.name}_old", f.dataType)) ++
         valueCols.map(f => StructField(s"${f.name}_new", f.dataType)) ++ Seq(
          StructField("change", StringType),
          StructField("version", IntegerType, nullable = false),
          StructField("op", StringType, nullable = false))))
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), out)
    } else {
      // PLAN-GROWTH BOUND for long synchronous backfills: one union
      // branch per step is right for the streaming source's paced
      // ranges, but changeFeed(0, 10_000) direct would hand Catalyst a
      // ten-thousand-branch plan whose driver-side analysis dominates
      // the read. Above the cap, steps fold RECURSIVELY in chunks of
      // [[MaxFeedPlanBranches]], each chunk materialized to a local
      // checkpoint (eager — the backfill pays its compute here, which
      // is what a backfill does anyway), and the checkpointed legs fold
      // again under the same cap — so no Catalyst plan at ANY level of
      // the chain carries more than the cap's branches (a flat single-
      // level fold would hand the top union > cap legs past cap^2
      // steps). Trade documented: localCheckpoint blocks are
      // UNREPLICATED executor state pinned for the session — a lost
      // executor fails the backfill (re-run it; the source data is
      // durable), and the blocks free only with the session/context,
      // the price of not re-planning ten thousand steps. Callers
      // needing paced, lazy consumption of a long range use the
      // streaming source with maxVersionsPerBatch instead.
      def fold(legs: Seq[DataFrame]): DataFrame =
        if (legs.size <= MaxFeedPlanBranches) legs.reduce(_ unionByName _)
        else fold(legs.grouped(MaxFeedPlanBranches)
          .map(chunk => chunk.reduce(_ unionByName _).localCheckpoint(true))
          .toSeq)
      fold(steps)
    }
  }

  /** Union-branch cap for a synchronous [[changeFeed]] plan (chunks
    * above it are pre-materialized). */
  private[graft] val MaxFeedPlanBranches = 64

  /** Opt in (or out of) MATERIALIZED CHANGE FILES — Delta-CDF's trade,
    * as one metadata commit setting the standing `cdf` flag: while
    * enabled, every copy-on-write commit (upsert / delete / merge)
    * additionally writes its classified change rows to
    * `_changes/v<NNNNN>` right after the commit publishes, and
    * [[changeFeed]] serves those steps from the file instead of
    * re-reading the touched slice. Write amplification (one extra pass
    * over the touched slice at commit time) buys O(changes) feed reads
    * forever — the right trade exactly when commits rewrite large
    * slices or the feed is consumed more than once, which is why it is
    * a per-table choice, not a default. Appends and MoR deletes never
    * materialize (the feed already derives them from added files / DV
    * deltas at O(delta) cost). Crash-safe by construction: the file is
    * written AFTER the commit wins its version (version numbers are
    * CAS-unique, so no stale file can exist), temp + rename published,
    * and a missing/torn file just falls back to the computed step. */
  def setChangeFiles(spark: SparkSession, tableDir: String,
                     enabled: Boolean): Int =
    commitWithRebase(spark, tableDir, latest => Some((latest.entries,
      (if (enabled) latest.meta + ("cdf" -> "true")
       else latest.meta - "cdf") +
        ("op" -> (if (enabled) "set_cdf" else "unset_cdf")))))

  /** One standing-metadata key set (Some) or dropped (None) as a
    * METADATA-ONLY commit — the channel the catalog's `ALTER TABLE
    * SET/UNSET TBLPROPERTIES` uses to retarget the recorded pruning
    * layout (`catalog.statsColumn` / `catalog.bloomColumn`): existing
    * files keep whatever stats they carry, FUTURE ingests record the
    * new layout, and the change is one manifest write at any scale. */
  def setStandingMeta(spark: SparkSession, tableDir: String,
                      key: String, value: Option[String]): Int =
    commitWithRebase(spark, tableDir, latest => Some((latest.entries,
      (value match {
        case Some(v) => latest.meta + (key -> v)
        case None    => latest.meta - key
      }) + ("op" -> (if (value.isDefined) "set_property" else "unset_property")))))

  /** Post-commit change-file materialization (see [[setChangeFiles]]):
    * runs the exact [[stepChanges]] computation the feed's fallback
    * would run for (v-1, v] — zero semantic-drift risk — and publishes
    * it under `_changes/v<NNNNN>` via temp + rename. Best-effort: any
    * failure leaves the commit intact and the feed on its computed
    * path. */
  private def maybeWriteChangeFile(s: SparkSession, tableDir: String,
                                   v: Int, idCol: String): Unit =
    try {
      val cur = snapshot(s, tableDir, Some(v))
      // the file's id column is detected at read time as "the one
      // non-suffixed, non-change column" — an id name that masquerades
      // as a suffix would misdetect, so such tables just stay on the
      // computed path
      val idSafe = !(idCol == "change" || idCol.endsWith("_old") ||
        idCol.endsWith("_new"))
      if (idSafe && cur.meta.get("cdf").contains("true") && v > 0) {
        cur.schema.foreach { schema =>
          val prev = snapshot(s, tableDir, Some(v - 1))
          stepChanges(s, prev, cur, idCol, cur, schema).foreach { df =>
            val tmp = new Path(
              s"$tableDir/_changes/.tmp-${java.util.UUID.randomUUID}")
            df.write.mode("overwrite").parquet(tmp.toString)
            val dst = new Path(f"$tableDir/_changes/v$v%05d")
            val fsys = fs(s, dst)
            if (!fsys.rename(tmp, dst)) fsys.delete(tmp, true)
          }
        }
      }
    } catch { case _: Throwable => () }

  /** The materialized change file for step v, aligned to `fin`'s
    * logical schema — None when absent (fall back to computing) or when
    * it was written under a DIFFERENT id column than the caller's (the
    * classification is id-relative, so serving it would be wrong). */
  private[graft] def materializedStep(spark: SparkSession, tableDir: String,
                               v: Int,
                               stepSnap: Snapshot, fin: Snapshot,
                               finSchema: org.apache.spark.sql.types.StructType,
                               idCol: String): Option[DataFrame] = {
    val p = new Path(f"$tableDir/_changes/v$v%05d")
    if (!fs(spark, p).exists(p)) None
    else {
      val df = spark.read.parquet(p.toString)
      def stepName(finName: String): String =
        logicalOf(stepSnap, physOf(fin, finName))
      val fileId = df.columns.filterNot(c => c == "change" ||
        c.endsWith("_old") || c.endsWith("_new"))
      if (!(fileId.length == 1 && fileId.head == stepName(idCol))) None
      else {
        // column ORDER matters: all _old then all _new, the exact shape
        // stepChanges and the feed's empty-range schema carry — the
        // streaming source binds batch rows POSITIONALLY against its
        // anchored schema, so a materialized step serving interleaved
        // pairs would either trip the shape check or transpose values
        val vals = finSchema.fields.toSeq.filterNot(_.name == idCol)
        def side(sfx: String) = vals.map { f =>
          val sn = stepName(f.name)
          if (df.columns.contains(s"$sn$sfx"))
            col(s"$sn$sfx").cast(f.dataType).as(s"${f.name}$sfx")
          else lit(null).cast(f.dataType).as(s"${f.name}$sfx")
        }
        Some(df.select(
          (col(fileId.head).cast(finSchema(idCol).dataType).as(idCol) +:
            (side("_old") ++ side("_new"))) :+ col("change"): _*))
      }
    }
  }

  /** OPTIMIZE-style compaction AS A COMMIT: rewrite the latest version's
    * rows into `ceil(bytes/target)` files (optionally range-clustered on
    * `clusterBy`, which also refreshes manifest stats for it) and commit
    * the result as the next version. Unlike
    * [[Maintenance.compactSmallFiles]] — which swaps a directory in
    * place — this never touches existing files: readers of any pinned
    * version are undisturbed, history stays intact, and the small files
    * a [[graft.streaming.TableStream]] stream accumulates get folded
    * away with plain [[vacuum]] reclaiming them once their versions age
    * out. Content is row-identical by construction.
    *
    * Stats column: `clusterBy` when given, else the snapshot's uniform
    * stats column (pruning survives compaction), else none. */
  def compact(spark: SparkSession, tableDir: String,
              targetBytes: Long = 128L << 20,
              clusterBy: Option[String] = None): Int = {
    val snap = snapshot(spark, tableDir)
    val f = fs(spark, new Path(tableDir))
    val total = snap.files.map(p => f.getFileStatus(new Path(p)).getLen).sum
    val n = math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val cur = scanFiles(spark, snap, snap.files)
    val arranged = clusterBy match {
      case Some(c) => cur.repartitionByRange(n, col(c)).sortWithinPartitions(c)
      case None    => cur.repartition(n)
    }
    // compact RE-BASELINES column mapping: the rewrite materializes the
    // logical view, so physical == logical again and the colmap drops
    // (its meta is rebuilt fresh). It keeps every inherited skipping
    // column, re-keyed logical (the bloom rebuilt for every rewritten
    // file: a CLUSTERED layout makes it sharp again), and adds the
    // cluster key up front. Losing the race is always a true conflict
    // (typed): the caller re-runs compact against the new snapshot.
    val (stats, bloom) = inheritedSkipping(snap, rebaseline = true)
    rewriteAll(spark, snap, tableDir, arranged, (clusterBy.toSeq ++ stats, bloom),
      Map("schema" -> snap.schema.getOrElse(cur.schema).json, "op" -> "compact"))
  }

  /** Partition-granular copy-on-write commit — the primitive a
    * partitioned INDEX layout (IVF cell directories, NSW shard
    * directories) needs to get the same multi-writer discipline as the
    * row-level [[upsert]]: replace every file whose `statsCol` box
    * intersects `touchedKeys` with the freshly written `rewritten`
    * rows; untouched files carry into the new manifest by reference.
    *
    * Caller contract: `rewritten` contains the COMPLETE new content of
    * the touched partitions, computed from `base` (pin ONE snapshot,
    * read through it, pass it here — re-reading "latest" between the
    * two would let an interleaved commit slip past conflict
    * detection), and
    * every committed file carries `statsCol` stats — a stats-less file
    * cannot be proven partition-disjoint, so the commit refuses rather
    * than risk dropping rows it never read. Arrange `rewritten`
    * clustered on `statsCol` (range-repartition + sort) so the new
    * files' stats boxes stay sharp.
    *
    * Concurrency (the [[cowRebase]] sibling, at partition granularity):
    * racing commits on DISJOINT key sets both land — the loser rebases
    * by carrying the winner's files and replacing only its own
    * partitions' — while any interleaved commit that rewrote, removed,
    * or appended into THIS writer's partitions is a true conflict
    * (typed refusal): this writer's survivors were computed against
    * content that no longer exists. A full-table rewrite (compact /
    * z-order) interleaving always conflicts, both ways. */
  private[graft] def replacePartitions(rewritten: DataFrame, tableDir: String,
                                       statsCol: String, touchedKeys: Seq[Long],
                                       base: Snapshot,
                                       meta: Map[String, String] = Map.empty): Int = {
    val s = rewritten.sparkSession
    val physStats = physOf(base, statsCol) // entry stats key physical names
    def boxOf(e: FileEntry): (Long, Long) = e.statsFor(physStats).getOrElse(
      throw new IllegalStateException(
        s"partition commit to $tableDir: file ${e.path} carries no " +
          s"'$statsCol' stats — partition disjointness is unprovable; " +
          "compact the table with clusterBy first"))
    def intersects(e: FileEntry): Boolean = {
      val (lo, hi) = boxOf(e)
      touchedKeys.exists(k => lo <= k && k <= hi)
    }
    val baseTouched = base.entries.filter(intersects).map(_.path).toSet
    val basePaths = base.files.toSet
    evolvedSchemaFor(base, rewritten): Unit // early retired-name guard
    writeAndCommit(s, base, tableDir, Some(toPhysical(base, rewritten)),
        (Seq(physStats), inheritedSkipping(base, rebaseline = false)._2)) {
      (snap, added) =>
        val ok =
          if (snap.version == base.version) true
          else {
            val snapPaths = snap.files.toSet
            val interleaved = snap.entries.filterNot(e => basePaths(e.path))
            baseTouched.forall(snapPaths) && interleaved.forall(e =>
              e.stats.exists(_._1 == physStats) && !intersects(e))
          }
        if (!ok) None
        else Some((snap.entries.filterNot(e => baseTouched(e.path)) ++ added,
          snap.meta ++ meta + ("schema" -> evolvedSchemaFor(snap, rewritten).json)
            + ("op" -> "replace_partitions")))
    }
  }

  /** OPTIMIZE ZORDER as a COMMIT: rewrite the latest version's rows
    * clustered by the Morton interleave of `dims` (each linearly
    * bucketized to `bits` bits between its committed min/max — wrap a
    * skewed dimension's values yourself before committing, per
    * [[Scale.zValueK]]'s scaladoc) and publish the result as the next
    * version. The scaffolding `__z` column IS materialized in the data
    * files — that is what gives every file a manifest-level z-range —
    * but the committed schema stays the table's own, so readers never
    * see it; the bucketization stats ride in commit metadata, making
    * [[readBox]]'s driver-side probe arithmetic exact.
    *
    * This closes the gap between [[Scale.dumpZOrderedK]] (multi-dim
    * clustering, but a bare directory outside the manifest world) and
    * [[compact]] (a commit, but 1-D range stats only): a versioned
    * corpus gets multi-dimensional file pruning WITHOUT leaving
    * snapshot isolation, time travel, or vacuum. Like compact, a racing
    * interleaved commit is always a true conflict (every file
    * rewrites), surfaced typed. */
  def compactZOrder(spark: SparkSession, tableDir: String, dims: Seq[String],
                    numRanges: Int = 32, bits: Int = 16): Int = {
    require(dims.size >= 2, s"z-order needs >= 2 dims, got $dims")
    val snap = snapshot(spark, tableDir)
    // full rewrite from the LOGICAL view: like compact, this commit
    // re-baselines physical == logical (fresh meta below, no colmap) and
    // records zorder.dims under the names the new files actually carry
    val cur = scanFiles(spark, snap, snap.files)
    require(!cur.columns.contains("__z"),
      "table already carries a '__z' column — z-order scaffolding would collide")
    val statCols = dims.flatMap(d =>
      Seq(min(col(d).cast("double")), max(col(d).cast("double"))))
    val row = cur.agg(statCols.head, statCols.tail: _*).collect()(0)
    val stats = dims.indices.map(i => (row.getDouble(2 * i), row.getDouble(2 * i + 1)))
    val zc = Scale.zValueK(
      dims.zip(stats).map { case (d, (mn, mx)) => (col(d), lit(mn), lit(mx)) }, bits)
    val arranged = cur.withColumn("__z", zc)
      .repartitionByRange(numRanges, col("__z"))
      .sortWithinPartitions("__z")
    // re-baselining rewrite: inherited skipping columns re-key to their
    // LOGICAL names. Crucially the inherited stats (the id column a COW
    // layout clusters on) are recorded ALONGSIDE '__z' — with a single
    // stats slot, a z-order commit silently cost every later upsert its
    // manifest-stats discovery pruning and sent it back to O(table)
    // candidate scans
    val (inherited, bloom) = inheritedSkipping(snap, rebaseline = true)
    rewriteAll(spark, snap, tableDir, arranged, ("__z" +: inherited, bloom), Map(
      "schema" -> snap.schema.getOrElse(cur.schema).json,
      "op" -> "zorder",
      "zorder.dims" -> dims.mkString(","),
      "zorder.bits" -> bits.toString,
      "zorder.stats" -> stats.flatMap { case (a, b) => Seq(a, b) }.mkString(",")))
  }

  /** Multi-dimensional box read through a [[compactZOrder]] commit: each
    * `(col, lo, hi)` bound maps to its dimension's bucket range using
    * the stats recorded AT COMMIT TIME, the box's corner buckets give a
    * sound z interval (Morton is jointly monotone: a componentwise-
    * smaller bucket vector has a smaller z), and [[filesForRange]] on
    * the scaffolding z column prunes files by pure manifest arithmetic.
    * The exact predicates apply on top — pruning is an I/O optimization,
    * never a semantics change — and a version without z-order metadata
    * (or a box on un-clustered columns) degrades to a full filtered
    * read, not an error. */
  def readBox(spark: SparkSession, tableDir: String, version: Option[Int],
              box: Seq[(String, Double, Double)]): DataFrame = {
    require(box.nonEmpty, "empty box")
    // ONE snapshot resolution for the whole read: pruning decision, file
    // list, and schema all come from this pinned version — a commit
    // landing mid-call can never mix versions (e.g. v+1 keep paths read
    // under v's schema, or the empty-keep fallback reading a file a
    // racing compact just rewrote). The SEGMENT predicate mirrors the
    // file-level decision exactly — same z interval via [[zIntervalFor]]
    // — so a segmented manifest parses only z-intersecting segments and
    // degrades to keep-everything precisely when the file level would.
    val snap = snapshotWith(spark, tableDir, version, (meta, seg) =>
      zIntervalFor(meta, box) match {
        case Some((zLo, zHi)) =>
          seg.statsFor("__z").forall { case (sLo, sHi) => sLo <= zHi && sHi >= zLo }
        case None => true
      })
    val pred = box.map { case (c, lo, hi) => col(c) >= lo && col(c) <= hi }
      .reduce(_ && _)
    // without covering z metadata the segment predicate kept everything,
    // so this snapshot's files are the COMPLETE version: full filtered read
    readPruned(spark, tableDir, version, snap,
      boxFilePruningIn(snap, box).fold(snap.files)(_._1), pred)
  }

  /** Incrementally EXTEND a z-order layout: cluster only the files
    * committed since the last [[compactZOrder]] — those carrying no
    * `__z` stats — using the bucketization stats recorded AT that
    * commit, so the z space stays consistent and [[readBox]]'s interval
    * arithmetic keeps pruning across old and new files alike. Clustered
    * files carry by reference. This is the maintenance loop a 100 TB
    * table actually runs: O(unclustered tail) per invocation, never the
    * full-table rewrite [[compactZOrder]] pays — run it after every
    * ingest burst and the table stays probe-ready forever. Values
    * outside the recorded min/max clamp to the edge buckets
    * ([[Scale.bucketOf]] clamps), so late out-of-range rows still land
    * in a SOUND z-interval (pruning stays an I/O optimization, never a
    * correctness risk). Already-clustered tables no-op; racing commits
    * rebase when they left this writer's rewritten files alone
    * (append-only interleavings land) and refuse typed otherwise. */
  def compactZOrderIncremental(spark: SparkSession, tableDir: String,
                               numRanges: Int = 8): Int = {
    val snap = snapshot(spark, tableDir)
    val dims = snap.meta.getOrElse("zorder.dims",
      throw new IllegalStateException(
        s"$tableDir has no z-order commit to extend — run compactZOrder first"))
      .split(',').toSeq
    val bits = snap.meta("zorder.bits").toInt
    val st = snap.meta("zorder.stats").split(',').map(_.toDouble)
    val unclustered = snap.entries.filterNot(_.stats.exists(_._1 == "__z"))
    if (unclustered.isEmpty) return snap.version
    // PHYSICAL space end-to-end: zorder.dims were recorded at the last
    // full re-cluster (= the physical baseline), the tail files carry
    // physical names, and the rewrite below writes them back unchanged
    val tail = scanPhysical(spark, snap, unclustered.map(_.path))
    // drift auditing is [[zOrderDrift]]'s job (callers run it on their
    // own cadence) — folding it here as a second aggregate would DOUBLE
    // the read cost of the pass the scaladoc advertises as one
    // O(unclustered tail) write; clamping below stays sound either way
    val zc = Scale.zValueK(
      dims.zipWithIndex.map { case (d, i) =>
        (col(d), lit(st(2 * i)), lit(st(2 * i + 1))) }, bits)
    val arranged = tail.withColumn("__z", zc)
      .repartitionByRange(math.max(1, math.min(numRanges, unclustered.size)), col("__z"))
      .sortWithinPartitions("__z")
    // the clustered tail keeps every inherited stats column (physical
    // names — this whole pass runs in physical space) after its fresh
    // '__z' triple, so COW discovery pruning survives the maintenance
    // loop that runs after every ingest burst
    val (inherited, bloom) = inheritedSkipping(snap, rebaseline = false)
    val rewritten = unclustered.map(_.path).toSet
    writeAndCommit(spark, snap, tableDir, Some(arranged), ("__z" +: inherited, bloom)) {
      (latest, added) =>
        if (!rewritten.subsetOf(latest.files.toSet)) None // my tail was rewritten under me
        // content rewrite of existing rows: the committed schema (and
        // zorder.*, colmap) carry via latest.meta untouched — evolving the
        // schema from the PHYSICAL-named tail would mis-add renamed
        // columns as new ones
        else Some((latest.entries.filterNot(e => rewritten(e.path)) ++ added,
          latest.meta + ("op" -> "zorder_incremental")))
    }
  }

  /** Clamp-drift audit of a z-ordered table's unclustered tail: how
    * many tail rows fall OUTSIDE the bucketization stats recorded at
    * the original [[compactZOrder]] commit, per dimension. Out-of-range
    * values clamp to the edge buckets — sound (never a correctness
    * risk) but sharpness-eroding: a quarter of the tail piling into
    * bucket 0 makes every edge-touching probe read the whole pile. The
    * bloom layer got exactly this observability in its saturation
    * warning; this is the z layer's twin. One O(tail) aggregation over
    * only the un-z-ranged files; None when the table carries no
    * z-order commit. */
  case class ZOrderDrift(tailRows: Long, clampedRows: Long,
                         perDim: Seq[(String, Long, Long)]) {
    def clampFraction: Double =
      if (tailRows == 0L) 0.0 else clampedRows.toDouble / tailRows
  }

  def zOrderDrift(spark: SparkSession, tableDir: String,
                  version: Option[Int] = None): Option[ZOrderDrift] = {
    val snap = snapshot(spark, tableDir, version)
    snap.meta.get("zorder.dims").map(_.split(',').toSeq).map { dims =>
      val st = snap.meta("zorder.stats").split(',').map(_.toDouble)
      val unclustered = snap.entries.filterNot(_.stats.exists(_._1 == "__z"))
      if (unclustered.isEmpty) ZOrderDrift(0L, 0L, dims.map((_, 0L, 0L)))
      else {
        // physical space: dims are baseline names, files carry them
        val tail = scanPhysical(spark, snap, unclustered.map(_.path))
        val outCols = dims.zipWithIndex.flatMap { case (d, i) =>
          Seq(count(when(col(d).cast("double") < st(2 * i), 1)),
            count(when(col(d).cast("double") > st(2 * i + 1), 1)))
        }
        val anyOut = dims.zipWithIndex.map { case (d, i) =>
          col(d).cast("double") < st(2 * i) || col(d).cast("double") > st(2 * i + 1)
        }.reduce(_ || _)
        // ONE aggregation: total, any-dim-clamped, then (below, above)
        // per dimension positionally
        val full = tail.agg(count(lit(1)), count(when(anyOut, 1)) +: outCols: _*)
          .collect()(0)
        ZOrderDrift(full.getLong(0), full.getLong(1),
          dims.zipWithIndex.map { case (d, i) =>
            (d, full.getLong(2 + 2 * i), full.getLong(3 + 2 * i)) })
      }
    }
  }

  /** Re-derive the z-order layout with FRESH stats: a full
    * [[compactZOrder]] on the dims recorded in the table's standing
    * metadata. This is the refresh [[zOrderDrift]] points at — after a
    * year of ingest has drifted past the original min/max and the edge
    * buckets are crowding, one rebucketize restores sharp pruning;
    * until then every probe stays CORRECT (clamping is sound), just
    * fatter on the edges. */
  def rebucketize(spark: SparkSession, tableDir: String,
                  numRanges: Int = 32): Int = {
    val snap = snapshot(spark, tableDir)
    val dims = snap.meta.getOrElse("zorder.dims",
      throw new IllegalStateException(
        s"$tableDir has no z-order commit to rebucketize — run compactZOrder first"))
      .split(',').toSeq
    // zorder.dims are physical-baseline names; compactZOrder takes the
    // CURRENT logical names (it reads the logical view)
    compactZOrder(spark, tableDir, dims.map(logicalOf(snap, _)),
      numRanges, snap.meta("zorder.bits").toInt)
  }

  /** The manifest-arithmetic half of [[readBox]], exposed so callers
    * (and gates) can observe the pruning decision itself:
    * `Some((kept file paths, total files))` when the pinned version
    * carries z-order metadata covering every box column, `None` when
    * the probe must degrade to a full filtered read. Pure driver-side
    * interval arithmetic over the committed stats — zero parquet
    * footers opened to decide. */
  def boxFilePruning(spark: SparkSession, tableDir: String, version: Option[Int],
                     box: Seq[(String, Double, Double)]): Option[(Seq[String], Int)] =
    boxFilePruningIn(snapshot(spark, tableDir, version), box)

  /** Snapshot-level twin of [[boxFilePruning]]: the pruning decision
    * made entirely against ONE pinned snapshot's metadata and entries —
    * the form [[readBox]] uses so its decision, file list, and schema
    * cannot straddle a concurrent commit. */
  private[graft] def boxFilePruningIn(snap: Snapshot,
                                      box: Seq[(String, Double, Double)])
      : Option[(Seq[String], Int)] =
    zIntervalFor(snap.meta, box).map { case (zLo, zHi) =>
      (filesForRangeIn(snap.entries, "__z", zLo, zHi), snap.files.size)
    }

  /** The sound z interval a box maps to under `meta`'s z-order commit —
    * Some when the metadata covers every box column, None when the
    * probe must degrade to a full filtered read. Shared by the
    * file-level pruning ([[boxFilePruningIn]]) and [[readBox]]'s
    * SEGMENT predicate so both layers make the SAME decision. Probes
    * arrive under LOGICAL names; zorder.dims were recorded at the
    * physical baseline — map before matching. */
  private def zIntervalFor(meta: Map[String, String],
                           box: Seq[(String, Double, Double)])
      : Option[(Long, Long)] = {
    val cm = colMapOf(meta)
    val physBox = box.map { case (c, lo, hi) => (cm.getOrElse(c, c), lo, hi) }
    meta.get("zorder.dims").map(_.split(',').toSeq) match {
      case Some(ds) if physBox.forall(b => ds.contains(b._1)) =>
        val bits = meta("zorder.bits").toInt
        val st = meta("zorder.stats").split(',').map(_.toDouble)
        val loHi = ds.zipWithIndex.map { case (d, i) =>
          val (mn, mx) = (st(2 * i), st(2 * i + 1))
          physBox.find(_._1 == d) match {
            case Some((_, lo, hi)) =>
              (Scale.bucketOf(lo, mn, mx, bits), Scale.bucketOf(hi, mn, mx, bits))
            case None => (0L, (1L << bits) - 1L)
          }
        }
        Some((Scale.zOf(loHi.map(_._1), bits), Scale.zOf(loHi.map(_._2), bits)))
      case _ => None
    }
  }

  case class VacuumStats(deletedFiles: Long, keptFiles: Long,
                         droppedVersions: Seq[Int])

  /** Reclaim storage: keep the newest `keepVersions` versions, delete
    * every data file referenced ONLY by older ones, and drop the older
    * manifests. Time travel to a vacuumed version is gone — that is the
    * explicit tradeoff this API spells. Copy-on-write makes the
    * reference-counting trivial: a file shared by old and retained
    * versions appears in a retained manifest and survives.
    *
    * Scale shape: manifest reads + one listing of `data/` — O(files),
    * no data read; safe to run concurrently with readers of RETAINED
    * versions (their files are untouched; a reader pinned to a dropped
    * version races deletion, which is the documented contract of every
    * vacuum in the lakehouse world).
    *
    * `minAgeMs` guards the one WRITER race: a commit that has written
    * its data files but not yet renamed its manifest is invisible to
    * the reference count, and an unguarded vacuum would delete its
    * files out from under the about-to-succeed commit. Set it to at
    * least the longest plausible commit duration in production (the
    * Delta-style retention window); the 0 default keeps single-writer
    * tests deterministic. */
  def vacuum(spark: SparkSession, tableDir: String,
             keepVersions: Int = 1, minAgeMs: Long = 0L): VacuumStats = {
    require(keepVersions >= 1, "must keep at least the latest version")
    val vs = versions(spark, tableDir)
    require(vs.nonEmpty, s"no versions at $tableDir")
    val (dropped, retained) = vs.splitAt(math.max(0, vs.size - keepVersions))
    // deletion-vector sidecars live under data/ like data files and are
    // referenced from retained METADATA — they must survive exactly as
    // long as a retained version masks through them
    val referenced: Set[String] = retained.flatMap { v =>
      val snap = snapshot(spark, tableDir, Some(v))
      snap.files ++ snap.dvFiles
    }.toSet
    val dataRoot = new Path(s"$tableDir/data")
    val f = fs(spark, dataRoot)
    val ageCutoff = System.currentTimeMillis() - minAgeMs
    var deleted = 0L
    if (f.exists(dataRoot)) {
      for (verDir <- f.listStatus(dataRoot) if verDir.isDirectory) {
        for (df <- f.listStatus(verDir.getPath)
             if df.isFile && df.getPath.getName.endsWith(".parquet")
             if !referenced.contains(norm(df.getPath))
             if df.getModificationTime <= ageCutoff) {
          f.delete(df.getPath, false)
          deleted += 1
        }
        if (f.listStatus(verDir.getPath)
            .forall(s => !s.getPath.getName.endsWith(".parquet")))
          f.delete(verDir.getPath, true) // only _SUCCESS/metadata left
      }
    }
    // the oldest retained version may be a DELTA whose chain reaches
    // below the horizon — materialize it full before its base manifests
    // go, so every retained version stays chain-resolvable (the higher
    // retained deltas terminate at this version or above)
    if (dropped.nonEmpty) checkpointManifest(spark, tableDir, retained.head)
    dropped.foreach(v => f.delete(manifestPath(tableDir, v), false))
    // segment sweep: manifest SEGMENT files are referenced by `@seg`
    // lines in retained manifests (raw, not chain-resolved — after the
    // checkpoint above, every retained chain terminates at a retained
    // full manifest, so the raw refs of retained versions are the
    // complete live set). Everything else under _manifests/segs is an
    // orphan — a dropped version's pages, a lost publish race's, or a
    // checkpoint rewrite's — reclaimed here under the same minAgeMs
    // writer guard as data files (an in-flight commit writes its
    // segments before its manifest publishes).
    val segDir = new Path(s"$tableDir/_manifests/segs")
    if (f.exists(segDir)) {
      val segReferenced: Set[String] =
        retained.flatMap(v => rawManifest(spark, tableDir, v).segs.map(_.path)).toSet
      for (sf <- f.listStatus(segDir)
           if sf.isFile && sf.getPath.getName.endsWith(".seg")
           if !segReferenced.contains(norm(sf.getPath))
           if sf.getModificationTime <= ageCutoff) {
        f.delete(sf.getPath, false)
        deleted += 1
      }
    }
    // materialized change files are keyed by version: a change file for
    // a dropped version serves a feed step no retained range can name —
    // reclaim it (and any torn .tmp- staging dir) under the writer guard
    val chDir = new Path(s"$tableDir/_changes")
    if (f.exists(chDir)) {
      val retainedSet = retained.toSet
      for (cd <- f.listStatus(chDir)) {
        val n = cd.getPath.getName
        val orphan =
          if (n.startsWith("v") && n.drop(1).forall(_.isDigit))
            !retainedSet.contains(n.drop(1).toInt)
          else n.startsWith(".tmp-")
        if (orphan && cd.getModificationTime <= ageCutoff) {
          f.delete(cd.getPath, true)
          deleted += 1
        }
      }
    }
    VacuumStats(deleted, referenced.size.toLong, dropped)
  }

  /** The deterministic recovery name a checkpoint swap stages through
    * on schemes without an overwriting atomic rename: a crash between
    * the delete and the rename leaves the FULL content here, and every
    * reader ([[manifestLines]], [[versions]]) knows to complete the
    * swap — without the fixed name, losing the oldest retained manifest
    * would sever every retained delta chain above it (whole-table
    * metadata loss, far worse than the per-file vacuum window). */
  private def ckptPath(tableDir: String, v: Int) =
    new Path(s"$tableDir/_manifests/v${"%05d".format(v)}.manifest.ckpt")

  /** Rewrite version v's manifest IN PLACE as a full manifest (no-op
    * when it already is one). Content-identical on both sides of the
    * swap — a racing reader resolves the same Snapshot through either —
    * so the replace only needs per-FS atomicity of the file itself:
    * POSIX atomic move locally; on HDFS-like schemes (whose rename
    * refuses an existing destination) the content is staged under the
    * RECOVERY name first, so the non-atomic delete+rename window is
    * crash-recoverable instead of fatal. */
  private def checkpointManifest(spark: SparkSession, tableDir: String,
                                 v: Int): Unit = {
    if (rawManifest(spark, tableDir, v).base.isEmpty) return
    val snap = snapshot(spark, tableDir, Some(v))
    val target = manifestPath(tableDir, v)
    val f = fs(spark, target)
    val metaLines = (snap.meta - "base").toSeq.sorted.map { case (k, vl) => s"#$k=$vl" }
    val body = ((metaLines ++ fullBodyLines(spark, tableDir, v, snap.entries))
      .mkString("\n") + "\n").getBytes("UTF-8")
    val scheme = target.toUri.getScheme
    if (scheme == null || scheme == "file") {
      val tmp = new Path(target.getParent,
        s".${target.getName}.ckpt.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
      val out = f.create(tmp, true)
      try out.write(body) finally out.close()
      java.nio.file.Files.move(
        java.nio.file.Paths.get(norm(tmp)), java.nio.file.Paths.get(norm(target)),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      // stage under the deterministic recovery name, fully written and
      // closed BEFORE the target is deleted: a crash before the delete
      // leaves the target intact (stale recovery file is ignored while
      // its manifest exists, and overwritten by the next checkpoint); a
      // crash after it leaves the full content where readers recover it
      val ckpt = ckptPath(tableDir, v)
      if (f.exists(ckpt)) f.delete(ckpt, false)
      val out = f.create(ckpt, true)
      try out.write(body) finally out.close()
      f.delete(target, false)
      if (!f.rename(ckpt, target) && !f.exists(target))
        throw new java.io.IOException(
          s"vacuum checkpoint of version $v at $tableDir failed to publish " +
            s"(content staged at $ckpt; readers recover it on next open)")
    }
  }

  /** Rebase rule for the copy-on-write commits (upsert / delete /
    * mergeIfNewer), shared by their [[commitWithRebase]] loops: against
    * the base snapshot the commit was computed from, publish as-is;
    * against a LATER snapshot, rebase only when every interleaved commit
    * was (a) file-disjoint — none of the files this writer read was
    * rewritten or removed (a concurrent COW/compact invalidates the
    * survivor rows this writer carried) — and (b) id-disjoint — the
    * interleaved APPENDED files contain none of this writer's delta ids
    * (an appended row this COW should have contested would silently
    * survive as a duplicate). (b) is one bounded semi-join probe over
    * only the interleaved files, O(interleaved delta), not the table.
    * Anything else is a true conflict → None → typed refusal. */
  private[graft] def cowRebase(s: SparkSession, base: Snapshot, touched: Set[String],
                        newEntries: Seq[FileEntry], deltaIds: DataFrame,
                        idCol: String,
                        schemaOf: Snapshot => org.apache.spark.sql.types.StructType,
                        extraMeta: Snapshot => Map[String, String] = _ => Map.empty,
                        revalidate: Snapshot => Unit = _ => ())
                       (snap: Snapshot): Option[(Seq[FileEntry], Map[String, String])] = {
    val basePaths = base.files.toSet
    val ok =
      if (snap.version == base.version) true
      else if ((basePaths -- snap.files.toSet).nonEmpty) false
      else {
        val added = snap.entries.filterNot(e => basePaths(e.path)).map(_.path)
        added.isEmpty || {
          scanFiles(s, snap, added).select(col(idCol))
            .join(deltaIds, Seq(idCol), "left_semi").limit(1).count() == 0L
        }
      }
    if (!ok) None
    else {
      revalidate(snap) // e.g. a CHECK constraint added concurrently
      // carry the table's standing metadata (zorder.* bucketization etc.)
      // through the rewrite: a COW-rewritten file simply commits without
      // __z stats (always read — soundness over sharpness), but dropping
      // the LAYOUT metadata would silently degrade every later box probe
      // to a full read until the next full re-cluster
      Some((snap.entries.filterNot(e => touched(e.path)) ++ newEntries,
        snap.meta + ("schema" -> schemaOf(snap).json) ++ extraMeta(snap)))
    }
  }

  /** The one copy-on-write commit behind [[upsert]], [[deleteIds]],
    * [[applyDelta]] and [[mergeIfNewer]]: every file holding an id of
    * `delta` (or of `extraRemoveIds`) is rewritten as its surviving rows
    * plus the rows `land` derives from those files' rows — None for a
    * delete, where nothing lands; untouched files carry by reference.
    * The landed rows are what the CHECK constraints validate. */
  private def copyOnWrite(delta: DataFrame, tableDir: String, idCol: String,
                          op: String, land: Option[DataFrame => DataFrame],
                          extraRemoveIds: Option[DataFrame] = None,
                          baseVersion: Option[Int] = None): Int = {
    val s = delta.sparkSession
    val snap = snapshot(s, tableDir, baseVersion)
    val deltaIds = extraRemoveIds.map(_.select(col(idCol)))
      .foldLeft(delta.select(col(idCol)))(_ unionByName _).distinct()
    // discovery: manifest id-stats prune the candidate files first (a
    // clustered-id layout scans O(candidates), not the table), then the
    // exact semi-join confirms. It runs UNMASKED: a delta id hidden by
    // a merge-on-read vector must still find its file, so the rewrite
    // physically drops the old rows before the retraction below unmasks
    // the id. __file stays in input_file_name()'s RAW (URI-encoded)
    // form; only the manifest comparison decodes, so the joins are
    // exact on any filesystem/path bytes.
    val candidates = candidateFilesIn(s, snap.entries, deltaIds, idCol,
      physOf(snap, idCol)).getOrElse(snap.files)
    val touchedRaw =
      if (candidates.isEmpty) Set.empty[String]
      else scanFilesWith(s, snap, candidates, mask = false, withFile = true)
        .join(deltaIds, Seq(idCol), "left_semi")
        .select("__file").distinct().collect().map(_.getString(0)).toSet
    val touched = touchedRaw.map(normFileName)
    // the touched rows read ONLY the touched files (the file list goes to
    // the reader — an input_file_name() filter over the full table would
    // scan everything and drop rows after the fact), on the MASKED view
    // so merge-on-read-deleted rows never resurrect through a rewrite
    val touchedRows =
      if (touched.nonEmpty) scanFiles(s, snap, touched.toSeq.sorted)
      else scanFiles(s, snap, snap.files.take(1)).filter(lit(false))
    val survivors = touchedRows.join(deltaIds, Seq(idCol), "left_anti")
    val landed = land.map(_(touchedRows))
    // same early guards as append: retired names and CHECK-constraint
    // violations refuse typed pre-write (a delete lands no rows)
    landed.foreach { rows =>
      evolvedSchemaFor(snap, delta): Unit
      requireConstraints(s, snap, rows, tableDir)
    }
    // allowMissingColumns: landed rows may evolve the schema (new
    // columns null-fill on the survivor side, and vice versa)
    val rewritten = landed.fold(survivors)(
      survivors.unionByName(_, allowMissingColumns = true))
    def schema(b: Snapshot) =
      if (landed.isDefined) evolvedSchemaFor(b, delta)
      else b.schema.getOrElse(touchedRows.schema)
    // landed rows RE-INTRODUCING merge-on-read-deleted ids retract them
    // from the standing vector (else the fresh rows would stay masked);
    // a delete introduces nothing, so it carries the vectors as-is
    val dvCache = scala.collection.mutable.Map.empty[String, Map[String, String]]
    val retracted = scala.collection.mutable.Buffer.empty[String]
    def meta(b: Snapshot): Map[String, String] =
      (if (landed.isEmpty) Map.empty[String, String]
       else dvCache.getOrElseUpdate(b.dvFiles.mkString(","),
         retractDvFor(s, b, delta, tableDir, b.version + 1, retracted))) + ("op" -> op)
    val rows =
      if (touched.isEmpty && landed.isEmpty) None
      else Some(toPhysical(snap, rewritten))
    val committed = writeAndCommit(s, snap, tableDir, rows,
        inheritedSkipping(snap, rebaseline = false), retracted) { (latest, added) =>
      cowRebase(s, snap, touched, added, deltaIds, idCol, schema, meta,
        revalidate = b => landed.foreach(rows =>
          if (constraintsOf(b) != constraintsOf(snap))
            requireConstraints(s, b, rows, tableDir)))(latest)
    }
    maybeWriteChangeFile(s, tableDir, committed, idCol)
    committed
  }
}
