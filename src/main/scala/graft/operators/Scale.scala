package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

/** Cluster-scale layout and skew utilities — the pieces that turn the
  * fixture-scale operators into 100 TB plans:
  *
  *  - partitioned corpus layout: write the corpus hash- or value-
  *    partitioned so probes prune partitions instead of scanning
  *    (IVF cell -> directory = the "index lookup" of SURVEY §2.4(3));
  *  - salted aggregation: two-phase groupBy for skewed keys, the manual
  *    complement to AQE's skew-join handling.
  */
object Scale {

  /** Persist a corpus partitioned by a column (e.g. IVF `cell`, `label`,
    * or a date). Readers filtering on that column scan only matching
    * directories — `PartitionFilters` in the plan, zero data read
    * elsewhere. */
  def dumpPartitionedBy(corpus: DataFrame, path: String, partitionCol: String): Unit =
    corpus.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Read back with partition pruning available. The data schema comes
    * from one data file's footer, read here on the driver: left to
    * Spark, the read infers it with a one-task job on every call, which
    * a serve batch would pay. Partition columns are inferred from the
    * directory names exactly as in a plain read. */
  def loadPartitioned(spark: SparkSession, path: String): DataFrame =
    savedSchema(spark, path).fold(spark.read)(spark.read.schema).parquet(path)

  /** The data schema Spark stamped into a data file's footer. Spark's
    * own inference also reads just one file: every file of a saved
    * layout shares one schema (a saved HNSW graph's rewrites keep or
    * drop `deleted` for the whole table; an IVF cell rewrite keeps the
    * corpus columns), and the first path by name makes the pick
    * stable. None when there is no data file or no stamp: the
    * plain read then infers, or fails as it always has. */
  private def savedSchema(spark: SparkSession, path: String): Option[StructType] = {
    val root = new Path(path)
    val conf = spark.sessionState.newHadoopConf()
    val fs = root.getFileSystem(conf)
    // plain listStatus: the located listing reads each local file's
    // permissions, which forks a process per file
    def firstDataFile(dir: Path): Option[Path] =
      fs.listStatus(dir).sortBy(_.getPath.getName).iterator
        .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
        .flatMap(f => if (f.isDirectory) firstDataFile(f.getPath)
                      else Some(f.getPath).filter(_.getName.endsWith(".parquet")))
        .nextOption()
    (if (fs.exists(root)) firstDataFile(root) else None).flatMap { f =>
      // the footer alone: opening a full reader costs ~25× as much
      val file = HadoopInputFile.fromPath(f, conf)
      val in = file.newStream()
      val footer = try ParquetFileReader.readFooter(file, HadoopReadOptions.builder(conf)
          .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build(), in)
        finally in.close()
      Option(footer.getFileMetaData.getKeyValueMetaData
          .get("org.apache.spark.sql.parquet.row.metadata"))
        .map(DataType.fromJson(_).asInstanceOf[StructType])
    }
  }

  /** Range-partitioned, sorted-within-partition layout: files carry
    * monotone, non-overlapping value ranges for `sortCol`, so parquet
    * row-group min/max statistics turn a range predicate into skipped
    * files/row groups at planning/read time — the zone-map layout for
    * time-series and any other range-probed corpus. On 100 TB of events,
    * a one-week probe against a month of data reads ~1/4 of the files
    * instead of all of them, before any row is decoded. */
  def dumpRangeSorted(df: DataFrame, path: String, sortCol: String,
                      numRanges: Int = 8): Unit =
    df.repartitionByRange(numRanges, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Skew-proof count aggregation: phase 1 groups on (key, salt) so hot
    * keys spread over `saltBuckets` reducers, phase 2 merges the partial
    * counts per key. Identical results to a plain groupBy().count(). */
  def saltedCounts(df: DataFrame, keyCol: String, saltBuckets: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets.toLong)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(count(lit(1)).as("__partial"))
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).as("n"))

  /** Salted sum for a numeric column under skewed keys (decimal-safe). */
  def saltedSum(df: DataFrame, keyCol: String, valueCol: String,
                saltBuckets: Int = 16): DataFrame =
    df.withColumn("__salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(saltBuckets.toLong)))
      .groupBy(col(keyCol), col("__salt"))
      .agg(sum(col(valueCol).cast("decimal(26,6)")).as("__partial"))
      .groupBy(col(keyCol))
      .agg(sum(col("__partial")).cast("double").as("total"))

  /** Morton (Z-order) value of two NUMERIC dimensions: each is min/max-
    * bucketized to `bits` bits and the bits interleave (a takes the odd
    * positions, b the even). Rows close in z are close in BOTH
    * dimensions, so a z-sorted file layout carries a compact axis-
    * aligned box per file and parquet min/max statistics prune files for
    * predicates on EITHER dimension — the multi-dimensional
    * generalization of [[dumpRangeSorted]]'s one-column zone map (the
    * layout Delta's Z-ORDER and friends use). Bucketization is pure
    * layout: it never changes results, only which files a reader can
    * skip, so double rounding at bucket edges is harmless.
    * @param aMin/aMax/bMin/bMax dimension stats, typically joined in
    *        from one broadcast aggregate (see [[dumpZOrdered]]) */
  def zValue(a: Column, b: Column, aMin: Column, aMax: Column,
             bMin: Column, bMax: Column, bits: Int = 16): Column =
    zValueK(Seq((a, aMin, aMax), (b, bMin, bMax)), bits)

  /** Morton value of k NUMERIC dimensions — the general interleave
    * [[zValue]] is the k=2 face of: per-bucket bit i of dimension d
    * lands at position i·k + (k−1−d), so for k=2 dimension 0 takes the
    * odd positions and dimension 1 the even ones, BIT-IDENTICAL to the
    * historical two-column layout (layouts written before the
    * generalization stay valid). Real pruning workloads filter on 3-4
    * dims (user × time × value, lang × source × length); k·bits must
    * fit a long's 63 value bits, so 3 dims get 16-bit buckets, 4 dims
    * 15 — resolution per dim falls as dims rise, the standard Z-order
    * trade. Linear min/max bucketing assumes roughly uniform dims: a
    * heavily skewed column (exponential values, hot keys) wastes its
    * bit budget on empty range — pre-bucketize such a dimension by
    * quantile (rank) before passing it in, which is exactly what
    * production Z-ORDER implementations do per column.
    * @param dims (column, min, max) per dimension, stats typically from
    *        one broadcast aggregate (see [[dumpZOrderedK]]) */
  def zValueK(dims: Seq[(Column, Column, Column)], bits: Int = 16): Column = {
    val k = dims.size
    require(k >= 1, "need at least one dimension")
    require(bits >= 1 && k * bits <= 63,
      s"$k dims x $bits bits = ${k * bits} interleaved bits must fit a long (<= 63)")
    val buckets = math.pow(2.0, bits)
    // Clamp BOTH sides, mirroring the driver-side [[bucketOf]]: values
    // outside [mn, mx] arise whenever rows are bucketized with stats
    // recorded earlier (incremental clustering appends a tail against the
    // original OPTIMIZE stats). An unclamped negative bucket would
    // sign-extend into a garbage-large Morton value whose file stats box
    // no longer brackets the true position — and readBox would then
    // wrongly prune the file. Edge-clamping keeps layout sharpness only
    // degraded, never correctness.
    def bucket(x: Column, mn: Column, mx: Column): Column =
      greatest(
        least(floor((x.cast("double") - mn) / (mx - mn + lit(1.0)) * lit(buckets)),
          lit(buckets - 1.0)),
        lit(0.0)).cast("long")
    val bucketed = dims.map { case (x, mn, mx) => bucket(x, mn, mx) }
    (0 until bits).foldLeft(lit(0L)) { (acc, i) =>
      bucketed.zipWithIndex.foldLeft(acc) { case (a, (bc, d)) =>
        a.bitwiseOR(shiftleft(shiftright(bc, i).bitwiseAND(lit(1L)), i * k + (k - 1 - d)))
      }
    }
  }

  /** Driver-side twin of [[zValueK]]'s per-dimension bucketization —
    * same arithmetic (`floor((x-mn)/(mx-mn+1)·2^bits)` clamped into
    * [0, 2^bits)), plus a lower clamp at 0 for PROBE values that fall
    * below the committed minimum (data rows never do; probe bounds
    * may). Exact agreement with the Spark-side bucket is what makes
    * manifest-level z-range pruning sound ([[Versioned.readBox]]). */
  private[operators] def bucketOf(x: Double, mn: Double, mx: Double,
                                  bits: Int): Long = {
    val buckets = math.pow(2.0, bits)
    math.max(0L, math.min((buckets - 1.0).toLong,
      math.floor((x - mn) / (mx - mn + 1.0) * buckets).toLong))
  }

  /** Driver-side Morton interleave of k pre-bucketized values — the
    * same bit placement as [[zValueK]] (bit i of dimension d lands at
    * position i·k + (k−1−d)), so a driver-computed probe range compares
    * exactly against Spark-written z values. */
  private[operators] def zOf(buckets: Seq[Long], bits: Int): Long = {
    val k = buckets.size
    var z = 0L
    var i = 0
    while (i < bits) {
      var d = 0
      while (d < k) {
        z |= ((buckets(d) >> i) & 1L) << (i * k + (k - 1 - d))
        d += 1
      }
      i += 1
    }
    z
  }

  /** Write `df` z-ordered on two numeric dimension expressions: one
    * broadcast stats aggregate, z-value per row (pure codegen'd bit
    * arithmetic), range-repartition + in-partition sort on z, write.
    * Each output file then covers a compact box in (dimA, dimB) and
    * row-group stats prune on either dimension — on 100 TB of events
    * keyed (user, time), both a one-user probe and a one-week probe
    * skip most files, where a time-sorted layout serves only the time
    * probe and a user probe scans everything. The z column is layout
    * scaffolding and is dropped before write (projection after the
    * sort keeps partition-local order). */
  def dumpZOrdered(df: DataFrame, path: String, dimA: Column, dimB: Column,
                   numRanges: Int = 32, bits: Int = 16): Unit =
    dumpZOrderedK(df, path, Seq(dimA, dimB), numRanges, bits)

  /** Rank (quantile) bucketization of one dimension: map `dim` to its
    * approximate quantile bucket in [0, buckets) — the pre-transform a
    * SKEWED z-order dimension needs (an exponential value column wastes
    * a linear min/max bucket budget on empty range; its quantile index
    * is uniform BY CONSTRUCTION). Boundaries come from one driver-side
    * `approxQuantile` pass (bounded: `buckets − 1` doubles) and the
    * per-row bucket is `|{b : x >= b}|` via a codegen'd filter-size
    * over the boundary array literal — O(buckets) comparisons per row,
    * no shuffle, deterministic for fixed data. This is exactly what
    * production Z-ORDER implementations do per column
    * (range_partition_id). Null dims land in bucket 0. */
  def quantileBucket(df: DataFrame, dim: Column, buckets: Int): Column = {
    require(buckets >= 2 && buckets <= 4096, s"buckets $buckets out of [2, 4096]")
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    val bounds = df.select(dim.cast("double").as("__qb"))
      .na.drop("all", Seq("__qb"))
      .stat.approxQuantile("__qb", probes, 0.001)
    size(filter(lit(bounds), b => dim.cast("double") >= b)).cast("long")
  }

  /** Write `df` z-ordered on k numeric dimension expressions — one
    * broadcast stats aggregate (2k values), z per row, range-partition +
    * sort on z, drop the scaffolding column, write. Same plan shape at
    * any k; only the interleave widens. Heavily SKEWED dims should be
    * wrapped in [[quantileBucket]] first (see zValueK's scaladoc). */
  def dumpZOrderedK(df: DataFrame, path: String, dims: Seq[Column],
                    numRanges: Int = 32, bits: Int = 16): Unit = {
    val statCols = dims.zipWithIndex.flatMap { case (d, i) =>
      Seq(min(d.cast("double")).as(s"__mn$i"), max(d.cast("double")).as(s"__mx$i")) }
    val stats = df.agg(statCols.head, statCols.tail: _*)
    val statNames = dims.indices.flatMap(i => Seq(s"__mn$i", s"__mx$i"))
    df.crossJoin(broadcast(stats))
      .withColumn("__z", zValueK(
        dims.zipWithIndex.map { case (d, i) => (d, col(s"__mn$i"), col(s"__mx$i")) },
        bits))
      .drop(statNames: _*)
      .repartitionByRange(numRanges, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Rendezvous (highest-random-weight) shard assignment: shard(id) =
    * argmax over s ∈ [0, shards) of md5("salt:s:id") — the consistent-
    * placement rule whose defining property is MINIMAL MOVEMENT: growing
    * the ring from S to S+1 shards can only reassign a row whose new
    * argmax IS the new shard (every existing shard's key is unchanged,
    * so the old winner still beats every old rival) — ~1/(S+1) of rows
    * move, none shuffle between pre-existing shards. The modulo rule
    * (`id % S`) remaps nearly everything on S→S+1; at 100 TB that is
    * the difference between rewriting one new shard directory and
    * rewriting the corpus.
    *
    * Pure codegen'd column function of (id, shards, salt): reproducible
    * under any partitioning/engine. The argmax rides a lexicographic
    * `array_max` over fixed-width "md5hex:s" strings (hashes are 32
    * chars, so comparison resolves on the hash; a tie would need an md5
    * collision between two salted keys of the SAME id). Plan size is
    * O(shards) literals inside one transform — the shard count is a
    * config constant, not data. */
  def rendezvousShard(id: Column, shards: Int, salt: String = "rv"): Column = {
    require(shards > 0)
    val keys = transform(sequence(lit(0), lit(shards - 1)), s =>
      concat(
        md5(concat(lit(s"$salt:"), s.cast("string"), lit(":"),
          id.cast("string")).cast("binary")),
        lit(":"), s.cast("string")))
    substring_index(array_max(keys), ":", -1).cast("int")
  }
}
