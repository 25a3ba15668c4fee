package graft

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.{KnnIvf, Scale}
import graft.sources.Tables

class ScaleSpec extends SparkSuite {

  test("partitioned corpus layout prunes partitions on the probe filter") {
    val path = tempDir("graft_part") + "/corpus"
    val emb = Tables.embeddings(spark, sfDir)
    Scale.dumpPartitionedBy(emb, path, "label")
    val pruned = Scale.loadPartitioned(spark, path).filter(col("label") === 3)
    // pruning shows up as PartitionFilters on the scan, not a data Filter
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(label"), plan.take(500))
    assert(pruned.count() === emb.filter(col("label") === 3).count())
  }

  test("IVF cells as partition columns: probe reads only matching cells") {
    val path = tempDir("graft_ivf") + "/corpus"
    val index = KnnIvf.build(Tables.embeddings(spark, sfDir), numCells = 8)
    Scale.dumpPartitionedBy(index.corpusWithCell, path, "cell")
    val probe = Scale.loadPartitioned(spark, path).filter(col("cell").isin(1, 3))
    assert(probe.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    assert(probe.select(countDistinct(col("cell"))).head().getLong(0) <= 2)
  }

  test("loadPartitioned on a saved IVF corpus starts no Spark job and matches a plain read") {
    val path = tempDir("graft_ivf_load") + "/index"
    KnnIvf.save(KnnIvf.build(Tables.embeddings(spark, sfDir), numCells = 4), path)
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet(): Unit
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val loaded = try Scale.loadPartitioned(spark, s"$path/corpus") finally {
      ListenerBusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    assert(jobs.get === 0)
    val inferred = spark.read.parquet(s"$path/corpus")
    assert(loaded.schema === inferred.schema)
    assert(loaded.exceptAll(inferred).count() === 0 &&
      inferred.exceptAll(loaded).count() === 0)
  }

  test("dynamic partition pruning: fact partitions pruned by the dim-side filter") {
    import spark.implicits._
    val path = tempDir("graft_dpp") + "/corpus"
    Scale.dumpPartitionedBy(Tables.embeddings(spark, sfDir), path, "label")
    val fact = Scale.loadPartitioned(spark, path)
    // selective dim: only labels 2 and 5 survive its filter — at plan
    // time the fact side cannot know that; DPP injects the dim's result
    // as a runtime partition filter on the fact scan. The dim must be a
    // FILE source with a live Filter node: a LocalRelation constant-
    // folds the predicate away and the DPP heuristic sees no selective
    // side to prune with.
    val dimPath = tempDir("graft_dpp_dim") + "/dim"
    Seq((2, "keep"), (5, "keep"), (991, "ghost")).toDF("label", "tag")
      .write.parquet(dimPath)
    val dim = spark.read.parquet(dimPath).filter(col("tag") === "keep")
    val joined = fact.join(dim, "label")
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected a dynamicpruning subquery in the fact scan: ${plan.take(800)}")
    val emb = Tables.embeddings(spark, sfDir)
    assert(joined.count() === emb.filter(col("label").isin(2, 5)).count())
  }

  test("bucketed tables join without an exchange (co-located join)") {
    val wh = tempDir("graft_wh")
    val emb = Tables.embeddings(spark, sfDir)
    emb.write.mode("overwrite").bucketBy(8, "vec_id").sortBy("vec_id")
      .option("path", s"$wh/emb_bucketed").saveAsTable("emb_bucketed")
    // force the sort-merge path (fixture tables broadcast otherwise)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val t = spark.table("emb_bucketed")
      val joined = t.alias("a").join(t.alias("b"), "vec_id")
      val plan = joined.queryExecution.executedPlan.toString
      // bucketing makes both sides pre-partitioned on the join key: a
      // sort-merge join with no shuffle exchange
      assert(!plan.contains("Exchange"), plan.take(800))
      assert(joined.count() === emb.count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS emb_bucketed")
    }
  }

  test("range-sorted layout: disjoint file ranges, faithful contents") {
    val path = tempDir("graft_rs") + "/events"
    val ev = Tables.events(spark, sfDir)
    Scale.dumpRangeSorted(ev, path, "ts", numRanges = 4)
    val back = spark.read.parquet(path)
    assert(back.count() === ev.count())
    // the zone-map property: per-file [min, max] ts ranges do not overlap,
    // so a range predicate can skip whole files on footer stats alone
    val ranges = back.groupBy(input_file_name().as("f"))
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"))
      .collect().map(r => (r.getTimestamp(1).getTime, r.getTimestamp(2).getTime))
      .sortBy(_._1)
    assert(ranges.length > 1, "expected multiple range files")
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) =>
        assert(hi <= lo2, s"overlapping file ranges: $hi > $lo2")
      case _ =>
    }
    // and the probe result equals the same filter on the original table
    val pred = col("ts") >= lit("2024-01-10 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-17 00:00:00").cast("timestamp")
    assert(back.filter(pred).count() === ev.filter(pred).count())
  }

  test("salted aggregation equals plain groupBy exactly") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val plainC = li.groupBy(col("l_returnflag")).count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val saltedC = Scale.saltedCounts(li, "l_returnflag")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(saltedC === plainC)

    val plainS = li.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity").cast("decimal(26,6)")).cast("double").as("t"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val saltedS = Scale.saltedSum(li, "l_returnflag", "l_quantity")
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(saltedS === plainS)
  }

  test("z-order layout: content identical, and file boxes prune a user probe the ts-sort cannot") {
    val events = Tables.events(spark, sfDir)
    val base = tempDir("graft_zorder_spec")
    Scale.dumpZOrdered(events, s"$base/z", col("user_id"), unix_micros(col("ts")),
      numRanges = 16)
    Scale.dumpRangeSorted(events, s"$base/ts", "ts", numRanges = 16)

    // layout is pure: the z-ordered copy holds exactly the same rows
    val zBack = spark.read.parquet(s"$base/z")
    assert(zBack.exceptAll(events).unionAll(events.exceptAll(zBack)).count() === 0,
      "z-order write must not change content")

    // per-file user_id boxes: a narrow user probe touches only the files
    // whose [min,max] intersects it. The ts-sorted layout spreads every
    // user over every file (user boxes ~ full range); z-order confines
    // them. Pin the actual pruning ratio, not just existence.
    val maxUser = events.agg(max("user_id")).head().getLong(0)
    val (lo, hi) = (0L, maxUser / 8)
    def touched(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("user_id").as("umin"), max("user_id").as("umax"))
      (boxes.count(), boxes.filter(col("umin") <= hi && col("umax") >= lo).count())
    }
    val (zFiles, zTouched) = touched(s"$base/z")
    val (tFiles, tTouched) = touched(s"$base/ts")
    assert(zFiles >= 8 && tFiles >= 8, "need a multi-file layout to compare")
    assert(tTouched === tFiles,
      "ts-sorted layout should NOT prune a user probe (that is the point)")
    assert(zTouched.toDouble / zFiles <= 0.5,
      s"z-order should confine a ~1/8 user slice to <=half the files; " +
        s"touched $zTouched of $zFiles")
  }

  test("zValue: per-dimension monotone, range-bounded, interleave exact on known points") {
    import spark.implicits._
    val bits = 8 // buckets 0..255 with identity bucketing below
    val axisA = ((0 until 256 by 17) :+ 255).distinct.map(_.toLong)
    val axisB = ((0 until 256 by 13) :+ 255).distinct.map(_.toLong)
    val pts = (for (a <- axisA; b <- axisB) yield (a, b)).toDF("a", "b")
    val z = pts.select(col("a"), col("b"),
      graft.operators.Scale.zValue(col("a"), col("b"),
        lit(0.0), lit(255.0), lit(0.0), lit(255.0), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // bounded by 4^bits
    assert(z.values.forall(v => v >= 0 && v < (1L << (2 * bits))))
    // known Morton points: a in odd bit positions, b in even
    assert(z((0L, 0L)) === 0L)
    assert(z((255L, 255L)) === (1L << (2 * bits)) - 1)
    // fix one dimension: z strictly increases with the other
    val as = z.keys.map(_._1).toSeq.distinct.sorted
    val bs = z.keys.map(_._2).toSeq.distinct.sorted
    for (b <- bs; Seq(a1, a2) <- as.sliding(2))
      assert(z((a1, b)) < z((a2, b)), s"z not monotone in a at b=$b")
    for (a <- as; Seq(b1, b2) <- bs.sliding(2))
      assert(z((a, b1)) < z((a, b2)), s"z not monotone in b at a=$a")
  }

  test("zValueK: k=2 is bit-identical to zValue; k=3 monotone per dimension") {
    import spark.implicits._
    val bits = 8
    val pts = (for (a <- 0L until 256L by 37L; b <- 0L until 256L by 41L)
      yield (a, b)).toDF("a", "b")
    // the generalization must reproduce the historical 2-d layout
    // EXACTLY (layouts written before it stay valid)
    val diff = pts.select(
        graft.operators.Scale.zValue(col("a"), col("b"),
          lit(0.0), lit(255.0), lit(0.0), lit(255.0), bits).as("z2"),
        graft.operators.Scale.zValueK(Seq(
          (col("a"), lit(0.0), lit(255.0)),
          (col("b"), lit(0.0), lit(255.0))), bits).as("zk"))
      .filter(col("z2") =!= col("zk")).count()
    assert(diff === 0L, "zValueK(k=2) must equal zValue bit-for-bit")
    // k=3: bounded by 8^bits and strictly monotone along each axis
    val tri = (for (a <- Seq(0L, 85L, 170L, 255L); b <- Seq(0L, 85L, 170L, 255L);
                    c <- Seq(0L, 85L, 170L, 255L)) yield (a, b, c)).toDF("a", "b", "c")
    val z3 = tri.select(col("a"), col("b"), col("c"),
        graft.operators.Scale.zValueK(Seq(
          (col("a"), lit(0.0), lit(255.0)), (col("b"), lit(0.0), lit(255.0)),
          (col("c"), lit(0.0), lit(255.0))), bits).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)) -> r.getLong(3)).toMap
    assert(z3.values.forall(v => v >= 0 && v < (1L << (3 * bits))))
    assert(z3((0L, 0L, 0L)) === 0L)
    assert(z3((255L, 255L, 255L)) === (1L << (3 * bits)) - 1)
    val axis = Seq(0L, 85L, 170L, 255L)
    for (x <- axis; y <- axis; Seq(v1, v2) <- axis.sliding(2)) {
      assert(z3((v1, x, y)) < z3((v2, x, y)), "z3 not monotone in dim 0")
      assert(z3((x, v1, y)) < z3((x, v2, y)), "z3 not monotone in dim 1")
      assert(z3((x, y, v1)) < z3((x, y, v2)), "z3 not monotone in dim 2")
    }
  }

  test("3-d z-order prunes the THIRD dimension where the 2-d layout cannot") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // uniform synthetic dims: linear min/max bucketing is only as good
    // as the distribution feeding it (the fixture's exponential-ish
    // `value` defeats a top-bit split — on skewed production columns
    // you bucketize by quantile first, as the zValueK scaladoc notes);
    // the STRUCTURAL claim pinned here is the interleave's, not the
    // distribution's
    val rows = (0L until 4096L)
      .map(i => ((i * 13) % 64, (i * 7) % 1024, ((i * 31) % 256).toDouble))
      .toDF("u", "t", "value")
    val base = tempDir("graft_zorder3d_spec")
    Scale.dumpZOrderedK(rows, s"$base/z3",
      Seq(col("u"), col("t"), col("value")), numRanges = 16)
    Scale.dumpZOrdered(rows, s"$base/z2", col("u"), col("t"), numRanges = 16)
    // layout is pure
    val back = spark.read.parquet(s"$base/z3")
    assert(back.exceptAll(rows).unionAll(rows.exceptAll(back)).count() === 0,
      "3-d z-order write must not change content")
    // per-file VALUE boxes: a narrow value probe prunes under the 3-d
    // layout; the 2-d layout never clustered value, so its per-file
    // value ranges span ~everything and nothing prunes
    val (vLo, vHi) = (0.0, 31.0)
    def touched(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("value").as("vmin"), max("value").as("vmax"))
      (boxes.count(), boxes.filter(col("vmin") <= vHi && col("vmax") >= vLo).count())
    }
    val (f3, t3) = touched(s"$base/z3")
    val (f2, t2) = touched(s"$base/z2")
    assert(f3 >= 8 && f2 >= 8, "need multi-file layouts to compare")
    assert(t2 === f2,
      "the 2-d layout should NOT prune a value probe (that is the point)")
    assert(t3.toDouble / f3 <= 0.7,
      s"3-d z-order should skip files on a narrow value slice; touched $t3 of $f3")
  }

  test("quantileBucket rescues z-order pruning on the fixture's SKEWED value column") {
    import org.apache.spark.sql.functions._
    // the real events fixture is the motivating failure: `value` is
    // exponential-ish (median ~35, max ~330+), so linear min/max
    // bucketing puts ~95% of rows under the top-bit split and a narrow
    // low-value probe prunes NOTHING — while the quantile index is
    // uniform by construction and the same probe skips files
    val events = Tables.events(spark, sfDir)
      .select("ts", "user_id", "event_type", "value")
    val base = tempDir("graft_zorder_q_spec")
    Scale.dumpZOrderedK(events, s"$base/lin",
      Seq(col("user_id"), unix_micros(col("ts")), col("value")), numRanges = 16)
    val vq = Scale.quantileBucket(events, col("value"), 256)
    Scale.dumpZOrderedK(events, s"$base/q",
      Seq(col("user_id"), unix_micros(col("ts")), vq), numRanges = 16)
    // layout stays pure under the rank transform
    val back = spark.read.parquet(s"$base/q")
    assert(back.exceptAll(events).unionAll(events.exceptAll(back)).count() === 0,
      "quantile-bucketed z-order write must not change content")
    val (vLo, vHi) = (0.0, 10.0)
    def touched(path: String): (Long, Long) = {
      val boxes = spark.read.parquet(path)
        .groupBy(input_file_name().as("f"))
        .agg(min("value").as("vmin"), max("value").as("vmax"))
      (boxes.count(), boxes.filter(col("vmin") <= vHi && col("vmax") >= vLo).count())
    }
    val (fL, tL) = touched(s"$base/lin")
    val (fQ, tQ) = touched(s"$base/q")
    assert(fL >= 8 && fQ >= 8, "need multi-file layouts to compare")
    assert(tL === fL,
      "linear bucketing should NOT prune the skewed low-value probe (the motivating failure)")
    assert(tQ.toDouble / fQ <= 0.8,
      s"quantile bucketing should skip files on the same probe; touched $tQ of $fQ")
  }

  test("compactSmallFiles: identical rows, collapsed file count, idempotent, no leftovers") {
    import graft.operators.Maintenance
    val docs = Tables.documents(spark, sfDir).select("doc_id", "lang", "text")
    val path = tempDir("graft_compact_spec") + "/docs"
    docs.repartition(32).write.mode("overwrite").parquet(path)

    val s1 = Maintenance.compactSmallFiles(spark, path, targetBytes = 8L << 20)
    assert(s1.filesBefore === 32L)
    assert(s1.filesAfter === 1L, "tiny table must collapse to ceil(total/target) = 1 file")
    val back = spark.read.parquet(path)
    assert(back.exceptAll(docs).unionAll(docs.exceptAll(back)).count() === 0,
      "compaction must not change content")

    // idempotent: a second pass sees the compacted shape and preserves it
    val s2 = Maintenance.compactSmallFiles(spark, path, targetBytes = 8L << 20)
    assert(s2.filesBefore === 1L && s2.filesAfter === 1L)
    val back2 = spark.read.parquet(path)
    assert(back2.exceptAll(docs).unionAll(docs.exceptAll(back2)).count() === 0)

    // the swap cleans up after itself
    val parent = new java.io.File(path).getParentFile
    val leftovers = parent.listFiles().map(_.getName)
      .filter(n => n.contains("_compact_staging") || n.contains("_compact_trash"))
    assert(leftovers.isEmpty, s"staging/trash dirs left behind: ${leftovers.mkString(",")}")
  }

  test("rendezvousShard: id-type-agnostic (long and its string form place identically)") {
    import spark.implicits._
    // the hash routes through id.cast(string), so a corpus keyed by
    // STRING ids (the reference's id type, executor.py:57) shards
    // exactly like the same keys as longs — and genuinely non-numeric
    // string keys (md5 hex) get the same guarantees (range, occupancy)
    val ids = (0L until 500L).toDF("id")
    val both = ids.select(
        Scale.rendezvousShard(col("id"), 8).as("asLong"),
        Scale.rendezvousShard(col("id").cast("string"), 8).as("asString"),
        Scale.rendezvousShard(md5(col("id").cast("string").cast("binary")), 8).as("asHex"))
      .collect()
    assert(both.forall(r => r.getInt(0) == r.getInt(1)),
      "long ids and their decimal-string form must shard identically")
    assert(both.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 8))
    assert(both.map(_.getInt(2)).distinct.length === 8,
      "hex-string keys must still occupy every shard")
  }

  test("rendezvousShard: range, minimal movement on growth, occupancy, salt independence") {
    import spark.implicits._
    val ids = (0L until 2000L).toDF("id")
    val assigned = ids.select(col("id"),
        Scale.rendezvousShard(col("id"), 8).as("s8"),
        Scale.rendezvousShard(col("id"), 9).as("s9"),
        Scale.rendezvousShard(col("id"), 8, salt = "other").as("alt"))
      .collect()
    // range
    assert(assigned.forall(r => r.getInt(1) >= 0 && r.getInt(1) < 8))
    assert(assigned.forall(r => r.getInt(2) >= 0 && r.getInt(2) < 9))
    // THE rendezvous property, structural not statistical: growing the
    // ring can only reassign a row TO the new shard — every old key is
    // unchanged, so the old winner still beats every old rival
    val movedWrong = assigned.filter(r => r.getInt(1) != r.getInt(2))
      .filterNot(r => r.getInt(2) == 8)
    assert(movedWrong.isEmpty,
      s"rows moved between PRE-EXISTING shards: ${movedWrong.take(3).mkString(";")}")
    // moved fraction ~ 1/9 of 2000 ≈ 222; generous band, catches both a
    // broken argmax (≈ 8/9 move) and a dead one (0 move)
    val moved = assigned.count(r => r.getInt(1) != r.getInt(2))
    assert(moved > 100 && moved < 400, s"moved $moved of 2000")
    // all 8 shards occupied at n=2000 (P(empty) ~ 8·(7/8)^2000 ≈ 0)
    assert(assigned.map(_.getInt(1)).distinct.length === 8)
    // a different salt is a different (near-independent) placement
    val sameAsAlt = assigned.count(r => r.getInt(1) == r.getInt(3))
    assert(sameAsAlt < 2000, "salt must change the assignment")
  }
}
