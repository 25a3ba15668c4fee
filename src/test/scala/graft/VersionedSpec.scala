package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Versioned

class VersionedSpec extends SparkSuite {

  private def freshDir(): String =
    tempDir("graft_versioned_spec") + "/t"

  private def docs3(n: Int = 90) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"lang${i % 3}", (i * 7).toLong))
      .toDF("doc_id", "lang", "n_chars").repartition(6)
  }

  test("init + read round-trips; versions() reports the lineage") {
    val dir = freshDir()
    val d = docs3()
    assert(Versioned.init(d, dir) === 0)
    assert(Versioned.versions(spark, dir) === Seq(0))
    val back = Versioned.read(spark, dir)
    assert(back.exceptAll(d).unionAll(d.exceptAll(back)).count() === 0)
  }

  test("upsert is last-wins AND old versions stay readable (time travel)") {
    import spark.implicits._
    val dir = freshDir()
    val d = docs3()
    Versioned.init(d, dir)
    val delta = Seq((5L, "xx", 999L), (1000L, "new", 1L))
      .toDF("doc_id", "lang", "n_chars")
    assert(Versioned.upsert(delta, dir, "doc_id") === 1)

    val v1 = Versioned.read(spark, dir)
    assert(v1.count() === 91) // 90 originals, one replaced, one new
    assert(v1.filter(col("doc_id") === 5L).head().getAs[String]("lang") === "xx")
    assert(v1.filter(col("doc_id") === 1000L).count() === 1)

    // v0 must be byte-for-byte the pre-upsert table
    val v0 = Versioned.read(spark, dir, Some(0))
    assert(v0.exceptAll(d).unionAll(d.exceptAll(v0)).count() === 0,
      "time travel must see the original corpus")
  }

  test("copy-on-write: untouched files carry into the new manifest by reference") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    val s0 = Versioned.snapshot(spark, dir, Some(0))
    assert(s0.files.size >= 4, "need multiple files for carry-over to mean anything")
    // one id -> at most a couple of touched files; the REST must be the
    // exact same file paths in v1 (no rewrite of untouched data)
    Versioned.upsert(Seq((7L, "zz", 1L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    val s1 = Versioned.snapshot(spark, dir)
    val carried = s1.files.toSet.intersect(s0.files.toSet)
    assert(carried.size >= s0.files.size - 2,
      s"expected near-total carry-over, got ${carried.size} of ${s0.files.size}")
    assert(carried.size < s0.files.size, "the touched file must NOT carry over")
  }

  test("append references every old file and adds only the delta's") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    val s0 = Versioned.snapshot(spark, dir)
    Versioned.append(Seq((2000L, "ap", 3L)).toDF("doc_id", "lang", "n_chars"), dir)
    val s1 = Versioned.snapshot(spark, dir)
    assert(s0.files.toSet.subsetOf(s1.files.toSet))
    assert(Versioned.read(spark, dir).count() === 91)
    assert(Versioned.read(spark, dir, Some(0)).count() === 90)
  }

  test("deleteIds removes rows copy-on-write; history keeps them") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    Versioned.deleteIds(Seq(3L, 4L).toDF("doc_id"), dir, "doc_id")
    val latest = Versioned.read(spark, dir)
    assert(latest.count() === 88)
    assert(latest.filter(col("doc_id").isin(3L, 4L)).count() === 0)
    assert(Versioned.read(spark, dir, Some(0))
      .filter(col("doc_id").isin(3L, 4L)).count() === 2)
  }

  test("optimistic concurrency: double init and duplicate version commits fail loudly") {
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    intercept[IllegalArgumentException](Versioned.init(docs3(), dir))
    // simulate a racing writer that already landed v1: our commit of the
    // same next version must fail, not silently clobber
    import spark.implicits._
    Versioned.append(Seq((1L, "a", 1L)).toDF("doc_id", "lang", "n_chars"), dir)
    val manifests = new java.io.File(s"$dir/_manifests").listFiles().map(_.getName).sorted
    assert(manifests.contains("v00001.manifest"))
    // the atomic commit point itself: two writers computed the same next
    // version from the same snapshot; the first rename wins, the second
    // must fail loudly and leave the winner's manifest untouched
    val winner = Versioned.snapshot(spark, dir).entries
    Versioned.commitManifest(spark, dir, 2, winner)
    intercept[java.io.IOException](
      Versioned.commitManifest(spark, dir, 2,
        Seq(Versioned.FileEntry("/loser/should/not/land.parquet"))))
    assert(Versioned.snapshot(spark, dir, Some(2)).entries === winner,
      "the loser must not clobber the winner's committed manifest")
    // reading a version that never existed
    intercept[IllegalArgumentException](Versioned.read(spark, dir, Some(9)))
  }

  test("diff classifies insert/delete/update with old/new values, drops unchanged") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(10), dir) // ids 0..9
    // v1: update 2 (new lang), delete 3, insert 100 — 0,1,4..9 unchanged
    Versioned.upsert(Seq((2L, "UPD", 14L), (100L, "ins", 1L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id")
    Versioned.deleteIds(Seq(3L).toDF("doc_id"), dir, "doc_id")

    val d = Versioned.diff(spark, dir, 0, 2, "doc_id")
      .orderBy("doc_id").collect()
    assert(d.map(_.getAs[Long]("doc_id")).toSeq === Seq(2L, 3L, 100L))
    val byId = d.map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(2L).getAs[String]("change") === "update")
    assert(byId(2L).getAs[String]("lang_old") === "lang2")
    assert(byId(2L).getAs[String]("lang_new") === "UPD")
    assert(byId(3L).getAs[String]("change") === "delete")
    assert(byId(3L).getAs[String]("lang_new") === null)
    assert(byId(100L).getAs[String]("change") === "insert")
    assert(byId(100L).getAs[String]("lang_old") === null)
    // an upsert writing IDENTICAL values is not a change
    Versioned.upsert(Seq((5L, "lang2", 35L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    assert(Versioned.diff(spark, dir, 2, 3, "doc_id").count() === 0)
  }

  test("diff on an id-only table reports inserts and deletes") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init((0L until 5L).toDF("doc_id"), dir)
    Versioned.append(Seq(5L, 6L).toDF("doc_id"), dir)
    Versioned.deleteIds(Seq(0L).toDF("doc_id"), dir, "doc_id")
    val d = Versioned.diff(spark, dir, 0, 2, "doc_id").orderBy("doc_id").collect()
    assert(d.map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("change"))).toSeq ===
      Seq((0L, "delete"), (5L, "insert"), (6L, "insert")))
    assert(Versioned.diff(spark, dir, 1, 1, "doc_id").count() === 0)
  }

  test("schema evolution: new columns null-fill old files; time travel keeps old schemas; type change refuses") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(Seq((1L, "a"), (2L, "b")).toDF("doc_id", "lang"), dir)
    // v1 appends rows carrying a NEW column
    Versioned.append(Seq((3L, "c", 0.9)).toDF("doc_id", "lang", "score"), dir)

    val latest = Versioned.read(spark, dir)
    assert(latest.columns.toSeq === Seq("doc_id", "lang", "score"))
    val byId = latest.collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(byId(1L).isNullAt(2), "pre-evolution rows null-fill the new column")
    assert(byId(3L).getAs[Double]("score") === 0.9)

    // time travel reads v0 under v0's OWN schema
    assert(Versioned.read(spark, dir, Some(0)).columns.toSeq === Seq("doc_id", "lang"))

    // an upsert delta can also evolve (survivor side null-fills)
    Versioned.upsert(Seq((2L, "B", 0.5, 7L)).toDF("doc_id", "lang", "score", "rank"),
      dir, "doc_id")
    val v2 = Versioned.read(spark, dir)
    assert(v2.columns.toSeq === Seq("doc_id", "lang", "score", "rank"))
    assert(v2.filter(col("doc_id") === 2L).head().getAs[Long]("rank") === 7L)
    assert(v2.filter(col("doc_id") === 1L).head().isNullAt(3))

    // changing an existing column's TYPE is refused, loudly
    intercept[IllegalArgumentException](
      Versioned.append(Seq((9L, 42, 1.0)).toDF("doc_id", "lang", "score"), dir))
  }

  test("manifest stats prune a range probe without opening footers; never unsound") {
    import spark.implicits._
    val dir = freshDir()
    val d = (0 until 400).map(i => (i.toLong, s"l${i % 3}", i.toLong * 3))
      .toDF("doc_id", "lang", "n_chars").repartitionByRange(8, col("doc_id"))
    Versioned.init(d, dir, statsCol = Some("doc_id"))

    val snap = Versioned.snapshot(spark, dir)
    assert(snap.entries.forall(_.stats.exists(_._1 == "doc_id")),
      "every committed file must carry stats")

    // a ~1/8 range touches 1-2 of the 8 range-clustered files
    val kept = Versioned.filesForRange(spark, dir, None, "doc_id", 100L, 149L)
    assert(kept.size < snap.files.size / 2,
      s"pruning must bite: kept ${kept.size} of ${snap.files.size}")
    // ...and the pruned read is exactly the full-scan filter
    val pruned = Versioned.readRange(spark, dir, None, "doc_id", 100L, 149L)
    val full = Versioned.read(spark, dir)
      .filter(col("doc_id").between(100L, 149L))
    assert(pruned.exceptAll(full).unionAll(full.exceptAll(pruned)).count() === 0)

    // a range beyond the data proves empty from the manifest alone,
    // schema intact
    val empty = Versioned.readRange(spark, dir, None, "doc_id", 10000L, 20000L)
    assert(empty.count() === 0 && empty.columns.toSeq === Seq("doc_id", "lang", "n_chars"))

    // pruning on a column with NO recorded stats keeps every file —
    // skipping is only sound when stats prove emptiness
    assert(Versioned.filesForRange(spark, dir, None, "n_chars", 0L, 1L).size
      === snap.files.size)

    // copy-on-write rewrites inherit the stats column: pruning survives
    Versioned.upsert(Seq((105L, "UP", 9L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    val snap1 = Versioned.snapshot(spark, dir)
    assert(snap1.entries.forall(_.stats.exists(_._1 == "doc_id")),
      "rewritten files must keep carrying stats")
    val pruned1 = Versioned.readRange(spark, dir, None, "doc_id", 100L, 149L)
    assert(pruned1.filter(col("doc_id") === 105L).head().getAs[String]("lang") === "UP")
  }

  test("TableStream.commitBatch: exactly-once per batch id, empty batches skip") {
    import spark.implicits._
    import graft.streaming.TableStream
    val dir = freshDir()
    val b0 = Seq((1L, "a", 1L)).toDF("doc_id", "lang", "n_chars")
    val b1 = Seq((2L, "b", 2L)).toDF("doc_id", "lang", "n_chars")

    assert(TableStream.commitBatch(b0, dir, 0L) === Some(0))
    // foreachBatch replay of the SAME batch id: must be a no-op
    assert(TableStream.commitBatch(b0, dir, 0L) === None)
    assert(TableStream.commitBatch(b1, dir, 1L) === Some(1))
    assert(TableStream.commitBatch(b1, dir, 1L) === None)
    assert(Versioned.versions(spark, dir) === Seq(0, 1))
    assert(Versioned.lastBatchId(spark, dir) === Some(1L))
    assert(Versioned.read(spark, dir).count() === 2)

    // an empty micro-batch commits nothing
    assert(TableStream.commitBatch(b0.limit(0), dir, 2L) === None)
    assert(Versioned.versions(spark, dir) === Seq(0, 1))

    // batch-id metadata must not leak into the file list
    assert(Versioned.snapshot(spark, dir).files.forall(!_.startsWith("#")))
  }

  test("TableStream: TWO writers ingest one table — interleaved and racing") {
    import spark.implicits._
    import graft.streaming.TableStream
    // interleaved (the steady-state shape): per-writer batch ids track
    // independently, versions linearize, content is the union
    val dir = freshDir()
    def b(id: Long, tag: String) = Seq((id, tag, id)).toDF("doc_id", "lang", "n_chars")
    assert(TableStream.commitBatch(b(1, "w1"), dir, 0L, "w1").nonEmpty)
    assert(TableStream.commitBatch(b(100, "w2"), dir, 0L, "w2").nonEmpty)
    assert(TableStream.commitBatch(b(2, "w1"), dir, 1L, "w1").nonEmpty)
    assert(TableStream.commitBatch(b(101, "w2"), dir, 1L, "w2").nonEmpty)
    // a replay of either writer's last batch is still a no-op, and one
    // writer's high-water mark must not swallow the other's
    assert(TableStream.commitBatch(b(2, "w1"), dir, 1L, "w1") === None)
    assert(TableStream.commitBatch(b(101, "w2"), dir, 1L, "w2") === None)
    assert(Versioned.lastBatchId(spark, dir, Some("w1")) === Some(1L))
    assert(Versioned.lastBatchId(spark, dir, Some("w2")) === Some(1L))
    assert(Versioned.read(spark, dir).count() === 4)
    assert(Versioned.versions(spark, dir) === Seq(0, 1, 2, 3))

    // RACING batch 0 on a FRESH table: the init loser must land as an
    // append (day-one multi-writer ingest), with no lost update
    val dir2 = freshDir()
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(("w1", 1L), ("w2", 100L)).map { case (w, id) =>
        pool.submit(new java.util.concurrent.Callable[Option[Int]] {
          def call(): Option[Int] = {
            gate.await()
            TableStream.commitBatch(b(id, w), dir2, 0L, w)
          }
        })
      }
      val got = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.forall(_.nonEmpty), s"both racing writers must commit, got $got")
      assert(got.flatten.toSet === Set(0, 1))
    } finally pool.shutdown()
    assert(Versioned.read(spark, dir2).count() === 2,
      "both writers' batch-0 rows must land")
    assert(Versioned.lastBatchId(spark, dir2, Some("w1")) === Some(0L))
    assert(Versioned.lastBatchId(spark, dir2, Some("w2")) === Some(0L))
  }

  test("readAppendedSince: exact delta on append-only history, refuses after rewrites") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    Versioned.append(Seq((1000L, "x", 1L), (1001L, "y", 2L))
      .toDF("doc_id", "lang", "n_chars"), dir)
    Versioned.append(Seq((1002L, "z", 3L)).toDF("doc_id", "lang", "n_chars"), dir)

    val delta = Versioned.readAppendedSince(spark, dir, 0)
    assert(delta.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq ===
      Seq(1000L, 1001L, 1002L))
    // nothing appended since latest -> empty, schema intact
    val none = Versioned.readAppendedSince(spark, dir, 2)
    assert(none.count() === 0 && none.columns.toSeq === Seq("doc_id", "lang", "n_chars"))

    // a copy-on-write rewrite breaks append-only history: refuse loudly
    Versioned.upsert(Seq((5L, "UP", 9L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    intercept[IllegalStateException](Versioned.readAppendedSince(spark, dir, 0))
    // ...but reading since the REWRITE version is append-only again
    Versioned.append(Seq((1003L, "w", 4L)).toDF("doc_id", "lang", "n_chars"), dir)
    assert(Versioned.readAppendedSince(spark, dir, 3)
      .select("doc_id").head().getLong(0) === 1003L)
  }

  test("compact folds streamed small files into a new version; history and pruning survive") {
    import spark.implicits._
    import graft.streaming.TableStream
    val dir = freshDir()
    // five tiny streamed commits -> five versions of fragment files
    (0 until 5).foreach { b =>
      TableStream.commitBatch(
        (b * 20 until (b + 1) * 20).map(i => (i.toLong, s"l$i", i.toLong))
          .toDF("doc_id", "lang", "n_chars").repartition(4),
        dir, b.toLong)
    }
    val before = Versioned.read(spark, dir)
    val filesBefore = Versioned.snapshot(spark, dir).files.size
    assert(filesBefore >= 15, "streamed commits should have fragmented the table")

    val v = Versioned.compact(spark, dir, targetBytes = 8L << 20,
      clusterBy = Some("doc_id"))
    assert(v === 5)
    val after = Versioned.read(spark, dir)
    assert(after.exceptAll(before).unionAll(before.exceptAll(after)).count() === 0,
      "compaction must not change content")
    val snapC = Versioned.snapshot(spark, dir)
    assert(snapC.files.size < filesBefore / 3, "file count must collapse")
    // clusterBy refreshed manifest stats -> range pruning works post-compact
    assert(snapC.entries.forall(_.stats.exists(_._1 === "doc_id")))
    // pre-compact versions still readable (compaction is a commit, not a swap)
    assert(Versioned.read(spark, dir, Some(2)).count() === 60)
    // and vacuum reclaims the fragments once history ages out
    val vs = Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(vs.deletedFiles >= filesBefore.toLong,
      "every pre-compact fragment must be reclaimable")
    assert(Versioned.read(spark, dir).count() === 100)
  }

  test("vacuum keeps retained versions intact, reclaims the rest, and is idempotent") {
    import spark.implicits._
    val dir = freshDir()
    val d = docs3()
    Versioned.init(d, dir)
    Versioned.upsert(Seq((5L, "up", 1L)).toDF("doc_id", "lang", "n_chars"), dir, "doc_id")
    Versioned.append(Seq((3000L, "ap", 2L)).toDF("doc_id", "lang", "n_chars"), dir)
    val latestBefore = Versioned.read(spark, dir).collect().map(_.toSeq).toSet

    val s = Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(s.droppedVersions === Seq(0, 1))
    assert(s.deletedFiles > 0, "the rewritten v0 file must be reclaimed")

    // the retained version is untouched...
    assert(Versioned.versions(spark, dir) === Seq(2))
    assert(Versioned.read(spark, dir).collect().map(_.toSeq).toSet === latestBefore)
    // ...history is explicitly gone, with the TYPED retention error (a
    // reader must be able to tell "expired by policy" from a corrupt
    // table or a typo'd version — and must never see a raw
    // missing-parquet read error)
    val ret = intercept[Versioned.VersionRetentionException](
      Versioned.read(spark, dir, Some(0)))
    assert(ret.getMessage.contains("vacuum") &&
           ret.getMessage.contains("earliest retained"))
    // ...and disk holds exactly the retained manifest's files
    val onDisk = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSet
    }
    assert(onDisk === Versioned.snapshot(spark, dir).files.toSet)

    val s2 = Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(s2.deletedFiles === 0L && s2.droppedVersions.isEmpty, "vacuum is idempotent")
  }

  test("versionAtOrAfter matches versionAsOf's retention discipline on vacuumed history") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir) // v0
    Thread.sleep(5)
    Versioned.append(Seq((3000L, "a1", 1L)).toDF("doc_id", "lang", "n_chars"), dir) // v1
    Thread.sleep(5)
    Versioned.append(Seq((3001L, "a2", 2L)).toDF("doc_id", "lang", "n_chars"), dir) // v2
    def ts(v: Int) = Versioned.snapshot(spark, dir, Some(v)).meta("committedAt").toLong
    val (t0, t1, t2) = (ts(0), ts(1), ts(2))
    // full history: a pre-history probe legitimately anchors at v0
    // (nothing before the first commit can be missing)
    assert(Versioned.versionAtOrAfter(spark, dir, t0 - 60000L) === Some(0))
    assert(Versioned.versionAtOrAfter(spark, dir, t2 + 60000L) === None,
      "a future probe anchors nowhere — only future commits stream")

    Versioned.vacuum(spark, dir, keepVersions = 2) // drops v0; horizon at v1
    // a probe INSIDE retained history still resolves
    assert(Versioned.versionAtOrAfter(spark, dir, t2).contains(2))
    if (t1 > t0) {
      // a probe BEFORE the horizon would silently omit the vacuumed
      // commits a 'changes since t' replay owes — refuse typed, exactly
      // as the batch twin versionAsOf does for t inside vacuumed history
      val ex = intercept[Versioned.VersionRetentionException](
        Versioned.versionAtOrAfter(spark, dir, t0))
      assert(ex.getMessage.contains("vacuum"),
        s"expected the retention refusal, got: ${ex.getMessage}")
    }
  }

  test("detail's needs_compaction fires on small-file debt and compactIfNeeded clears it content-identically") {
    import spark.implicits._
    val dir = freshDir()
    // the streaming-sink debt profile: one tiny file per trigger —
    // 20 row-bearing commits of a handful of rows each
    Versioned.init(Seq((0L, "s", 0L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    (1 to 19).foreach { i =>
      Versioned.append(Seq((i.toLong, "s", i.toLong))
        .toDF("doc_id", "lang", "n_chars").repartition(1), dir)
    }
    def d() = Versioned.detail(spark, dir).head()
    val before = d()
    assert(before.getAs[Int]("num_files") === 20 &&
      before.getAs[Int]("dv_files") === 0)
    assert(before.getAs[Boolean]("needs_compaction"),
      "20 files averaging one row each are exactly the small-file debt " +
        "the nudge exists for — no deletion vector required")
    val content = Versioned.read(spark, dir)
      .select("doc_id", "lang", "n_chars").collect().toSet
    val ticked = Versioned.compactIfNeeded(spark, dir)
    assert(ticked.isDefined, "the maintenance tick must act on the nudge")
    val after = d()
    assert(after.getAs[Int]("num_files") === 1,
      "the tick must collapse the per-trigger files")
    assert(!after.getAs[Boolean]("needs_compaction"))
    assert(Versioned.read(spark, dir)
      .select("doc_id", "lang", "n_chars").collect().toSet === content,
      "the consolidation rewrite must be content-identical")
    // a healthy many-file table never trips the bar: more files than
    // the count threshold but target-sized ones (mean rows over the
    // floor) — the 100 TB corpus shape — stays un-nudged
    val healthy = freshDir()
    Versioned.init(
      spark.range(17L * (Versioned.SmallFileMeanRows + 1L))
        .select(col("id").as("doc_id")).repartition(17), healthy)
    val h = Versioned.detail(spark, healthy).head()
    assert(h.getAs[Int]("num_files") === 17 &&
      !h.getAs[Boolean]("needs_compaction"),
      "many target-sized files are a healthy corpus, not small-file debt")
  }

  test("compactIfNeeded preserves a z-ordered layout instead of silently demoting it") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    Versioned.compactZOrder(spark, dir, Seq("doc_id", "n_chars"), numRanges = 4)
    // per-trigger small appends pile small-file debt onto the clustered
    // table (the streaming-sink-into-a-z-ordered-table shape)
    (0 until 20).foreach { i =>
      Versioned.append(Seq((1000L + i, "s", i.toLong))
        .toDF("doc_id", "lang", "n_chars").repartition(1), dir)
    }
    val content = Versioned.read(spark, dir)
      .select("doc_id", "lang", "n_chars").collect().toSet
    assert(Versioned.detail(spark, dir).head().getAs[Boolean]("needs_compaction"))
    assert(Versioned.compactIfNeeded(spark, dir).isDefined)
    val after = Versioned.detail(spark, dir).head()
    assert(after.getAs[String]("zorder_dims") === "doc_id,n_chars",
      "the maintenance tick must re-cluster, not demote the z-order " +
        "layout a plain compact would drop")
    assert(after.getAs[Int]("num_files") < 10 &&
      !after.getAs[Boolean]("needs_compaction"),
      "the byte-sized range count folds the debt and converges")
    assert(Versioned.read(spark, dir)
      .select("doc_id", "lang", "n_chars").collect().toSet === content,
      "the re-clustering rewrite must be content-identical")
  }

  test("mergeIfNewer: newer applies, stale/tie keep current, inserts land, replay is a no-op") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir) // n_chars = i*7
    val delta = Seq(
      (0L, "up", 100L),   // strictly newer -> applies
      (1L, "xx", 0L),     // stale (7 > 0) -> current kept
      (2L, "tie", 14L),   // exact tie -> current wins
      (500L, "new", 7L)   // unmatched id -> insert
    ).toDF("doc_id", "lang", "n_chars")
    Versioned.mergeIfNewer(delta, dir, "doc_id", "n_chars")
    val latest = Versioned.read(spark, dir)
      .select("doc_id", "lang", "n_chars")
      .as[(Long, String, Long)].collect()
      .map { case (k, v2, v3) => k -> ((v2, v3)) }.toMap
    assert(latest(0L) === (("up", 100L)))
    assert(latest(1L) === (("lang1", 7L)), "stale delta must not clobber")
    assert(latest(2L) === (("lang2", 14L)), "tie keeps current")
    assert(latest(500L) === (("new", 7L)))
    assert(latest.size === 91)
    // v0 unchanged (time travel)
    assert(Versioned.read(spark, dir, Some(0)).count() === 90)
    // at-least-once replay: merging the SAME delta again changes nothing
    // (applied rows now TIE with themselves, and ties keep current)
    Versioned.mergeIfNewer(delta, dir, "doc_id", "n_chars")
    val again = Versioned.read(spark, dir).select("doc_id", "lang", "n_chars")
    val prev = Versioned.read(spark, dir, Some(1)).select("doc_id", "lang", "n_chars")
    assert(again.exceptAll(prev).unionAll(prev.exceptAll(again)).count() === 0,
      "replaying an applied delta must be a content no-op")
  }

  test("bloom skipping: sound, prunes a clustered layout, nulls never match, stats coexist") {
    import spark.implicits._
    val dir = freshDir()
    // 3 files, each holding exactly one lang; one row with a NULL lang
    val d = (0 until 90).map(i =>
        (i.toLong, if (i == 89) null else s"lang${i % 3}", (i * 7).toLong))
      .toDF("doc_id", "lang", "n_chars").repartition(3, col("lang"))
    Versioned.init(d, dir, statsCol = Some("doc_id"), bloomCol = Some("lang"))
    // soundness: bloom-pruned read == full-scan filter, for every lang
    for (l <- Seq("lang0", "lang1", "lang2")) {
      val got = Versioned.readEquals(spark, dir, None, "lang", l)
      val want = Versioned.read(spark, dir).filter(col("lang") === l)
      assert(got.exceptAll(want).unionAll(want.exceptAll(got)).count() === 0, l)
    }
    // pruning bound: a one-lang probe must not open every file
    val total = Versioned.snapshot(spark, dir).entries.size
    val opened = Versioned.filesForEquals(spark, dir, None, "lang", "lang0").size
    assert(opened < total, s"bloom pruned nothing: $opened of $total")
    // a value in NO file: the bloom may let an fpp file through, but
    // the RESULT must be empty (the exact predicate applies on top)
    assert(Versioned.readEquals(spark, dir, None, "lang", "nowhere").count() === 0)
    // a probe on a column with NO bloom reads everything (soundness)
    assert(Versioned.filesForEquals(spark, dir, None, "other", "x").size === total)
    // stats and bloom coexist on the same entries (both manifest-parsed)
    val e = Versioned.snapshot(spark, dir).entries
    assert(e.forall(_.stats.nonEmpty) && e.forall(_.bloom.nonEmpty))
    // null values never enter the bloom; the null row is invisible to
    // every equality probe (SQL equality semantics)
    val allProbed = Seq("lang0", "lang1", "lang2")
      .map(l => Versioned.readEquals(spark, dir, None, "lang", l).count()).sum
    assert(allProbed === 89L)
    // an upsert's rewritten files re-derive the snapshot's bloom column
    // (like stats) — equality skipping survives copy-on-write instead of
    // degrading to a full read until the next compact…
    Versioned.upsert(
      Seq((0L, "lang0", 999L)).toDF("doc_id", "lang", "n_chars"), dir, "doc_id")
    assert(Versioned.snapshot(spark, dir).entries.forall(_.bloom.nonEmpty),
      "copy-on-write must keep per-file blooms alive")
    val gotAfter = Versioned.readEquals(spark, dir, None, "lang", "lang0")
    val wantAfter = Versioned.read(spark, dir).filter(col("lang") === "lang0")
    assert(gotAfter.exceptAll(wantAfter).unionAll(wantAfter.exceptAll(gotAfter))
      .count() === 0)
    // …and compact rebuilds them too (the point where a clustered
    // layout makes them sharp again), probe result unchanged
    Versioned.compact(spark, dir, targetBytes = 4L << 10)
    assert(Versioned.snapshot(spark, dir).entries.forall(_.bloom.nonEmpty),
      "compact must rebuild blooms")
    val gotC = Versioned.readEquals(spark, dir, None, "lang", "lang0")
    assert(gotC.exceptAll(wantAfter).unionAll(wantAfter.exceptAll(gotC))
      .count() === 0)
  }

  test("mergeIfNewer's rewritten files keep stats AND bloom skipping alive") {
    import spark.implicits._
    val dir = freshDir()
    val d = (0 until 60).map(i => (i.toLong, s"lang${i % 3}", i.toLong, 100L + i))
      .toDF("doc_id", "lang", "n_chars", "ts")
      .repartitionByRange(3, col("lang"))
    Versioned.init(d, dir, statsCol = Some("doc_id"), bloomCol = Some("lang"))
    // newer delta contests id 0 (wins) — its file rewrites
    Versioned.mergeIfNewer(
      Seq((0L, "lang0", 999L, 500L)).toDF("doc_id", "lang", "n_chars", "ts"),
      dir, "doc_id", "ts")
    val e = Versioned.snapshot(spark, dir).entries
    assert(e.forall(_.stats.nonEmpty), "merge must re-derive stats")
    assert(e.forall(_.bloom.nonEmpty), "merge must re-derive blooms")
    // and the equality probe over the merged table is still exact
    val got = Versioned.readEquals(spark, dir, None, "lang", "lang0")
    val want = Versioned.read(spark, dir).filter(col("lang") === "lang0")
    assert(got.exceptAll(want).unionAll(want.exceptAll(got)).count() === 0)
  }

  test("two racing appends BOTH land with linearized versions") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(12), dir)
    val deltas = Seq(
      Seq((1000L, "aa", 1L)).toDF("doc_id", "lang", "n_chars"),
      Seq((2000L, "bb", 2L)).toDF("doc_id", "lang", "n_chars"))
    // genuine race: both writers start from the same committed snapshot;
    // the rename loser must rebase (append removes nothing, so the retry
    // republishes winner.entries ++ its own new files)
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = deltas.map(delta => pool.submit(
        new java.util.concurrent.Callable[Int] {
          def call(): Int = { gate.await(); Versioned.append(delta, dir) }
        }))
      val versionsGot = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(versionsGot.toSet === Set(1, 2), s"got $versionsGot")
    } finally pool.shutdown()
    val latest = Versioned.read(spark, dir)
    assert(latest.count() === 14)
    assert(latest.filter(col("doc_id") >= 1000L).count() === 2,
      "both racing appends' rows must be present in the final version")
    assert(Versioned.versions(spark, dir) === Seq(0, 1, 2))
  }

  test("racing copy-on-write: file-overlapping loser refuses with the typed conflict") {
    import spark.implicits._
    // single-file table => both upserts touch THE file => the rename
    // loser's base file is gone from the winner's snapshot => it must
    // refuse (typed), never publish survivors computed from stale data
    val dir = freshDir()
    Versioned.init(docs3(10).coalesce(1), dir)
    val deltas = Seq(
      Seq((1L, "xx", 111L)).toDF("doc_id", "lang", "n_chars"),
      Seq((2L, "yy", 222L)).toDF("doc_id", "lang", "n_chars"))
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val outcomes = try {
      val fs = deltas.map(delta => pool.submit(
        new java.util.concurrent.Callable[Either[Throwable, Int]] {
          def call(): Either[Throwable, Int] = {
            gate.await()
            try Right(Versioned.upsert(delta, dir, "doc_id"))
            catch { case e: Throwable => Left(e) }
          }
        }))
      fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdown()
    val failures = outcomes.collect { case Left(e) => e }
    // either the race interleaved (exactly one typed refusal) or the OS
    // serialized the writers (both land) — both worlds must be CONSISTENT
    failures.foreach(e => assert(
      e.isInstanceOf[Versioned.ConcurrentWriteConflictException],
      s"expected the typed conflict, got $e"))
    assert(failures.size <= 1)
    val latest = Versioned.read(spark, dir)
    assert(latest.count() === 10, "no duplicate or lost rows after the race")
    val applied = latest.filter(col("lang").isin("xx", "yy")).count()
    assert(applied === (2 - failures.size),
      "exactly the successful writers' updates must be visible")
  }

  test("cowRebase: append interleaves rebase iff id-disjoint; rewrites refuse") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(10).coalesce(1), dir)
    val base = Versioned.snapshot(spark, dir)
    // interleaved PURE APPEND of ids 100..101 lands after base
    Versioned.append(
      Seq((100L, "zz", 1L), (101L, "zz", 2L)).toDF("doc_id", "lang", "n_chars"), dir)
    val latest = Versioned.snapshot(spark, dir)
    val touched = Set(base.files.head)
    val myEntries = Seq(Versioned.FileEntry("/my/rewritten/part.parquet"))
    val schemaOf = (s: Versioned.Snapshot) =>
      s.schema.getOrElse(docs3(1).schema)
    def rebase(ids: Seq[Long]) = Versioned.cowRebase(
      spark, base, touched, myEntries,
      ids.toDF("doc_id"), "doc_id", schemaOf)(latest)
    // id-disjoint from the appended rows -> rebases: carries the
    // winner's appended file, drops my touched file, adds my rewrite
    val ok = rebase(Seq(3L))
    assert(ok.nonEmpty)
    val paths = ok.get._1.map(_.path)
    assert(!paths.contains(base.files.head) &&
      paths.contains("/my/rewritten/part.parquet") &&
      latest.files.filterNot(base.files.toSet).forall(paths.contains))
    // delta id present IN the appended rows -> duplicate risk -> refuse
    assert(rebase(Seq(100L)).isEmpty)
    // interleaved commit REWROTE a file I read -> refuse
    val rewrittenBase = Versioned.Snapshot(base.version, base.entries ++
      Seq(Versioned.FileEntry("/vanished/part.parquet")), base.meta)
    assert(Versioned.cowRebase(spark, rewrittenBase, touched, myEntries,
      Seq(3L).toDF("doc_id"), "doc_id", schemaOf)(latest).isEmpty)
  }

  // grid-shaped table for the multi-dim layout tests: two independent
  // uniform dims, so both axis probes have pruning to prove
  private def grid(n: Int = 400) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, (i % 20).toLong, (i / 20).toLong))
      .toDF("id", "a", "b").repartition(8)
  }

  test("latest pointer: O(1) resolution without listing; stale/corrupt/absent degrade safely") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init((0 until 20).map(i => (i.toLong, i.toLong)).toDF("doc_id", "x"), dir)
    (1 to 5).foreach(i =>
      Versioned.append(Seq((100L + i, i.toLong)).toDF("doc_id", "x"), dir))
    val ptr = new org.apache.hadoop.fs.Path(s"$dir/_manifests/_latest")
    val f = ptr.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(ptr), "commits must maintain the _latest pointer")
    // healthy pointer: latest AND pinned resolution never run the
    // O(#versions) directory listing — the 100 TB hot path
    val before = Versioned.listingCalls.get()
    assert(Versioned.snapshot(spark, dir).version === 5)
    assert(Versioned.snapshot(spark, dir, Some(3)).version === 3)
    assert(Versioned.read(spark, dir).count() === 25)
    assert(Versioned.listingCalls.get() === before,
      "healthy snapshot resolution must not list the manifest directory")
    def writePointer(txt: String): Unit = {
      val out = f.create(ptr, true)
      try out.write(txt.getBytes("UTF-8")) finally out.close()
    }
    // REGRESSED pointer (a racing committer lost the advisory pointer
    // write): the forward probe still finds the true latest, no listing
    writePointer("2\n")
    assert(Versioned.snapshot(spark, dir).version === 5)
    assert(Versioned.listingCalls.get() === before,
      "stale-pointer recovery is forward probing, not a listing")
    // CORRUPT pointer: falls back to the listing, still correct
    writePointer("not-a-version")
    assert(Versioned.snapshot(spark, dir).version === 5)
    // ABSENT pointer (pre-pointer table): same fallback
    f.delete(ptr, false)
    assert(Versioned.snapshot(spark, dir).version === 5)
    // the next commit heals the pointer
    Versioned.append(Seq((200L, 9L)).toDF("doc_id", "x"), dir)
    assert(Versioned.snapshot(spark, dir).version === 6)
    assert(f.exists(ptr))
    val after = Versioned.listingCalls.get()
    assert(Versioned.snapshot(spark, dir).version === 6)
    assert(Versioned.listingCalls.get() === after, "healed pointer serves O(1) again")
    // retention semantics unchanged: a vacuumed version still raises typed
    Versioned.vacuum(spark, dir, keepVersions = 2)
    intercept[Versioned.VersionRetentionException] {
      Versioned.snapshot(spark, dir, Some(0))
    }
    assert(Versioned.snapshot(spark, dir).version === 6)
  }

  test("compactZOrder: readBox == full filter, prunes files, history intact") {
    val dir = freshDir()
    val d = grid()
    Versioned.init(d, dir)
    assert(Versioned.compactZOrder(spark, dir, Seq("a", "b"),
      numRanges = 16) === 1)
    // committed schema hides the scaffolding column
    assert(Versioned.read(spark, dir).columns.toSeq === Seq("id", "a", "b"))
    // content identical to v0 (layout is pure)
    val latest = Versioned.read(spark, dir)
    assert(latest.exceptAll(d).unionAll(d.exceptAll(latest)).count() === 0)
    // a 2-dim box through the manifest z-range equals the plain filter
    val got = Versioned.readBox(spark, dir, None,
      Seq(("a", 2.0, 5.0), ("b", 3.0, 7.0)))
    val want = latest.filter(col("a").between(2, 5) && col("b").between(3, 7))
    assert(got.exceptAll(want).unionAll(want.exceptAll(got)).count() === 0)
    // ...and actually opens fewer files than the table holds
    val total = Versioned.snapshot(spark, dir).files.size
    val opened = Versioned.filesForRange(spark, dir, None, "__z",
      0L, Long.MaxValue).size // sanity: all carry __z stats
    assert(opened === total)
    val zEntries = Versioned.snapshot(spark, dir).entries
    assert(zEntries.forall(_.stats.exists(_._1 == "__z")))
    val boxFiles = {
      // count via the pruned plan's inputFiles
      Versioned.readBox(spark, dir, None,
        Seq(("a", 2.0, 5.0), ("b", 3.0, 7.0))).inputFiles.length
    }
    assert(boxFiles < total,
      s"z-order box read must prune: opened $boxFiles of $total")
    // a one-dim probe on EITHER clustered dim also prunes
    val aOnly = Versioned.readBox(spark, dir, None, Seq(("a", 0.0, 1.0)))
    val aWant = latest.filter(col("a").between(0, 1))
    assert(aOnly.exceptAll(aWant).unionAll(aWant.exceptAll(aOnly)).count() === 0)
    // time travel to the pre-zorder version still works
    val v0 = Versioned.read(spark, dir, Some(0))
    assert(v0.exceptAll(d).unionAll(d.exceptAll(v0)).count() === 0)
    // a box on an un-clustered column degrades to a full filtered read
    val idBox = Versioned.readBox(spark, dir, None, Seq(("id", 10.0, 20.0)))
    assert(idBox.count() === 11)
  }

  test("COW after a z-order commit degrades stats gracefully, never fails") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(grid(100), dir)
    Versioned.compactZOrder(spark, dir, Seq("a", "b"), numRanges = 4)
    // upsert can't materialize __z — its rewritten file must commit
    // WITHOUT stats (always read), not crash
    Versioned.upsert(Seq((5L, 99L, 99L)).toDF("id", "a", "b"), dir, "id")
    val latest = Versioned.read(spark, dir)
    assert(latest.filter(col("id") === 5L).head().getAs[Long]("a") === 99L)
    // the box read still returns exact results (pruning is weaker, the
    // stats-less file is always read — soundness over sharpness)
    val got = Versioned.readBox(spark, dir, None,
      Seq(("a", 90.0, 100.0), ("b", 90.0, 100.0)))
    assert(got.count() === 1)
    // the LAYOUT metadata survives the mutation: untouched clustered
    // files keep pruning through their manifest z-ranges (only the
    // rewritten stats-less file is unconditionally read)
    val pruning = Versioned.boxFilePruning(spark, dir, None,
      Seq(("a", 90.0, 100.0), ("b", 90.0, 100.0)))
    assert(pruning.isDefined,
      "zorder metadata must survive copy-on-write, not silently drop")
  }

  test("compactZOrderIncremental: clusters only the tail, pruning spans old and new") {
    import spark.implicits._
    val dir = freshDir()
    val d = grid()
    Versioned.init(d, dir)
    Versioned.compactZOrder(spark, dir, Seq("a", "b"), numRanges = 8)
    val clustered = Versioned.snapshot(spark, dir)
    // ingest a tail (same grid shape, shifted ids) as two plain appends
    val tail = (1000 until 1200).map(i =>
        (i.toLong, (i % 20).toLong, ((i - 1000) / 20).toLong))
      .toDF("id", "a", "b")
    Versioned.append(tail.filter(col("id") < 1100L).repartition(2), dir)
    Versioned.append(tail.filter(col("id") >= 1100L).repartition(2), dir)
    // appends carried the zorder metadata (the append-side half of the
    // carry-through contract)
    assert(Versioned.snapshot(spark, dir).meta.contains("zorder.dims"))
    val v = Versioned.compactZOrderIncremental(spark, dir, numRanges = 4)
    assert(v === Versioned.versions(spark, dir).max)
    val snap = Versioned.snapshot(spark, dir)
    // every clustered file from the ORIGINAL commit carried by reference
    val clusteredPaths = clustered.entries.map(_.path).toSet
    assert(clusteredPaths.subsetOf(snap.files.toSet),
      "incremental clustering must not rewrite already-clustered files")
    // and now EVERY file carries __z stats (the tail got clustered)
    assert(snap.entries.forall(_.stats.exists(_._1 == "__z")))
    // content identical to init ∪ tail (layout is pure)
    val want = d.unionByName(tail)
    val latest = Versioned.read(spark, dir)
    assert(latest.exceptAll(want).unionAll(want.exceptAll(latest)).count() === 0)
    // a box read returns exactly the plain filter, over old AND new rows
    val got = Versioned.readBox(spark, dir, None,
      Seq(("a", 2.0, 5.0), ("b", 3.0, 7.0)))
    val wantBox = want.filter(col("a").between(2, 5) && col("b").between(3, 7))
    assert(got.exceptAll(wantBox).unionAll(wantBox.exceptAll(got)).count() === 0)
    // ...and still prunes
    assert(got.inputFiles.length < snap.files.size)
    // already-clustered table: a second incremental run is a no-op
    assert(Versioned.compactZOrderIncremental(spark, dir) === v)
    // a table with no z-order commit refuses typed
    val bare = freshDir()
    Versioned.init(grid(40), bare)
    intercept[IllegalStateException] {
      Versioned.compactZOrderIncremental(spark, bare)
    }
  }

  test("incremental z-order: out-of-range tail rows clamp to edge buckets, never pruned away") {
    // regression: zValueK's bucket used to clamp only the UPPER bound;
    // a tail row BELOW a dimension's recorded min got a negative bucket
    // whose sign-extended bits Morton-interleaved into a garbage-large
    // __z — the file's stats box then sat disjoint from the probe's
    // (both-sides-clamped) [zLo, zHi] and readBox silently DROPPED the
    // rows. Both sides now clamp, so late out-of-range values land in
    // the edge buckets and pruning stays sound.
    import spark.implicits._
    val dir = freshDir()
    val d = grid() // a ∈ [0,19], b ∈ [0,19] — these become the recorded stats
    Versioned.init(d, dir)
    Versioned.compactZOrder(spark, dir, Seq("a", "b"), numRanges = 8)
    // tail entirely BELOW the recorded min on a (and one row above max on b)
    val tail = Seq((2000L, -5L, 3L), (2001L, -3L, 7L), (2002L, 4L, 99L))
      .toDF("id", "a", "b")
    Versioned.append(tail.repartition(1), dir)
    Versioned.compactZOrderIncremental(spark, dir, numRanges = 1)
    val snap = Versioned.snapshot(spark, dir)
    assert(snap.entries.forall(_.stats.exists(_._1 == "__z")))
    // a probe whose box covers the below-min values must return them:
    // driver-side bucketOf clamps the probe to bucket 0, Spark-side
    // bucketization clamps the data rows to bucket 0 — they MEET
    val below = Versioned.readBox(spark, dir, None,
      Seq(("a", -10.0, -1.0), ("b", 0.0, 10.0)))
    assert(below.select("id").as[Long].collect().sorted.toSeq === Seq(2000L, 2001L))
    // a box straddling the recorded min also sees both sides
    val straddle = Versioned.readBox(spark, dir, None,
      Seq(("a", -10.0, 5.0), ("b", 3.0, 3.0)))
    val wantStraddle = d.unionByName(tail)
      .filter(col("a").between(-10, 5) && col("b") === 3)
    assert(straddle.exceptAll(wantStraddle)
      .unionAll(wantStraddle.exceptAll(straddle)).count() === 0)
    // above-max on b clamps to the top bucket and is likewise served
    val above = Versioned.readBox(spark, dir, None,
      Seq(("a", 0.0, 19.0), ("b", 50.0, 200.0)))
    assert(above.select("id").as[Long].collect().toSeq === Seq(2002L))
  }

  test("zOrderDrift observes edge clamping; rebucketize restores sharp pruning") {
    import spark.implicits._
    val dir = freshDir()
    val d = grid() // a ∈ [0,19], b ∈ [0,19]
    Versioned.init(d, dir)
    Versioned.compactZOrder(spark, dir, Seq("a", "b"), numRanges = 8)
    // fully clustered: drift is observable and zero
    val clean = Versioned.zOrderDrift(spark, dir).get
    assert(clean.tailRows === 0L && clean.clampedRows === 0L)
    // a table with no z-order commit has nothing to audit
    val bare = freshDir()
    Versioned.init(grid(40), bare)
    assert(Versioned.zOrderDrift(spark, bare).isEmpty)
    intercept[IllegalStateException] { Versioned.rebucketize(spark, bare) }
    // planted drift: a tail entirely below the recorded min on a
    val tail = (0 until 20).map(i => (3000L + i, -100L + i, (i % 20).toLong))
      .toDF("id", "a", "b")
    Versioned.append(tail.repartition(1), dir)
    val drift = Versioned.zOrderDrift(spark, dir).get
    assert(drift.tailRows === 20L && drift.clampedRows === 20L)
    assert(drift.perDim.find(_._1 == "a").get._2 === 20L, "all below min on a")
    assert(drift.perDim.find(_._1 == "a").get._3 === 0L)
    assert(drift.clampFraction > 0.25, "past the warn threshold")
    // the incremental pass (which logs the warning) stays SOUND: the
    // clamped tail still serves through readBox
    Versioned.compactZOrderIncremental(spark, dir, numRanges = 1)
    val served = Versioned.readBox(spark, dir, None,
      Seq(("a", -100.0, -90.0), ("b", 0.0, 19.0)))
    assert(served.count() === 11)
    // rebucketize: full re-cluster with FRESH stats — the recorded min
    // now covers the drifted range, drift resets, pruning sharpens
    Versioned.rebucketize(spark, dir, numRanges = 8)
    val snap = Versioned.snapshot(spark, dir)
    val st = snap.meta("zorder.stats").split(',').map(_.toDouble)
    assert(st(0) === -100.0, s"fresh stats must cover the drifted tail: ${st.toSeq}")
    val healed = Versioned.zOrderDrift(spark, dir).get
    assert(healed.tailRows === 0L && healed.clampedRows === 0L)
    // content identical through the whole cycle
    val want = d.unionByName(tail)
    val latest = Versioned.read(spark, dir)
    assert(latest.exceptAll(want).unionAll(want.exceptAll(latest)).count() === 0)
    // and the re-derived layout prunes on the NEW domain: an edge probe
    // in the drifted region no longer reads the whole table
    val probe = Versioned.readBox(spark, dir, None,
      Seq(("a", -100.0, -95.0), ("b", 0.0, 5.0)))
    assert(probe.count() === 6)
    assert(probe.inputFiles.length < snap.files.size,
      "rebucketized layout must prune edge probes again")
  }

  test("streamed ingest then incremental z-order: metadata carries, exactly-once holds") {
    // the full production loop composed: OPTIMIZE ZORDER once, stream
    // micro-batches in (exactly-once commits), incremental-cluster the
    // tail after the burst — the layout metadata and the stream's batch
    // high-water mark must BOTH survive every commit in the chain
    import spark.implicits._
    import graft.streaming.TableStream
    val dir = freshDir()
    val d = grid()
    Versioned.init(d, dir)
    Versioned.compactZOrder(spark, dir, Seq("a", "b"), numRanges = 8)
    val clustered = Versioned.snapshot(spark, dir).files.toSet
    val tail = (1000 until 1160).map(i =>
        (i.toLong, (i % 20).toLong, ((i - 1000) / 20).toLong))
      .toDF("id", "a", "b")
    assert(TableStream.commitBatch(tail.filter(col("id") < 1080L), dir, 0L).nonEmpty)
    assert(TableStream.commitBatch(tail.filter(col("id") >= 1080L), dir, 1L).nonEmpty)
    // stream commits carried the layout metadata and stamped their ids
    assert(Versioned.snapshot(spark, dir).meta.contains("zorder.dims"))
    assert(Versioned.lastBatchId(spark, dir) === Some(1L))
    Versioned.compactZOrderIncremental(spark, dir, numRanges = 4)
    val snap = Versioned.snapshot(spark, dir)
    assert(clustered.subsetOf(snap.files.toSet),
      "maintenance must not rewrite the already-clustered head")
    assert(snap.entries.forall(_.stats.exists(_._1 == "__z")))
    // exactly-once survives the maintenance commit: replaying batch 1
    // is still a content no-op
    assert(TableStream.commitBatch(tail.filter(col("id") >= 1080L), dir, 1L) === None)
    // box read exact + pruned over init ∪ streamed tail
    val want = d.unionByName(tail)
    val got = Versioned.readBox(spark, dir, None,
      Seq(("a", 2.0, 5.0), ("b", 3.0, 7.0)))
    val wantBox = want.filter(col("a").between(2, 5) && col("b").between(3, 7))
    assert(got.exceptAll(wantBox).unionAll(wantBox.exceptAll(got)).count() === 0)
    assert(got.inputFiles.length < snap.files.size)
    // incremental clustering also HEALS copy-on-write damage: a COW
    // rewrite commits its file without __z stats (always-read), and the
    // next incremental pass picks exactly that file up and re-clusters
    // it — the table converges back to fully-z-ranged without ever
    // paying a full rewrite
    Versioned.upsert(Seq((7L, 99L, 99L)).toDF("id", "a", "b"), dir, "id")
    assert(Versioned.snapshot(spark, dir).entries
      .exists(!_.stats.exists(_._1 == "__z")), "COW must leave a stats-less file")
    Versioned.compactZOrderIncremental(spark, dir, numRanges = 2)
    val healed = Versioned.snapshot(spark, dir)
    assert(healed.entries.forall(_.stats.exists(_._1 == "__z")),
      "incremental pass must re-cluster the COW-rewritten file")
    val afterHeal = Versioned.read(spark, dir)
    assert(afterHeal.filter(col("id") === 7L).head().getAs[Long]("a") === 99L)
    assert(afterHeal.count() === want.count())
  }

  test("replacePartitions: disjoint-key racers BOTH land; overlap refuses typed") {
    import spark.implicits._
    val dir = freshDir()
    val d = (0 until 40).map(i => (i.toLong, (i % 4).toLong))
      .toDF("id", "part")
    Versioned.init(d.repartitionByRange(4, col("part"), col("id"))
      .sortWithinPartitions("part"), dir, statsCol = Some("part"))
    def rewritePart(k: Long, tag: Long): Int = {
      val base = Versioned.snapshot(spark, dir)
      val rows = Versioned.read(spark, dir, Some(base.version))
        .filter(col("part") === k)
        .withColumn("id", col("id") + tag)
      Versioned.replacePartitions(rows.repartition(1), dir, "part", Seq(k), base)
    }
    // race two writers on DISJOINT partitions — both must land
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq((0L, 1000L), (3L, 2000L)).map { case (k, tag) =>
        pool.submit(new java.util.concurrent.Callable[Int] {
          def call(): Int = { gate.await(); rewritePart(k, tag) }
        })
      }
      val got = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(got.toSet === Set(1, 2), s"got $got")
    } finally pool.shutdown()
    val latest = Versioned.read(spark, dir)
    assert(latest.count() === 40)
    assert(latest.filter(col("id") >= 1000L && col("id") < 2000L).count() === 10)
    assert(latest.filter(col("id") >= 2000L).count() === 10)
    // now race two writers on the SAME partition — exactly one may land;
    // a loser must refuse typed (its survivors are stale)
    val gate2 = new java.util.concurrent.CyclicBarrier(2)
    val pool2 = java.util.concurrent.Executors.newFixedThreadPool(2)
    val outcomes = try {
      val fs = Seq(10000L, 20000L).map { tag =>
        pool2.submit(new java.util.concurrent.Callable[Either[Throwable, Int]] {
          def call(): Either[Throwable, Int] = {
            gate2.await()
            try Right(rewritePart(1L, tag))
            catch { case e: Throwable => Left(e) }
          }
        })
      }
      fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool2.shutdown()
    outcomes.collect { case Left(e) => e }.foreach(e => assert(
      e.isInstanceOf[Versioned.ConcurrentWriteConflictException],
      s"expected the typed conflict, got $e"))
    assert(Versioned.read(spark, dir).count() === 40,
      "no duplicate or lost rows after the overlapping race")
    // interleaved append INTO a writer's partition is also a conflict:
    // rewrite computed against v_base must refuse once new part=2 rows land
    val base = Versioned.snapshot(spark, dir)
    val myRows = Versioned.read(spark, dir, Some(base.version))
      .filter(col("part") === 2L).localCheckpoint(true)
    Versioned.append(Seq((777L, 2L)).toDF("id", "part")
      .repartition(1), dir, statsCol = Some("part"))
    def dataDirs() = new java.io.File(s"$dir/data").listFiles().count(_.isDirectory)
    val dirsBefore = dataDirs()
    intercept[Versioned.ConcurrentWriteConflictException] {
      // the append above landed between this writer's pinned read and
      // its commit, INSIDE its touched partition — must refuse typed
      Versioned.replacePartitions(myRows.repartition(1), dir, "part",
        Seq(2L), base)
    }
    assert(dataDirs() === dirsBefore, "a refused commit must discard its data files")
  }

  private def manifestLinesOf(dir: String, v: Int): Seq[String] = {
    val f = new java.io.File(s"$dir/_manifests/v${"%05d".format(v)}.manifest")
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).toList finally src.close()
  }
  private def isDelta(dir: String, v: Int): Boolean =
    manifestLinesOf(dir, v).exists(_.startsWith("#base="))

  test("delta manifests: commits write O(delta), snapshots reconstruct exactly, checkpoints force full") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir) // v0: always full
    assert(!isDelta(dir, 0))
    val fullSize0 = Versioned.snapshot(spark, dir).files.size
    assert(fullSize0 >= 4)

    // appends v1..v7 each add ONE data file; their manifests must be
    // deltas carrying that one entry line, not the whole live list
    (1 to 7).foreach { i =>
      Versioned.append(
        Seq((5000L + i, s"d$i", i.toLong)).toDF("doc_id", "lang", "n_chars")
          .repartition(1), dir)
      val lines = manifestLinesOf(dir, i)
      assert(lines.exists(_ == s"#base=${i - 1}"), s"v$i should be a delta")
      val entryLines = lines.filterNot(l => l.startsWith("#") || l.startsWith("-\t"))
      assert(entryLines.size === 1,
        s"append delta must carry ONE added entry, got ${entryLines.size} at v$i")
      assert(!lines.exists(_.startsWith("-\t")), "append removes nothing")
    }
    // v8 = CheckpointEvery → forced FULL even though base was available
    Versioned.append(Seq((6000L, "ck", 8L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    assert(!isDelta(dir, 8), "every CheckpointEvery-th commit must be full")
    assert(manifestLinesOf(dir, 8).count(l => !l.startsWith("#")) === fullSize0 + 8)

    // a COW upsert produces removals + adds in its delta
    Versioned.upsert(Seq((5001L, "up", 99L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    val cowLines = manifestLinesOf(dir, 9)
    assert(cowLines.exists(_ == "#base=8"))
    assert(cowLines.count(_.startsWith("-\t")) >= 1, "rewritten file must be removed")

    // reconstruction is exact at EVERY version: entries match what a
    // full read of the chain yields, and content round-trips
    val latest = Versioned.read(spark, dir)
    assert(latest.count() === 90 + 8) // 7 delta appends + the v8 checkpoint append; v9 upsert replaces
    assert(latest.filter(col("doc_id") === 5001L).head().getAs[String]("lang") === "up")
    (0 to 9).foreach { v =>
      assert(Versioned.read(spark, dir, Some(v)).count() === 90 + math.min(v, 8),
        s"version $v row count")
    }
    // meta (schema and friends) resolves from the TOP manifest alone and
    // never leaks the physical `base` key into Snapshot.meta
    val snap = Versioned.snapshot(spark, dir)
    assert(!snap.meta.contains("base"))
    assert(snap.schema.isDefined)
  }

  test("schema widening: int->long / float->double promote losslessly, old files cast on read, lossy refuses") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = freshDir()
    val v0 = Seq((1L, 10, 1.5f), (2L, 20, 2.5f))
      .toDF("doc_id", "cnt", "score").repartition(2)
    Versioned.init(v0, dir)
    assert(Versioned.read(spark, dir).schema("cnt").dataType === IntegerType)

    // a WIDE delta promotes the committed column types; values past the
    // int range land intact and the OLD int32/float files keep reading
    // (parquet cast-on-read — zero data rewritten)
    val wide = Seq((3L, 5000000000L, 9.25)).toDF("doc_id", "cnt", "score")
    Versioned.append(wide, dir)
    val r1 = Versioned.read(spark, dir)
    assert(r1.schema("cnt").dataType === LongType)
    assert(r1.schema("score").dataType === DoubleType)
    assert(r1.agg(sum("cnt")).head().getLong(0) === 5000000030L)
    assert(math.abs(r1.agg(sum("score")).head().getDouble(0) - 13.25) < 1e-6)

    // a NARROW delta after the promotion still lands, reading under the
    // committed wide type
    Versioned.append(Seq((4L, 7, 0.5f)).toDF("doc_id", "cnt", "score"), dir)
    val r2 = Versioned.read(spark, dir)
    assert(r2.schema("cnt").dataType === LongType)
    assert(r2.count() === 4 && r2.agg(sum("cnt")).head().getLong(0) === 5000000037L)

    // time travel sees v0 under its ORIGINAL narrow schema
    assert(Versioned.read(spark, dir, Some(0)).schema("cnt").dataType === IntegerType)

    // lossy/shape changes still refuse typed
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((5L, "not-a-number", 1.0))
        .toDF("doc_id", "cnt", "score"), dir)
    }

    // and the widened table still upserts copy-on-write: the union path
    // coerces, untouched int32 files carry by reference
    Versioned.upsert(Seq((1L, 100, 1.0f)).toDF("doc_id", "cnt", "score"),
      dir, "doc_id")
    val r3 = Versioned.read(spark, dir)
    assert(r3.schema("cnt").dataType === LongType)
    assert(r3.filter(col("doc_id") === 1L).head().getLong(1) === 100L)
  }

  test("renameColumn: metadata-only commit, incremental writes stay physical, pruning and time travel survive") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir, statsCol = Some("doc_id"), bloomCol = Some("lang"))
    val s0 = Versioned.snapshot(spark, dir)

    // the rename rewrites ZERO data: identical file list, new logical name
    Versioned.renameColumn(spark, dir, "n_chars", "len")
    val s1 = Versioned.snapshot(spark, dir)
    assert(s1.files === s0.files, "rename must carry every file by reference")
    val r1 = Versioned.read(spark, dir)
    assert(r1.columns.toSeq === Seq("doc_id", "lang", "len"))
    assert(r1.agg(sum("len")).head().getLong(0) ===
      (0 until 90).map(_ * 7L).sum)
    // time travel sees the version's OWN name
    assert(Versioned.read(spark, dir, Some(0)).columns.contains("n_chars"))

    // appends after the rename arrive LOGICAL, persist PHYSICAL: the new
    // file stores 'n_chars' on disk so one read schema covers the table
    Versioned.append(Seq((7000L, "ap", 42L)).toDF("doc_id", "lang", "len")
      .repartition(1), dir)
    val newFile = Versioned.snapshot(spark, dir).files
      .filterNot(s1.files.toSet).head
    assert(spark.read.parquet(newFile).columns.contains("n_chars"),
      "incremental writes must keep the physical baseline name")
    assert(Versioned.read(spark, dir).filter(col("doc_id") === 7000L)
      .head().getAs[Long]("len") === 42L)

    // stats/bloom pruning answer probes by the LOGICAL name
    val keepRange = Versioned.filesForRange(spark, dir, None, "doc_id", 0L, 5L)
    assert(keepRange.size < Versioned.snapshot(spark, dir).files.size)
    assert(Versioned.readRange(spark, dir, None, "doc_id", 0L, 5L).count() === 6)
    assert(Versioned.readEquals(spark, dir, None, "lang", "ap").count() === 1)

    // copy-on-write through the rename: upsert on the logical view
    Versioned.upsert(Seq((3L, "up", 999L)).toDF("doc_id", "lang", "len"),
      dir, "doc_id")
    assert(Versioned.read(spark, dir).filter(col("doc_id") === 3L)
      .head().getAs[Long]("len") === 999L)

    // the retired name is blocked for NEW columns until a re-baseline
    intercept[IllegalArgumentException] {
      Versioned.append(Seq((8000L, "x", 1L, 5L))
        .toDF("doc_id", "lang", "len", "n_chars").repartition(1), dir)
    }

    // compact re-baselines: rewritten files store the logical name and
    // the retired name frees up
    Versioned.compact(spark, dir, targetBytes = 64L << 20)
    val cFile = Versioned.snapshot(spark, dir).files.head
    assert(spark.read.parquet(cFile).columns.contains("len"))
    assert(!Versioned.snapshot(spark, dir).meta.contains("colmap"))
    Versioned.append(Seq((8000L, "x", 1L, 5L))
      .toDF("doc_id", "lang", "len", "n_chars").repartition(1), dir)
    assert(Versioned.read(spark, dir).columns.toSeq ===
      Seq("doc_id", "lang", "len", "n_chars"))

    // rename guards: unknown source, existing target
    intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, dir, "nope", "x"))
    intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, dir, "len", "lang"))
  }

  test("renameColumn over a z-ordered layout: box probes by the new name keep pruning; heal works") {
    import spark.implicits._
    val dir = freshDir()
    val ev = (0 until 4000).map(i =>
      (i.toLong, (i % 50).toLong, (i * 13 % 1000).toLong))
      .toDF("event_id", "user_id", "val").repartition(8)
    Versioned.init(ev, dir)
    Versioned.compactZOrder(spark, dir, Seq("user_id", "val"), numRanges = 8)
    Versioned.renameColumn(spark, dir, "user_id", "uid")
    // probe by the NEW logical name: prunes files AND returns exact rows
    val pruned = Versioned.boxFilePruning(spark, dir, None,
      Seq(("uid", 10.0, 14.0), ("val", 0.0, 200.0))).get
    assert(pruned._1.size > 0 && pruned._1.size < pruned._2)
    val got = Versioned.readBox(spark, dir, None,
      Seq(("uid", 10.0, 14.0), ("val", 0.0, 200.0)))
    val want = ev.filter(col("user_id").between(10, 14) && col("val").between(0, 200))
    assert(got.count() === want.count() && got.count() > 0)
    // incremental maintenance and the full heal both run through the map
    Versioned.append(ev.filter(col("event_id") < 100).select(
      (col("event_id") + 10000L).as("event_id"), col("user_id").as("uid"),
      col("val")).repartition(2), dir)
    Versioned.compactZOrderIncremental(spark, dir, numRanges = 4)
    assert(Versioned.snapshot(spark, dir).entries.forall(_.stats.exists(_._1 == "__z")))
    Versioned.rebucketize(spark, dir, numRanges = 8)
    val healed = Versioned.boxFilePruning(spark, dir, None,
      Seq(("uid", 10.0, 14.0), ("val", 0.0, 200.0))).get
    assert(healed._1.size > 0 && healed._1.size < healed._2)
    assert(Versioned.read(spark, dir).count() === 4100)
  }

  test("merge-on-read delete: O(ids) commit, reads mask, re-adds retract, compact applies-and-drops") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    val s0 = Versioned.snapshot(spark, dir)

    // the MoR delete carries EVERY data file by reference
    Versioned.deleteIdsMergeOnRead(Seq(3L, 7L, 11L).toDF("doc_id"), dir, "doc_id")
    val s1 = Versioned.snapshot(spark, dir)
    assert(s1.files === s0.files, "MoR delete must rewrite zero data files")
    assert(s1.dvFiles.nonEmpty && s1.dvCol.contains("doc_id"))
    val r1 = Versioned.read(spark, dir)
    assert(r1.count() === 87)
    assert(r1.filter(col("doc_id").isin(3L, 7L, 11L)).count() === 0)
    // masking applies through EVERY pruned read path too
    assert(Versioned.readRange(spark, dir, None, "doc_id", 0L, 20L).count() === 18)
    // time travel: v0 still serves the deleted rows
    assert(Versioned.read(spark, dir, Some(0)).count() === 90)

    // successive MoR deletes accumulate; mismatched id column refuses
    Versioned.deleteIdsMergeOnRead(Seq(20L).toDF("doc_id"), dir, "doc_id")
    assert(Versioned.read(spark, dir).count() === 86)
    assert(Versioned.snapshot(spark, dir).dvFiles.size >
      s1.dvFiles.size, "vectors accumulate O(delta) sidecars")
    intercept[IllegalArgumentException](
      Versioned.deleteIdsMergeOnRead(Seq("x").toDF("lang"), dir, "lang"))

    // APPEND cannot resurrect a deleted id (no per-id rewrite machinery
    // — the old masked rows would return with it): typed refusal, and
    // non-overlapping appends land normally
    intercept[IllegalStateException] {
      Versioned.append(Seq((7L, "back", 777L)).toDF("doc_id", "lang", "n_chars")
        .repartition(1), dir)
    }
    Versioned.append(Seq((500L, "ok", 5L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    assert(Versioned.read(spark, dir).count() === 87)

    // UPSERT is the resurrection path: unmasked touched-file discovery
    // rewrites away the old hidden rows, the retraction unmasks the id,
    // and exactly the fresh row serves — other deleted ids stay deleted
    Versioned.upsert(Seq((7L, "up", 777L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    val afterUp = Versioned.read(spark, dir)
    assert(afterUp.count() === 88)
    val row7 = afterUp.filter(col("doc_id") === 7L).collect()
    assert(row7.length === 1 && row7.head.getAs[Long]("n_chars") === 777L,
      "exactly the fresh row must serve — the old masked row may not resurrect")
    assert(afterUp.filter(col("doc_id") === 3L).count() === 0, "3 stays deleted")
    // a conditional MERGE re-adding deleted id 11 resurrects it the same way
    Versioned.mergeIfNewer(Seq((11L, "merged", 1111L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id", "n_chars")
    val afterMerge = Versioned.read(spark, dir)
    val row11 = afterMerge.filter(col("doc_id") === 11L).collect()
    assert(row11.length === 1 && row11.head.getAs[Long]("n_chars") === 1111L,
      "exactly the fresh merged row must serve")
    assert(afterMerge.filter(col("doc_id") === 3L).count() === 0, "3 stays deleted")

    // incremental consumption refuses across a MoR delete (retractions
    // cannot ride a file-set delta)
    intercept[IllegalStateException](Versioned.readAppendedSince(spark, dir, 1))

    // compact materializes the deletes and DROPS the vectors; content
    // identical before/after
    val preCompact = Versioned.read(spark, dir).collect().map(_.toSeq).toSet
    Versioned.compact(spark, dir, targetBytes = 64L << 20)
    val sC = Versioned.snapshot(spark, dir)
    assert(sC.dvFiles.isEmpty && sC.dvCol.isEmpty)
    assert(Versioned.read(spark, dir).collect().map(_.toSeq).toSet === preCompact)

    // vacuum keeps DV sidecars exactly as long as a retained version
    // masks through them, then reclaims everything unreferenced
    val stats = Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(stats.deletedFiles > 0)
    assert(Versioned.read(spark, dir).collect().map(_.toSeq).toSet === preCompact)
  }

  test("a fully deleted version: every read raises the same typed error") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(12), dir, statsCol = Some("doc_id"), bloomCol = Some("lang"))
    Versioned.deleteIds((0 until 12).map(_.toLong).toDF("doc_id"), dir, "doc_id")
    assert(Versioned.snapshot(spark, dir).files.isEmpty)
    val msgs = Seq[() => Any](
      () => Versioned.read(spark, dir),
      () => Versioned.readRange(spark, dir, None, "doc_id", 0L, 5L),
      () => Versioned.readEquals(spark, dir, None, "lang", "lang1"),
      () => Versioned.readBox(spark, dir, None, Seq(("doc_id", 0.0, 5.0)))
    ).map(f => intercept[IllegalArgumentException](f()).getMessage)
    assert(msgs.distinct.size === 1 && msgs.head.contains("has no files (fully deleted)"),
      msgs.mkString(" | "))
  }

  test("merge-on-read delete keeps DV sidecars readable for retained HISTORY versions") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    Versioned.deleteIdsMergeOnRead(Seq(2L).toDF("doc_id"), dir, "doc_id")
    Versioned.append(Seq((900L, "ap", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    // keep v1 (masked) and v2: vacuum must retain the sidecar v1 needs
    Versioned.vacuum(spark, dir, keepVersions = 2)
    assert(Versioned.read(spark, dir, Some(1)).count() === 29)
    assert(Versioned.read(spark, dir, Some(2)).count() === 30)
  }

  test("history: one audit row per version with op stamps and exact file churn") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    Versioned.append(Seq((900L, "ap", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    Versioned.upsert(Seq((3L, "up", 9L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    Versioned.deleteIdsMergeOnRead(Seq(5L).toDF("doc_id"), dir, "doc_id")
    Versioned.renameColumn(spark, dir, "n_chars", "len")
    Versioned.compact(spark, dir, targetBytes = 64L << 20)
    val h = Versioned.history(spark, dir).orderBy("version").collect()
    assert(h.map(_.getAs[String]("operation")).toSeq ===
      Seq("init", "append", "upsert", "delete_mor", "rename", "compact"))
    assert(h.forall(r => !r.isNullAt(r.fieldIndex("committed_at"))))
    val byV = h.map(r => r.getAs[Int]("version") -> r).toMap
    assert(byV(1).getAs[Int]("files_added") === 1 &&
           byV(1).getAs[Int]("files_removed") === 0)
    assert(byV(2).getAs[Int]("files_added") >= 1 &&
           byV(2).getAs[Int]("files_removed") >= 1, "COW rewrites churn files")
    assert(byV(3).getAs[Int]("files_added") === 0 &&
           byV(3).getAs[Int]("files_removed") === 0, "MoR delete moves no data files")
    assert(byV(4).getAs[Int]("files_added") === 0 &&
           byV(4).getAs[Int]("files_removed") === 0, "rename moves no data files")
    assert(byV(5).getAs[Int]("num_files") ===
      byV(5).getAs[Int]("files_added"), "compact replaces everything")
    // num_files tracks the live list, not the churn
    assert(byV(0).getAs[Int]("num_files") + 1 === byV(1).getAs[Int]("num_files"))
    // total_rows tracks PHYSICAL rows: the MoR delete keeps them, the
    // compact drops the masked one from disk
    assert(byV(0).getAs[Long]("total_rows") === 90L)
    assert(byV(3).getAs[Long]("total_rows") === 91L,
      "a deletion vector hides rows without moving them")
    assert(byV(5).getAs[Long]("total_rows") === 90L,
      "compact materializes the mask")
    // the horizon row reports unknown churn (-1) after vacuum, never lies
    Versioned.vacuum(spark, dir, keepVersions = 2)
    val h2 = Versioned.history(spark, dir).orderBy("version").collect()
    assert(h2.map(_.getAs[Int]("version")).toSeq === Seq(4, 5))
    assert(h2.head.getAs[Int]("files_added") === -1,
      "full-manifest horizon row cannot know its churn")
  }

  test("lifecycle integration: widen + rename + MoR delete + resurrect + zorder re-baseline + restore compose") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DoubleType, LongType}
    val dir = freshDir()
    // v0: narrow types, several files
    Versioned.init(
      (0 until 60).map(i => (i.toLong, s"l${i % 3}", i * 10, (i % 5).toFloat))
        .toDF("doc_id", "lang", "cnt", "score").repartition(4), dir)
    // v1: widening append (int->long, float->double) under old names
    Versioned.append(
      Seq((1000L, "w", 6000000000L, 9.5)).toDF("doc_id", "lang", "cnt", "score"), dir)
    // v2: rename cnt -> tokens (metadata only)
    Versioned.renameColumn(spark, dir, "cnt", "tokens")
    // v3: MoR delete a slice (ids 0,7,14,...)
    Versioned.deleteIdsMergeOnRead(
      (0 until 60 by 7).map(_.toLong).toDF("doc_id"), dir, "doc_id")
    // v4: resurrect id 7 with fresh values via upsert (logical names)
    Versioned.upsert(Seq((7L, "res", 777L, 0.25)).toDF("doc_id", "lang", "tokens", "score"),
      dir, "doc_id")
    val expect = 60 + 1 - 9 + 1 // 60 init + append - 9 deleted + 1 resurrected
    val v4 = Versioned.read(spark, dir)
    assert(v4.count() === expect)
    assert(v4.schema("tokens").dataType === LongType)
    assert(v4.schema("score").dataType === DoubleType)
    assert(v4.filter(col("doc_id") === 7L).head().getAs[Long]("tokens") === 777L)
    assert(v4.filter(col("doc_id") === 14L).count() === 0)
    val v4Content = v4.collect().map(_.toSeq).toSet

    // v5: OPTIMIZE ZORDER on (doc_id, tokens) — the full rewrite
    // materializes the MoR deletes, re-baselines the rename, and the
    // widened types persist physically
    Versioned.compactZOrder(spark, dir, Seq("doc_id", "tokens"), numRanges = 4)
    val s5 = Versioned.snapshot(spark, dir)
    assert(s5.dvFiles.isEmpty && !s5.meta.contains("colmap"))
    assert(Versioned.read(spark, dir).collect().map(_.toSeq).toSet === v4Content)
    assert(spark.read.parquet(s5.files.head).columns.contains("tokens"),
      "re-baseline: rewritten files store the logical name")
    // the box probe serves the same masked content it would pre-rewrite
    val box = Versioned.readBox(spark, dir, None,
      Seq(("doc_id", 0.0, 20.0), ("tokens", 0.0, 1000.0)))
    assert(box.count() ===
      v4.filter(col("doc_id").between(0, 20) && col("tokens").between(0, 1000)).count())

    // v6: restore the PRE-zorder version — colmap and DV meta come back
    Versioned.restore(spark, dir, 4)
    val s6 = Versioned.snapshot(spark, dir)
    assert(s6.dvFiles.nonEmpty && s6.meta.contains("colmap"))
    assert(Versioned.read(spark, dir).collect().map(_.toSeq).toSet === v4Content)
    assert(Versioned.history(spark, dir).orderBy("version")
      .collect().map(_.getAs[String]("operation")).toSeq ===
      Seq("init", "append", "rename", "delete_mor", "upsert", "zorder", "restore"))
  }

  test("COW discovery prunes candidate files through manifest id stats; unprovable layouts scan all") {
    import spark.implicits._
    val dir = freshDir()
    // id-clustered layout: range-partitioned init with doc_id stats
    val d = (0 until 400).map(i => (i.toLong, s"l${i % 3}", i * 2L))
      .toDF("doc_id", "lang", "n_chars")
      .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
    Versioned.init(d, dir, statsCol = Some("doc_id"))
    val snap = Versioned.snapshot(spark, dir)
    assert(snap.files.size === 8)
    // a narrow delta's candidate set is a strict subset of the table
    val narrow = Seq(3L, 7L).toDF("doc_id")
    val cands = Versioned.candidateFilesIn(spark, snap.entries, narrow, "doc_id", "doc_id")
    assert(cands.isDefined && cands.get.size < snap.files.size && cands.get.nonEmpty,
      s"clustered layout must prune discovery, got ${cands.map(_.size)}")
    // pure inserts (ids beyond every stats box) prune to ZERO candidates
    val inserts = Seq(99999L).toDF("doc_id")
    assert(Versioned.candidateFilesIn(spark, snap.entries, inserts, "doc_id", "doc_id")
      .get.isEmpty)
    // and the pruned upsert is RESULT-identical to the semantics contract
    Versioned.upsert(Seq((3L, "up", 999L), (99999L, "new", 1L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id")
    val after = Versioned.read(spark, dir)
    assert(after.count() === 401)
    assert(after.filter(col("doc_id") === 3L).head().getAs[Long]("n_chars") === 999L)
    assert(after.filter(col("doc_id") === 99999L).count() === 1)
    // only the files stats-intersecting the delta rewrote; the rest carried
    val s1 = Versioned.snapshot(spark, dir)
    assert(snap.files.toSet.intersect(s1.files.toSet).size >= snap.files.size - 1)

    // a layout with NO stats on the id column (here: string ids, stats
    // untracked) reports None: discovery falls back to the full scan,
    // never a wrong prune
    val dir2 = freshDir()
    Versioned.init(
      (0 until 40).map(i => (s"id$i", i.toLong)).toDF("doc_id", "n")
        .repartition(4), dir2)
    val snap2 = Versioned.snapshot(spark, dir2)
    assert(Versioned.candidateFilesIn(spark, snap2.entries,
      Seq("id3").toDF("doc_id"), "doc_id", "doc_id").isEmpty)
    Versioned.upsert(Seq(("id3", 999L)).toDF("doc_id", "n"), dir2, "doc_id")
    assert(Versioned.read(spark, dir2)
      .filter(col("doc_id") === "id3").head().getAs[Long]("n") === 999L)
  }

  test("cloneShallow: zero-copy branch; clone mutations never touch the source; clone vacuum is safe") {
    import spark.implicits._
    val src = freshDir(); val dst = freshDir()
    Versioned.init(docs3(), src, statsCol = Some("doc_id"))
    val srcContent = Versioned.read(spark, src).collect().map(_.toSeq).toSet

    Versioned.cloneShallow(spark, src, dst)
    val c0 = Versioned.snapshot(spark, dst)
    assert(c0.files === Versioned.snapshot(spark, src).files,
      "clone v0 references the source files verbatim")
    assert(Versioned.read(spark, dst).collect().map(_.toSeq).toSet === srcContent)
    assert(c0.meta("op") === "clone")

    // the clone diverges copy-on-write; the SOURCE never changes
    Versioned.upsert(Seq((5L, "cl", 999L)).toDF("doc_id", "lang", "n_chars"),
      dst, "doc_id")
    assert(Versioned.read(spark, dst)
      .filter(col("doc_id") === 5L).head().getAs[String]("lang") === "cl")
    assert(Versioned.read(spark, src).collect().map(_.toSeq).toSet === srcContent)
    // stats-pruned reads work through the cloned manifest stats
    assert(Versioned.readRange(spark, dst, None, "doc_id", 0L, 10L).count() === 11)

    // clone vacuum walks ONLY its own data dir: source files survive
    // even when the clone no longer references them
    Versioned.vacuum(spark, dst, keepVersions = 1)
    assert(Versioned.read(spark, src).collect().map(_.toSeq).toSet === srcContent,
      "clone vacuum must never reclaim source files")
    assert(Versioned.read(spark, dst).count() === 90)

    // the documented hazard, pinned: vacuuming the SOURCE past versions
    // a clone still references breaks the clone (keep retention over
    // live clones, or compact the clone to cut the dependency)
    Versioned.upsert(Seq((1L, "x", 1L)).toDF("doc_id", "lang", "n_chars"),
      src, "doc_id")
    Versioned.vacuum(spark, src, keepVersions = 1)
    intercept[Exception](Versioned.read(spark, dst).count())

    // double-init refusal
    intercept[IllegalArgumentException](
      Versioned.cloneShallow(spark, src, dst))
  }

  test("restore: an old version becomes latest as one metadata commit; layout metadata travels back") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    val v0Content = Versioned.read(spark, dir).collect().map(_.toSeq).toSet
    // a "bad ingest": delete + append land on top
    Versioned.deleteIdsMergeOnRead(Seq(2L, 4L).toDF("doc_id"), dir, "doc_id")
    Versioned.append(Seq((800L, "bad", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    assert(Versioned.read(spark, dir).count() === 29)
    // restore v0: zero data movement, content bit-identical, the bad
    // versions stay in history, the DV meta rolls back with it
    val v3 = Versioned.restore(spark, dir, 0)
    assert(v3 === 3)
    assert(Versioned.read(spark, dir).collect().map(_.toSeq).toSet === v0Content)
    assert(Versioned.snapshot(spark, dir).dvFiles.isEmpty)
    assert(Versioned.read(spark, dir, Some(2)).count() === 29, "forensics intact")
    assert(Versioned.history(spark, dir).orderBy("version")
      .collect().map(_.getAs[String]("operation")).toSeq ===
      Seq("init", "delete_mor", "append", "restore"))
    // appends keep flowing after a restore; vacuum keeps the files the
    // restored latest references even though they were written at v0
    Versioned.append(Seq((900L, "ok", 2L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    Versioned.vacuum(spark, dir, keepVersions = 2)
    assert(Versioned.read(spark, dir).count() === 31)
    // restoring a vacuumed version refuses typed
    intercept[Versioned.VersionRetentionException](
      Versioned.restore(spark, dir, 1))
  }

  test("versionAsOf: timestamp travel resolves the newest commit <= t; edges typed") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    Thread.sleep(5)
    Versioned.append(Seq((901L, "a", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    Thread.sleep(5)
    Versioned.append(Seq((902L, "b", 2L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    def tsOf(v: Int): Long =
      Versioned.snapshot(spark, dir, Some(v)).meta("committedAt").toLong
    assert(tsOf(0) < tsOf(1) && tsOf(1) < tsOf(2))
    // at each commit's own timestamp the resolver lands ON it; between
    // commits it lands on the older one; after the last, on the latest
    assert(Versioned.versionAsOf(spark, dir, tsOf(0)) === 0)
    assert(Versioned.versionAsOf(spark, dir, tsOf(1)) === 1)
    assert(Versioned.versionAsOf(spark, dir, (tsOf(1) + tsOf(2)) / 2) === 1)
    assert(Versioned.versionAsOf(spark, dir, System.currentTimeMillis + 1000) === 2)
    assert(Versioned.readAsOf(spark, dir, tsOf(1)).count() === 31)
    // before the first commit: typed argument error
    intercept[IllegalArgumentException](
      Versioned.versionAsOf(spark, dir, tsOf(0) - 1))
    // vacuumed history: the retention-typed error
    Versioned.vacuum(spark, dir, keepVersions = 1)
    intercept[Versioned.VersionRetentionException](
      Versioned.versionAsOf(spark, dir, tsOf(1)))
  }

  test("vacuum checkpoints the oldest retained delta so retained chains survive the drop") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    (1 to 5).foreach { i =>
      Versioned.append(
        Seq((9000L + i, s"v$i", i.toLong)).toDF("doc_id", "lang", "n_chars")
          .repartition(1), dir)
    }
    assert(isDelta(dir, 4) && isDelta(dir, 5))
    val before4 = Versioned.read(spark, dir, Some(4)).collect().map(_.toSeq).toSet
    val before5 = Versioned.read(spark, dir, Some(5)).collect().map(_.toSeq).toSet

    val s = Versioned.vacuum(spark, dir, keepVersions = 2)
    assert(s.droppedVersions === Seq(0, 1, 2, 3))
    // the oldest retained version was a delta whose base chain is gone —
    // it must have been materialized full, and BOTH retained versions
    // must still resolve to exactly their pre-vacuum content
    assert(!isDelta(dir, 4), "oldest retained must be checkpointed full")
    assert(Versioned.read(spark, dir, Some(4)).collect().map(_.toSeq).toSet === before4)
    assert(Versioned.read(spark, dir, Some(5)).collect().map(_.toSeq).toSet === before5)
    assert(Versioned.versions(spark, dir) === Seq(4, 5))
    // and commits keep flowing after the checkpoint rewrite
    Versioned.append(Seq((9999L, "post", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    assert(Versioned.read(spark, dir).count() === 36)
  }

  test("renameColumn refuses a newName that is another column's retired physical name") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    Versioned.renameColumn(spark, dir, "n_chars", "len") // colmap len:n_chars
    // 'n_chars' is now the retired PHYSICAL identity of 'len': a second
    // rename taking it would leave two logical columns colliding on one
    // on-disk name (colmap {len:n_chars, n_chars:lang}), corrupting every
    // later physical projection — must refuse typed
    val e = intercept[IllegalArgumentException](
      Versioned.renameColumn(spark, dir, "lang", "n_chars"))
    assert(e.getMessage.contains("physical"))
    // renaming the column BACK to its own physical name is the map-
    // dropping case and stays legal
    Versioned.renameColumn(spark, dir, "len", "n_chars")
    assert(Versioned.snapshot(spark, dir).meta.get("colmap").forall(_.isEmpty))
    Versioned.append(Seq((5000L, "rn", 9L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    assert(Versioned.read(spark, dir).count() === 31)
  }

  test("a crashed checkpoint swap (manifest gone, .ckpt staged) recovers on read and on listing") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    Versioned.append(Seq((901L, "a", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir) // v1: a DELTA chaining down to v0
    assert(isDelta(dir, 1))
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(conf)
    def stageCrash(v: Int): Unit = {
      val target = new org.apache.hadoop.fs.Path(
        f"$dir/_manifests/v$v%05d.manifest")
      val ckpt = new org.apache.hadoop.fs.Path(
        f"$dir/_manifests/v$v%05d.manifest.ckpt")
      org.apache.hadoop.fs.FileUtil.copy(fs, target, fs, ckpt, false, conf)
      fs.delete(target, false)
    }
    // crash the BASE of the chain: resolving v1 replays its delta over
    // v0, whose manifest is gone — manifestLines must complete the
    // staged rename and serve the content (losing the oldest manifest
    // unrecovered would sever EVERY retained version above it)
    stageCrash(0)
    assert(Versioned.read(spark, dir, Some(1)).count() === 31)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00000.manifest")),
      "chain resolution must complete the crashed rename")
    // crash the LATEST: the version must stay enumerable — the listing
    // completes the rename — and reads resolve through it again
    stageCrash(1)
    assert(Versioned.versions(spark, dir) === Seq(0, 1))
    assert(Versioned.read(spark, dir).count() === 31)
  }

  test("morDeleteRebase refuses when a concurrent re-baseline retired the sidecar's physical id") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir)
    Versioned.renameColumn(spark, dir, "doc_id", "id") // colmap id:doc_id
    val base = Versioned.snapshot(spark, dir)
    val physId = "doc_id"
    assert(base.schema.get.fieldNames.contains("id"))
    // a concurrent compact re-baselines physical == logical ('id'): a
    // MoR delete computed against `base` would stamp dv.col with the
    // retired name 'doc_id', absent from the re-baselined files — every
    // later read would throw resolving it. The rebase must refuse.
    Versioned.compact(spark, dir, targetBytes = 32L << 20)
    val rebaselined = Versioned.snapshot(spark, dir)
    val cache = scala.collection.mutable.Map.empty[String, Map[String, String]]
    assert(Versioned.morDeleteRebase(spark, dir, "id", physId, Seq.empty, cache)(
      rebaselined).isEmpty,
      "stale physical id must surface as a true conflict, not a poisoned dv.col")
    // the healthy (no-race) path on the re-baselined table works end-to-end
    Versioned.deleteIdsMergeOnRead(Seq(3L).toDF("id"), dir, "id")
    assert(Versioned.read(spark, dir).filter(col("id") === 3L).count() === 0)
  }

  test("commitWithRebase discards the sidecars a rebase wrote that no manifest references") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(10), dir)
    Versioned.deleteIdsMergeOnRead(Seq(3L).toDF("doc_id"), dir, "doc_id")
    val standing = Versioned.snapshot(spark, dir).dvFiles
    def dataDirs() = new java.io.File(s"$dir/data").listFiles()
      .filter(_.isDirectory).map(_.getName).toSet
    // a deletion-vector sidecar written inside a rebase and recorded, as
    // the MoR consolidation and the copy-on-write retraction record theirs
    val written = scala.collection.mutable.Buffer.empty[String]
    def sidecar(ids: Long*): String = {
      val d = s"$dir/data/sidecar_${written.size + 1}"
      ids.toDF("doc_id").coalesce(1).write.parquet(d)
      val side = new java.io.File(d).listFiles().map(_.getAbsolutePath)
        .filter(_.endsWith(".parquet")).head
      written += side
      side
    }
    def stamp(snap: Versioned.Snapshot, side: String) =
      Some((snap.entries, snap.meta + ("dv.files" -> (snap.dvFiles :+ side).mkString(","))))
    def interleavedAppend(id: Long): Unit =
      Versioned.append(Seq((id, "ap", 1L)).toDF("doc_id", "lang", "n_chars"), dir)
    // refused: attempt 1 writes a sidecar and loses the publish race to
    // an interleaved append, attempt 2 refuses
    val before = dataDirs()
    var attempts = 0
    intercept[Versioned.ConcurrentWriteConflictException] {
      Versioned.commitWithRebase(spark, dir, snap => {
        attempts += 1
        if (attempts > 1) None
        else { val side = sidecar(4L); interleavedAppend(500L); stamp(snap, side) }
      }, written = written)
    }
    val afterRefusal = dataDirs()
    assert(!afterRefusal.contains("sidecar_1"), "a refused commit must discard its sidecar")
    assert((afterRefusal -- before).size === 1, "only the interleaved append's data is new")
    assert(Versioned.snapshot(spark, dir).dvFiles === standing)
    assert(standing.forall(new java.io.File(_).exists()), "the standing sidecar stays")
    // published: attempt 1's sidecar (another DV set's) goes, attempt 2's is live
    written.clear()
    attempts = 0
    Versioned.commitWithRebase(spark, dir, snap => {
      attempts += 1
      val side = sidecar(4L)
      if (attempts == 1) interleavedAppend(501L)
      stamp(snap, side)
    }, written = written)
    val afterCommit = dataDirs()
    assert(!afterCommit.contains("sidecar_1") && afterCommit.contains("sidecar_2"))
    assert(Versioned.read(spark, dir).filter(col("doc_id").isin(3L, 4L)).count() === 0)
    assert(Versioned.read(spark, dir).count() === 10)
  }

  test("a restore that runs out of retries keeps the target's carried sidecars") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(10), dir)
    val target = Versioned.deleteIdsMergeOnRead(Seq(3L).toDF("doc_id"), dir, "doc_id")
    val sidecars = Versioned.snapshot(spark, dir, Some(target)).dvFiles
    assert(sidecars.nonEmpty)
    // compact applies the delete and drops the vectors: the latest DV set
    // (empty) now differs from the restore target's
    Versioned.compact(spark, dir, targetBytes = 32L << 20)
    assert(Versioned.snapshot(spark, dir).dvFiles.isEmpty)
    // restore's publish — the target's manifest verbatim — losing every
    // race to an interleaved append until the retries run out
    val t = Versioned.snapshot(spark, dir, Some(target))
    var id = 600L
    intercept[Versioned.CommitRaceLost] {
      Versioned.commitWithRebase(spark, dir, _ => {
        id += 1
        Versioned.append(Seq((id, "ap", 1L)).toDF("doc_id", "lang", "n_chars"), dir)
        Some((t.entries, t.meta + ("op" -> "restore")))
      })
    }
    assert(sidecars.forall(new java.io.File(_).exists()),
      "a carried sidecar is referenced by the target and must stay")
    assert(Versioned.read(spark, dir, Some(target)).filter(col("doc_id") === 3L).count() === 0)
    val restored = Versioned.restore(spark, dir, target)
    assert(Versioned.read(spark, dir, Some(restored)).filter(col("doc_id") === 3L).count() === 0)
    assert(Versioned.read(spark, dir).count() === 9)
  }

  test("MoR sidecars consolidate at the bound; dv_rows/dv_files expose the mask debt") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(60), dir)
    // 20 successive one-id MoR deletes: the standing sidecar count must
    // never exceed the bound AFTER any commit (crossing it folds the
    // vectors into ONE — an O(DV) rewrite, never O(table))
    (0 until 20).foreach { i =>
      Versioned.deleteIdsMergeOnRead(Seq(i.toLong).toDF("doc_id"), dir, "doc_id")
      val snap = Versioned.snapshot(spark, dir)
      assert(snap.dvFiles.size <= Versioned.DvConsolidateAt,
        s"after delete $i: ${snap.dvFiles.size} sidecars standing")
    }
    val snap = Versioned.snapshot(spark, dir)
    assert(snap.meta("dv.rows") === "20")
    assert(Versioned.read(spark, dir).count() === 40)
    assert(Versioned.read(spark, dir).filter(col("doc_id") < 20).count() === 0,
      "consolidation must preserve the mask content exactly")
    // history surfaces the debt as pure metadata
    val last = Versioned.history(spark, dir)
      .orderBy(col("version").desc).head()
    assert(last.getAs[Int]("dv_files") === snap.dvFiles.size)
    assert(last.getAs[Long]("dv_rows") === 20L)
    // resurrection keeps the stamp honest: retraction re-counts
    Versioned.upsert(Seq((0L, "back", 1L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id")
    val after = Versioned.snapshot(spark, dir)
    assert(after.meta("dv.rows") === "19")
    assert(Versioned.read(spark, dir).filter(col("doc_id") === 0L).count() === 1)
  }

  test("z-ordered tables keep COW discovery pruning: id stats ride alongside __z") {
    import spark.implicits._
    val dir = freshDir()
    val d = (0 until 400).map(i => (i.toLong, (i % 20).toLong, (i / 20).toLong))
      .toDF("doc_id", "x", "y")
      .repartitionByRange(8, col("doc_id")).sortWithinPartitions("doc_id")
    Versioned.init(d, dir, statsCol = Some("doc_id"))
    Versioned.compactZOrder(spark, dir, Seq("x", "y"), numRanges = 8)
    val snap = Versioned.snapshot(spark, dir)
    // every z-clustered file carries BOTH triples: '__z' for box probes
    // AND the id column for copy-on-write discovery — the composition
    // that a single stats slot silently broke (upserts on a z-ordered
    // table fell back to O(table) candidate scans)
    assert(snap.entries.forall(_.statsFor("__z").nonEmpty))
    assert(snap.entries.forall(_.statsFor("doc_id").nonEmpty))
    // box probes prune through the z triples...
    val boxPruned = Versioned.boxFilePruningIn(snap,
      Seq(("x", 1.0, 2.0), ("y", 1.0, 2.0)))
    assert(boxPruned.exists { case (keep, total) => keep.size < total })
    // ...and COW discovery prunes through the id triples ON THE SAME
    // SNAPSHOT: a one-id delta must get a candidate list (not the
    // stats-less None fallback) that excludes provably-id-free files
    val oneId = Seq(0L).toDF("doc_id")
    val cands = Versioned.candidateFilesIn(spark, snap.entries, oneId,
      "doc_id", "doc_id")
    assert(cands.nonEmpty, "id stats must survive the z-order commit")
    assert(cands.get.size < snap.files.size,
      s"expected a strict candidate subset, got ${cands.get.size} of ${snap.files.size}")
    // the pruned upsert stays exact
    Versioned.upsert(Seq((0L, 999L, 999L)).toDF("doc_id", "x", "y"),
      dir, "doc_id")
    assert(Versioned.read(spark, dir).filter(col("doc_id") === 0L)
      .head().getAs[Long]("x") === 999L)
    assert(Versioned.read(spark, dir).count() === 400)
    // the maintenance loop preserves the composition: appends + the
    // incremental re-cluster leave EVERY file carrying both triples again
    Versioned.append((1000 until 1100)
      .map(i => (i.toLong, (i % 20).toLong, (i / 20).toLong))
      .toDF("doc_id", "x", "y").repartition(2), dir, statsCol = Some("doc_id"))
    Versioned.compactZOrderIncremental(spark, dir)
    val healed = Versioned.snapshot(spark, dir)
    assert(healed.entries.forall(e =>
      e.statsFor("__z").nonEmpty && e.statsFor("doc_id").nonEmpty),
      "incremental z-order must keep id stats on the re-clustered tail")
    assert(Versioned.candidateFilesIn(spark, healed.entries, oneId,
      "doc_id", "doc_id").nonEmpty)
  }

  test("segmented manifests: large fulls page out, pruned reads parse a strict subset of segments") {
    import spark.implicits._
    val (thr0, ent0) = (Versioned.SegmentThreshold, Versioned.SegmentEntries)
    Versioned.SegmentThreshold = 8
    Versioned.SegmentEntries = 4
    try {
      val dir = freshDir()
      val d = (0 until 240).map(i => (i.toLong, s"t$i", (i * 3).toLong))
        .toDF("doc_id", "tag", "n_chars")
        .repartitionByRange(16, col("doc_id"))
      Versioned.init(d, dir, statsCol = Some("doc_id"),
        bloomCol = Some("tag"))
      // the manifest paged its 16 entries out to 4 range-keyed segments
      val segDir = new java.io.File(s"$dir/_manifests/segs")
      assert(segDir.isDirectory &&
        segDir.listFiles().count(_.getName.endsWith(".seg")) === 4)
      // a COLD full resolution opens every segment and reconstructs
      // exactly (cache cleared so init's internal resolutions don't
      // serve this probe from memory)
      Versioned.snapshotCacheClear()
      val snap = Versioned.snapshot(spark, dir)
      val (openedAll, seenAll) = Versioned.lastSegCounts.get()
      assert(seenAll === 4 && openedAll === 4)
      assert(snap.files.size === 16)
      val back = Versioned.read(spark, dir)
      assert(back.exceptAll(d).unionAll(d.exceptAll(back)).count() === 0,
        "segment paging must be invisible to a full read")
      // a narrow range probe parses only range-intersecting segments:
      // entries are range-keyed on the dominant stats column, so
      // [10, 20] lives in one 4-file segment (60 ids per segment)
      val r = Versioned.readRange(spark, dir, None, "doc_id", 10L, 20L)
      val (openedR, seenR) = Versioned.lastSegCounts.get()
      assert(r.count() === 11)
      assert(seenR === 4 && openedR < seenR,
        s"range probe must skip segments, opened $openedR of $seenR")
      // an equality probe prunes through the OR-folded segment blooms
      // (no false negatives survive an OR; unique tags keep the fold
      // selective at this scale)
      val e = Versioned.readEquals(spark, dir, None, "tag", "t17")
      val (openedE, seenE) = Versioned.lastSegCounts.get()
      assert(e.count() === 1 &&
        e.head().getAs[Long]("doc_id") === 17L)
      assert(seenE === 4 && openedE < seenE,
        s"equality probe must skip segments, opened $openedE of $seenE")
      // the single-file fast path is untouched: a small table written
      // under the production threshold keeps the inline format
      Versioned.SegmentThreshold = 4096
      val dir2 = freshDir()
      Versioned.init(docs3(), dir2, statsCol = Some("doc_id"))
      assert(!new java.io.File(s"$dir2/_manifests/segs").exists())
      Versioned.snapshotCacheClear()
      val (o2, s2) = { Versioned.snapshot(spark, dir2); Versioned.lastSegCounts.get() }
      assert(s2 === 0 && o2 === 0)
    } finally {
      Versioned.SegmentThreshold = thr0
      Versioned.SegmentEntries = ent0
    }
  }

  test("snapshot cache: pinned versions memoize, commits are never served stale, checkpoint rewrites re-key") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    Versioned.snapshotCacheClear()
    // cold, then hot: the second resolution of the same pinned version
    // is THE SAME memoized object — no chain walk, no manifest parse
    val cold = Versioned.snapshot(spark, dir, Some(0))
    val hits0 = Versioned.snapCacheHits.get()
    val hot = Versioned.snapshot(spark, dir, Some(0))
    assert(Versioned.snapCacheHits.get() > hits0, "second resolution must hit")
    assert(hot eq cold, "a hit serves the memoized snapshot itself")
    // a commit is NEVER served stale: latest re-resolves to the new
    // version (the cache keys resolved versions, not 'latest')
    Versioned.append(Seq((5000L, "zz", 1L)).toDF("doc_id", "lang", "n_chars"), dir)
    val s1 = Versioned.snapshot(spark, dir)
    assert(s1.version === 1 && s1.files.size > cold.files.size)
    // time travel to v0 still serves the pinned content
    assert(Versioned.snapshot(spark, dir, Some(0)).files === cold.files)
    // an in-place checkpoint rewrite (delta -> full) changes the file's
    // (mtime, len) key: the next read re-parses instead of serving the
    // pre-rewrite object, and resolves identical content
    val preCkpt = Versioned.snapshot(spark, dir, Some(1))
    Versioned.vacuum(spark, dir, keepVersions = 1) // checkpoints v1 full
    val postCkpt = Versioned.snapshot(spark, dir, Some(1))
    assert(postCkpt.files.toSet === preCkpt.files.toSet &&
      postCkpt.meta === preCkpt.meta,
      "checkpoint rewrite must resolve content-identically through the cache")
  }

  test("vacuum sweeps orphaned manifest segments, keeps referenced ones") {
    import spark.implicits._
    val (thr0, ent0) = (Versioned.SegmentThreshold, Versioned.SegmentEntries)
    Versioned.SegmentThreshold = 8
    Versioned.SegmentEntries = 4
    try {
      val dir = freshDir()
      val d = (0 until 240).map(i => (i.toLong, s"t$i", (i * 3).toLong))
        .toDF("doc_id", "tag", "n_chars")
        .repartitionByRange(16, col("doc_id"))
      Versioned.init(d, dir, statsCol = Some("doc_id"))
      val segDir = new java.io.File(s"$dir/_manifests/segs")
      def segCount = segDir.listFiles().count(_.getName.endsWith(".seg"))
      val v0Segs = segCount
      assert(v0Segs === 4)
      // a full-rewrite commit (every file touched) pages out its own
      // segments; v0's pages are now referenced only by v0
      val d2 = (0 until 240).map(i => (i.toLong, s"u$i", (i * 5).toLong))
        .toDF("doc_id", "tag", "n_chars")
        .repartitionByRange(16, col("doc_id"))
      Versioned.upsert(d2, dir, "doc_id")
      val midSegs = segCount
      assert(midSegs > v0Segs, "the rewrite commit must page out segments")
      Versioned.vacuum(spark, dir, keepVersions = 1)
      // v0's orphaned pages are reclaimed; the retained version's pages
      // survive and still serve an exact read
      assert(segCount === midSegs - v0Segs,
        s"expected v0's $v0Segs segments swept, have $segCount of $midSegs")
      val back = Versioned.read(spark, dir)
      assert(back.exceptAll(d2).unionAll(d2.exceptAll(back)).count() === 0,
        "retained segments must survive the sweep")
    } finally {
      Versioned.SegmentThreshold = thr0
      Versioned.SegmentEntries = ent0
    }
  }

  test("changeFeed: per-commit inserts/updates/deletes; maintenance and metadata commits emit nothing") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(90), dir) // v0: ids 0..89, lang{i%3}, i*7
    Versioned.append((1000L until 1010L).map(i => (i, "cf", i))
      .toDF("doc_id", "lang", "n_chars").repartition(1), dir) // v1
    Versioned.upsert(Seq((8L, "up", 58L), (16L, "up", 114L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id") // v2: +2 on i*7
    Versioned.deleteIdsMergeOnRead(Seq(4L, 8L).toDF("doc_id"),
      dir, "doc_id") // v3: id 8 carries v2's updated values
    Versioned.compact(spark, dir) // v4: row-identical
    Versioned.renameColumn(spark, dir, "n_chars", "len") // v5: metadata-only
    val latest = Versioned.versions(spark, dir).max
    assert(latest === 5)

    val feed = Versioned.changeFeed(spark, dir, 0, latest, "doc_id")
    assert(feed.columns.toSeq === Seq("doc_id", "lang_old", "len_old",
      "lang_new", "len_new", "change", "version", "op"))
    val rows = feed.collect().map(r => (r.getAs[Long]("doc_id"),
      r.getAs[String]("change"), r.getAs[Int]("version"), r.getAs[String]("op"),
      Option(r.getAs[String]("lang_old")), Option(r.getAs[String]("lang_new")),
      Option(r.getAs[java.lang.Long]("len_old")).map(_.longValue),
      Option(r.getAs[java.lang.Long]("len_new")).map(_.longValue))).toSet
    val expected =
      (1000L until 1010L).map(i =>
        (i, "insert", 1, "append", None, Some("cf"), None, Some(i))).toSet ++
      Set((8L, "update", 2, "upsert", Some("lang2"), Some("up"), Some(56L), Some(58L)),
          (16L, "update", 2, "upsert", Some("lang1"), Some("up"), Some(112L), Some(114L)),
          (4L, "delete", 3, "delete_mor", Some("lang1"), None, Some(28L), None),
          (8L, "delete", 3, "delete_mor", Some("up"), None, Some(58L), None))
    assert(rows === expected,
      s"unexpected feed rows: ${(rows -- expected).take(5)} / missing: ${(expected -- rows).take(5)}")
    // sub-range: only the append step's inserts
    assert(Versioned.changeFeed(spark, dir, 0, 1, "doc_id").count() === 10)
    // empty range: zero rows, columns under the TO-version's schema
    val empty = Versioned.changeFeed(spark, dir, latest, latest, "doc_id")
    assert(empty.count() === 0 && empty.columns.contains("len_old"))
    // a pre-rename TO-version speaks ITS schema, not latest's
    assert(Versioned.changeFeed(spark, dir, 2, 2, "doc_id")
      .columns.contains("n_chars_old"))
  }

  test("CHECK constraints: ingest gates typed, NULL passes, survive compact, rename refuses, drop re-opens") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(60), dir)
    Versioned.addConstraint(spark, dir, "nonneg", "n_chars >= 0")
    assert(Versioned.constraintsOf(Versioned.snapshot(spark, dir)) ===
      Map("nonneg" -> "n_chars >= 0"))
    // valid ingest lands
    Versioned.append(Seq((500L, "ok", 5L)).toDF("doc_id", "lang", "n_chars"), dir)
    // violating append / upsert / merge refuse typed, publish nothing
    val vBefore = Versioned.versions(spark, dir).max
    val badRow = Seq((501L, "bad", -5L)).toDF("doc_id", "lang", "n_chars")
    intercept[Versioned.ConstraintViolationException] {
      Versioned.append(badRow, dir)
    }
    intercept[Versioned.ConstraintViolationException] {
      Versioned.upsert(badRow, dir, "doc_id")
    }
    intercept[Versioned.ConstraintViolationException] {
      Versioned.mergeIfNewer(Seq((500L, "bad", 99L), (502L, "bad", -1L))
        .toDF("doc_id", "lang", "n_chars"), dir, "doc_id", "n_chars")
    }
    assert(Versioned.versions(spark, dir).max === vBefore,
      "a refused ingest must publish nothing")
    // a STALE violating merge row never lands, so it must not refuse
    Versioned.mergeIfNewer(Seq((500L, "stale", -9L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id", "n_chars")
    assert(Versioned.read(spark, dir).filter(col("doc_id") === 500L)
      .head().getAs[Long]("n_chars") === 5L)
    // NULL passes (ANSI CHECK): a delta omitting the column null-fills
    Versioned.append(Seq((503L, "nl")).toDF("doc_id", "lang"), dir)
    // constraints survive the re-baselining rewrites
    Versioned.compact(spark, dir)
    assert(Versioned.constraintsOf(Versioned.snapshot(spark, dir))
      .contains("nonneg"), "compact must carry constraints")
    intercept[Versioned.ConstraintViolationException] {
      Versioned.append(badRow, dir)
    }
    // renaming a referenced column refuses; unrelated renames pass
    intercept[IllegalArgumentException] {
      Versioned.renameColumn(spark, dir, "n_chars", "len")
    }
    Versioned.renameColumn(spark, dir, "lang", "language")
    // adding a constraint existing rows violate refuses typed
    intercept[Versioned.ConstraintViolationException] {
      Versioned.addConstraint(spark, dir, "tiny", "n_chars < 10")
    }
    // unknown column / bad name / duplicate refuse
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "ghost", "no_such_col > 0")
    }
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "bad name", "n_chars >= 0")
    }
    intercept[IllegalArgumentException] {
      Versioned.addConstraint(spark, dir, "nonneg", "n_chars >= 0")
    }
    // drop re-opens the gate; history carries the metadata ops
    Versioned.dropConstraint(spark, dir, "nonneg")
    Versioned.append(badRow.withColumnRenamed("lang", "language"), dir)
    assert(Versioned.read(spark, dir).filter(col("n_chars") < 0).count() === 1)
    val ops = Versioned.history(spark, dir).select("operation")
      .collect().map(_.getString(0)).toSet
    assert(Set("add_constraint", "drop_constraint").subsetOf(ops))
  }

  test("changeFeed: later-added columns null-fill on older steps; vacuumed windows refuse typed") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir) // v0: (doc_id, lang, n_chars)
    Versioned.append(Seq((200L, "a", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir) // v1: pre-evolution insert
    Versioned.append(Seq((201L, "b", 2L, 0.5)).toDF("doc_id", "lang", "n_chars", "score")
      .repartition(1), dir) // v2: schema-evolving insert (adds score)
    val feed = Versioned.changeFeed(spark, dir, 0, 2, "doc_id")
    assert(feed.columns.contains("score_old") && feed.columns.contains("score_new"))
    val v1row = feed.filter(col("doc_id") === 200L).head()
    assert(v1row.getAs[String]("change") === "insert" &&
      v1row.isNullAt(v1row.fieldIndex("score_new")),
      "a step predating the column must null-fill it")
    val v2row = feed.filter(col("doc_id") === 201L).head()
    assert(v2row.getAs[Double]("score_new") === 0.5)

    // vacuum past the window: the feed refuses typed, like any pinned read
    Versioned.upsert(Seq((5L, "x", 9L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id") // v3, makes 0..2 droppable
    Versioned.vacuum(spark, dir, keepVersions = 1)
    intercept[Versioned.VersionRetentionException] {
      Versioned.changeFeed(spark, dir, 0, 3, "doc_id").count()
    }
  }

  test("materialized change files: written post-commit, served and fallback-identical, id-guarded, vacuum-swept") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(60), dir) // v0
    Versioned.setChangeFiles(spark, dir, enabled = true) // v1 metadata-only
    Versioned.upsert(Seq((5L, "u", 1L), (999L, "n", 2L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id") // v2
    Versioned.deleteIds(Seq(7L).toDF("doc_id"), dir, "doc_id") // v3
    val ch = new java.io.File(s"$dir/_changes")
    assert(new java.io.File(ch, "v00002").exists(), "upsert must materialize")
    assert(new java.io.File(ch, "v00003").exists(), "COW delete must materialize")

    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select("doc_id", "change", "version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2))).toSet
    val served = rows(Versioned.changeFeed(spark, dir, 1, 3, "doc_id"))
    assert(served === Set((5L, "update", 2), (999L, "insert", 2),
      (7L, "delete", 3)))

    // the file is id-relative: a feed keyed by a DIFFERENT (also unique)
    // column must refuse the materialized step and recompute
    val cur = Versioned.snapshot(spark, dir, Some(2))
    val fin = Versioned.snapshot(spark, dir)
    assert(Versioned.materializedStep(spark, dir, 2, cur, fin,
      fin.schema.get, "doc_id").isDefined)
    assert(Versioned.materializedStep(spark, dir, 2, cur, fin,
      fin.schema.get, "n_chars").isEmpty)

    // absence falls back to the computed step, identically
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete(): Unit
    }
    rmrf(new java.io.File(ch, "v00002"))
    assert(rows(Versioned.changeFeed(spark, dir, 1, 3, "doc_id")) === served)

    // appends never materialize; vacuum sweeps dropped versions' files
    Versioned.append(Seq((2000L, "a", 3L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir) // v4
    assert(!new java.io.File(ch, "v00004").exists())
    Versioned.vacuum(spark, dir, keepVersions = 1)
    assert(!new java.io.File(ch, "v00003").exists(),
      "a dropped version's change file must be reclaimed")

    // a conditional MERGE materializes like any copy-on-write commit
    Versioned.mergeIfNewer(Seq((5L, "m", 50L), (3000L, "mi", 4L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id", "n_chars") // v5
    assert(new java.io.File(ch, "v00005").exists(), "merge must materialize")
    assert(rows(Versioned.changeFeed(spark, dir, 4, 5, "doc_id")) ===
      Set((5L, "update", 5), (3000L, "insert", 5)))
  }

  test("consumeChanges: checkpointed windows partition the feed; a crashed consumer replays") {
    import spark.implicits._
    val dir = freshDir()
    val state = freshDir()
    Versioned.init(docs3(30), dir) // v0
    Versioned.append(Seq((100L, "a", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir) // v1
    Versioned.upsert(Seq((5L, "u", 2L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id") // v2
    var seen = Seq.empty[org.apache.spark.sql.DataFrame]
    // round 1: consumes (0, 2]
    assert(Versioned.consumeChanges(spark, dir, state, "doc_id") { feed =>
      seen :+= feed }.contains((0, 2)))
    // nothing new -> None, f never called
    assert(Versioned.consumeChanges(spark, dir, state, "doc_id") { _ =>
      fail("no new versions, consumer must not run") }.isEmpty)
    Versioned.deleteIdsMergeOnRead(Seq(7L).toDF("doc_id"), dir, "doc_id") // v3
    // a consumer crash must NOT advance the checkpoint
    intercept[RuntimeException] {
      Versioned.consumeChanges(spark, dir, state, "doc_id") { _ =>
        throw new RuntimeException("consumer died") }
    }
    // replay: the same window (2, 3] arrives again
    assert(Versioned.consumeChanges(spark, dir, state, "doc_id") { feed =>
      seen :+= feed }.contains((2, 3)))
    // the consumed windows partition the full feed exactly
    val consumed = seen.reduce(_ unionByName _)
      .select("doc_id", "change", "version")
    val full = Versioned.changeFeed(spark, dir, 0, 3, "doc_id")
      .select("doc_id", "change", "version")
    assert(consumed.exceptAll(full).unionAll(full.exceptAll(consumed))
      .count() === 0)
    assert(consumed.count() === 3) // insert 100, update 5, delete 7
  }

  test("changeFeed: resurrection surfaces as insert; restore reports the semantic rollback") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(30), dir) // v0
    Versioned.deleteIdsMergeOnRead(Seq(5L).toDF("doc_id"), dir, "doc_id") // v1
    Versioned.upsert(Seq((5L, "back", 1L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id") // v2: retracts the DV entry, rewrites the old row away
    val res = Versioned.changeFeed(spark, dir, 1, 2, "doc_id").collect()
    assert(res.length === 1)
    assert(res.head.getAs[String]("change") === "insert" &&
      res.head.getAs[Long]("doc_id") === 5L &&
      res.head.getAs[String]("lang_new") === "back",
      "an id invisible at v1 that v2 makes visible must feed as insert")

    Versioned.append(Seq((2000L, "tmp", 9L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir) // v3
    Versioned.restore(spark, dir, 2) // v4: the append rolls back
    val roll = Versioned.changeFeed(spark, dir, 3, 4, "doc_id").collect()
    assert(roll.length === 1 &&
      roll.head.getAs[String]("change") === "delete" &&
      roll.head.getAs[Long]("doc_id") === 2000L &&
      roll.head.getAs[String]("op") === "restore",
      "a restore must feed the rows it semantically removes as deletes")
  }

  test("countAt: metadata-only counts across the copy-on-write lifecycle") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir) // v0: 90 rows
    val c0 = Versioned.countAt(spark, dir)
    assert(c0 === Versioned.TableCount(90L, metadataOnly = true, 0),
      s"init must commit per-file row counts; got $c0")

    Versioned.upsert(Seq((5L, "xx", 999L), (1000L, "new", 1L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id") // v1: 91 rows
    assert(Versioned.countAt(spark, dir) ===
      Versioned.TableCount(91L, metadataOnly = true, 1))
    // the pinned past stays metadata-countable too
    assert(Versioned.countAt(spark, dir, Some(0)) ===
      Versioned.TableCount(90L, metadataOnly = true, 0))

    Versioned.deleteIds(Seq(Tuple1(5L)).toDF("doc_id"), dir, "doc_id") // v2 (COW)
    assert(Versioned.countAt(spark, dir) ===
      Versioned.TableCount(90L, metadataOnly = true, 2),
      "copy-on-write delete physically removes rows — counts stay metadata-only")

    // every metadata count must agree with the scan it replaced
    (0 to 2).foreach { v =>
      assert(Versioned.countAt(spark, dir, Some(v)).count ===
        Versioned.read(spark, dir, Some(v)).count())
    }
  }

  test("countAt: standing deletion vectors fall back to an honest masked scan") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    Versioned.deleteIdsMergeOnRead(
      Seq(3L, 7L, 11L).toDF("doc_id"), dir, "doc_id") // v1: DV masks 3 rows
    val masked = Versioned.countAt(spark, dir)
    assert(masked.count === 87L && !masked.metadataOnly,
      s"a standing DV hides rows the manifest cannot count; got $masked")

    Versioned.compact(spark, dir) // v2: materializes the mask, drops the DV
    val afterCompact = Versioned.countAt(spark, dir)
    assert(afterCompact === Versioned.TableCount(87L, metadataOnly = true, 2),
      "compact materializes the mask — metadata counting resumes")
  }

  test("countAt: fully-deleted version counts zero; rows survive segmented checkpoints") {
    import spark.implicits._
    val dir = freshDir()
    val (thr0, ent0) = (Versioned.SegmentThreshold, Versioned.SegmentEntries)
    try {
      Versioned.SegmentThreshold = 4
      Versioned.SegmentEntries = 3
      Versioned.init(docs3(), dir, statsCol = Some("doc_id"))
      // force a checkpointed (and thus segmented) full manifest
      (1 to Versioned.CheckpointEvery).foreach { i =>
        Versioned.append(Seq((10000L + i, "ap", 1L))
          .toDF("doc_id", "lang", "n_chars").repartition(1), dir)
      }
      val c = Versioned.countAt(spark, dir)
      assert(c.metadataOnly && c.count === (90L + Versioned.CheckpointEvery),
        s"row counts must round-trip through segment files; got $c")

      Versioned.deleteIds(Versioned.read(spark, dir).select("doc_id"),
        dir, "doc_id")
      val gone = Versioned.countAt(spark, dir)
      assert(gone.count === 0L && gone.metadataOnly,
        "a fully-deleted version counts 0 from metadata (read() refuses)")
    } finally {
      Versioned.SegmentThreshold = thr0
      Versioned.SegmentEntries = ent0
    }
  }

  test("detail: one metadata row tracking mask debt, constraints, cdf, clustering, renames") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir)
    def d() = Versioned.detail(spark, dir).head()
    val d0 = d()
    assert(d0.getAs[Int]("version") === 0 &&
      d0.getAs[String]("operation") === "init" &&
      d0.getAs[Long]("total_rows") === 90L &&
      d0.getAs[Int]("dv_files") === 0 &&
      d0.getAs[Int]("num_constraints") === 0 &&
      !d0.getAs[Boolean]("cdf_enabled") &&
      d0.getAs[String]("zorder_dims") === "" &&
      d0.getAs[Int]("renamed_columns") === 0)

    Versioned.deleteIdsMergeOnRead(Seq(Tuple1(5L)).toDF("doc_id"), dir, "doc_id")
    Versioned.renameColumn(spark, dir, "n_chars", "len")
    Versioned.addConstraint(spark, dir, "nonneg", "len >= 0")
    Versioned.setChangeFiles(spark, dir, enabled = true)
    val d1 = d()
    assert(d1.getAs[Int]("dv_files") === 1 && d1.getAs[Long]("dv_rows") === 1L,
      "standing mask debt is visible")
    assert(d1.getAs[Long]("total_rows") === 90L,
      "MoR keeps physical rows")
    assert(d1.getAs[Int]("num_constraints") === 1 &&
      d1.getAs[Boolean]("cdf_enabled") &&
      d1.getAs[Int]("renamed_columns") === 1)
    assert(!d1.getAs[Boolean]("needs_compaction"),
      "1 masked row of 90 is under every debt bar — no nudge yet")

    // 8 ranges: enough to exercise the clustered rewrite while staying
    // under the small-file count bar (32 one-row range files on a
    // 90-row toy table WOULD be small-file debt — correctly)
    Versioned.compactZOrder(spark, dir, Seq("doc_id", "len"), numRanges = 8)
    val d2 = d()
    assert(d2.getAs[String]("zorder_dims") === "doc_id,len",
      "clustering layout is visible")
    assert(d2.getAs[Int]("dv_files") === 0 && d2.getAs[Long]("total_rows") === 89L,
      "the z-order rewrite materialized the mask")
    assert(d2.getAs[Int]("renamed_columns") === 0,
      "full rewrites re-baseline the rename map")
    assert(d2.getAs[Int]("num_constraints") === 1,
      "constraints ride re-baselines")
    assert(!d2.getAs[Boolean]("needs_compaction"))

    // mask debt crossing the 10% row bar flips the maintenance nudge
    Versioned.deleteIdsMergeOnRead(
      (10L until 20L).map(Tuple1(_)).toDF("doc_id"), dir, "doc_id")
    val d3 = d()
    assert(d3.getAs[Long]("dv_rows") === 10L && d3.getAs[Long]("total_rows") === 89L)
    assert(d3.getAs[Boolean]("needs_compaction"),
      "a mask covering >=10% of physical rows must recommend compaction")
    // the maintenance tick acts on the nudge exactly once
    val before = Versioned.read(spark, dir)
      .select("doc_id", "lang", "len").collect().toSet
    val ticked = Versioned.compactIfNeeded(spark, dir)
    assert(ticked.isDefined, "a nudged table must compact on the tick")
    assert(!d().getAs[Boolean]("needs_compaction"),
      "compact materializes the mask and clears the nudge")
    assert(Versioned.read(spark, dir)
      .select("doc_id", "lang", "len").collect().toSet === before,
      "the maintenance rewrite must be content-identical")
    val vAfter = Versioned.versions(spark, dir).max
    assert(Versioned.compactIfNeeded(spark, dir).isEmpty &&
      Versioned.versions(spark, dir).max === vAfter,
      "a healthy table ticks to None with zero commits")
  }

  test("a 500-version synchronous backfill stays plan-bounded and value-correct") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(Seq((-1L, "base", 0L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir) // v0 baseline (no change rows)
    (1 to 500).foreach { v =>
      Versioned.append(Seq((v.toLong, s"l${v % 5}", v.toLong))
        .toDF("doc_id", "lang", "n_chars").repartition(1), dir): Unit
    }
    val feed = Versioned.changeFeed(spark, dir, 0, 500, "doc_id")
    // the chunk-and-materialize fold: no Catalyst plan in the chain may
    // carry more union branches than the cap — a 500-step range planned
    // as one 500-branch union is exactly the driver-side blowup a
    // 10k-version backfill would die on
    val maxUnion = feed.queryExecution.optimizedPlan.collect {
      case u: org.apache.spark.sql.catalyst.plans.logical.Union => u.children.size
    }.foldLeft(0)(math.max)
    assert(maxUnion <= Versioned.MaxFeedPlanBranches,
      s"backfill plan carries a $maxUnion-branch union (cap " +
        s"${Versioned.MaxFeedPlanBranches})")
    val rows = feed.select("doc_id", "change", "version").collect()
    assert(rows.length === 500, "one insert change per appended version")
    assert(rows.forall(_.getString(1) == "insert"))
    assert(rows.map(_.getInt(2)).toSet === (1 to 500).toSet,
      "every version's step must survive the chunked fold")
    assert(rows.map(_.getLong(0)).toSet === (1L to 500L).toSet)
    // a range under the cap still plans the plain lazy union
    val small = Versioned.changeFeed(spark, dir, 0, 10, "doc_id")
    assert(small.select("version").distinct().count() === 10)
  }

  test("legacy manifests with a stats column literally named 'rows' still parse") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(10).repartition(1), dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val mPath = new org.apache.hadoop.fs.Path(s"$dir/_manifests/v00000.manifest")
    val f = mPath.getFileSystem(conf)
    val lines = {
      val in = f.open(mPath)
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    }
    // rewrite the entry line into the PRE-TAG format a legacy table
    // could legally have written: a stats triple named "rows" (and a
    // second variant that ALSO carries the modern tag after it)
    val rewritten = lines.map { l =>
      if (l.startsWith("#") || l.isEmpty) l
      else l.split('\t').head + "\trows\t3\t7"
    }
    val out = f.create(mPath, true)
    try out.write((rewritten.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()

    val snap = Versioned.snapshot(spark, dir, Some(0))
    assert(snap.entries.head.statsFor("rows") === Some((3L, 7L)),
      "the legacy triple parses as the stats box it is")
    assert(snap.entries.head.rows === None,
      "no count was recorded — countAt must fall back, not misread the box")
    assert(!Versioned.countAt(spark, dir, Some(0)).metadataOnly)
    assert(Versioned.countAt(spark, dir, Some(0)).count === 10L)

    // the mixed form: legacy triple THEN the modern tag — both survive
    val mixed = rewritten.map { l =>
      if (l.startsWith("#") || l.isEmpty) l else l + "\trows\t10"
    }
    val out2 = f.create(mPath, true)
    try out2.write((mixed.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out2.close()
    val snap2 = Versioned.snapshot(spark, dir, Some(0))
    assert(snap2.entries.head.statsFor("rows") === Some((3L, 7L)) &&
      snap2.entries.head.rows === Some(10L),
      "triple and tag coexist: shapes are disjoint by the numeric hi token")
  }

  test("countAt manifest-list fast path: a checkpoint counts from the ref list alone") {
    import spark.implicits._
    val dir = freshDir()
    val (thr0, ent0) = (Versioned.SegmentThreshold, Versioned.SegmentEntries)
    try {
      Versioned.SegmentThreshold = 4
      Versioned.SegmentEntries = 3
      Versioned.init(docs3(), dir, statsCol = Some("doc_id"))
      (1 to Versioned.CheckpointEvery).foreach { i =>
        Versioned.append(Seq((20000L + i, "fp", 1L))
          .toDF("doc_id", "lang", "n_chars").repartition(1), dir)
      }
      val ckptV = Versioned.CheckpointEvery
      val expected = 90L + Versioned.CheckpointEvery

      // the checkpoint's @seg refs must carry member-row sums
      val conf = spark.sparkContext.hadoopConfiguration
      val mPath = new org.apache.hadoop.fs.Path(
        f"$dir/_manifests/v$ckptV%05d.manifest")
      val f = mPath.getFileSystem(conf)
      val text = {
        val in = f.open(mPath)
        try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      }
      assert(text.linesIterator.filter(_.startsWith("@seg\t"))
        .forall(_.contains("\trows\t")),
        "every segment ref of a rows-carrying table records its member sum")

      // clone the table (fresh snapshot-cache identity), then delete the
      // segment pages EVERYWHERE (refs are absolute, so both the clone's
      // and the original's page dirs must go): only the manifest-list
      // fast path can possibly answer now — and it must, exactly
      val dir2 = freshDir()
      org.apache.hadoop.fs.FileUtil.copy(f, new org.apache.hadoop.fs.Path(dir),
        f, new org.apache.hadoop.fs.Path(dir2), false, conf)
      f.delete(new org.apache.hadoop.fs.Path(s"$dir2/_manifests/segs"), true)
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/_manifests/segs"), true)
      assert(Versioned.countAt(spark, dir2, Some(ckptV)) ===
        Versioned.TableCount(expected, metadataOnly = true, ckptV),
        "the count must come from the ref list, zero segment opens")
      // while a full resolution genuinely NEEDS the pages
      intercept[Exception] {
        Versioned.read(spark, dir2, Some(ckptV)).count()
      }
    } finally {
      Versioned.SegmentThreshold = thr0
      Versioned.SegmentEntries = ent0
    }
  }

  test("minMaxAt: exact extremes from manifest stats, None when unprovable") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir, statsCol = Some("doc_id"))
    assert(Versioned.minMaxAt(spark, dir, "doc_id") === Some((0L, 89L)))

    // a rename must not break stats resolution (stats key physical names)
    Versioned.renameColumn(spark, dir, "doc_id", "docid")
    assert(Versioned.minMaxAt(spark, dir, "docid") === Some((0L, 89L)),
      "minMaxAt must resolve the logical name through the rename map")

    // a stats-blind file makes the extremes unprovable -> None, never a guess
    Versioned.renameColumn(spark, dir, "docid", "doc_id")
    val noStatsDir = freshDir()
    Versioned.init(docs3(), noStatsDir)
    assert(Versioned.minMaxAt(spark, noStatsDir, "doc_id") === None)

    // a standing DV could hide the extreme row -> None until materialized
    Versioned.deleteIdsMergeOnRead(Seq(Tuple1(89L)).toDF("doc_id"), dir, "doc_id")
    assert(Versioned.minMaxAt(spark, dir, "doc_id") === None,
      "a masked extreme makes manifest extremes unsound")
  }

  test("applyDelta: mixed delete+update+insert lands as ONE atomic commit") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir) // ids 0..89
    val upserts = Seq((5L, "up", 555L), (2000L, "new", 1L))
      .toDF("doc_id", "lang", "n_chars")
    val removes = Seq(Tuple1(7L), Tuple1(8L)).toDF("doc_id")
    val v = Versioned.applyDelta(upserts, removes, dir, "doc_id")
    assert(v === 1, "delete + update + insert must be one snapshot step")
    val cur = Versioned.read(spark, dir)
    assert(cur.count() === 89) // 90 - 2 deleted + 1 inserted
    assert(cur.filter(col("doc_id").isin(7L, 8L)).count() === 0)
    assert(cur.filter(col("doc_id") === 5L).head().getAs[String]("lang") === "up")
    assert(cur.filter(col("doc_id") === 2000L).count() === 1)
    assert(Versioned.snapshot(spark, dir).meta("op") === "write_delta")
    // time travel still serves the pre-delta corpus
    assert(Versioned.read(spark, dir, Some(0)).count() === 90)
  }

  test("applyDelta pinned to a stale base refuses when an interleaved commit contests") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir) // v0
    // the delta was computed against v0; an interleaved upsert then
    // rewrites id 5's file before the delta commits
    Versioned.upsert(Seq((5L, "race", 9L)).toDF("doc_id", "lang", "n_chars"),
      dir, "doc_id") // v1
    val upserts = Seq((5L, "stale", 1L)).toDF("doc_id", "lang", "n_chars")
    val removes = spark.emptyDataset[Long].toDF("doc_id")
    intercept[Versioned.ConcurrentWriteConflictException] {
      Versioned.applyDelta(upserts, removes, dir, "doc_id", baseVersion = Some(0))
    }
    // unpinned (fresh base) the same delta lands fine
    assert(Versioned.applyDelta(upserts, removes, dir, "doc_id") === 2)
  }

  test("applyDelta: pure deletes and disjoint-base pinning both commit") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs3(), dir) // v0
    // interleaved append of DISJOINT ids must NOT block a pinned delta
    Versioned.append(Seq((5000L, "ap", 2L)).toDF("doc_id", "lang", "n_chars"), dir) // v1
    val empty = Seq.empty[(Long, String, Long)].toDF("doc_id", "lang", "n_chars")
    val v = Versioned.applyDelta(empty, Seq(Tuple1(3L)).toDF("doc_id"),
      dir, "doc_id", baseVersion = Some(0))
    assert(v === 2)
    val cur = Versioned.read(spark, dir)
    assert(cur.count() === 90) // 90 - 1 deleted + 1 appended
    assert(cur.filter(col("doc_id") === 3L).count() === 0)
    assert(cur.filter(col("doc_id") === 5000L).count() === 1,
      "the interleaved append's row must survive the rebase")
  }
}
