package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._

import graft.operators.Versioned
import graft.operators.Versioned.{FileEntry, Snapshot}
import graft.sources.VersionedRelation

/** `spark.read.format("graft-versioned")`: the versioned table as a
  * batch DataSource — pinned snapshots, time-travel options, and
  * pushed filters turned into manifest stats/bloom pruning. */
class VersionedRelationSpec extends SparkSuite {

  private def freshDir(): String =
    tempDir("graft_vrel_spec") + "/t"

  private def docs(n: Int = 90) = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, s"lang${i % 3}", (i * 7).toLong))
      .toDF("doc_id", "lang", "n_chars").repartition(6)
  }

  private def assertSameContent(a: DataFrame, b: DataFrame, hint: String): Unit =
    assert(a.exceptAll(b).unionAll(b.exceptAll(a)).count() === 0, hint)

  test("format graft-versioned reads latest, versionAsOf, timestampAsOf") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs(), dir) // v0
    val betweenProbe = {
      // a strictly-later probe millis than v0's stamp, before v1 lands
      Thread.sleep(5); System.currentTimeMillis()
    }
    Thread.sleep(5)
    Versioned.upsert(Seq((5L, "xx", 999L), (2000L, "nw", 1L))
      .toDF("doc_id", "lang", "n_chars"), dir, "doc_id") // v1

    def rel(opts: (String, String)*) = {
      val r = spark.read.format("graft-versioned").option("tableDir", dir)
      opts.foldLeft(r) { case (acc, (k, v)) => acc.option(k, v) }.load()
    }

    assertSameContent(rel(), Versioned.read(spark, dir),
      "no options = latest")
    assertSameContent(rel("versionAsOf" -> "0"), Versioned.read(spark, dir, Some(0)),
      "versionAsOf pins the past")
    assertSameContent(rel("timestampAsOf" -> betweenProbe.toString),
      Versioned.read(spark, dir, Some(0)),
      "a probe between the stamps resolves to v0")
    assert(rel().schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"))

    // SQL-view reach: the whole point of the compatibility surface
    rel().createOrReplaceTempView("graft_vrel_sql")
    assert(spark.sql(
      "SELECT count(*) AS n FROM graft_vrel_sql WHERE lang = 'xx'")
      .head().getLong(0) === 1L)

    intercept[IllegalArgumentException] {
      spark.read.format("graft-versioned").load() // tableDir required
    }
    intercept[IllegalArgumentException] {
      rel("versionAsOf" -> "0", "timestampAsOf" -> "1") // mutually exclusive
    }
  }

  test("relation pins its snapshot at load(): racing commits never mix") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs(), dir)
    val pinned = spark.read.format("graft-versioned")
      .option("tableDir", dir).load()
    val before = pinned.count()
    Versioned.append(Seq((5000L, "ap", 1L)).toDF("doc_id", "lang", "n_chars")
      .repartition(1), dir)
    assert(pinned.count() === before,
      "a commit after load() must not leak into the pinned DataFrame")
    assert(spark.read.format("graft-versioned").option("tableDir", dir)
      .load().count() === before + 1, "a fresh load() sees the commit")
  }

  test("pushed filters prune through manifest stats and blooms (widen-only)") {
    def e(p: String, lo: Long, hi: Long) =
      FileEntry(p, Seq(("id", lo, hi)), rows = Some(hi - lo + 1))
    val entries = Seq(e("f0", 0, 9), e("f1", 10, 19), e("f2", 20, 29),
      FileEntry("f3")) // f3: stats-blind — must ALWAYS be kept
    val snap = Snapshot(0, entries)
    def prune(fs: Filter*) = VersionedRelation.pruneFiles(snap, fs)

    assert(prune(EqualTo("id", 15L)) === Seq("f1", "f3"))
    assert(prune(EqualTo("id", 15)) === Seq("f1", "f3"), "Int probe too")
    assert(prune(GreaterThan("id", 19L)) === Seq("f1", "f2", "f3"),
      "inclusive widening on the boundary: over-keep, never over-prune")
    assert(prune(LessThanOrEqual("id", 9L)) === Seq("f0", "f3"))
    assert(prune(GreaterThanOrEqual("id", 10L), LessThan("id", 15L))
      === Seq("f1", "f3"), "conjunction intersects keep-sets")
    assert(prune(LessThan("id", 20L)) === Seq("f0", "f1", "f2", "f3"),
      "strict bounds widen to inclusive boxes: the boundary file over-keeps")
    assert(prune(In("id", Array(3L, 25L))) === Seq("f0", "f1", "f2", "f3"),
      "In prunes by coarse [min,max] box")
    assert(prune(Or(EqualTo("id", 5L), EqualTo("id", 25L)))
      === Seq("f0", "f2", "f3"), "Or unions when both sides prune")
    assert(prune(Or(EqualTo("id", 5L), EqualTo("lang", 1.5)))
      === Seq("f0", "f1", "f2", "f3"),
      "an un-prunable Or side keeps everything")
    assert(prune(IsNull("id")) === Seq("f0", "f1", "f2", "f3"),
      "shapes the stats cannot prove keep every file")

    // rename map: logical name resolves to the physical stats key
    val renamed = Snapshot(1, entries, Map("colmap" -> "docid:id"))
    assert(VersionedRelation.pruneFiles(renamed, Seq(EqualTo("docid", 15L)))
      === Seq("f1", "f3"))

    // bloom equality on strings: probes route through bloomContains
    val withBloom = {
      val hex = {
        // a bloom holding exactly "aa": set its bit positions
        val arr = new Array[Long](1024 / 64)
        Versioned.bloomPositions("aa").foreach(p =>
          arr(p / 64) |= (1L << (p % 64)))
        arr.map("%016x".format(_)).mkString
      }
      Snapshot(0, Seq(
        FileEntry("b0", bloom = Some(("lang", hex))),
        FileEntry("b1", bloom = Some(("lang", "0" * 256))), // empty bloom
        FileEntry("b2"))) // bloom-blind — always kept
    }
    assert(VersionedRelation.pruneFiles(withBloom, Seq(EqualTo("lang", "aa")))
      === Seq("b0", "b2"))
    assert(VersionedRelation.pruneFiles(withBloom,
      Seq(In("lang", Array[Any]("aa", "zz")))) === Seq("b0", "b2"),
      "string In = union of exact bloom probes")
  }

  test("df.write.format(graft-versioned): modes route through the commit discipline") {
    import spark.implicits._
    val dir = freshDir()
    def w(df: DataFrame) = df.write.format("graft-versioned").option("tableDir", dir)

    // ErrorIfExists = init (with the pruning layout options)
    w(docs()).option("statsColumn", "doc_id").mode("errorifexists").save()
    assert(Versioned.versions(spark, dir) === Seq(0))
    assert(Versioned.minMaxAt(spark, dir, "doc_id") === Some((0L, 89L)),
      "statsColumn option must reach init")
    intercept[Exception] { w(docs()).mode("errorifexists").save() }

    // Append = Versioned.append: a real commit (countable, constrained)
    w(Seq((5000L, "wr", 1L)).toDF("doc_id", "lang", "n_chars"))
      .mode("append").save()
    assert(Versioned.versions(spark, dir) === Seq(0, 1))
    assert(Versioned.countAt(spark, dir) ===
      Versioned.TableCount(91L, metadataOnly = true, 1))
    // ...and the commit gate applies: a CHECK constraint refuses the write
    Versioned.addConstraint(spark, dir, "nonneg", "n_chars >= 0")
    intercept[Exception] {
      w(Seq((6000L, "bad", -5L)).toDF("doc_id", "lang", "n_chars"))
        .mode("append").save()
    }
    assert(Versioned.versions(spark, dir).max === 2, // the addConstraint commit
      "a refused write publishes nothing")

    // Ignore: no-op on an existing table
    w(Seq((7000L, "ig", 1L)).toDF("doc_id", "lang", "n_chars"))
      .mode("ignore").save()
    assert(Versioned.countAt(spark, dir).count === 91L)

    def all(e: Throwable): Seq[Throwable] =
      Option(e).toSeq.flatMap(x => x +: all(x.getCause))

    // Overwrite: the versioned full refresh — ONE replaceContent
    // commit, history intact (the pre-refresh count still time-travels)
    val preOwVersion = Versioned.versions(spark, dir).max
    w(docs().limit(5)).mode("overwrite").save()
    assert(Versioned.countAt(spark, dir).count === 5L)
    assert(Versioned.versions(spark, dir).max === preOwVersion + 1,
      "mode('overwrite') is exactly one commit")
    assert(Versioned.countAt(spark, dir, Some(preOwVersion)).count === 91L,
      "the overwritten content is history, not gone")
    Versioned.restore(spark, dir, preOwVersion): Unit
    assert(Versioned.countAt(spark, dir).count === 91L)

    // append to a missing table points at init, not a silent create
    val miss = intercept[Exception] {
      Seq((1L, "x", 1L)).toDF("doc_id", "lang", "n_chars")
        .write.format("graft-versioned")
        .option("tableDir", freshDir()).mode("append").save()
    }
    assert(all(miss).exists(x => Option(x.getMessage)
      .exists(_.contains("no versioned table"))))
  }

  test("end to end: pruned reads stay exact; DV masks apply; empty keep-set yields zero rows") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs().repartitionByRange(6, col("doc_id")), dir,
      statsCol = Some("doc_id"))
    def rel() = spark.read.format("graft-versioned")
      .option("tableDir", dir).load()

    // range probe: content equal to the plain filtered read
    assertSameContent(
      rel().filter(col("doc_id") >= 20L && col("doc_id") < 40L),
      Versioned.read(spark, dir).filter(col("doc_id") >= 20L && col("doc_id") < 40L),
      "pruned relation read must equal the library read")

    // a probe outside every stats box: zero rows, zero files
    assert(rel().filter(col("doc_id") === 10000L).count() === 0)

    // merge-on-read delete: the mask applies through the relation
    Versioned.deleteIdsMergeOnRead(Seq(Tuple1(25L)).toDF("doc_id"),
      dir, "doc_id")
    assert(rel().filter(col("doc_id") === 25L).count() === 0,
      "DV-masked rows must not surface through the relation")
    assert(rel().count() === 89)
  }

  test("catalog DDL: CREATE TABLE resolves the relation; INSERT INTO commits through append; OVERWRITE is a versioned refresh") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs(30), dir) // v0
    spark.sql("DROP TABLE IF EXISTS graft_vrel_ddl")
    spark.sql(s"CREATE TABLE graft_vrel_ddl USING `graft-versioned` " +
      s"OPTIONS (tableDir '$dir')")
    assertSameContent(spark.table("graft_vrel_ddl"), Versioned.read(spark, dir),
      "catalog resolution must serve the pinned-snapshot relation")

    // INSERT INTO routes through the commit discipline (one new version)
    spark.sql("INSERT INTO graft_vrel_ddl VALUES (9000, 'sql', 42)")
    assert(Versioned.versions(spark, dir) === Seq(0, 1),
      "a SQL insert is one append commit")
    assert(Versioned.read(spark, dir).filter(col("doc_id") === 9000L).count() === 1)
    // the catalog caches the resolved (snapshot-pinned) relation — the
    // standard v1 contract: REFRESH TABLE re-resolves onto the new latest
    assert(spark.table("graft_vrel_ddl").count() === 30,
      "the cached resolution keeps serving its pinned snapshot")
    spark.sql("REFRESH TABLE graft_vrel_ddl")
    assert(spark.table("graft_vrel_ddl").count() === 31,
      "REFRESH TABLE re-pins onto the committed insert")

    // INSERT OVERWRITE: the versioned full refresh — one commit,
    // history intact, RESTORE-revertible (the v2 catalog's semantics,
    // matched on the v1 surface)
    spark.sql("INSERT OVERWRITE TABLE graft_vrel_ddl VALUES (1, 'x', 1)")
    assert(Versioned.versions(spark, dir) === Seq(0, 1, 2),
      "the overwrite is exactly one commit")
    assert(Versioned.countAt(spark, dir).count === 1L)
    assert(Versioned.countAt(spark, dir, Some(1)).count === 31L,
      "the overwritten content is history, not gone")
    Versioned.restore(spark, dir, 1): Unit

    // inserts on a time-traveled relation refuse — commits land on latest
    val tt = intercept[IllegalArgumentException] {
      new VersionedRelation(spark.sqlContext, dir, Some(0))
        .insert(Seq((1L, "x", 1L)).toDF("doc_id", "lang", "n_chars"),
          overwrite = false)
    }
    assert(tt.getMessage.contains("time-traveled"))
    spark.sql("DROP TABLE graft_vrel_ddl")
  }

  test("INSERT INTO keeps the table's statsColumn/bloomColumn pruning layout") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs(30), dir, statsCol = Some("doc_id"),
      bloomCol = Some("lang"))
    spark.sql("DROP TABLE IF EXISTS graft_vrel_layout")
    spark.sql(s"CREATE TABLE graft_vrel_layout USING `graft-versioned` " +
      s"OPTIONS (tableDir '$dir', statsColumn 'doc_id', bloomColumn 'lang')")
    spark.sql("INSERT INTO graft_vrel_layout VALUES (9100, 'sq', 7)")
    // the SQL-ingested file must carry the same manifest skipping
    // metadata a library append with the layout options would — without
    // it every readRange/readEquals after a SQL ingest silently
    // degrades to keep-all on the new files
    val v0Files = Versioned.snapshot(spark, dir, Some(0)).files.toSet
    val newEntries = Versioned.snapshot(spark, dir).entries
      .filterNot(e => v0Files(e.path))
    assert(newEntries.nonEmpty, "the insert must add a file")
    assert(newEntries.forall(e => e.statsFor("doc_id").isDefined),
      "SQL-inserted files must record doc_id stats (the relation's " +
        "creation-time statsColumn)")
    assert(newEntries.forall(_.bloom.exists(_._1 == "lang")),
      "SQL-inserted files must record the lang bloom filter")
    spark.sql("DROP TABLE graft_vrel_layout")
  }

  test("an EMPTY pre-schema-tracking version serves an empty relation via the nearest schema-bearing neighbor") {
    import spark.implicits._
    val dir = freshDir()
    Versioned.init(docs(12), dir) // v0
    Versioned.deleteIds(docs(12).select("doc_id"), dir, "doc_id") // v1: all gone
    assert(Versioned.snapshot(spark, dir, Some(1)).entries.isEmpty,
      "fixture must produce a zero-file snapshot")

    // simulate OLD-FORMAT manifests: strip the stamped schema line
    def stripSchema(v: Int): Unit = {
      val f = new java.io.File(f"$dir/_manifests/v$v%05d.manifest")
      val kept = scala.io.Source.fromFile(f, "UTF-8").getLines()
        .filterNot(_.startsWith("#schema=")).toList
      java.nio.file.Files.write(f.toPath,
        (kept.mkString("\n") + "\n").getBytes("UTF-8")): Unit
    }
    def rel() = spark.read.format("graft-versioned")
      .option("tableDir", dir).option("versionAsOf", "1").load()

    // neighbor still stamped: the empty v1 borrows v0's committed schema
    stripSchema(1); Versioned.snapshotCacheClear()
    assert(rel().schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"),
      "empty unstamped version must borrow the stamped neighbor's schema")
    assert(rel().count() === 0, "and serve an EMPTY relation, not refuse")

    // nothing stamped anywhere: derive by planning the non-empty neighbor
    stripSchema(0); Versioned.snapshotCacheClear()
    assert(rel().schema.fieldNames.toSeq === Seq("doc_id", "lang", "n_chars"),
      "with zero stamps the non-empty neighbor's planned schema applies")
    assert(rel().count() === 0)
  }
}
