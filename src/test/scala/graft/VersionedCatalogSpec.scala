package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.Versioned

/** The DataSource V2 catalog: plain-SQL lifecycle over versioned
  * tables — CREATE / INSERT / SELECT with `VERSION AS OF` /
  * `TIMESTAMP AS OF` / row-level DELETE — with zero library imports on
  * the user side. */
class VersionedCatalogSpec extends SparkSuite {

  private def freshCatalog(): (String, String) = {
    val wh = tempDir("graft_cat_spec")
    val name = s"gc${System.nanoTime().toHexString}"
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.VersionedCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", wh)
    (name, wh)
  }

  test("CREATE TABLE / INSERT INTO / SELECT round-trip through plain SQL") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.docs (doc_id BIGINT, lang STRING, n BIGINT) " +
      "TBLPROPERTIES ('idColumn' = 'doc_id', 'statsColumn' = 'doc_id')")
    // v0 is an empty schema-stamped commit readable as an empty table
    assert(spark.sql(s"SELECT * FROM $cat.docs").count() === 0)
    assert(Versioned.versions(spark, s"$wh/docs") === Seq(0))

    spark.sql(s"INSERT INTO $cat.docs VALUES (1, 'en', 10), (2, 'de', 20)")
    spark.sql(s"INSERT INTO $cat.docs VALUES (3, 'en', 30)")
    assert(Versioned.versions(spark, s"$wh/docs") === Seq(0, 1, 2),
      "each SQL insert is one append commit")
    assert(spark.sql(s"SELECT sum(n) FROM $cat.docs").head().getLong(0) === 60L)

    // the recorded layout gates the SQL ingests: new entries carry stats
    val entries = Versioned.snapshot(spark, s"$wh/docs").entries
    assert(entries.nonEmpty && entries.forall(_.statsFor("doc_id").isDefined),
      "SQL-ingested files must record the idColumn stats layout")

    // filters push into the v2 scan and prune columns reach the relation
    assert(spark.sql(s"SELECT lang FROM $cat.docs WHERE doc_id = 2")
      .collect().map(_.getString(0)).toSeq === Seq("de"))
  }

  test("VERSION AS OF / TIMESTAMP AS OF resolve through the catalog") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.tt (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('idColumn' = 'id')")
    spark.sql(s"INSERT INTO $cat.tt VALUES (1, 'first')")  // v1
    Thread.sleep(10)
    spark.sql(s"INSERT INTO $cat.tt VALUES (2, 'second')") // v2
    assert(spark.sql(s"SELECT count(*) FROM $cat.tt VERSION AS OF 1")
      .head().getLong(0) === 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.tt VERSION AS OF 2")
      .head().getLong(0) === 2L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.tt VERSION AS OF 0")
      .head().getLong(0) === 0L, "v0 is the empty CREATE commit")

    // TIMESTAMP AS OF between the two insert stamps serves v1 exactly
    val t1 = Versioned.snapshot(spark, s"$wh/tt", Some(1))
      .meta("committedAt").toLong
    val t2 = Versioned.snapshot(spark, s"$wh/tt", Some(2))
      .meta("committedAt").toLong
    if (t2 > t1) {
      val probe = new java.sql.Timestamp((t1 + t2) / 2)
      assert(spark.sql(
        s"SELECT count(*) FROM $cat.tt TIMESTAMP AS OF '$probe'")
        .head().getLong(0) === 1L)
    }
    // a time-traveled resolution is read-only by capability
    val ins = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.tt VERSION AS OF 1 VALUES (9, 'x')")
    }
    assert(ins != null)
    // a non-integer version refuses typed
    val bad = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.tt VERSION AS OF 'abc'").collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(bad).exists(_.contains("integer commit version")),
      s"expected the typed version error, got: ${bad.getMessage}")
  }

  test("DELETE FROM commits one merge-on-read vector through the library delete") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.d (id BIGINT, lang STRING, n BIGINT) " +
      "TBLPROPERTIES ('idColumn' = 'id')")
    spark.sql(s"INSERT INTO $cat.d SELECT id, " +
      "CASE WHEN id % 2 = 0 THEN 'en' ELSE 'de' END, id * 7 " +
      "FROM range(100)")
    val filesBefore = Versioned.snapshot(spark, s"$wh/d").files

    // a predicate that is NOT id-shaped: membership resolves through a
    // real read, the commit is O(matched ids)
    spark.sql(s"DELETE FROM $cat.d WHERE lang = 'de' AND n > 350")
    val snap = Versioned.snapshot(spark, s"$wh/d")
    assert(snap.files === filesBefore,
      "the SQL delete must be merge-on-read: zero data files churn")
    assert(snap.dvFiles.nonEmpty && snap.dvCol.contains("id"))
    // deleted: odd ids with id*7 > 350 -> id in {51, 53, ..., 99} = 25
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").head().getLong(0) === 75L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.d WHERE lang = 'de'")
      .head().getLong(0) === 25L)
    // time travel still serves the pre-delete state
    assert(spark.sql(s"SELECT count(*) FROM $cat.d VERSION AS OF 1")
      .head().getLong(0) === 100L)

    // string-shaped predicates translate too
    spark.sql(s"DELETE FROM $cat.d WHERE lang LIKE 'e%'")
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").head().getLong(0) === 25L)

    // GENERAL-expression predicates (no v1 source-filter form exists):
    // modulo arithmetic replays through the v2 translator. Remaining
    // rows are odd ids <= 49 (25 of them); id % 3 = 0 removes
    // {3,9,...,45} = 8 more
    spark.sql(s"DELETE FROM $cat.d WHERE id % 3 = 0")
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").head().getLong(0) === 17L)
    // IN + arithmetic compose
    spark.sql(s"DELETE FROM $cat.d WHERE id + 1 IN (2, 6)")
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").head().getLong(0) === 15L)

    // DELETE on an id-less table refuses with the property hint
    spark.sql(s"CREATE TABLE $cat.noid (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.noid VALUES (1)")
    val ex = intercept[Exception] {
      spark.sql(s"DELETE FROM $cat.noid WHERE id = 1")
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("idColumn")),
      s"expected the idColumn property hint, got: ${ex.getMessage}")
    // DELETE matching nothing commits nothing
    val vBefore = Versioned.versions(spark, s"$wh/d").max
    spark.sql(s"DELETE FROM $cat.d WHERE id = -1")
    assert(spark.sql(s"SELECT count(*) FROM $cat.d").head().getLong(0) === 15L)
    assert(Versioned.versions(spark, s"$wh/d").max >= vBefore)
  }

  test("catalog hygiene: list/drop/rename; external location, ALTER, unknown properties and OVERWRITE refuse") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.a (id BIGINT)")
    spark.sql(s"CREATE TABLE $cat.b (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.a VALUES (7), (8)")
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet === Set("a", "b"))

    // the TO name is catalog-relative (a catalog prefix would read as a
    // namespace segment). DATA must survive the rename: manifest paths
    // travel absolutely, so the rename's metadata-only relocation is
    // what keeps the moved table's scans from dangling.
    spark.sql(s"ALTER TABLE $cat.a RENAME TO c")
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet === Set("b", "c"))
    assert(Versioned.versions(spark, s"$wh/c").nonEmpty)
    assert(spark.sql(s"SELECT sum(id) FROM $cat.c").head().getLong(0) === 15L,
      "a renamed table's data reads from its new home")

    spark.sql(s"DROP TABLE $cat.c")
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet === Set("b"))
    assert(!new java.io.File(s"$wh/c").exists(), "managed drop reclaims the dir")

    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)

    val loc = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.ext (id BIGINT) LOCATION '/tmp/elsewhere'")
    }
    assert(msgs(loc).exists(_.contains("path-derived")),
      s"expected the external-location refusal, got: ${loc.getMessage}")

    val unk = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.t2 (id BIGINT) " +
        "TBLPROPERTIES ('idColum' = 'id')") // typo'd key
    }
    assert(msgs(unk).exists(_.contains("unknown table properties")),
      s"expected the unknown-property refusal, got: ${unk.getMessage}")

    val alter = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.b SET TBLPROPERTIES ('idColumn' = 'id')")
    }
    assert(msgs(alter).exists(_.contains("not supported")),
      s"expected the unsupported-change refusal, got: ${msgs(alter)}")

    // PARTITIONED BY refuses: the table owns its layout
    val part = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.p (id BIGINT, d STRING) PARTITIONED BY (d)")
    }
    assert(msgs(part).exists(_.contains("physical layout")))
  }

  test("namespaces are path-derived: DDL, nesting, and the table/namespace distinction") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE NAMESPACE $cat.bronze")
    spark.sql(s"CREATE TABLE $cat.bronze.docs (id BIGINT)")
    spark.sql(s"INSERT INTO $cat.bronze.docs VALUES (1)")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).toSeq === Seq("bronze"))
    assert(spark.sql(s"SHOW TABLES IN $cat.bronze").collect()
      .map(_.getString(1)).toSeq === Seq("docs"))

    // a TABLE directory is never listed as a namespace, and a top-level
    // table lives beside namespaces without colliding
    spark.sql(s"CREATE TABLE $cat.plain (id BIGINT)")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").collect()
      .map(_.getString(0)).toSeq === Seq("bronze"))

    // non-cascade drop refuses while anything lives inside; cascade
    // reclaims the subtree
    intercept[Exception] { spark.sql(s"DROP NAMESPACE $cat.bronze") }
    assert(spark.sql(s"SELECT * FROM $cat.bronze.docs").count() === 1)
    spark.sql(s"DROP NAMESPACE $cat.bronze CASCADE")
    assert(spark.sql(s"SHOW NAMESPACES IN $cat").count() === 0)
    assert(!new java.io.File(s"$wh/bronze").exists())

    // zero-state refusals: namespace properties and ALTER NAMESPACE
    val prop = intercept[Exception] {
      spark.sql(s"CREATE NAMESPACE $cat.np COMMENT 'nope'")
    }
    assert(String.valueOf(prop.getMessage).contains("path-derived"))
    spark.sql(s"CREATE NAMESPACE $cat.silver")
    val alter = intercept[Exception] {
      spark.sql(s"ALTER NAMESPACE $cat.silver SET PROPERTIES ('k' = 'v')")
    }
    assert(String.valueOf(alter.getMessage).contains("no"),
      s"got: ${alter.getMessage}")
  }

  test("INSERT OVERWRITE and TRUNCATE TABLE are history-preserving commits") {
    val (cat, wh) = freshCatalog()
    def content() = spark.sql(s"SELECT doc_id, v FROM $cat.o").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    def op(ver: Int) =
      Versioned.snapshot(spark, s"$wh/o", Some(ver)).meta.getOrElse("op", "?")
    spark.sql(s"CREATE TABLE $cat.o (doc_id BIGINT, v STRING) " +
      "TBLPROPERTIES ('idColumn' = 'doc_id', 'statsColumn' = 'doc_id')")
    spark.sql(s"INSERT INTO $cat.o VALUES (1,'a'), (2,'b')") // v1

    // the full refresh: ONE versioned commit, old content still
    // time-travelable — revertible, unlike the refused REPLACE TABLE
    spark.sql(s"INSERT OVERWRITE $cat.o VALUES (9,'z'), (10,'y')") // v2
    assert(content() === Set((9L, "z"), (10L, "y")))
    assert(Versioned.versions(spark, s"$wh/o") === Seq(0, 1, 2))
    assert(op(2) === "overwrite")
    assert(spark.sql(s"SELECT doc_id FROM $cat.o VERSION AS OF 1")
      .collect().map(_.getLong(0)).toSet === Set(1L, 2L),
      "the overwritten content is history, not gone")

    // the catalog identity survives the rewrite: row-level SQL works
    spark.sql(s"DELETE FROM $cat.o WHERE doc_id = 9") // v3, MoR vector
    assert(content() === Set((10L, "y")))
    // a standing deletion vector dies with the content it masked: the
    // next overwrite serves the previously-deleted id again
    spark.sql(s"INSERT OVERWRITE $cat.o VALUES (9,'back')") // v4
    assert(content() === Set((9L, "back")))

    // constraints gate the refresh BEFORE anything publishes
    intercept[Exception] {
      spark.sql(s"INSERT OVERWRITE $cat.o VALUES (CAST(NULL AS BIGINT),'n')")
    }
    assert(content() === Set((9L, "back")),
      "a refused overwrite publishes nothing")

    // TRUNCATE TABLE: content empty, lineage intact, RESTORE recovers
    spark.sql(s"TRUNCATE TABLE $cat.o")
    assert(spark.table(s"$cat.o").count() === 0)
    spark.sql(s"CALL $cat.restore('o', 4)")
    assert(content() === Set((9L, "back")))
  }

  test("CTAS: CREATE TABLE AS SELECT lands as create + one append; REPLACE refuses") {
    val (cat, wh) = freshCatalog()
    spark.range(1, 11)
      .select(col("id").as("doc_id"), concat(lit("t"), col("id")).as("txt"))
      .createOrReplaceTempView("ctas_src")

    // the non-atomic v2 CTAS: createTable stamps the query schema (v0,
    // empty) and the write is an ordinary append commit (v1) — so the
    // table's lineage reads exactly like CREATE-then-INSERT, and every
    // ingest rule (constraints, layout, evolution) applied to the write
    spark.sql(s"CREATE TABLE $cat.ct TBLPROPERTIES " +
      "('idColumn' = 'doc_id', 'statsColumn' = 'doc_id') " +
      "AS SELECT doc_id, txt FROM ctas_src WHERE doc_id <= 7")
    assert(Versioned.versions(spark, s"$wh/ct") === Seq(0, 1))
    assert(spark.sql(s"SELECT * FROM $cat.ct").count() === 7)

    // the properties rode the CREATE: stats layout on the ingested
    // files, the id stamped non-nullable with its enforcing constraint
    val snap = Versioned.snapshot(spark, s"$wh/ct")
    assert(snap.entries.nonEmpty && snap.entries.forall(_.statsFor("doc_id").isDefined))
    assert(snap.meta.get("catalog.idColumn").contains("doc_id"))
    assert(snap.meta.contains("constraint.doc_id_not_null"))

    // and the table is a full citizen afterwards: INSERT, UPDATE, DELETE
    spark.sql(s"INSERT INTO $cat.ct VALUES (100, 'x')")
    spark.sql(s"UPDATE $cat.ct SET txt = 'u' WHERE doc_id = 3")
    assert(spark.sql(s"SELECT txt FROM $cat.ct WHERE doc_id = 3")
      .head().getString(0) === "u")

    // a CTAS whose write fails must not leave a half-created table:
    // the engine's non-atomic cleanup drops what createTable made
    val boom = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.bad AS " +
        "SELECT doc_id, raise_error('ctas boom') AS t FROM ctas_src")
    }
    assert(String.valueOf(boom.getMessage).nonEmpty)
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).toSet === Set("ct"),
      "a failed CTAS must drop the half-created table")

    // REPLACE TABLE refuses TYPED and LEAVES THE TABLE INTACT: without
    // the staging surface the engine's non-atomic ReplaceTableExec
    // DROPS the existing table before write planning discovers the
    // missing truncate capability — a refused statement destroying the
    // corpus it refused to replace. stageReplace throws before the
    // engine touches anything.
    val rep = intercept[Exception] {
      spark.sql(s"REPLACE TABLE $cat.ct AS SELECT 1L AS a")
    }
    assert(String.valueOf(rep.getMessage).contains("never silently replaced"),
      s"expected the typed replace refusal, got: ${rep.getMessage}")
    assert(spark.sql(s"SELECT * FROM $cat.ct").count() === 8,
      "the refused REPLACE must leave the table's content standing")

    // CREATE OR REPLACE: a plain staged create when nothing exists,
    // the same typed refusal (table untouched) when something does
    spark.sql(s"CREATE OR REPLACE TABLE $cat.fresh AS SELECT 1L AS a")
    assert(spark.sql(s"SELECT * FROM $cat.fresh").count() === 1)
    val cor = intercept[Exception] {
      spark.sql(s"CREATE OR REPLACE TABLE $cat.ct AS SELECT 1L AS a")
    }
    assert(String.valueOf(cor.getMessage).contains("never silently replaced"))
    assert(spark.sql(s"SELECT * FROM $cat.ct").count() === 8)
  }

  test("SQL UPDATE commits one atomic delta version") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.u (doc_id BIGINT, lang STRING, n BIGINT) " +
      "TBLPROPERTIES ('idColumn' = 'doc_id', 'statsColumn' = 'doc_id')")
    spark.sql(s"INSERT INTO $cat.u VALUES (1,'en',10), (2,'de',20), (3,'en',30), (4,'fr',40)")
    spark.sql(s"UPDATE $cat.u SET n = n * 100, lang = 'up' WHERE doc_id % 2 = 0")
    assert(Versioned.versions(spark, s"$wh/u") === Seq(0, 1, 2),
      "one UPDATE = one commit")
    assert(Versioned.snapshot(spark, s"$wh/u").meta("op") === "write_delta")
    val rows = spark.sql(s"SELECT doc_id, lang, n FROM $cat.u ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, "en", 10L), (2L, "up", 2000L),
      (3L, "en", 30L), (4L, "up", 4000L)))
    // a 0-rows UPDATE is a SQL no-op, not an empty commit
    spark.sql(s"UPDATE $cat.u SET n = 0 WHERE doc_id > 1000")
    assert(Versioned.versions(spark, s"$wh/u") === Seq(0, 1, 2))
    // nothing staged is left behind
    val staged = new org.apache.hadoop.fs.Path(s"$wh/u/_staged")
    val fs = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(staged) || fs.listStatus(staged).isEmpty,
      "the stage directory must be reclaimed after commit")
  }

  test("SQL MERGE INTO: delete + update + insert land as ONE version") {
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.m (doc_id BIGINT, lang STRING, n BIGINT) " +
      "TBLPROPERTIES ('idColumn' = 'doc_id')")
    spark.sql(s"INSERT INTO $cat.m VALUES (1,'en',10), (2,'de',20), (3,'en',30)")
    import spark.implicits._
    Seq((2L, "xx", 222L), (3L, "kill", 0L), (9L, "nw", 90L))
      .toDF("doc_id", "lang", "n").createOrReplaceTempView("m_src")
    spark.sql(
      s"""MERGE INTO $cat.m t USING m_src s ON t.doc_id = s.doc_id
         |WHEN MATCHED AND s.lang = 'kill' THEN DELETE
         |WHEN MATCHED THEN UPDATE SET t.lang = s.lang, t.n = s.n
         |WHEN NOT MATCHED THEN INSERT (doc_id, lang, n) VALUES (s.doc_id, s.lang, s.n)
         |""".stripMargin)
    assert(Versioned.versions(spark, s"$wh/m") === Seq(0, 1, 2),
      "one MERGE = one atomic commit")
    val rows = spark.sql(s"SELECT doc_id, lang, n FROM $cat.m ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows === Seq((1L, "en", 10L), (2L, "xx", 222L), (9L, "nw", 90L)))
    // time travel still serves the pre-merge state
    assert(spark.sql(s"SELECT count(*) FROM $cat.m VERSION AS OF 1")
      .head().getLong(0) === 3L)
  }

  test("ALTER TABLE ADD COLUMN / RENAME COLUMN are metadata-only commits") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.e (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('idColumn' = 'id')")
    spark.sql(s"INSERT INTO $cat.e VALUES (1, 'a'), (2, 'b')") // v1
    val filesBefore = Versioned.snapshot(spark, s"$wh/e").files

    spark.sql(s"ALTER TABLE $cat.e ADD COLUMN score DOUBLE") // v2
    spark.sql(s"ALTER TABLE $cat.e RENAME COLUMN v TO label") // v3
    val after = Versioned.snapshot(spark, s"$wh/e")
    assert(after.files === filesBefore,
      "schema evolution must rewrite ZERO data files")
    assert(Versioned.versions(spark, s"$wh/e") === Seq(0, 1, 2, 3))
    // old rows null-fill the new column and serve the renamed label
    val rows = spark.sql(s"SELECT id, label, score FROM $cat.e ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.isNullAt(2))).toSeq
    assert(rows === Seq((1L, "a", true), (2L, "b", true)))
    // the widened column ingests and updates like any other
    spark.sql(s"INSERT INTO $cat.e VALUES (3, 'c', 0.5)")
    spark.sql(s"UPDATE $cat.e SET score = 9.0 WHERE id = 1")
    val scored = spark.sql(s"SELECT id, score FROM $cat.e WHERE score IS NOT NULL " +
      "ORDER BY id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(scored === Seq((1L, 9.0), (3L, 0.5)))
    // time travel below the evolution sees the OLD schema
    assert(spark.sql(s"SELECT * FROM $cat.e VERSION AS OF 1").columns.toSeq ===
      Seq("id", "v"))
    // widen-only: NOT NULL adds and type changes refuse typed
    val nn = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.e ADD COLUMN req BIGINT NOT NULL")
    }
    assert(msgs(nn).exists(_.contains("cannot satisfy")), s"got: ${msgs(nn)}")
    val dc = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.e DROP COLUMN score")
    }
    assert(msgs(dc).exists(_.contains("widen-only")), s"got: ${msgs(dc)}")

    // SET/UNSET TBLPROPERTIES retarget the pruning LAYOUT as
    // metadata-only commits: future ingests record the new stats
    // column, nothing rewrites; the idColumn (identity) still refuses
    spark.sql(s"ALTER TABLE $cat.e SET TBLPROPERTIES ('statsColumn' = 'id')")
    assert(Versioned.snapshot(spark, s"$wh/e").meta
      .get("catalog.statsColumn").contains("id"))
    spark.sql(s"INSERT INTO $cat.e VALUES (7, 'g', 0.1)")
    val newest = Versioned.snapshot(spark, s"$wh/e").entries
      .filterNot(e => Versioned.snapshot(spark, s"$wh/e", Some(5)).files.contains(e.path))
    assert(newest.nonEmpty && newest.forall(_.statsFor("id").isDefined),
      "ingests after SET TBLPROPERTIES record the new layout")
    val badCol = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.e SET TBLPROPERTIES ('statsColumn' = 'nope')")
    }
    assert(msgs(badCol).exists(_.contains("not a column")), s"got: ${msgs(badCol)}")
    spark.sql(s"ALTER TABLE $cat.e UNSET TBLPROPERTIES ('statsColumn')")
    assert(!Versioned.snapshot(spark, s"$wh/e").meta.contains("catalog.statsColumn"))
    val idp = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.e SET TBLPROPERTIES ('idColumn' = 'score')")
    }
    assert(msgs(idp).exists(_.contains("identity")), s"got: ${msgs(idp)}")
  }

  test("CALL procedures: the maintenance surface through plain SQL") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    val (cat, wh) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.pt (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('idColumn' = 'id')")
    spark.sql(s"INSERT INTO $cat.pt VALUES (1,'a'), (2,'b')") // v1
    spark.sql(s"INSERT INTO $cat.pt VALUES (3,'c')")          // v2

    // history: one row per retained version, served metadata-only
    val hist = spark.sql(s"CALL $cat.history(table => 'pt')")
    assert(hist.select("version").collect().map(_.getInt(0)).toSeq === Seq(0, 1, 2))
    // detail: the one-row summary; no compaction nudge on a tiny table
    val det = spark.sql(s"CALL $cat.detail('pt')").head()
    assert(det.getAs[Long]("total_rows") === 3L)

    // compact folds the small files; the result row carries the version
    val cv = spark.sql(s"CALL $cat.compact(table => 'pt')").head().getInt(0)
    assert(cv === 3)
    assert(spark.sql(s"SELECT count(*) FROM $cat.pt").head().getLong(0) === 3L)
    // the full rewrite must CARRY the catalog identity properties —
    // dropping them turned post-maintenance SQL row-level statements
    // into typed refusals (found by this very assertion)
    assert(Versioned.snapshot(spark, s"$wh/pt").meta
      .get("catalog.idColumn").contains("id"),
      "compact must carry catalog.* table properties")
    spark.sql(s"DELETE FROM $cat.pt WHERE id = 99") // resolves idColumn

    // restore publishes an old state as a NEW version (never rewrites)
    val rv = spark.sql(s"CALL $cat.restore('pt', 1)").head().getInt(0)
    assert(rv === 4)
    assert(spark.sql(s"SELECT count(*) FROM $cat.pt").head().getLong(0) === 2L)

    // constraints: add refuses bad ingests, drop lifts the gate
    spark.sql(s"CALL $cat.add_constraint('pt', 'v_nonempty', 'length(v) > 0')")
    val bad = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.pt VALUES (9, '')")
    }
    assert(msgs(bad).exists(_.contains("v_nonempty")), s"got: ${msgs(bad)}")
    spark.sql(s"CALL $cat.drop_constraint('pt', 'v_nonempty')")
    spark.sql(s"INSERT INTO $cat.pt VALUES (9, '')")

    // schema evolution twins
    spark.sql(s"CALL $cat.add_column('pt', 'score', 'double')")
    spark.sql(s"CALL $cat.rename_column('pt', 'v', 'label')")
    assert(spark.table(s"$cat.pt").columns.toSeq === Seq("id", "label", "score"))

    // vacuum reports reclaimed files and dropped versions
    val vac = spark.sql(s"CALL $cat.vacuum(table => 'pt', keep_versions => 1)").head()
    assert(vac.getSeq[Int](vac.fieldIndex("dropped_versions")).nonEmpty)
    assert(spark.sql(s"SELECT count(*) FROM $cat.pt").head().getLong(0) === 3L,
      "vacuum reclaims history, never the latest state")

    // clone: a zero-copy v0 in a fresh directory
    spark.sql(s"CALL $cat.clone('pt', 'pt2')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.pt2").head().getLong(0) === 3L)

    // unknown procedure lists what exists
    val unk = intercept[Exception] { spark.sql(s"CALL $cat.nope('pt')") }
    assert(msgs(unk).exists(_.contains("unknown procedure")), s"got: ${msgs(unk)}")
  }

  test("row-level guards: NULL id refuses at ingest; UPDATE can move a row across ids") {
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else String.valueOf(t.getMessage) +: msgs(t.getCause)
    val (cat, _) = freshCatalog()
    spark.sql(s"CREATE TABLE $cat.g (id BIGINT, v STRING) " +
      "TBLPROPERTIES ('idColumn' = 'id')")
    // the auto NOT NULL constraint gates every ingest path
    val nullIns = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.g VALUES (CAST(NULL AS BIGINT), 'x')")
    }
    assert(msgs(nullIns).exists(m => m.contains("id_not_null") ||
      m.contains("NOT NULL") || m.contains("null")), s"got: ${msgs(nullIns)}")
    spark.sql(s"INSERT INTO $cat.g VALUES (1, 'a')")
    // UPDATE that moves a row ACROSS ids: old id deleted, new id lands
    spark.sql(s"UPDATE $cat.g SET id = 7 WHERE id = 1")
    val moved = spark.sql(s"SELECT id, v FROM $cat.g").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(moved === Seq((7L, "a")))
  }
}
