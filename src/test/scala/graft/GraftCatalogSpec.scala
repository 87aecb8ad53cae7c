package graft

import org.apache.spark.sql.AnalysisException
import org.scalatest.funsuite.AnyFunSuite

/** The DSv2 TableCatalog tier (sources.v2.GraftCatalog): DirSink tables
  * addressable as SQL names — CREATE / CTAS / INSERT / SELECT / RENAME /
  * DROP all resolve through Spark's catalog plumbing into the proven
  * staged-write manifest-commit machinery. */
class GraftCatalogSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    if (s.conf.getOption("spark.sql.catalog.graftcat").isEmpty) {
      s.conf.set("spark.sql.catalog.graftcat",
        "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftcat.warehouse",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    }
    s
  }

  test("create + insert + select round-trips through SQL names") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db1")
    spark.sql("CREATE TABLE graftcat.db1.docs (id BIGINT, body STRING)")
    spark.sql(
      "INSERT INTO graftcat.db1.docs VALUES (1, 'alpha'), (2, 'beta')")
    spark.sql("INSERT INTO graftcat.db1.docs VALUES (3, 'gamma')")
    val got = spark.sql("SELECT id, body FROM graftcat.db1.docs")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")))
    // the catalog resolves into the SAME manifest protocol: the table
    // dir holds a _GRAFT_COMMIT whose schema is the DDL's
    val wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    val m = graft.sources.v2.DirSink.readManifest(s"$wh/db1/docs")
    assert(m.exists(_._1.fieldNames.toSeq == Seq("id", "body")),
      s"manifest schema mismatch: ${m.map(_._1.toDDL)}")
  }

  test("ALTER TABLE ADD COLUMNS evolves the schema; old rows read with NULL tails") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbev")
    spark.sql("CREATE TABLE graftcat.dbev.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftcat.dbev.t VALUES (1, 'old'), (2, 'older')")
    spark.sql("ALTER TABLE graftcat.dbev.t ADD COLUMNS (extra BIGINT)")
    spark.sql("INSERT INTO graftcat.dbev.t VALUES (3, 'new', 30)")
    val got = spark.sql("SELECT id, v, extra FROM graftcat.dbev.t")
      .as[(Long, String, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "old", None), (2L, "older", None),
      (3L, "new", Some(30L))))
    // filters over the evolved column behave (incl. null semantics on
    // pre-evolution rows) and skipping never drops an old file for it
    assert(spark.sql(
      "SELECT count(*) FROM graftcat.dbev.t WHERE extra IS NULL")
      .head.getLong(0) == 2)
    assert(spark.sql(
      "SELECT id FROM graftcat.dbev.t WHERE extra = 30")
      .head.getLong(0) == 3)
  }

  test("unsupported schema changes are rejected; DROP COLUMN is parquet-plane-only") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbev2")
    spark.sql("CREATE TABLE graftcat.dbev2.t (id BIGINT, v STRING)")
    // type changes stay rejected (the positional per-file stats cannot
    // re-map them); RENAME COLUMN became supported in round 14
    // via Delta-style column mapping — RenameColumnSpec owns it
    for (ddl <- Seq(
      "ALTER TABLE graftcat.dbev2.t ALTER COLUMN id TYPE STRING")) {
      val e = intercept[Exception](spark.sql(ddl))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else t.getMessage +: msgs(t.getCause)
      assert(msgs(e).exists(m => m != null &&
        (m.contains("ADD COLUMNS") || m.contains("not supported") ||
          m.contains("Unsupported"))), s"unexpected error for $ddl: $e")
    }
    // DROP COLUMN succeeds on the parquet plane — round 13,
    // DropColumnSpec owns the deep coverage; no other plane can be
    // created (see the 'format' property refusal below)
    spark.sql("ALTER TABLE graftcat.dbev2.t DROP COLUMN v")
    assert(spark.table("graftcat.dbev2.t").columns.toSeq == Seq("id"))
  }

  test("CREATE and CTAS refuse a 'format' property other than parquet") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbfmt")
    val wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.getMessage +: msgs(t.getCause)
    for (ddl <- Seq(
      "CREATE TABLE graftcat.dbfmt.c (id BIGINT) " +
        "TBLPROPERTIES ('format' = 'text')",
      "CREATE TABLE graftcat.dbfmt.s TBLPROPERTIES ('format' = 'text') " +
        "AS SELECT id FROM range(3)")) {
      val e = intercept[Exception](spark.sql(ddl))
      assert(msgs(e).exists(m => m != null && m.contains("'text'") &&
        m.contains("parquet")), s"unexpected error for $ddl: $e")
    }
    assert(!spark.catalog.tableExists("graftcat.dbfmt.c") &&
      !spark.catalog.tableExists("graftcat.dbfmt.s"),
      "a refused definition must leave no table behind")
    assert(!graft.sources.v2.DirSink.zoneExists(s"$wh/dbfmt/c") &&
      !graft.sources.v2.DirSink.zoneExists(s"$wh/dbfmt/s"))
    // the explicit default is accepted and stamped
    spark.sql("CREATE TABLE graftcat.dbfmt.p (id BIGINT) " +
      "TBLPROPERTIES ('format' = 'parquet')")
    assert(graft.sources.v2.DirSink.zoneFormat(s"$wh/dbfmt/p")
      .contains(graft.sources.v2.DirSink.FormatParquet))
  }

  test("file-aligned DELETE: aligned predicates swap the manifest; splitting predicates are refused") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbdel")
    spark.sql("CREATE TABLE graftcat.dbdel.t (id BIGINT, v STRING)")
    // three single-partition inserts = three files with disjoint id
    // ranges (clustered zone — the layout file-aligned DELETE needs)
    spark.sql("INSERT INTO graftcat.dbdel.t " +
      "SELECT id, concat('v', id) FROM range(0, 10, 1, 1)")
    spark.sql("INSERT INTO graftcat.dbdel.t " +
      "SELECT id, concat('v', id) FROM range(10, 20, 1, 1)")
    spark.sql("INSERT INTO graftcat.dbdel.t " +
      "SELECT id, concat('v', id) FROM range(20, 30, 1, 1)")
    val wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    val dir = s"$wh/dbdel/t"
    assert(graft.sources.v2.DirSink.readManifest(dir).get._2.size == 3)

    // aligned: id < 10 is exactly the first file
    spark.sql("DELETE FROM graftcat.dbdel.t WHERE id < 10")
    assert(spark.sql("SELECT count(*) FROM graftcat.dbdel.t")
      .head.getLong(0) == 20)
    assert(graft.sources.v2.DirSink.readManifest(dir).get._2.size == 2)
    // the dropped file's bytes are RETAINED for the log's pre-delete
    // generations (time travel), and reclaimed by vacuum once its
    // segments age out of retention
    graft.sources.v2.DirSink.vacuum(dir, olderThanMs = 0L)
    val live = graft.sources.v2.DirSink.readManifest(dir).get._2.map(_._1).toSet
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith(graft.sources.v2.DirSink.ManifestName))
    assert(files.map(_.getName).forall(live.contains))

    // splitting: id < 15 cuts the [10,19] file — ONLY that file is
    // copy-on-write rewritten; the [20,29] file survives as metadata
    // (same manifest line, no bytes read)
    val untouched = graft.sources.v2.DirSink.readManifest(dir).get._2
      .map(_._1).toSet
    val splitName = graft.sources.v2.DirSink.readManifestEntries(dir).get._2
      .map(_.name)
    spark.sql("DELETE FROM graftcat.dbdel.t WHERE id < 15")
    assert(spark.sql("SELECT count(*) FROM graftcat.dbdel.t")
      .head.getLong(0) == 15)
    assert(spark.sql("SELECT min(id), max(id) FROM graftcat.dbdel.t")
      .head match { case r => r.getLong(0) == 15 && r.getLong(1) == 29 })
    val after = graft.sources.v2.DirSink.readManifest(dir).get._2
      .map(_._1).toSet
    assert(after.size == 2)
    assert((after intersect untouched).size == 1,
      s"exactly the aligned file must keep its identity; " +
        s"before=$splitName after=$after")

    // unfiltered DELETE drops every file, schema survives
    spark.sql("DELETE FROM graftcat.dbdel.t")
    assert(spark.sql("SELECT count(*) FROM graftcat.dbdel.t")
      .head.getLong(0) == 0)
    assert(graft.sources.v2.DirSink.readManifestSchema(dir)
      .fieldNames.toSeq == Seq("id", "v"))
  }

  test("DELETE keeps NULL-predicate rows through the copy-on-write rewrite") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbdel2")
    spark.sql("CREATE TABLE graftcat.dbdel2.u (id BIGINT, v STRING)")
    val wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    val dir = s"$wh/dbdel2/u"
    // one file holding a matching row AND a NULL row: stats cannot
    // decide it, so the rewrite path runs — and SQL DELETE semantics
    // say a NULL predicate KEEPS the row (a bare !cond would be NULL
    // there too and delete it with the matches)
    Seq((30L, Some("z")), (31L, None: Option[String])).toDF("id", "v")
      .coalesce(1)
      .write.format("graft.sources.v2.DirSinkSource")
      .option("path", dir)
      .mode(org.apache.spark.sql.SaveMode.Append).save()
    spark.sql("DELETE FROM graftcat.dbdel2.u WHERE v >= 'a'")
    val left = spark.sql("SELECT id, v FROM graftcat.dbdel2.u").collect()
    assert(left.length == 1 && left(0).getLong(0) == 31L &&
      left(0).isNullAt(1),
      s"only the NULL-v row survives, got ${left.toSeq}")
  }

  test("CTAS materializes a query as a named table") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db2")
    Seq((10L, 1.5), (20L, -2.0)).toDF("k", "x")
      .createOrReplaceTempView("ctas_src")
    spark.sql(
      """CREATE TABLE graftcat.db2.derived AS
         SELECT k, x * 2 AS x2 FROM ctas_src""")
    val got = spark.sql("SELECT k, x2 FROM graftcat.db2.derived")
      .as[(Long, Double)].collect().toSeq.sortBy(_._1)
    assert(got == Seq((10L, 3.0), (20L, -4.0)))
  }

  test("duplicate create fails; drop removes; a dropped table is unresolvable") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db3")
    spark.sql("CREATE TABLE graftcat.db3.t (id BIGINT)")
    intercept[Exception] {
      spark.sql("CREATE TABLE graftcat.db3.t (id BIGINT)")
    }
    spark.sql("DROP TABLE graftcat.db3.t")
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM graftcat.db3.t").collect()
    }
  }

  test("rename moves the directory; listTables sees only committed tables") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db4")
    spark.sql("CREATE TABLE graftcat.db4.a (id BIGINT)")
    spark.sql("INSERT INTO graftcat.db4.a VALUES (7)")
    // RENAME TO takes a catalog-less multipart name, resolved in the
    // source table's catalog
    spark.sql("ALTER TABLE graftcat.db4.a RENAME TO db4.b")
    assert(spark.sql("SELECT id FROM graftcat.db4.b").collect()
      .map(_.getLong(0)).toSeq == Seq(7L))
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM graftcat.db4.a").collect()
    }
    val names = spark.sql("SHOW TABLES IN graftcat.db4").collect()
      .map(_.getString(1)).toSet
    assert(names == Set("b"))
  }

  test("INSERT OVERWRITE swaps the table's contents through the truncate path") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db6")
    spark.sql("CREATE TABLE graftcat.db6.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftcat.db6.t VALUES (1, 'old'), (2, 'old2')")
    spark.sql("INSERT OVERWRITE graftcat.db6.t VALUES (9, 'new')")
    val got = spark.sql("SELECT id, v FROM graftcat.db6.t")
      .as[(Long, String)].collect().toSeq
    assert(got == Seq((9L, "new")),
      "overwrite must replace the previous generation atomically")
  }

  test("DESCRIBE EXTENDED surfaces zone format, generation, and file count") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbd")
    spark.sql("CREATE TABLE graftcat.dbd.t (id BIGINT)")
    spark.sql("INSERT INTO graftcat.dbd.t VALUES (1), (2)")
    val props = spark.sql("DESCRIBE TABLE EXTENDED graftcat.dbd.t")
      .collect().map(r => (r.getString(0), r.getString(1))).toMap
    val info = props.getOrElse("Table Properties", "")
    assert(info.contains("format=parquet") && info.contains("files=2") &&
      info.contains("generation=1"),
      s"zone metadata must surface in DESCRIBE, got: $info")
  }

  test("$history metadata table: publishes listed, versions drive time travel") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbh")
    spark.sql("CREATE TABLE graftcat.dbh.t (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftcat.dbh.t VALUES (1, 'a')")
    spark.sql("INSERT INTO graftcat.dbh.t VALUES (2, 'b')")
    // a history row's n_files IS the VERSION AS OF target (valid while
    // the history since that row is append-only): the state after the
    // FIRST append is discoverable from the listing and readable
    val hist0 = spark.sql(
      """SELECT version, operation, n_files
        |FROM graftcat.dbh.`t$history` ORDER BY version""".stripMargin)
      .as[(Long, String, Long)].collect().toSeq
    val asOf = hist0.find(h => h._2 == "append" && h._3 == 1L).get._3
    val back = spark.sql(
      s"SELECT id, v FROM graftcat.dbh.t VERSION AS OF $asOf")
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, "a")),
      s"VERSION AS OF a listed history offset must reproduce it, got $back")
    // maintenance publishes keep appending history rows (DELETE is a
    // history-REWRITING op — offsets before it become rewritten
    // history, the documented caveat; the LOG still shows it happened)
    spark.sql("DELETE FROM graftcat.dbh.t WHERE id = 1")
    val hist = spark.sql(
      """SELECT version, operation, n_files
        |FROM graftcat.dbh.`t$history` ORDER BY version""".stripMargin)
      .as[(Long, String, Long)].collect().toSeq
    assert(hist.map(_._2) == Seq("create", "append", "append", "delete"),
      s"history must record every publish in order, got $hist")
    assert(hist.map(_._1) == Seq(0L, 1L, 2L, 3L), s"generations: $hist")
    assert(hist.map(_._3) == Seq(0L, 1L, 2L, 1L),
      s"file counts per generation: $hist")
    // timestamps are monotone non-decreasing and TIMESTAMP-typed
    val ts = spark.sql(
      """SELECT ts FROM graftcat.dbh.`t$history` ORDER BY version""")
      .collect().map(_.getTimestamp(0).getTime).toSeq
    assert(ts == ts.sorted, s"history timestamps must be ordered: $ts")
    // history of a missing table is unresolvable
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM graftcat.dbh.`nope$history`").collect()
    }
  }

  test("a catalog table is tailable: readStream over the SQL name's directory") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.db5")
    spark.sql("CREATE TABLE graftcat.db5.feed (id BIGINT, v STRING)")
    spark.sql("INSERT INTO graftcat.db5.feed VALUES (1, 'x')")
    val wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")
    val q = spark.readStream.format("graft.sources.v2.DirSinkSource")
      .option("path", s"$wh/db5/feed").load()
      .writeStream.format("memory").queryName("catalog_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      spark.sql("INSERT INTO graftcat.db5.feed VALUES (2, 'y')")
      q.processAllAvailable()
      assert(spark.table("catalog_tail").as[(Long, String)]
        .collect().toSeq.sorted == Seq((1L, "x"), (2L, "y")))
    } finally q.stop()
  }

  test("the `t$files` metadata table inventories committed files from metadata alone") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.dbfiles")
    spark.sql("CREATE TABLE graftcat.dbfiles.inv (k BIGINT, v BIGINT) " +
      "PARTITIONED BY (bucket(4, k))")
    spark.sql("INSERT INTO graftcat.dbfiles.inv " +
      "SELECT id, id * 3 FROM range(200)")
    spark.sql("INSERT INTO graftcat.dbfiles.inv " +
      "SELECT id, id * 3 FROM range(200, 300)")
    val files = spark.table("graftcat.dbfiles.`inv$files`")
    assert(files.columns.toSeq == Seq("file", "rows", "bytes", "bucket",
      "epoch", "committed_ts", "has_stats", "dv_rows"))
    val nFiles = graft.sources.v2.DirSink
      .readManifestEntries(spark.conf
        .get("spark.sql.catalog.graftcat.warehouse") + "/dbfiles/inv")
      .get._2.size
    assert(files.count() == nFiles)
    // the inventory's facts reconcile with the data without reading it
    assert(files.agg(org.apache.spark.sql.functions.sum("rows"))
      .head.getLong(0) == 300L)
    assert(files.filter("bytes IS NULL OR bytes <= 0").count() == 0,
      "every parquet file records its committed size")
    assert(files.filter("bucket IS NULL").count() == 0 &&
      files.filter("bucket < 0 OR bucket >= 4").count() == 0,
      "a bucketed zone's inventory is fully tagged")
    assert(files.filter("NOT has_stats").count() == 0)
    // composes with SQL like any relation
    val perBucket = spark.sql(
      "SELECT bucket, count(*) AS n FROM graftcat.dbfiles.`inv$files` " +
        "GROUP BY bucket").count()
    assert(perBucket >= 1 && perBucket <= 4)
  }
}
