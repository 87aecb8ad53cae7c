package graft

import graft.sources.v2.DirSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** ATOMIC CTAS / RTAS through the graft catalog
  * (sources.v2.GraftStagedTable): `CREATE [OR REPLACE] / REPLACE TABLE
  * … AS SELECT` stage their writes in the live directory (manifest-
  * invisible until published) and swap the table in ONE manifest
  * publish. The property under test is the one the non-atomic fallback
  * lacks: a REPLACE whose query FAILS leaves the old table byte-for-
  * byte intact — no drop-before-write window. */
class StagedCtasSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def freshCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_staged").toString
    val cat = s"stagedcat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    (cat, wh)
  }

  test("CTAS via staging: one atomic publish, correct content, history records create") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t AS " +
      "SELECT id AS k, id * 2 AS v FROM range(100)")
    assert(spark.table(s"$cat.db.t").count() == 100)
    assert(spark.table(s"$cat.db.t").agg(sum("v")).head.getLong(0) == 9900L)
    val hist = DirSink.history(s"$wh/db/t")
    assert(hist.map(_.op) == Seq("create"),
      s"a staged CTAS is ONE publish, got ${hist.map(_.op)}")
    assert(!new java.io.File(s"$wh/db/t", "_staging").exists(),
      "staging is swept on a staged CTAS commit")
    // re-CREATE of an existing name fails and changes nothing
    intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.db.t AS SELECT 1 AS x")
    }
    assert(spark.table(s"$cat.db.t").count() == 100)
  }

  test("REPLACE TABLE AS SELECT swaps atomically; failed replace leaves the old table intact") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t AS " +
      "SELECT id AS k, CAST(id AS STRING) AS s FROM range(50)")
    val genBefore = DirSink.currentGen(s"$wh/db/t").get

    // a REPLACE whose query throws mid-write: the old table must
    // survive untouched — the exact window the non-atomic
    // drop-then-create fallback loses the table in
    val failing = udf((i: Long) =>
      if (i >= 25) throw new RuntimeException("boom") else i)
    spark.udf.register("staged_boom", failing)
    intercept[Exception] {
      spark.sql(s"REPLACE TABLE $cat.db.t AS " +
        "SELECT staged_boom(id) AS k, 'new' AS s FROM range(100)")
    }
    assert(spark.table(s"$cat.db.t").count() == 50,
      "failed RTAS must leave the old generation fully readable")
    assert(DirSink.currentGen(s"$wh/db/t").contains(genBefore),
      "failed RTAS must not publish a generation")

    // a successful replace swaps wholesale: new schema, new data, one
    // 'replace' history record; the superseded generation is RETAINED
    // by the commit log (time-travelable) until vacuum ages it out
    spark.sql(s"CREATE OR REPLACE TABLE $cat.db.t AS " +
      "SELECT id AS a, id % 3 AS b FROM range(30)")
    val t = spark.table(s"$cat.db.t")
    assert(t.columns.toSeq == Seq("a", "b") && t.count() == 30)
    val hist = DirSink.history(s"$wh/db/t").map(_.op)
    assert(hist == Seq("create", "replace"), s"got $hist")
    // the pre-replace table is still readable at its generation —
    // WITH its own schema, not the replacement's
    val pre = spark.sql(
      s"SELECT * FROM $cat.db.t VERSION AS OF $genBefore")
    assert(pre.columns.toSeq == Seq("k", "s") && pre.count() == 50,
      "the replaced definition must stay time-travelable")
    // vacuum(0) then truncates the log to the replace and sweeps
    DirSink.vacuum(s"$wh/db/t", olderThanMs = 0L)
    val live = DirSink.readManifest(s"$wh/db/t").get._2.map(_._1).toSet
    val onDisk = new java.io.File(s"$wh/db/t").listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_GRAFT") &&
        !f.getName.startsWith("."))
      .map(_.getName).toSet
    assert(onDisk == live, s"orphans after replace: ${onDisk -- live}")
  }

  test("CREATE OR REPLACE preserves the epoch high-water mark") {
    val (cat, wh) = freshCat()
    val dir = s"$wh/db/z"
    // seed a zone with a streaming epoch line, via the path API
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
    val sw = new graft.sources.v2.DirSinkStreamingWrite(dir, schema,
      "ctas-seed", truncate = false)
    val w = sw.createStreamingWriterFactory(null).createWriter(0, 0L, 3L)
    w.write(new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](7L)))
    sw.commit(3L, Array(w.commit()))
    val gen = DirSink.currentGen(dir).get
    assert(DirSink.committedEpochMax(dir).contains(3L))
    spark.sql(s"CREATE OR REPLACE TABLE $cat.db.z AS " +
      "SELECT id AS k FROM range(5)")
    assert(spark.table(s"$cat.db.z").count() == 5)
    // replace = user history rewrite (the same header law as a batch
    // overwrite): the epoch mark survives, the generation moves forward
    assert(DirSink.committedEpochMax(dir).contains(3L),
      "a replay of epoch 3 must stay a no-op after the replace")
    assert(DirSink.currentGen(dir).get > gen)
  }

  test("staged CTAS with a bucket transform records the layout and keeps purity") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE OR REPLACE TABLE $cat.db.b " +
      "PARTITIONED BY (bucket(4, k)) AS " +
      "SELECT id AS k, id * 10 AS v FROM range(200)")
    val dir = s"$wh/db/b"
    assert(DirSink.zoneBucket(dir).contains(DirSink.BucketSpec("k", 4)))
    val (_, entries) = DirSink.readManifestEntries(dir).get
    assert(entries.nonEmpty && entries.forall(_.bucket.isDefined))
    assert(spark.table(s"$cat.db.b").count() == 200)
  }

  test("plain REPLACE TABLE (no AS SELECT) publishes an empty definition atomically") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.p AS SELECT id FROM range(9)")
    spark.sql(s"REPLACE TABLE $cat.db.p (x BIGINT, y STRING)")
    val t = spark.table(s"$cat.db.p")
    assert(t.columns.toSeq == Seq("x", "y") && t.count() == 0)
    assert(DirSink.history(s"$wh/db/p").map(_.op).last == "replace")
  }
}
