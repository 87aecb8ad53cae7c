package graft

import graft.sources.v2.DirSink
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** AUTO SCHEMA EVOLUTION (round 16 — the verdict's "ingest ergonomic a
  * pipeline hits weekly"). Two explicit opt-ins, one evolution law
  * (append nullable columns; everything else refuses):
  *
  *   - batch append + `option("mergeSchema", "true")`: the wider frame
  *     lands schema + data in ONE commit; old files NULL-tail exactly
  *     as after an explicit ALTER; renames / type changes / reordered
  *     or missing columns still refuse with the zone untouched;
  *   - `MERGE INTO … WITH SCHEMA EVOLUTION`: Spark 4's
  *     AUTOMATIC_SCHEMA_EVOLUTION capability routes the source's new
  *     columns through the catalog's ALTER path before the merge
  *     plans, so UPDATE SET * / INSERT * see the widened target. */
class SchemaAutoEvolveSpec extends AnyFunSuite {
  private lazy val spark = {
    val s = TestSession.spark
    if (s.conf.getOption("spark.sql.catalog.graftcat").isEmpty) {
      s.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftcat.warehouse",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    }
    s
  }
  private val fmt = "graft.sources.v2.DirSinkSource"
  private def wh = spark.conf.get("spark.sql.catalog.graftcat.warehouse")

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_autoevolve").toString

  test("[parquet] mergeSchema append lands wider schema + data in ONE commit; old rows NULL-tail") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir)
      .mode(SaveMode.Append).save()
    val genBefore = DirSink.currentGen(dir).get
    Seq((2L, "b", Some(20L))).toDF("id", "v", "extra").coalesce(1)
      .write.format(fmt).option("path", dir)
      .option("mergeSchema", "true")
      .mode(SaveMode.Append).save()
    // ONE commit: schema + data together (not an evolve + an append)
    assert(DirSink.currentGen(dir).get == genBefore + 1,
      "the widening append must be a single atomic commit")
    assert(DirSink.readManifest(dir).get._1.toDDL
      .contains("extra"), "manifest schema must carry the new column")
    val got = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", None), (2L, "b", Some(20L))),
      s"old rows NULL-tail, new rows carry values: $got")
    // subsequent plain appends at the wide schema just work
    Seq((3L, "c", Option.empty[Long])).toDF("id", "v", "extra")
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(SaveMode.Append).save()
    assert(spark.read.format(fmt).option("path", dir).load().count() == 3)
  }

  test("without mergeSchema the wider append still refuses; with it, unlawful shapes refuse with the zone untouched") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val before = (DirSink.currentGen(dir).get, DirSink.readManifest(dir).get)
    // no option → Spark's strict resolution refuses as ever
    intercept[Exception] {
      Seq((9L, "x", 1L)).toDF("id", "v", "extra").coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    // mergeSchema + TYPE CHANGE → refuse (the evolution law)
    intercept[Exception] {
      Seq(("9", "x")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", dir)
        .option("mergeSchema", "true").mode(SaveMode.Append).save()
    }
    // mergeSchema + REORDER → refuse (prefix law; no silent by-position
    // misread — ACCEPT_ANY_SCHEMA means the engine owns this check)
    intercept[Exception] {
      Seq(("x", 9L)).toDF("v", "id").coalesce(1)
        .write.format(fmt).option("path", dir)
        .option("mergeSchema", "true").mode(SaveMode.Append).save()
    }
    // mergeSchema + MISSING column → refuse
    intercept[Exception] {
      Seq(Tuple1(9L)).toDF("id").coalesce(1)
        .write.format(fmt).option("path", dir)
        .option("mergeSchema", "true").mode(SaveMode.Append).save()
    }
    val after = (DirSink.currentGen(dir).get, DirSink.readManifest(dir).get)
    assert(after._1 == before._1 &&
      after._2._1.toDDL == before._2._1.toDDL &&
      after._2._2 == before._2._2,
      "every refusal must leave the zone untouched")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 1)
  }

  test("MERGE INTO ... WITH SCHEMA EVOLUTION widens the target through the catalog ALTER path") {
    import spark.implicits._
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.evo")
    spark.sql("CREATE TABLE graftcat.evo.m (id BIGINT, v STRING)")
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .writeTo("graftcat.evo.m").append()
    Seq((2L, "B", 20L), (3L, "C", 30L)).toDF("id", "v", "score")
      .createOrReplaceTempView("evo_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO graftcat.evo.m t
        |USING evo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = spark.sql("SELECT id, v, score FROM graftcat.evo.m")
      .as[(Long, String, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", None), (2L, "B", Some(20L)),
      (3L, "C", Some(30L))),
      s"matched row updated with the new column, unmatched inserted, " +
        s"untouched row NULL-tails: $got")
    // the widened schema is durable (the ALTER landed in the manifest)
    assert(DirSink.readManifest(s"$wh/evo/m").get._1.toDDL
      .contains("score"))
    // WITHOUT the clause a merge never widens: Spark aligns INSERT *
    // to the target's columns and the extra source column is dropped —
    // the schema is exactly what it was (evolution is opt-in-only)
    Seq((4L, "D", 40L, true)).toDF("id", "v", "score", "flag")
      .createOrReplaceTempView("evo_src2")
    spark.sql(
      """MERGE INTO graftcat.evo.m t USING evo_src2 s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val ddl = DirSink.readManifest(s"$wh/evo/m").get._1.toDDL
    assert(ddl.contains("score") && !ddl.contains("flag"),
      s"a clause-less MERGE must not auto-widen: $ddl")
    assert(spark.sql("SELECT v FROM graftcat.evo.m WHERE id = 4")
      .head.getString(0) == "D")
  }
}
