package graft

import graft.sources.v2.{DirSink, DirSinkScan, DirSinkSource}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `ALTER TABLE … DROP COLUMN` ([[DirSink.dropColumn]]):
  * the manifest rewrite removes the column from the schema line AND
  * excises its entry from every per-file stats field — without the
  * excision a MIDDLE drop shifts every later column's bounds one slot
  * left and the skipper/DELETE-metadata path prunes files against the
  * wrong column's min/max (silent wrong answers). Data files are
  * untouched (parquet name-based resolution). */
class DropColumnSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val fmt = classOf[DirSinkSource].getName

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_dropcol").toString

  private def read(dir: String): DataFrame =
    spark.read.format(fmt).option("path", dir).load()

  private def plannedFiles(df: DataFrame): Int = {
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }
    p.collectFirst { case b: BatchScanExec =>
      b.scan.asInstanceOf[DirSinkScan] }.get.planInputPartitions().length
  }

  /** 0..999 range-clustered on BOTH a and c (they move together), so a
    * middle-column drop that mis-aligned stats would visibly mis-skip. */
  private def writeZone(dir: String): Unit = {
    import spark.implicits._
    spark.range(1000).toDF("a")
      .withColumn("b", concat(lit("mid-"), $"a"))
      .withColumn("c", $"a" + 100000L)
      .repartitionByRange(8, $"a")
      .write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
  }

  test("middle-column drop: reads stay correct and stats stay ALIGNED (skipping on the later column)") {
    val dir = tmpDir()
    writeZone(dir)
    assert(plannedFiles(read(dir).filter(col("c") < 100100L)) == 1,
      "pre-drop: c-range predicate skips to one file")
    DirSink.dropColumn(dir, "b")
    assert(DirSink.readManifestSchema(dir).fieldNames.toSeq == Seq("a", "c"))
    // correctness: all rows, right values, dropped column gone
    val rows = read(dir).orderBy("a").collect()
    assert(rows.length == 1000)
    assert(rows.head.schema.fieldNames.toSeq == Seq("a", "c"))
    assert(rows.forall(r => r.getLong(1) == r.getLong(0) + 100000L))
    // ALIGNMENT: the c column's stats entry moved from slot 2 to slot 1;
    // skipping on c must still plan exactly one file (a shifted parse
    // would read b's string bounds as c's and skip wrongly or not at all)
    assert(plannedFiles(read(dir).filter(col("c") < 100100L)) == 1,
      "post-drop: c-range predicate must still skip on c's own bounds")
    assert(read(dir).filter(col("c") < 100100L).count() == 100)
  }

  test("DELETE metadata fast path uses the remapped stats after a drop") {
    val dir = tmpDir()
    writeZone(dir)
    DirSink.dropColumn(dir, "b")
    val cat = s"dropcat_${math.abs(dir.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse",
      new java.io.File(dir).getParent)
    val tbl = s"$cat.`${new java.io.File(dir).getName}`"
    spark.sql(s"DELETE FROM $tbl WHERE c >= 100875")
    assert(spark.table(tbl).count() == 875)
    // the top key-range file was droppable purely from metadata: the
    // zone keeps at most one rewritten boundary file beyond the 7 kept
    val files = DirSink.readManifest(dir).get._2.size
    assert(files <= 8, s"metadata DELETE must not fragment the zone: $files")
  }

  test("catalog SQL: ALTER TABLE DROP COLUMN, then INSERT with the narrower schema") {
    val wh = tmpDir()
    val cat = s"dropsql_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t AS " +
      "SELECT id AS k, 'x' AS junk, id * 2 AS v FROM range(20)")
    spark.sql(s"ALTER TABLE $cat.db.t DROP COLUMN junk")
    assert(spark.table(s"$cat.db.t").columns.toSeq == Seq("k", "v"))
    spark.sql(s"INSERT INTO $cat.db.t SELECT id, id * 2 FROM range(20, 30)")
    val t = spark.table(s"$cat.db.t")
    assert(t.count() == 30 &&
      t.agg(sum("v")).head.getLong(0) == (0 until 30).map(_ * 2L).sum)
    assert(DirSink.history(s"$wh/db/t").map(_.op).contains("drop-junk"))
  }

  test("dropping a bloomfor column narrows the coverage instead of poisoning later appends") {
    import spark.implicits._
    val dir = tmpDir()
    def df = spark.range(50).select($"id".as("a"), ($"id" * 3).as("b"),
      ($"id" * 7).as("c"))
    df.write.format(fmt).option("path", dir)
      .option("bloomfor", "a,b").mode(SaveMode.Append).save()
    DirSink.dropColumn(dir, "b")
    assert(DirSink.zoneBloom(dir) == Seq("a"),
      "the dropped column must leave the bloom coverage")
    // the append that a stale bloomfor header would have failed
    spark.range(50, 80).select($"id".as("a"), ($"id" * 7).as("c"))
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(read(dir).count() == 80)
    // dropping the LAST bloom column clears the header entirely
    DirSink.dropColumn(dir, "a")
    assert(DirSink.zoneBloom(dir).isEmpty)
  }

  test("refusals: bucket column, only column, missing column") {
    import spark.implicits._
    val bkt = tmpDir()
    Seq((1L, 2L)).toDF("k", "v").write.format(fmt)
      .option("path", bkt).option("bucket", "k:4")
      .mode(SaveMode.Append).save()
    assert(intercept[IllegalArgumentException] {
      DirSink.dropColumn(bkt, "k")
    }.getMessage.contains("bucketed"))
    DirSink.dropColumn(bkt, "v") // non-bucket column drops fine
    assert(intercept[IllegalArgumentException] {
      DirSink.dropColumn(bkt, "k") // now the only column
    }.getMessage.contains("only column"))
    assert(intercept[IllegalArgumentException] {
      DirSink.dropColumn(bkt, "nope")
    }.getMessage.contains("not in the zone schema"))
  }
}
