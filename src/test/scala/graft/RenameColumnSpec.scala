package graft

import graft.sources.v2.DirSink
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RENAME COLUMN via Delta-style column mapping
  * (sources.v2.DirSink.renameColumn, `#colmap` header): parquet files
  * resolve columns BY NAME, so a rename without rewriting every file
  * must keep the read/write paths speaking the column's PHYSICAL
  * (write-time) name at the file boundary while schema, SQL, stats,
  * and layout headers go logical. The laws:
  *
  *   - values survive: every pre-rename file reads its data under the
  *     new name (the failure mode without mapping is silent ALL-NULL);
  *   - appends after the rename write under the physical name, so old
  *     and new files stay uniform;
  *   - filters, stats skipping, bucket layout, bloom coverage, DML,
  *     and CDF all keep working across the rename;
  *   - time travel to before the rename reads the old names;
  *   - collisions (logical or physical) and CHECK references refuse;
  *   - a rename back to the original name drops the mapping;
  *   - OPTIMIZE un-maps (rewritten files are written logically). */
class RenameColumnSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def freshZone(n: Long = 20): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_ren").toString
    spark.range(0, n).select(col("id"), (col("id") * 7).as("v"))
      .coalesce(2).write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
    dir
  }

  private def load(dir: String) =
    spark.read.format(fmt).option("path", dir).load()

  test("pre-rename parquet files read their VALUES under the new name; appends stay uniform") {
    val dir = freshZone()
    DirSink.renameColumn(dir, "v", "weight")
    val back = load(dir)
    assert(back.columns.toSeq == Seq("id", "weight"))
    assert(back.agg(sum("weight")).head.getLong(0) == (0L until 20L)
      .map(_ * 7).sum, "old files must yield their DATA, not NULLs")
    // an append AFTER the rename: written physically as 'v', read as
    // 'weight' — both eras uniform
    spark.range(20, 30).select(col("id"), (col("id") * 7).as("weight"))
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(SaveMode.Append).save()
    assert(load(dir).filter(col("weight").isNull).count() == 0)
    assert(load(dir).agg(sum("weight")).head.getLong(0) ==
      (0L until 30L).map(_ * 7).sum)
    // filters push down through the mapping
    assert(load(dir).filter(col("weight") === 49L).count() == 1)
    assert(DirSink.zoneColMap(dir) == Map("weight" -> "v"))
  }

  test("stats skipping still prunes on the renamed column; DELETE still rewrites correctly") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ren_skip")
      .toString
    (0 until 5).foreach { i =>
      spark.range(i * 100L, i * 100L + 100)
        .select(col("id"), (col("id") % 10).as("v")).coalesce(1)
        .write.format(fmt).option("path", dir)
        .mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append).save()
    }
    DirSink.renameColumn(dir, "id", "doc_id")
    // skipping: a one-file band on the renamed column
    graft.sources.v2.DirSinkPrune.lastKept = -1
    assert(load(dir).filter(col("doc_id").between(250, 260)).count() == 11)
    assert(graft.sources.v2.DirSinkPrune.lastKept == 1,
      "per-file stats must keep pruning under the renamed schema")
    // a CoW DELETE across the rename: predicate logical, rewrite
    // physical — the rewritten file must keep reading correctly
    new graft.sources.v2.DirSinkTable(dir,
      org.apache.spark.sql.types.StructType
        .fromDDL("doc_id BIGINT, v BIGINT"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.LessThan("doc_id", 50L)))
    val after = load(dir)
    assert(after.count() == 450 &&
      after.filter(col("doc_id").isNull).count() == 0,
      "the rewrite's surviving rows must stay readable (physical names)")
    assert(after.agg(min("doc_id")).head.getLong(0) == 50L)
  }

  test("time travel before the rename keeps its VALUES under the ERA's names; rename-back drops the mapping") {
    val dir = freshZone()
    val preGen = DirSink.currentGen(dir).get
    DirSink.renameColumn(dir, "v", "weight")
    // round-15: schema changes ARE travel-versioned — the snapshot
    // speaks its own era's names and resolves through its own era's
    // column mapping (EraSchemaTravelSpec covers the double-rename
    // window the head-mapping resolution silently NULLed)
    val old = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", preGen).load()
    assert(old.columns.toSeq == Seq("id", "v"))
    assert(old.agg(sum("v")).head.getLong(0) ==
      (0L until 20L).map(_ * 7).sum,
      "pre-rename files must yield their data under the era mapping")
    DirSink.renameColumn(dir, "weight", "v")
    assert(DirSink.zoneColMap(dir).isEmpty,
      "renaming back to the physical name needs no mapping")
    assert(load(dir).agg(sum("v")).head.getLong(0) ==
      (0L until 20L).map(_ * 7).sum)
  }

  test("refusals: logical collision, physical collision, CHECK reference; ADD COLUMN physical collision") {
    val dir = freshZone()
    intercept[IllegalArgumentException] {
      DirSink.renameColumn(dir, "v", "id") // logical collision
    }
    DirSink.renameColumn(dir, "v", "weight")
    // physical collision: another column may not take the vacated
    // physical name — old files would resolve two fields to one chunk
    intercept[IllegalArgumentException] {
      DirSink.renameColumn(dir, "id", "v")
    }
    // ADD COLUMN under the vacated physical name: same corruption class
    intercept[IllegalArgumentException] {
      DirSink.evolveSchema(dir, org.apache.spark.sql.types.StructType
        .fromDDL("id BIGINT, weight BIGINT, v DOUBLE"))
    }
    // CHECK reference refusal
    DirSink.alterChecks(dir, _ :+ ("pos" -> "weight >= 0"))
    val e = intercept[IllegalArgumentException] {
      DirSink.renameColumn(dir, "weight", "w2")
    }
    assert(e.getMessage.contains("pos"))
  }

  test("auto-add under a renamed column's physical name refuses on batch and stream; the zone stays readable and unchanged") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = freshZone()
    DirSink.renameColumn(dir, "v", "weight") // physical name stays 'v'
    val gen = DirSink.currentGen(dir)
    // refused by the collision rule itself, not by the evolution law
    def collision(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .exists(c => String.valueOf(c.getMessage).contains("collides"))
    def unchanged(how: String): Unit = {
      assert(DirSink.currentGen(dir) == gen, s"$how must not publish")
      val back = load(dir)
      assert(back.columns.toSeq == Seq("id", "weight"))
      assert(back.agg(sum("weight")).head.getLong(0) ==
        (0L until 20L).map(_ * 7).sum, s"$how must leave the zone readable")
    }
    // batch: a mergeSchema append whose new (nullable) column is 'v'
    val batch = intercept[Exception] {
      spark.range(20, 25).select(col("id"), (col("id") * 7).as("weight"),
        when(col("id") >= 0, lit(1L)).as("v"))
        .write.format(fmt).option("path", dir)
        .option("mergeSchema", "true").mode(SaveMode.Append).save()
    }
    assert(collision(batch), s"refused for the wrong reason: $batch")
    unchanged("a batch collision")
    // stream: the same append as a micro-batch epoch
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val in = MemoryStream[(Long, Long, Option[Long])]
    val chk = java.nio.file.Files
      .createTempDirectory("graft_ren_collide").toString
    val q = in.toDF().toDF("id", "weight", "v").writeStream
      .format(fmt).option("path", dir)
      .option("checkpointLocation", chk).start()
    try {
      in.addData((20L, 140L, Some(1L)))
      val stream = intercept[Exception](q.processAllAvailable())
      assert(collision(stream), s"refused for the wrong reason: $stream")
    } finally q.stop()
    unchanged("a streaming collision")
  }

  test("bucket layout and bloom coverage follow the rename; SPJ headers stay consistent") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ren_bkt")
      .toString
    spark.range(100).select(col("id"), (col("id") * 3).as("v"))
      .write.format(fmt).option("path", dir)
      .option("bucket", "id:4").option("bloomfor", "v")
      .mode(SaveMode.Overwrite).save()
    DirSink.renameColumn(dir, "id", "key")
    DirSink.renameColumn(dir, "v", "val")
    assert(DirSink.zoneBucket(dir).map(b => (b.col, b.n)) ==
      Some(("key", 4)), "the bucket header speaks the logical name")
    assert(DirSink.zoneBloom(dir) == Seq("val"))
    // appends route through the renamed bucket column and read back
    spark.range(100, 120).select(col("id").as("key"),
      (col("id") * 3).as("val"))
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = load(dir)
    assert(back.count() == 120 &&
      back.filter(col("val").isNull).count() == 0)
    // bucket pruning still bites on the renamed column
    assert(back.filter(col("key") === 7L).count() == 1)
  }

  test("catalog SQL: ALTER TABLE RENAME COLUMN") {
    val wh = java.nio.file.Files.createTempDirectory("graft_ren_cat").toString
    val cat = s"rencat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.r AS SELECT id, id * 2 AS v FROM range(10)")
    spark.sql(s"ALTER TABLE $cat.db.r RENAME COLUMN v TO score")
    assert(spark.table(s"$cat.db.r").columns.toSeq == Seq("id", "score"))
    assert(spark.table(s"$cat.db.r").agg(sum("score")).head.getLong(0) == 90L)
  }

  test("a streaming row tail reads a renamed zone's values (not NULLs)") {
    val dir = freshZone(12)
    DirSink.renameColumn(dir, "v", "weight")
    spark.range(12, 15).select(col("id"), (col("id") * 7).as("weight"))
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(SaveMode.Append).save()
    val chk = java.nio.file.Files
      .createTempDirectory("graft_ren_chk").toString
    val sums = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sums.synchronized {
          sums += df.agg(coalesce(sum("weight"), lit(0L))).head.getLong(0)
        }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    assert(sums.sum == (0L until 15L).map(_ * 7).sum,
      "the tail must decode both eras' files through the mapping")
  }

  test("a rename UNDER a running tail keeps decoding values (subscription-pinned mapping)") {
    // round 15: the tail decodes with subscription-time logical names,
    // so it must map them through the subscription-time #colmap — a
    // mid-stream rename re-keys the head's map by the NEW names, and a
    // per-batch head-map resolution silently NULLed every mapped
    // column from that batch on
    val dir = freshZone(10)
    DirSink.renameColumn(dir, "v", "weight") // subscription map nonempty
    val chk = java.nio.file.Files
      .createTempDirectory("graft_ren_mid_chk").toString
    val sums = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        sums.synchronized {
          sums += ((df.count(),
            df.agg(coalesce(sum("weight"), lit(0L))).head.getLong(0)))
        }
        ()
      }
      .option("checkpointLocation", chk)
      .start()
    try {
      q.processAllAvailable()
      // the rename lands UNDER the running query and re-keys the head
      // map (weight->v becomes w2->v); the append writes physical 'v'
      DirSink.renameColumn(dir, "weight", "w2")
      spark.range(10, 15).select(col("id"), (col("id") * 7).as("w2"))
        .coalesce(1).write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
      q.processAllAvailable()
    } finally q.stop()
    val (rows, total) = (sums.map(_._1).sum, sums.map(_._2).sum)
    assert(rows == 15, s"both eras' files must stream: $sums")
    assert(total == (0L until 15L).map(_ * 7).sum,
      s"the subscription mapping must survive the mid-stream rename " +
        s"(a per-batch head map reads NULLs): $sums")
  }

  test("a CDF read across the rename speaks the current names") {
    val dir = freshZone(10)
    DirSink.renameColumn(dir, "v", "weight")
    spark.range(10, 15).select(col("id"), (col("id") * 7).as("weight"))
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(SaveMode.Append).save()
    val feed = graft.sources.v2.ChangeFeed.read(spark, dir, 0)
    assert(feed.columns.take(2).toSeq == Seq("id", "weight"))
    assert(feed.count() == 15 &&
      feed.filter(col("weight").isNull).count() == 0,
      "feed rows from BOTH eras must carry their values")
  }
}
