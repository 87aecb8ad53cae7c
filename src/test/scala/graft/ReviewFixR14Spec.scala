package graft

import graft.sources.v2.{ChangeFeed, DirSink}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Regression pins for the round-14 self-review findings — each test
  * reproduces a bug the review caught and the fix closed:
  *
  *   1. a CHECKPOINT-ONLY log (no commit segment — no publish writes
  *      one) is refused loudly, naming the zone, never a bare
  *      `empty.max`;
  *   2. a change feed FROM THE BIRTH of a vacuumed zone must fail
  *      loudly (the scaladoc promise), never silently truncate to the
  *      anchor's suffix;
  *   3. time travel to before a DROP COLUMN must prune era stats
  *      against the ERA schema — head-schema positions test the wrong
  *      column's bounds and silently skip matching files;
  *   4. readChangeFeed/startingVersion options are case-insensitive on
  *      BOTH provider surfaces (inferSchema vs getTable disagreeing
  *      yields a phantom-column non-feed). */
class ReviewFixR14Spec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_rfx").toString

  private def append(dir: String, from: Long, n: Long): Unit =
    spark.range(from, from + n).select(col("id"), (col("id") * 3).as("v"))
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(if (from == 0) SaveMode.Overwrite else SaveMode.Append).save()

  test("a checkpoint-only log is refused loudly, naming the zone") {
    val dir = tmp()
    (0 until 11).foreach(i => append(dir, i * 5L, 5))
    val log = new java.io.File(dir, "_graft_log")
    assert(log.listFiles().exists(_.getName.endsWith(".checkpoint")))
    log.listFiles().filter(_.getName.endsWith(".commit"))
      .foreach(f => assert(f.delete()))
    val e = intercept[IllegalStateException](DirSink.currentGen(dir))
    assert(e.getMessage.contains(dir) &&
      e.getMessage.contains("no commit segment"), e.getMessage)
    val r = intercept[Exception] {
      spark.read.format(fmt).option("path", dir).load().count()
    }
    assert(Iterator.iterate[Throwable](r)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[IllegalStateException]), s"got: $r")
    // nor does a new commit land on top of it
    intercept[Exception](append(dir, 55L, 5))
    assert(!log.listFiles().exists(_.getName.endsWith(".commit")),
      "a refused log must not gain a commit segment")
  }

  test("a change feed from the birth of a vacuumed zone fails loudly") {
    val dir = tmp()
    (0 until 12).foreach(i => append(dir, i * 5L, 5))
    assert(ChangeFeed.read(spark, dir, 0).count() == 60,
      "within retention, the birth feed is complete")
    DirSink.vacuum(dir, olderThanMs = 0)
    val e = intercept[IllegalArgumentException] {
      ChangeFeed.read(spark, dir, 0).count()
    }
    assert(e.getMessage.contains("generation 0"),
      s"the birth feed must refuse, not silently truncate: $e")
  }

  test("time travel before DROP COLUMN prunes era stats against the era schema") {
    val dir = tmp()
    // file i: a,c in [10i, 10i+9]; b = a + 1000 — with head-schema
    // positions, a c-filter would test b's bounds and skip everything
    (0 until 4).foreach { i =>
      spark.range(i * 10L, i * 10L + 10)
        .select(col("id").as("a"), (col("id") + 1000).as("b"),
          col("id").as("c"))
        .coalesce(1).write.format(fmt).option("path", dir)
        .mode(if (i == 0) SaveMode.Overwrite else SaveMode.Append).save()
    }
    val preDrop = DirSink.currentGen(dir).get
    DirSink.dropColumn(dir, "b")
    val old = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", preDrop).load()
      .filter(col("c") === 25L)
    assert(old.count() == 1,
      "era stats must align with the era schema, not the head's")
    // and a head-only column's filter on an era snapshot is safe (the
    // missing name resolves to no-skip, never a fieldIndex throw)
    DirSink.evolveSchema(dir, org.apache.spark.sql.types.StructType
      .fromDDL("a BIGINT, c BIGINT, d BIGINT"))
    assert(spark.read.format(fmt).option("path", dir).load()
      .filter(col("d").isNull).count() == 40)
  }

  test("readChangeFeed options are case-insensitive on both provider surfaces") {
    val dir = tmp()
    append(dir, 0, 10)
    val got = scala.collection.mutable.ArrayBuffer[String]()
    val chk = java.nio.file.Files.createTempDirectory("graft_rfx_chk")
      .toString
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("READCHANGEFEED", "true") // adversarial casing
      .option("startingversion", "0")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        got.synchronized {
          got ++= df.select(col(ChangeFeed.ChangeTypeCol)).collect()
            .map(_.getString(0))
        }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    assert(got.size == 10 && got.forall(_ == "insert"),
      s"differently-cased options must still yield a real feed: $got")
  }
}
