package graft

import graft.sources.v2.{DirSink, DirSinkCdfStream, DirSinkDv, DirSinkFilePartition, DirSinkMicroBatchStream, DirSinkTable}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{Filter, In}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** A ROW TAIL ACROSS MAINTENANCE AND REWRITES. The tail addresses the
  * zone by commit-log generation ([[DirSinkGenOffset]]): appends give
  * their files, row-preserving maintenance (compact, OPTIMIZE's
  * bin-packing, REORG PURGE) gives nothing, and any other rewrite fails
  * the stream naming the generation and its op. So maintenance may
  * land anywhere under a live tail, and a fresh tail starts from a
  * snapshot no older than the newest rewrite. The specs drive the
  * stream through its public interface (offsets as JSON). */
class TailMigrationSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"
  private val schema = StructType.fromDDL("id BIGINT, v BIGINT")

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tailmig").toString

  private def append(dir: String, from: Long, until: Long): Unit =
    spark.range(from, until).select(col("id"), (col("id") % 7).as("v"))
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(SaveMode.Append).save()

  private def withDv[T](body: => T): T = {
    spark.conf.set(DirSinkDv.EnabledKey, "true")
    try body finally spark.conf.unset(DirSinkDv.EnabledKey)
  }

  private def deleteIds(dir: String, ids: Long*): Unit =
    new DirSinkTable(dir, schema).deleteWhere(Array[Filter](
      In("id", ids.map(_.asInstanceOf[AnyRef]).toArray)))

  /** One micro-batch under `limit`, read through the stream's own
    * reader factory: (end offset, ids read). */
  private def batch(stream: DirSinkMicroBatchStream, from: Offset,
                    limit: ReadLimit): (Offset, Seq[Long]) = {
    val end = stream.latestOffset(from, limit)
    val factory = stream.createReaderFactory()
    val ids = stream.planInputPartitions(from, end).toSeq.flatMap { p =>
      val r = factory.createReader(p.asInstanceOf[DirSinkFilePartition])
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      while (r.next()) buf += r.get().getLong(0)
      r.close()
      buf
    }
    (end, ids)
  }

  private def liveIds(dir: String): Seq[Long] =
    spark.read.format(fmt).option("path", dir).load()
      .select("id").collect().map(_.getLong(0)).toSeq.sorted

  test("quiesce → compact → restart: the tail resumes with no reread and no loss") {
    import spark.implicits._
    val in = tmpDir()
    val out = tmpDir()
    val cp = tmpDir()
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", in).mode(SaveMode.Append).save()
    }
    def runTail(): Unit = {
      val q = spark.readStream.format(fmt).option("path", in).load()
        .writeStream.format(fmt).option("path", out)
        .option("schema", "id BIGINT, v STRING")
        .option("checkpointLocation", cp)
        .outputMode("append").start()
      try q.processAllAvailable() finally q.stop()
    }
    runTail() // consumes the whole 3-file zone
    assert(spark.read.format(fmt).option("path", out).load().count() == 3)
    DirSink.compact(spark, in, targetFiles = 1)
    assert(DirSink.readManifest(in).get._2.size == 1)
    Seq((4L, "v4")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", in).mode(SaveMode.Append).save()
    runTail() // restart from the SAME checkpoint against the compacted zone
    val back = spark.read.format(fmt).option("path", out).load()
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back == (1 to 4).map(i => (i.toLong, s"v$i")),
      s"exactly-once across the compaction: got $back")
    // a second compaction: the restart passes both compaction
    // generations without re-reading anything
    DirSink.compact(spark, in, targetFiles = 1)
    Seq((5L, "v5")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", in).mode(SaveMode.Append).save()
    runTail()
    assert(spark.read.format(fmt).option("path", out).load().count() == 5,
      "a restart must pass repeated compactions")
  }

  test("a one-file-per-trigger tail reads every row once through compact, OPTIMIZE and REORG mid-history") {
    val dir = tmpDir()
    (0 until 4).foreach(k => append(dir, k * 25L, k * 25L + 25L))
    withDv(deleteIds(dir, 10L, 60L)) // vectors on two files
    (100L until 115L by 5).foreach(a => append(dir, a, a + 5))
    val stream = new DirSinkMicroBatchStream(dir, schema, schema, Some(1))
    val limit = stream.getDefaultReadLimit
    val seen = scala.collection.mutable.ArrayBuffer[Long]()
    var offset = stream.initialOffset()
    def step(): Boolean = {
      val (end, ids) = batch(stream, offset, limit)
      val moved = end.json() != offset.json()
      offset = end
      seen ++= ids
      moved
    }
    step() // the snapshot at the vector DELETE, its vectors applied
    assert(seen.size == 98, s"first batch: the vectored snapshot, got ${seen.size}")
    val (purged, _) = DirSink.purgeVectors(spark, dir)
    assert(purged == 2)
    step() // the first append after the snapshot
    val (packed, _) = DirSink.compactSmall(spark, dir, 1L << 30)
    assert(packed > 1)
    step()
    append(dir, 115L, 120L)
    DirSink.compact(spark, dir, targetFiles = 2)
    while (step()) ()
    assert(seen.distinct.size == seen.size,
      s"a row was emitted twice: ${seen.diff(seen.distinct)}")
    assert(seen.sorted == liveIds(dir),
      "the tail must deliver exactly the live rows")
    assert(seen.size == 118)
  }

  test("a fresh tail over a history with an UPDATE and a vector DELETE reads exactly the live rows") {
    val wh = tmpDir()
    val cat = s"tailcat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t (id BIGINT, v BIGINT)")
    val dir = s"$wh/db/t"
    (0 until 3).foreach(k => append(dir, k * 10L, k * 10L + 10L))
    spark.sql(s"UPDATE $cat.db.t SET v = v + 100 WHERE id < 5")
    withDv(deleteIds(dir, 12L, 25L))
    append(dir, 30L, 35L)
    val chk = tmpDir()
    def run(): Seq[(Long, Long)] = {
      val got = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
      val q = spark.readStream.format(fmt).option("path", dir)
        .option("maxFilesPerTrigger", 1).load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          got ++= b.collect().map(r => (r.getLong(0), r.getLong(1))); ()
        }
        .option("checkpointLocation", chk)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(120000) finally q.stop()
      got.toSeq.sorted
    }
    def live = spark.read.format(fmt).option("path", dir).load().collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    val first = run()
    assert(first.size == 33 && first == live,
      s"the tail must read the live rows once: got $first, live $live")
    assert(first.filter(_._1 < 5).forall(_._2 >= 100), "the UPDATE's values")
    // the vectors' merge-on-read debt is paid under the live checkpoint:
    // the purge rewrites files the tail has read, and the restart
    // passes it, delivering only the rows appended after it
    DirSink.purgeVectors(spark, dir)
    append(dir, 35L, 40L)
    val second = run()
    assert(second == (35L until 40L).map(i => (i, i % 7)),
      s"after the purge: exactly the new rows, got $second")
    assert((first ++ second).sorted == live)
  }

  test("a rewrite under a live tail fails it at that generation, naming the op, and re-emits nothing") {
    val wh = tmpDir()
    val cat = s"tailcat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val rewrites: Seq[(String, String, String => Unit)] = Seq(
      ("upd", "update", _ =>
        spark.sql(s"UPDATE $cat.db.upd SET v = v + 1 WHERE id = 3")),
      ("mrg", "merge", _ => spark.sql(
        s"MERGE INTO $cat.db.mrg t USING (SELECT 3L AS id, 0L AS v) s " +
          "ON t.id = s.id WHEN MATCHED THEN UPDATE SET *")),
      ("cow", "delete", dir => deleteIds(dir, 3L)),
      ("vec", "delete", dir => withDv(deleteIds(dir, 3L))),
      ("ovw", "overwrite", dir =>
        spark.range(5).select(col("id"), col("id").as("v"))
          .write.format(fmt).option("path", dir)
          .mode(SaveMode.Overwrite).save()),
      ("rst", "restore-1", dir => DirSink.restore(dir, 1L)),
      ("drp", "drop-v", dir => DirSink.dropColumn(dir, "v")))
    rewrites.foreach { case (name, op, rewrite) =>
      spark.sql(s"CREATE TABLE $cat.db.$name (id BIGINT, v BIGINT)")
      val dir = s"$wh/db/$name"
      append(dir, 0L, 10L) // generation 1
      val stream = new DirSinkMicroBatchStream(dir, schema, schema)
      val (consumed, ids) = batch(stream, stream.initialOffset(),
        ReadLimit.allAvailable())
      assert(ids.sorted == (0L until 10L))
      append(dir, 10L, 20L) // generation 2: read by the next batch
      rewrite(dir)
      val g = DirSink.currentGen(dir).get
      val e = intercept[IllegalStateException](
        batch(stream, consumed, ReadLimit.allAvailable()))
      assert(e.getMessage.contains(s"generation $g ($op)"),
        s"$name: ${e.getMessage}")
      // paced, the tail still delivers the append before the rewrite —
      // and then fails at the rewrite, never re-emitting a row
      val paced = new DirSinkMicroBatchStream(dir, schema, schema, Some(1))
      val (upTo, more) = batch(paced, consumed, paced.getDefaultReadLimit)
      assert(upTo.json() == """{"gen":2}""" &&
        more.sorted == (10L until 20L), s"$name: ${upTo.json()}")
      intercept[IllegalStateException](
        batch(paced, upTo, paced.getDefaultReadLimit))
    }
  }

  test("stream offsets parse strictly: only {\"gen\":<long>}, retired forms refuse") {
    val dir = tmpDir()
    val tail = new DirSinkMicroBatchStream(dir, schema, schema)
    val cdf = new DirSinkCdfStream(dir, schema, None)
    Seq(tail.deserializeOffset _, cdf.deserializeOffset _).foreach { de =>
      assert(de("""{"gen":12}""").json() == """{"gen":12}""")
      assert(de(""" { "gen" : -1 } """).json() == """{"gen":-1}""")
      Seq("3", "1@2", "3#ab12", "3@1#ab12", """{"gen":1,"x":2}""",
        """{"gen":"1"}""", """{"gen":99999999999999999999}""", "")
        .foreach { j =>
          val e = intercept[IllegalArgumentException](de(j))
          assert(e.getMessage.contains("fresh checkpoint"), s"$j: $e")
        }
    }
  }

  test("a compaction never drops an append that lands inside its window") {
    val dir = tmpDir()
    spark.range(0L, 3000000L, 1L, 2).select(col("id"), (col("id") % 7).as("v"))
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val started = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        started.countDown()
    }
    spark.sparkContext.addSparkListener(listener)
    val outcome = try {
      val compaction = scala.concurrent.Future(
        scala.util.Try(DirSink.compact(spark, dir, targetFiles = 1)))(
        scala.concurrent.ExecutionContext.global)
      assert(started.await(120, java.util.concurrent.TimeUnit.SECONDS))
      append(dir, -5L, 0L) // lands while the compaction is rewriting
      scala.concurrent.Await.result(compaction,
        scala.concurrent.duration.Duration(300, "s"))
    } finally spark.sparkContext.removeSparkListener(listener)
    outcome.failed.foreach { e =>
      assert(e.isInstanceOf[java.util.ConcurrentModificationException], e)
    }
    val zone = spark.read.format(fmt).option("path", dir).load()
    assert(zone.filter(col("id") < 0).count() == 5,
      s"the appended rows must survive the compaction ($outcome)")
    assert(zone.count() == 3000005L)
  }
}
