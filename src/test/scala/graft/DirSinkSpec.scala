package graft

import graft.sources.v2.{DirSink, DirSinkBatchWrite, DirSinkCommitMessage, DirSinkWriterFactory}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** DSv2 write path (sources.v2.DirSinkSource): manifest-atomic commit
  * protocol — round trip, append generations, overwrite swap, loser
  * attempts and aborts leave nothing visible. */
class DirSinkSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_dirsink").toString

  private val fmt = "graft.sources.v2.DirSinkSource"

  test("round trip: mixed types, nulls, and codec-hostile strings survive") {
    import spark.implicits._
    val dir = tmpDir()
    val rows = Seq(
      (1L, Some("plain"), 1.5, true),
      (2L, Some("tab\tand\nnewline"), -0.25, false),
      (3L, Some("sep\u0001and\\backslash\\"), 0.0, true),
      (4L, None, 99.0, false),
      (5L, Some(""), 1.0, true),      // empty != null at the line tail
      (6L, Some("\\0"), 2.0, false)) // literal backslash-zero != sentinel
    val df = rows.toDF("id", "name", "score", "flag")
    df.write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, Option[String], Double, Boolean)].collect().toSeq
      .sortBy(_._1)
    assert(back == rows)
    // append a second generation: both visible, counts add up
    df.write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(spark.read.format(fmt).option("path", dir).load().count() ==
      2L * rows.size)
  }

  test("overwrite swaps the manifest; superseded files become invisible and are swept") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "old")).toDF("id", "v").write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    Seq((2L, "new"), (3L, "new2")).toDF("id", "v").write.format(fmt)
      .option("path", dir).mode(SaveMode.Overwrite).save()
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((2L, "new"), (3L, "new2")))
    // the old generation's files are RETAINED by the commit log (the
    // pre-overwrite snapshot stays readable — generation time travel),
    // and reclaimed by vacuum once its segments age out of retention
    val preOverwrite = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", 0).load()
      .as[(Long, String)].collect().toSeq
    assert(preOverwrite == Seq((1L, "old")),
      "the pre-overwrite generation must stay readable via the log")
    DirSink.vacuum(dir, olderThanMs = 0L)
    val leftover = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(DirSink.ManifestName)
        && !f.getName.startsWith(".")) // fs-internal checksum siblings
    val manifest = DirSink.readManifest(dir).get._2.map(_._1).toSet
    assert(leftover.map(_.getName).forall(manifest.contains),
      s"non-manifest files left behind: ${leftover.mkString(", ")}")
  }

  test("schema evolution: evolve advances the manifest schema; old rows read with NULL tails") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // a wider append WITHOUT evolving first is refused (Spark's append
    // analysis or the commit guard — either way the zone is untouched)
    intercept[Exception] {
      Seq((9L, "x", 1L)).toDF("id", "v", "extra").coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    assert(spark.read.format(fmt).option("path", dir).load().count() == 1)
    DirSink.evolveSchema(dir,
      StructType.fromDDL("id BIGINT, v STRING, extra BIGINT"))
    Seq((2L, "b", 20L)).toDF("id", "v", "extra").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val got = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String, Option[Long])].collect().toSeq.sortBy(_._1)
    assert(got == Seq((1L, "a", None), (2L, "b", Some(20L))))
    // evolution is append-only: reorders and drops are rejected
    intercept[IllegalArgumentException] {
      DirSink.evolveSchema(dir,
        StructType.fromDDL("v STRING, id BIGINT, extra BIGINT"))
    }
    intercept[IllegalArgumentException] {
      DirSink.evolveSchema(dir, StructType.fromDDL("id BIGINT"))
    }
    // idempotent no-op on the same schema
    DirSink.evolveSchema(dir,
      StructType.fromDDL("id BIGINT, v STRING, extra BIGINT"))
  }

  test("stray files in the directory are invisible: readers resolve the manifest only") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "real")).toDF("id", "v").write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    // plant an orphan that LOOKS like data (a crashed writer's remnant)
    java.nio.file.Files.write(
      java.nio.file.Paths.get(dir, "p9-t999"),
      "9\u0001ghost\n".getBytes("UTF-8"))
    assert(spark.read.format(fmt).option("path", dir).load().count() == 1)
  }

  test("commit protocol: only the winning attempt's file publishes; the loser and staging vanish") {
    val dir = tmpDir()
    val schema = StructType.fromDDL("id BIGINT, name STRING")
    val queryId = "q-test-1"
    val factory = DirSinkWriterFactory.resolved(dir, schema, queryId)
    def row(id: Long, s: String) =
      new GenericInternalRow(Array[Any](id, UTF8String.fromString(s)))
    // two attempts of partition 0 run concurrently (speculation)
    val w0 = factory.createWriter(0, taskId = 10L)
    val w0spec = factory.createWriter(0, taskId = 11L)
    w0.write(row(1L, "winner"))
    w0spec.write(row(1L, "winner")) // same data, different attempt
    val m0 = w0.commit() // the coordinator lets exactly one commit...
    w0spec.abort()       // ...and the loser aborts
    val w1 = factory.createWriter(1, taskId = 12L)
    w1.write(row(2L, "p1"))
    val m1 = w1.commit()
    new DirSinkBatchWrite(dir, schema, queryId, truncate = false)
      .commit(Array(m0, m1))
    import spark.implicits._
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((1L, "winner"), (2L, "p1")))
    assert(!new java.io.File(dir, "_staging").exists(),
      "staging must be swept at commit")
  }

  test("reading a directory with no manifest is an ERROR, not an empty table") {
    val dir = tmpDir()
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir).load().count()
    }
    assert(e.getMessage.contains(DirSink.ManifestName) ||
      Option(e.getCause).exists(_.getMessage.contains(DirSink.ManifestName)),
      s"missing manifest must surface as an error naming it, got: $e")
  }

  test("appends from two applications reusing (partition, task) ids never collide") {
    // task ids restart per application: both 'applications' commit a
    // p0-t0 staging file; final names must embed the per-write queryId
    // so the second commit cannot clobber (or double-list) the first
    val dir = tmpDir()
    val schema = StructType.fromDDL("id BIGINT, name STRING")
    def row(id: Long, s: String) =
      new GenericInternalRow(Array[Any](id, UTF8String.fromString(s)))
    Seq("app-one", "app-two").zipWithIndex.foreach { case (qid, i) =>
      val w = DirSinkWriterFactory.resolved(dir, schema, qid)
        .createWriter(0, taskId = 0L) // identical ids across applications
      w.write(row(i.toLong, s"gen$i"))
      val m = w.commit()
      new DirSinkBatchWrite(dir, schema, qid, truncate = false)
        .commit(Array(m))
    }
    import spark.implicits._
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(back == Seq((0L, "gen0"), (1L, "gen1")),
      "both generations' rows must survive the name reuse")
    val files = DirSink.readManifest(dir).get._2.map(_._1)
    assert(files.distinct.size == files.size, "manifest must not list a name twice")
  }

  test("streaming commit: epoch-keyed manifest lines; an epoch RETRY is a no-op (exactly-once)") {
    import graft.sources.v2.DirSinkStreamingWrite
    val dir = tmpDir()
    val schema = StructType.fromDDL("id BIGINT, name STRING")
    def row(id: Long, s: String) =
      new GenericInternalRow(Array[Any](id, UTF8String.fromString(s)))
    def stage(qid: String, epoch: Long, id: Long, v: String) = {
      val w = new DirSinkStreamingWrite(dir, schema, qid, truncate = false)
        .createStreamingWriterFactory(null)
        .createWriter(0, 0L, epoch)
      w.write(row(id, v))
      w.commit()
    }
    val sw1 = new DirSinkStreamingWrite(dir, schema, "run-1", truncate = false)
    sw1.commit(0L, Array(stage("run-1", 0L, 1L, "e0")))
    sw1.commit(1L, Array(stage("run-1", 1L, 2L, "e1")))
    import spark.implicits._
    def readBack() = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(readBack() == Seq((1L, "e0"), (2L, "e1")))
    // crash-recovery replay: the restarted run re-executes epoch 1
    // under its STABLE query id (Spark passes the checkpoint's `id`,
    // not the per-run `runId`) — the commit must be a no-op, not a
    // duplicate (round 16: the per-query #txn mark judges it)
    val sw2 = new DirSinkStreamingWrite(dir, schema, "run-1", truncate = false)
    sw2.commit(1L, Array(stage("run-1", 1L, 2L, "e1")))
    assert(readBack() == Seq((1L, "e0"), (2L, "e1")),
      "an epoch retry must not duplicate rows")
    assert(DirSink.committedEpochs(dir) == Set(0L, 1L))
    // ...and the stream keeps going from epoch 2
    sw2.commit(2L, Array(stage("run-1", 2L, 3L, "e2")))
    assert(readBack() == Seq((1L, "e0"), (2L, "e1"), (3L, "e2")))
    // a batch append on top preserves the epoch bookkeeping of old lines
    Seq((9L, "batch")).toDF("id", "name").write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    assert(DirSink.committedEpochs(dir) == Set(0L, 1L, 2L),
      "batch appends must preserve prior streaming lines' epoch fields")
    assert(readBack().size == 4)
  }

  test("streaming READ tails the manifest: later commits arrive incrementally, exactly once") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("dirsink_tail")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      def got() = spark.table("dirsink_tail")
        .as[(Long, String)].collect().toSeq.sorted
      assert(got() == Seq((1L, "a"), (2L, "b")))
      // a batch append lands while the tail is live: only the NEW
      // generation's rows arrive (offset = commit-log generation)
      Seq((3L, "c")).toDF("id", "v").write.format(fmt)
        .option("path", dir).mode(SaveMode.Append).save()
      q.processAllAvailable()
      assert(got() == Seq((1L, "a"), (2L, "b"), (3L, "c")),
        "appended generation must arrive exactly once")
      // ...and a streaming-write epoch is tail-visible the same way
      // (the landing-zone handoff: stream in, stream out)
      import graft.sources.v2.{DirSinkStreamingWrite, DirSinkCommitMessage}
      val schema = StructType.fromDDL("id BIGINT, v STRING")
      val sw = new DirSinkStreamingWrite(dir, schema, "tail-src",
        truncate = false)
      val w = sw.createStreamingWriterFactory(null).createWriter(0, 0L, 0L)
      w.write(new GenericInternalRow(
        Array[Any](4L, UTF8String.fromString("d"))))
      sw.commit(0L, Array(w.commit()))
      q.processAllAvailable()
      assert(got() == Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")))
    } finally q.stop()
  }

  test("manifest row counts surface as scan statistics and drive broadcast planning") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{count, lit}
    val dir = tmpDir()
    Seq((0L, "a"), (1L, "b"), (2L, "c")).toDF("k", "v")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val dim = spark.read.format(fmt).option("path", dir).load()
    val fact = graft.sources.Tables.load(spark, TestSession.sfDir, "events")
    val joined = fact.join(dim, fact("user_id") % 3 === dim("k"))
      .groupBy($"v").agg(count(lit(1)).as("n"))
    assert(joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "a 3-row manifest-counted sink table must broadcast")
    assert(joined.collect().length == 3)
  }

  test("admission control: maxFilesPerTrigger paces backlog catch-up in bounded batches") {
    import spark.implicits._
    val dir = tmpDir()
    // a 3-file backlog exists BEFORE the tail starts
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("maxFilesPerTrigger", 1).load()
      .writeStream.format("memory").queryName("dirsink_paced")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.table("dirsink_paced").count() == 3)
      // the backlog must arrive as one-file batches, not a single gulp
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3 && batches.forall(_.numInputRows == 1),
        s"expected 3 single-file batches, got ${batches.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }

  test("Trigger.AvailableNow honors maxFilesPerTrigger and stops at the captured end") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val dir = tmpDir()
    (1 to 3).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    // SupportsTriggerAvailableNow: without it Spark's wrapper takes the
    // whole backlog as ONE batch, silently ignoring the admission limit
    // in exactly the run-to-completion replay mode that needs pacing
    val q = spark.readStream.format(fmt).option("path", dir)
      .option("maxFilesPerTrigger", 1).load()
      .writeStream.format("memory").queryName("dirsink_avnow")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(120000)
      assert(spark.table("dirsink_avnow").count() == 3)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 3 && batches.forall(_.numInputRows == 1),
        s"expected 3 single-file batches under AvailableNow, got " +
          s"${batches.map(_.numInputRows).toSeq}")
    } finally q.stop()
  }

  test("asOfVersion snapshot read: a recorded generation reproduces the zone") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    val first = DirSink.currentGen(dir).get
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    // a training run cuts its corpus here and records the generation
    val cut = DirSink.currentGen(dir).get
    Seq((3L, "c")).toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    def read(asOf: Option[Long]) = {
      val r = spark.read.format(fmt).option("path", dir)
      asOf.foreach(g => r.option("asOfVersion", g))
      r.load().as[(Long, String)].collect().toSeq.sorted
    }
    assert(read(None) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    assert(read(Some(cut)) == Seq((1L, "a"), (2L, "b")),
      "the recorded generation must reproduce the snapshot despite later appends")
    assert(read(Some(first)) == Seq((1L, "a")))
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfVersion", 99).load().count()
    }
    assert(e.getMessage.contains("exceeds") ||
      Option(e.getCause).exists(_.getMessage.contains("exceeds")),
      s"reading past the zone's head generation must error, got $e")
  }

  test("end-to-end streaming write: a watermarked tumbling aggregate lands through the sink") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.functions._
    val dir = tmpDir()
    val cp = tmpDir()
    implicit val sq = spark.sqlContext
    val in = MemoryStream[(java.sql.Timestamp, Long)]
    val agg = in.toDF().toDF("ts", "v")
      .withWatermark("ts", "10 seconds")
      .groupBy(window($"ts", "1 minute"))
      .agg(sum($"v").as("total"))
      .select($"window.start".cast("string").as("ws"), $"total")
    val q = agg.writeStream
      .format(fmt)
      .option("path", dir)
      .option("schema", "ws STRING, total BIGINT")
      .option("checkpointLocation", cp)
      .outputMode("append")
      .start()
    def ts(min: Int, sec: Int) =
      java.sql.Timestamp.valueOf(f"2026-01-01 10:$min%02d:$sec%02d")
    in.addData((ts(0, 5), 1L), (ts(0, 30), 2L), (ts(1, 10), 4L))
    q.processAllAvailable()
    in.addData((ts(3, 0), 8L)) // watermark passes minute 0 and 1
    q.processAllAvailable()
    q.stop()
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(String, Long)].collect().toSeq.sortBy(_._1)
    assert(back == Seq(("2026-01-01 10:00:00", 3L), ("2026-01-01 10:01:00", 4L)),
      s"closed windows must land exactly once, got $back")
  }

  test("job abort: committed task files are deleted, no manifest appears, a prior generation survives") {
    val dir = tmpDir()
    val schema = StructType.fromDDL("id BIGINT, name STRING")
    import spark.implicits._
    Seq((7L, "gen1")).toDF("id", "name").write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    val queryId = "q-test-2"
    val factory = DirSinkWriterFactory.resolved(dir, schema, queryId)
    val w = factory.createWriter(0, taskId = 20L)
    w.write(new GenericInternalRow(
      Array[Any](8L, UTF8String.fromString("doomed"))))
    val m = w.commit().asInstanceOf[DirSinkCommitMessage]
    new DirSinkBatchWrite(dir, schema, queryId, truncate = false)
      .abort(Array(m))
    assert(!new java.io.File(dir, m.stagedName).exists())
    assert(!new java.io.File(dir, "_staging").exists() ||
      new java.io.File(dir, "_staging").listFiles().isEmpty)
    val back = spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq
    assert(back == Seq((7L, "gen1")), "the prior generation must survive")
  }
}
