package graft

import graft.sources.v2.{ChangeFeed, DirSink}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** STREAMING change-data-feed read (sources.v2.DirSinkCdf):
  * `readStream` + `readChangeFeed=true` over a DirSink zone. The laws:
  *
  *   - offsets are GENERATIONS: each micro-batch is a contiguous
  *     generation range, checkpointed, resumable — a restarted tail
  *     continues where it stopped and never re-emits;
  *   - append generations surface as inserts read executor-side from
  *     the zone's own files; rewrite generations surface as the NET
  *     delete/insert pairs (carried rows cancel — a DELETE that
  *     copy-on-write-splits a file emits ONLY the deleted rows);
  *   - `startingVersion` replays history; the default starts at the
  *     subscription head (changes after stream start, Delta's choice);
  *   - `maxGensPerTrigger` paces deep-history catch-up into bounded,
  *     individually committed batches. */
class CdfStreamSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def append(dir: String, from: Long, until: Long): Unit =
    spark.range(from, until).select(col("id"), (col("id") * 7).as("v"))
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(SaveMode.Append).save()

  private def deleteWhere(dir: String, f: org.apache.spark.sql.sources.Filter)
      : Unit =
    new graft.sources.v2.DirSinkTable(dir,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"))
      .deleteWhere(Array(f))

  /** Run the CDF tail to AvailableNow against a durable checkpoint,
    * collecting (id, change_type, version) into an in-memory buffer. */
  private def drain(dir: String, chk: String, name: String,
                    opts: Map[String, String] = Map.empty)
      : Seq[(Long, String, Long)] = {
    val out = scala.collection.mutable.ArrayBuffer[(Long, String, Long)]()
    val reader = spark.readStream.format(fmt)
      .option("path", dir).option("readChangeFeed", "true")
    opts.foreach { case (k, v) => reader.option(k, v) }
    val q = reader.load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= df.select(col("id"), col(ChangeFeed.ChangeTypeCol),
            col(ChangeFeed.CommitVersionCol))
            .collect()
            .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    out.toSeq
  }

  test("generation tail: appends stream as inserts, a DELETE as exactly the deleted rows, checkpoint-resumable") {
    val dir = Files.createTempDirectory("graft_cdfs").toString
    val chk = Files.createTempDirectory("graft_cdfs_chk").toString
    append(dir, 0, 10)  // gen 0
    append(dir, 10, 20) // gen 1
    val run1 = drain(dir, chk, "cdf1",
      Map("startingVersion" -> "0"))
    assert(run1.size == 20 && run1.forall(_._2 == "insert"))
    assert(run1.count(_._3 == 0L) == 10 && run1.count(_._3 == 1L) == 10,
      "_commit_version must name the generation that committed the row")
    // a rewrite: DELETE id < 5 splits gen 0's file (5 rows carried)
    deleteWhere(dir, org.apache.spark.sql.sources.LessThan("id", 5L))
    val run2 = drain(dir, chk, "cdf2")
    assert(run2.map(t => (t._1, t._2)).sorted ==
      (0L until 5L).map(id => (id, "delete")).sorted,
      s"the resumed tail must emit ONLY the net deleted rows, got $run2")
    // nothing new → an idle drain emits nothing (no re-reads)
    assert(drain(dir, chk, "cdf3").isEmpty)
  }

  test("default start is the subscription head: history is not replayed") {
    val dir = Files.createTempDirectory("graft_cdfh").toString
    val chk = Files.createTempDirectory("graft_cdfh_chk").toString
    append(dir, 0, 10)
    assert(drain(dir, chk, "cdfh1").isEmpty,
      "without startingVersion the feed starts AFTER the current head")
    append(dir, 10, 13)
    val got = drain(dir, chk, "cdfh2")
    assert(got.map(_._1).sorted == Seq(10L, 11L, 12L) &&
      got.forall(_._2 == "insert"))
  }

  test("an UPDATE surfaces as one delete+insert pair per modified row") {
    val wh = Files.createTempDirectory("graft_cdfu_wh").toString
    val chk = Files.createTempDirectory("graft_cdfu_chk").toString
    val cat = s"cdfcat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.u AS " +
      "SELECT id, id * 7 AS v FROM range(10)")
    val dir = s"$wh/db/u"
    val before = DirSink.currentGen(dir).get
    spark.sql(s"UPDATE $cat.db.u SET v = v + 1000 WHERE id IN (3, 7)")
    val got = drain(dir, chk, "cdfu",
      Map("startingVersion" -> (before + 1).toString))
    val byType = got.groupBy(_._2).view.mapValues(_.map(_._1).sorted).toMap
    assert(byType.get("delete").map(_.toSeq) == Some(Seq(3L, 7L)) &&
      byType.get("insert").map(_.toSeq) == Some(Seq(3L, 7L)),
      s"net change must be the two modified rows, twice: $got")
  }

  test("rewrite diffs stage as EXECUTOR-read files — zero driver row materialization; commit sweeps the scratch") {
    val dir = Files.createTempDirectory("graft_cdfx").toString
    append(dir, 0, 10)  // gen 0
    append(dir, 10, 20) // gen 1
    deleteWhere(dir, org.apache.spark.sql.sources.LessThan("id", 5L)) // gen 2
    val head = DirSink.currentGen(dir).get
    val stream = new graft.sources.v2.DirSinkCdfStream(dir,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
      Some(0L), None, Files.createTempDirectory("graft_cdfx_chk").toString)
    val parts = stream.planInputPartitions(
      graft.sources.v2.DirSinkCdfOffset(head - 1),
      graft.sources.v2.DirSinkCdfOffset(head))
    // round-15 verdict task 1: the ONLY partition shapes are
    // file-backed — committed zone files (appends) and staged scratch
    // files (rewrite diffs); no partition type carries row data, so
    // the driver's plan is O(files), never O(changed rows)
    assert(parts.nonEmpty && parts.forall(p =>
      p.isInstanceOf[graft.sources.v2.DirSinkCdfStagedPartition] ||
        p.isInstanceOf[graft.sources.v2.DirSinkCdfFilePartition]),
      s"unexpected partition shapes: ${parts.map(_.getClass.getName).toSeq}")
    val staged = parts.collect {
      case p: graft.sources.v2.DirSinkCdfStagedPartition => p }
    assert(staged.nonEmpty &&
      staged.forall(_.file.contains(graft.sources.v2.DirSinkCdf.ScratchDirName)),
      "the rewrite diff must stage under the zone's _cdf-scratch")
    // the staged files decode back to exactly the net change
    val rf = stream.createReaderFactory()
    val got = staged.flatMap { p =>
      val r = rf.createReader(p)
      val buf = scala.collection.mutable.ArrayBuffer[(Long, String)]()
      while (r.next()) { val row = r.get(); buf += ((row.getLong(0),
        row.getUTF8String(2).toString)) }
      r.close()
      buf
    }
    assert(got.map(_._1).sorted.toSeq == (0L until 5L).toSeq &&
      got.forall(_._2 == "delete"),
      s"staged diff must be the net deleted rows, got $got")
    // commit sweeps this query's scope
    stream.commit(graft.sources.v2.DirSinkCdfOffset(head))
    val scratch = new java.io.File(dir,
      graft.sources.v2.DirSinkCdf.ScratchDirName)
    assert(!scratch.exists() ||
      scratch.listFiles().forall(_ => false),
      "the committed batch's staged files must be swept")
  }

  test("planning one range twice runs no job the second time and returns the same staged files") {
    val dir = Files.createTempDirectory("graft_cdfm").toString
    append(dir, 0, 10)  // gen 0
    append(dir, 10, 20) // gen 1
    deleteWhere(dir, org.apache.spark.sql.sources.LessThan("id", 5L)) // gen 2
    val head = DirSink.currentGen(dir).get
    val stream = new graft.sources.v2.DirSinkCdfStream(dir,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"),
      Some(0L), None, Files.createTempDirectory("graft_cdfm_chk").toString)
    val from = graft.sources.v2.DirSinkCdfOffset(0L)
    val to = graft.sources.v2.DirSinkCdfOffset(head)
    // job starts in listener-bus order; a marker job closes each window,
    // so once both markers arrive every job before them has too
    val sc = spark.sparkContext
    val starts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        starts.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def marker(): Unit = {
      sc.setJobDescription("cdf-marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
    }
    def files(parts: Array[org.apache.spark.sql.connector.read.InputPartition]) =
      parts.toSeq.map {
        case p: graft.sources.v2.DirSinkCdfStagedPartition => p.file
        case p: graft.sources.v2.DirSinkCdfFilePartition => p.toString
      }
    sc.addSparkListener(l)
    val (first, second) = try {
      val a = stream.planInputPartitions(from, to)
      marker()
      val b = stream.planInputPartitions(from, to)
      marker()
      var waited = 0
      while (starts.toArray.count(_ == "cdf-marker") < 2 && waited < 100) {
        Thread.sleep(100); waited += 1
      }
      (a, b)
    } finally sc.removeSparkListener(l)
    val seen = starts.toArray.toSeq.map(_.toString)
    val firstMarker = seen.indexOf("cdf-marker")
    assert(firstMarker > 0, s"the first planning must run the diff jobs: $seen")
    assert(seen.drop(firstMarker + 1) == Seq("cdf-marker"),
      s"the second planning of the same range ran jobs: $seen")
    assert(first.toSeq.nonEmpty && files(second) == files(first))
    val staged = first.collect {
      case p: graft.sources.v2.DirSinkCdfStagedPartition => p.file }
    assert(staged.nonEmpty && staged.forall(f => new java.io.File(
      new java.net.URI(f).getPath).exists() || new java.io.File(f).exists()),
      s"the memoized plan must name live staged files: ${staged.toSeq}")
    // commit drops the memo with the scratch: the range plans afresh
    stream.commit(to)
    val third = stream.planInputPartitions(from, to)
    assert(files(third) == files(first))
  }

  test("_commit_timestamp: the segment stamp as a column, constant per generation, on batch and stream") {
    val dir = Files.createTempDirectory("graft_cdft").toString
    val chk = Files.createTempDirectory("graft_cdft_chk").toString
    append(dir, 0, 10)
    append(dir, 10, 20)
    deleteWhere(dir, org.apache.spark.sql.sources.LessThan("id", 3L))
    val feed = ChangeFeed.read(spark, dir, 0)
    assert(feed.columns.last == ChangeFeed.CommitTsCol)
    val perGen = feed.groupBy(col(ChangeFeed.CommitVersionCol))
      .agg(countDistinct(col(ChangeFeed.CommitTsCol)).as("n"),
        sum(when(col(ChangeFeed.CommitTsCol).isNull, 1).otherwise(0))
          .as("nulls"))
      .collect()
    assert(perGen.nonEmpty && perGen.forall(r =>
      r.getLong(1) == 1L && r.getLong(2) == 0L),
      s"one non-null stamp per generation: ${perGen.mkString(", ")}")
    // the streaming surface carries the same column (append + rewrite)
    val out = scala.collection.mutable.ArrayBuffer[(String, Any)]()
    val q = spark.readStream.format(fmt)
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= df.select(col(ChangeFeed.ChangeTypeCol),
            col(ChangeFeed.CommitTsCol)).collect()
            .map(r => (r.getString(0), r.get(1)))
        }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    assert(out.nonEmpty && out.forall(_._2 != null),
      "every streamed change row carries its generation's commit stamp")
    assert(out.exists(_._1 == "delete") && out.exists(_._1 == "insert"))
  }

  test("maxGensPerTrigger paces catch-up one generation per batch") {
    val dir = Files.createTempDirectory("graft_cdfp").toString
    val chk = Files.createTempDirectory("graft_cdfp_chk").toString
    (0 until 4).foreach(i => append(dir, i * 5L, i * 5L + 5))
    val batches = scala.collection.mutable.ArrayBuffer[Long]()
    val q = spark.readStream.format(fmt)
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", "0")
      .option("maxGensPerTrigger", "1")
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        batches.synchronized { batches += df.count() }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    assert(batches.filter(_ > 0).toSeq == Seq(5L, 5L, 5L, 5L),
      s"one generation per micro-batch, got $batches")
  }

  test("rewrite diffs of a zone with array and decimal columns stream intact") {
    val wh = Files.createTempDirectory("graft_cdfw_wh").toString
    val chk = Files.createTempDirectory("graft_cdfw_chk").toString
    val cat = s"cdfwcat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    val tbl = s"$cat.db.w"
    spark.sql(s"CREATE TABLE $tbl (id BIGINT, emb ARRAY<DOUBLE>, " +
      "amt DECIMAL(12,2))")
    def insert(from: Long, until: Long): Unit =
      spark.sql(s"INSERT INTO $tbl SELECT id, array(id * 0.5D, id + 0.25D), " +
        s"CAST(id * 1.25 AS DECIMAL(12,2)) FROM range($from, $until, 1, 1)")
    insert(0, 5)  // two appends: one file each
    insert(5, 10)
    val dir = s"$wh/db/w"
    val before = DirSink.currentGen(dir).get
    spark.sql(s"DELETE FROM $tbl WHERE id = 3")
    spark.sql(s"UPDATE $tbl SET emb = array(-1.0D, id * 2.0D), " +
      "amt = amt + 100.5 WHERE id = 7")
    type Change = (Long, Seq[Double], BigDecimal, String)
    val out = scala.collection.mutable.ArrayBuffer[Change]()
    val q = spark.readStream.format(fmt)
      .option("path", dir).option("readChangeFeed", "true")
      .option("startingVersion", (before + 1).toString)
      .load()
      .writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= df.select(col("id"), col("emb"), col("amt"),
            col(ChangeFeed.ChangeTypeCol)).collect().map(r =>
            (r.getLong(0), r.getSeq[Double](1), BigDecimal(r.getDecimal(2)),
              r.getString(3)))
        }
        ()
      }
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val want: Seq[Change] = Seq(
      (3L, Seq(1.5, 3.25), BigDecimal("3.75"), "delete"),
      (7L, Seq(3.5, 7.25), BigDecimal("8.75"), "delete"),
      (7L, Seq(-1.0, 14.0), BigDecimal("109.25"), "insert"))
    assert(out.sortBy(c => (c._1, c._4)).toSeq == want,
      s"exactly the deleted row and the updated row's pre/post images: $out")
  }
}
