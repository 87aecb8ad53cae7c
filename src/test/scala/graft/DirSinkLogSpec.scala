package graft

import graft.sources.v2.{DirSink, DirSinkLog}
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** The INCREMENTAL COMMIT LOG (round-13 verdict task 1) — the laws
  * that remove the whole-manifest-rewrite scale ceiling:
  *
  *   - O(delta) bytes per commit: an append's segment size is bounded
  *     by its OWN files, not the zone's age;
  *   - bounded planning reads: a fresh state read replays at most one
  *     checkpoint + CheckpointInterval-1 commit segments, however old
  *     the zone;
  *   - checkpoint cadence: every Kth generation writes a full text
  *     checkpoint plus the columnar (parquet) metadata sidecar;
  *   - retained-generation time travel: `asOfVersion` reproduces any
  *     retained generation EXACTLY — including across row-level DML
  *     and compaction, the histories the old prefix snapshots could
  *     not survive — and vacuum retention governs how far back that
  *     reach extends (never breaking the head's spine).
  */
class DirSinkLogSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_log").toString

  private def logFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir, DirSinkLog.LogDirName).listFiles())
      .map(_.toSeq).getOrElse(Seq.empty)

  test("commits are O(delta): segment size is flat as the zone grows; reads stay bounded") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 25).foreach { i =>
      Seq((i.toLong, s"row-$i")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
    }
    val commits = logFiles(dir)
      .filter(_.getName.endsWith(".commit")).sortBy(_.getName)
    assert(commits.size == 25, s"one segment per publish, got ${commits.size}")
    // O(delta) bodies: every append segment carries exactly ONE file
    // line however old the zone — the checkpoint is the only O(total)
    // artifact. (Total segment size is bounded too: the only growing
    // header is the history log, and it is CAPPED at 64 entries.)
    def bodyLines(f: java.io.File): Int =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        .split("\n").count(l => l.nonEmpty && !l.startsWith("#"))
        .-(1) // minus the schema line
    assert(commits.forall(bodyLines(_) == 1),
      s"append segments must carry exactly their delta: " +
        s"${commits.map(bodyLines).mkString(",")}")
    assert(commits.forall(_.length < 8192),
      s"segments must stay small: ${commits.map(_.length).mkString(",")}")
    val ckpt20 = logFiles(dir)
      .find(_.getName == "00000000000000000020.checkpoint").get
    assert(bodyLines(ckpt20) == 21,
      "the checkpoint is the full state at its generation")
    // checkpoint cadence: gens 10 and 20 carry text + parquet checkpoints
    val ckpts = logFiles(dir).map(_.getName)
      .filter(_.endsWith(".checkpoint")).sorted
    assert(ckpts == Seq("00000000000000000010.checkpoint",
      "00000000000000000020.checkpoint"), s"cadence: $ckpts")
    assert(logFiles(dir).map(_.getName)
      .count(_.endsWith(".checkpoint.parquet")) == 2,
      "each checkpoint carries its columnar sidecar")
    // bounded planning reads: a FRESH read (cache invalidated) replays
    // base + <= K-1 segments, not the 25-commit history
    DirSinkLog.invalidate(dir)
    val back = spark.read.format(fmt).option("path", dir).load().count()
    assert(back == 25)
    assert(DirSinkLog.lastReplaySegments <= DirSinkLog.CheckpointInterval + 1,
      s"a plan must read O(K) segments, read ${DirSinkLog.lastReplaySegments}")
    // and the replayed state is IDENTICAL to the per-commit truth
    assert(DirSink.readManifest(dir).get._2.size == 25)
  }

  test("asOfVersion reproduces every retained generation exactly, across DELETE") {
    import spark.implicits._
    import org.apache.spark.sql.types.StructType
    val dir = tmpDir()
    (0 until 3).foreach { i =>
      Seq((i.toLong, s"g$i")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
    }
    // a row-level rewrite: DELETE id = 1 through the connector path
    new graft.sources.v2.DirSinkTable(dir,
      StructType.fromDDL("id BIGINT, v STRING"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.EqualTo("id", 1L)))
    def at(g: Long): Seq[(Long, String)] =
      spark.read.format(fmt).option("path", dir)
        .option("asOfVersion", g).load()
        .as[(Long, String)].collect().toSeq.sortBy(_._1)
    assert(at(0) == Seq((0L, "g0")))
    assert(at(1) == Seq((0L, "g0"), (1L, "g1")))
    assert(at(2) == Seq((0L, "g0"), (1L, "g1"), (2L, "g2")))
    // generation 2 predates the DELETE — the old prefix snapshots
    // could never survive this rewrite; the log does
    assert(at(3) == Seq((0L, "g0"), (2L, "g2")))
    // a future generation is an error, not an empty table
    intercept[Exception] { at(99) }
    // a generous vacuum keeps everything reconstructible
    DirSink.vacuum(dir, olderThanMs = 60000)
    assert(at(2).size == 3)
    // vacuum(0) retains only the head: it anchors a checkpoint there,
    // truncates the log, and the pre-delete generations (and the
    // deleted file's bytes) are gone — while the head replays exactly
    DirSink.vacuum(dir, olderThanMs = 0)
    assert(at(3) == Seq((0L, "g0"), (2L, "g2")))
    intercept[Exception] { at(2) }
  }

  test("timestamp travel resolves by generation and survives a compaction") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    Thread.sleep(20)
    val cut = System.currentTimeMillis()
    Thread.sleep(20)
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    // a history-REWRITING maintenance pass
    DirSink.compact(spark, dir, targetFiles = 1)
    assert(spark.read.format(fmt).option("path", dir).load().count() == 2)
    // the pre-compact cut still resolves — to generation 0's exact state
    val atCut = spark.read.format(fmt).option("path", dir)
      .option("asOfTimestamp", cut).load()
      .as[(Long, String)].collect().toSeq
    assert(atCut == Seq((1L, "a")),
      s"a timestamp between commits must see generation 0, got $atCut")
  }

  test("vacuum never breaks the head's reconstruction spine") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 13).foreach { i =>
      Seq((i.toLong, s"r$i")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
    }
    // head gen = 12; vacuum(0) anchors a checkpoint AT the head and
    // drops everything below — the head must always replay
    DirSink.vacuum(dir, olderThanMs = 0)
    DirSinkLog.invalidate(dir)
    assert(spark.read.format(fmt).option("path", dir).load().count() == 13,
      "the head must replay after aggressive retention")
    val names = logFiles(dir).map(_.getName)
    assert(names.contains("00000000000000000012.checkpoint"),
      s"vacuum must anchor the cut with a checkpoint, got $names")
    assert(!names.contains("00000000000000000003.commit"),
      "aged pre-cut segments must drop")
    // generations behind the cut are gone — loudly
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfVersion", 5).load().count()
    }
    assert(e.getMessage.contains("reconstructible") ||
      Option(e.getCause).exists(_.getMessage.contains("reconstructible")))
    // every data file the head references is intact
    assert(spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq.sortBy(_._1)
      .map(_._1) == (0L until 13L))
  }
}
