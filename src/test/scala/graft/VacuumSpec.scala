package graft

import graft.sources.v2.DirSink
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** DirSink.vacuum — the retention sweep: orphans and dead staging go,
  * everything the manifest references stays, the age guard protects
  * in-flight writers, dryRun deletes nothing. */
class VacuumSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_vacuum").toString

  private def plant(dir: String, rel: String, ageMs: Long = 0): Unit = {
    val p = java.nio.file.Paths.get(dir, rel)
    java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.write(p, "1ghost\n".getBytes("UTF-8"))
    if (ageMs > 0)
      p.toFile.setLastModified(System.currentTimeMillis() - ageMs)
  }

  private def write(dir: String): Unit = {
    import spark.implicits._
    Seq((1L, "real"), (2L, "rows")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
  }

  test("orphan data files and dead staging sweep; manifest-referenced files survive") {
    val dir = tmpDir()
    write(dir)
    plant(dir, "gdead-query-p0-t7", ageMs = 100000)      // crashed pre-publish
    plant(dir, "_staging/qdead/p0-t3", ageMs = 100000)   // dead writer
    val swept = DirSink.vacuum(dir, olderThanMs = 50000)
    assert(swept.toSet == Set("gdead-query-p0-t7", "_staging/qdead/p0-t3"))
    // zone reads exactly as before
    assert(spark.read.format(fmt).option("path", dir).load().count() == 2)
    // staging skeleton is gone too
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_staging")))
  }

  test("age guard: young files (an in-flight writer) are never swept") {
    val dir = tmpDir()
    write(dir)
    plant(dir, "gyoung-p0-t1")                    // just renamed, job mid-commit
    plant(dir, "_staging/qlive/p0-t0")            // actively writing
    assert(DirSink.vacuum(dir, olderThanMs = 60000).isEmpty)
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "gyoung-p0-t1")))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "_staging/qlive/p0-t0")))
  }

  test("dryRun lists the sweep set without deleting") {
    val dir = tmpDir()
    write(dir)
    plant(dir, "gdead-p0-t9", ageMs = 100000)
    val listed = DirSink.vacuum(dir, olderThanMs = 0, dryRun = true)
    assert(listed.contains("gdead-p0-t9"))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "gdead-p0-t9")))
    // the real pass then removes exactly what was listed
    val swept = DirSink.vacuum(dir, olderThanMs = 0)
    assert(swept.toSet == listed.toSet)
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(dir, "gdead-p0-t9")))
  }

  test("vacuum(0) after append generations touches no committed DATA; snapshots intact") {
    import spark.implicits._
    val dir = tmpDir()
    write(dir)
    val first = DirSink.currentGen(dir).get
    val firstFiles = DirSink.readManifest(dir).get._2.map(_._1)
    Seq((3L, "gen2")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // aggressive retention may truncate the LOG (old segments fold
    // into a checkpoint) but every committed data file is referenced
    // by the head and must survive
    val swept = DirSink.vacuum(dir, olderThanMs = 0)
    assert(swept.forall(_.startsWith(
      graft.sources.v2.DirSinkLog.LogDirName + "/")),
      s"vacuum(0) on an append-only zone may only touch the log: $swept")
    assert(spark.read.format(fmt).option("path", dir).load().count() == 3)
    // the first generation's files are still on disk (the head holds
    // them), though vacuum(0) retired the generation itself
    assert(firstFiles.forall(n =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, n))))
    val e = intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfVersion", first).load().count()
    }
    assert(e.getMessage.contains("reconstructible"), e.getMessage)
  }

  test("a path that was never committed vacuums to nothing (no manifest, no error)") {
    val dir = tmpDir()
    plant(dir, "stray", ageMs = 100000)
    // no manifest: every non-manifest file is an orphan by definition
    assert(DirSink.vacuum(dir, olderThanMs = 0) == Seq("stray"))
    assert(DirSink.vacuum(s"$dir/never_existed", 0).isEmpty)
  }
}
