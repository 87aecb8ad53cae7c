package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Shared publish/ready protocol for on-disk derived artifacts (the
  * trained ANN index, the layout tables): GENERATION DIRS plus an
  * atomically-swapped POINTER file, the manifest-pointer shape of
  * every catalog-backed table format.
  *
  *   - a builder writes every part of the artifact under a PRIVATE
  *     generation dir `<root>/gen-<pid>` — never into a shared live
  *     path, so a crash mid-build leaves only an unreferenced dir,
  *   - when the build completes, a one-line pointer file
  *     (`_GRAFT_ARTIFACT`, containing the generation name) is renamed
  *     over the live pointer in ONE metadata operation
  *     (`FileContext.rename(…, Options.Rename.OVERWRITE)` — atomic on
  *     local FS and HDFS; stores without a FileContext binding fall
  *     back to delete+rename over the tiny pointer object, a window of
  *     one small-file put rather than a whole-directory copy, which is
  *     what makes this strictly better than directory rename on S3A),
  *   - readers resolve [[ready]] → the live generation dir; they never
  *     observe a half-built artifact because nothing is ever written
  *     into a published generation,
  *   - concurrent builders under a content-keyed root both build their
  *     own generations and the pointer's last writer wins — benign for
  *     deterministic builds (both generations are bit-identical); the
  *     loser generation is swept once its owning pid dies
  *     ([[graft.operators.Layouts.reapStaleRoots]]), never while a
  *     just-resolved reader might still be streaming it.
  *
  * All probes and publishes go through the Hadoop FileSystem resolved
  * from the session configuration, so the same derivation works on
  * `file:`/`hdfs:`/`s3a:` roots.
  */
object Artifacts {
  val Pointer = "_GRAFT_ARTIFACT"

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Per-part completeness probe (`_SUCCESS`, written by Spark's own
    * output committer) — the guard for single-dir artifacts and for
    * parts INSIDE an unpublished generation. */
  def partReady(s: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    fs(s, p).exists(p)
  }

  /** The live generation dir of a pointer-published artifact, or None
    * if nothing was ever published (or the pointer references a
    * generation that no longer exists — treated as unpublished, so the
    * next [[buildOnce]] rebuilds instead of serving a dangling ref). */
  def ready(s: SparkSession, root: String): Option[String] = {
    val ptr = new Path(root, Pointer)
    val f = fs(s, ptr)
    if (!f.exists(ptr)) return None
    val in = f.open(ptr)
    val gen = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val genPath = new Path(root, gen)
    if (gen.nonEmpty && f.exists(genPath)) Some(genPath.toString) else None
  }

  /** Build-once/read-many: return the live generation if one is
    * published; otherwise run `build` against this process's private
    * generation dir, then publish the pointer atomically. If a
    * concurrent builder published first, OUR generation is dropped and
    * the winner's is returned (content-keyed roots imply deterministic
    * builds, so the two are interchangeable). */
  def buildOnce(s: SparkSession, root: String)(build: String => Unit): String =
    ready(s, root).getOrElse {
      val gen = s"gen-${ProcessHandle.current().pid()}"
      val genPath = new Path(root, gen)
      build(genPath.toString)
      ready(s, root) match {
        case Some(winner) => // lost the race: drop ours, serve the winner
          fs(s, genPath).delete(genPath, true)
          winner
        case None =>
          publishPointer(s, root, gen)
          genPath.toString
      }
    }

  private val genSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Unconditional publish of a NEW generation (incremental maintenance:
    * an index append, a layout compaction) — unlike [[buildOnce]] this
    * never short-circuits on an existing generation; it builds under a
    * fresh `gen-<pid>-<seq>` dir and atomically repoints. The previous
    * generation stays on disk untouched (a reader that resolved it
    * mid-flight keeps streaming valid files) until the reaper collects
    * it after the owning pid dies. */
  def publish(s: SparkSession, root: String)(build: String => Unit): String = {
    val gen =
      s"gen-${ProcessHandle.current().pid()}-${genSeq.incrementAndGet()}"
    val genPath = new Path(root, gen)
    build(genPath.toString)
    publishPointer(s, root, gen)
    genPath.toString
  }

  /** Atomic pointer swap (see class doc for the S3A fallback). */
  private def publishPointer(s: SparkSession, root: String,
                             gen: String): Unit = {
    val rootPath = new Path(root)
    val f = fs(s, rootPath)
    f.mkdirs(rootPath)
    val tmp = new Path(rootPath,
      s"$Pointer.tmp-${ProcessHandle.current().pid()}")
    val out = f.create(tmp, true)
    try out.write(gen.getBytes("UTF-8")) finally out.close()
    val live = new Path(rootPath, Pointer)
    try {
      val fc = org.apache.hadoop.fs.FileContext.getFileContext(
        f.makeQualified(rootPath).toUri, s.sparkContext.hadoopConfiguration)
      fc.rename(f.makeQualified(tmp), f.makeQualified(live),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
    } catch {
      case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
        f.delete(live, false)
        if (!f.rename(tmp, live))
          throw new java.io.IOException(
            s"failed to publish artifact pointer $tmp -> $live")
    }
  }
}
