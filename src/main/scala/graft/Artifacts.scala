package graft

import org.apache.hadoop.fs.{FileSystem, Path}
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
  *     ([[reap]]), never while a just-resolved reader might still be
  *     streaming it,
  *   - an incremental generation ([[publishDelta]]) names the
  *     generation it extends in a one-line `_PARENT` file; [[chain]]
  *     is the one walk of those links, live generation first.
  *
  * All probes and publishes go through the Hadoop FileSystem resolved
  * from the session configuration, so the same derivation works on
  * `file:`/`hdfs:`/`s3a:` roots.
  */
object Artifacts {
  val Pointer = "_GRAFT_ARTIFACT"
  private val Parent = "_PARENT"

  private def fs(s: SparkSession, p: Path) =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** Per-part completeness probe (`_SUCCESS`, written by Spark's own
    * output committer) — the guard for single-dir artifacts and for
    * parts INSIDE an unpublished generation. */
  def partReady(s: SparkSession, path: String): Boolean = {
    val p = new Path(path, "_SUCCESS")
    fs(s, p).exists(p)
  }

  /** The trimmed one-line content of a pointer or `_PARENT` file, ""
    * when there is none. */
  private def readName(f: FileSystem, p: Path): String =
    if (!f.exists(p)) ""
    else {
      val in = f.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    }

  /** The live generation's name, then every generation it extends
    * through `_PARENT` links; the walk stops at a base generation (no
    * `_PARENT`) or at a name it has already walked. Empty when the
    * pointer is absent or names a generation that no longer exists. */
  private def chainNames(f: FileSystem, root: Path): List[String] = {
    @scala.annotation.tailrec
    def walk(g: String, out: List[String]): List[String] =
      if (g.isEmpty || out.contains(g)) out.reverse
      else walk(readName(f, new Path(new Path(root, g), Parent)), g :: out)
    val live = readName(f, new Path(root, Pointer))
    if (live.nonEmpty && f.exists(new Path(root, live))) walk(live, Nil) else Nil
  }

  /** The live generation dir of a pointer-published artifact, or None
    * if nothing was ever published (or the pointer references a
    * generation that no longer exists — treated as unpublished, so the
    * next [[buildOnce]] rebuilds instead of serving a dangling ref). */
  def ready(s: SparkSession, root: String): Option[String] =
    chain(s, root).headOption

  /** The dirs of the live generation and of every generation it
    * extends, live first; empty if nothing is published. */
  def chain(s: SparkSession, root: String): Seq[String] = {
    val r = new Path(root)
    chainNames(fs(s, r), r).map(new Path(r, _).toString)
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

  /** [[publish]] a generation that EXTENDS the generation dir `parent`
    * (the live one, as the caller read it): the new generation's
    * `_PARENT` names it, so [[chain]] reads the new generation and
    * everything `parent` reads. */
  def publishDelta(s: SparkSession, root: String, parent: String)(
      build: String => Unit): String =
    publish(s, root) { gen =>
      build(gen)
      val p = new Path(gen, Parent)
      val out = fs(s, p).create(p, true)
      try out.write(new Path(parent).getName.getBytes("UTF-8"))
      finally out.close()
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

  /** Once per JVM: [[reap]] the scratch roots under `/tmp`. */
  lazy val reapTmp: Unit = reap(new java.io.File("/tmp"))

  /** Delete under `tmp` the `graft_layout_*_<pid>` roots (the Layouts
    * scratch, keyed by the owning JVM's pid) and, under each
    * `graft_ann_index_*` root, the `gen-<pid>[-<seq>]` generation dirs
    * OUTSIDE its [[chain]] (crash-orphaned or race-loser builds,
    * superseded generations), whose owning process is gone. A dead
    * pid's dir can never be written again, so reaping it is safe; a
    * LIVE pid's dir is never touched, and neither is any generation of
    * the chain, whatever its pid — the chain IS the shared artifact.
    * Failures are ignored: cleanup is best-effort hygiene, never a
    * correctness dependency. */
  private[graft] def reap(tmp: java.io.File): Unit = {
    def dead(pid: Option[Long]): Boolean = pid.exists(p =>
      p != ProcessHandle.current().pid() && ProcessHandle.of(p).isEmpty)
    val roots = Option(tmp.listFiles()).getOrElse(Array.empty)
    val staleLayouts = roots.filter(f => f.getName.startsWith("graft_layout_") &&
      dead(f.getName.substring(f.getName.lastIndexOf('_') + 1).toLongOption))
    lazy val local = FileSystem.getLocal(new org.apache.hadoop.conf.Configuration())
    val staleGens = roots.filter(_.getName.startsWith("graft_ann_index_"))
      .flatMap { root =>
        // an unreadable chain protects the whole root
        scala.util.Try(chainNames(local, new Path(root.getPath)).toSet).fold(
          _ => Array.empty[java.io.File],
          // the pid is the second dash segment of a gen name
          live => Option(root.listFiles()).getOrElse(Array.empty).filter(g =>
            g.isDirectory && g.getName.startsWith("gen-") &&
              !live.contains(g.getName) &&
              dead(g.getName.split('-').lift(1).flatMap(_.toLongOption))))
      }
    (staleLayouts ++ staleGens).foreach { f =>
      // NonFatal, not IOException: Files.walk consumption surfaces a
      // concurrent reaper's deletions as UncheckedIOException — two
      // JVMs racing on the same dead root is exactly the scenario here,
      // and neither may crash the query build. The stream must be
      // closed, or the directory handles leak per reap.
      try {
        import java.nio.file.{Files, Path => JPath}
        val walk = Files.walk(f.toPath)
        try walk.sorted(java.util.Comparator.reverseOrder[JPath]())
          .forEach(p => Files.deleteIfExists(p))
        finally walk.close()
      } catch { case scala.util.control.NonFatal(_) => () }
    }
  }
}
