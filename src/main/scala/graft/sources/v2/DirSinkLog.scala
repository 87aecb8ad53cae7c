package graft.sources.v2

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.types.StructType

/** The INCREMENTAL COMMIT LOG of the DirSink table format — the
  * metadata plane that removes the whole-manifest-rewrite ceiling
  * (round-13 verdict task 1).
  *
  * Before this layer, every publish rewrote `_GRAFT_COMMIT` whole
  * (schema + headers + one line per live file) and every plan re-parsed
  * it: O(total files) bytes written INSIDE the zone lock per commit and
  * O(total files) read per plan — at 1M files (100 TB at 100 MB/file)
  * that is a ~100 MB driver-side text read-modify-write per append, the
  * exact failure mode Delta's incremental JSON log + checkpoints and
  * Iceberg's manifest lists exist to avoid.
  *
  * Layout (`<zone>/_graft_log/`):
  *
  *   - `<gen %020d>.commit` — ONE small file per publish, named by the
  *     generation counter (the existing `#gen` header is the segment
  *     ordinal). Body: the schema DDL line, the FULL logical header
  *     (small and bounded: gen/emax/format/bucket/bloom/checks +
  *     the capped history), then either DELTA lines (`+<file line>`
  *     adds appended at the tail, `-<name>` removes — O(delta) bytes)
  *     or, for history-replacing commits (overwrite/RESTORE/DROP
  *     COLUMN, marked `#snap=1`), the complete file list.
  *   - `<gen %020d>.checkpoint` — the full state at that generation in
  *     the classic manifest format, written every
  *     [[CheckpointInterval]] commits so a plan reads at most one
  *     checkpoint + K-1 commit segments regardless of zone age.
  *   - `<gen %020d>.checkpoint.parquet` — the same per-file entries as
  *     COLUMNAR METADATA (name/rows/bytes/ts/epoch/bucket/stats), the
  *     Delta-checkpoint shape that lets file pruning at 10^6 entries
  *     run as a Spark job over metadata instead of a driver text parse
  *     ([[DirSinkScan]]'s distributed-prune path).
  *
  * Commit protocol: segments are written to a tmp name and RENAMED to
  * their final generation-numbered name — a fresh-name rename (never
  * overwrite), atomic on local FS and HDFS, and it FAILS if the
  * generation was already claimed, which backstops the zone lock's
  * mutual exclusion with a loud ConcurrentModificationException
  * instead of a lost update. Readers list the log directory and replay
  * from the newest base (checkpoint or `#snap=1` segment) at or below
  * the target generation; a reader can therefore never observe a
  * half-published commit, and the previous generation stays fully
  * readable until the instant the rename lands.
  *
  * RETAINED-GENERATION TIME TRAVEL falls out of the log: any
  * generation whose base + contiguous segment suffix still exist is
  * reconstructible ([[at]]), so `VERSION AS OF g` survives compaction,
  * DELETE, and row-level DML for as long as retention keeps the
  * segments (vacuum's cutoff governs both segments and the superseded
  * data files they reference; see [[DirSink.vacuum]]). The streams
  * address the same generations ([[DirSinkGenOffset]]).
  *
  * The log is the zone's only history: a directory holding a bare
  * `_GRAFT_COMMIT` and no log is refused ([[DirSink.readManifestRaw]]).
  *
  * Driver-side state cache: every read lists the log directory (one
  * RPC) and fingerprints the segment statuses (name/length/mtime) —
  * an unchanged fingerprint serves the parsed state from memory, so
  * the many per-plan metadata probes (format, bucket, checks, stats)
  * cost one listing instead of one full parse each. Hand-edited or
  * vacuumed segments change the fingerprint and invalidate naturally.
  */
object DirSinkLog {
  val LogDirName = "_graft_log"

  /** A plan reads at most this many commit segments + 1 checkpoint. */
  val CheckpointInterval = 10L

  /** The snapshot marker header: this segment's lines are the COMPLETE
    * file list (overwrite/RESTORE/DROP COLUMN/CTAS-replace), replacing
    * the parent state instead of patching it. Stripped from the
    * logical header on replay. */
  private val SnapKey = "snap"

  /** Per-segment wall-clock commit stamp (millis) — what
    * generation-level `TIMESTAMP AS OF` resolves against. Kept in the
    * replayed header (informative; overwritten every publish). */
  private[v2] val TsKey = "ts"

  /** What a publish changes. Delta bodies are O(delta) bytes; snapshot
    * bodies replace the whole list (and cost what they replace). */
  private[v2] sealed trait CommitBody
  private[v2] case class DeltaCommit(adds: Seq[String],
                                     removes: Seq[String]) extends CommitBody
  private[v2] case class SnapshotCommit(lines: Seq[String]) extends CommitBody

  /** Test observable: segment files read by the last head/at replay. */
  @volatile private[graft] var lastReplaySegments: Int = 0

  private case class Seg(gen: Long, ckpt: Boolean, status: FileStatus)

  /** (fingerprint, parsed head state) per qualified zone path. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, DirSink.Manifest)]()

  def logPath(path: String): Path = new Path(path, LogDirName)

  private[v2] def segName(gen: Long, ckpt: Boolean): String =
    f"$gen%020d." + (if (ckpt) "checkpoint" else "commit")

  /** Columnar checkpoint sidecar name for a generation. */
  private[v2] def parquetCheckpointName(gen: Long): String =
    f"$gen%020d.checkpoint.parquet"

  private def parseSegName(n: String): Option[(Long, Boolean)] =
    if (n.endsWith(".commit"))
      scala.util.Try((n.stripSuffix(".commit").toLong, false)).toOption
    else if (n.endsWith(".checkpoint"))
      scala.util.Try((n.stripSuffix(".checkpoint").toLong, true)).toOption
    else None

  private def listSegs(f: FileSystem, path: String): Seq[Seg] = {
    val dir = logPath(path)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.flatMap { st =>
      parseSegName(st.getPath.getName).map { case (g, c) => Seg(g, c, st) }
    }.sortBy(s => (s.gen, s.ckpt))
  }

  /** Does this zone have a commit log? */
  private[v2] def hasLog(f: FileSystem, path: String): Boolean =
    listSegs(f, path).nonEmpty

  private def fingerprint(segs: Seq[Seg]): Long =
    segs.foldLeft(segs.size.toLong) { (acc, s) =>
      var h = acc * 31 + s.status.getPath.getName.hashCode
      h = h * 31 + s.status.getLen
      h * 31 + s.status.getModificationTime
    }

  /** One parsed segment: schema, header (snap stripped), snapshot flag,
    * full-or-added lines, removed names. */
  private case class ParsedSeg(schema: StructType,
                               header: Map[String, String],
                               snap: Boolean,
                               lines: Seq[String],
                               removes: Seq[String])

  private def readText(f: FileSystem, p: Path): String = {
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  private def parseSegment(text: String, ckpt: Boolean): ParsedSeg = {
    val all = text.split("\n").filter(_.nonEmpty)
    val (hdr, body) = all.tail.partition(_.startsWith("#"))
    val header = hdr.map { h =>
      val b = h.drop(1)
      val eq = b.indexOf('=')
      if (eq < 0) (b, "") else (b.substring(0, eq), b.substring(eq + 1))
    }.toMap
    val snap = ckpt || header.get(SnapKey).contains("1")
    val schema = StructType.fromDDL(all.head)
    if (snap)
      ParsedSeg(schema, header - SnapKey, snap = true, body.toSeq, Nil)
    else {
      val (adds, rems) = body.partition(_.startsWith("+"))
      val badly = body.filterNot(l => l.startsWith("+") || l.startsWith("-"))
      if (badly.nonEmpty) throw new IllegalStateException(
        s"malformed delta segment line(s): ${badly.take(3).mkString(" | ")}")
      ParsedSeg(schema, header, snap = false,
        adds.toSeq.map(_.drop(1)), rems.toSeq.map(_.drop(1)))
    }
  }

  private def renderSegment(schema: StructType, header: Map[String, String],
                            body: CommitBody): String = {
    val (hdr, lines) = body match {
      case SnapshotCommit(ls) => (header + (SnapKey -> "1"), ls)
      case DeltaCommit(adds, removes) =>
        (header, removes.map("-" + _) ++ adds.map("+" + _))
    }
    (schema.toDDL +: (hdr.toSeq.sortBy(_._1)
      .map { case (k, v) => s"#$k=$v" } ++ lines)).mkString("\n")
  }

  private def applySeg(parent: Seq[String], seg: ParsedSeg): Seq[String] =
    if (seg.snap) seg.lines
    else {
      val gone = seg.removes.toSet
      (if (gone.isEmpty) parent
       else parent.filterNot(l => gone(DirSink.parseEntry(l).name))) ++
        seg.lines
    }

  /** The newest commit segment's generation. Every publish writes a
    * commit segment before any checkpoint at its generation, so a log
    * of checkpoints alone was not written by this format — refused. */
  private def headGen(path: String, segs: Seq[Seg]): Long = {
    val commits = segs.filter(!_.ckpt)
    if (commits.isEmpty) throw new IllegalStateException(
      s"commit log of zone $path has no commit segment, only " +
        "checkpoints — refusing to read it")
    commits.map(_.gen).max
  }

  /** Replay the log to `target` (None = head). Throws if the target
    * generation is not (or no longer) reconstructible. */
  private def replay(f: FileSystem, path: String, segs: Seq[Seg],
                     target: Option[Long]): DirSink.Manifest = {
    val head = headGen(path, segs)
    val tgt = target.getOrElse(head)
    if (tgt > head) throw new IllegalArgumentException(
      s"generation $tgt exceeds zone $path's head generation $head")
    // base: the newest checkpoint at or below the target
    val base = segs.filter(s => s.ckpt && s.gen <= tgt)
      .sortBy(_.gen).lastOption
    val commits = segs.filter(s => !s.ckpt &&
      base.forall(_.gen < s.gen) && s.gen <= tgt)
    var reads = 0
    var state: Option[(StructType, Map[String, String], Seq[String])] =
      base.map { b =>
        reads += 1
        val p = parseSegment(readText(f, b.status.getPath), ckpt = true)
        (p.schema, p.header, p.lines)
      }
    // distributed prune/aggregate bookkeeping: which CHECKPOINT (with
    // its columnar sidecar) this state derives from, what was added by
    // delta segments since, and what was REMOVED since (so a sidecar
    // job can anti-join stale rows out) — a snapshot segment replaces
    // the state the sidecar describes, so it clears the base
    var ckptBase: Option[Long] = base.map(_.gen)
    var recentAdds = Set.empty[String]
    var recentRemoves = Set.empty[String]
    var expect = base.map(_.gen + 1).getOrElse(
      commits.headOption.map(_.gen).getOrElse(0L))
    commits.foreach { c =>
      if (c.gen != expect) throw new IllegalStateException(
        s"commit log under $path is not contiguous at generation $expect " +
          s"(next segment is ${c.gen}) — a segment is missing; the " +
          "requested state is not reconstructible")
      reads += 1
      val p = parseSegment(readText(f, c.status.getPath), ckpt = false)
      if (state.isEmpty && !p.snap && c.gen != 0L)
        throw new IllegalArgumentException(
          s"generation $tgt of zone $path is no longer reconstructible: " +
            s"the oldest retained segment ($c) is a delta with no " +
            "checkpoint or snapshot base below it (vacuum retention " +
            "dropped the base)")
      val lines = applySeg(state.map(_._3).getOrElse(Seq.empty), p)
      state = Some((p.schema, p.header, lines))
      if (p.snap) {
        ckptBase = None; recentAdds = Set.empty; recentRemoves = Set.empty
      } else {
        val added = p.lines.map(l => DirSink.parseEntry(l).name)
        recentAdds = recentAdds -- p.removes ++ added
        // a RETAG (deletion-vector DELETE / delta DML) removes and
        // re-adds the SAME name in one commit — the name must STAY in
        // recentRemoves so a sidecar job anti-joins the stale
        // pre-retag row out (the retagged live entry rides
        // recentAdds); a name in both sets means "sidecar row stale,
        // live version in the sliver". Fresh names absent from the
        // sidecar make the extra removes a no-op.
        recentRemoves = recentRemoves ++ p.removes
      }
      expect = c.gen + 1
    }
    lastReplaySegments = reads
    val (schema, header, lines) = state.getOrElse(
      throw new IllegalArgumentException(
        s"generation $tgt of zone $path is no longer reconstructible " +
          "(no retained base at or below it)"))
    DirSink.Manifest(schema, header, lines, ckptBase, recentAdds,
      recentRemoves)
  }

  /** The zone's current state from the log, cached by fingerprint;
    * None if the zone has no log. Retries through a concurrent
    * vacuum's segment delete (the listing and the read race by
    * nature). */
  private[v2] def head(path: String): Option[DirSink.Manifest] = {
    val f = DirSink.fs(path)
    val key = f.makeQualified(new Path(path)).toString
    var attempt = 0
    while (true) {
      val segs = listSegs(f, path)
      if (segs.isEmpty) return None
      val fp = fingerprint(segs)
      val hit = cache.get(key)
      if (hit != null && hit._1 == fp) return Some(hit._2)
      try {
        val m = replay(f, path, segs, None)
        cache.put(key, (fp, m))
        return Some(m)
      } catch {
        case _: java.io.FileNotFoundException if attempt < 20 =>
          attempt += 1
          Thread.sleep(50)
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** The zone's state AT a generation — retained-generation time
    * travel. Throws (with the retention story) if not reconstructible. */
  private[v2] def at(path: String, gen: Long): DirSink.Manifest = {
    val f = DirSink.fs(path)
    val segs = listSegs(f, path)
    if (segs.isEmpty) throw new IllegalArgumentException(
      s"no committed zone under $path")
    val era = replay(f, path, segs, Some(gen))
    // era reads gate like head reads: a generation written by a newer
    // build refuses rather than misreads
    DirSinkProtocol.checkRead(era.header, path)
    era
  }

  /** Resolve `TIMESTAMP AS OF t` to the GENERATION of the newest
    * commit whose stamp is <= t (segment stamps are monotone — commits
    * are wall-clock-ordered under the zone lock), scanned newest first
    * with early exit so a recent t reads O(1) segments. Throws when no
    * retained commit qualifies. */
  private[v2] def genAsOfTimestamp(path: String, t: Long): Long = {
    val f = DirSink.fs(path)
    listSegs(f, path).filter(!_.ckpt).reverseIterator.foreach { c =>
      val ts = parseSegment(readText(f, c.status.getPath), ckpt = false)
        .header.get(TsKey).flatMap(s => scala.util.Try(s.toLong).toOption)
      if (ts.forall(_ <= t)) return c.gen
    }
    throw new IllegalArgumentException(
      s"asOfTimestamp $t predates the zone's first commit under $path")
  }

  /** Publish one commit segment — MUST run under the zone lock. The
    * header must already carry the bumped `gen`; this layer adds the
    * wall-clock stamp, claims the generation by fresh-name rename, and
    * writes the periodic checkpoint (+ its columnar sidecar). */
  private[v2] def publish(path: String, schema: StructType,
                          header: Map[String, String], body: CommitBody,
                          tmpSuffix: String): Unit = {
    val f = DirSink.fs(path)
    val dir = logPath(path)
    f.mkdirs(dir)
    val gen = header.getOrElse("gen",
      throw new IllegalArgumentException("publish without a gen header"))
      .toLong
    // protocol gate THEN stamp: refuse to commit on top of features
    // this build does not implement; publish the explicit lists
    DirSinkProtocol.checkWrite(header, path)
    val stamped = DirSinkProtocol.stamp(header) +
      (TsKey -> System.currentTimeMillis().toString)
    // parent state BEFORE the commit lands (for the checkpoint below);
    // resolved only when a checkpoint is due — the cache makes it cheap
    val ckptDue = gen > 0 && gen % CheckpointInterval == 0
    val parentLines: Seq[String] =
      if (ckptDue && body.isInstanceOf[DeltaCommit])
        head(path).map(_.lines).getOrElse(Seq.empty)
      else Seq.empty
    writeSeg(f, dir, segName(gen, ckpt = false), tmpSuffix,
      renderSegment(schema, stamped, body))
    val key = f.makeQualified(new Path(path)).toString
    cache.remove(key)
    if (ckptDue) {
      val lines = body match {
        case SnapshotCommit(ls) => ls
        case d: DeltaCommit =>
          applySeg(parentLines, ParsedSeg(schema, stamped, snap = false,
            d.adds, d.removes))
      }
      try {
        writeSeg(f, dir, segName(gen, ckpt = true), s"ck-$tmpSuffix",
          DirSink.renderManifest(schema, stamped, lines))
        writeParquetCheckpoint(path, gen, schema, lines)
      } catch {
        // a checkpoint is an ACCELERATOR, not a correctness carrier —
        // losing one widens the next replay window, nothing more
        case _: java.io.IOException => ()
      }
    }
  }

  private def writeSeg(f: FileSystem, dir: Path, name: String,
                       tmpSuffix: String, content: String): Unit = {
    val tmp = new Path(dir, s"$name.tmp-$tmpSuffix")
    val out = f.create(tmp, true)
    try out.write(content.getBytes("UTF-8")) finally out.close()
    val fin = new Path(dir, name)
    // The fresh-name-rename backstop assumes rename FAILS when the
    // destination exists — true on HDFS, but RawLocalFileSystem
    // delegates to POSIX rename(2), which silently OVERWRITES. Probe
    // existence first so the loud-failure guarantee holds on local FS
    // too (the zone lock makes the probe→rename window unreachable for
    // well-behaved writers; a misbehaving one now fails loudly instead
    // of replacing a committed segment).
    if (f.exists(fin)) {
      f.delete(tmp, false)
      if (name.endsWith(".commit"))
        throw new java.util.ConcurrentModificationException(
          s"generation segment $name already exists under $dir — a " +
            "concurrent commit claimed it; retry against the new state")
      return // an identical checkpoint landed concurrently — benign
    }
    if (!f.rename(tmp, fin)) {
      f.delete(tmp, false)
      if (f.exists(fin) && name.endsWith(".commit"))
        throw new java.util.ConcurrentModificationException(
          s"generation segment $name already exists under $dir — a " +
            "concurrent commit claimed it; retry against the new state")
      else if (!f.exists(fin))
        throw new java.io.IOException(s"failed to publish segment $name")
      // else: an identical checkpoint landed concurrently — benign
    }
  }

  /** The columnar checkpoint: one row per committed file, the stats
    * field as its encoded string (schema-stable across zones), written
    * through Spark so the 10^6-entry prune can read it back as a
    * DataFrame and evaluate bounds on executors. Failure-tolerant for
    * the same reason as the text checkpoint. */
  private def writeParquetCheckpoint(path: String, gen: Long,
                                     schema: StructType,
                                     lines: Seq[String]): Unit =
    try {
      val spark = org.apache.spark.sql.SparkSession.active
      import spark.implicits._
      val rows = lines.map { l =>
        val e = DirSink.parseEntry(l)
        (e.name, e.rows, e.epoch, e.ts, e.bytes, e.bucket, e.stats,
          e.dv.map(_._2))
      }
      val tmp = new Path(logPath(path), s".ckpt-parquet-tmp-$gen")
      spark.createDataset(rows)
        .toDF("name", "rows", "epoch", "ts", "bytes", "bucket", "stats",
          "dvcard")
        .coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val f = DirSink.fs(path)
      // publish the single part file under the deterministic name
      val part = f.listStatus(tmp).map(_.getPath)
        .find(p => p.getName.startsWith("part-") &&
          p.getName.endsWith(".parquet"))
      part.foreach { p =>
        f.rename(p, new Path(logPath(path), parquetCheckpointName(gen)))
      }
      f.delete(tmp, true)
      // accelerator, not a correctness carrier: a failed sidecar only
      // widens the prune job's fallback window — but FATAL throwables
      // (OOM, interrupts, linkage errors) must still propagate
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Names referenced by ANY reconstructible generation of the
    * retained log — the vacuum live-set. Union of every retained
    * checkpoint's lines and every retained segment's adds: a file
    * removed at gen k is still referenced by gen k-1, whose state is
    * reconstructible exactly while its segments are retained. */
  private[v2] def retainedLiveSet(f: FileSystem, path: String,
                                  excludeSegs: Set[String] = Set.empty)
      : Set[String] = {
    val segs = listSegs(f, path)
      .filterNot(s => excludeSegs(s.status.getPath.getName))
    segs.flatMap { s =>
      val p = parseSegment(readText(f, s.status.getPath), s.ckpt)
      p.lines.flatMap { l =>
        val e = DirSink.parseEntry(l)
        // a retained line's deletion vector is as live as its file
        e.name +: e.dv.map(_._1).toSeq
      }
    }.toSet
  }

  /** LOG RETENTION (the vacuum half that governs time travel): the cut
    * generation is the newest one whose ENTIRE prefix has aged past
    * the cutoff — generations below it stop being reconstructible,
    * generations at or above it keep every file (the vacuum sweep's
    * live-set is the union over retained segments, so "no retained
    * snapshot can lose a file" is a theorem, not a race). The cut must
    * land on a BASE for the surviving suffix to replay; when none
    * exists there, vacuum WRITES the checkpoint first (it has the
    * state — reconstruction still works pre-truncation), so even
    * `vacuum(0)` on a young zone can retire a rewrite's superseded
    * files without ever breaking the head. Returns the zone-relative
    * segment paths swept (parquet sidecars ride along). */
  private[v2] def vacuumLog(f: FileSystem, path: String, cutoffMs: Long,
                            dryRun: Boolean): Seq[String] = {
    val segs = listSegs(f, path)
    if (segs.isEmpty) return sweptTmp(f, path, cutoffMs, dryRun)
    // the newest generation whose whole strict prefix is older than
    // the cutoff (segment mtimes are commit-ordered)
    val cut = segs.map(_.gen).distinct.sorted.reverse.find { g =>
      segs.filter(_.gen < g).forall(
        _.status.getModificationTime < cutoffMs)
    }.getOrElse(0L)
    if (cut > 0 && !dryRun &&
      !segs.exists(s => s.ckpt && s.gen == cut)) {
      // anchor the surviving suffix: checkpoint the cut generation —
      // WITH its columnar sidecar, or the distributed-prune job path
      // would silently degrade to the driver loop until the next
      // periodic checkpoint (the state is already in memory; the
      // sidecar write is failure-tolerant like the periodic one)
      val m = replay(f, path, segs, Some(cut))
      try writeSeg(f, logPath(path), segName(cut, ckpt = true), "vac",
        DirSink.renderManifest(m.schema, m.header, m.lines))
      catch { case _: java.io.IOException => return Seq.empty }
      writeParquetCheckpoint(path, cut, m.schema, m.lines)
    }
    val doomed = segs.filter(_.gen < cut)
    val swept = scala.collection.mutable.ArrayBuffer[String]()
    doomed.foreach { s =>
      val n = s.status.getPath.getName
      swept += s"$LogDirName/$n"
      if (!dryRun) f.delete(s.status.getPath, false)
      if (s.ckpt) {
        val pq = new Path(logPath(path), parquetCheckpointName(s.gen))
        if (f.exists(pq)) {
          swept += s"$LogDirName/${pq.getName}"
          if (!dryRun) f.delete(pq, false)
        }
      }
    }
    if (!dryRun && doomed.nonEmpty)
      cache.remove(f.makeQualified(new Path(path)).toString)
    swept.toSeq ++ sweptTmp(f, path, cutoffMs, dryRun)
  }

  /** Crashed publishes leave `.tmp-*` segment debris — age-gated sweep. */
  private def sweptTmp(f: FileSystem, path: String, cutoffMs: Long,
                       dryRun: Boolean): Seq[String] = {
    val dir = logPath(path)
    if (!f.exists(dir)) return Seq.empty
    f.listStatus(dir).toSeq.collect {
      case st if st.getPath.getName.contains(".tmp-") &&
        st.getModificationTime < cutoffMs =>
        if (!dryRun) f.delete(st.getPath, st.isDirectory)
        s"$LogDirName/${st.getPath.getName}"
    }
  }

  /** Test hook: drop the state cache (hand-edited segments in specs). */
  private[graft] def invalidate(path: String): Unit = {
    val f = DirSink.fs(path)
    cache.remove(f.makeQualified(new Path(path)).toString)
  }

  /** One generation's FILE-level change set, for the change feed and
    * the row tail: which committed files arrived and which left at
    * `gen`, the schema the generation was written under, the commit's
    * history op label ([[DirSink.withHistory]]) and whether it was a
    * history-replacing snapshot segment (overwrite, RESTORE, DROP
    * COLUMN, REPLACE). Snapshot segments diff against the parent state
    * — their removes are every parent file not carried forward. */
  private[graft] case class GenChange(gen: Long, ts: Option[Long],
                                      schemaDdl: String,
                                      op: String,
                                      snapshot: Boolean,
                                      addNames: Seq[String],
                                      removeNames: Seq[String]) {
    /** Does this commit drop or rewrite rows a reader has seen?
      * Appends and metadata-only commits do not, and neither does
      * row-preserving maintenance ([[DirSink.RowPreservingOps]]);
      * every other rewrite does. */
    def rewritesRows: Boolean =
      !DirSink.RowPreservingOps(op) && (snapshot || removeNames.nonEmpty)
  }

  /** The commit's own history record's op label (the last `#hist`
    * entry, written at this generation); empty when it has none. */
  private def opOf(header: Map[String, String], gen: Long): String =
    DirSink.historyOf(header).lastOption.filter(_.gen == gen)
      .fold("")(_.op)

  private def changeOf(c: Seg, p: ParsedSeg, adds: Seq[String],
                       removes: Seq[String]): GenChange =
    GenChange(c.gen,
      p.header.get(TsKey).flatMap(s => scala.util.Try(s.toLong).toOption),
      p.schema.toDDL, opOf(p.header, c.gen), p.snap, adds, removes)

  /** The per-generation change sets in (fromExclusive, toInclusive] —
    * the raw material of [[ChangeFeed]] and of both micro-batch
    * streams. Every commit segment in the range must still be retained
    * (vacuum truncates from the oldest end); the parent state is
    * replayed only when a snapshot segment needs it for its diff. */
  private[v2] def changesBetween(path: String, fromExclusive: Long,
                                 toInclusive: Long): Seq[GenChange] = {
    val f = DirSink.fs(path)
    val segs = listSegs(f, path)
    if (segs.isEmpty) throw new IllegalArgumentException(
      s"zone $path has no commit log — no change feed to read")
    val head = headGen(path, segs)
    if (toInclusive > head) throw new IllegalArgumentException(
      s"endingVersion $toInclusive exceeds zone $path's head " +
        s"generation $head")
    val commits = segs.filter(s => !s.ckpt && s.gen > fromExclusive &&
      s.gen <= toInclusive)
    // every generation of the range needs its own commit segment: a
    // range reaching behind vacuum retention (including a feed from the
    // birth whose generation 0 was truncated) would otherwise silently
    // yield only the changes since the oldest retained segment
    val missing = (math.max(fromExclusive + 1, 0L) to toInclusive)
      .diff(commits.map(_.gen))
    if (missing.nonEmpty)
      throw new IllegalArgumentException(
        s"generation ${missing.head} of zone $path is not " +
          "reconstructible: the oldest retained commit segment is " +
          s"${commits.headOption.map(_.gen).getOrElse(-1L)} (vacuum " +
          "retention truncated the range) — start the consumer from a " +
          "retained generation instead")
    // parent name-state (empty before the log's birth), replayed on the
    // first snapshot that needs it and carried forward from there
    var names: Option[Seq[String]] =
      if (fromExclusive < 0) Some(Seq.empty) else None
    commits.map { c =>
      val p = parseSegment(readText(f, c.status.getPath), ckpt = false)
      if (p.snap) {
        val parent = names.getOrElse(
          at(path, c.gen - 1).lines.map(l => DirSink.parseEntry(l).name))
        val next = p.lines.map(l => DirSink.parseEntry(l).name)
        val nextSet = next.toSet
        val parentSet = parent.toSet
        names = Some(next)
        changeOf(c, p, next.filterNot(parentSet), parent.filterNot(nextSet))
      } else {
        val goneSet = p.removes.toSet
        val adds = p.lines.map(l => DirSink.parseEntry(l).name)
        names = names.map(_.filterNot(goneSet) ++ adds)
        changeOf(c, p, adds, p.removes)
      }
    }
  }

  /** Where a fresh row tail takes its first snapshot: the newest
    * generation at or below `upTo` whose commit rewrote rows
    * ([[GenChange.rewritesRows]] — a tail cannot stream through it), or
    * the oldest generation the retained log can replay, whichever is
    * newer. Scans commit segments newest first and stops at the first
    * rewrite; snapshot diffs are never computed (a snapshot segment
    * rewrites rows unless its op is row-preserving). */
  private[v2] def tailFloor(path: String, upTo: Long): Long = {
    val f = DirSink.fs(path)
    val segs = listSegs(f, path)
    if (segs.isEmpty) throw new IllegalArgumentException(
      s"no committed zone under $path — nothing to tail")
    val oldest = segs.head.gen
    segs.filter(s => !s.ckpt && s.gen > oldest && s.gen <= upTo)
      .reverseIterator.find { c =>
        val p = parseSegment(readText(f, c.status.getPath), ckpt = false)
        changeOf(c, p, Nil, p.removes).rewritesRows
      }.fold(oldest)(_.gen)
  }
}
