package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** DISTRIBUTED FILE PRUNING — metadata as data (round-13 verdict
  * task 4, the scale-out half).
  *
  * Stats-based skipping evaluates each visible file's per-column
  * bounds against the pushed filters. As a driver loop that is
  * O(files) string-parsing per plan — fine at 10³–10⁴ entries, a
  * planning bottleneck at 10⁶ (the 100 TB zone shape). The commit
  * log already writes a COLUMNAR checkpoint sidecar
  * (`<gen>.checkpoint.parquet`, one row per committed file with its
  * encoded stats — [[DirSinkLog]]); this module is its consumer: above
  * a threshold the bounds evaluation runs as a SPARK JOB over that
  * parquet — executors parse and test the stats, the driver collects
  * only the surviving names — the Delta/Iceberg metadata-table shape.
  *
  * Exactness across the log's structure:
  *   - the sidecar covers the files live at its checkpoint generation;
  *     files added SINCE (≤ [[DirSinkLog.CheckpointInterval]]-1 delta
  *     segments' worth, tracked by [[DirSink.Manifest.recentAdds]])
  *     are evaluated by the ordinary driver loop — bounded recent
  *     sliver, exact answer;
  *   - files REMOVED since the checkpoint may survive the job's
  *     filter but are absent from the live entry list, so membership
  *     intersection drops them for free;
  *   - a missing sidecar (its write is failure-tolerant) or a
  *     snapshot segment after the base (overwrite/compact replaced the
  *     state the sidecar describes) falls back to the driver loop — the job path is an optimization with a proof
  *     obligation, never a correctness dependency.
  *
  * The threshold (`spark.graft.prune.jobThreshold`, default 100 000)
  * keeps small zones on the loop: a Spark job costs ~100 ms fixed,
  * the loop ~10 µs/entry — the crossover sits around 10⁴–10⁵ entries
  * and the default is deliberately above it (never slower in the
  * common case; PLANS.md "Round-14 wave 4" records both curves).
  */
object DirSinkPrune {

  val ThresholdKey = "spark.graft.prune.jobThreshold"
  val DefaultThreshold = 100000

  /** Test/probe observables: how the last prune decided ("loop" or
    * "job"), how many entries it decided over, how many survived. */
  @volatile private[graft] var lastMode: String = "loop"
  @volatile private[graft] var lastEntries: Int = 0
  @volatile private[graft] var lastKept: Int = -1

  /** The driver-side decision for one entry — THE definition of
    * "survives the pushed filters", shared verbatim by the loop, the
    * job (executor-side), and the recent-adds sliver so the three can
    * never disagree. */
  private[v2] def survives(stats: Option[String], schema: StructType,
                           active: Seq[Filter]): Boolean =
    stats match {
      case None => true // pre-skipping line: always read
      case Some(field) =>
        val st = DirSinkStats.parse(field, schema.length)
        !active.exists(f => DirSinkStats.canSkip(f, schema, st))
    }

  /** Prune `entries` (the resolved live list) by the active filters.
    * `m` is the resolved manifest the entries came from — its
    * `ckptBase`/`recentAdds` locate the columnar sidecar and the
    * post-checkpoint sliver. Returns the surviving entries in their
    * original order. */
  private[v2] def prune(path: String, m: DirSink.Manifest,
                        entries: Seq[DirSink.FileEntry],
                        schema: StructType,
                        active: Seq[Filter]): Seq[DirSink.FileEntry] = {
    if (active.isEmpty) { lastMode = "none"; return entries }
    lastEntries = entries.size
    val spark = SparkSession.active
    val threshold = scala.util.Try(
      spark.conf.get(ThresholdKey, DefaultThreshold.toString).toInt)
      .getOrElse(DefaultThreshold)
    if (entries.size >= threshold && m.ckptBase.isDefined) {
      pruneJob(spark, path, m.ckptBase.get, m.recentAdds, entries, schema,
        active) match {
        case Some(r) => lastMode = "job"; lastKept = r.size; return r
        case None => () // sidecar missing — fall through
      }
    }
    lastMode = "loop"
    val r = entries.filter(e => survives(e.stats, schema, active))
    lastKept = r.size
    r
  }

  /** The job path, callable directly (the probe drives it without a
    * scan): evaluate the sidecar rows on executors, collect surviving
    * names, intersect with the live list, loop only the recent adds.
    * None iff the sidecar file does not exist. */
  private[graft] def pruneJob(spark: SparkSession, path: String,
                              ckptGen: Long, recentAdds: Set[String],
                              entries: Seq[DirSink.FileEntry],
                              schema: StructType,
                              active: Seq[Filter])
      : Option[Seq[DirSink.FileEntry]] = {
    val sidecar = new Path(DirSinkLog.logPath(path),
      DirSinkLog.parquetCheckpointName(ckptGen))
    val f = DirSink.fs(path)
    if (!f.exists(sidecar)) return None
    // executor closure: schema + filters ship once per task; sources
    // Filters are case classes (serializable), stats decode is the
    // SAME DirSinkStats.parse/canSkip the driver loop trusts
    val sch = schema
    val filters = active.toIndexedSeq
    import spark.implicits._
    val survivors = spark.read.parquet(sidecar.toString)
      .select("name", "stats").as[(String, String)]
      .filter { t: (String, String) =>
        survives(Option(t._2), sch, filters)
      }
      .map(_._1)
      .collect().toSet
    Some(entries.filter(e =>
      if (recentAdds.contains(e.name)) survives(e.stats, schema, active)
      else survivors.contains(e.name)))
  }
}
