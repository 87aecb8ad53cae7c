package graft

import org.apache.spark.sql.SparkSession

/** Session builders for library users (SURVEY.md §2.1 S3 — the
  * reference's `.env`-driven connection bootstrap becomes session
  * config). Two profiles:
  *
  *  - [[local]]: single-JVM development/verification — shuffle partitions
  *    sized to cores (never the 200 default), UTC, AQE on, the
  *    [[GraftExtensions]] installed. The only session builder: every main
  *    and the test suites take their session from it.
  *  - [[clusterConf]]: the config pairs a 100 TB deployment starts from —
  *    AQE (coalesce + skew-join), broadcast threshold, shuffle
  *    compression; returned as data so the caller's spark-submit owns the
  *    final values.
  */
object Sessions {

  /** Cores for the CLI mains' `local[N]`: `$SPARK_GRAFT_CPUS`, else 4
    * (the bench protocol's width). Read here and nowhere else. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def local(cores: Int = cpus, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // storage-partitioned joins over bucketed DirSink zones: scans
      // reporting KeyGroupedPartitioning(bucket(n, col)) join without a
      // shuffle when both sides share the layout
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Baseline cluster configuration for the 100 TB posture. */
  val clusterConf: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.autoBroadcastJoinThreshold" -> (64 * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> (256 * 1024 * 1024).toString,
    "spark.sql.parquet.filterPushdown" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.shuffle.compress" -> "true",
    // transformWithState (StreamOps ST6) requires the RocksDB provider;
    // it is also the right store for any large streaming state
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.serializer" -> "org.apache.spark.serializer.KryoSerializer")
}
