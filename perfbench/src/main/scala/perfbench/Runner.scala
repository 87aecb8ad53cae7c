package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import scala.collection.mutable
import scala.util.chaining._
import scala.util.control.NonFatal

/** JVM side of the benchmark. It drives the program only through its
  * public surface (`graft.Sessions.local`, `graft.sources.Tables`,
  * `graft.SparkEntry`) and writes one JSON record of everything it saw;
  * `run.py` turns that record into checked metrics.
  *
  * Modes (`--mode`):
  *  - `catalog`: the registry's query names and DuckDB oracle SQL;
  *  - `run`: set up once (session up and tables registered, timed from
  *    JVM start), run one cold pass over `--queries` (closed loop, one
  *    query at a time), then `--warm` warm passes. The pass count is
  *    fixed, not timed, so every run of a commit does the same work
  *    whatever the host's speed. `--seed` permutes the query order of
  *    every pass; the data never changes.
  *
  * Each execution is timed as the caller gets it: the query-function
  * call plus `collect()` of every row and column. The fingerprint is
  * taken after the clock stops, and its wall and CPU time are taken out of
  * the pass totals as well. With `--trace 1` a listener and phase
  * timers record where the time went; end-to-end numbers come only from
  * untraced runs. */
object Runner {
  type Query = (SparkSession, String) => DataFrame

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Queries the self-test injects through this runner, never through the
    * registry: one throws, one returns a wrong row (ids 0, 7, 2 where the
    * self-test expects 0, 1, 2), and a control that returns 0, 1, 2. */
  val injected: Map[String, Query] = Map(
    "perfbench.throws" -> ((_, _) => throw new IllegalStateException("injected failure")),
    "perfbench.wrong_row" -> ((s, _) => s.range(3).selectExpr("if(id = 1, 7L, id) AS id")),
    "perfbench.right_rows" -> ((s, _) => s.range(3).toDF("id")))

  def main(args: Array[String]): Unit = {
    require(args.length % 2 == 0, s"expected --key value pairs, got ${args.mkString(" ")}")
    val opt = args.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val record = opt("mode") match {
      case "catalog" =>
        Map("queries" -> graft.SparkEntry.queries.keys.toSeq.sorted,
          "oracles" -> graft.SparkEntry.oracleSql)
      case "run" => run(opt)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    json.writeValue(new java.io.File(opt("out")), record)
  }

  private def seconds(fromNs: Long, toNs: Long): Double = (toNs - fromNs) / 1e9

  private def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** Bytes this JVM wrote through Hadoop's local file system: the table
    * and layout files. DSv2 writers report no task output metrics, so the
    * file system's own counter is the one that sees them. */
  private def bytesWritten(): Long = {
    import scala.jdk.CollectionConverters._
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum
  }

  /** CPU time this JVM has used, all threads, in seconds. */
  private def cpuSeconds(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  private def threadCpuSeconds(): Double =
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime / 1e9

  /** Peak resident set of this JVM in kB (`VmHWM`). */
  private def peakRssKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }

  private def run(opt: Map[String, String]): Map[String, Any] = {
    val sf = opt("sf")
    val cores = opt("cores").toInt
    val trace = opt("trace") == "1"
    val registry = graft.SparkEntry.queries
    val all: Map[String, Query] =
      if (opt.get("inject").contains("1")) registry ++ injected else registry
    val names = opt("queries").split(',').toSeq.filter(_.nonEmpty) ++
      (if (opt.get("inject").contains("1")) injected.keys.toSeq.sorted else Nil)
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"not in SparkEntry.queries: ${missing.mkString(", ")}")

    // Set-up: from JVM start until the session is up and the tables are
    // registered, which is what a fresh job pays before its first query.
    val processStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.Sessions.local(cores, "perfbench")
    val sessionUpMs = System.currentTimeMillis()
    val t1 = System.nanoTime()
    graft.sources.Tables.registerAll(spark, sf)
    val setup = Map("session_s" -> (sessionUpMs - processStartMs) / 1e3,
      "tables_s" -> seconds(t1, System.nanoTime()))
    val sc = spark.sparkContext
    val recorder = if (trace) Some(new Recorder) else None
    recorder.foreach(sc.addSparkListener)

    val rng = new scala.util.Random(opt("seed").toLong)
    val warm = opt("warm").toInt
    val execs = mutable.ArrayBuffer.empty[Map[String, Any]]
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    def runPass(pass: Int): Unit = {
      val order = rng.shuffle(names)
      val gc0 = gcSeconds()
      val cpu0 = cpuSeconds()
      val p0 = System.nanoTime()
      val done = order.map { name =>
        execute(spark, sf, name, all(name), pass, execs.size, trace, recorder)
          .tap(execs += _)
      }
      val elapsed = System.nanoTime() - p0
      def total(key: String) = done.map(_.getOrElse(key, 0.0).asInstanceOf[Double]).sum
      passes += Map("pass" -> pass, "wall_s" -> (elapsed / 1e9 - total("check_s")),
        "gc_s" -> (gcSeconds() - gc0),
        "cpu_s" -> (cpuSeconds() - cpu0 - total("check_cpu_s")), "order" -> order)
    }
    (0 to warm).foreach(runPass)
    recorder.foreach { r => BusDrain.drain(sc); sc.removeSparkListener(r) }
    val env = Map(
      "spark" -> spark.version,
      "jdk" -> System.getProperty("java.runtime.version"),
      "master" -> sc.master,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "cores" -> cores)
    spark.stop()
    Map("env" -> env, "setup" -> setup, "passes" -> passes.toSeq,
      "executions" -> execs.toSeq,
      "unattributed_jobs" -> recorder.map(_.unattributed).getOrElse(0),
      "peak_rss_kb" -> peakRssKb())
  }

  /** One execution: clear the cache, call the query function (build),
    * force the physical plan when tracing (plan), collect (materialize). */
  private def execute(spark: SparkSession, sf: String, name: String, fn: Query,
                      pass: Int, index: Int, trace: Boolean,
                      recorder: Option[Recorder]): Map[String, Any] = {
    val sc = spark.sparkContext
    spark.catalog.clearCache()
    sc.setLocalProperty(Recorder.ExecKey, index.toString)
    sc.setLocalProperty(Recorder.PhaseKey, "build")
    val base = Map[String, Any]("index" -> index, "pass" -> pass, "query" -> name)
    val written0 = if (trace) bytesWritten() else 0L
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val out = try {
      val df = fn(spark, sf)
      val t1 = System.nanoTime()
      // storage the build left cached; read between the clocks
      val cachedMb = if (trace) sc.getRDDStorageInfo
        .map(i => i.memSize + i.diskSize).sum / (1024.0 * 1024.0) else 0.0
      val t1p = System.nanoTime()
      sc.setLocalProperty(Recorder.PhaseKey, "plan")
      if (trace) df.queryExecution.executedPlan
      val t2 = System.nanoTime()
      sc.setLocalProperty(Recorder.PhaseKey, "materialize")
      val rows = df.collect()
      val t3 = System.nanoTime()
      val endMs = System.currentTimeMillis()
      val checkCpu0 = threadCpuSeconds()
      val fingerprint = Fingerprint.of(df.schema, rows)
      val timed = base ++ Map("ok" -> true, "latency_s" -> (seconds(t0, t3) - seconds(t1, t1p)),
        "rows" -> rows.length, "fingerprint" -> fingerprint,
        "check_s" -> seconds(t3, System.nanoTime()),
        "check_cpu_s" -> (threadCpuSeconds() - checkCpu0))
      if (!trace) timed
      else {
        val qe = df.queryExecution
        val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
        val plan = qe.executedPlan
        timed ++ Map(
          "start_ms" -> startMs, "end_ms" -> endMs,
          "build_s" -> seconds(t0, t1), "plan_s" -> seconds(t1p, t2),
          "materialize_s" -> seconds(t2, t3), "cached_mb" -> cachedMb,
          "analyze_s" -> phases.getOrElse("analysis", 0.0),
          "optimize_s" -> phases.getOrElse("optimization", 0.0),
          "physical_s" -> phases.getOrElse("planning", 0.0),
          "exchanges" -> PlanShape.exchanges(plan),
          "write_bytes" -> (bytesWritten() - written0),
          "plan_hash" -> PlanShape.hash(plan))
      }
    } catch {
      case NonFatal(e) =>
        base ++ Map("ok" -> false, "error" -> s"${e.getClass.getName}: ${e.getMessage}".take(500))
    } finally {
      sc.setLocalProperty(Recorder.ExecKey, null)
      sc.setLocalProperty(Recorder.PhaseKey, null)
    }
    recorder match {
      case Some(r) => BusDrain.drain(sc); out ++ r.take(index)
      case None => out
    }
  }
}

/** Shape of the executed plan, looking through adaptive query stages. */
object PlanShape extends AdaptiveSparkPlanHelper {
  def exchanges(plan: SparkPlan): Int = collectWithSubqueries(plan) {
    case e: ShuffleExchangeLike => e
    case e: BroadcastExchangeLike => e
  }.size

  /** Hash of the node-name tree, so an unintended plan change shows. */
  def hash(plan: SparkPlan): String = {
    def tree(p: SparkPlan): String =
      p.nodeName + allChildren(p).map(tree).mkString("(", ",", ")")
    Fingerprint.sha256(tree(plan)).take(16)
  }
}
