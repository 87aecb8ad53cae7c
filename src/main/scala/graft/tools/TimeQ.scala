package graft.tools
/** Isolated per-query timing: `runMain graft.tools.TimeQ <sfDir> <q...>`,
  * two passes each over warm tables. Each pass is [[graft.Bench.timed]]:
  * the query function plus a noop-sink write of its full result, and
  * `jobs=N` is the number of Spark jobs that pass started ([[Jobs]]);
  * the row count comes from a separate, untimed `count()`. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.schemas.keys.foreach { t =>
      graft.sources.Tables.load(spark, dir, t).count()
    }
    names.foreach { name =>
      (1 to 2).foreach { i =>
        val ((sec, df), jobs) = Jobs.count(spark)(
          graft.Bench.timed(spark, graft.SparkEntry.queries(name), dir))
        println(f"[timeq] $name pass$i $sec%.2f s jobs=$jobs (${df.count()} rows)")
      }
    }
    spark.stop()
  }
}
