package graft.tools
/** Isolated per-query timing: `runMain graft.tools.TimeQ <sfDir> <q...>`,
  * two passes each over warm tables. Each pass times the query function
  * plus a noop-sink write of its full result, so every column is computed
  * (a `.count()` lets column pruning skip most of the work); the row
  * count comes from a separate, untimed `count()`. */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.Sessions.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.schemas.keys.foreach { t =>
      graft.sources.Tables.load(spark, dir, t).count()
    }
    names.foreach { name =>
      (1 to 2).foreach { i =>
        val t0 = System.nanoTime()
        val df = graft.SparkEntry.queries(name)(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"[timeq] $name pass$i $sec%.2f s (${df.count()} rows)")
      }
    }
    spark.stop()
  }
}
