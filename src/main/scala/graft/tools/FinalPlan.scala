package graft.tools

/** Prints the POST-EXECUTION adaptive plan of a declared query (the
  * initial-plan Explain can never show AQE stage reuse / coalescing).
  * runMain graft.tools.FinalPlan <sfDir> <query...> */
object FinalPlan {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val names = args.drop(1)
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.Tables.schemas.keys.foreach { t =>
      graft.sources.Tables.load(spark, dir, t).count()
    }
    names.foreach { n =>
      println(s"\n========== $n (final adaptive plan) ==========")
      val df = graft.Exec.withLazyPlans(graft.SparkEntry.queries(n)(spark, dir))
      // drive THIS QueryExecution (a noop write or count would wrap df
      // in a fresh one and leave this adaptive plan un-finalized)
      df.queryExecution.toRdd.count()
      val p = df.queryExecution.executedPlan.toString
      println(p)
      println(s"[finalplan] $n ReusedExchange=" +
        "ReusedExchange".r.findAllIn(p).length +
        " ReusedQueryStage=" + "ReusedQueryStage".r.findAllIn(p).length +
        " BroadcastExchange=" + "BroadcastExchange".r.findAllIn(p).length +
        // plain shuffle Exchange only: lookBEHIND excludes the
        // Broadcast/Reused variants (a lookahead after "Exchange "
        // inspects the wrong side and counts all three)
        " ShuffleExchange=" + "(?<!Broadcast)(?<!Reused)Exchange ".r
          .findAllIn(p).length)
    }
    spark.stop()
  }
}
