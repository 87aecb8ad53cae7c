package graft.tools

/** Plan inspector: `runMain graft.tools.Explain <sfDir> [query ...]` prints
  * the formatted physical plan of each named declared query (all when none
  * named). Used to keep pushdown/broadcast/codegen honest (SURVEY.md §4.2):
  * look for PushedFilters, ReadSchema pruning, BroadcastHashJoin on dims,
  * and wide WholeStageCodegen spans. */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Sessions.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      // lazy-plan mode: sealed queries print their REAL operator tree
      // instead of the localCheckpoint'ed RDD scan
      graft.Exec.withLazyPlans(
        graft.SparkEntry.queries(n)(spark, sfDir)).explain("formatted")
    }
    spark.stop()
  }
}
