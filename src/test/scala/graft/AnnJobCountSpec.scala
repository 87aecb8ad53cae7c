package graft

import graft.operators.Similarity
import graft.tools.Jobs
import org.scalatest.funsuite.AnyFunSuite

/** The ANN build layer's job budget: tasks read the driver codebook
  * through one broadcast handle, so a Lloyd round is ONE job (map stage
  * plus the reduce of per-cell mean buffers, no BroadcastExchange job),
  * and a warm q_ann_ivf — N from the memoized row count, the seed
  * collect, two rounds, the sealed search and the caller's collect —
  * stays within 10 jobs. */
class AnnJobCountSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  test("a Lloyd round over the cached vectors runs exactly one job") {
    val n = Similarity.ivfVectors(spark, dir).persist()
    try {
      n.count()
      val seeds = Similarity.kmeansCodebook(n, c = 8, iters = 0)
      Similarity.lloydRound(n, seeds) // warm: broadcast and codegen
      val (cb, jobs) = Jobs.count(spark)(Similarity.lloydRound(n, seeds))
      assert(cb.rows.nonEmpty)
      assert(jobs == 1, s"a Lloyd round ran $jobs jobs")
    } finally n.unpersist(true)
  }

  test("a warm q_ann_ivf runs at most 10 jobs") {
    val q = SparkEntry.queries("q_ann_ivf")
    val cold = q(spark, dir).collect()
    val (warm, jobs) = Jobs.count(spark)(q(spark, dir).collect())
    assert(warm.toSeq == cold.toSeq)
    assert(jobs <= 10, s"a warm q_ann_ivf ran $jobs jobs")
  }
}
