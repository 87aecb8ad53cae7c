package graft

import graft.operators.Similarity
import graft.tools.PlantedFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The MEASURED ANN retrain trigger (round-15; closes the round-14
  * verdict's "documented, not automated" gap): every index build and
  * delta append writes a `_DRIFT` sidecar — the generation's mean
  * nearest-frozen-centroid cosine next to the base's — and
  * [[Similarity.annIndexDrift]] surfaces the per-generation table with
  * the [[Similarity.RetrainDriftThreshold]] verdict. The laws:
  *
  *   - an IN-DISTRIBUTION append (held-out draws from the training
  *     clusters) reads drift ≈ 0 and retrain=false;
  *   - a DRIFTED append (clusters the training never saw) reads drift
  *     far past the threshold and retrain=true;
  *   - the stored statistic IS the mean assignment cosine — it matches
  *     an independent recomputation against the frozen codebook;
  *   - the base's reference mean travels the chain (a second append
  *     compares against the BASE, not its predecessor delta), and
  *     `cumDeltaFraction` tracks the 20%-of-base backstop. */
class AnnDriftSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private lazy val all = PlantedFixture.vectors(spark, n = 6000, k = 50)
    .select(col("vec_id"), col("e"))
  private def base = all.filter(col("vec_id") < 4000 &&
    col("vec_id") % 50 < 40)
  private def inDist = all.filter(col("vec_id") >= 4000 &&
    col("vec_id") % 50 < 40)
  private def drifted = all.filter(col("vec_id") >= 4000 &&
    col("vec_id") % 50 >= 40)

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_anndrift").toString

  test("in-distribution append: drift ~ 0, no retrain verdict") {
    val root = freshRoot()
    Similarity.annIndexBuild(spark, root, base)
    Similarity.annIndexAppend(spark, root, inDist)
    val d = Similarity.annIndexDrift(spark, root)
    assert(d.size == 2, s"chain: base + one delta, got $d")
    val delta = d.head // live-first
    assert(math.abs(delta.drift) < Similarity.RetrainDriftThreshold / 2,
      f"held-out same-cluster vectors must sit where training did: " +
        f"drift=${delta.drift}%.4f")
    assert(!delta.retrain)
    assert(d.last.drift == 0.0 && !d.last.retrain,
      "the base generation is its own reference")
  }

  test("drifted append: the statistic crosses the threshold with margin") {
    val root = freshRoot()
    Similarity.annIndexBuild(spark, root, base)
    Similarity.annIndexAppend(spark, root, drifted)
    val delta = Similarity.annIndexDrift(spark, root).head
    assert(delta.drift > 4 * Similarity.RetrainDriftThreshold,
      f"new-cluster vectors must read far past the line: " +
        f"drift=${delta.drift}%.4f (measured 0.65 on this fixture)")
    assert(delta.retrain)
  }

  test("the stored statistic equals an independent recomputation; the base reference travels the chain") {
    val root = freshRoot()
    Similarity.annIndexBuild(spark, root, base)
    Similarity.annIndexAppend(spark, root, inDist)
    Similarity.annIndexAppend(spark, root, drifted)
    val d = Similarity.annIndexDrift(spark, root)
    assert(d.size == 3)
    // recompute the drifted delta's mean against the live frozen coarse
    val live = Artifacts.ready(spark, root).get
    val coarse = spark.read.parquet(s"$live/coarse")
    val recomputed = Similarity.assignCellsSim(drifted, Similarity.Codebook.of(coarse))
      .agg(avg(col("csim"))).head.getDouble(0)
    assert(math.abs(d.head.meanCsim - recomputed) < 1e-9,
      s"stored ${d.head.meanCsim} vs recomputed $recomputed")
    // BOTH deltas reference the BASE's mean, not each other's
    assert(d(0).baseMeanCsim == d(2).meanCsim &&
      d(1).baseMeanCsim == d(2).meanCsim,
      s"the base reference must travel the chain: $d")
    // cumulative delta fraction: (1600 + 400) appended over 3200 base
    assert(math.abs(d.head.cumDeltaFraction - 2000.0 / 3200) < 1e-9)
  }
}
