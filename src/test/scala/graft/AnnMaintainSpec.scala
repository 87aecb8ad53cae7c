package graft

import graft.operators.Similarity
import graft.tools.PlantedFixture
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AUTO-RETRAIN (round 16): [[Similarity.annIndexMaintain]] closes the
  * loop the round-15 drift statistic opened — append, evaluate the
  * measured triggers, and on firing retrain + republish a fresh BASE
  * generation through the existing atomic-pointer protocol. The laws:
  *
  *   - a small in-distribution append stays on the cheap path: no
  *     retrain, the chain grows by one delta generation;
  *   - a DRIFTED append fires exactly one republish, the chain
  *     collapses to length 1, and the republished index is
  *     BIT-IDENTICAL to a from-scratch build over the same corpus
  *     (training determinism — the already-spec'd full-retrain
  *     equality, now reached through the maintenance operator);
  *   - the drift table resets with the collapse: one generation, its
  *     own reference, no standing verdict;
  *   - the 20%-of-base cumulative backstop fires on a large
  *     IN-DISTRIBUTION delta even though the drift statistic stays
  *     silent (cell sizes skew, means don't). */
class AnnMaintainSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private lazy val all = PlantedFixture.vectors(spark, n = 6000, k = 50)
    .select(col("vec_id"), col("e"))
  private def base = all.filter(col("vec_id") < 4000 &&
    col("vec_id") % 50 < 40)
  private def smallInDist = all.filter(col("vec_id") >= 4000 &&
    col("vec_id") % 50 < 10)
  private def bigInDist = all.filter(col("vec_id") >= 4000 &&
    col("vec_id") % 50 < 40)
  private def drifted = all.filter(col("vec_id") >= 4000 &&
    col("vec_id") % 50 >= 40)

  private def freshRoot(): String = java.nio.file.Files
    .createTempDirectory("graft_annmaint").toString + "/idx"

  private def chainLen(root: String): Int =
    Artifacts.chain(spark, root).size

  private def sortedRows(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(_.toSeq).sortBy(_.toString)

  test("small in-distribution append: cheap path, no retrain, chain grows") {
    val root = freshRoot()
    Similarity.annIndexBuild(spark, root, base)
    val (_, retrained) =
      Similarity.annIndexMaintain(spark, root, smallInDist,
        fail("corpus must not be evaluated when no trigger fires"))
    assert(!retrained, "400 held-out same-cluster vectors over a " +
      "3200-vector base must not fire either trigger")
    assert(chainLen(root) == 2, "the append's delta generation chains")
  }

  test("drifted append: one republish, chain collapses, index equals a from-scratch build") {
    val root = freshRoot()
    Similarity.annIndexBuild(spark, root, base)
    val corpus = base.union(drifted)
    val (liveGen, retrained) =
      Similarity.annIndexMaintain(spark, root, drifted, corpus)
    assert(retrained, "new-cluster vectors read drift ~0.65, far past " +
      "the 0.05 line — the trigger must fire")
    assert(chainLen(root) == 1, "the republished generation is a BASE: " +
      "no _PARENT, chain length 1")
    assert(Artifacts.ready(spark, root).get == liveGen)
    // full-retrain equality: a from-scratch build over the same corpus
    // is bit-identical (deterministic training)
    val fresh = freshRoot()
    Similarity.annIndexBuild(spark, fresh, corpus)
    val m = Similarity.annIndexOpen(spark, root)
    val f = Similarity.annIndexOpen(spark, fresh)
    assert(m.coarse.rows == f.coarse.rows, "coarse codebooks differ")
    assert(m.pq.rows == f.pq.rows, "pq codebooks differ")
    assert(sortedRows(m.cells) == sortedRows(f.cells), "cells differ")
    assert(sortedRows(m.codes) == sortedRows(f.codes), "codes differ")
    // the drift table resets with the collapse: one self-referencing
    // generation, no standing verdict
    val d = Similarity.annIndexDrift(spark, root)
    assert(d.size == 1 && d.head.drift == 0.0 && !d.head.retrain &&
      d.head.cumDeltaFraction == 0.0,
      s"collapsed chain must read as a fresh base: $d")
  }

  test("the 20%-of-base backstop fires on a large in-distribution delta") {
    val root = freshRoot()
    Similarity.annIndexBuild(spark, root, base)
    val corpus = base.union(bigInDist)
    val (_, retrained) =
      Similarity.annIndexMaintain(spark, root, bigInDist, corpus)
    assert(retrained, "1600 appended over 3200 base = 50% > 20%: the " +
      "cumulative backstop must fire even with drift ~ 0")
    assert(chainLen(root) == 1)
  }
}
