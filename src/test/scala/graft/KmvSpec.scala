package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** KMV TypedImperativeAggregate: exactness below k, estimation accuracy
  * above k, and partition invariance (merge correctness). */
class KmvSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  test("exact below k; within 30% above k; partition-invariant") {
    import spark.implicits._
    val df = (1 to 5000).map(i => (if (i % 10 == 0) "big" else "small",
      if (i % 10 == 0) i.toLong else (i % 40).toLong))
      .toDF("g", "v")
    def run(parts: Int): Map[String, (Double, Long)] = df.repartition(parts)
      .groupBy($"g").agg(VectorFunctions.kmvDistinct($"v").as("kmv"),
        countDistinct($"v").as("exact"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2)))
      .toMap
    val r1 = run(2)
    val r13 = run(13)
    assert(r1 == r13, "estimate must not depend on partitioning")
    val (smallKmv, smallExact) = r1("small")
    assert(smallKmv == smallExact.toDouble, "below k the sketch is exact")
    val (bigKmv, bigExact) = r1("big")
    assert(math.abs(bigKmv - bigExact) / bigExact < 0.30,
      s"kmv=$bigKmv exact=$bigExact")
  }

  test("sketch intersect: inclusion-exclusion over true k-smallest sketches") {
    import spark.implicits._
    import graft.functions.TextHashing
    // sf0.01: segment audiences are ~900 customers, so sketches saturate
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q_sketch_intersect")(spark, dir)
      .as[(String, String, Double, Double, Double, Double, Long)].collect()
    assert(got.length == 10, "C(5,2) priority pairs")
    val pairs = graft.sources.Tables.load(spark, dir, "orders")
      .select($"o_orderpriority", $"o_custkey").distinct()
      .as[(String, Long)].collect()
    val bySeg = pairs.groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    def sketch(keys: Set[Long]): Seq[Long] =
      keys.map(k => TextHashing.hash15(k.toString)).toSeq.distinct.sorted.take(64)
    def est(hs: Seq[Long]): Double =
      if (hs.length < 64) hs.length.toDouble
      else 63.0 / (hs(63).toDouble / TextHashing.P.toDouble)
    got.foreach { case (a, b, ka, kb, ku, ki, exact) =>
      val (sa, sb) = (bySeg(a), bySeg(b))
      assert(exact == (sa intersect sb).size.toLong, s"($a,$b) exact")
      assert(ka == est(sketch(sa)), s"($a,$b) kmv_a")
      assert(kb == est(sketch(sb)), s"($a,$b) kmv_b")
      // mergeability law: the pairwise-merged sketch equals the sketch
      // of the union, so est(A∪B) is computable from stored sketches
      val merged = (sketch(sa) ++ sketch(sb)).distinct.sorted.take(64)
      assert(ku == est(merged), s"($a,$b) kmv_union")
      assert(ki == math.max(0.0, ka + kb - ku), s"($a,$b) kmv_intersect")
      // calibration: saturated estimates stay within 40% of truth here
      if (exact > 100) assert(math.abs(ki - exact) / exact < 0.4,
        s"($a,$b) intersect est $ki vs exact $exact")
    }
  }

  test("sketch union: merged nation sketches equal the direct region sketch") {
    import spark.implicits._
    import graft.functions.TextHashing
    // sf0.01: ~300 active customers per region, so the per-nation sketches
    // SATURATE (64 entries) and the merge exercises the rank-64 estimator,
    // not just the small-exact path
    val dir = "/root/testdata/sf0.01"
    val got = SparkEntry.queries("q_sketch_union")(spark, dir)
      .as[(String, Double, Long)].collect()
    assert(got.length == 5)
    val t = (n: String) => graft.sources.Tables.load(spark, dir, n)
    val pairs = t("orders")
      .join(t("customer"), $"o_custkey" === $"c_custkey")
      .join(t("nation"), $"c_nationkey" === $"n_nationkey")
      .join(t("region"), $"n_regionkey" === $"r_regionkey")
      .select($"r_name", $"o_custkey")
      .as[(String, Long)].collect()
    val byRegion = pairs.groupBy(_._1)
    assert(got.exists { case (r, _, _) =>
      byRegion(r).map(_._2).distinct.length >= 64
    }, "at least one region must exercise the saturated estimator")
    got.foreach { case (r, merged, exact) =>
      val keys = byRegion(r).map(_._2).distinct
      assert(exact == keys.length, s"$r exact")
      // mergeability law: k smallest of the union of per-part k-smallest
      // sets == k smallest of the whole — so the DIRECT whole-region
      // sketch is the ground truth for the merged one
      val hs = keys.map(k => TextHashing.hash15(k.toString))
        .distinct.sorted
      val want =
        if (hs.length < 64) hs.length.toDouble
        else 63.0 / (hs(63).toDouble / TextHashing.P.toDouble)
      assert(merged == want, s"$r merged=$merged want=$want")
    }
  }
}
