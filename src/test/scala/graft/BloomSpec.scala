package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorFunctions

/** Laws of the Bloom semi-join-reduction surface (BloomFilterOps.scala):
  * the no-false-negative guarantee (what makes the composed join EXACT),
  * a sane false-positive rate (what makes the reduction useful), and
  * partitioning-independence of the merged bitset (what makes partial
  * aggregation safe). End-to-end exactness of q_join_bloom itself is the
  * DuckDB hash gate's job. */
class BloomSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  private def bloomOf(parts: Int): Array[Byte] = {
    import spark.implicits._
    spark.range(0, 2000).toDF("k").repartition(parts)
      .agg(VectorFunctions.bloomAgg($"k").as("bf"))
      .as[Array[Byte]].head()
  }

  test("no false negatives: every inserted key probes true") {
    import spark.implicits._
    val bf = bloomOf(8)
    val misses = spark.range(0, 2000).toDF("k")
      .filter(!VectorFunctions.bloomContains(lit(bf), $"k"))
      .count()
    assert(misses == 0L)
  }

  test("false-positive rate on non-members stays under the configured fpp") {
    import spark.implicits._
    val bf = bloomOf(8)
    val fps = spark.range(1000000, 1020000).toDF("k")
      .filter(VectorFunctions.bloomContains(lit(bf), $"k"))
      .count()
    // filter sized for 1e6 items at 1% holds 2k items with ~zero FPs;
    // 1% of the probe set is a generous ceiling
    assert(fps <= 200L, s"$fps false positives in 20000 probes")
  }

  test("bitset is independent of partitioning (OR-merge is commutative)") {
    assert(java.util.Arrays.equals(bloomOf(1), bloomOf(16)))
  }

  test("q_join_bloom equals the plain join (bloom is a pure reduction)") {
    import spark.implicits._
    val got = SparkEntry.queries("q_join_bloom")(spark, dir)
      .as[(String, Long, Double)].collect().toSeq
    val dim = graft.sources.Tables.load(spark, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val want = graft.sources.Tables.load(spark, dir, "orders")
      .join(dim, $"o_custkey" === $"c_custkey")
      .groupBy($"o_orderpriority".as("priority"))
      .agg(count(lit(1)).as("n_orders"), Det.sumd($"o_totalprice").as("total"))
      .orderBy($"priority")
      .as[(String, Long, Double)].collect().toSeq
    assert(got == want)
  }
}
