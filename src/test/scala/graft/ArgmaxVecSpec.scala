package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** `graft_argmax_vec(cs, nc, e)` must be BIT-EQUIVALENT to
  * `max(struct(cs AS cs, nc AS nc, e AS e))` — that equality is what lets
  * the r17 swap of the vector-carrying Lloyd/PQ argmax keep every trained
  * codebook (and thus every ANN query the DuckDB oracle checks)
  * bit-identical. The adversarial rows exercise every branch of the
  * struct ordering the built-in applies: null cs / null nc / null array
  * (nulls FIRST, i.e. they lose under max), NaN (greatest double),
  * -0.0 == 0.0 under the SQL ordering (SQLOrderingUtil), so nc breaks
  * the tie, and exact (cs, nc) ties that fall through to the element-wise array ordering
  * (shorter-prefix and null-element cases included). */
class ArgmaxVecSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def adversarial: DataFrame = {
    import spark.implicits._
    val rows: Seq[(Int, Option[Double], Option[Long], Option[Seq[Option[Double]]])] = Seq(
      // g=1: plain max on cs
      (1, Some(0.5), Some(-3L), Some(Seq(Some(1.0), Some(2.0)))),
      (1, Some(0.9), Some(-7L), Some(Seq(Some(3.0), Some(4.0)))),
      (1, Some(0.1), Some(-1L), Some(Seq(Some(5.0), Some(6.0)))),
      // g=2: cs tie -> nc decides
      (2, Some(0.7), Some(-2L), Some(Seq(Some(1.0)))),
      (2, Some(0.7), Some(-9L), Some(Seq(Some(2.0)))),
      // g=3: null cs loses to any non-null
      (3, None, Some(-1L), Some(Seq(Some(9.0)))),
      (3, Some(-5.0), Some(-4L), Some(Seq(Some(8.0)))),
      // g=4: ALL cs null -> nc decides among nulls
      (4, None, Some(-6L), Some(Seq(Some(1.0)))),
      (4, None, Some(-2L), Some(Seq(Some(2.0)))),
      // g=5: NaN is the greatest double
      (5, Some(Double.NaN), Some(-8L), Some(Seq(Some(1.0)))),
      (5, Some(Double.PositiveInfinity), Some(-1L), Some(Seq(Some(2.0)))),
      // g=6: -0.0 == 0.0 under the struct ordering, so nc -1 wins
      (6, Some(-0.0), Some(-1L), Some(Seq(Some(1.0)))),
      (6, Some(0.0), Some(-9L), Some(Seq(Some(2.0)))),
      // g=7: exact (cs, nc) tie -> array ordering decides
      (7, Some(0.3), Some(-5L), Some(Seq(Some(1.0), Some(2.0)))),
      (7, Some(0.3), Some(-5L), Some(Seq(Some(1.0), Some(3.0)))),
      // g=8: tie falls to array; shorter array is a prefix of longer
      (8, Some(0.2), Some(-4L), Some(Seq(Some(1.0)))),
      (8, Some(0.2), Some(-4L), Some(Seq(Some(1.0), Some(0.0)))),
      // g=9: tie; null ELEMENT inside the array sorts first
      (9, Some(0.4), Some(-3L), Some(Seq(None, Some(2.0)))),
      (9, Some(0.4), Some(-3L), Some(Seq(Some(0.0), Some(2.0)))),
      // g=10: null ARRAY payload on the winning (cs, nc)... and on a loser
      (10, Some(0.8), Some(-1L), None),
      (10, Some(0.6), Some(-2L), Some(Seq(Some(7.0)))),
      // g=11: tie with one null array -> null array loses
      (11, Some(0.5), Some(-6L), None),
      (11, Some(0.5), Some(-6L), Some(Seq(Some(1.0)))),
      // g=12: null nc loses to non-null nc on a cs tie
      (12, Some(0.1), None, Some(Seq(Some(1.0)))),
      (12, Some(0.1), Some(Long.MinValue), Some(Seq(Some(2.0)))),
      // g=13: single row (first-update path only)
      (13, Some(-1.0E308), Some(0L), Some(Seq.empty[Option[Double]]))
    )
    rows.toDF("g", "cs", "nc", "e")
  }

  private def assertParity(df: DataFrame): Unit = {
    import spark.implicits._
    val a = df.groupBy($"g")
      .agg(max(struct($"cs".as("cs"), $"nc".as("nc"), $"e".as("e"))).as("m"))
    val b = df.groupBy($"g")
      .agg(VectorFunctions.argmaxVec($"cs", $"nc", $"e").as("m"))
    val mismatches = a.withColumnRenamed("m", "ma")
      .join(b.withColumnRenamed("m", "mb"), Seq("g"), "full_outer")
      .filter(!($"ma" <=> $"mb"))
      .collect()
    assert(mismatches.isEmpty,
      mismatches.map(_.toString).mkString("; "))
  }

  test("adversarial rows: argmax_vec == max(struct) group for group") {
    assertParity(adversarial)
  }

  test("parity survives partial/merge and buffer serialization (multi-partition shuffle)") {
    // 7 input partitions force per-partition partial buffers that
    // serialize through the exchange and merge on the reduce side
    assertParity(adversarial.repartition(7))
  }

  test("global aggregate over an empty frame returns null, like the built-in") {
    import spark.implicits._
    val empty = adversarial.filter($"g" < 0)
    val a = empty.agg(
      max(struct($"cs".as("cs"), $"nc".as("nc"), $"e".as("e"))).as("m")).first()
    val b = empty.agg(
      VectorFunctions.argmaxVec($"cs", $"nc", $"e").as("m")).first()
    assert(a.isNullAt(0) && b.isNullAt(0))
  }

  test("real training shape: per-(m, vec_id) argmax over PQ subspaces is identical") {
    import spark.implicits._
    val e = graft.sources.Tables.load(spark, TestSession.sfDir, "embeddings")
      .limit(40)
      .select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
    val cands = e.select($"vec_id".as("cid"), $"e".as("ce")).limit(8)
    val joined = e.crossJoin(broadcast(cands))
      .withColumn("csim", graft.Det.round6(VectorFunctions.cosine($"e", $"ce")))
    val a = joined.groupBy($"vec_id")
      .agg(max(struct($"csim".as("cs"), (-$"cid").as("nc"), $"e".as("e"))).as("m"))
    val b = joined.groupBy($"vec_id")
      .agg(VectorFunctions.argmaxVec($"csim", -$"cid", $"e").as("m"))
    val mismatches = a.withColumnRenamed("m", "ma")
      .join(b.withColumnRenamed("m", "mb"), Seq("vec_id"), "full_outer")
      .filter(!($"ma" <=> $"mb"))
      .count()
    assert(mismatches == 0)
  }

  test("unorderable payload types are rejected at analysis time, like max(struct)") {
    import spark.implicits._
    val df = Seq((1, 0.5, -1L)).toDF("g", "cs", "nc")
      .withColumn("e", array(map(lit("k"), lit(1))))
    val err = intercept[org.apache.spark.sql.AnalysisException] {
      df.groupBy($"g")
        .agg(VectorFunctions.argmaxVec($"cs", $"nc", $"e").as("m"))
        .queryExecution.analyzed
    }
    assert(err.getMessage.toLowerCase.contains("orderable") ||
      err.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("plans as ObjectHashAggregate, not the built-in's SortAggregate") {
    import spark.implicits._
    val plan = adversarial.groupBy($"g")
      .agg(VectorFunctions.argmaxVec($"cs", $"nc", $"e").as("m"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.contains("SortAggregate"))
  }
}
