package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The fused native expression must be BIT-IDENTICAL to the composed
  * higher-order-function form (same left-to-right folds) — that equality is
  * what lets the DuckDB oracle keep checking the optimized queries. */
class CosineSimilaritySpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def hofCosine(a: String, b: String) = {
    def dot(x: String, y: String) = expr(
      s"aggregate(zip_with($x, $y, (p, q) -> CAST(p AS DOUBLE) * CAST(q AS DOUBLE))," +
        " CAST(0 AS DOUBLE), (acc, v) -> acc + v)")
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  test("fused expression == HOF composition, bit for bit, on real embeddings") {
    import spark.implicits._
    val e = graft.sources.Tables.load(spark, TestSession.sfDir, "embeddings")
    val pairs = e.select($"vec_id".as("a_id"), $"embedding".as("a"))
      .crossJoin(e.select($"vec_id".as("b_id"), $"embedding".as("b")))
      .filter($"a_id" < 30 && $"b_id" < 30)
    val diffs = pairs
      .select(VectorFunctions.cosine($"a", $"b").as("fused"),
        hofCosine("a", "b").as("hof"))
      .filter($"fused" =!= $"hof") // exact double comparison
      .count()
    assert(diffs == 0)
  }

  test("ARRAY<DOUBLE> inputs: fused == HOF, bit for bit (the IVF training path)") {
    import spark.implicits._
    val e = graft.sources.Tables.load(spark, TestSession.sfDir, "embeddings")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("d"))
    val pairs = e.select($"vec_id".as("a_id"), $"d".as("a"))
      .crossJoin(e.select($"vec_id".as("b_id"), $"d".as("b")))
      .filter($"a_id" < 30 && $"b_id" < 30)
    val diffs = pairs
      .select(VectorFunctions.cosine($"a", $"b").as("fused"),
        hofCosine("a", "b").as("hof"))
      .filter($"fused" =!= $"hof")
      .count()
    assert(diffs == 0)
  }

  test("mixed FLOAT/DOUBLE sides agree with the all-double fold") {
    import spark.implicits._
    val df = Seq((Array(0.5f, -0.25f, 3.125f), Array(1.5, 2.75, -0.5)))
      .toDF("f", "d")
    val row = df.select(
      VectorFunctions.cosine($"f", $"d").as("mixed"),
      VectorFunctions.cosine(transform($"f", _.cast("double")), $"d").as("dd"))
      .first()
    assert(row.getDouble(0) == row.getDouble(1)) // float→double is exact
  }

  test("interpreted (non-codegen) path agrees too") {
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val a = Array(0.5f, -0.25f, 0.125f)
      val got = Seq((a, a)).toDF("x", "y")
        .select(VectorFunctions.cosine($"x", $"y"))
        .first().getDouble(0)
      assert(math.abs(got - 1.0) < 1e-12) // self-cosine
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("null and length-mismatch inputs yield null") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f), Option(Array(1.0f))),
      (Array(1.0f), None))
      .toDF("a", "b")
    val out = df.select(VectorFunctions.cosine($"a", $"b")).collect()
    assert(out.forall(_.isNullAt(0)))
  }

  test("GraftExtensions injects the function session-wide") {
    val r = spark.sql(
      "SELECT graft_cosine(array(CAST(1 AS FLOAT)), array(CAST(2 AS FLOAT)))")
      .first().getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
    val toks = spark.sql("SELECT graft_bpe_tokens('thing')")
      .first().getSeq[String](0)
    assert(toks == Seq("th", "ing"))
    val hit = spark.sql(
      """SELECT graft_bloom_contains(
        |  (SELECT graft_bloom_agg(x)
        |   FROM (VALUES (CAST(7 AS BIGINT)), (CAST(9 AS BIGINT))) t(x)),
        |  CAST(7 AS BIGINT))""".stripMargin)
      .first().getBoolean(0)
    assert(hit)
    // a wrong argument count fails analysis, too few or too many
    Seq(
      "SELECT graft_nearest(array(1.0D))",
      "SELECT graft_qmean_vec(array(1.0D), array(1.0D)) FROM VALUES (1) t(x)",
      "SELECT graft_cosine(array(1.0D), array(1.0D), array(1.0D))"
    ).foreach { q =>
      val e = intercept[org.apache.spark.sql.AnalysisException](
        spark.sql(q).collect())
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", q)
    }
  }
}
