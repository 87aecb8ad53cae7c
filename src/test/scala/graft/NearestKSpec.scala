package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** `graft_nearest_k(e, codebook, k)` must rank EXACTLY as the |Q|·C
  * window form it replaced in the IVF probes,
  * {{{
  *   e ⨯ codebook rows → row_number() OVER (PARTITION BY vector
  *     ORDER BY round6(graft_cosine(e, ce)) DESC, cid) ≤ k
  * }}}
  * row for row and bit for bit, on both the interpreted and the
  * generated-code paths, whether the codebook is an array column or a
  * broadcast [[graft.functions.CodebookHandle]]; and k = 1 is
  * `graft_nearest`. The codebooks carry non-null cids, as every
  * codebook the engine trains or stores does. */
class NearestKSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def withCodegen[A](on: Boolean)(body: => A): A = {
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => k -> spark.conf.getOption(k))
    spark.conf.set(keys(0), on.toString)
    spark.conf.set(keys(1), if (on) "CODEGEN_ONLY" else "NO_CODEGEN")
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val vectors: Seq[(Long, Option[Seq[java.lang.Double]])] = Seq(
    1L -> Some(Seq(1.0, 0.0)), // exact tie: cid 5 and cid 2 both 1.0
    2L -> Some(Seq(0.0, 0.0)), // zero vector: every cosine NaN → 0.0
    3L -> None, // null vector: every csim null, cid order only
    4L -> Some(Seq(1.0, 0.0, 0.0)), // length mismatch with every 2-dim ce
    5L -> Some(Seq(-1.0, 0.0)), // 0.0 ties: cid 7, cid 3, zero cid 9
    6L -> Some(Seq(1.0, -1e-7)), // -1e-7 rounds onto 0.0 next to exact 0
    7L -> Some(Seq(-0.0, 1.0)), // -0.0 component
    8L -> Some(Seq(Double.NaN, 1.0)), // NaN component: NaN cosine → 0.0
    9L -> Some(Seq(0.3, 0.7)),
    10L -> Some(Seq(-0.2, -0.9))).map { case (v, e) =>
      v -> e.map(_.map(x => java.lang.Double.valueOf(x.doubleValue))) }

  private val centroids: Seq[(Long, Option[Seq[java.lang.Double]])] = Seq(
    5L -> Some(Seq(1.0, 0.0)),
    2L -> Some(Seq(2.0, 0.0)),
    7L -> Some(Seq(0.0, 1.0)),
    3L -> Some(Seq(0.0, -1.0)),
    9L -> Some(Seq(0.0, 0.0)),
    4L -> Some(Seq(-0.5, 0.5)),
    1L -> None, // null ce: null csim
    6L -> Some(Seq(1.0, 2.0, 3.0)), // ragged: null csim
    8L -> Some(Seq(0.0, -0.0))).map { case (c, e) =>
      c -> e.map(_.map(x => java.lang.Double.valueOf(x.doubleValue))) }

  private def vecDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(vectors.map { case (v, e) => Row(v, e.orNull) }, 2),
    StructType.fromDDL("vid BIGINT, e ARRAY<DOUBLE>"))

  private val centSchema = StructType(Seq(StructField("cid", LongType, nullable = false),
    StructField("ce", ArrayType(DoubleType))))
  private def centRows: Seq[Row] = centroids.map { case (c, e) => Row(c, e.orNull) }
  private def centDf: DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(centRows, 1), centSchema)

  /** vid → ranked (cell, csim bits), from the window form. */
  private def windowRanks(k: Int): Map[Long, Seq[(Long, Option[Long])]] = {
    import spark.implicits._
    val w = Window.partitionBy($"vid").orderBy($"csim".desc, $"cid")
    vecDf.crossJoin(broadcast(centDf))
      .withColumn("csim", Det.round6(VectorFunctions.cosine($"e", $"ce")))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .collect().toSeq
      .groupBy(_.getAs[Long]("vid"))
      .map { case (v, rs) => v -> rs.sortBy(_.getAs[Int]("rn")).map(entry) }
  }

  private def entry(r: Row): (Long, Option[Long]) = {
    val i = r.fieldIndex("csim")
    (r.getAs[Long](r.fieldIndex(if (r.schema.fieldNames.contains("cell")) "cell" else "cid")),
      if (r.isNullAt(i)) None else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(i))))
  }

  /** vid → graft_nearest_k entries, against `codebook`. */
  private def nativeRanks(codebook: DataFrame => (DataFrame, org.apache.spark.sql.Column),
                          k: Int): Map[Long, Seq[(Long, Option[Long])]] = {
    val (n, cb) = codebook(vecDf)
    n.select(col("vid"), VectorFunctions.nearestK(col("e"), cb, k).as("nk"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Row](1).map(entry)).toMap
  }

  private val arrayColumn: DataFrame => (DataFrame, org.apache.spark.sql.Column) = n =>
    (n.crossJoin(broadcast(centDf.agg(collect_list(struct(col("cid"), col("ce"))).as("cb")))),
      col("cb"))

  private lazy val book = operators.Similarity.Codebook(centSchema, centRows)
  private val handle: DataFrame => (DataFrame, org.apache.spark.sql.Column) = n =>
    (n, book.handle)

  test("graft_nearest_k ranks exactly as the window form: ties, NaN, nulls, ragged, ±0.0") {
    for (codegen <- Seq(false, true); k <- Seq(1, 2, 4, centroids.size);
         cb <- Seq(arrayColumn, handle)) withCodegen(codegen) {
      assert(nativeRanks(cb, k) == windowRanks(k), s"codegen=$codegen k=$k")
    }
  }

  test("k > C returns every entry, ranked") {
    for (codegen <- Seq(false, true)) withCodegen(codegen) {
      val got = nativeRanks(handle, centroids.size + 3)
      assert(got.values.forall(_.size == centroids.size))
      assert(got == windowRanks(centroids.size))
    }
  }

  test("k = 1 is graft_nearest, null cids included") {
    import spark.implicits._
    // a null cid is legal in an array column: both functions rank it
    // after every non-null cid of the same similarity
    val cent = centDf.union(Seq[(Option[Long], Option[Seq[Double]])](
      None -> Some(Seq(1.0, 0.0)), None -> None).toDF("cid", "ce"))
    val n = vecDf.crossJoin(broadcast(cent.agg(collect_list(struct($"cid", $"ce")).as("cb"))))
    for (codegen <- Seq(false, true)) withCodegen(codegen) {
      val rows = n.select(VectorFunctions.nearest($"e", $"cb").as("one"),
        element_at(VectorFunctions.nearestK($"e", $"cb", 1), 1).as("first")).collect()
      assert(rows.length == vectors.size)
      rows.foreach(r => assert(r.get(0) == r.get(1)))
    }
  }

  test("null or empty codebook: null, so an explode has no row") {
    import spark.implicits._
    val cbType = ArrayType(StructType(Seq(StructField("cid", LongType),
      StructField("ce", ArrayType(DoubleType)))))
    for (codegen <- Seq(false, true)) withCodegen(codegen) {
      Seq(lit(null).cast(cbType), array().cast(cbType)).foreach { cb =>
        val df = vecDf.select($"vid", VectorFunctions.nearestK($"e", cb, 3).as("nk"))
        assert(df.collect().forall(_.isNullAt(1)))
        assert(df.select(explode($"nk")).count() == 0)
      }
    }
  }

  test("a constant k >= 1 is required; graft_nearest_k is a SQL function") {
    import spark.implicits._
    val df = Seq((1L, Seq(1.0, 0.0))).toDF("k", "e")
      .withColumn("cb", array(struct(lit(1L).as("cid"), $"e".as("ce"))))
    Seq(VectorFunctions.nearestK($"e", $"cb", 0),
      call_function(VectorFunctions.NEAREST_K, $"e", $"cb", $"k".cast("int"))).foreach { c =>
      val err = intercept[org.apache.spark.sql.AnalysisException](
        df.select(c).queryExecution.analyzed)
      assert(err.getMessage.contains("constant INT k"), err.getMessage)
    }
    df.createOrReplaceTempView("nearest_k_sql")
    val r = spark.sql("SELECT graft_nearest_k(e, cb, 2) FROM nearest_k_sql").head()
    assert(r.getSeq[Row](0).map(_.getLong(0)) == Seq(1L))
  }
}
