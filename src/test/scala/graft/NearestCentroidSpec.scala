package graft

import graft.functions.{QMeanVec, VectorFunctions}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The two native functions a Lloyd round runs on must be BIT-EQUIVALENT
  * to the relational forms they replaced, so every trained codebook (and
  * every ANN query the DuckDB oracle checks) stays bit-identical:
  *
  *  - `graft_nearest(e, cb)` ≡ crossJoin the codebook rows, then per
  *    vector `max(struct(round6(graft_cosine(e, ce)) AS cs, -cid AS nc))`
  *    — the reference stays in [[nearestReference]]. The adversarial
  *    rows cover exact csim ties (smallest cid wins), a tiny negative
  *    cosine that rounds onto 0.0 next to an exact 0.0, a zero vector's
  *    NaN cosine, null vectors, null centroid vectors, null cids, length
  *    mismatches, and null / empty codebooks.
  *  - `graft_qmean_vec(e)` ≡ posexplode → per-(group, pos)
  *    `sum(floor(x·1e4 + 0.5))`, `count(*)` → one division →
  *    `collect_list` re-assembly ([[qmeanReference]]), including ragged
  *    vectors, null elements, null vectors and the ANSI overflow error. */
class NearestCentroidSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def nearestReference(n: DataFrame, cent: DataFrame): DataFrame = {
    import spark.implicits._
    n.crossJoin(broadcast(cent))
      .withColumn("csim",
        Det.round6(VectorFunctions.cosine($"e", $"ce")))
      .groupBy($"vid")
      .agg(max(struct($"csim".as("cs"), (-$"cid").as("nc"))).as("m"))
      .select($"vid", (-$"m.nc").as("cell"), $"m.cs".as("csim"))
  }

  private def nearestNative(n: DataFrame, cent: DataFrame): DataFrame = {
    import spark.implicits._
    n.crossJoin(broadcast(cent.agg(collect_list(struct($"cid", $"ce")).as("cb"))))
      .select($"vid", VectorFunctions.nearest($"e", $"cb").as("nn"))
      .filter($"nn".isNotNull)
      .select($"vid", $"nn.cell".as("cell"), $"nn.csim".as("csim"))
  }

  /** vid → (cell, csim bits), nulls kept, so 0.0 vs -0.0 or a NaN would
    * show as a mismatch. */
  private def rowsOf(df: DataFrame): Map[Long, (Option[Long], Option[Long])] =
    df.collect().map { r =>
      r.getLong(0) -> (
        if (r.isNullAt(1)) None else Some(r.getLong(1)),
        if (r.isNullAt(2)) None
        else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
    }.toMap

  private def assertNearestParity(n: DataFrame, cent: DataFrame): Unit = {
    val want = rowsOf(nearestReference(n, cent))
    val got = rowsOf(nearestNative(n, cent))
    assert(got == want)
  }

  private val vectors: Seq[(Long, Option[Seq[Double]])] = Seq(
    1L -> Some(Seq(1.0, 0.0)), // exact tie: cid 5 and cid 2 both 1.0
    2L -> Some(Seq(0.0, 0.0)), // zero vector: every cosine NaN
    3L -> None, // null vector: every csim null
    4L -> Some(Seq(1.0, 0.0, 0.0)), // length mismatch with every ce
    5L -> Some(Seq(-1.0, 0.0)), // 0.0 ties: cid 7, cid 3, zero cid 9
    6L -> Some(Seq(1.0, -1e-7)), // -1e-7 rounds onto 0.0 next to exact 0
    7L -> Some(Seq(0.3, 0.7)),
    8L -> Some(Seq(-0.2, -0.9)))

  private val centroids: Seq[(Option[Long], Option[Seq[Double]])] = Seq(
    Some(5L) -> Some(Seq(1.0, 0.0)),
    Some(2L) -> Some(Seq(2.0, 0.0)),
    Some(7L) -> Some(Seq(0.0, 1.0)),
    Some(3L) -> Some(Seq(0.0, -1.0)),
    Some(9L) -> Some(Seq(0.0, 0.0)),
    Some(4L) -> Some(Seq(-0.5, 0.5)))

  private def vecDf(rows: Seq[(Long, Option[Seq[Double]])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vid", "e")
  }
  private def centDf(rows: Seq[(Option[Long], Option[Seq[Double]])]): DataFrame = {
    import spark.implicits._
    rows.toDF("cid", "ce")
  }

  test("adversarial rows: graft_nearest == max(struct) reference per vector") {
    assertNearestParity(vecDf(vectors), centDf(centroids))
    // null centroid vectors and a null cid join the ranking
    assertNearestParity(vecDf(vectors), centDf(centroids ++ Seq(
      Some(1L) -> None, None -> Some(Seq(1.0, 0.0)), None -> None)))
    // every entry null-scored: the smallest cid still wins
    assertNearestParity(vecDf(vectors), centDf(Seq(
      Some(8L) -> None, Some(6L) -> Some(Seq(1.0, 2.0, 3.0)))))
    // a single centroid: first-entry path only
    assertNearestParity(vecDf(vectors), centDf(centroids.take(1)))
  }

  test("float vectors widen exactly, like graft_cosine") {
    import spark.implicits._
    val n = vecDf(vectors).withColumn("e", $"e".cast("array<float>"))
    val cent = centDf(centroids).withColumn("ce", $"ce".cast("array<float>"))
    assertNearestParity(n, cent)
  }

  test("empty or null codebook: null, and no row, like the empty crossJoin") {
    import spark.implicits._
    val n = vecDf(vectors)
    val empty = centDf(centroids).filter($"cid" < 0)
    assert(nearestReference(n, empty).count() == 0)
    assert(nearestNative(n, empty).count() == 0)
    val cbType = ArrayType(StructType(Seq(StructField("cid", LongType),
      StructField("ce", ArrayType(DoubleType)))))
    val nulls = n.select(VectorFunctions.nearest($"e",
      lit(null).cast(cbType)).as("nn")).collect()
    assert(nulls.forall(_.isNullAt(0)))
    // an empty driver codebook covers no row
    val none = operators.Similarity.Codebook(StructType(Seq(
      StructField("cid", LongType), StructField("ce", ArrayType(DoubleType)))), Nil)
    assert(operators.Similarity.assignCells(n.withColumnRenamed("vid", "vec_id"), none)
      .count() == 0)
  }

  test("real training shape: PQ-subspace and full-vector nearest match") {
    import spark.implicits._
    val e = sources.Tables.load(spark, TestSession.sfDir, "embeddings")
      .select($"vec_id".as("vid"), transform($"embedding", _.cast("double")).as("e"))
    val cent = e.filter($"vid" % 7 === 0).select($"vid".as("cid"), $"e".as("ce"))
    assertNearestParity(e, cent)
    val nm = operators.Similarity.pqSubspaces(e.withColumnRenamed("vid", "vec_id"))
    val pqCent = nm.filter($"vec_id" % 11 === 0)
      .select($"m", $"vec_id".as("cid"), $"e".as("ce"))
    val want = nm.join(broadcast(pqCent), Seq("m"))
      .withColumn("csim", Det.round6(VectorFunctions.cosine($"e", $"ce")))
      .groupBy($"m", $"vec_id")
      .agg(max(struct($"csim".as("cs"), (-$"cid").as("nc"))).as("x"))
      .select($"m", $"vec_id", (-$"x.nc").as("cell"))
    val got = operators.Similarity.pqAssign(nm,
      operators.Similarity.Codebook.of(pqCent))
    assert(want.count() > 0)
    assert(want.exceptAll(got).isEmpty && got.exceptAll(want).isEmpty)
  }

  test("wrong argument types are rejected at analysis time") {
    import spark.implicits._
    val df = Seq((Seq(1.0), Seq("x"))).toDF("e", "s")
    Seq(
      VectorFunctions.nearest($"e", $"e"),
      VectorFunctions.nearest($"s", array(struct(lit(1L), $"e"))),
      VectorFunctions.nearest($"e", array(struct(lit(1), $"e"))),
      VectorFunctions.qmeanVec($"s")
    ).foreach { c =>
      val err = intercept[org.apache.spark.sql.AnalysisException](
        df.select(c).queryExecution.analyzed)
      assert(err.getMessage.contains("DATATYPE_MISMATCH") ||
        err.getMessage.contains("requires"), err.getMessage)
    }
  }

  // ------------------------------------------------------ graft_qmean_vec

  private def qmeanReference(df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select($"g", posexplode($"e"))
      .groupBy($"g", $"pos")
      .agg(sum(floor($"col" * 10000.0 + 0.5).cast("long")).as("sv"),
        count(lit(1)).as("cnt"))
      .withColumn("v", $"sv".cast("double") / ($"cnt" * 10000.0))
      .groupBy($"g")
      .agg(collect_list(struct($"pos", $"v")).as("pv"))
      .select($"g", expr("transform(array_sort(pv), x -> x.v)").as("ce"))
  }

  private def qmeanNative(df: DataFrame): DataFrame = {
    import spark.implicits._
    df.groupBy($"g").agg(VectorFunctions.qmeanVec($"e").as("ce"))
      .filter($"ce".isNotNull)
  }

  private def meansOf(df: DataFrame): Map[Int, Seq[Option[Long]]] =
    df.collect().map { r =>
      r.getInt(0) -> r.getSeq[Any](1).map {
        case null => None
        case d: Double => Some(java.lang.Double.doubleToRawLongBits(d))
      }
    }.toMap

  private def assertMeanParity(df: DataFrame): Unit = {
    val want = meansOf(qmeanReference(df))
    assert(want.nonEmpty)
    assert(meansOf(qmeanNative(df)) == want)
  }

  private val meanRows: Seq[(Int, Option[Seq[Option[Double]]])] = Seq(
    1 -> Some(Seq(Some(0.12345), Some(-0.5), Some(1.0))),
    1 -> Some(Seq(Some(0.00005), Some(-0.00005), Some(2.5))),
    1 -> Some(Seq(Some(0.3), Some(0.7), Some(-1.0))),
    // ragged: position 2 averages over the longer vectors only
    2 -> Some(Seq(Some(1.0), Some(2.0), Some(3.0))),
    2 -> Some(Seq(Some(4.0))),
    2 -> Some(Seq.empty),
    // null element: counted, not summed; an all-null position is null
    3 -> Some(Seq(None, Some(1.0))),
    3 -> Some(Seq(None, Some(2.0))),
    4 -> Some(Seq(Some(1.0), None)),
    4 -> Some(Seq(Some(3.0), Some(5.0))),
    // null vector skipped; a group of only null/empty vectors has no row
    5 -> None,
    5 -> Some(Seq(Some(0.25))),
    6 -> None,
    6 -> Some(Seq.empty),
    // NaN quantizes to 0 (Spark's floor), infinities saturate
    7 -> Some(Seq(Some(Double.NaN), Some(Double.PositiveInfinity))),
    8 -> Some(Seq(Some(-0.0), Some(0.0))))

  private def meanDf(rows: Seq[(Int, Option[Seq[Option[Double]]])],
                     slices: Int = 1): DataFrame = {
    val schema = StructType(Seq(StructField("g", IntegerType),
      StructField("e", ArrayType(DoubleType))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (g, e) =>
        Row(g, e.map(_.map(_.map(java.lang.Double.valueOf).orNull)).orNull) },
      slices), schema)
  }

  test("qmean_vec: adversarial rows match the posexplode/sum/collect_list chain") {
    assertMeanParity(meanDf(meanRows))
    import spark.implicits._
    assertMeanParity(meanDf(meanRows).withColumn("e", $"e".cast("array<float>")))
  }

  test("qmean_vec: parity survives partial/merge and serialization") {
    // one row per partition: every group's buffers are built in 2-3
    // partitions, serialized through the exchange and merged
    val df = meanDf(meanRows, slices = meanRows.size)
    assert(df.rdd.getNumPartitions >= 3)
    assertMeanParity(df)
    assertMeanParity(meanDf(meanRows, slices = 3))
    val agg = QMeanVec(Literal.create(null, ArrayType(DoubleType)))
    val buf = Array(3L, 2L, -7L, 1L, 1L, Long.MaxValue)
    assert(agg.deserialize(agg.serialize(buf)).sameElements(buf))
    assert(agg.deserialize(agg.serialize(Array.emptyLongArray)).isEmpty)
  }

  test("qmean_vec: global aggregate over an empty frame returns null") {
    import spark.implicits._
    val r = meanDf(meanRows).filter($"g" < 0)
      .agg(VectorFunctions.qmeanVec($"e")).first()
    assert(r.isNullAt(0))
  }

  test("qmean_vec: BIGINT overflow raises ArithmeticException, as ANSI sum does") {
    val big = Seq(1 -> Some(Seq(Some(1e15))), 1 -> Some(Seq(Some(1e15))))
    def raisesArithmetic(df: => DataFrame): Boolean =
      try { df.collect(); false }
      catch {
        case t: Throwable =>
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[ArithmeticException])
      }
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true")
    assert(raisesArithmetic(qmeanReference(meanDf(big))))
    // in update (one partition) and in merge (one row per partition)
    assert(raisesArithmetic(qmeanNative(meanDf(big))))
    assert(raisesArithmetic(qmeanNative(meanDf(big, slices = 2))))
  }

  test("qmean_vec plans as ObjectHashAggregate, not SortAggregate") {
    val plan = qmeanNative(meanDf(meanRows)).queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"))
    assert(!plan.contains("SortAggregate"))
  }

  test("k-means codebooks are bit-identical to the relational Lloyd rounds") {
    import spark.implicits._
    val n = operators.Similarity.ivfVectors(spark, TestSession.sfDir)
    val seedOrd = Seq(md5($"vec_id".cast("string")), $"vec_id")
    val c = 8
    val seeds = n.orderBy(seedOrd: _*).limit(c)
      .withColumn("cid",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(seedOrd: _*)).cast("long"))
      .select($"cid", $"e".as("ce"))
    val want = (1 to 2).foldLeft(seeds) { (cent, _) =>
      val asg = nearestReference(n.withColumnRenamed("vec_id", "vid"), cent)
      n.join(asg.withColumnRenamed("vid", "vec_id"), Seq("vec_id"))
        .select($"cell", $"e")
        .withColumnRenamed("cell", "g")
        .transform(qmeanReference)
        .select($"g".as("cid"), $"ce")
    }
    val got = operators.Similarity.kmeansCodebook(n, c, 2).frame(spark)
    def bits(df: DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) ->
        r.getSeq[Double](1).map(java.lang.Double.doubleToRawLongBits)).toMap
    val w = bits(want)
    assert(w.size > 1)
    assert(bits(got) == w)
  }
}
