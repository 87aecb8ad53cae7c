package graft

import graft.functions.VectorFunctions
import graft.operators.Similarity
import graft.operators.Similarity.Codebook
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity of the driver-held k-means training ([[Similarity.kmeansCodebook]],
  * [[Similarity.pqTrain]], [[Similarity.lloydRound]]) with the relational
  * Lloyd chain it replaced, kept here as the reference: seeds numbered by
  * a `row_number` window over the md5 order, and each round a
  * `collect_list` codebook broadcast into `graft_nearest`, grouped by
  * cell into `graft_qmean_vec` — a nested plan the next round consumes.
  * Every trained `(keys…, cid, ce)` must be BIT-identical: unkeyed and
  * keyed (PQ `m`), one and two rounds, a cell that empties out and
  * drops, C ≥ N, null elements, 1 and 7 input partitions; a BIGINT
  * overflow throws in both. */
class KmeansDriverSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def seedOrd = Seq(md5(col("vec_id").cast("string")), col("vec_id"))

  private def refNearest(n: DataFrame, cent: DataFrame,
                         keys: String*): DataFrame = {
    val cb = broadcast(cent.groupBy(keys.map(col): _*)
      .agg(collect_list(struct(col("cid"), col("ce"))).as("cb"))
      .filter(size(col("cb")) > 0))
    (if (keys.isEmpty) n.crossJoin(cb) else n.join(cb, keys))
      .withColumn("nn", VectorFunctions.nearest(col("e"), col("cb")))
  }

  private def refRound(n: DataFrame, cent: DataFrame, keys: String*): DataFrame =
    refNearest(n, cent, keys: _*)
      .groupBy(keys.map(col) :+ col("nn.cell").as("cid"): _*)
      .agg(VectorFunctions.qmeanVec(col("e")).as("ce"))
      .filter(col("ce").isNotNull)

  private def refKmeans(n: DataFrame, c: Int, iters: Int): DataFrame = {
    val seeds = n.select(col("vec_id"), col("e")).orderBy(seedOrd: _*).limit(c)
      .withColumn("cid", row_number().over(Window.orderBy(seedOrd: _*)).cast("long"))
      .select(col("cid"), col("e").as("ce"))
    (1 to iters).foldLeft(seeds)((cent, _) => refRound(n, cent))
  }

  private def refPqSeeds(nm: DataFrame, k: Int): DataFrame = {
    val ids = nm.filter(col("m") === 0).select(col("vec_id"))
      .orderBy(seedOrd: _*).limit(k)
      .withColumn("cid", row_number().over(Window.orderBy(seedOrd: _*)).cast("long"))
    nm.join(broadcast(ids), Seq("vec_id")).select(col("m"), col("cid"), col("e").as("ce"))
  }

  /** (keys…, cid) → raw bits of ce, so any last-ulp difference shows. */
  private def bits(rows: Seq[Row]): Map[Seq[Long], Seq[Long]] =
    rows.map { r =>
      (0 until r.length - 1).map(i => r.getAs[Number](i).longValue) ->
        r.getSeq[Double](r.length - 1).map(java.lang.Double.doubleToRawLongBits)
    }.toMap

  private def assertSame(got: Codebook, want: DataFrame): Unit = {
    val w = bits(want.collect().toSeq)
    assert(w.nonEmpty)
    assert(bits(got.rows) == w)
    assert(got.rows.map(r => (0 until r.length - 1)
      .map(i => r.getAs[Number](i).longValue)) ==
      w.keys.toSeq.sorted(Ordering.Implicits.seqOrdering[Seq, Long]),
      "the driver codebook must be sorted by (keys…, cid)")
  }

  private lazy val corpus = Similarity.ivfVectors(spark, TestSession.sfDir)

  /** 8 random 6-dim vectors (fixed seed) plus two vectors PARALLEL to
    * vector 1: with every vector a seed, each cid of the parallel trio
    * but the smallest ties on every cosine and loses, so its cell
    * empties out in round one. */
  private lazy val small: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val base = (1L to 8L).map(i => i -> Seq.fill(6)(rnd.nextGaussian()))
    val v1 = base.head._2
    (base ++ Seq(9L -> v1.map(_ * 2.0), 10L -> v1.map(_ * 0.5)))
      .toDF("vec_id", "e")
  }

  test("unkeyed training, one and two rounds, matches the relational chain bit for bit") {
    for (c <- Seq(1, 8, 45); iters <- Seq(1, 2))
      assertSame(Similarity.kmeansCodebook(corpus, c, iters),
        refKmeans(corpus, c, iters))
  }

  test("a cell that empties out drops, and C >= N trains every vector as a seed") {
    val n = small.count().toInt
    for (c <- Seq(n, n + 3); iters <- Seq(1, 2)) {
      val got = Similarity.kmeansCodebook(small, c, iters)
      assertSame(got, refKmeans(small, c, iters))
      assert(got.rows.size < n,
        s"c=$c iters=$iters: the parallel seeds' cells must drop, got ${got.rows.size}")
    }
  }

  test("keyed (PQ m) training matches the relational chain, one and two rounds") {
    val nm = Similarity.pqSubspaces(corpus).persist()
    try {
      for (k <- Seq(8, 64))
        assertSame(Similarity.pqTrain(nm, k), refRound(nm, refPqSeeds(nm, k), "m"))
      val seeds = Codebook.of(refPqSeeds(nm, 16))
      assertSame(Similarity.lloydRound(nm, Similarity.lloydRound(nm, seeds)),
        refRound(nm, refRound(nm, refPqSeeds(nm, 16), "m"), "m"))
    } finally nm.unpersist()
  }

  /** `small` with null elements in two vectors and one null vector. */
  private lazy val withNulls: DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "vec_id BIGINT, e ARRAY<DOUBLE>")
    val rows = small.collect().toSeq.map { r =>
      val e = r.getSeq[Double](1).map(java.lang.Double.valueOf)
      Row(r.getLong(0),
        if (r.getLong(0) % 3 == 0) e.updated(2, null) else e)
    } :+ Row(11L, null)
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
  }

  test("the one-job Lloyd round equals the relational round at 1 and 7 partitions") {
    val nm = Similarity.pqSubspaces(corpus).persist()
    try {
      for (parts <- Seq(1, 7)) {
        // null elements and a null vector, every vector a seed so the
        // parallel trio's cells empty out and drop
        val n = withNulls.repartition(parts)
        val seeds = Similarity.kmeansCodebook(n, 12, 0)
        val got = Similarity.lloydRound(n, seeds)
        assertSame(got, refRound(n, seeds.frame(spark)))
        assert(got.rows.size < seeds.rows.size, s"$parts partitions: no cell emptied out")
        // keyed (PQ m)
        val nmp = nm.repartition(parts)
        val pqSeeds = Codebook.of(refPqSeeds(nmp, 16))
        assertSame(Similarity.lloydRound(nmp, pqSeeds),
          refRound(nmp, refPqSeeds(nmp, 16), "m"))
      }
    } finally nm.unpersist()
  }

  test("an overflowing cell sum throws in the one-job round, as in the relational one") {
    import spark.implicits._
    def throwsArithmetic(body: => Any): Boolean =
      try { body; false }
      catch {
        case t: Throwable =>
          Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
            .exists(_.isInstanceOf[ArithmeticException])
      }
    for (parts <- Seq(1, 7)) {
      val n = Seq(1L -> Seq(1e15), 2L -> Seq(1e15), 3L -> Seq(1e15))
        .toDF("vec_id", "e").repartition(parts)
      val seeds = Similarity.kmeansCodebook(n, 1, 0)
      assert(throwsArithmetic(refRound(n, seeds.frame(spark)).collect()))
      assert(throwsArithmetic(Similarity.lloydRound(n, seeds)),
        s"$parts partitions: the BIGINT overflow must throw")
    }
  }

  test("the order of the codebook rows cannot change a graft_nearest result") {
    import spark.implicits._
    // exact ties: cids 0 and 100 are the first centroid scaled by powers
    // of two, so every cosine to them is bit-equal to the first's
    val cb = Similarity.kmeansCodebook(corpus, 12, 1)
    val first = cb.rows.head
    val ce1 = first.getSeq[Double](1)
    val tied = cb.rows ++ Seq(Row(100L, ce1.map(_ * 2.0)), Row(0L, ce1.map(_ * 0.25)))
    def assignment(rows: Seq[Row]): Map[Long, (Long, Long)] =
      Similarity.assignCellsSim(corpus, Codebook(cb.schema, rows))
        .as[(Long, Long, Double)].collect()
        .map { case (v, c, s) => v -> (c, java.lang.Double.doubleToRawLongBits(s)) }
        .toMap
    val want = assignment(tied)
    assert(want.size == corpus.count())
    assert(!want.values.exists(_._1 == first.getLong(0)),
      "cid 0 is parallel to the first cell and smaller: it must win every tie")
    val rnd = new scala.util.Random(11)
    Seq(tied.reverse, rnd.shuffle(tied), rnd.shuffle(tied)).foreach { perm =>
      assert(assignment(perm) == want)
    }
  }
}
