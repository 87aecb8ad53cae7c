package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws of the product-quantization ANN path (q_ann_pq): the compression
  * invariant (every vector reduces to M codes from K-entry codebooks —
  * the round-16 grid-pinned [[graft.operators.Similarity.PqDefaultM]] /
  * `PqDefaultK` geometry), determinism of the trained codebooks + ADC
  * ranking, and a recall floor against exact brute-force cosine top-5.
  * Exactness of the declared query itself is the DuckDB hash gate's
  * job. */
class AnnPqSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir

  test("ADC ranking is deterministic across runs") {
    val a = SparkEntry.queries("q_ann_pq")(spark, dir).collect().toSeq
    val b = SparkEntry.queries("q_ann_pq")(spark, dir).collect().toSeq
    assert(a == b)
    assert(a.nonEmpty)
  }

  test("every query gets exactly 5 ranked candidates with scores in [-M, M]") {
    import spark.implicits._
    val m = graft.operators.Similarity.PqDefaultM.toDouble
    val rows = SparkEntry.queries("q_ann_pq")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    rows.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L), s"query $q")
    }
    // score is a sum of M per-subspace cosines, each in [-1, 1]
    rows.foreach { case (_, _, _, s) => assert(s >= -m && s <= m) }
  }

  test("ivfpq returns at most 5 per query and only ADC-scored candidates") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_ann_ivfpq")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (q, rs) =>
      // cell filtering can leave < 5 candidates; ranks must stay dense
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length).toSeq, s"query $q")
      assert(rs.length <= 5)
    }
    // the cell filter only ever SHRINKS the pure-ADC candidate pool, so
    // each (qid, cid, score) must also appear in the unfiltered ADC
    // ranking's scoring universe with the SAME score: spot-check via the
    // full q_ann_pq top-5 — any shared (qid,cid) pair must agree on score
    val pq = SparkEntry.queries("q_ann_pq")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    rows.foreach { case (q, _, c, s) =>
      pq.get((q, c)).foreach(ps => assert(ps == s, s"score drift ($q,$c)"))
    }
  }

  test("diverse sample: cells partition the corpus, reps are true argmaxes") {
    import spark.implicits._
    val got = SparkEntry.queries("q_diverse_sample")(spark, dir)
      .as[(Long, Long, Long, Double)].collect()
    val nVec = graft.sources.Tables.load(spark, dir, "embeddings").count()
    // cells partition: sizes sum to the corpus, cells are distinct
    assert(got.map(_._2).sum == nVec, "cell sizes must cover every vector")
    assert(got.map(_._1).distinct.length == got.length, "one row per cell")
    assert(got.length > 1 && got.length <= 8, "trained codebook has <= 8 cells")
    // each representative belongs to its own cell's population and its
    // similarity is a valid round6'd cosine
    got.foreach { case (cell, size, repId, repSim) =>
      assert(size >= 1, s"cell $cell empty")
      assert(repSim >= -1.0 - 1e-9 && repSim <= 1.0 + 1e-9)
      assert(repSim == math.floor(repSim * 1e6 + 0.5) / 1e6, "round6'd")
      assert(repId >= 0, s"cell $cell rep")
    }
  }

  test("ADC recall@5 vs exact brute-force cosine clears the floor") {
    import spark.implicits._
    val n = graft.sources.Tables.load(spark, dir, "embeddings")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
    val q = n.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"e".as("qe"))
    val exact = n.crossJoin(broadcast(q))
      .filter($"vec_id" =!= $"qid")
      .withColumn("sim", graft.functions.VectorFunctions.cosine($"qe", $"e"))
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy($"qid").orderBy($"sim".desc, $"vec_id")))
      .filter($"rn" <= 5)
      .select($"qid", $"vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val adc = SparkEntry.queries("q_ann_pq")(spark, dir)
      .select($"qid", $"cid").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(adc.keySet == exact.keySet)
    val recall = adc.keysIterator.map { k =>
      (adc(k) intersect exact(k)).size.toDouble / 5.0
    }.sum / adc.size
    // PQ on RANDOM vectors (no cluster structure — the hardest case:
    // cosines concentrate near 0, so quantization noise swamps most of
    // the signal) must still beat blind guessing (5/N ≈ 1%)
    // several-fold; the old (M=4, K=8) geometry measured 0.08 at
    // sf0.001, the round-16 grid-pinned (16, 64) reads well above it.
    // Real corpora cluster and recall climbs with them.
    assert(recall >= 0.05, s"mean recall@5 $recall below floor")
  }
}
