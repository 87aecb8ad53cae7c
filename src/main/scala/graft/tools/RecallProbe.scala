package graft.tools

import org.apache.spark.sql.functions._

/** Recall-tuning probe: the q_ann_recall gate USED the way a deployment
  * uses it — sweep the IVF knobs (C, nprobe) and print measured
  * recall@5 against the exact top-5 for each setting, one JSON line per
  * grid point. The declared queries pin C=8/nprobe=2 for the oracle;
  * this tool shows what the gate says when you actually turn the knobs
  * (C≈√N, more probes), which is the production tuning loop.
  * Usage: runMain graft.tools.RecallProbe [sfDir]
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val n = graft.operators.Similarity.ivfVectors(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val corpusN = n.count()
    val exact = graft.SparkEntry.queries("q_similarity_topk")(spark, sfDir)
      .select($"qid", $"cid")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nQueries = exact.select($"qid").distinct().count()
    val rootC = math.max(2, math.sqrt(corpusN.toDouble).round.toInt)

    try {
      for {
        c <- Seq(8, rootC)
        nprobe <- Seq(2, 4, math.max(1, c / 2))
      } {
        val t0 = System.nanoTime()
        val approx = graft.operators.Similarity
          .ivfRanked(spark, n, c = c, iters = 2, nprobe = nprobe)
          .select($"qid".as("aqid"), $"cid".as("acid"))
        val hits = exact
          .join(approx, $"qid" === $"aqid" && $"cid" === $"acid", "left")
          .agg(count($"acid")).as[Long].head()
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = hits.toDouble / (5.0 * nQueries)
        println(f"""{"n":$corpusN,"c":$c,"nprobe":$nprobe,""" +
          f""""recall_at_5":$recall%.4f,"sec":$sec%.2f}""")
      }
      // the PQ (M, K) GRID (round 16, extending the round-12 K-only
      // sweep): the gates adjudicated PQ distortion as the binding knob
      // once probing was fixed — measure the full IVF-PQ composition's
      // recall across BOTH geometry axes (subspace count M and codes
      // per subspace K), at the probe-backed coarse defaults. Bytes
      // per compressed vector = M·ceil(log2 K)/8.
      for {
        pqM <- Seq(4, 8, 16)
        pqK <- Seq(8, 16, 32, 64)
      } {
        val t0 = System.nanoTime()
        val nprobe = math.max(1, rootC / 2)
        val approx = graft.operators.Similarity
          .ivfPqRanked(spark, n, rootC, nprobe, pqK, pqM)
          .select($"qid".as("aqid"), $"cid".as("acid"))
        val hits = exact
          .join(approx, $"qid" === $"aqid" && $"cid" === $"acid", "left")
          .agg(count($"acid")).as[Long].head()
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = hits.toDouble / (5.0 * nQueries)
        println(f"""{"n":$corpusN,"c":$rootC,"nprobe":$nprobe,""" +
          f""""pq_m":$pqM,"pq_k":$pqK,""" +
          f""""recall_at_5":$recall%.4f,"sec":$sec%.2f}""")
      }
      // the LSH-BITS sweep (round 12): fewer sign bits = coarser
      // buckets = a larger scanned fraction — the third family's
      // recall/cost dial, measured against the same exact baseline
      for (bits <- Seq(4, 5, 6, 8)) {
        val t0 = System.nanoTime()
        val approx = graft.operators.Similarity
          .lshRanked(spark, sfDir, bits)
          .select($"qid".as("aqid"), $"cid".as("acid"))
        val hits = exact
          .join(approx, $"qid" === $"aqid" && $"cid" === $"acid", "left")
          .agg(count($"acid")).as[Long].head()
        val sec = (System.nanoTime() - t0) / 1e9
        val recall = hits.toDouble / (5.0 * nQueries)
        println(f"""{"n":$corpusN,"lsh_bits":$bits,""" +
          f""""recall_at_5":$recall%.4f,"sec":$sec%.2f}""")
      }
    } finally { n.unpersist(false); exact.unpersist(false) }

    // ---- PLANTED-CLUSTER fixture (round 13): the sweeps above run on
    // near-random vectors, where PQ/LSH recall can only track scanned
    // fraction. Re-run every family on a corpus with REAL neighborhood
    // structure (PlantedFixture: K separated means + small noise) so
    // the knobs show their true separation. Same production code paths.
    val planted = PlantedFixture.vectors(spark, n = 4000, k = 50)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pN = planted.count()
    val pExact = PlantedFixture.bruteTop5(planted)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    pExact.count()
    val pRootC = math.max(2, math.sqrt(pN.toDouble).round.toInt)
    val pNprobe = math.max(1, pRootC / 2)
    try {
      for ((c, np) <- Seq((8, 2), (pRootC, 2), (pRootC, pNprobe))) {
        val t0 = System.nanoTime()
        val r = PlantedFixture.recallAt5(pExact, graft.operators.Similarity
          .ivfRanked(spark, planted.select($"vec_id", $"e"), c, 2, np))
        println(f"""{"fixture":"planted","n":$pN,"c":$c,"nprobe":$np,""" +
          f""""recall_at_5":$r%.4f,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
      for {
        pqM <- Seq(4, 8, 16)
        pqK <- Seq(8, 16, 32, 64)
      } {
        val t0 = System.nanoTime()
        val r = PlantedFixture.recallAt5(pExact, graft.operators.Similarity
          .ivfPqRanked(spark, planted.select($"vec_id", $"e"),
            pRootC, pNprobe, pqK, pqM))
        println(f"""{"fixture":"planted","n":$pN,"c":$pRootC,""" +
          f""""nprobe":$pNprobe,"pq_m":$pqM,"pq_k":$pqK,""" +
          f""""recall_at_5":$r%.4f,""" +
          f""""sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
      for (bits <- Seq(4, 5, 6, 8)) {
        val t0 = System.nanoTime()
        val r = PlantedFixture.recallAt5(pExact, graft.operators.Similarity
          .lshRankedOn(spark, planted.select($"vec_id", $"embedding"), bits))
        println(f"""{"fixture":"planted","n":$pN,"lsh_bits":$bits,""" +
          f""""recall_at_5":$r%.4f,"sec":${(System.nanoTime() - t0) / 1e9}%.2f}""")
      }
    } finally { planted.unpersist(false); pExact.unpersist(false) }
    spark.stop()
  }
}
