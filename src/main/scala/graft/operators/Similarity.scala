package graft.operators

import graft.QueryModule
import graft.sources.Tables
import graft.functions.CodebookHandle
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ExpressionColumn
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}
import scala.jdk.CollectionConverters._

/** Similarity search and near-duplicate detection (SURVEY.md §2.9 T3/T4 +
  * north-star dedup family): brute-force cosine top-k (the correctness
  * baseline), random-hyperplane LSH bucketing (the scale path), MinHash+LSH
  * banding over shingles, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup.
  *
  * Determinism across engines: dot products are sequential double folds
  * (Spark `aggregate` HOF ≡ DuckDB `list_dot_product` — both left-to-right,
  * verified bit-identical); similarities are rounded to 6 decimals BEFORE
  * ranking so top-k selection can never flip on a last-ulp difference; all
  * hashing is md5 hex (never engine-native `hash()`).
  *
  * Scale posture: brute force is O(|Q|·|C|) with a broadcast query set —
  * correct at any |C| but only viable for small |Q|; the LSH variants cut
  * candidate generation to per-bucket joins (shuffle on bucket key), which
  * is the 100 TB path. Pair generation always blocks on a key (label /
  * source / band bucket) — never an unblocked self-crossJoin.
  */
object Similarity extends QueryModule {

  /** Sequential double dot product of two float vectors. */
  private def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  private def emb(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "embeddings")
      .withColumn("nrm", sqrt(dot($"embedding", $"embedding")))
  }

  /** T3 q_similarity_topk — brute-force cosine top-5 for a fixed query
    * subset (vec_id % 100 = 0). Query set broadcasts; candidates stream. */
  private def qSimilarityTopk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("cid"), $"embedding".as("ce"))
    val qs = Tables.load(s, dir, "embeddings").filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val pairs = cand.join(broadcast(qs), $"cid" =!= $"qid")
      .withColumn("sim",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ce")))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"qid", $"rn", $"cid", $"sim")
      .orderBy($"qid", $"rn")
  }

  /** q_ann_recall — recall@5 of the IVF-PQ INDEXED search against the
    * exact brute-force top-5, per query: the standard ANN quality gate
    * (every vector-store deployment publishes recall@k beside QPS — an
    * index that's fast but blind is not a search engine). Composes two
    * already-oracled pipelines over the SAME query set (vec_id ≡ 0
    * mod 100, k = 5): [[qSimilarityTopk]]'s exact ranking and the
    * stored-index search ([[annIndex]] — train-once, steady-state
    * read-back; bit-identical to q_ann_ivfpq by training determinism).
    * Output: per-query hit count and recall@5.
    *
    * Scale: the exact side is the brute |Q|·N baseline (the declared
    * q_similarity_topk posture — broadcast queries, corpus never
    * shuffled); the approx side reads the KB-sized index artifacts.
    * The join/aggregate run over 5·|Q|-row relations. A production
    * recall audit samples |Q| (this fixture's 1% modulus IS that
    * sample), so the brute side stays |sample|·N, not N².
    *
    * HONESTY — the measured numbers (round 12 re-pinned C=⌈√N⌉ /
    * nprobe=C/2; round 16 re-pinned the PQ geometry): the IVF-FLAT
    * twin ([[qAnnRecallIvf]]) reads recall@5 ≈ 0.85 at sf0.1 (0.76 at
    * sf0.01) where the old C=8/nprobe=2 literals read 0.46; the
    * SimHash-LSH point ([[qAnnRecallLsh]]) stays ≈ 0 on this
    * near-random corpus. This IVF-PQ gate read 0.04–0.12 under the
    * round-12 (M=4 subspaces, K=8 codes) geometry — the round-12
    * K-only sweep at M=4 read 0.04→0.11 and the 8× codebook growth
    * was not taken — but the round-16 FULL (M, K) grid showed the
    * OTHER axis was the binding one: at (M=16, K=64) the same gate
    * reads 0.37 on this corpus and 0.25 on the planted-structure
    * fixture (3–6× the old default on both), so the defaults were
    * re-pinned to the measured winner. The PAIR remains the
    * diagnostic: flat ≫ pq says remaining ADC distortion, not
    * probing, binds; `q_ann_rerank` closes that gap to 1.00. The
    * gate, not the fixture numbers, is the deliverable; the oracle
    * pins both measurements bit-exactly. */
  private def qAnnRecall(s: SparkSession, dir: String): DataFrame =
    recallAt5(s, dir, qAnnSearchIndexed(s, dir))

  /** The recall@5 gate of an approximate top-5 (qid, cid): per query,
    * the share of the exact [[qSimilarityTopk]] neighbors it found. */
  private def recallAt5(s: SparkSession, dir: String,
                        approx: DataFrame): DataFrame = {
    import s.implicits._
    val a = approx.select($"qid".as("aqid"), $"cid".as("acid"))
    qSimilarityTopk(s, dir).select($"qid", $"cid")
      .join(a, $"qid" === $"aqid" && $"cid" === $"acid", "left")
      .groupBy($"qid")
      .agg(count($"acid").as("n_hit"))
      .select($"qid", $"n_hit",
        graft.Det.round6($"n_hit".cast("double") / lit(5.0))
          .as("recall_at_5"))
      .orderBy($"qid")
  }

  /** q_ann_recall_ivf — the same recall@5 gate over the IVF-FLAT path
    * (exact distances within probed cells, no PQ): paired with
    * [[qAnnRecall]] it makes the gate DISCRIMINATING — flat recall
    * isolates probe misses (the nprobe/C lever) while the IVF-PQ number
    * adds quantization distortion on top (the PQ-bits lever), so the
    * two measured points tell a deployment WHICH knob to turn. Same
    * query sample, same join/aggregate shape, same honest-fixture
    * caveat as [[qAnnRecall]]. */
  private def qAnnRecallIvf(s: SparkSession, dir: String): DataFrame =
    recallAt5(s, dir, qAnnIvf(s, dir))

  /** q_ann_recall_lsh — the recall@5 gate over the SimHash-bucket LSH
    * path, the third measured point beside [[qAnnRecall]] (IVF-PQ) and
    * [[qAnnRecallIvf]] (IVF-flat): with all three index FAMILIES
    * measured against the same exact baseline on the same query
    * sample, the gate answers the index-selection question — which
    * family, at which knob settings, earns its candidate-generation
    * savings on THIS corpus. Same join/aggregate shape and honest
    * near-random-fixture caveat as the other two. */
  private def qAnnRecallLsh(s: SparkSession, dir: String): DataFrame =
    recallAt5(s, dir, qAnnLsh(s, dir))

  /** q_bitext_mine — margin-based parallel-pair mining (the
    * LASER/CCMatrix training-data op, Artetxe & Schwenk 2019,
    * arXiv:1811.01136: a translation pair is not "high cosine" but
    * "high cosine RELATIVE to each side's neighborhood" — the ratio
    * margin kills hub vectors that are near everything). The corpus
    * splits into two sides (even/odd vec_id standing in for the two
    * languages); candidate pairs are BLOCKED ON LABEL (the
    * topic/domain key — never an unblocked |A|×|B| cross join, the
    * same discipline as the dedup family); each pair scores
    * margin = 2·cos(a,b) / (avgTop3cos(a,B) + avgTop3cos(b,A)), and a
    * pair is MINED iff it is each side's mutual best by margin AND the
    * margin clears 1.0 (above-neighborhood evidence).
    *
    * Determinism: cosines quantize to BIGINT micro-units before any
    * sum, so the top-3 neighborhood sums are exact integers on both
    * engines and the margin is ONE double division of exact integers
    * (bit-identical by IEEE) — `Det.round6` only at the output edge.
    *
    * Scale: the label-blocked pair join shuffles on label (salt a hot
    * label like any skewed key); the neighborhood aggregates are
    * map-side-combined over the blocked pairs; mutual-best is two
    * WindowGroupLimit rank cuts. At 100 TB the candidate generation
    * routes through the ANN index family per side (CCMatrix mines from
    * FAISS shards exactly this way) — same declared semantics, indexed
    * candidates; the margin/mutual-best logic is unchanged. The pairs
    * relation feeds three consumers (both neighborhood aggregates and
    * the scoring join) — sealed, the q_rfm subtree-duplication
    * lesson. */
  private def qBitextMine(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.load(s, dir, "embeddings")
    val a = n.select($"vec_id".as("aid"), $"label", $"embedding".as("ae"))
      .filter($"aid" % 2 === 0)
    val b = n.select($"vec_id".as("bid"), $"label".as("blabel"),
        $"embedding".as("be"))
      .filter($"bid" % 2 === 1)
    val pairs = graft.Exec.seal(
      a.join(b, $"label" === $"blabel")
        .withColumn("cos6",
          floor(graft.functions.VectorFunctions.cosine($"ae", $"be") *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .select($"aid", $"bid", $"cos6"))
    bitextMargins(s, pairs)
  }

  /** The margin/mutual-best tail of bitext mining, shared by the three
    * candidate generators (label-blocked [[qBitextMine]], index-cell
    * [[qBitextMineIndexed]], dedup-then-mine [[qBitextPipeline]]):
    * k=3 neighborhood sums per side, the Artetxe–Schwenk ratio margin
    * in exact BIGINT micro-cosines, forward+backward rank-1 cut. Input
    * pairs relation: (aid, bid, cos6) — already blocked and sealed. */
  private def bitextMargins(s: SparkSession, pairs: DataFrame): DataFrame = {
    import s.implicits._
    val wa = Window.partitionBy($"aid").orderBy($"cos6".desc, $"bid")
    val fa = pairs.withColumn("rn", row_number().over(wa)).filter($"rn" <= 3)
      .groupBy($"aid").agg(sum($"cos6").as("s_a"), count(lit(1)).as("c_a"))
    val wb = Window.partitionBy($"bid").orderBy($"cos6".desc, $"aid")
    val fb = pairs.withColumn("rn", row_number().over(wb)).filter($"rn" <= 3)
      .groupBy($"bid").agg(sum($"cos6").as("s_b"), count(lit(1)).as("c_b"))
      .withColumnRenamed("bid", "fbid")
    val scored = pairs
      .join(fa, "aid")
      .join(fb, $"bid" === $"fbid")
      .withColumn("margin_raw",
        lit(2.0) * $"cos6" * $"c_a" * $"c_b" /
          ($"s_a" * $"c_b" + $"s_b" * $"c_a"))
    val fwd = Window.partitionBy($"aid").orderBy($"margin_raw".desc, $"bid")
    val bwd = Window.partitionBy($"bid").orderBy($"margin_raw".desc, $"aid")
    scored
      .withColumn("fwd", row_number().over(fwd))
      .withColumn("bwd", row_number().over(bwd))
      .filter($"fwd" === 1 && $"bwd" === 1 && $"margin_raw" > 1.0)
      .select($"aid", $"bid",
        ($"cos6".cast("double") / lit(1000000.0)).as("cos_sim"),
        graft.Det.round6($"margin_raw").as("margin"))
      .orderBy($"aid")
  }

  /** q_bitext_mine_indexed — the same margin-based mining with
    * candidates drawn from the STORED ANN INDEX's inverted lists
    * instead of the label blocks: an (even, odd) pair is a candidate
    * iff both sides share an IVF cell in the published index
    * ([[annIndex]] — train-once, content-keyed, C=⌈√N⌉). This is the
    * "at 100 TB candidate generation routes through the index family"
    * scaladoc made a DECLARED, ORACLED query (the same move
    * q_ann_search_indexed made for search): the candidate join is a
    * cell equi-join against KB-sized broadcast codebook assignments,
    * margin/mutual-best logic unchanged ([[bitextMargins]]). The
    * oracle replays the 1-round codebook and the cell-blocked pairs
    * from the raw embeddings. */
  private def qBitextMineIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.load(s, dir, "embeddings")
      .join(annIndex(s, dir).cells.select($"vec_id", $"cell"), Seq("vec_id"))
    val a = n.select($"vec_id".as("aid"), $"cell", $"embedding".as("ae"))
      .filter($"aid" % 2 === 0)
    val b = n.select($"vec_id".as("bid"), $"cell".as("bcell"),
        $"embedding".as("be"))
      .filter($"bid" % 2 === 1)
    val pairs = graft.Exec.seal(
      a.join(b, $"cell" === $"bcell")
        .withColumn("cos6",
          floor(graft.functions.VectorFunctions.cosine($"ae", $"be") *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .select($"aid", $"bid", $"cos6"))
    bitextMargins(s, pairs)
  }

  /** q_bitext_pipeline — DEDUP-BEFORE-MINE, the composition CCMatrix
    * documents and the ScaleProbe row measured the absence of: under
    * exact-duplicate replication the mutual-best cut collapses (every
    * duplicate ties for rank 1 on both sides and the forward/backward
    * winners disagree — mined pairs → 0 at k=4), so production mining
    * ALWAYS runs exact dedup upstream. Stage 1 is [[qDedupExact]]'s
    * discipline on the embedding payload (group by content, keep the
    * smallest vec_id — one exchange on the content key); stage 2 is
    * the label-blocked margin mine over the survivors, logic unchanged.
    * On a clean corpus the dedup is a no-op and this equals
    * [[qBitextMine]] (the spec pins that); on a replicated corpus it
    * restores the clean corpus's pairs — the ScaleProbe row now
    * measures the FIX, not just the failure. */
  private def qBitextPipeline(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = Tables.load(s, dir, "embeddings")
    val keep = raw.groupBy($"embedding").agg(min($"vec_id").as("vec_id"))
      .select($"vec_id")
    val n = raw.join(keep, Seq("vec_id"))
    val a = n.select($"vec_id".as("aid"), $"label", $"embedding".as("ae"))
      .filter($"aid" % 2 === 0)
    val b = n.select($"vec_id".as("bid"), $"label".as("blabel"),
        $"embedding".as("be"))
      .filter($"bid" % 2 === 1)
    val pairs = graft.Exec.seal(
      a.join(b, $"label" === $"blabel")
        .withColumn("cos6",
          floor(graft.functions.VectorFunctions.cosine($"ae", $"be") *
            lit(1000000.0) + lit(0.5)).cast("long"))
        .select($"aid", $"bid", $"cos6"))
    bitextMargins(s, pairs)
  }

  /** q_hard_negatives — hard-negative mining for contrastive training
    * (DPR, Karpukhin et al. 2020, arXiv:2004.04906; the step every
    * embedding-model pipeline runs after random in-batch negatives stop
    * teaching): for each anchor, the top-5 most-similar candidates
    * whose LABEL DIFFERS — maximally confusable wrong answers, mined as
    * training negatives. Same physical posture as [[qSimilarityTopk]]:
    * the |Q|-row anchor set broadcasts (the corpus side is never
    * shuffled), the label-mismatch predicate rides the broadcast join,
    * and the top-5 cut plans as WindowGroupLimit (map-side rank
    * pruning before the per-anchor exchange). At 100 TB the candidate
    * side routes through the IVF/LSH index family instead — same
    * declared semantics, indexed candidate generation. */
  private def qHardNegatives(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cand = Tables.load(s, dir, "embeddings")
      .select($"vec_id".as("cid"), $"label".as("clabel"),
        $"embedding".as("ce"))
    val qs = Tables.load(s, dir, "embeddings").filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"label".as("qlabel"),
        $"embedding".as("qe"))
    val pairs = cand.join(broadcast(qs), $"clabel" =!= $"qlabel")
      .withColumn("sim",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ce")))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"qid", $"qlabel", $"rn", $"cid", $"clabel", $"sim")
      .orderBy($"qid", $"rn")
      .transform(graft.Exec.seal)
  }

  /** T3-scale q_ann_lsh — random-hyperplane LSH: 8 deterministic ±1
    * hyperplanes (signs from md5("j:i"), precomputed once — NOT per row),
    * bucket = 8 sign bits; neighbors are only sought inside the query's
    * bucket. The bucketing is the IVF-style inverted-list structure: at
    * 100 TB candidates shrink from |C| to |C|/2^8 per query, and the pair
    * join shuffles on the bucket key instead of broadcasting everything. */
  private val hyperplaneSigns: Seq[Seq[Double]] = {
    val mdAlg = java.security.MessageDigest.getInstance("MD5")
    def md5hex(s: String): String =
      mdAlg.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    (0 until 8).map(j => (1 to 64).map { i =>
      val d = "0123456789abcdef".indexOf(md5hex(s"$j:$i").charAt(0))
      if (d % 2 == 1) 1.0 else -1.0
    })
  }

  /** LSH hash width (hyperplanes = sign bits = log2 buckets). 8 is the
    * declared default; [[tools.RecallProbe]] sweeps it — fewer bits =
    * coarser buckets = more scanned per query = higher recall, the
    * standard LSH recall/cost dial. */
  private[graft] val LshDefaultBits = 8

  private def bucketExpr(bits: Int = LshDefaultBits): Column = {
    val terms = hyperplaneSigns.take(bits).zipWithIndex.map { case (sv, j) =>
      when(dot(col("embedding"), typedlit(sv)) > 0, lit(1L << j))
        .otherwise(lit(0L))
    }
    terms.reduce(_ + _)
  }

  private def qAnnLsh(s: SparkSession, dir: String): DataFrame =
    lshRanked(s, dir, LshDefaultBits)

  private[graft] def lshRanked(s: SparkSession, dir: String,
                               bits: Int): DataFrame =
    lshRankedOn(s, Tables.load(s, dir, "embeddings"), bits)

  /** Same LSH search over ANY (vec_id, embedding) relation — the probe
    * surface that lets [[graft.tools.PlantedFixture]] corpora exercise
    * the PRODUCTION bucketer/search path (not a parallel one). */
  private[graft] def lshRankedOn(s: SparkSession, vin: DataFrame,
                                 bits: Int): DataFrame = {
    import s.implicits._
    val v = vin.withColumn("bucket", bucketExpr(bits))
    val cand = v.select($"vec_id".as("cid"), $"embedding".as("ce"),
      $"bucket".as("cb"))
    val qs = v.filter($"vec_id" % 100 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"bucket".as("qb"))
    val pairs = cand.join(qs, $"cb" === $"qb" && $"cid" =!= $"qid")
      .withColumn("sim",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ce")))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"qid", $"qb".as("bucket"), $"rn", $"cid", $"sim")
      .orderBy($"qid", $"rn")
  }

  /** T3-scale q_ann_ivf — IVF (inverted-file) ANN, the other classic scale
    * path next to LSH ([[qAnnLsh]]): vectors are assigned to the nearest
    * of C coarse centroids (the "inverted lists"); a query probes only its
    * nprobe nearest cells and brute-forces inside them, cutting per-query
    * work from |C_all| to ~nprobe·N/C. Knobs default to the engine's own
    * probe evidence (C=⌈√N⌉, nprobe=C/2 — [[ivfDefaultC]]); the oracle
    * derives the identical values from count(*). The codebook is TRAINED: two fixed
    * Lloyd iterations of deterministic k-means over the corpus (seeds = the
    * C vectors smallest in md5(vec_id) order — an engine-agnostic
    * pseudo-random draw; the DuckDB oracle replays the identical
    * iterations as unrolled CTEs). The vector table is persisted across
    * the training + search passes — the standard iterative-ML posture
    * (one parquet scan feeds every Lloyd round) — and the small ranked
    * result is eagerly checkpointed so the cache is dropped before return.
    *
    * Scale shape: the codebook is trained ON THE DRIVER
    * ([[kmeansCodebook]]) — MLlib's posture for iterative ML: the model
    * lives on the driver and each Lloyd round is ONE job over the corpus
    * (a per-row nearest-centroid map folded into per-cell mean buffers,
    * merged by cell) whose C means are collected. The codebook is
    * C·d·8 bytes ([[Codebook]]: 23 KB on the sf0.1 fixture, ~300 MB at
    * √N cells over 100 TB) and reaches every task as ONE broadcast
    * behind a short handle expression — no BroadcastExchange job, no
    * nested-loop join, never a literal, never a nested plan re-derived
    * under each consumer. Assignment is the per-row nearest-centroid
    * expression in the map-side projection ([[nearestCells]]), and each
    * query row ranks its nprobe cells the same way ([[probeCells]]) —
    * no N×C or |Q|·C rows, no window. Candidate rows keep their vector
    * and probe rows carry the query's, so the search never joins back
    * to the vector relation; its one join is keyed on the cell and the
    * probe rows (N^1.5 at C = √N) are not forced to broadcast
    * ([[ivfRanked]]). N is the memoized table count, so a warm run
    * spends no job on it: 9 jobs in all at sf0.1 on local[4].
    * [[tools.ScaleProbe]] runs the C≈√N regime via [[ivfProbedPairs]]. */
  private def qAnnIvf(s: SparkSession, dir: String): DataFrame = {
    val n = ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Lifecycle (shared by every ANN builder here): the first action
      // over n — here the seed collect, since N is the memoized table
      // count — materializes the cache, EVERY heavy pass — Lloyd rounds,
      // assignment, candidate joins — executes inside this try at the
      // eager Exec.seal, and only THEN does the finally unpersist run;
      // the returned frame is an already-materialized LogicalRDD, so
      // the caller's action replays nothing. AnnCacheLifecycleSpec
      // counts executed embeddings scans end-to-end (<= 2) to pin this.
      val c = ivfDefaultC(Tables.rowCount(s, dir, "embeddings"))
      ivfRanked(s, n, c, iters = 2, nprobe = ivfDefaultNprobe(c))
        .transform(graft.Exec.seal)
    } finally n.unpersist(false)
  }

  /** q_diverse_sample — semantic diversification: train the same
    * deterministic k-means codebook the IVF index uses, assign every
    * vector to its cell, and keep ONE representative per cell (the
    * vector closest to its centroid) plus the cell population — the
    * cluster-then-pick-centers recipe for building a topically diverse
    * training subset (coverage per semantic region instead of i.i.d.
    * sampling, which oversamples dense regions).
    *
    * Scale: training and assignment are the [[kmeansCodebook]] /
    * [[assignCells]] machinery (driver-held codebook read through its
    * broadcast handle, per-row nearest-centroid expression — N·C work,
    * no window over N); the
    * per-cell representative is then a C-group max(struct) argmax —
    * round6'd similarity first, smallest-vec_id ties, so the pick can
    * never flip on an ulp. */
  private def qDiverseSample(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val asg = assignCellsSim(n, kmeansCodebook(n, 8, 2))
      asg.groupBy($"cell")
        .agg(count(lit(1)).as("cell_size"),
          max(struct($"csim".as("cs"), (-$"vec_id").as("nv"))).as("r"))
        .select($"cell", $"cell_size",
          (-$"r.nv").as("rep_id"), $"r.cs".as("rep_sim"))
        .orderBy($"cell")
        .transform(graft.Exec.seal)
    } finally n.unpersist(false)
  }

  /** The narrow vector relation (vec_id, e: ARRAY<DOUBLE>) every IVF
    * stage reads — cache this, not the parquet. float→double is exact in
    * both engines, and every cosine is three left-to-right double folds
    * (the native codegen'd [[graft.functions.CosineSimilarity]], proven
    * bit-equal to `aggregate(zip_with)` and DuckDB `list_dot_product`). */
  private[graft] def ivfVectors(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
  }

  /** A trained codebook held on the DRIVER: `(keys…, cid, ce)` rows
    * sorted by (keys…, cid) — no key for an IVF codebook, `m` for the
    * keyed PQ subspace codebooks. It is C·d·8 bytes: KBs for PQ (a
    * fixed K ≤ 64 cells per subspace) and on the fixtures, but ~300 MB
    * for an IVF codebook of C = √N cells at 100 TB (N ≈ 4·10¹¹ vectors,
    * d = 64). Tasks read it through ONE broadcast, made on first use and
    * carried by a short [[graft.functions.CodebookHandle]] expression
    * ([[handle]]): no consumer plan holds the training subtree or the
    * rows, none pays a BroadcastExchange job or a nested-loop join to
    * reach them, and the codebook is never a literal, which would ship
    * with every task. [[frame]] is the C-row relation an index part is
    * written from. */
  private[graft] final case class Codebook(schema: StructType, rows: Seq[Row]) {
    /** Every column but the trailing (cid, ce): none or one. */
    def keys: Seq[String] = schema.fieldNames.toSeq.dropRight(2)
    require(keys.size <= 1, s"a codebook has at most one key, got $keys")

    /** The C-row relation (keys…, cid, ce). */
    def frame(s: SparkSession): DataFrame = s.createDataFrame(rows.asJava, schema)

    private lazy val entry = StructType(Seq(
      StructField("cid", LongType, nullable = false), schema.fields(keys.size + 1)))

    private lazy val book = SparkSession.active.sparkContext.broadcast(
      CodebookHandle.books(rows.map { r =>
        (if (keys.isEmpty) 0L else r.getAs[Number](0).longValue,
          r.getLong(keys.size), r.get(keys.size + 1))
      }, entry))

    /** The codebook as a column, `ARRAY<STRUCT<cid, ce>>`: for a keyed
      * codebook, the entries of the row's own key. Only valid over
      * [[covered]] rows. */
    def handle: Column = ExpressionColumn(CodebookHandle(book, rows.size, entry,
      keys.headOption.map(UnresolvedAttribute.quoted)))

    /** The rows of `n` the codebook covers — the rows an inner join with
      * its C-row relation keeps: all of them, none for an empty
      * codebook, and for a keyed one the rows whose key has entries. */
    def covered(n: DataFrame): DataFrame =
      if (keys.isEmpty) { if (rows.isEmpty) n.limit(0) else n }
      else n.filter(col(keys.head).isin(rows.map(_.get(0)).distinct: _*))
  }

  private[graft] object Codebook {
    /** Collect a small (keys…, cid, ce) relation — a stored index part —
      * into a driver codebook. The collect order is irrelevant: rows are
      * re-sorted, and `graft_nearest` breaks similarity ties by cid
      * whatever the entry order. */
    def of(df: DataFrame): Codebook = sorted(df.schema, df.collect().toSeq)

    /** A codebook of `rows` in (keys…, cid) order. */
    def sorted(schema: StructType, rows: Seq[Row]): Codebook = {
      def key(r: Row): Seq[Long] =
        (0 until r.length - 1).map(i => r.getAs[Number](i).longValue)
      Codebook(schema, rows.sortBy(key)(Ordering.Implicits.seqOrdering))
    }
  }

  /** Nearest-centroid assignment: (vec_id, cell). */
  private[graft] def assignCells(n: DataFrame, cb: Codebook): DataFrame = {
    val s = n.sparkSession; import s.implicits._
    assignCellsSim(n, cb).select($"vec_id", $"cell")
  }

  /** [[assignCells]] WITH the winning similarity — the drift statistic
    * ([[annIndexDrift]]) needs the assignment quality, not just the
    * assignment. A pure map over n (see [[nearestCells]]): no N×C rows,
    * no exchange. */
  private[graft] def assignCellsSim(n: DataFrame, cb: Codebook): DataFrame = {
    val s = n.sparkSession; import s.implicits._
    nearestCells(n, cb)
      .select($"vec_id", $"nn.cell".as("cell"), $"nn.csim".as("csim"))
  }

  /** Every covered row of `n` (columns `e` plus the codebook's keys) with
    * `nn` = `graft_nearest(e, codebook)` = struct(cell, csim), the
    * codebook read through its broadcast [[Codebook.handle]]. The argmax
    * — round6'd cosine first, smallest cid on a tie, so it can never
    * flip on an ulp — runs per row inside the map-side projection
    * ([[graft.functions.NearestCentroid]]): no N×C rows, no join, no
    * exchange. `nn.cell` is non-null, so a join on it infers no filter
    * that would run the argmax twice. */
  private def nearestCells(n: DataFrame, cb: Codebook): DataFrame =
    cb.covered(n).withColumn("nn",
      graft.functions.VectorFunctions.nearest(col("e"), cb.handle))

  /** The map side of a Lloyd round, (keys…, cell, e): every covered
    * vector with its nearest cell, keys widened to BIGINT. */
  private[graft] def lloydInput(n: DataFrame, cb: Codebook): DataFrame =
    nearestCells(n, cb).select(
      cb.keys.map(k => col(k).cast(LongType)) :+ col("nn.cell") :+ col("e"): _*)

  /** One Lloyd round as ONE job: the codegen'd [[lloydInput]] projection
    * feeds each task's per-(key, cell) buffers of
    * [[graft.functions.QMeanVec]] (its own update, merge and eval, so
    * the exact 1e-4 BIGINT sums are the aggregate's code, and an
    * overflow throws as it does), `reduceByKey(merge)` finishes each mean
    * on the executors, and only the ≤ C·keys means are collected — the
    * next codebook (keys…, cid, ce); cells that empty out drop. Two
    * stages, MLlib KMeans' shape: it scales with C, and it keeps no
    * accumulator, so a retried task cannot double-count. */
  private[graft] def lloydRound(n: DataFrame, cb: Codebook): Codebook = {
    val k = cb.keys.size
    val in = lloydInput(n, cb)
    val mean = graft.functions.QMeanVec(BoundReference(
      k + 1, in.schema.last.dataType, nullable = true))
    // a SQL execution, so query listeners and the UI see the round's scan
    val sums = SQLExecution.withNewExecutionId(in.queryExecution, Some("lloydRound")) {
      in.queryExecution.toRdd.mapPartitions { rows =>
        val acc = scala.collection.mutable.HashMap.empty[(Long, Long), Array[Long]]
        rows.foreach { r =>
          val g = (if (k == 0) 0L else r.getLong(0), r.getLong(k))
          acc(g) = mean.update(acc.getOrElse(g, mean.createAggregationBuffer()), r)
        }
        acc.iterator
      }.reduceByKey(mean.merge _).collect()
    }
    val keyFields = cb.keys.map(n.schema(_))
    val schema = StructType(keyFields ++ Seq(
      StructField("cid", LongType), StructField("ce", mean.dataType)))
    def keyValue(v: Long): Any =
      if (keyFields.head.dataType == IntegerType) v.toInt else v
    Codebook.sorted(schema, sums.toSeq.flatMap { case ((key, cid), buf) =>
      Option(mean.eval(buf)).map { ce =>
        val v = ce.asInstanceOf[GenericArrayData].array.toIndexedSeq
        Row.fromSeq((if (k == 0) Nil else Seq(keyValue(key))) :+ cid :+ v)
      }
    })
  }

  /** The query rows' (vec_id % 100 = 0) `nprobe` nearest cells with the
    * query vector, (qid, cell, qe): round6'd similarity first, smallest
    * cid on a tie. Each query row ranks the broadcast codebook itself
    * (`graft_nearest_k`) and explodes its nprobe cells — no |Q|·C
    * relation, exchange or window. */
  private def probeCells(n: DataFrame, cb: Codebook, nprobe: Int): DataFrame =
    cb.covered(n.filter(col("vec_id") % 100 === 0))
      .select(col("vec_id").as("qid"), col("e").as("qe"),
        explode(graft.functions.VectorFunctions.nearestK(col("e"), cb.handle, nprobe))
          .as("p"))
      .select(col("qid"), col("p.cell").as("cell"), col("qe"))

  /** Deterministic Lloyd k-means codebook, trained on the driver: C seeds
    * in md5(vec_id) order (one bounded top-C collect, numbered 1..C),
    * then `iters` fixed assign→mean rounds (no convergence test — a
    * fixed iteration count is what the oracle can replay). Each round is
    * ONE job over `n` ([[lloydRound]]: the nearest centroid per row
    * against the broadcast codebook handle, exact per-cell mean buffers
    * folded in the tasks and merged by cell) whose ≤C means are
    * collected as the next codebook. That is MLlib's posture for
    * iterative ML: the model — here C·d·8 bytes ([[Codebook]]) — lives
    * on the driver and each iteration is a job over the data, so no
    * consumer re-plans a nested chain of rounds. Per-dimension means are
    * EXACT: each component is half-up-quantized to 1e-4 with pure IEEE
    * ops (floor(x·1e4+0.5), identical bits in both engines), summed as
    * BIGINT (order-independent; overflows only past ~10¹³ rows per
    * cell), and finished with one correctly-rounded double division —
    * so the trained centroids are bit-identical under any aggregation
    * order, partitioning or collect order. Cells that empty out drop
    * from the codebook (same rule both engines). The mean buffer is ONE
    * Long[] per (key, cell), whatever d is (not the round-16
    * static-column negative of OPTIMIZATION_r16.md: d `sum` columns in
    * one codegen'd aggregate, slower at d=64). */
  private[graft] def kmeansCodebook(n: DataFrame, c: Int, iters: Int): Codebook = {
    val s = n.sparkSession; import s.implicits._
    val seeds = n.select($"vec_id", $"e")
      .orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(c).collect()
    val cb = Codebook(
      StructType(Seq(StructField("cid", LongType, nullable = false),
        StructField("ce", n.schema("e").dataType))),
      seeds.toSeq.zipWithIndex.map { case (r, i) => Row(i + 1L, r.get(1)) })
    (1 to iters).foldLeft(cb)((cent, _) => lloydRound(n, cent))
  }

  /** RecallProbe-backed IVF DEFAULTS (PLANS.md round-11 sweep, re-pinned
    * round 12 per the verdict): C = ⌈√N⌉ — finer cells waste less work
    * per probe, and √N balances the N·C assignment cost against the
    * N/C per-probe scan (the classic IVF sizing rule) — and
    * nprobe = max(1, C/2). On the structureless fixture that reads
    * recall@5 ≈ 0.85 at ~50% scanned where the old C=8/nprobe=2
    * literals read 0.46 at ~25% and 0.73 at the SAME 50%
    * (tools.RecallProbe table): at equal scanned fraction the √N
    * regime strictly dominates. Both are knobs — a clustered corpus
    * reads the recall gates and turns nprobe DOWN; the default is just
    * the point the engine's own probe evidence picks. The oracles
    * compute the identical parameters from count(*) in SQL. */
  private[graft] def ivfDefaultC(n: Long): Int =
    math.max(1, math.ceil(math.sqrt(n.toDouble)).toInt)
  private[graft] def ivfDefaultNprobe(c: Int): Int = math.max(1, c / 2)

  /** The same two parameters as one DuckDB CTE (over a CTE `n` holding
    * one row per vector): `(SELECT c FROM prm)` / `(SELECT np FROM prm)`. */
  private val DUCK_IVF_PRM =
    """prm AS (
         SELECT CAST(ceil(sqrt(count(*))) AS BIGINT) c,
                greatest(1, CAST(ceil(sqrt(count(*))) AS BIGINT) // 2) np
         FROM n)"""

  /** Trained-codebook IVF search over a caller-managed (cached) vector
    * relation: top-5 per query (vec_id % 100 = 0) probing nprobe cells.
    * Trains the driver codebook, then returns the search frame: every
    * candidate row keeps its vector as `ke` and every probe row carries
    * its query's as `qe`, so the cell-keyed candidate join needs no join
    * back to `n` for either vector. Both sides read the codebook through
    * its broadcast handle — the candidates' nearest cell, the probes'
    * nprobe best cells ([[probeCells]]) — so the plan joins no codebook
    * relation and has one equi-join, on the cell. That join carries no
    * broadcast hint: the probe rows number |Q|·nprobe, and with
    * |Q| = N/100 and nprobe = √N/2 that is ~N^1.5/200 rows of d doubles
    * (~2.6 GB at N = 10⁶) — so Spark picks the strategy from the two
    * sides' sizes; on the fixtures it plans statically as a broadcast
    * hash join with the probe rows as the build side, and the candidate
    * vectors are not shuffled. */
  private[graft] def ivfRanked(s: SparkSession, n: DataFrame,
                               c: Int, iters: Int, nprobe: Int): DataFrame = {
    import s.implicits._
    val cb = kmeansCodebook(n, c, iters)
    val pairs = nearestCells(n, cb)
      .select($"vec_id".as("cand_id"), $"nn.cell".as("cell"), $"e".as("ke"))
      .join(probeCells(n, cb, nprobe), Seq("cell"))
      .filter($"cand_id" =!= $"qid")
      .withColumn("sim",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ke")))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cand_id")
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"qid", $"rn", $"cand_id".as("cid"), $"cell", $"sim")
      .orderBy($"qid", $"rn")
  }

  /** Probed-pair count for the C≈√N regime ([[tools.ScaleProbe]]): the
    * work an IVF query actually does is Σ|probed cells| — this returns
    * that total next to the brute-force |Q|·(N−1) it replaces. */
  def ivfProbedPairs(s: SparkSession, dir: String, c: Int,
                     nprobe: Int = 2): (Long, Long) = {
    import s.implicits._
    val n = ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = n.count()
      val nQ = n.filter($"vec_id" % 100 === 0).count()
      val cb = kmeansCodebook(n, c, iters = 2)
      val cellSizes = assignCells(n, cb)
        .groupBy($"cell").agg(count(lit(1)).as("sz"))
      val probed = probeCells(n, cb, nprobe)
        .join(cellSizes, Seq("cell"))
        .agg(coalesce(sum($"sz"), lit(0L)))
        .head().getLong(0)
      (probed, nQ * (total - 1))
    } finally n.unpersist(true)
  }

  /** Within-cell pair count for [[qSemDedup]]'s C lever
    * ([[tools.ScaleProbe]]): the dedup pair join does Σ_cell C(sz, 2)
    * work — this returns that total at a given codebook size next to
    * the all-pairs C(N, 2) it replaces, so the "C ≈ N/1000 bounds the
    * blowup" claim is measured, not asserted. */
  def semdedupPairWork(s: SparkSession, dir: String, c: Int): (Long, Long) = {
    import s.implicits._
    val n = ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = n.count()
      val cb = kmeansCodebook(n, c, iters = 2)
      val pairs = assignCells(n, cb)
        .groupBy($"cell").agg(count(lit(1)).as("sz"))
        .agg(coalesce(sum(expr("(sz * (sz - 1)) div 2")), lit(0L)))
        .head().getLong(0)
      (pairs, total * (total - 1) / 2)
    } finally n.unpersist(true)
  }

  /** T3-scale q_ann_pq — product-quantization ANN (ADC variant): the
    * 64-dim vectors are split into M=4 subspaces of 16 dims; each
    * subspace trains its own K=8 codebook (one Lloyd round of the same
    * deterministic [[kmeansCodebook]] the IVF path uses — md5-ordered
    * seeds, exact quantized means, so the DuckDB oracle replays it
    * bit-for-bit per subspace), and every vector compresses to M small
    * codes. A query scores candidates WITHOUT touching their vectors:
    * per-subspace query↔centroid similarities form a Q×K×M lookup table
    * (KBs — broadcast), and a candidate's score is the sum of its M
    * looked-up entries. That's the PQ promise at 100 TB: the corpus is
    * scanned as CODES (M bytes/vector instead of 4·D), the float math is
    * Q×K×M once, and the per-candidate work is M integer lookups.
    *
    * Determinism: each per-subspace similarity is quantized to a BIGINT
    * (floor(sim·1e6 + 0.5)) BEFORE the sum, so the M-term addition is
    * exact integer math — independent of join/aggregation order — and
    * the final score divides once by 1e6. Ranking ties break on cand id.
    * PRODUCTION STEER: the pure-ADC ranking this query certifies is
    * the compression path, not the quality path — on hard
    * (near-random) fixtures standalone ADC recall at the pinned
    * codebooks is low (the measured rows live in `q_ann_recall`).
    * Reach for `q_ann_rerank` ([[ivfPqRerankRanked]]: ADC top-r +
    * exact re-rank, measured recall 1.00 at r=[[RerankR]]) as the
    * production entry; it costs one extra join by id over r·|Q| raw
    * vectors. */
  /** All PQ subspaces as ONE keyed relation (vec_id, m, e): the M
    * trainings run as one DataFrame pipeline with m as an extra group/
    * window key — one job tree instead of M independent ones, and the
    * stage count no longer grows with M. Per-m arithmetic is identical
    * to the unkeyed [[kmeansCodebook]], so the oracle replays unchanged. */
  private[graft] def pqSubspaces(n: DataFrame,
                                 mCount: Int = PqDefaultM): DataFrame = {
    val s = n.sparkSession; import s.implicits._
    require(PqDims % mCount == 0, s"M=$mCount must divide $PqDims dims")
    val sub = PqDims / mCount
    n.select($"vec_id", posexplode(array((0 until mCount).map(m =>
      slice($"e", m * sub + 1, sub)): _*)).as(Seq("m", "e")))
  }

  /** Per-subspace nearest-centroid assignment over a keyed subspace
    * relation: (m, vec_id, cell) — [[assignCells]] with m as an extra
    * key (one codebook row per subspace). */
  private[graft] def pqAssign(nm: DataFrame, cb: Codebook): DataFrame = {
    val s = nm.sparkSession; import s.implicits._
    nearestCells(nm, cb).select($"m", $"vec_id", $"nn.cell".as("cell"))
  }

  /** The embedding dimensionality the PQ splitter assumes (the
    * fixture's `embeddings.embedding` width). */
  private[graft] val PqDims = 64

  /** PQ geometry defaults, BOTH probe-backed (round 16 — the (M, K)
    * grid in [[tools.RecallProbe]], measured on the planted-cluster
    * fixture where neighborhood structure is real):
    *   - `PqDefaultM`: number of subspaces (each [[PqDims]]/M dims
    *     wide) — the byte budget per compressed vector;
    *   - `PqDefaultK`: codes per subspace codebook (log2 = the PQ
    *     "bits" knob).
    * The round-12 K-only sweep at M=4 showed K barely moves recall
    * (3→6 bits: 0.03→0.12 on the near-random fixture) because 16-dim
    * subspaces under 1 Lloyd round are the binding distortion; the
    * round-16 grid swept M too. Measured recall@5 (sf0.1 corpus /
    * planted fixture): (4,8)=0.04/0.02 (the old default),
    * (8,64)=0.27/0.25, (16,16)=0.28/0.02, (16,64)=0.37/0.25 — the
    * winner on BOTH fixtures is (M=16, K=64): 16 subspaces of 4 dims,
    * 6-bit codebooks, 16 byte-codes per vector (16–32× compression vs
    * the raw embedding), recall 3× the old default on the declared
    * gate's corpus. (8,64) is the compression-lean runner-up (half the
    * code bytes, −0.10 recall on the sf corpus); the full grid is in
    * PLANS.md round 16. */
  private[graft] val PqDefaultM = 16
  private[graft] val PqDefaultK = 64

  /** One-Lloyd-round PQ codebook (m, cid, ce) over a keyed subspace
    * relation, trained on the driver — md5-ordered seeds per subspace,
    * exact quantized means (the [[kmeansCodebook]] arithmetic with m as
    * an extra group key). */
  private[graft] def pqTrain(nmAll: DataFrame, k: Int = PqDefaultK): Codebook = {
    val s = nmAll.sparkSession; import s.implicits._
    // Seed selection orders by md5(vec_id) — INDEPENDENT of m — so the
    // per-m top-k rows are the same k vec_ids in the same order for
    // every subspace. Collect that k-id list once from one subspace's
    // rows (TakeOrdered, no full shuffle), number it on the driver, and
    // broadcast-join it back to gather every subspace's seed slices.
    val ids = nmAll.filter($"m" === 0).select($"vec_id")
      .orderBy(md5($"vec_id".cast("string")), $"vec_id").limit(k)
      .collect().map(_.getLong(0))
    val seedIds = ids.toSeq.zipWithIndex.map { case (v, i) => (v, i + 1L) }
      .toDF("vec_id", "cid")
    val seeds = Codebook.of(nmAll.join(broadcast(seedIds), Seq("vec_id"))
      .select($"m", $"cid", $"e".as("ce")))
    // the [[kmeansCodebook]] Lloyd round with m as an extra key
    lloydRound(nmAll, seeds)
  }

  /** Query ADC lookup table (qid, m, code, lq) from a trained PQ
    * codebook: lq is the BIGINT-quantized query↔centroid cosine, so
    * downstream ADC sums are exact integer math. Each query subspace row
    * explodes its own key's entries from the broadcast handle. */
  private def pqLookups(qm: DataFrame, cb: Codebook): DataFrame = {
    val s = qm.sparkSession; import s.implicits._
    cb.covered(qm)
      .select($"vec_id".as("qid"), $"m", $"e", explode(cb.handle).as("c"))
      .select($"qid", $"m", $"c.cid".as("code"),
        floor(graft.functions.VectorFunctions.cosine($"e", $"c.ce")
          * 1000000.0 + 0.5).cast("long").as("lq"))
  }

  /** The subspace count a TRAINED codebook was built with — a stored
    * index is self-describing, so append/search against it must slice
    * the vectors the way the artifact does, not the way the current
    * session default would. */
  private def pqMOf(cb: Codebook): Int =
    cb.rows.map(_.getAs[Number](0).intValue).max + 1

  /** The IVF-PQ index as one value — the production ANN composition at
    * 100 TB: an IVF coarse quantizer restricts each query to its nprobe
    * inverted lists `cells` (vec_id, cell, …), and PQ/ADC (the
    * [[qAnnPq]] subspace codebooks, no-residual variant) scores ONLY
    * those candidates from their `codes` (vec_id, m, code) — ~nprobe·N/C
    * integer lookups per query instead of N·M float ops, and no raw
    * vector read after encoding. A query builds it in memory
    * ([[IvfPq.train]], then [[IvfPq.encode]]: q_ann_ivfpq,
    * q_ann_rerank, the recall probes); the stored index writes the same
    * two steps' output and opens it again ([[annIndexOpen]]:
    * q_ann_search_indexed); both search through the one [[estimates]]. */
  private[graft] final case class IvfPq(coarse: Codebook, pq: Codebook,
                                        cells: DataFrame, codes: DataFrame) {
    /** The ADC estimates (qid, vec_id, sl) of the query rows of `q`
      * (vec_id % 100 = 0) over the candidates in their `nprobe` nearest
      * cells; sl is the exact integer sum of the candidate's M
      * looked-up entries. The probed pairs join the codes BEFORE the
      * lookup table: codes ⨝ lookups first would manufacture |Q|·N·M
      * rows and then throw most away against the pairs; pairs ⨝ codes
      * first keeps the relation at |pairs|·M rows, so the scoring only
      * touches probed candidates (inner joins commute, result
      * identical). The |Q|·K·M-row lookup table broadcasts. */
    def estimates(q: DataFrame, nprobe: Int): DataFrame = {
      val s = q.sparkSession; import s.implicits._
      val pairs = cells.join(probeCells(q, coarse, nprobe), Seq("cell"))
        .filter($"vec_id" =!= $"qid")
        .select($"qid", $"vec_id")
      val lookups = pqLookups(
        pqSubspaces(q.filter($"vec_id" % 100 === 0), pqMOf(pq)), pq)
      pairs.join(codes, Seq("vec_id"))
        .join(broadcast(lookups), Seq("qid", "m", "code"))
        .groupBy($"qid", $"vec_id")
        .agg(sum($"lq").as("sl"))
    }
  }

  /** Training and encoding of an [[IvfPq]] index. Both fanOut the PQ
    * subspace relation (guide §2.5 input skew: the fixture's
    * single-row-group scan plans one partition, so the N·M·K-cosine
    * train/assign stages would run on one core; identity once the scan
    * has ≥cores partitions); the |Q|-sized lookups of
    * [[IvfPq.estimates]] stay on the natural partitioning. Round-robin,
    * NOT keyed on (m, vec_id): the keyed form measured WORSE on
    * q_ann_pq/q_ann_ivfpq in ABBA TimeQ pairs (Exec's closing comment,
    * OPTIMIZATION_r17.md). */
  private[graft] object IvfPq {
    /** The (coarse, PQ) codebooks of `n`, trained on the driver with the
      * [[kmeansCodebook]] discipline (md5-ordered seeds, exact quantized
      * means — deterministic, so the DuckDB oracle replays them and a
      * retrain equals the stored index): `c` coarse cells after one
      * Lloyd round, and `k` codes in each of `m` subspaces
      * ([[pqTrain]]). */
    def train(n: DataFrame, c: Int, k: Int, m: Int): (Codebook, Codebook) =
      (kmeansCodebook(n, c, iters = 1),
        pqTrain(graft.Exec.fanOut(pqSubspaces(n, m)), k))

    /** The index of `vectors` (vec_id, e) under `books`: each vector's
      * nearest coarse cell with its similarity (vec_id, cell, csim —
      * the drift statistic reads csim) and its nearest code in each
      * subspace (vec_id, m, code), sliced as the PQ codebook was
      * ([[pqMOf]]). Pure maps against the broadcast codebooks — an
      * append encodes its delta against the frozen ones. */
    def encode(vectors: DataFrame, books: (Codebook, Codebook)): IvfPq = {
      val s = vectors.sparkSession; import s.implicits._
      val (coarse, pq) = books
      IvfPq(coarse, pq, assignCellsSim(vectors, coarse),
        pqAssign(graft.Exec.fanOut(pqSubspaces(vectors, pqMOf(pq))), pq)
          .select($"vec_id", $"m", $"cell".as("code")))
    }
  }

  /** ADC scoring tail shared by the PQ queries: integer lookup sums →
    * top-5 per query, eagerly checkpointed. */
  private def adcRank(est: DataFrame): DataFrame = {
    val s = est.sparkSession; import s.implicits._
    val w = Window.partitionBy($"qid").orderBy($"sl".desc, $"vec_id")
    est
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"qid", $"rn", $"vec_id".as("cid"),
        ($"sl".cast("double") / 1000000.0).as("score"))
      .orderBy($"qid", $"rn")
      .transform(graft.Exec.seal)
  }

  private def qAnnPq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nmAll = pqSubspaces(ivfVectors(s, dir))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // the [[IvfPq]] fanOut: the training consumers only
      val nmF = graft.Exec.fanOut(nmAll)
      val cb = pqTrain(nmF)
      val lookups = pqLookups(nmAll.filter($"vec_id" % 100 === 0), cb)
      adcRank(pqAssign(nmF, cb).select($"vec_id", $"m", $"cell".as("code"))
        .join(broadcast(lookups), Seq("m", "code"))
        .filter($"vec_id" =!= $"qid")
        .groupBy($"qid", $"vec_id")
        .agg(sum($"lq").as("sl")))
    } finally nmAll.unpersist(false)
  }

  /** T3d q_ann_ivfpq — the [[IvfPq]] composition trained inside the
    * declared query, at the pinned defaults (C=⌈√N⌉ with N the memoized
    * row count, nprobe=C/2, K=[[PqDefaultK]] codes per subspace).
    * Candidate membership joins on the cell key (equi-join, no
    * broadcast of anything corpus-sized); both codebooks broadcast.
    * The oracle replays coarse + the subspace codebooks and the
    * cell-filtered integer ADC sum. PRODUCTION STEER: same as
    * [[qAnnPq]] — for neighbor QUALITY use `q_ann_rerank`, which runs
    * this exact pipeline and then exact-re-ranks the ADC top-r. */
  private def qAnnIvfPq(s: SparkSession, dir: String): DataFrame = {
    val n = ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cC = ivfDefaultC(Tables.rowCount(s, dir, "embeddings"))
      ivfPqRanked(s, n, cC, ivfDefaultNprobe(cC), PqDefaultK)
    } finally n.unpersist(false)
  }

  /** The IVF-PQ composition over a caller-persisted vector relation,
    * all three knobs exposed (coarse cells, probes, PQ codebook size) —
    * the declared query pins the defaults; [[tools.RecallProbe]] sweeps
    * the PQ-bits knob through here. */
  private[graft] def ivfPqRanked(s: SparkSession, n: DataFrame,
                                 cC: Int, nprobe: Int, pqK: Int,
                                 pqM: Int = PqDefaultM): DataFrame =
    adcRank(IvfPq.encode(n, IvfPq.train(n, cC, pqK, pqM)).estimates(n, nprobe))

  /** ADC candidate width of the re-rank stage: the top-r ADC estimates
    * per query that get exact re-scoring. MEASURED, not folklore
    * (RecallFixtureSpec sweep on the planted corpus): r must exceed the
    * size of the densest true neighborhood, because inside it ADC
    * ordering is ~random — r=50 against ~80-member planted clusters
    * reads recall 0.605 (≈ the hypergeometric 50/80 of a random cut),
    * r=100 reads 1.000, and larger r buys nothing. 100 = 20× the final
    * k; raw-vector reads stay bounded by r·|Q| at any corpus size. */
  private[graft] val RerankR = 100

  /** IVF-PQ with EXACT RE-RANK — the production refinement stage the
    * round-13 verdict asked for: PQ's ADC ranking tops out at 0.19
    * planted-fixture recall because quantization distortion is the
    * FINAL answer; re-scoring the top-r ADC candidates against the raw
    * vectors recovers near-flat recall at a bounded extra read (the
    * candidates are already generated — the re-rank joins exactly
    * r·|Q| raw vectors by id, never re-scanning the corpus). Candidate
    * generation is unchanged ([[IvfPq.estimates]]: cell equi-joins,
    * broadcast codebooks, integer ADC); the tail is two id-equi-joins
    * against the vector relation plus one |Q|-partitioned rank window.
    * RecallFixtureSpec pins the lift: ≥0.9 on the planted corpus where
    * pure ADC at the same knobs reads ≈0.02. */
  private[graft] def ivfPqRerankRanked(s: SparkSession, n: DataFrame,
                                       cC: Int, nprobe: Int, pqK: Int,
                                       r: Int,
                                       pqM: Int = PqDefaultM): DataFrame = {
    import s.implicits._
    val est = IvfPq.encode(n, IvfPq.train(n, cC, pqK, pqM)).estimates(n, nprobe)
    val wAdc = Window.partitionBy($"qid").orderBy($"sl".desc, $"vec_id")
    val cand = est
      .withColumn("arn", row_number().over(wAdc))
      .filter($"arn" <= r)
      .select($"qid", $"vec_id".as("cid"))
    val scored = cand
      .join(n.select($"vec_id".as("qid"), $"e".as("qe")), Seq("qid"))
      .join(n.select($"vec_id".as("cid"), $"e".as("ke")), Seq("cid"))
      .withColumn("sim",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ke")))
    val w = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"qid", $"rn", $"cid", $"sim")
      .orderBy($"qid", $"rn")
      .transform(graft.Exec.seal)
  }

  /** T3f q_ann_rerank — the declared exact-re-rank query at the pinned
    * defaults (C=⌈√N⌉, nprobe=C/2, k=8 codes/subspace, r=[[RerankR]]):
    * ADC top-r per query → exact cosine over the raw vectors → top-5.
    * The oracle replays the identical training + ADC prefix as
    * q_ann_ivfpq and the identical re-rank tail. */
  private def qAnnRerank(s: SparkSession, dir: String): DataFrame = {
    val n = ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cC = ivfDefaultC(Tables.rowCount(s, dir, "embeddings"))
      ivfPqRerankRanked(s, n, cC, ivfDefaultNprobe(cC), PqDefaultK, RerankR)
    } finally n.unpersist(false)
  }

  /** Version of the IVF-PQ training code, part of the index key
    * ([[annIndexPath]]). Any training change that alters the stored
    * codebooks, cell assignments or PQ codes (seeding, Lloyd rounds,
    * quantization, geometry) MUST bump it: an index trained by the
    * old code is then rebuilt, never served to the new. */
  private[graft] val AnnTrainVersion = 1

  /** On-disk root of the trained IVF-PQ index artifact (test aid:
    * AnnIndexSpec checks the parts, the rebuild guard, and the key's
    * content-purity).
    *
    * The key is CONTENT-DERIVED — corpus path + memoized row count + a
    * footer-cheap file fingerprint (sorted name:length pairs of the
    * embeddings files, listed through the Hadoop FileSystem API so the
    * same derivation works on `hdfs:`/`s3a:` corpora) — with NO pid and
    * NO mtime. That is what lets a long-lived deployment (and a second
    * SparkSession, and a ScaleProbe iteration over a regenerated but
    * byte-stable corpus) reuse one trained index instead of silently
    * retraining per session, which the r9 layout-root key (pid + mtime)
    * forced. Staleness: any content change to a parquet file almost
    * surely changes its length (compressed format), and the driver
    * regenerates corpora into fresh DIRS (path is in the key); the
    * residual "same path, same lengths, different bytes" case is
    * accepted as the cost of a fingerprint that never reads data pages.
    * Concurrent-writer safety comes from the build's write-then-rename
    * publish ([[annIndex]]), not from key isolation. The training
    * version ([[AnnTrainVersion]]) is in the key too, so a build whose
    * training differs never reads another build's index. */
  private[graft] def annIndexPath(s: SparkSession, dir: String,
                                  version: Int = AnnTrainVersion): String = {
    graft.Artifacts.reapTmp
    val src = new org.apache.hadoop.fs.Path(s"$dir/embeddings.parquet")
    val fs = src.getFileSystem(s.sparkContext.hadoopConfiguration)
    val fp =
      try fs.listStatus(src).map(st => s"${st.getPath.getName}:${st.getLen}")
        .sorted.mkString(",")
      catch { case _: java.io.FileNotFoundException => "absent" }
    val cnt = Tables.rowCount(s, dir, "embeddings")
    // FULL md5 of the content string, not a 32-bit hashCode: in a
    // multi-corpus deployment a 32-bit key collides at birthday scale
    // (~2^16 corpora) and a collision silently serves one corpus's
    // trained index for another — wrong neighbors with no error. 128
    // bits makes that probability ignorable.
    // the trained knob defaults are part of the key: a default change
    // (coarse C, or the round-16 PQ geometry) must orphan indexes
    // trained under the old regime — the stored artifact stays
    // self-describing ([[pqMOf]]), but the DECLARED queries' oracle
    // replays the current constants, so serving an old-geometry index
    // to them would hash-mismatch
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest((s"$dir:$cnt:$fp:C${ivfDefaultC(cnt)}:M${PqDefaultM}K" +
        s"$PqDefaultK:V$version").getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    s"/tmp/graft_ann_index_$key"
  }

  /** Train-once IVF-PQ index artifact — the production ANN shape: the
    * [[IvfPq]] index of a corpus (its two codebooks, the inverted lists
    * and the PQ codes) is trained and encoded ONCE per corpus and
    * persisted as parquet under a content-keyed root
    * ([[annIndexPath]]), guarded through the Hadoop FileSystem API so
    * the reuse check works on cluster filesystems too; every later
    * search — in THIS session or any later one over the same corpus —
    * opens it ([[annIndexOpen]]) and never touches the training
    * pipeline. Training is fully deterministic ([[IvfPq.train]]), so
    * the stored artifact is bit-identical to an in-memory retrain and
    * the DuckDB oracle can replay it from the raw embeddings.
    *
    * Publish protocol ([[graft.Artifacts]], shared with the Layouts
    * tables): all parts are written under this process's private
    * GENERATION dir `<root>/gen-<pid>`, then the one-line pointer file
    * `_GRAFT_ARTIFACT` is swapped in by atomic-overwrite rename
    * (`FileContext` — one metadata op on local FS and HDFS; on S3A the
    * fallback replaces a single tiny pointer object rather than
    * copying a directory). Readers resolve the pointer, so they never
    * observe a half-written index; two concurrent builders resolve
    * benignly (the loser drops its generation, which is bit-identical
    * to the winner's by training determinism). Crash-orphaned
    * generations are reaped by [[graft.Artifacts.reap]] once their pid
    * dies — never a generation of the live chain. */
  private[graft] def annIndex(s: SparkSession, dir: String): IvfPq = {
    val root = annIndexPath(s, dir)
    annIndexBuild(s, root, ivfVectors(s, dir))
    annIndexOpen(s, root)
  }

  /** Train + publish one index generation over an arbitrary vector set
    * (vec_id, e) — the build half of [[annIndex]], factored out so the
    * append path and its spec can build base indexes over slices. */
  private[graft] def annIndexBuild(s: SparkSession, root: String,
                                   vectors: DataFrame): String =
    graft.Artifacts.buildOnce(s, root)(gen => buildBaseGen(s, gen, vectors))

  /** Train over `vectors` and write the index as ONE full BASE
    * generation (no `_PARENT`) under `gen` — the body shared by the
    * first build ([[annIndexBuild]] via buildOnce) and an auto-retrain
    * republish ([[annIndexMaintain]] via publish, where the absent
    * `_PARENT` is what collapses the chain). */
  private def buildBaseGen(s: SparkSession, gen: String,
                           vectors: DataFrame): Unit = {
    val n = vectors
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // probe-backed default C = ⌈√N⌉; N is in the index content key,
      // so the same corpus always trains the same codebook
      val books = IvfPq.train(n, ivfDefaultC(n.count()), PqDefaultK, PqDefaultM)
      writeGen(s, gen, IvfPq.encode(n, books), None)
    } finally n.unpersist(false)
  }

  /** Write `index` as the parts of generation `gen`: each codebook
    * (C·d·8 bytes) as one file, the cells (vec_id, cell), the codes, and
    * the `_DRIFT` sidecar — the cells' count and mean csim next to
    * `baseMean`, the base generation's mean (None: this generation is
    * the base, its own reference), copied along the chain like the
    * codebooks so each generation is self-describing. */
  private def writeGen(s: SparkSession, gen: String, index: IvfPq,
                       baseMean: Option[Double]): Unit = {
    import s.implicits._
    index.coarse.frame(s).coalesce(1).write.mode("overwrite").parquet(s"$gen/coarse")
    index.pq.frame(s).coalesce(1).write.mode("overwrite").parquet(s"$gen/pq")
    val asg = index.cells
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      asg.select($"vec_id", $"cell")
        .write.mode("overwrite").parquet(s"$gen/cells")
      // the MEASURED retrain trigger (round-15 verdict task 5): the
      // statistic is one avg over the csims the encoding computes anyway
      val r = asg.agg(count(lit(1)), avg($"csim")).head
      val p = new org.apache.hadoop.fs.Path(gen, "_DRIFT")
      val out = p.getFileSystem(s.sparkContext.hadoopConfiguration).create(p, true)
      try out.write((s"n=${r.getLong(0)}\nmean=${r.getDouble(1)}\n" +
        s"base_mean=${baseMean.getOrElse(r.getDouble(1))}\n").getBytes("UTF-8"))
      finally out.close()
    } finally asg.unpersist(false)
    index.codes.write.mode("overwrite").parquet(s"$gen/codes")
  }

  /** The cumulative-delta backstop: once the chain's appended rows
    * exceed this fraction of the base's, cell SIZES have skewed enough
    * to retrain even when the drift statistic is silent (a huge
    * in-distribution delta moves sizes, not means). */
  private[graft] val CumDeltaRetrainFraction = 0.20

  /** AUTO-RETRAIN (round 16, closing the round-15 "measures but never
    * acts" gap): the operator a production pipeline actually wants —
    * append the delta, evaluate the measured triggers, and when one
    * fires retrain over the FULL corpus and republish a fresh BASE
    * generation through the same atomic-pointer protocol, collapsing
    * the chain (no `_PARENT` on the new generation). `corpus` is
    * by-name: it is only evaluated — and only scanned — when a
    * trigger actually fires, so the steady-state cost stays the
    * O(k·C) append. Returns (live generation, retrained?). Readers
    * mid-flight keep streaming the superseded chain's files (they
    * stay on disk until reaped); training determinism makes the
    * republished index bit-identical to a from-scratch build over the
    * same corpus, which is what AnnMaintainSpec pins. */
  private[graft] def annIndexMaintain(s: SparkSession, root: String,
                                      delta: DataFrame,
                                      corpus: => DataFrame)
      : (String, Boolean) = {
    annIndexAppend(s, root, delta)
    val table = annIndexDrift(s, root)
    val fire = table.exists(_.retrain) ||
      table.headOption.exists(_.cumDeltaFraction > CumDeltaRetrainFraction)
    if (!fire) (graft.Artifacts.ready(s, root).get, false)
    else
      (graft.Artifacts.publish(s, root)(g => buildBaseGen(s, g, corpus)),
        true)
  }

  /** Incremental index maintenance: encode a DELTA of new vectors
    * (vec_id, e) under the live generation's FROZEN codebooks
    * ([[IvfPq.encode]]) and publish a new DELTA generation under the
    * same root ([[graft.Artifacts.publishDelta]]) — pure maps against
    * the broadcast codebooks, NO retraining, and the generation stores
    * ONLY the delta's assignments plus a `_PARENT` link to the
    * previous generation, so appending k vectors
    * to an N-vector index costs O(k·C) compute AND O(k) write — the
    * log-structured shape (a base-∪-delta rewrite would be an O(N)
    * parquet copy per append, which at 100 TB is the difference
    * between appending and re-ingesting). Readers resolve the pointer
    * and union the parent CHAIN's cells/codes dirs
    * ([[annIndexOpen]]); the chain length is bounded by the retrain
    * trigger below, and codebooks are copied verbatim into every
    * generation (KB-sized) so each generation is self-describing. The
    * pointer swap is atomic and superseded generations stay on disk —
    * they are the chain.
    *
    * THE RETRAIN TRIGGER IS MEASURED (round 15): frozen codebooks mean
    * frozen cell boundaries, and as appended data drifts from the
    * training distribution cells skew (recall degrades: true neighbors
    * land in un-probed cells) even though every individual assignment
    * is still the exact nearest centroid. Every append therefore
    * writes a `_DRIFT` sidecar — the delta's mean
    * nearest-frozen-centroid cosine next to the base's (one avg over
    * the csims the append computes anyway) — and [[annIndexDrift]]
    * surfaces the per-generation table with the
    * [[RetrainDriftThreshold]] verdict plus the cumulative
    * delta-fraction (> 20% of base) backstop. Re-training is
    * [[annIndexBuild]] at a new content-keyed root and resets the
    * chain; this method is the cheap path between retrains (the
    * `q_incremental_dedup` precedent applied to the index). */
  private[graft] def annIndexAppend(s: SparkSession, root: String,
                                    delta: DataFrame): String = {
    val live = liveChain(s, root).head
    val books = storedBooks(s, root, live)
    val d = delta
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try graft.Artifacts.publishDelta(s, root, live) { gen =>
      writeGen(s, gen, IvfPq.encode(d, books), readDrift(s, live).map(_.baseMean))
    } finally d.unpersist(false)
  }

  /** One generation's parsed `_DRIFT` sidecar; None for generations
    * published before the statistic existed (drift reads as unknown,
    * never as a crash). */
  private[graft] case class GenDrift(n: Long, mean: Double, baseMean: Double)
  private[graft] def readDrift(s: SparkSession,
                               gen: String): Option[GenDrift] = {
    val p = new org.apache.hadoop.fs.Path(gen, "_DRIFT")
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val kv = try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map { l =>
        val i = l.indexOf('='); (l.take(i), l.drop(i + 1))
      }.toMap finally in.close()
    Some(GenDrift(kv("n").toLong, kv("mean").toDouble,
      kv("base_mean").toDouble))
  }

  /** MEASURED RETRAIN TRIGGER — drop in the delta's mean
    * nearest-frozen-centroid cosine vs the base generation's, above
    * which the frozen cell boundaries have demonstrably skewed and the
    * operator should retrain ([[annIndexBuild]] at a new content-keyed
    * root). The value is MEASURED, not folklore (AnnDriftSpec + the
    * planted-cluster probe recorded in PLANS.md, "Round-15: measured ANN
    * retrain trigger"): an in-distribution append reads |drift| ≈ 0.0001 — held-out
    * noise around the base's mean, because the CLUSTER structure, not
    * the training sample, owns the centroid positions — while an
    * append from clusters the training never saw reads 0.65, an order
    * of magnitude past this line; 0.05 splits the regimes with wide
    * margin on both sides. Honesty: on a STRUCTURELESS corpus the
    * statistic reads ~0.17 even in-distribution (C=√N cells fit noise,
    * so the training mean is selection optimism — PLANS.md records
    * that row labeled); operationally still the right verdict, since
    * an index over noise has no recall to protect. The OTHER trigger
    * (cumulative delta fraction > 20% of base) is [[annIndexDrift]]'s
    * `cumDeltaFraction`, orthogonal: a huge in-distribution delta
    * skews cell SIZES without moving this statistic. */
  private[graft] val RetrainDriftThreshold = 0.05

  /** The drift table of an index root, live generation first: per
    * generation, its assignment count, mean assignment cosine, the
    * base's reference mean, the drift (base − own, positive = worse),
    * whether it crosses [[RetrainDriftThreshold]], and the chain's
    * cumulative delta fraction of the base. The operator-facing answer
    * to "when do frozen cells need retraining" — computed from
    * artifacts every build/append already writes. */
  case class IndexDrift(gen: String, n: Long, meanCsim: Double,
                        baseMeanCsim: Double, drift: Double,
                        retrain: Boolean, cumDeltaFraction: Double)
  private[graft] def annIndexDrift(s: SparkSession,
                                   root: String): Seq[IndexDrift] = {
    val stats = liveChain(s, root).map(g => (g, readDrift(s, g)))
    val baseN = stats.lastOption.flatMap(_._2).map(_.n).getOrElse(0L)
    val deltaN = stats.dropRight(1).flatMap(_._2).map(_.n).sum
    stats.collect { case (g, Some(d)) =>
      IndexDrift(new org.apache.hadoop.fs.Path(g).getName, d.n, d.mean,
        d.baseMean, d.baseMean - d.mean,
        d.baseMean - d.mean > RetrainDriftThreshold,
        if (baseN == 0) 0.0 else deltaN.toDouble / baseN)
    }
  }

  /** The index at `root`, opened: the live generation's codebooks
    * ([[storedBooks]]) and, as cells (vec_id, cell) and codes, the union
    * of every generation's parts along the live chain (an append stores
    * only its delta). */
  private[graft] def annIndexOpen(s: SparkSession, root: String): IvfPq = {
    val chain = liveChain(s, root)
    val (coarse, pq) = storedBooks(s, root, chain.head)
    IvfPq(coarse, pq, s.read.parquet(chain.map(_ + "/cells"): _*),
      s.read.parquet(chain.map(_ + "/codes"): _*))
  }

  /** The live generation chain of the index at `root`, live first
    * ([[graft.Artifacts.chain]]); fails if nothing is published. */
  private def liveChain(s: SparkSession, root: String): Seq[String] = {
    val chain = graft.Artifacts.chain(s, root)
    if (chain.isEmpty)
      throw new IllegalStateException(s"no published index generation under $root")
    chain
  }

  /** T3e q_ann_search_indexed — the SEARCH half of the train-once/
    * search-many split [[annIndex]] provides (q_ann_ivfpq re-trains its
    * codebooks inside the declared query; real deployments don't). At
    * search time the only relations touched are: the two stored
    * codebooks (collected to the driver once per session and
    * generation — [[storedBooks]] — and read through their broadcast
    * handles), the |Q|-row query slice of the raw vectors (the one
    * float-math input a search genuinely needs), and the CODES/CELLS
    * artifacts — the corpus's raw embeddings are never re-read or
    * re-encoded. Per-query work is the IVF-PQ promise: nprobe·N/C
    * candidate rows joined on the cell key, M integer lookups each, one
    * top-5 rank window cut by WindowGroupLimit.
    *
    * Output and oracle are IDENTICAL to q_ann_ivfpq by construction:
    * same parameters, deterministic training, and the one
    * [[IvfPq.estimates]] over the opened index — the gate proves
    * searching the stored index loses nothing vs retraining.
    * AnnIndexSpec additionally pins that the search plan contains no
    * training subtree (no Lloyd-round scan of the embeddings table
    * beyond the query slice). */
  private def qAnnSearchIndexed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = annIndexPath(s, dir)
    annIndexBuild(s, root, ivfVectors(s, dir))
    val q = ivfVectors(s, dir).filter($"vec_id" % 100 === 0)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try annIndexSearch(s, root, q) finally q.unpersist(false)
  }

  /** Top-5 ADC search of the query rows `q` (vec_id, e) over the live
    * generation chain of the index at `root`, sealed. */
  private[graft] def annIndexSearch(s: SparkSession, root: String,
                                    q: DataFrame): DataFrame = {
    val index = annIndexOpen(s, root)
    // nprobe from the STORED codebook's size (the artifact remembers
    // its own C), so search and build stay consistent across sessions
    adcRank(index.estimates(q, ivfDefaultNprobe(index.coarse.rows.size)))
  }

  /** Per session, the stored codebooks of each index root with the live
    * generation they were read from. Weak in the session. */
  private val storedCodebooks =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, (String, Codebook, Codebook)]]()

  /** The (coarse, pq) codebooks of generation `live` of the index at
    * `root`, collected once per session and generation: a later search
    * reuses them and their broadcast handles with no job. An append or
    * a rebuild publishes a new generation, so the next search re-reads. */
  private def storedBooks(s: SparkSession, root: String,
                          live: String): (Codebook, Codebook) = {
    val memo = storedCodebooks.synchronized(storedCodebooks.computeIfAbsent(
      s, _ => new java.util.concurrent.ConcurrentHashMap()))
    Option(memo.get(root)).filter(_._1 == live).map(m => (m._2, m._3))
      .getOrElse {
        val books = (Codebook.of(s.read.parquet(s"$live/coarse")),
          Codebook.of(s.read.parquet(s"$live/pq")))
        memo.put(root, (live, books._1, books._2))
        books
      }
  }

  /** q_dedup_embedding — embedding-cosine near-dup pairs within a label
    * block (a < b, cosine ≥ 0.4). Blocking key = label. */
  private def qDedupEmbedding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = Tables.load(s, dir, "embeddings").select($"vec_id".as("a"), $"label",
      $"embedding".as("ae"))
    val b = Tables.load(s, dir, "embeddings").select($"vec_id".as("b"), $"label",
      $"embedding".as("be"))
    a.join(b, Seq("label")).filter($"a" < $"b")
      .withColumn("sim",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"ae", $"be")))
      .filter($"sim" >= 0.4)
      .select($"a", $"b", $"label", $"sim")
      .orderBy($"a", $"b")
  }

  /** q_semdedup — SemDeDup (Abbas et al. 2023, arXiv:2303.09540):
    * semantic deduplication inside LEARNED k-means cells — the
    * embedding-space analog of MinHash near-dedup that web-scale
    * training pipelines run to drop paraphrase/boilerplate duplicates
    * exact n-gram methods can't see. Train the same deterministic
    * Lloyd codebook the IVF index uses ([[kmeansCodebook]] — so the
    * DuckDB oracle replays it as unrolled CTEs), assign every vector to
    * its nearest cell, and within each cell mark as duplicates all
    * vectors with a SMALLER-id cell-mate at cosine ≥ 0.30 — the greedy
    * keep-first rule, one aggregation, no iteration (deliberately NOT
    * transitive closure: q_dedup_clusters owns that; SemDeDup's
    * published form is exactly pairwise ε-dedup within clusters).
    *
    * Scale: the pair join is keyed on the CELL — (N/C)² per cell, never
    * doc×doc; C is the scale lever (C ≈ N/1000 bounds cells to ~10³
    * members at any corpus size, the paper's regime), the codebook
    * broadcasts, the N·C assignment is a map-combinable argmax, and the
    * smaller-id-neighbor aggregate is one shuffle on vec_id. Output is
    * one row per vector (cell, #smaller similar neighbors, max dup
    * similarity, kept flag) — the keep/drop decision a curation
    * pipeline joins back onto the corpus. Determinism: round6'd cosines
    * (ulp-stable threshold + max), integer counts. */
  private def qSemDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cb = kmeansCodebook(n, 8, 2)
      // m feeds both pair-join arms plus the final decision join — seal
      // it or the N·C assignment replans three times (the Selection
      // tree-duplication lesson, same round)
      val m = graft.Exec.seal(nearestCells(n, cb)
        .select($"vec_id", $"e", $"nn.cell".as("cell")))
      val l = m.select($"cell", $"vec_id".as("a"), $"e".as("ea"))
      val r = m.select($"cell", $"vec_id".as("b"), $"e".as("eb"))
      val dup = l.join(r, Seq("cell")).filter($"a" < $"b")
        .withColumn("sim",
          graft.Det.round6(graft.functions.VectorFunctions.cosine($"ea", $"eb")))
        .filter($"sim" >= 0.30)
        .groupBy($"b".as("vec_id"))
        .agg(count(lit(1)).as("n_dup_smaller"),
          max($"sim").as("max_dup_sim"))
      m.select($"vec_id", $"cell")
        .join(dup, Seq("vec_id"), "left")
        .select($"vec_id", $"cell",
          coalesce($"n_dup_smaller", lit(0L)).as("n_dup_smaller"),
          $"max_dup_sim",
          when($"n_dup_smaller".isNull, 1L).otherwise(0L).as("kept"))
        .orderBy($"vec_id")
        .transform(graft.Exec.seal)
    } finally n.unpersist(false)
  }

  /** q_embed_coherence — per-label centroid coherence scoring, the
    * embedding-side QUALITY filter of a curation pipeline (CleanLab /
    * prototype-distance mislabel detection): each vector is scored by
    * its cosine to the EXACT mean embedding of its own label; low
    * scores are the mislabeled/out-of-distribution candidates a
    * training set drops first. Complements [[qDedupEmbedding]] (which
    * finds pairs; this scores singletons against their class).
    *
    * Centroids use the [[kmeansCodebook]] exact-mean pipeline — each
    * component half-up-quantized to 1e-4 (pure IEEE ops), summed as
    * BIGINT (order-independent), one final double division — so the L
    * centroids are bit-identical in both engines, and every cosine is
    * the same left-to-right fold ([[graft.functions.CosineSimilarity]]
    * ≡ DuckDB `list_dot_product`).
    *
    * Plan: ONE corpus pass builds all centroids (posexplode → (label,
    * pos) map-side-combined aggregate — D·N rows reduce before the
    * exchange, which carries only L·D); the L-row codebook then
    * BROADCASTS back onto a second corpus pass for scoring. No window,
    * no N×L product — each vector meets exactly its own centroid. */
  private def qEmbedCoherence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val n = Tables.load(s, dir, "embeddings")
      .select($"vec_id", $"label",
        transform($"embedding", _.cast("double")).as("e"))
    val cent = n
      .select($"label", posexplode($"e"))
      .groupBy($"label", $"pos")
      .agg(sum(floor($"col" * 10000.0 + 0.5).cast("long")).as("sv"),
        count(lit(1)).as("cnt"))
      .withColumn("v", $"sv".cast("double") / ($"cnt" * 10000.0))
      .groupBy($"label")
      .agg(collect_list(struct($"pos", $"v")).as("pv"))
      .select($"label", expr("transform(array_sort(pv), x -> x.v)").as("ce"))
    n.join(broadcast(cent), Seq("label"))
      .withColumn("coherence",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"e", $"ce")))
      .select($"vec_id", $"label", $"coherence")
      .orderBy($"vec_id")
  }

  // ----------------------------------------------------- text near-dup

  /** Shingle sets as distinct BIGINT hashes (fold of the leading 15 hex
    * digits of md5 mod 1e9+7): set ops on integers are several times
    * cheaper than on shingle strings, and both engines hash identically so
    * any collision is replayed bit-for-bit by the oracle. */
  private def shingleHashed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .select($"doc_id", $"source",
        graft.functions.VectorFunctions.shingleHashes($"text").as("hs"))
      .withColumn("n", size($"hs"))
      // shuffle barrier: stops projection collapse from re-inlining the
      // shingle hashing into every downstream consumer expression
      .repartition($"doc_id")
  }

  /** `{SH}` is substituted with the shingle-list SQL ([[DUCK_SHINGLES]]). */
  private val DUCK_SHINGLE_HASH =
    """list_distinct(list_transform({SH}, x ->
      |  CAST(list_reduce(
      |    list_prepend('0', string_split(substr(md5(x), 1, 15), '')),
      |    (acc, c) -> CAST(CAST(acc AS BIGINT) * 16 +
      |      instr('0123456789abcdef', c) - 1 AS VARCHAR)) AS BIGINT)
      |  % 1000000007))""".stripMargin

  /** T4 q_dedup_near — n-gram (3-shingle) Jaccard near-dup pairs, blocked
    * by source (a < b, J ≥ 0.6), computed AllPairs-style with a prefix
    * filter instead of a blocked all-pairs join:
    *
    *  1. Each doc's sorted shingle-hash set contributes only its
    *     ⌊0.4·n⌋+1 SMALLEST hashes as "prefix" index entries — if
    *     J(A,B) ≥ 0.6 the two prefixes must share an element (Bayardo et
    *     al.'s AllPairs prefix-filter lemma with the global hash order).
    *  2. Candidates = pairs sharing any (source, prefix-element) index
    *     key — a shuffle on the index key, linear in index size, NOT an
    *     all-pairs product per source block.
    *  3. Lossless size-ratio prefilter (J ≤ min/max ⇒ 10·min ≥ 6·max),
    *     then one sorted-merge intersection per surviving pair with
    *     |A∪B| = |A|+|B|−|A∩B|.
    *
    * Every cut is lossless, so the DuckDB oracle can keep computing the
    * naive blocked all-pairs form and must agree exactly. The prefix
    * index is the shape that survives 100 TB; the measured slope vs the
    * blocked join is in PLANS.md. */
  private def qDedupNear(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingleHashed(s, dir)
    val prefixed = sh.withColumn("pe",
      explode(slice($"hs", lit(1), (floor($"n" * 0.4) + 1).cast("int"))))
      .select($"doc_id", $"source", $"pe", $"n")
    // size-ratio bound applied AT candidate generation: pairs that can't
    // reach J >= 0.6 never survive to the distinct, which is what blows
    // up first when single shingles are shared promiscuously (PLANS.md
    // k=32 crossover)
    val cand = prefixed.select($"doc_id".as("a"), $"source", $"pe", $"n".as("na"))
      .join(prefixed.select($"doc_id".as("b"), $"source", $"pe", $"n".as("nb")),
        Seq("source", "pe"))
      .filter($"a" < $"b" &&
        least($"na", $"nb") * 10 >= greatest($"na", $"nb") * 6)
      .select($"source", $"a", $"b").distinct()
    cand
      .join(sh.select($"doc_id".as("a"), $"hs".as("sha"), $"n".as("na")), Seq("a"))
      .join(sh.select($"doc_id".as("b"), $"hs".as("shb"), $"n".as("nb")), Seq("b"))
      .withColumn("i",
        graft.functions.VectorFunctions.intersectSize($"sha", $"shb"))
      .withColumn("jaccard",
        graft.Det.round6($"i".cast("double") / ($"na" + $"nb" - $"i")))
      .filter($"jaccard" >= 0.6)
      .select($"a", $"b", $"source", $"jaccard")
      .orderBy($"a", $"b")
  }

  /** q_dedup_sorted_nbhd — Sorted Neighborhood Method (Hernández &
    * Stolfo 1995): sort each source block by a discriminating key and
    * compare every record only to its next W neighbors in that order —
    * the THIRD candidate-generation family next to the prefix filter
    * ([[qDedupNear]]) and banded MinHash ([[qDedupMinhashLsh]]), and the
    * one record-linkage stacks reach for when a cheap sortable key
    * exists. Key here: the 3 lexicographically smallest distinct tokens
    * (token-order-insensitive, so shuffled near-dups still sort
    * adjacently).
    *
    * Scale: candidates are N·W instead of N² per block; the sort/lead
    * window partitions by source (distributed — no global single
    * partition), and the verify join ships shingle sets only for
    * surviving pairs. SNM is a heuristic blocker: recall comes from
    * multi-pass runs with different keys (this is the one-key pass;
    * candidates missed by the sort order are the documented trade), so
    * the oracle replays the SAME window pairing rather than all pairs. */
  private def qDedupSortedNbhd(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val W = 5
    val sh = shingleHashed(s, dir)
    val keyed = Tables.load(s, dir, "documents")
      .select($"doc_id", $"source",
        array_join(slice(array_sort(array_distinct(
          split(lower($"text"), " "))), 1, 3), " ").as("skey"))
    val w = Window.partitionBy($"source").orderBy($"skey", $"doc_id")
    val cand = keyed
      .withColumn("nbrs", array((1 to W).map(i =>
        lead($"doc_id", i).over(w)): _*))
      .select($"source", $"doc_id".as("ai"), explode($"nbrs").as("bi"))
      .filter($"bi".isNotNull)
      .select($"source", least($"ai", $"bi").as("a"),
        greatest($"ai", $"bi").as("b"))
      .distinct()
    cand
      .join(sh.select($"doc_id".as("a"), $"hs".as("sha"), $"n".as("na")), Seq("a"))
      .join(sh.select($"doc_id".as("b"), $"hs".as("shb"), $"n".as("nb")), Seq("b"))
      .withColumn("i",
        graft.functions.VectorFunctions.intersectSize($"sha", $"shb"))
      .withColumn("jaccard",
        graft.Det.round6($"i".cast("double") / ($"na" + $"nb" - $"i")))
      .filter($"jaccard" >= 0.6)
      .select($"a", $"b", $"source", $"jaccard")
      .orderBy($"a", $"b")
  }

  /** q_dedup_containment — ASYMMETRIC near-subset detection: containment
    * C(A→B) = |A∩B|/|A| ≥ 0.8 flags A as mostly contained in B — the
    * duplicate class Jaccard structurally misses (a page plus boilerplate
    * has high containment but low Jaccard; web curation drops the
    * contained page, CCNet/RefinedWeb-style). Candidate generation is
    * the containment form of the prefix filter: C ≥ t means A misses at
    * most (1−t)·|A| shingles, so A's ⌊(1−t)n⌋+1 SMALLEST hashes (the
    * global-order prefix) must hit B's FULL set — index A-prefixes
    * against B-postings, shuffle on (source, shingle-hash), never
    * doc×doc. The |B| ≥ t·|A| size bound is lossless (|A∩B| ≤ |B|).
    * The oracle computes the naive blocked all-pairs form and must
    * agree exactly. */
  private def qDedupContainment(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingleHashed(s, dir)
    val aPrefix = sh.select($"doc_id".as("a"), $"source",
        explode(slice($"hs", lit(1), (floor($"n" * 0.2) + 1).cast("int")))
          .as("pe"),
        $"n".as("na"))
    val bFull = sh.select($"doc_id".as("b"), $"source",
      explode($"hs").as("pe"), $"n".as("nb"))
    val cand = aPrefix.join(bFull, Seq("source", "pe"))
      .filter($"a" =!= $"b" && $"nb" * 10 >= $"na" * 8)
      .select($"source", $"a", $"b").distinct()
    cand
      .join(sh.select($"doc_id".as("a"), $"hs".as("sha"), $"n".as("na")), Seq("a"))
      .join(sh.select($"doc_id".as("b"), $"hs".as("shb")), Seq("b"))
      .withColumn("i",
        graft.functions.VectorFunctions.intersectSize($"sha", $"shb"))
      .withColumn("containment",
        graft.Det.round6($"i".cast("double") / $"na"))
      .filter($"containment" >= 0.8)
      .select($"a", $"b", $"source", $"containment")
      .orderBy($"a", $"b")
  }

  /** q_dedup_minhash_lsh — MinHash signatures banded 4×4; docs sharing any
    * band bucket become candidate pairs, then exact shingle-Jaccard ≥ 0.6
    * confirms. This is the classic shingle→minhash→band→bucket-join
    * pipeline: candidate generation is a shuffle on (band, bucket-hash) —
    * no all-pairs join anywhere, which is what makes it the 100 TB dedup
    * path. Each shingle is md5-hashed ONCE (fold of its leading 15 hex
    * digits mod 1e9+7); the 16 MinHash permutations are then cheap affine
    * maps h_k = ((2k+1)·h + 7919·(k+1)) mod p over that integer — 16×
    * fewer digest calls than hashing per permutation. Candidate pairs are
    * deduplicated as bare (a,b) ids and the shingle sets re-joined by id,
    * so the distinct never shuffles array payloads. */
  private def qDedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairs(s, dir)

  /** Confirmed near-dup pairs (a < b, J ≥ 0.6) from the MinHash+LSH
    * pipeline — shared by [[qDedupMinhashLsh]] (which emits the pairs) and
    * [[qDedupClusters]] (which resolves them into components). */
  private def minhashPairs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingleHashed(s, dir) // barriered: md5-folds computed once
    val sigd = sh.withColumn("sig",
        graft.functions.VectorFunctions.minhashSig($"hs"))
      // second barrier: keep the 16-permutation signature out of the
      // per-band explode (projection collapse would recompute it 4×)
      .select($"doc_id", $"sig").repartition($"doc_id")
    val banded = sigd.withColumn("b", explode(expr("sequence(0, 3)")))
      .select($"doc_id", $"b", expr(
        """concat_ws('-', element_at(sig, 4 * b + 1), element_at(sig, 4 * b + 2),
          |              element_at(sig, 4 * b + 3), element_at(sig, 4 * b + 4))"""
          .stripMargin).as("bh"))
    val cand = banded.select($"doc_id".as("a"), $"b", $"bh")
      .join(banded.select($"doc_id".as("b2"), $"b", $"bh"), Seq("b", "bh"))
      .filter($"a" < $"b2")
      .select($"a", $"b2".as("b")).distinct()
    cand
      .join(sh.select($"doc_id".as("a"), $"hs".as("sha"), $"n".as("na")), Seq("a"))
      .join(sh.select($"doc_id".as("b"), $"hs".as("shb"), $"n".as("nb")), Seq("b"))
      .withColumn("i",
        graft.functions.VectorFunctions.intersectSize($"sha", $"shb"))
      .withColumn("jaccard",
        graft.Det.round6($"i".cast("double") / ($"na" + $"nb" - $"i")))
      .filter($"jaccard" >= 0.6)
      .select($"a", $"b", $"jaccard")
      .orderBy($"a", $"b")
  }

  /** q_dedup_clusters — resolve the confirmed near-dup PAIRS into
    * duplicate CLUSTERS (the last step of a dedup pipeline: keep one doc
    * per component, drop the rest): connected components by iterative
    * min-label propagation over the undirected pair graph — the
    * GraphX/Pregel shape expressed in DataFrames. Each round is one
    * shuffle on vertex id (join + min-aggregate, both map-side combined)
    * and the loop runs O(graph diameter) rounds — near-dup clusters are
    * shallow (diameter ≤ a few), so 2–4 rounds in practice at any corpus
    * size. `localCheckpoint` truncates the growing lineage each round
    * (without it, iteration k replans all k−1 predecessors). The driver
    * loop iterates ROUNDS, never rows. */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val s = pairs.sparkSession
    import s.implicits._
    val dir0 = pairs.select($"a", $"b")
    val edges0 = dir0.unionByName(dir0.select($"b".as("a"), $"a".as("b")))
      .persist()
    // AQE right-sizes ordinary queries, but localCheckpoint pins each
    // round's partitioning — so size the loop ourselves: the pair graph
    // is orders of magnitude smaller than the corpus (only near-dups
    // appear), and 32-task stages over a few hundred edges are pure
    // scheduler overhead. ~100k edges per partition, capped at the
    // session's parallelism for genuinely large graphs.
    val nEdges = edges0.count()
    val parts = math.max(1L, math.min(
      s.sparkContext.defaultParallelism.toLong, nEdges / 100000L + 1L)).toInt
    val edges = edges0.repartition(parts).persist()
    edges.count()
    edges0.unpersist()
    // the per-round joins/aggregates read this at THEIR planning time
    // (inside the loop), so scope it and restore after
    val shufKey = "spark.sql.shuffle.partitions"
    val prevShuf = s.conf.get(shufKey)
    s.conf.set(shufKey, parts.toString)
    try {
      // Convergence WITHOUT a second job or a self-join: labels only ever
      // DECREASE and the id set is fixed, so Σlbl is strictly monotone
      // and stalls exactly at the fixpoint. TWO hops per round:
      // propagation is monotone, so a double hop is still exact — and it
      // halves the round count on a shallow graph (round 2 cost this
      // loop 5.4s at sf0.1 with the old join + filter + count shape).
      // Σlbl stays < 2^63 up to ~10^9 vertices at max doc_id ~10^9; past
      // that, widen to DECIMAL.
      graft.Exec.fixpoint(
        edges.select($"a".as("id")).distinct().withColumn("lbl", $"id"),
        Int.MaxValue, Seq(edges), ls => ccHop(edges, ccHop(edges, ls)),
        sum($"lbl"))(graft.Exec.unchanged).result
    } finally s.conf.set(shufKey, prevShuf)
  }

  /** One min-propagation hop: lbl(x) := min(lbl(x), min over neighbors).
    * Formulated as union + min-aggregate (2 shuffle stages) rather than
    * aggregate + left-join merge (3): the loop's cost on a shallow graph
    * is stage scheduling, not data. Package-private so the PlanShapeSpec
    * loop-body sweep inspects the real per-round fragment (the loop's
    * localCheckpoints hide it from whole-query sweeps). */
  private[graft] def ccHop(edges: DataFrame, ls: DataFrame): DataFrame = {
    val s = edges.sparkSession; import s.implicits._
    edges.join(ls, edges("b") === ls("id"))
      .select(edges("a").as("id"), $"lbl")
      .unionByName(ls)
      .groupBy($"id").agg(min($"lbl").as("lbl"))
  }

  private def qDedupClusters(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    connectedComponents(minhashPairs(s, dir))
      .groupBy($"lbl".as("cluster_rep"))
      .agg(
        count(lit(1)).as("n_members"),
        expr("array_join(transform(sort_array(collect_list(id))," +
          " x -> cast(x AS string)), ',')").as("members"))
      .orderBy($"cluster_rep")
  }

  /** q_decontaminate — benchmark decontamination: flag corpus documents
    * sharing ≥2 distinct 3-shingles with ANY document of the held-out
    * "benchmark" set (doc_id ≡ 0 mod 13 stands in for the eval suite).
    * The op every LLM training pipeline runs before training — test-set
    * leakage detection by n-gram overlap — expressed as an inverted-index
    * join: benchmark shingles become a (hash → min bench doc) index, the
    * corpus explodes to (doc, hash) postings, and the join shuffles on
    * the SHINGLE HASH (uniform by construction), never doc×doc pairs.
    * At 100 TB the benchmark index is the small side (broadcastable for
    * real eval suites; left as a shuffle join here since the stand-in
    * benchmark is 1/13 of the corpus). Shingle sets are distinct per doc,
    * so the per-doc match count IS the distinct-shared-shingle count. */
  private def qDecontaminate(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sh = shingleHashed(s, dir)
    val corp = sh.filter($"doc_id" % 13 =!= 0)
      .select($"doc_id", explode($"hs").as("h"))
    val bench = sh.filter($"doc_id" % 13 === 0)
      .select($"doc_id".as("bench_id"), explode($"hs").as("h"))
      .groupBy($"h").agg(min($"bench_id").as("bench_min"))
    corp.join(bench, Seq("h"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shared"), min($"bench_min").as("bench_doc"))
      .filter($"n_shared" >= 2)
      .orderBy($"doc_id")
  }

  /** q_embed_quantize — L2-normalize + symmetric int8 quantization, the
    * standard pre-index compression step (4× smaller vectors before ANN
    * indexing): q_i = floor(127·x_i/‖x‖ + 0.5). Output is per-vector
    * scalar evidence (norm, q-range, q-sum, rolling checksum) rather than
    * the int8 array itself — the driver comparator is scalar-only — but
    * the checksum covers every element in order, so any quantization
    * drift fails the oracle. One scan, no shuffle, all inside codegen;
    * zero vectors are excluded on both sides (q undefined at ‖x‖=0). */
  private def qEmbedQuantize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = "transform(e, x -> CAST(floor(x * 127.0 / nrm + 0.5) AS BIGINT))"
    Tables.load(s, dir, "embeddings")
      .select($"vec_id", transform($"embedding", _.cast("double")).as("e"))
      .withColumn("nrm", sqrt(dot($"e", $"e")))
      .filter($"nrm" > 0.0)
      .withColumn("qv", expr(q))
      .select(
        $"vec_id",
        size($"e").cast("long").as("dim"),
        graft.Det.round6($"nrm").as("nrm6"),
        // fold inits sit at the quantized range edges (q ∈ [-127, 127]),
        // so the fold result equals the true min/max
        expr("aggregate(qv, CAST(127 AS BIGINT), (a, v) -> least(a, v))").as("q_min"),
        expr("aggregate(qv, CAST(-127 AS BIGINT), (a, v) -> greatest(a, v))").as("q_max"),
        expr("aggregate(qv, CAST(0 AS BIGINT), (a, v) -> a + v)").as("q_sum"),
        expr("aggregate(qv, CAST(0 AS BIGINT)," +
          " (a, v) -> (a * 31 + v + 128) % 1000000007)").as("q_checksum"))
      .orderBy($"vec_id")
  }

  /** q_dedup_simhash — 16-bit SimHash over token occurrences (bit j set if
    * the ±1 votes from each token's md5 hex digit j sum positive); output
    * the collision groups (same simhash = near-dup cluster). */
  private def qDedupSimhash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "documents")
      .withColumn("simhash", graft.functions.VectorFunctions.simhash($"text"))
      .groupBy($"simhash")
      .agg(count(lit(1)).as("n_docs"), min($"doc_id").as("min_doc"))
      .filter($"n_docs" > 1)
      .orderBy($"simhash")
  }

  /** q_fuzzy_match — blocked entity resolution by edit distance: the
    * "same real-world entity, slightly different string" matcher every
    * catalog/CRM consolidation runs. Two scale moves before any pair is
    * formed: (1) collapse the table to DISTINCT entity names (a 100 TB
    * part table has ~millions of distinct names, not billions of rows) —
    * each name keeps its smallest id as canonical + its occurrence
    * count; (2) block on the name's last token (the head noun), so the
    * self-join shuffles on the block key and only compares within a
    * block — never an unblocked name×name product. Levenshtein is an
    * integer metric with one standard definition (unit costs), so both
    * engines agree exactly; pairs are emitted once (name_a < name_b). */
  private def qFuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    // persisted: the self-join's two arms would otherwise each replan
    // the full table scan + distinct-name aggregate
    val names = fuzzyNames(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try fuzzyPairs(s, names).transform(graft.Exec.seal)
    finally names.unpersist(false)
  }

  /** The DISTINCT (name, canonical id, occurrence count, block) entity
    * relation — one table scan. Package-visible for the plan guard. */
  private[graft] def fuzzyNames(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "part")
      .groupBy($"p_name")
      .agg(min($"p_partkey").as("canon_id"), count(lit(1)).as("n_parts"))
      .withColumn("block", element_at(split($"p_name", " "), -1))
  }

  /** Blocked Levenshtein pairing over a caller-managed (cached) name
    * relation. */
  private[graft] def fuzzyPairs(s: SparkSession, names: DataFrame): DataFrame = {
    import s.implicits._
    val a = names.select($"block", $"p_name".as("name_a"),
      $"canon_id".as("id_a"), $"n_parts".as("n_a"))
    val b = names.select($"block", $"p_name".as("name_b"),
      $"canon_id".as("id_b"), $"n_parts".as("n_b"))
    a.join(b, Seq("block"))
      .filter($"name_a" < $"name_b")
      .withColumn("dist", levenshtein($"name_a", $"name_b").cast("long"))
      .filter($"dist" <= 3)
      .select($"name_a", $"name_b", $"id_a", $"id_b", $"n_a", $"n_b", $"dist")
      .orderBy($"name_a", $"name_b")
  }

  /** q_entity_resolution — end-to-end entity resolution: the blocked
    * Levenshtein pair graph ([[fuzzyPairs]] — q_fuzzy_match's output) is
    * closed transitively via the same distributed min-label
    * [[connectedComponents]] the dedup clusterer uses, and every name
    * variant collapses onto one resolved entity (smallest member id —
    * A~B, B~C ⇒ {A,B,C} even when A↔C exceeds the edit threshold, which
    * pairwise matching alone cannot give). One row per entity: id,
    * variant count, total occurrences, lexicographically-first canonical
    * name. The master-data/dedup-customers operator every warehouse runs.
    *
    * Scale: the pair graph is near-dup-sized (blocked candidate
    * generation), components iterate O(diameter) rounds over edge-sized
    * state, and the final rollup keys on entity id — nothing here
    * touches the fact beyond the one [[fuzzyNames]] collapse. Singleton
    * names (no fuzzy neighbor) skip the component join entirely via
    * coalesce onto their own id. */
  private def qEntityResolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = fuzzyNames(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val pairs = fuzzyPairs(s, names).select($"id_a".as("a"), $"id_b".as("b"))
      val comp = connectedComponents(pairs)
      names
        .join(comp, names("canon_id") === comp("id"), "left")
        .select($"p_name", $"n_parts",
          coalesce($"lbl", $"canon_id").as("entity_id"))
        .groupBy($"entity_id")
        .agg(count(lit(1)).as("n_names"),
          sum($"n_parts").as("n_parts"),
          min($"p_name").as("canonical_name"))
        .orderBy($"entity_id")
        .transform(graft.Exec.seal)
    } finally names.unpersist(false)
  }

  /** T6 q_multimodal_struct — one row carrying text + vector + metadata
    * (documents ⋈ embeddings 1:1): project/filter across modalities. */
  private def qMultimodalStruct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = Tables.load(s, dir, "documents")
    val e = emb(s, dir)
    d.join(e, $"doc_id" === $"vec_id")
      .filter($"lang" === "en")
      .select(
        $"doc_id", $"lang", $"source",
        size($"embedding").cast("long").as("dim"),
        graft.Det.round6($"nrm").as("vec_norm"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"))
      .orderBy($"doc_id")
  }

  /** q_substring_dedup — EXACT substring duplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"): find
    * document pairs sharing a verbatim run of ≥15 consecutive tokens —
    * the duplicate class set-based Jaccard/MinHash miss by design (a long
    * quoted passage inside two otherwise-unrelated pages barely moves
    * set overlap). Their suffix-array machinery is single-node; the
    * distributed equivalent is a positional k-gram inverted index:
    * every position emits its 8-token gram; the self-join shuffles on
    * the GRAM (never doc×doc); a shared token run of length R appears as
    * exactly R−k+1 consecutive gram matches on one (a, b, pa−pb)
    * diagonal, so a gaps-and-islands pass over each diagonal recovers
    * the TRUE maximal run length — the rewrite is lossless, and the
    * DuckDB oracle replays the identical algebra.
    *
    * Scale: the index key is xxhash64 OF THE TOKEN SUB-ARRAY — the
    * gram string is never materialized (round-7 profiling: string
    * assembly was the dominant stage) and the self-join shuffles 8-byte
    * keys instead of ~50-char strings. A chance 64-bit collision could
    * admit a spurious candidate pair (which the run-length filter then
    * must also pass): P ≈ (#grams)²/2⁶⁵ ≈ 10⁻⁸ at sf0.1 — the oracle
    * replays the same algebra on the exact STRING grams, so the gate
    * itself re-proves collision-freedom every round; a web-scale corpus
    * (10¹² grams) would move to a two-seed 128-bit key. The gram
    * relation is built once and persisted across its two join sides
    * (self-join = 2 consumers; the round-2 single-scan lesson);
    * candidate volume is bounded by true positional overlap, not by
    * block population. At web scale the one extra lever is dropping
    * grams with pathological document frequency (boilerplate). */
  private def qSubstringDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val k = 8
    // fanOut: per-row k-gram xxhash64 shingling over the single-
    // partition fixture scan (profiled: two ~0.5 s single-task stages);
    // the persisted gram relation inherits the parallel layout.
    // Identity at real scale.
    val grams = graft.Exec.fanOut(Tables.load(s, dir, "documents"))
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= k)
      .select($"doc_id", explode(expr(
        s"""transform(sequence(1, size(toks) - ${k - 1}),
           |  g -> struct(g AS pos, xxhash64(slice(toks, g, $k)) AS gh))"""
          .stripMargin)).as("kg"))
      .select($"doc_id", $"kg.pos".as("pos"), $"kg.gh".as("gh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cand = grams.select($"doc_id".as("doc_a"), $"pos".as("pa"), $"gh")
        .join(grams.select($"doc_id".as("doc_b"), $"pos".as("pb"), $"gh"), "gh")
        .filter($"doc_a" < $"doc_b")
        .select($"doc_a", $"doc_b", $"pa", ($"pa" - $"pb").as("diag"))
      val w = Window.partitionBy($"doc_a", $"doc_b", $"diag").orderBy($"pa")
      cand
        .withColumn("isl", $"pa" - row_number().over(w))
        .groupBy($"doc_a", $"doc_b", $"diag", $"isl")
        .agg(count(lit(1)).as("m"))
        .groupBy($"doc_a", $"doc_b")
        .agg((max($"m") + (k - 1)).as("max_run"))
        .filter($"max_run" >= 15)
        .orderBy($"doc_a", $"doc_b")
        .transform(graft.Exec.seal)
    } finally grams.unpersist(false)
  }

  /** Target dimensionality of [[qRandomProjection]]. */
  private val JlDims = 16

  /** q_random_projection — Johnson–Lindenstrauss random projection of
    * the embedding store to [[JlDims]] dimensions with a deterministic
    * ±1 sign matrix (Achlioptas 2003: Rademacher entries satisfy the
    * JL lemma with the same distortion bound as Gaussians, and ±1
    * turns the matrix multiply into integer adds). Emits each vector's
    * projected coordinates (serialized, exact integers in 1e-6 input
    * units) plus the JL distortion ratio ‖y‖²/(d′·‖x‖²), whose
    * expectation is exactly 1 under random signs — the operator is the
    * standard pre-pass that makes downstream ANN / clustering /
    * dedup distance work d′/d cheaper at controlled distortion.
    *
    * Determinism: components quantize to 1e-6 BIGINTs, so every
    * projected coordinate is an EXACT signed integer sum — no float
    * order sensitivity anywhere; the sign s(i,j) is the md5 first-hex
    * parity of the (dimension, target) pair, identical text in both
    * engines; only the final ratio divides, round6'd.
    *
    * Scale: the sign matrix is d·d′ rows built from the data's OWN
    * distinct dimension indices (no hardcoded width) and broadcasts;
    * the N·d explode combines map-side into (vec, j) partial sums, so
    * the one exchange carries N·d′ rows — d/d′ ≈ 4× LESS than the
    * input — and the serialize step is a per-vector d′-element
    * collect_list. No window over unbounded input, no self-join. */
  private def qRandomProjection(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val comps = Tables.load(s, dir, "embeddings")
      .select($"vec_id", posexplode($"embedding").as(Seq("i", "x")))
      .select($"vec_id", $"i",
        floor($"x".cast("double") * lit(1000000.0) + lit(0.5))
          .cast("long").as("qx"))
    val signs = comps.select($"i").distinct()
      .select($"i", explode(sequence(lit(0), lit(JlDims - 1))).as("j"))
      .withColumn("sgn", when(
        substring(md5(concat($"i".cast("string"), lit("_"),
          $"j".cast("string"))), 1, 1) < "8", lit(1L)).otherwise(lit(-1L)))
    comps
      .join(broadcast(signs), Seq("i"))
      .groupBy($"vec_id", $"j")
      .agg(sum($"sgn" * $"qx").as("y"), sum($"qx" * $"qx").as("sx2"))
      .groupBy($"vec_id")
      .agg(
        array_join(transform(
          sort_array(collect_list(struct($"j", $"y"))),
          e => e.getField("y").cast("string")), ",").as("y_proj"),
        sum($"y" * $"y").as("sy2"), max($"sx2").as("nx2"))
      .select($"vec_id", $"y_proj",
        when($"nx2" > 0, graft.Det.round6($"sy2".cast("double")
          / (lit(JlDims.toDouble) * $"nx2"))).as("jl_ratio"))
      .orderBy($"vec_id")
  }

  val queries: Map[String, Q] = Map(
    "q_random_projection" -> (qRandomProjection _),
    "q_substring_dedup" -> (qSubstringDedup _),
    "q_similarity_topk" -> (qSimilarityTopk _),
    "q_hard_negatives" -> (qHardNegatives _),
    "q_ann_lsh" -> (qAnnLsh _),
    "q_ann_ivf" -> (qAnnIvf _),
    "q_diverse_sample" -> (qDiverseSample _),
    "q_ann_pq" -> (qAnnPq _),
    "q_ann_ivfpq" -> (qAnnIvfPq _),
    "q_ann_rerank" -> (qAnnRerank _),
    "q_ann_recall" -> (qAnnRecall _),
    "q_ann_recall_ivf" -> (qAnnRecallIvf _),
    "q_ann_recall_lsh" -> (qAnnRecallLsh _),
    "q_bitext_mine" -> (qBitextMine _),
    "q_bitext_mine_indexed" -> (qBitextMineIndexed _),
    "q_bitext_pipeline" -> (qBitextPipeline _),
    "q_ann_search_indexed" -> (qAnnSearchIndexed _),
    "q_dedup_embedding" -> (qDedupEmbedding _),
    "q_semdedup" -> (qSemDedup _),
    "q_embed_coherence" -> (qEmbedCoherence _),
    "q_dedup_near" -> (qDedupNear _),
    "q_dedup_sorted_nbhd" -> (qDedupSortedNbhd _),
    "q_dedup_containment" -> (qDedupContainment _),
    "q_dedup_minhash_lsh" -> (qDedupMinhashLsh _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_simhash" -> (qDedupSimhash _),
    "q_decontaminate" -> (qDecontaminate _),
    "q_embed_quantize" -> (qEmbedQuantize _),
    "q_fuzzy_match" -> (qFuzzyMatch _),
    "q_entity_resolution" -> (qEntityResolution _),
    "q_multimodal_struct" -> (qMultimodalStruct _))

  private val DUCK_SHINGLES =
    """list_distinct(CASE WHEN len(string_split(lower(text), ' ')) >= 3 THEN
      |  list_transform(range(1, len(string_split(lower(text), ' ')) - 1), i ->
      |    string_split(lower(text), ' ')[i] || ' ' ||
      |    string_split(lower(text), ' ')[i + 1] || ' ' ||
      |    string_split(lower(text), ' ')[i + 2])
      | ELSE [lower(text)] END)""".stripMargin

  /** One unrolled Lloyd iteration as DuckDB CTEs: assign each vector to
    * its nearest cent{i-1} centroid (round6'd cosine, smallest-cid ties),
    * then cent{i} = per-dimension mean via the exact quantize→BIGINT-sum→
    * one-double-division pipeline [[kmeansCodebook]] uses. The two
    * `unnest`s in x$i zip positionally (pos, value). */
  private def duckIvfIter(i: Int): String = {
    val prev = if (i == 1) "cent0" else s"cent${i - 1}"
    s"""a$i AS (
         SELECT n.vec_id, c.cid,
                floor(list_dot_product(n.e, c.ce)
                      / (n.nrm * sqrt(list_dot_product(c.ce, c.ce)))
                      * 1000000.0 + 0.5) / 1000000.0 csim
         FROM n, $prev c),
       g$i AS (
         SELECT vec_id, cid cell FROM
           (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) rn FROM a$i)
         WHERE rn = 1),
       x$i AS (
         SELECT g$i.cell,
                unnest(range(1, len(n.e) + 1)) pos,
                unnest(n.e) val
         FROM n JOIN g$i ON n.vec_id = g$i.vec_id),
       u$i AS (
         SELECT cell, pos,
                CAST(SUM(CAST(floor(val * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) sv,
                count(*) cnt
         FROM x$i GROUP BY cell, pos),
       cent$i AS (
         SELECT cell cid, list(CAST(sv AS DOUBLE) / (cnt * 10000.0)
                               ORDER BY pos) ce
         FROM u$i GROUP BY cell)"""
  }

  /** q_ann_ivf oracle: replays the md5-seeded codebook, two unrolled
    * k-means iterations, then the assign/probe/search tail over the
    * TRAINED cent2 — every arithmetic step mirrors the Spark side
    * bit-for-bit (see [[kmeansCodebook]]). */
  private val DUCK_IVF =
    s"""WITH n AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) nrm
         FROM embeddings),
       $DUCK_IVF_PRM,
       cent0 AS (
         SELECT cid, e ce FROM
           (SELECT vec_id, e,
                   CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS BIGINT) cid
            FROM n)
         WHERE cid <= (SELECT c FROM prm)),
       ${duckIvfIter(1)},
       ${duckIvfIter(2)},
       fa AS (
         SELECT n.vec_id, c.cid,
                floor(list_dot_product(n.e, c.ce)
                      / (n.nrm * sqrt(list_dot_product(c.ce, c.ce)))
                      * 1000000.0 + 0.5) / 1000000.0 csim
         FROM n, cent2 c),
       ranked AS (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cid) arn
         FROM fa),
       cells AS (SELECT vec_id cand_id, cid cell FROM ranked WHERE arn = 1),
       probes AS (SELECT vec_id qid, cid cell FROM ranked
                  WHERE arn <= (SELECT np FROM prm) AND vec_id % 100 = 0),
       pairs AS (
         SELECT p.qid, a.cand_id cid, p.cell,
                floor(list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                      * 1000000.0 + 0.5) / 1000000.0 sim
         FROM probes p
         JOIN cells a ON a.cell = p.cell AND a.cand_id <> p.qid
         JOIN n q ON q.vec_id = p.qid
         JOIN n c ON c.vec_id = a.cand_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY qid
                                          ORDER BY sim DESC, cid) rn
             FROM pairs)
       SELECT qid, rn, cid, cell, sim FROM r WHERE rn <= 5
       ORDER BY qid, rn"""

  /** q_diverse_sample oracle: the same replayed codebook as [[DUCK_IVF]]
    * (cent0 + two unrolled Lloyd rounds), then per-cell argmax by
    * (similarity DESC, vec_id ASC) plus the cell population. */
  private val DUCK_DIVERSE =
    s"""WITH n AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) nrm
         FROM embeddings),
       cent0 AS (
         SELECT cid, e ce FROM
           (SELECT vec_id, e,
                   CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS BIGINT) cid
            FROM n)
         WHERE cid <= 8),
       ${duckIvfIter(1)},
       ${duckIvfIter(2)},
       fa AS (
         SELECT n.vec_id, c.cid,
                floor(list_dot_product(n.e, c.ce)
                      / (n.nrm * sqrt(list_dot_product(c.ce, c.ce)))
                      * 1000000.0 + 0.5) / 1000000.0 csim
         FROM n, cent2 c),
       cells AS (
         SELECT vec_id, cid cell, csim FROM
           (SELECT vec_id, cid, csim,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) rn FROM fa)
         WHERE rn = 1),
       sel AS (
         SELECT vec_id, cell, csim,
                row_number() OVER (PARTITION BY cell
                  ORDER BY csim DESC, vec_id) rn,
                count(*) OVER (PARTITION BY cell) cell_size
         FROM cells)
       SELECT cell, cell_size, vec_id AS rep_id, csim AS rep_sim
       FROM sel WHERE rn = 1 ORDER BY cell"""

  /** q_semdedup oracle: the same replayed codebook as [[DUCK_IVF]]
    * (cent0 + two unrolled Lloyd rounds), nearest-cell assignment, then
    * the within-cell smaller-id-neighbor aggregate at the same round6'd
    * threshold. */
  private val DUCK_SEMDEDUP =
    s"""WITH n AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) nrm
         FROM embeddings),
       cent0 AS (
         SELECT cid, e ce FROM
           (SELECT vec_id, e,
                   CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS BIGINT) cid
            FROM n)
         WHERE cid <= 8),
       ${duckIvfIter(1)},
       ${duckIvfIter(2)},
       fa AS (
         SELECT n.vec_id, c.cid,
                floor(list_dot_product(n.e, c.ce)
                      / (n.nrm * sqrt(list_dot_product(c.ce, c.ce)))
                      * 1000000.0 + 0.5) / 1000000.0 csim
         FROM n, cent2 c),
       cells AS (
         SELECT vec_id, cid cell FROM
           (SELECT vec_id, cid,
                   row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) rn FROM fa)
         WHERE rn = 1),
       m AS (SELECT c.vec_id, c.cell, n.e, n.nrm
             FROM cells c JOIN n ON n.vec_id = c.vec_id),
       dup AS (
         SELECT vec_id, count(*) n_dup_smaller, max(sim) max_dup_sim
         FROM (
           SELECT b.vec_id,
                  floor(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                        * 1000000.0 + 0.5) / 1000000.0 sim
           FROM m a JOIN m b ON a.cell = b.cell AND a.vec_id < b.vec_id)
         WHERE sim >= 0.30 GROUP BY vec_id)
       SELECT m.vec_id, m.cell,
              coalesce(d.n_dup_smaller, CAST(0 AS BIGINT)) AS n_dup_smaller,
              d.max_dup_sim,
              CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT)
                AS kept
       FROM m LEFT JOIN dup d ON d.vec_id = m.vec_id
       ORDER BY m.vec_id"""

  /** One PQ subspace as DuckDB CTEs (suffix `$m`, dims `lo..hi` of the
    * 64-dim vector): md5-ordered seeds, ONE Lloyd round via the same
    * quantize→BIGINT-sum→division pipeline as [[duckIvfIter]], then the
    * final code assignment `cd$m` and the query↔centroid lookup `lk$m`
    * with the similarity pre-quantized to BIGINT (exactly the Spark
    * side's floor(sim·1e6 + 0.5) longs). */
  private def duckPqSub(m: Int): String = {
    val sub = PqDims / PqDefaultM
    val lo = m * sub + 1
    val hi = m * sub + sub
    val csim =
      s"""floor(list_dot_product(n.e, c.ce)
                / (n.nrm * sqrt(list_dot_product(c.ce, c.ce)))
                * 1000000.0 + 0.5)"""
    s"""n$m AS (
         SELECT vec_id, e[$lo:$hi] e,
                sqrt(list_dot_product(e[$lo:$hi], e[$lo:$hi])) nrm
         FROM nv),
       c0$m AS (
         SELECT cid, e ce FROM
           (SELECT vec_id, e,
                   CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS BIGINT) cid
            FROM n$m)
         WHERE cid <= $PqDefaultK),
       a$m AS (
         SELECT n.vec_id, c.cid, $csim / 1000000.0 csim
         FROM n$m n, c0$m c),
       g$m AS (
         SELECT vec_id, cid cell FROM
           (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) rn FROM a$m)
         WHERE rn = 1),
       x$m AS (
         SELECT g$m.cell,
                unnest(range(1, len(n.e) + 1)) pos,
                unnest(n.e) val
         FROM n$m n JOIN g$m ON n.vec_id = g$m.vec_id),
       u$m AS (
         SELECT cell, pos,
                CAST(SUM(CAST(floor(val * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) sv,
                count(*) cnt
         FROM x$m GROUP BY cell, pos),
       ct$m AS (
         SELECT cell cid, list(CAST(sv AS DOUBLE) / (cnt * 10000.0)
                               ORDER BY pos) ce
         FROM u$m GROUP BY cell),
       fa$m AS (
         SELECT n.vec_id, c.cid, $csim / 1000000.0 csim
         FROM n$m n, ct$m c),
       cd$m AS (
         SELECT vec_id, $m m, cid code FROM
           (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) rn FROM fa$m)
         WHERE rn = 1),
       lk$m AS (
         SELECT n.vec_id qid, $m m, c.cid code,
                CAST($csim AS BIGINT) lq
         FROM n$m n, ct$m c WHERE n.vec_id % 100 = 0)"""
  }

  /** All [[PqDefaultM]] subspace blocks plus the `cds`/`lks` unions —
    * GENERATED from the same Scala constants the Spark side trains
    * with, so re-pinning (M, K) re-derives the oracle automatically. */
  private def duckPqAll: String = {
    val ms = 0 until PqDefaultM
    s"""${ms.map(duckPqSub).mkString(",\n       ")},
       cds AS (${ms.map(m => s"SELECT * FROM cd$m")
                  .mkString("\n               UNION ALL ")}),
       lks AS (${ms.map(m => s"SELECT * FROM lk$m")
                  .mkString("\n               UNION ALL ")})"""
  }

  /** q_ann_pq oracle: the replayed subspace codebooks + the integer ADC
    * sum — every arithmetic step mirrors the Spark side bit-for-bit. */
  private val DUCK_PQ =
    s"""WITH nv AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
       $duckPqAll,
       est AS (
         SELECT l.qid, c.vec_id cand, CAST(SUM(l.lq) AS BIGINT) sl
         FROM cds c JOIN lks l ON c.m = l.m AND c.code = l.code
         WHERE c.vec_id <> l.qid
         GROUP BY l.qid, c.vec_id),
       r AS (SELECT qid, cand, sl,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY sl DESC, cand) rn
             FROM est)
       SELECT qid, rn, cand AS cid, CAST(sl AS DOUBLE) / 1000000.0 AS score
       FROM r WHERE rn <= 5
       ORDER BY qid, rn"""

  /** q_ann_ivfpq oracle: coarse codebook (c-suffixed CTEs — the
    * subspace blocks own the bare numeric suffixes) + the four replayed
    * PQ codebooks + the cell-filtered integer ADC sum. */
  /** SimHash-bucket LSH top-5 SQL (the q_ann_lsh oracle) — also the
    * `approx` side of the q_ann_recall_lsh oracle. */
  private val DUCK_LSH =
    """WITH signs AS (
           SELECT j, list_transform(range(1, 65), i ->
             CASE WHEN (instr('0123456789abcdef',
                 substr(md5(CAST(j AS VARCHAR) || ':' || CAST(i AS VARCHAR)), 1, 1))
               - 1) % 2 = 1 THEN 1.0 ELSE -1.0 END) sv
           FROM range(0, 8) t(j)),
         n0 AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         bk AS (
           SELECT n0.vec_id,
                  CAST(sum(CASE WHEN list_dot_product(n0.e, s.sv) > 0
                           THEN CAST(power(2, s.j) AS BIGINT) ELSE 0 END) AS BIGINT)
                    bucket
           FROM n0, signs s GROUP BY n0.vec_id),
         n AS (SELECT n0.vec_id, n0.e, n0.nrm, bk.bucket
               FROM n0 JOIN bk USING (vec_id)),
         q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
         pairs AS (
           SELECT q.vec_id qid, q.bucket, c.vec_id cid,
                  floor(list_dot_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000.0 + 0.5) / 1000000.0 sim
           FROM q JOIN n c ON c.bucket = q.bucket AND c.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rn
               FROM pairs)
         SELECT qid, bucket, rn, cid, sim FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  /** Exact brute-force top-5 SQL (the q_similarity_topk oracle) — also
    * the `exact` side of the q_ann_recall oracle. */
  private val DUCK_TOPK =
    """WITH n AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[]))) nrm
         FROM embeddings),
       q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
       pairs AS (
         SELECT q.vec_id qid, c.vec_id cid,
                floor(list_dot_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000.0 + 0.5) / 1000000.0 sim
         FROM q JOIN n c ON c.vec_id <> q.vec_id),
       r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rn
             FROM pairs)
       SELECT qid, rn, cid, sim FROM r WHERE rn <= 5 ORDER BY qid, rn"""

  /** Shared prefix of the q_ann_ivfpq / q_ann_rerank oracles: training,
    * cell assignment, probes, the four subspace codebooks, and the ADC
    * estimate CTE `est (qid, cand, sl)` — mirrors [[IvfPq]]. */
  private val DUCK_IVFPQ_PREFIX = {
    val csim =
      s"""floor(list_dot_product(n.e, c.ce)
                / (n.nrm * sqrt(list_dot_product(c.ce, c.ce)))
                * 1000000.0 + 0.5)"""
    s"""WITH nv AS (
         SELECT vec_id, CAST(embedding AS DOUBLE[]) e FROM embeddings),
       n AS (
         SELECT vec_id, e, sqrt(list_dot_product(e, e)) nrm FROM nv),
       $DUCK_IVF_PRM,
       cent0 AS (
         SELECT cid, e ce FROM
           (SELECT vec_id, e,
                   CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                           vec_id) AS BIGINT) cid
            FROM n)
         WHERE cid <= (SELECT c FROM prm)),
       ac AS (
         SELECT n.vec_id, c.cid, $csim / 1000000.0 csim
         FROM n, cent0 c),
       gc AS (
         SELECT vec_id, cid cell FROM
           (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                     ORDER BY csim DESC, cid) rn FROM ac)
         WHERE rn = 1),
       xc AS (
         SELECT gc.cell,
                unnest(range(1, len(n.e) + 1)) pos,
                unnest(n.e) val
         FROM n JOIN gc ON n.vec_id = gc.vec_id),
       uc AS (
         SELECT cell, pos,
                CAST(SUM(CAST(floor(val * 10000.0 + 0.5) AS BIGINT)) AS BIGINT) sv,
                count(*) cnt
         FROM xc GROUP BY cell, pos),
       centc AS (
         SELECT cell cid, list(CAST(sv AS DOUBLE) / (cnt * 10000.0)
                               ORDER BY pos) ce
         FROM uc GROUP BY cell),
       fac AS (
         SELECT n.vec_id, c.cid, $csim / 1000000.0 csim
         FROM n, centc c),
       rankedc AS (
         SELECT vec_id, cid,
                row_number() OVER (PARTITION BY vec_id
                                   ORDER BY csim DESC, cid) arn
         FROM fac),
       cells AS (SELECT vec_id cand_id, cid cell FROM rankedc WHERE arn = 1),
       probes AS (SELECT vec_id qid, cid cell FROM rankedc
                  WHERE arn <= (SELECT np FROM prm) AND vec_id % 100 = 0),
       $duckPqAll,
       est AS (
         SELECT l.qid, c.vec_id cand, CAST(SUM(l.lq) AS BIGINT) sl
         FROM cds c
         JOIN lks l ON c.m = l.m AND c.code = l.code
         JOIN cells cl ON cl.cand_id = c.vec_id
         JOIN probes p ON p.qid = l.qid AND p.cell = cl.cell
         WHERE c.vec_id <> l.qid
         GROUP BY l.qid, c.vec_id)"""
  }

  private val DUCK_IVFPQ =
    s"""$DUCK_IVFPQ_PREFIX,
       r AS (SELECT qid, cand, sl,
                    row_number() OVER (PARTITION BY qid
                                       ORDER BY sl DESC, cand) rn
             FROM est)
       SELECT qid, rn, cand AS cid, CAST(sl AS DOUBLE) / 1000000.0 AS score
       FROM r WHERE rn <= 5
       ORDER BY qid, rn"""

  /** q_ann_rerank oracle: the identical IVF-PQ prefix, then the ADC
    * top-r per query re-scored EXACTLY against the raw vectors and cut
    * to top-5 — mirrors [[ivfPqRerankRanked]]'s tail bit-for-bit (same
    * round6 quantization, same tie-breaks, same r = [[RerankR]]). */
  private val DUCK_IVFPQ_RERANK =
    s"""$DUCK_IVFPQ_PREFIX,
       adc AS (SELECT qid, cand,
                      row_number() OVER (PARTITION BY qid
                                         ORDER BY sl DESC, cand) arn
               FROM est),
       candr AS (SELECT qid, cand FROM adc WHERE arn <= $RerankR),
       ex AS (SELECT c.qid, c.cand,
                     floor(list_dot_product(nq.e, nc.e)
                           / (nq.nrm * nc.nrm) * 1000000.0 + 0.5)
                       / 1000000.0 sim
              FROM candr c
              JOIN n nq ON nq.vec_id = c.qid
              JOIN n nc ON nc.vec_id = c.cand),
       rr AS (SELECT qid, cand, sim,
                     row_number() OVER (PARTITION BY qid
                                        ORDER BY sim DESC, cand) rn
              FROM ex)
       SELECT qid, rn, cand AS cid, sim
       FROM rr WHERE rn <= 5
       ORDER BY qid, rn"""

  /** The shared bitext margin/mutual-best tail (over a `pairs` CTE of
    * (aid, bid, cos6)) — mirrors [[bitextMargins]] bit-for-bit. */
  private val DUCK_BITEXT_TAIL =
    """fa AS (
           SELECT aid, CAST(sum(cos6) AS BIGINT) s_a, count(*) c_a FROM (
             SELECT aid, cos6, row_number() OVER (PARTITION BY aid
                      ORDER BY cos6 DESC, bid) rn
             FROM pairs) WHERE rn <= 3 GROUP BY aid),
         fb AS (
           SELECT bid, CAST(sum(cos6) AS BIGINT) s_b, count(*) c_b FROM (
             SELECT bid, cos6, row_number() OVER (PARTITION BY bid
                      ORDER BY cos6 DESC, aid) rn
             FROM pairs) WHERE rn <= 3 GROUP BY bid),
         scored AS (
           SELECT p.aid, p.bid, p.cos6,
                  2.0 * p.cos6 * fa.c_a * fb.c_b
                    / (fa.s_a * fb.c_b + fb.s_b * fa.c_a) margin_raw
           FROM pairs p JOIN fa ON p.aid = fa.aid JOIN fb ON p.bid = fb.bid),
         ranked AS (
           SELECT aid, bid, cos6, margin_raw,
                  row_number() OVER (PARTITION BY aid
                    ORDER BY margin_raw DESC, bid) fwd,
                  row_number() OVER (PARTITION BY bid
                    ORDER BY margin_raw DESC, aid) bwd
           FROM scored)
         SELECT aid, bid, CAST(cos6 AS DOUBLE) / 1000000.0 AS cos_sim,
                floor(margin_raw * 1000000.0 + 0.5) / 1000000.0 AS margin
         FROM ranked
         WHERE fwd = 1 AND bwd = 1 AND margin_raw > 1.0
         ORDER BY aid"""

  /** MinHash+LSH confirmed-pairs SQL (no final ORDER BY) — used directly
    * by the q_dedup_minhash_lsh oracle and as a nested CTE by the
    * q_dedup_clusters oracle. */
  private val DUCK_MINHASH_PAIRS =
    s"""WITH sh0 AS (SELECT doc_id,
                  ${DUCK_SHINGLE_HASH.replace("{SH}", DUCK_SHINGLES)} h FROM documents),
         hs AS (SELECT doc_id, h, len(h) n FROM sh0),
         sig AS (
           SELECT doc_id,
                  list_transform(range(0, 16), k ->
                    list_aggregate(list_transform(h, v ->
                      ((2 * k + 1) * v + 7919 * (k + 1)) % 1000000007), 'min')) sg
           FROM hs),
         banded AS (
           SELECT doc_id, unnest(range(0, 4)) b,
                  unnest(list_transform(range(0, 4), b ->
                    CAST(sg[4 * b + 1] AS VARCHAR) || '-' ||
                    CAST(sg[4 * b + 2] AS VARCHAR) || '-' ||
                    CAST(sg[4 * b + 3] AS VARCHAR) || '-' ||
                    CAST(sg[4 * b + 4] AS VARCHAR))) bh
           FROM sig),
         cand AS (
           SELECT DISTINCT x.doc_id a, y.doc_id b
           FROM banded x JOIN banded y
             ON x.b = y.b AND x.bh = y.bh AND x.doc_id < y.doc_id),
         jj AS (
           SELECT cand.a, cand.b,
                  len(list_intersect(xa.h, xb.h)) i, xa.n + xb.n AS nn
           FROM cand
           JOIN hs xa ON xa.doc_id = cand.a
           JOIN hs xb ON xb.doc_id = cand.b)
         SELECT a, b, floor(CAST(i AS DOUBLE) / (nn - i) * 1000000.0 + 0.5) / 1000000.0 jaccard
         FROM jj WHERE floor(CAST(i AS DOUBLE) / (nn - i) * 1000000.0 + 0.5) / 1000000.0 >= 0.6"""

  val oracles: Map[String, String] = Map(
    "q_random_projection" ->
      s"""WITH x AS (
           SELECT vec_id,
                  unnest(generate_series(0, len(embedding) - 1)) i,
                  CAST(floor(unnest(CAST(embedding AS DOUBLE[]))
                             * 1000000.0 + 0.5) AS BIGINT) qx
           FROM embeddings),
         sgn AS (
           SELECT d.i, j.j,
                  CASE WHEN substr(md5(CAST(d.i AS VARCHAR) || '_'
                              || CAST(j.j AS VARCHAR)), 1, 1) < '8'
                       THEN 1 ELSE -1 END sgn
           FROM (SELECT DISTINCT i FROM x) d,
                generate_series(0, ${JlDims - 1}) j(j)),
         yj AS (
           SELECT vec_id, j, CAST(sum(sgn * qx) AS BIGINT) y,
                  CAST(sum(qx * qx) AS BIGINT) sx2
           FROM x JOIN sgn ON x.i = sgn.i GROUP BY vec_id, j),
         v AS (
           SELECT vec_id,
                  string_agg(CAST(y AS VARCHAR), ',' ORDER BY j) y_proj,
                  CAST(sum(y * y) AS BIGINT) sy2,
                  CAST(max(sx2) AS BIGINT) nx2
           FROM yj GROUP BY vec_id)
         SELECT vec_id, y_proj,
                CASE WHEN nx2 > 0 THEN ${graft.Det.ROUND6(
        s"CAST(sy2 AS DOUBLE) / ($JlDims.0 * nx2)")}
                END AS jl_ratio
         FROM v ORDER BY vec_id""",
    "q_embed_coherence" ->
      """WITH n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e
           FROM embeddings),
         x AS (
           SELECT label,
                  unnest(range(1, len(e) + 1)) pos,
                  unnest(e) val
           FROM n),
         u AS (
           SELECT label, pos,
                  CAST(SUM(CAST(floor(val * 10000.0 + 0.5) AS BIGINT))
                       AS BIGINT) sv,
                  count(*) cnt
           FROM x GROUP BY label, pos),
         cent AS (
           SELECT label, list(CAST(sv AS DOUBLE) / (cnt * 10000.0)
                              ORDER BY pos) ce
           FROM u GROUP BY label)
         SELECT n.vec_id, n.label,
                floor(list_dot_product(n.e, c.ce)
                      / (sqrt(list_dot_product(n.e, n.e))
                         * sqrt(list_dot_product(c.ce, c.ce)))
                      * 1000000.0 + 0.5) / 1000000.0 AS coherence
         FROM n JOIN cent c ON n.label = c.label
         ORDER BY n.vec_id""",
    "q_substring_dedup" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') l FROM documents),
         g AS (
           SELECT doc_id, g AS pos, array_to_string(l[g:g+7], ' ') gram
           FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 7)) g
                 FROM toks WHERE len(l) >= 8)),
         cand AS (
           SELECT a.doc_id doc_a, b.doc_id doc_b, a.pos pa,
                  a.pos - b.pos diag
           FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id),
         runs AS (
           SELECT doc_a, doc_b, diag,
                  pa - row_number() OVER (
                    PARTITION BY doc_a, doc_b, diag ORDER BY pa) isl
           FROM cand),
         m AS (SELECT doc_a, doc_b, count(*) m
               FROM runs GROUP BY doc_a, doc_b, diag, isl)
         SELECT doc_a, doc_b, CAST(max(m) + 7 AS BIGINT) AS max_run
         FROM m GROUP BY doc_a, doc_b HAVING max(m) + 7 >= 15
         ORDER BY doc_a, doc_b""",
    "q_entity_resolution" ->
      """WITH RECURSIVE names AS (
           SELECT p_name, min(p_partkey) canon_id, count(*) n_parts,
                  string_split(p_name, ' ')[-1] block
           FROM part GROUP BY p_name),
         pr AS (
           SELECT a.canon_id id_a, b.canon_id id_b
           FROM names a JOIN names b
             ON a.block = b.block AND a.p_name < b.p_name
           WHERE levenshtein(a.p_name, b.p_name) <= 3),
         edges AS (SELECT id_a a, id_b b FROM pr
                   UNION SELECT id_b, id_a FROM pr),
         verts AS (SELECT DISTINCT a id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM verts
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id),
         lbl AS (
           SELECT n.p_name, n.n_parts,
                  coalesce(c.rep, n.canon_id) entity_id
           FROM names n LEFT JOIN comp c ON n.canon_id = c.id)
         SELECT entity_id, count(*) AS n_names,
                CAST(sum(n_parts) AS BIGINT) AS n_parts,
                min(p_name) AS canonical_name
         FROM lbl GROUP BY entity_id ORDER BY entity_id""",
    "q_fuzzy_match" ->
      """WITH names AS (
           SELECT p_name, min(p_partkey) canon_id, count(*) n_parts,
                  string_split(p_name, ' ')[-1] block
           FROM part GROUP BY p_name)
         SELECT a.p_name AS name_a, b.p_name AS name_b,
                a.canon_id AS id_a, b.canon_id AS id_b,
                a.n_parts AS n_a, b.n_parts AS n_b,
                CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist
         FROM names a JOIN names b
           ON a.block = b.block AND a.p_name < b.p_name
         WHERE levenshtein(a.p_name, b.p_name) <= 3
         ORDER BY name_a, name_b""",
    "q_similarity_topk" -> DUCK_TOPK,
    "q_ann_recall_ivf" ->
      s"""WITH approx AS ($DUCK_IVF),
         exact AS ($DUCK_TOPK),
         j AS (
           SELECT e.qid, count(a.cid) AS n_hit
           FROM exact e LEFT JOIN approx a
             ON a.qid = e.qid AND a.cid = e.cid
           GROUP BY e.qid)
         SELECT qid, n_hit,
                floor(CAST(n_hit AS DOUBLE) / 5.0 * 1000000.0 + 0.5)
                  / 1000000.0 AS recall_at_5
         FROM j ORDER BY qid""",
    "q_ann_recall" ->
      s"""WITH approx AS ($DUCK_IVFPQ),
         exact AS ($DUCK_TOPK),
         j AS (
           SELECT e.qid, count(a.cid) AS n_hit
           FROM exact e LEFT JOIN approx a
             ON a.qid = e.qid AND a.cid = e.cid
           GROUP BY e.qid)
         SELECT qid, n_hit,
                floor(CAST(n_hit AS DOUBLE) / 5.0 * 1000000.0 + 0.5)
                  / 1000000.0 AS recall_at_5
         FROM j ORDER BY qid""",
    "q_hard_negatives" ->
      """WITH n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         q AS (SELECT * FROM n WHERE vec_id % 100 = 0),
         pairs AS (
           SELECT q.vec_id qid, q.label qlabel, c.vec_id cid, c.label clabel,
                  floor(list_dot_product(q.e, c.e) / (q.nrm * c.nrm) * 1000000.0 + 0.5) / 1000000.0 sim
           FROM q JOIN n c ON c.label <> q.label),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY sim DESC, cid) rn
               FROM pairs)
         SELECT qid, qlabel, rn, cid, clabel, sim FROM r WHERE rn <= 5
         ORDER BY qid, rn""",
    "q_ann_lsh" -> DUCK_LSH,
    "q_ann_recall_lsh" ->
      s"""WITH approx AS ($DUCK_LSH),
         exact AS ($DUCK_TOPK),
         j AS (
           SELECT e.qid, count(a.cid) AS n_hit
           FROM exact e LEFT JOIN approx a
             ON a.qid = e.qid AND a.cid = e.cid
           GROUP BY e.qid)
         SELECT qid, n_hit,
                floor(CAST(n_hit AS DOUBLE) / 5.0 * 1000000.0 + 0.5)
                  / 1000000.0 AS recall_at_5
         FROM j ORDER BY qid""",
    "q_bitext_mine" ->
      s"""WITH n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         a AS (SELECT * FROM n WHERE vec_id % 2 = 0),
         b AS (SELECT * FROM n WHERE vec_id % 2 = 1),
         pairs AS (
           SELECT a.vec_id aid, b.vec_id bid,
                  CAST(floor(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                       * 1000000.0 + 0.5) AS BIGINT) cos6
           FROM a JOIN b ON a.label = b.label),
         $DUCK_BITEXT_TAIL""",
    "q_bitext_mine_indexed" ->
      s"""WITH n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         $DUCK_IVF_PRM,
         cent0 AS (
           SELECT cid, e ce FROM
             (SELECT vec_id, e,
                     CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)),
                                             vec_id) AS BIGINT) cid
              FROM n)
           WHERE cid <= (SELECT c FROM prm)),
         ${duckIvfIter(1)},
         fcx AS (
           SELECT n.vec_id, c.cid,
                  floor(list_dot_product(n.e, c.ce)
                        / (n.nrm * sqrt(list_dot_product(c.ce, c.ce)))
                        * 1000000.0 + 0.5) / 1000000.0 csim
           FROM n, cent1 c),
         cellsx AS (
           SELECT vec_id, cid cell FROM
             (SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id
                       ORDER BY csim DESC, cid) rn FROM fcx)
           WHERE rn = 1),
         a AS (SELECT n.*, cx.cell FROM n JOIN cellsx cx USING (vec_id)
               WHERE n.vec_id % 2 = 0),
         b AS (SELECT n.*, cx.cell FROM n JOIN cellsx cx USING (vec_id)
               WHERE n.vec_id % 2 = 1),
         pairs AS (
           SELECT a.vec_id aid, b.vec_id bid,
                  CAST(floor(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                       * 1000000.0 + 0.5) AS BIGINT) cos6
           FROM a JOIN b ON a.cell = b.cell),
         $DUCK_BITEXT_TAIL""",
    "q_bitext_pipeline" ->
      s"""WITH keep AS (
           SELECT min(vec_id) vec_id FROM embeddings GROUP BY embedding),
         n AS (
           SELECT e.vec_id, e.label, CAST(e.embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                        CAST(e.embedding AS DOUBLE[]))) nrm
           FROM embeddings e JOIN keep USING (vec_id)),
         a AS (SELECT * FROM n WHERE vec_id % 2 = 0),
         b AS (SELECT * FROM n WHERE vec_id % 2 = 1),
         pairs AS (
           SELECT a.vec_id aid, b.vec_id bid,
                  CAST(floor(list_dot_product(a.e, b.e) / (a.nrm * b.nrm)
                       * 1000000.0 + 0.5) AS BIGINT) cos6
           FROM a JOIN b ON a.label = b.label),
         $DUCK_BITEXT_TAIL""",
    "q_ann_ivf" -> DUCK_IVF,
    "q_diverse_sample" -> DUCK_DIVERSE,
    "q_semdedup" -> DUCK_SEMDEDUP,
    "q_ann_pq" -> DUCK_PQ,
    "q_ann_ivfpq" -> DUCK_IVFPQ,
    "q_ann_rerank" -> DUCK_IVFPQ_RERANK,
    // the search-indexed split produces bit-identical output to
    // q_ann_ivfpq by construction (deterministic training persisted to
    // parquet, doubles round-trip exactly) — the shared oracle replays
    // the training+search composition from the raw embeddings, proving
    // the stored index loses nothing vs retraining
    "q_ann_search_indexed" -> DUCK_IVFPQ,
    "q_dedup_embedding" ->
      """WITH n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings)
         SELECT x.vec_id a, y.vec_id b, x.label,
                floor(list_dot_product(x.e, y.e) / (x.nrm * y.nrm) * 1000000.0 + 0.5) / 1000000.0 sim
         FROM n x JOIN n y ON x.label = y.label AND x.vec_id < y.vec_id
         WHERE floor(list_dot_product(x.e, y.e) / (x.nrm * y.nrm) * 1000000.0 + 0.5) / 1000000.0 >= 0.4
         ORDER BY a, b""",
    "q_dedup_containment" ->
      s"""WITH sh0 AS (SELECT doc_id, source,
                  ${DUCK_SHINGLE_HASH.replace("{SH}", DUCK_SHINGLES)} h FROM documents),
         sh AS (SELECT doc_id, source, h, len(h) n FROM sh0),
         p AS (
           SELECT x.doc_id a, y.doc_id b, x.source,
                  floor(len(list_intersect(x.h, y.h)) * 1.0 / x.n
                        * 1000000.0 + 0.5) / 1000000.0 c
           FROM sh x JOIN sh y
             ON x.source = y.source AND x.doc_id <> y.doc_id)
         SELECT a, b, source, c AS containment
         FROM p WHERE c >= 0.8 ORDER BY a, b""",
    "q_dedup_near" ->
      s"""WITH sh0 AS (SELECT doc_id, source,
                  ${DUCK_SHINGLE_HASH.replace("{SH}", DUCK_SHINGLES)} h FROM documents),
         sh AS (SELECT doc_id, source, h, len(h) n FROM sh0),
         p AS (
           SELECT x.doc_id a, y.doc_id b, x.source,
                  len(list_intersect(x.h, y.h)) i, x.n + y.n AS nn
           FROM sh x JOIN sh y
             ON x.source = y.source AND x.doc_id < y.doc_id
            AND least(x.n, y.n) * 10 >= greatest(x.n, y.n) * 6)
         SELECT a, b, source, floor(CAST(i AS DOUBLE) / (nn - i) * 1000000.0 + 0.5) / 1000000.0 jaccard
         FROM p WHERE floor(CAST(i AS DOUBLE) / (nn - i) * 1000000.0 + 0.5) / 1000000.0 >= 0.6
         ORDER BY a, b""",
    "q_dedup_sorted_nbhd" ->
      s"""WITH k AS (
           SELECT doc_id, source,
                  array_to_string(list_slice(list_sort(list_distinct(
                    string_split(lower(text), ' '))), 1, 3), ' ') skey
           FROM documents),
         r AS (
           SELECT doc_id, source,
                  row_number() OVER (PARTITION BY source
                    ORDER BY skey, doc_id) rn
           FROM k),
         cand AS (
           SELECT DISTINCT x.source,
                  least(x.doc_id, y.doc_id) a,
                  greatest(x.doc_id, y.doc_id) b
           FROM r x JOIN r y
             ON x.source = y.source AND y.rn > x.rn AND y.rn <= x.rn + 5),
         sh0 AS (SELECT doc_id,
                  ${DUCK_SHINGLE_HASH.replace("{SH}", DUCK_SHINGLES)} h FROM documents),
         sh AS (SELECT doc_id, h, len(h) n FROM sh0),
         p AS (
           SELECT c.a, c.b, c.source,
                  len(list_intersect(xa.h, xb.h)) i, xa.n + xb.n AS nn
           FROM cand c
           JOIN sh xa ON xa.doc_id = c.a
           JOIN sh xb ON xb.doc_id = c.b)
         SELECT a, b, source, floor(CAST(i AS DOUBLE) / (nn - i) * 1000000.0 + 0.5) / 1000000.0 jaccard
         FROM p WHERE floor(CAST(i AS DOUBLE) / (nn - i) * 1000000.0 + 0.5) / 1000000.0 >= 0.6
         ORDER BY a, b""",
    "q_dedup_minhash_lsh" -> (DUCK_MINHASH_PAIRS + " ORDER BY a, b"),
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE pr AS ($DUCK_MINHASH_PAIRS),
         edges AS (SELECT a, b FROM pr UNION SELECT b, a FROM pr),
         verts AS (SELECT DISTINCT a AS id FROM edges),
         reach(id, r) AS (
           SELECT id, id FROM verts
           UNION
           SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b),
         comp AS (SELECT id, min(r) AS rep FROM reach GROUP BY id)
         SELECT rep AS cluster_rep,
                count(*) AS n_members,
                string_agg(CAST(id AS VARCHAR), ',' ORDER BY id) AS members
         FROM comp GROUP BY rep ORDER BY cluster_rep""",
    "q_decontaminate" ->
      s"""WITH sh0 AS (SELECT doc_id,
                  ${DUCK_SHINGLE_HASH.replace("{SH}", DUCK_SHINGLES)} h FROM documents),
         corp AS (SELECT doc_id, unnest(h) AS hh FROM sh0
                  WHERE doc_id % 13 <> 0),
         bench AS (
           SELECT hh, min(doc_id) AS bench_min
           FROM (SELECT doc_id, unnest(h) AS hh FROM sh0
                 WHERE doc_id % 13 = 0)
           GROUP BY hh)
         SELECT c.doc_id, count(*) AS n_shared, min(b.bench_min) AS bench_doc
         FROM corp c JOIN bench b ON b.hh = c.hh
         GROUP BY c.doc_id HAVING count(*) >= 2
         ORDER BY c.doc_id""",
    "q_embed_quantize" ->
      """WITH n AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         q AS (SELECT vec_id, e, nrm,
                      list_transform(e, x ->
                        CAST(floor(x * 127.0 / nrm + 0.5) AS BIGINT)) qv
               FROM n WHERE nrm > 0.0)
         SELECT vec_id,
                CAST(len(e) AS BIGINT) AS dim,
                floor(nrm * 1000000.0 + 0.5) / 1000000.0 AS nrm6,
                CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min,
                CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max,
                CAST(list_aggregate(qv, 'sum') AS BIGINT) AS q_sum,
                list_reduce(list_prepend(CAST(0 AS BIGINT), qv),
                            (a, v) -> (a * 31 + v + 128) % 1000000007)
                  AS q_checksum
         FROM q ORDER BY vec_id""",
    "q_dedup_simhash" ->
      """WITH hh AS (
           SELECT doc_id,
                  list_transform(string_split(lower(text), ' '), t -> md5(t)) hs
           FROM documents),
         s AS (
           SELECT doc_id,
                  CAST(list_sum(list_transform(range(1, 17), j -> CASE WHEN
                    list_sum(list_transform(hs, h ->
                      CASE WHEN (instr('0123456789abcdef', substr(h, j, 1)) - 1) % 2 = 1
                           THEN 1 ELSE -1 END)) > 0
                    THEN CAST(power(2, j - 1) AS BIGINT) ELSE 0 END)) AS BIGINT) simhash
           FROM hh)
         SELECT simhash, count(*) n_docs, min(doc_id) min_doc
         FROM s GROUP BY simhash HAVING count(*) > 1 ORDER BY simhash""",
    "q_multimodal_struct" ->
      """SELECT doc_id, lang, source,
                CAST(len(embedding) AS BIGINT) dim,
                floor(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                      CAST(embedding AS DOUBLE[]))) * 1000000.0 + 0.5)
                  / 1000000.0 AS vec_norm,
                CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens
         FROM documents JOIN embeddings ON doc_id = vec_id
         WHERE lang = 'en'
         ORDER BY doc_id""")
}
