package graft.operators

import graft.{Det, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

/** ML feature-engineering and model-evaluation operators (north-star
  * §2 extensions — the reference's 258 LoC has no modeling surface;
  * these are the aggregate-shaped "train/evaluate as a query" passes a
  * training-data team runs NEXT to curation: target encoding before a
  * GBM, AUC/calibration on a quality classifier's scores, a Benford
  * audit on ingested financials, PCA loadings over the embedding
  * store).
  *
  * Everything is expressed as scans + keyed aggregations — model state
  * (encodings, class priors, eigenvector iterates) is always a
  * GROUP-sized relation that BROADCASTS back onto fact rows, never a
  * fact-sized intermediate. Determinism follows the repo-wide t2
  * discipline: exact DECIMAL/BIGINT sums ([[Det]]), rationals kept as
  * integers until one final division, `round6` on every emitted score.
  */
object MlOps extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Per-doc ASCII-letter fraction on the 1e-6 grid — the shared
    * "classifier score" of [[qAuc]] and [[qCalibrationBins]] (an honest
    * stand-in model: e vs zh separates, de/es/fr overlap — exactly the
    * imperfect-classifier regime calibration/AUC exist for). One
    * codegen'd projection; the binary label rides along. */
  private def scored(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // An empty doc has no letter fraction (0/0); exclude it in BOTH
    // engines rather than inherit their differing div-by-zero semantics
    // (NaN in Spark non-ANSI, NULL/err in DuckDB).
    t(s, dir, "documents")
      .filter(length($"text") > 0)
      .select(
        $"doc_id", $"source",
        Det.round6(
          length(regexp_replace(lower($"text"), "[^a-z]", "")).cast(DoubleType)
            / length($"text").cast(DoubleType)).as("score"),
        when($"lang" === "en", 1L).otherwise(0L).as("pos"))
  }

  private val ScoredSql =
    """SELECT doc_id, source,
              floor(CAST(length(regexp_replace(lower(text), '[^a-z]', '', 'g'))
                         AS DOUBLE)
                    / CAST(length(text) AS DOUBLE) * 1000000.0 + 0.5)
                / 1000000.0 AS score,
              CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
       FROM documents WHERE length(text) > 0"""

  /** q_auc — ROC AUC of a classifier score, per corpus slice: the
    * model-evaluation pass every quality-filter deployment runs
    * (Mann–Whitney rank-sum form, tie-aware). Per (source, score) cell:
    * p positives, q negatives; U = Σ_cells p·(negatives strictly below
    * + q/2), AUC = U/(P·Q). The whole statistic stays INTEGER —
    * 2U = Σ p·(2·cum_neg_below + q) — until one final division, so
    * both engines hash identical bits with no float sums anywhere.
    *
    * Plan: one corpus scan → (source, score)-keyed partial-aggregated
    * groupBy (cells, not rows) → a source-partitioned cumulative window
    * over the CELL relation (distinct-score-sized, uniform) → one
    * G-row aggregate. At 100 TB the only fact-sized exchange is the
    * first combine; everything downstream is #distinct-scores rows. */
  private def qAuc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cells = scored(s, dir)
      .groupBy($"source", $"score")
      .agg(sum($"pos").as("p"), sum(lit(1L) - $"pos").as("q"))
    val w = Window.partitionBy($"source").orderBy($"score")
      .rowsBetween(Window.unboundedPreceding, -1)
    cells
      .withColumn("cumq", coalesce(sum($"q").over(w), lit(0L)))
      .groupBy($"source")
      .agg(sum($"p").cast(LongType).as("n_pos"),
        sum($"q").cast(LongType).as("n_neg"),
        sum($"p" * (lit(2L) * $"cumq" + $"q")).cast(LongType).as("u2"))
      .select($"source", $"n_pos", $"n_neg",
        when($"n_pos" > 0 && $"n_neg" > 0,
          Det.round6($"u2".cast(DoubleType)
            / (lit(2.0) * $"n_pos" * $"n_neg"))).as("auc"))
      .orderBy($"source")
  }

  /** q_calibration_bins — reliability diagram of the same score:
    * equal-width 2%-binned mean predicted score vs observed positive
    * rate plus
    * a per-bin Brier term, the standard "is the quality model's 0.8
    * actually 80%?" audit. Scores sit on the 1e-6 grid, so the mean is
    * an exact BIGINT sum ÷ (n·1e6); the Brier sum quantizes each
    * squared residual (exact IEEE: grid value minus 0/1, squared) to
    * 1e-12 before the integer sum. Equal-WIDTH bins (not ntile
    * deciles) on purpose: rank-based binning needs a global sort of
    * the corpus, width-based is one combine-all-the-way groupBy on a
    * 50-value key — at 100 TB this is a single fact-combine into ≤50
    * rows. */
  private def qCalibrationBins(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q6 = floor($"score" * lit(1000000.0) + lit(0.5)).cast(LongType)
    val resid = $"score" - $"pos".cast(DoubleType)
    scored(s, dir)
      .withColumn("bin", least(floor($"score" * lit(50.0)), lit(49.0))
        .cast(LongType))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"), sum($"pos").cast(LongType).as("n_pos"),
        sum(q6).as("sq6"),
        sum(floor(resid * resid * lit(1000000000000.0) + lit(0.5))
          .cast(LongType)).as("sb12"))
      .select($"bin", $"n", $"n_pos",
        ($"sq6".cast(DoubleType) / ($"n" * lit(1000000.0)))
          .as("mean_score"),
        Det.round6($"n_pos".cast(DoubleType) / $"n").as("pos_rate"),
        ($"sb12".cast(DoubleType) / ($"n" * lit(1000000000000.0)))
          .as("brier"))
      .orderBy($"bin")
  }

  /** q_target_encoding — leave-one-out smoothed mean-target encoding of
    * a categorical (c_mktsegment → customer revenue), the classic
    * pre-GBM feature transform (Micci-Barreca 2001). LOO removes the
    * row's own target from its segment mean — the leakage guard that
    * distinguishes this from a plain per-group average — and smoothing
    * (m=10) shrinks small segments toward the global mean:
    * enc_i = (seg_sum − own_i + m·ḡ) / (seg_n − 1 + m).
    *
    * Plan: fact combines to a per-customer DECIMAL-exact revenue (the
    * only fact-sized exchange), left-joined onto the customer dim
    * (no-order customers encode with own=0, still counted); segment
    * stats (G=5 rows) and the global mean (1 row) ride back by
    * broadcast. Numerators stay on the 1e-4 revenue grid as BIGINTs;
    * the encoding is one double expression with identical association
    * on both engines, round6'd. */
  private def qTargetEncoding(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rev = t(s, dir, "orders").groupBy($"o_custkey")
      .agg(sum($"o_totalprice".cast(graft.operators.MlOps.Dec))
        .cast(graft.operators.MlOps.Dec).as("rev"))
    val cust = t(s, dir, "customer")
      .join(rev, $"c_custkey" === $"o_custkey", "left")
      .select($"c_custkey", $"c_mktsegment",
        coalesce(($"rev" * lit(10000)).cast(LongType), lit(0L)).as("rq"))
    val seg = cust.groupBy($"c_mktsegment".as("seg"))
      .agg(count(lit(1)).as("seg_n"), sum($"rq").as("seg_sq"))
    val glob = seg.agg(sum($"seg_n").as("g_n"), sum($"seg_sq").as("g_sq"))
    cust
      .join(broadcast(seg), $"c_mktsegment" === $"seg")
      .crossJoin(broadcast(glob))
      .select($"c_custkey", $"c_mktsegment",
        ($"rq".cast(DoubleType) / lit(10000.0)).as("cust_rev"),
        $"seg_n",
        Det.round6(
          (($"seg_sq" - $"rq").cast(DoubleType) / lit(10000.0)
            + lit(10.0) * ($"g_sq".cast(DoubleType)
              / lit(10000.0) / $"g_n".cast(DoubleType)))
            / (($"seg_n" - lit(1L) + lit(10L)).cast(DoubleType)))
          .as("enc"))
      .orderBy($"c_custkey")
  }

  /** q_benford — first-significant-digit audit of o_totalprice against
    * Benford's law, the forensic screen a pipeline runs on ingested
    * financial columns (Nigrini 2012). The digit comes from the
    * INTEGER-STRING prefix (both engines render BIGINT identically) —
    * never from floor(log10(x)), whose last-ulp disagreement at powers
    * of ten would mis-bin. Expected mass log10(1+1/d) is irrational, so
    * engine-native log10 is safe under round6; observed−expected stays
    * exact (both already on the 1e-6 grid). One scan combining into 9
    * rows; the total rides the digit relation as a whole-relation
    * window (free at 9 rows — the q_unigram_logprob pattern). */
  private def qBenford(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val digit = substring(floor($"o_totalprice").cast(LongType)
      .cast("string"), 1, 1).cast(LongType)
    // Benford's law is defined on magnitudes >= 1: values in [0,1)
    // would bin to digit 0 (exp_freq = log10(1+1/0) diverges) and
    // negatives would put '-' in front of the prefix (NULL in Spark,
    // a cast error in DuckDB). Guard the domain in BOTH engines so
    // the query is safe beyond the TPC-H generator's positive prices.
    t(s, dir, "orders")
      .filter($"o_totalprice" >= 1)
      .select(digit.as("digit"))
      .groupBy($"digit").agg(count(lit(1)).as("n"))
      // bounded: ≤9 rows (one per leading digit) reach this window
      .withColumn("n_total", sum($"n").over(Window.partitionBy()))
      .select($"digit", $"n",
        Det.round6($"n".cast(DoubleType) / $"n_total").as("obs_freq"),
        Det.round6(log10(lit(1.0) + lit(1.0) / $"digit")).as("exp_freq"),
        (Det.round6($"n".cast(DoubleType) / $"n_total")
          - Det.round6(log10(lit(1.0) + lit(1.0) / $"digit"))).as("dev"))
      .orderBy($"digit")
  }

  /** q_recommend_cooccur — directional item-to-item recommendations
    * ("customers whose baskets had A also had B"): per-item top-3
    * co-purchased parts ranked by CONFIDENCE P(B|A) = sup(A,B)/c(A),
    * lift as the chance-correction tiebreak column. Distinct from
    * [[Analytics]]'s q_market_basket (symmetric a<b support pairs):
    * this is the per-item DIRECTIONAL rec list a retrieval system
    * serves, cut by a rank window.
    *
    * Scale: the shared [[Baskets.pairCore]] discipline — a cheap probe
    * routes between the single-shuffle collect_set fast path (no hot
    * items) and the occurrence-level prune+cap production path (pair
    * volume bounded by Σ per-basket k², every item's multiplicity ≤
    * [[Baskets.DefaultCap]]); the rank window partitions by part_a and
    * Spark cuts it with WindowGroupLimit, so no partition materializes
    * more than its top rows. Confidence divides by the CAPPED per-item
    * count (a coherent P(B|A) within the sample). Support is
    * symmetric: each unordered pair is counted ONCE (a<b halves the
    * pair volume and its groupBy exchange) and the counted relation is
    * mirrored — the directional table costs a union of the small
    * survivors, not a second fact-sized pair generation. Confidence
    * and lift stay exact-integer until one final division each. */
  private def qRecommendCooccur(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val core = Baskets.pairCore(
      t(s, dir, "lineitem").select($"l_orderkey", $"l_partkey"),
      "l_partkey", "l_orderkey")
    try {
      val sup = core.supHalf.unionByName(core.supHalf.select(
        $"part_b".as("part_a"), $"part_a".as("part_b"), $"support"))
      val conf = Det.round6($"support".cast(DoubleType)
        / $"c_a".cast(DoubleType))
      val lift = Det.round6(($"n_baskets".cast(DoubleType)
        * $"support".cast(DoubleType))
        / ($"c_a".cast(DoubleType) * $"c_b".cast(DoubleType)))
      val w = Window.partitionBy($"part_a")
        .orderBy($"confidence".desc, $"support".desc, $"part_b")
      sup
        .join(broadcast(core.freq.select($"l_partkey".as("part_a"),
          $"c".as("c_a"))), "part_a")
        .join(broadcast(core.freq.select($"l_partkey".as("part_b"),
          $"c".as("c_b"))), "part_b")
        .crossJoin(broadcast(core.baskets))
        .select($"part_a", $"part_b", $"support",
          conf.as("confidence"), lift.as("lift"))
        .withColumn("rn", row_number().over(w).cast(LongType))
        .filter($"rn" <= 3)
        .orderBy($"part_a", $"rn")
        .transform(graft.Exec.seal)
    } finally {
      core.release()
    }
  }

  /** q_naive_bayes — multinomial naive-Bayes language identification,
    * trained AND applied in one query (resubstitution scoring): class
    * priors and Laplace-smoothed token likelihoods are aggregations
    * over the corpus; each doc's posterior is Σ tf·ln p(tok|lang) +
    * ln p(lang), argmax over the 5 classes — "training a classifier IS
    * a groupBy" is the whole point of doing ML inside the engine.
    *
    * Determinism (the q_unigram_logprob discipline): every ln is
    * quantized to a 1e-6 BIGINT at the (lang, token) cell — the
    * per-doc score is then an exact integer sum, and the argmax
    * compares integers (ties broken lang-ascending), so an ulp of
    * libm difference can never flip a prediction.
    *
    * Scale: ONE corpus tokenize builds the (doc, lang, token, tf)
    * relation — size-routed between recompute (fixture scale) and a
    * persisted hub (production; see the routing comment in the body) —
    * consumed by cell training and doc scoring; the model (vocab×5 cells + 5
    * priors) is vocabulary-sized and BROADCASTS into the scoring join;
    * scoring is a (doc, lang)-keyed combine of ≤5× the token stream.
    * The rank window cuts with WindowGroupLimit. Unseen (lang, token)
    * pairs coalesce to the class's smoothed-zero likelihood, carried
    * on the 5-row lang dim — no vocab×5 densification anywhere. */
  private def qNaiveBayes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // tf has THREE consumers with disjoint downstream keys (cells,
    // docT, adj): uncached, the plan scans the corpus 8× with zero
    // exchange reuse (measured, final adaptive plan) — so the hub is
    // size-routed; TimeQ warm 4.4 → 1.9 s at sf0.1 on the recompute
    // route (see Exec.sizedHub).
    val (tf, release) = graft.Exec.sizedHub(
      t(s, dir, "documents")
        .select($"doc_id", $"lang",
          explode(split(lower($"text"), " ")).as("token"))
        .groupBy($"doc_id", $"lang", $"token").agg(count(lit(1)).as("tf")),
      Tables.rowCount(s, dir, "documents"))
    try {
      // Per-(class,token) counts and class totals fold into ONE
      // vocabulary-sized cell relation (class totals are a window
      // PARTITIONED by class). The two GLOBAL scalars — vocab size and
      // total doc count — are distributed aggregates broadcast back as
      // 1-row dims: a global window for them would funnel the
      // vocab×classes relation through a single task at 100 TB (the
      // PlanShapeSpec unpartitioned-window sweep guards this), while an
      // aggregate combines map-side and costs one tiny broadcast each.
      // cells and docT ride the SAME size route as tf: on the persisted
      // (production) route cells is consumed 4× (model's two arms ×
      // classes/dq) and docT 2× — each a fact-derived shuffle with zero
      // exchange reuse, so past the threshold they must cache too or
      // the cached tf gets re-aggregated per consumer.
      val (cells, cellsRel) = graft.Exec.sizedHub(
        tf.groupBy($"lang", $"token")
          .agg(sum($"tf").as("c"))
          .withColumn("tot", sum($"c").over(Window.partitionBy($"lang"))),
        Tables.rowCount(s, dir, "documents"))
      val model = cells.crossJoin(broadcast(
        cells.agg(countDistinct($"token").as("v"))))
      // Class doc counts come from the DOC-sized (doc, lang) relation the
      // scoring base needs anyway (a doc carries one lang, so a plain
      // count over it equals countDistinct(doc_id) over the fact-sized
      // token stream — without the extra distinct's two shuffle stages).
      val (docT, docTRel) = graft.Exec.sizedHub(
        tf.groupBy($"doc_id", $"lang")
          .agg(sum($"tf").as("t_doc")),
        Tables.rowCount(s, dir, "documents"))
      val priors0 = docT.groupBy($"lang".as("cand"))
        .agg(count(lit(1)).as("ndx"))
      val priors = priors0.crossJoin(broadcast(
        priors0.agg(sum($"ndx").as("nd_all"))))
      val classes = model.select($"lang".as("cand"), $"tot", $"v").distinct()
        .join(broadcast(priors), "cand")
        .select($"cand", $"tot", $"v",
          floor(log(lit(1.0) / ($"tot" + $"v").cast(DoubleType))
            * lit(1000000.0) + lit(0.5)).cast(LongType).as("q0"),
          floor(log($"ndx".cast(DoubleType) / $"nd_all")
            * lit(1000000.0) + lit(0.5)).cast(LongType).as("qprior"))
      val w = Window.partitionBy($"doc_id")
        .orderBy($"score_q".desc, $"cand")
      // Sparse scoring decomposition (exactly equal in integer math):
      //   Σ_t tf·coalesce(qlp, q0)  =  q0·T_doc + Σ_{seen} tf·(qlp − q0)
      // so the token stream is NEVER replicated ×|classes| — the dense
      // base rides the doc-sized total-token relation, and the fact-sized
      // join touches only (token ⋈ model) hits (≤ langs-containing-token
      // rows per token, not 5). Both qlp and q0 are functions of the
      // model row's own (c, tot, v), so dq needs NO join with `classes`
      // — quantized separately, exactly as `classes` quantizes q0, to
      // keep the subtraction bit-identical with the dense-base term.
      val dq = model
        .select($"lang".as("cand"), $"token",
          (floor(log(($"c" + lit(1L)).cast(DoubleType)
              / ($"tot" + $"v").cast(DoubleType))
              * lit(1000000.0) + lit(0.5)).cast(LongType)
            - floor(log(lit(1.0) / ($"tot" + $"v").cast(DoubleType))
              * lit(1000000.0) + lit(0.5)).cast(LongType)).as("dq"))
      val adj = tf.join(broadcast(dq), Seq("token"))
        .groupBy($"doc_id", $"cand").agg(sum($"tf" * $"dq").as("adj"))
      try docT
        .crossJoin(broadcast(classes.select($"cand", $"q0", $"qprior")))
        .join(adj, Seq("doc_id", "cand"), "left")
        .select($"doc_id", $"lang", $"cand",
          ($"qprior" + $"q0" * $"t_doc" + coalesce($"adj", lit(0L)))
            .as("score_q"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"lang".as("lang_true"),
          $"cand".as("lang_pred"),
          ($"score_q".cast(DoubleType) / lit(1000000.0)).as("log_post"),
          ($"cand" === $"lang").as("correct"))
        .orderBy($"doc_id")
        .transform(graft.Exec.seal)
      finally { cellsRel(); docTRel() }
    } finally release()
  }

  /** q_pca_power — top principal component of the embedding store via
    * three unrolled power iterations over the d×d covariance: the
    * dimensionality-reduction / drift-diagnostic pass an embedding
    * pipeline runs (is one direction eating the variance?). "Training"
    * is again pure aggregation: mean (d rows), covariance (d² rows),
    * then three matrix-vector hops on the d²-sized model — never a
    * fact-sized intermediate.
    *
    * Plan: TWO narrow corpus passes — mean (combine to d rows), then
    * covariance (double-posexplode to n·d² quantized products, combined
    * map-side to d² cells). Deliberately NOT one pass over a persisted
    * n·d explode: a fact-sized cache is exactly what a 100 TB plan must
    * not assume (the q_retention_cohort note); d² per row is the honest
    * cost of exact covariance and combines before any exchange. Every
    * iteration is a d²⋈d broadcast join + d-row combine — driver
    * iterates a FIXED count, never data.
    *
    * Determinism: inputs quantize to the 1e-4 grid; every sum
    * (covariance products 1e-8, matvec terms 1e-12, norm squares
    * 1e-12) is an exact BIGINT sum of identically-quantized IEEE
    * products; sqrt is irrational-safe under round6; iterates re-enter
    * on the 1e-6 grid. The sign is canonicalized (Σ⌊v·1e6⌋ ≥ 0) and
    * the flip re-rounds so −0.0 can't leak into the hash. */
  private def qPcaPower(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val xq = floor($"xi".cast(DoubleType) * lit(10000.0) + lit(0.5))
      .cast(LongType)
    val a = emb.select($"vec_id", $"embedding",
      posexplode($"embedding").as(Seq("i", "xi")))
    val mu = a.select($"i", xq.as("xq"))
      .groupBy($"i").agg(sum($"xq").as("sx"), count(lit(1)).as("n"))
      .select($"i",
        ($"sx".cast(DoubleType) / ($"n" * lit(10000.0))).as("mu"),
        $"n")
    val b = a.select($"vec_id", $"i", xq.as("xqi"),
        posexplode($"embedding").as(Seq("j", "xj")))
      .select($"vec_id", $"i", $"xqi",
        $"j", floor($"xj".cast(DoubleType) * lit(10000.0) + lit(0.5))
          .cast(LongType).as("xqj"))
    val ci = $"xqi".cast(DoubleType) / lit(10000.0) - $"mui"
    val cj = $"xqj".cast(DoubleType) / lit(10000.0) - $"muj"
    val cov = b
      .join(broadcast(mu.select($"i", $"mu".as("mui"))), "i")
      .join(broadcast(mu.select($"i".as("j"), $"mu".as("muj"), $"n")), "j")
      .select($"i", $"j", $"n",
        floor(ci * cj * lit(100000000.0) + lit(0.5)).cast(LongType).as("pq"))
      .groupBy($"i", $"j").agg(sum($"pq").as("spq"), min($"n").as("n"))
      .select($"i", $"j", ($"spq".cast(DoubleType)
        / (lit(100000000.0) * ($"n" - lit(1L)))).as("cov"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val wAll = Window.partitionBy() // bounded: rides d-row iterate vectors
      def step(v: DataFrame): DataFrame = {
        // One matvec + normalize; v is (j, val) on the 1e-6 grid.
        val wq = cov.join(broadcast(v), "j")
          .select($"i",
            floor($"cov" * $"val" * lit(1e12) + lit(0.5))
              .cast(LongType).as("tq"))
          .groupBy($"i").agg(sum($"tq").as("sq"))
          .select($"i", ($"sq".cast(DoubleType) / lit(1e12)).as("w"))
        wq
          .withColumn("nq", sum(floor($"w" * $"w" * lit(1e12) + lit(0.5))
            .cast(LongType)).over(wAll))
          .select($"i".as("j"),
            Det.round6($"w" / sqrt($"nq".cast(DoubleType) / lit(1e12)))
              .as("val"),
            sqrt($"nq".cast(DoubleType) / lit(1e12)).as("nrm"))
      }
      val v0 = mu.select($"i".as("j"), lit(0.125).as("val"))
      val v3 = step(step(step(v0).drop("nrm")).drop("nrm"))
      v3
        .withColumn("sg", sum(floor($"val" * lit(1000000.0)).cast(LongType))
          .over(wAll))
        .select($"j".as("pos"),
          when($"sg" < 0, Det.round6(-$"val")).otherwise($"val")
            .as("loading"),
          Det.round6($"nrm").as("eigenvalue"))
        .orderBy($"pos")
        .transform(graft.Exec.seal)
    } finally cov.unpersist(false)
  }

  /** q_knn_classify — k-nearest-neighbor label prediction over the
    * embedding store (k=5, cosine): every 20th vector is a "query"
    * whose label is predicted by majority vote of its 5 nearest OTHER
    * vectors — the label-propagation / auto-labeling primitive of a
    * weak-supervision pipeline, and an accuracy probe for the
    * embedding space itself.
    *
    * Plan: the query set BROADCASTS against the full store (the
    * q_similarity_topk posture — at 100 TB the probe side is the small
    * side by construction); the per-query top-5 window cuts with
    * WindowGroupLimit before the vote aggregate (25 queries × ≤5
    * rows), and the vote argmax is a second tiny window. Cosine is the
    * codegen'd fused expression, round6'd; ties break (votes desc,
    * label asc, best-rank) — fully ordered, no float comparison. */
  private def qKnnClassify(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val cand = emb.select($"vec_id".as("cid"), $"embedding".as("ce"),
      $"label".as("clabel"))
    val qs = emb.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        $"label".as("label_true"))
    val wTop = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")
    val top = cand.join(broadcast(qs), $"cid" =!= $"qid")
      .withColumn("sim",
        Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ce")))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= 5)
    val wVote = Window.partitionBy($"qid")
      .orderBy($"n_votes".desc, $"clabel")
    top
      .groupBy($"qid", $"label_true", $"clabel")
      .agg(count(lit(1)).cast(LongType).as("n_votes"))
      .withColumn("vr", row_number().over(wVote))
      .filter($"vr" === 1)
      .select($"qid", $"label_true".cast(LongType).as("label_true"),
        $"clabel".cast(LongType).as("label_pred"), $"n_votes",
        ($"clabel" === $"label_true").as("correct"))
      .orderBy($"qid")
  }

  /** Thresholds of the Poisson(1) CDF scaled to 2¹⁶ and rendered as
    * 4-hex-char lowercase strings: a uniform draw u = a 4-hex-char
    * slice of an md5 compares LEXICOGRAPHICALLY against these exactly
    * as the underlying 16-bit integers compare (fixed-width lowercase
    * hex), so the inverse-CDF CASE needs no hex→int parsing — the one
    * md5-portability primitive both engines share (the
    * [[Baskets.capPerItem]] ordering idiom). 16-bit resolution and the
    * weight cap at 7 (P(X≥8|grid) ≈ 1.5e-5) are part of the DECLARED
    * draw, identical in both engines — not sampling error. The coarse
    * grid exists so ONE md5 digest (32 hex chars) yields EIGHT
    * independent draws: md5 dominates the per-row cost, and 13 digests
    * per row replace the naive 100 (measured 9.8 s → see PLANS.md). */
  private[graft] val PoissonCdfHex: Seq[(String, Long)] = Seq(
    "5e2d" -> 0L, "bc5a" -> 1L, "eb71" -> 2L, "fb23" -> 3L,
    "ff10" -> 4L, "ffd9" -> 5L, "fffa" -> 6L)

  private[graft] val BootReps = 100

  /** The inverse-CDF draw as a CASE over the hex thresholds — the SAME
    * generator emits the Spark SQL expression and the DuckDB oracle
    * fragment, so the two engines can never drift. `u` is the caller's
    * expression text for the 4-hex-char slice; the INT result is cast
    * to BIGINT by both consumers before any sum. */
  private def poissonCaseSql(u: String): String =
    PoissonCdfHex.map { case (hex, k) => s"WHEN $u < '$hex' THEN $k" }
      .mkString("CASE ", " ", " ELSE 7 END")

  /** q_bootstrap_ci — Poisson-bootstrap 95% confidence interval of the
    * mean event value per event_type (Chamandy et al. 2012, "Estimating
    * uncertainty for massive data streams": resampling-with-replacement
    * over a distributed corpus is a full extra pass per replica, but
    * Poisson(1) per-row weights approximate the multinomial draw and
    * every replica rides ONE shared scan). Replica b weights each row
    * by a deterministic Poisson(1) inverse-CDF draw from the b-th
    * 16-bit slice of the md5(event_id, b div 8) digest family; the
    * replica mean is an exact integer rational
    * (values quantized to 1e-4 BIGINT units, weighted sums exact); the
    * CI is the empirical [2.5%, 97.5%] order statistics over the B=100
    * replica means.
    *
    * Determinism: the uniform is the md5 prefix compared against
    * [[PoissonCdfHex]] as strings (no float RNG, no hex parsing); each
    * replica mean is rounded half-up to the 1e-6 grid with pure integer
    * arithmetic — (200·S + N) div (2·N) is exact for the non-negative
    * values the events table carries (both engines truncate integral
    * division toward zero, which equals floor for non-negatives).
    * Exactness bound: S = Σw·sv ≤ ~4.6e16 value-units per
    * (type, replica) in BIGINT — beyond that, lift S to DECIMAL(38,0)
    * (the q_agg_stats discipline).
    *
    * Scale: the B-fold explode happens in the PROJECTION, before the
    * partial aggregate — map-side combine collapses it to B rows per
    * (event_type, partition), so the only exchange is B·G summary rows
    * regardless of corpus size; the rank window then orders B rows per
    * group. One fact scan, no fact-sized shuffle, no resampling pass —
    * the reason Poisson bootstrap IS the 100 TB bootstrap. */
  private def qBootstrapCi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nBlocks = (BootReps + 7) / 8 // 8 draws per 32-hex digest
    val sv = floor($"value" * lit(10000.0) + lit(0.5)).cast(LongType)
    val ev = t(s, dir, "events")
      .select($"event_id", $"event_type", sv.as("sv"))
    // Two stacked explodes keep EVERY step inside whole-stage codegen
    // (a transform(...) lambda would run interpreted): 13 md5 digests
    // per row, then 8 cheap 16-bit slices per digest. md5 dominates
    // the per-row cost, so the digest count is the lever — measured at
    // sf0.1: 9.8 s (one md5 per (row, replica)) → 147 s (digests built
    // inside nested HOF lambdas, interpreted) → 1.9 s (this shape).
    // fanOut: 13 md5 digests per row make this the most CPU-dense map
    // stage in the registry, and the fixture's single-row-group scan
    // plans ONE partition (profiled: a 2.4 s single-task stage, the
    // whole query). Round-robin to core parallelism before the explode;
    // identity at real scale. The point-estimate pass below keeps the
    // natural scan (one md5-free pass, not worth an exchange).
    val reps = graft.Exec.fanOut(ev)
      .select($"event_type", $"sv", $"event_id",
        explode(sequence(lit(0), lit(nBlocks - 1))).as("blk"))
      .withColumn("dig", md5(concat($"event_id".cast("string"),
        lit("_"), $"blk".cast("string"))))
      .select($"event_type", $"sv", $"blk", $"dig",
        explode(sequence(lit(0), lit(7))).as("i"))
      .withColumn("b", $"blk" * 8 + $"i")
      .filter($"b" < BootReps)
      .withColumn("u", expr("substr(dig, i * 4 + 1, 4)"))
      .withColumn("w", expr(s"CAST(${poissonCaseSql("u")} AS BIGINT)"))
      .groupBy($"event_type", $"b")
      .agg(sum($"w").as("nb"), sum($"w" * $"sv").as("swv"))
      .filter($"nb" > 0)
      .select($"event_type", $"b",
        expr("(200 * swv + nb) div (2 * nb)").as("qm"))
    val wRank = Window.partitionBy($"event_type").orderBy($"qm", $"b")
    val cis = reps.withColumn("rn", row_number().over(wRank))
      .groupBy($"event_type")
      .agg(max(when($"rn" === 3, $"qm")).as("qlo"),
        max(when($"rn" === 98, $"qm")).as("qhi"))
    val pt = ev.groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"), sum($"sv").as("s0"))
      .select($"event_type", $"n_events",
        expr("(200 * s0 + n_events) div (2 * n_events)").as("qmean"))
    pt.join(cis, Seq("event_type"))
      .select($"event_type", $"n_events",
        ($"qmean".cast(DoubleType) / lit(1000000.0)).as("mean"),
        ($"qlo".cast(DoubleType) / lit(1000000.0)).as("ci_lo"),
        ($"qhi".cast(DoubleType) / lit(1000000.0)).as("ci_hi"))
      .orderBy($"event_type")
  }

  private[graft] val NdcgK = 10

  /** DCG position gains on the 1e-6 grid — floor(1e6/log₂(rn+1) + 0.5)
    * for rn = 1..K, computed ONCE driver-side and inlined as integer
    * literals in BOTH engines, so no engine's log/pow ever runs inside
    * the query (the one place cross-engine float parity could break). */
  private[graft] val NdcgGains: Seq[Long] = (1 to NdcgK).map(rn =>
    math.floor(1e6 / (math.log(rn + 1.0) / math.log(2.0)) + 0.5).toLong)

  /** Ideal-DCG prefix sums: IDCG(m) = Σ gains(1..m), m = 1..K. */
  private[graft] val NdcgPrefix: Seq[Long] =
    NdcgGains.scanLeft(0L)(_ + _).tail

  private def gainCaseSql(rn: String): String =
    NdcgGains.zipWithIndex.map { case (g, i) =>
      s"WHEN $rn = ${i + 1} THEN $g" }
      .mkString("CASE ", " ", " ELSE 0 END")

  private def idcgCaseSql(m: String): String =
    NdcgPrefix.zipWithIndex.map { case (p, i) =>
      s"WHEN $m = ${i + 1} THEN $p" }
      .mkString("CASE ", " ", " ELSE 0 END")

  /** q_ndcg — nDCG@10 of embedding retrieval against label relevance:
    * rank every anchor's neighbors by cosine, score rel=1 when the
    * neighbor shares the anchor's label, DCG = Σ rel/log₂(rank+1),
    * normalized by the ideal ordering's DCG over min(K, available
    * relevant) — the standard offline retrieval-quality metric run
    * after every embedding-model or ANN-index change (Järvelin &
    * Kekäläinen 2002).
    *
    * Determinism: gains and IDCG are PRECOMPUTED integer literals
    * ([[NdcgGains]]/[[NdcgPrefix]]) so both engines sum exact BIGINTs;
    * the only division is the final round6'd qdcg/qidcg rational.
    * Anchors with zero same-label candidates emit NULL (0/0 has no
    * ideal ranking).
    *
    * Plan: the [[qKnnClassify]] posture — the anchor set broadcasts
    * against the candidate store (the corpus never shuffles), the
    * per-anchor top-K cuts via WindowGroupLimit before the gain
    * aggregate, and the label histogram (n_rel source) is a broadcast
    * G-row relation. At 100 TB the candidate side routes through the
    * IVF/LSH index family with identical declared semantics. */
  private def qNdcg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = t(s, dir, "embeddings")
    val labelCnt = emb.groupBy($"label").agg(count(lit(1)).as("n_label"))
    val qs = emb.filter($"vec_id" % 20 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"),
        $"label".as("qlabel"))
    val cand = emb.select($"vec_id".as("cid"), $"embedding".as("ce"),
      $"label".as("clabel"))
    val wTop = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")
    val top = cand.join(broadcast(qs), $"cid" =!= $"qid")
      .withColumn("sim",
        Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ce")))
      .withColumn("rn", row_number().over(wTop))
      .filter($"rn" <= NdcgK)
    top
      .groupBy($"qid", $"qlabel")
      .agg(sum(when($"clabel" === $"qlabel", expr(gainCaseSql("rn")))
        .otherwise(0L)).as("qdcg"))
      .join(broadcast(labelCnt), $"qlabel" === $"label")
      .withColumn("n_rel", ($"n_label" - 1).cast(LongType))
      .withColumn("qidcg",
        expr(idcgCaseSql(s"least(n_rel, ${NdcgK.toLong})")))
      .select($"qid", $"qlabel".cast(LongType).as("label"), $"n_rel",
        ($"qdcg".cast(DoubleType) / lit(1000000.0)).as("dcg"),
        when($"qidcg" > 0,
          Det.round6($"qdcg".cast(DoubleType) / $"qidcg")).as("ndcg"))
      .orderBy($"qid")
  }

  /** Centroid-offset for [[qEmbeddingDrift]]'s integer round-half-up:
    * shifting the per-dim sum by n·OFF makes the numerator non-negative
    * (|x| < 4 ≫ the store's observed |x| < 0.6), so truncating integral
    * division — the semantics BOTH engines share — equals floor and the
    * rounded centroid is exact despite negative embedding values. */
  private val DriftOff = 4000000L

  /** q_embedding_drift — per-label centroid drift between two
    * deterministic md5 halves of the embedding store: the
    * distribution-shift monitor a training pipeline runs between
    * snapshots or train/serve populations (low cosine between a
    * label's two half-centroids flags drift or a bimodal label). The
    * split stands in for any two-population comparison; swapping the
    * hash predicate for a date or source predicate is the production
    * form.
    *
    * Determinism: per-(label, half, dim) sums of 1e-6-quantized
    * components are exact BIGINTs; each centroid coordinate is rounded
    * half-up to the 1e-6 grid with the [[DriftOff]] shift (pure
    * integer arithmetic, no decimal division); the cross-half cosine
    * runs on those integer coordinates and only the final
    * dot/(√n·√n) division is floating point (sqrt is correctly
    * rounded IEEE — identical in both engines), round6'd.
    *
    * Plan: ONE N·d explode feeding a map-side-combined
    * (label, half, dim) aggregate — the only fact-sized stage; the
    * centroid matrix is G·d rows (KBs at any corpus size) and the
    * final cosine is a G-row aggregate. No window, no join against
    * fact data, so the shape survives any scale-up unchanged. */
  private def qEmbeddingDrift(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val half = when(
      substring(md5($"vec_id".cast("string")), 1, 1) < "8", lit(1L))
      .otherwise(lit(0L))
    val comps = t(s, dir, "embeddings")
      .select($"label", half.as("h"),
        posexplode($"embedding").as(Seq("i", "x")))
      .groupBy($"label", $"i")
      .agg(sum(when($"h" === 1,
        floor($"x" * lit(1000000.0) + lit(0.5)).cast(LongType))).as("sqa"),
        sum($"h").as("na"),
        sum(when($"h" === 0,
          floor($"x" * lit(1000000.0) + lit(0.5)).cast(LongType))).as("sqb"),
        sum(lit(1L) - $"h").as("nb"))
      .filter($"na" > 0 && $"nb" > 0)
      .select($"label",
        (expr(s"(2 * (sqa + na * $DriftOff) + na) div (2 * na)")
          - lit(DriftOff)).as("qca"),
        (expr(s"(2 * (sqb + nb * $DriftOff) + nb) div (2 * nb)")
          - lit(DriftOff)).as("qcb"),
        $"na", $"nb")
    comps
      .groupBy($"label")
      .agg(max($"na").as("n_a"), max($"nb").as("n_b"),
        sum($"qca" * $"qcb").as("dot"),
        sum($"qca" * $"qca").as("n2a"),
        sum($"qcb" * $"qcb").as("n2b"))
      .select($"label".cast(LongType).as("label"), $"n_a", $"n_b",
        when($"n2a" > 0 && $"n2b" > 0,
          Det.round6($"dot".cast(DoubleType)
            / (sqrt($"n2a".cast(DoubleType))
              * sqrt($"n2b".cast(DoubleType))))).as("drift_cos"))
      .orderBy($"label")
  }

  /** q_conformal — split-conformal prediction intervals (Vovk et al.;
    * Lei et al. 2018): the md5 train half fits a per-type mean
    * predictor, the calibration half's absolute residuals yield
    * q̂ = the ⌈0.9·(n_cal+1)⌉-th smallest residual, and ŷ ± q̂ is a
    * distribution-free 90% prediction interval — the modern "how wrong
    * is my model, with guarantees" wrapper teams put around any point
    * predictor. Emits the realized calibration coverage next to the
    * interval (≥ 0.9 by the conformal guarantee, up to ties).
    *
    * Determinism: predictions and residuals live on the exact 1e-4
    * value grid (the bootstrap-CI integer rounding), the rank index is
    * pure integer ceil arithmetic, and the order statistic comes from
    * the two-level [[Selection.withRankCum]] machinery — so the
    * interval is bit-identical in both engines and no per-type
    * residual sort ever funnels a group through one task at scale.
    *
    * Plan: one fact scan persisted for its two passes (train fit +
    * calibration residuals), the predictor broadcasts, residuals
    * combine map-side into a (type, r) histogram, and selection +
    * coverage both run over that HISTOGRAM — everything after the
    * combine is distinct-residual-sized. */
  private def qConformal(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sv = floor($"value" * lit(10000.0) + lit(0.5)).cast(LongType)
    val ev = t(s, dir, "events")
      .select($"event_type", sv.as("sv"),
        (substring(md5($"event_id".cast("string")), 1, 1) < "8")
          .as("is_cal"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val yh = ev.filter(!$"is_cal").groupBy($"event_type")
        .agg(count(lit(1)).as("n_train"), sum($"sv").as("strain"))
        .select($"event_type", $"n_train",
          expr("(2 * strain + n_train) div (2 * n_train)").as("qyhat"))
      val h = ev.filter($"is_cal")
        .join(broadcast(yh), Seq("event_type"))
        .select($"event_type", abs($"sv" - $"qyhat").as("r"))
        .groupBy($"event_type", $"r").agg(count(lit(1)).as("cnt"))
      // cum is monotone in r, so the q̂ row ALSO carries the realized
      // coverage count: ncov = #(residuals ≤ q̂) = cum at q̂ — no
      // second histogram pass, no persist
      val qh = Selection.withRankCum(h, Seq("event_type"), "r", "cnt")
        .groupBy($"event_type")
        .agg(max($"n").as("n_cal"),
          min(when($"cum" >= expr("((n + 1) * 9 + 9) div 10"), $"r"))
            .as("qhat"),
          min(when($"cum" >= expr("((n + 1) * 9 + 9) div 10"), $"cum"))
            .as("ncov"))
        .filter($"qhat".isNotNull)
      yh.join(qh, Seq("event_type"))
        .select($"event_type", $"n_train", $"n_cal",
          ($"qyhat".cast(DoubleType) / 10000.0).as("yhat"),
          ($"qhat".cast(DoubleType) / 10000.0).as("qhat"),
          (($"qyhat" - $"qhat").cast(DoubleType) / 10000.0).as("lo"),
          (($"qyhat" + $"qhat").cast(DoubleType) / 10000.0).as("hi"),
          Det.round6($"ncov".cast(DoubleType) / $"n_cal")
            .as("coverage"))
        .orderBy($"event_type")
        .transform(graft.Exec.seal)
    } finally ev.unpersist(false)
  }

  /** q_ips_eval — inverse-propensity-score off-policy evaluation
    * (Horvitz–Thompson / Dudík et al. 2011): estimate what a TARGET
    * policy (uniform over {purchase, click}) would have earned from
    * logs collected under the behavior policy, without running it.
    * Per user segment (user_id % 4): V_ips = (1/n) Σ r_i·w_i over
    * matching rows with w_i = π(a_i)/p̂(a_i|x), propensities estimated
    * from the logs; the behavior policy's own mean value rides along
    * as v_logged, and the effective sample size (Σw)²/Σw² — THE
    * importance-weighting health diagnostic — is emitted per segment.
    *
    * Determinism: propensity weights round half-up to 1e-6 BIGINTs
    * with pure integer arithmetic ((2e6·n + 2c) div (4c) — values
    * non-negative so truncation = floor in both engines), rewards stay
    * on the exact 1e-4 grid, and the weighted accumulations run in
    * DECIMAL(38,0) — Spark (non-ANSI) would WRAP silently past 2⁶³
    * where DuckDB raises, so the qw²·c sums (≈10¹²·(n/c)²·c — the
    * first to cross) get the lift up front rather than an ambient
    * exactness bound; the three emitted ratios are single round6'd
    * divisions (ESS squares an exact ≤2⁵³ integer in double —
    * identical IEEE in both engines).
    *
    * Plan: one fact scan combines map-side into (segment, action)
    * cells; propensities live on that G·A-row relation and broadcast
    * back; everything downstream is segment-sized. No window, no
    * second fact pass. */
  private def qIpsEval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val TargetActions = Seq("purchase", "click")
    val sv = floor($"value" * lit(10000.0) + lit(0.5)).cast(LongType)
    val cells = t(s, dir, "events")
      .select(($"user_id" % 4).as("segment"), $"event_type", sv.as("sv"))
      .groupBy($"segment", $"event_type")
      .agg(count(lit(1)).as("c"), sum($"sv").as("srew"))
    val seg = cells.groupBy($"segment").agg(
      sum($"c").as("n"), sum($"srew").as("stot"))
    cells
      .filter($"event_type".isin(TargetActions: _*))
      .join(broadcast(seg), Seq("segment"))
      // qw = round-half-up of 1e6 · π(a)/p̂(a|x) = 1e6·n/(2c)
      .withColumn("qw",
        expr("(2 * 1000000 * n + 2 * c) div (4 * c)"))
      .groupBy($"segment")
      .agg(max($"n").as("n"), sum($"c").as("n_match"),
        max($"stot").as("stot"),
        sum($"qw".cast(DecimalType(38, 0)) * $"srew").as("swr"),
        sum($"qw".cast(DecimalType(38, 0)) * $"c").as("sw"),
        sum($"qw".cast(DecimalType(38, 0)) * $"qw" * $"c").as("sw2"))
      .select($"segment".cast(LongType).as("segment"), $"n", $"n_match",
        Det.round6($"swr".cast(DoubleType)
          / ($"n".cast(DoubleType) * lit(1.0e10))).as("v_ips"),
        Det.round6($"stot".cast(DoubleType)
          / ($"n".cast(DoubleType) * lit(10000.0))).as("v_logged"),
        Det.round6(($"sw".cast(DoubleType) * $"sw".cast(DoubleType))
          / ($"sw2".cast(DoubleType) * $"n".cast(DoubleType)))
          .as("ess_frac"))
      .orderBy($"segment")
  }

  val queries: Map[String, Q] = Map(
    "q_auc" -> (qAuc _),
    "q_calibration_bins" -> (qCalibrationBins _),
    "q_target_encoding" -> (qTargetEncoding _),
    "q_benford" -> (qBenford _),
    "q_recommend_cooccur" -> (qRecommendCooccur _),
    "q_naive_bayes" -> (qNaiveBayes _),
    "q_pca_power" -> (qPcaPower _),
    "q_knn_classify" -> (qKnnClassify _),
    "q_bootstrap_ci" -> (qBootstrapCi _),
    "q_ndcg" -> (qNdcg _),
    "q_embedding_drift" -> (qEmbeddingDrift _),
    "q_conformal" -> (qConformal _),
    "q_ips_eval" -> (qIpsEval _))

  val oracles: Map[String, String] = Map(
    "q_auc" ->
      s"""WITH s AS ($ScoredSql),
         cells AS (
           SELECT source, score, CAST(sum(pos) AS BIGINT) p,
                  CAST(sum(1 - pos) AS BIGINT) q
           FROM s GROUP BY source, score),
         c AS (
           SELECT *, COALESCE(CAST(sum(q) OVER (PARTITION BY source
                       ORDER BY score ROWS BETWEEN UNBOUNDED PRECEDING
                       AND 1 PRECEDING) AS BIGINT), 0) cumq
           FROM cells),
         g AS (
           SELECT source, CAST(sum(p) AS BIGINT) n_pos,
                  CAST(sum(q) AS BIGINT) n_neg,
                  CAST(sum(p * (2 * cumq + q)) AS BIGINT) u2
           FROM c GROUP BY source)
         SELECT source, n_pos, n_neg,
                CASE WHEN n_pos > 0 AND n_neg > 0 THEN
                  ${Det.ROUND6("CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg)")}
                END AS auc
         FROM g ORDER BY source""",
    "q_calibration_bins" ->
      s"""WITH s AS ($ScoredSql)
         SELECT CAST(least(floor(score * 50.0), 49.0) AS BIGINT) AS bin,
                count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos,
                CAST(sum(CAST(floor(score * 1000000.0 + 0.5) AS BIGINT))
                     AS DOUBLE) / (count(*) * 1000000.0) AS mean_score,
                ${Det.ROUND6("CAST(sum(pos) AS DOUBLE) / count(*)")}
                  AS pos_rate,
                CAST(sum(CAST(floor((score - pos) * (score - pos)
                              * 1000000000000.0 + 0.5) AS BIGINT))
                     AS DOUBLE) / (count(*) * 1000000000000.0) AS brier
         FROM s GROUP BY 1 ORDER BY bin""",
    "q_target_encoding" ->
      """WITH rev AS (
           SELECT o_custkey,
                  CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,4)))
                            AS DECIMAL(18,4)) * 10000 AS BIGINT) rq
           FROM orders GROUP BY o_custkey),
         cust AS (
           SELECT c_custkey, c_mktsegment, COALESCE(rq, 0) rq
           FROM customer LEFT JOIN rev ON c_custkey = o_custkey),
         seg AS (
           SELECT c_mktsegment seg, count(*) seg_n,
                  CAST(sum(rq) AS BIGINT) seg_sq
           FROM cust GROUP BY c_mktsegment),
         gstats AS (
           SELECT CAST(sum(seg_n) AS BIGINT) g_n,
                  CAST(sum(seg_sq) AS BIGINT) g_sq
           FROM seg)
         SELECT c_custkey, c_mktsegment,
                CAST(rq AS DOUBLE) / 10000.0 AS cust_rev, seg_n,
                floor(((CAST(seg_sq - rq AS DOUBLE) / 10000.0
                        + 10.0 * (CAST(g_sq AS DOUBLE) / 10000.0
                                  / CAST(g_n AS DOUBLE)))
                       / CAST(seg_n - 1 + 10 AS DOUBLE))
                      * 1000000.0 + 0.5) / 1000000.0 AS enc
         FROM cust JOIN seg ON c_mktsegment = seg CROSS JOIN gstats
         ORDER BY c_custkey""",
    "q_recommend_cooccur" ->
      s"""WITH items AS (
           SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
         freq0 AS (
           SELECT l_partkey, count(*) c FROM items
           GROUP BY l_partkey HAVING count(*) >= 2),
         pruned AS (
           SELECT i.l_orderkey, i.l_partkey FROM items i
           JOIN freq0 f ON i.l_partkey = f.l_partkey),
         capped AS (
           ${graft.operators.Baskets.capSql(
        "pruned", "l_partkey", "l_orderkey")}),
         freq AS (
           SELECT l_partkey, count(*) c FROM capped GROUP BY l_partkey),
         sup AS (
           SELECT a.l_partkey part_a, b.l_partkey part_b, count(*) support
           FROM capped a JOIN capped b ON a.l_orderkey = b.l_orderkey
           WHERE a.l_partkey <> b.l_partkey
           GROUP BY 1, 2 HAVING count(*) >= 2),
         nb AS (SELECT count(DISTINCT l_orderkey) n_baskets FROM items),
         scored AS (
           SELECT part_a, part_b, support,
                  ${Det.ROUND6(
        "CAST(support AS DOUBLE) / CAST(fa.c AS DOUBLE)")} confidence,
                  ${Det.ROUND6(
        "(CAST(n_baskets AS DOUBLE) * CAST(support AS DOUBLE))" +
          " / (CAST(fa.c AS DOUBLE) * CAST(fb.c AS DOUBLE))")} lift
           FROM sup
           JOIN freq fa ON part_a = fa.l_partkey
           JOIN freq fb ON part_b = fb.l_partkey
           CROSS JOIN nb),
         ranked AS (
           SELECT *, CAST(row_number() OVER (PARTITION BY part_a
                     ORDER BY confidence DESC, support DESC, part_b)
                     AS BIGINT) rn
           FROM scored)
         SELECT part_a, part_b, support, confidence, lift, rn
         FROM ranked WHERE rn <= 3 ORDER BY part_a, rn""",
    "q_naive_bayes" ->
      """WITH tf AS (
           SELECT doc_id, lang, tok AS token, count(*) tf
           FROM (SELECT doc_id, lang,
                        unnest(string_split(lower(text), ' ')) tok
                 FROM documents)
           GROUP BY doc_id, lang, tok),
         cells AS (
           SELECT lang, token, CAST(sum(tf) AS BIGINT) c
           FROM tf GROUP BY lang, token),
         langtot AS (
           SELECT lang, CAST(sum(c) AS BIGINT) tot FROM cells GROUP BY lang),
         vocab AS (SELECT count(DISTINCT token) v FROM cells),
         docsdim AS (SELECT DISTINCT doc_id, lang FROM tf),
         priors AS (
           SELECT lang cand, count(*) nd,
                  CAST(sum(count(*)) OVER () AS BIGINT) nd_all
           FROM docsdim GROUP BY lang),
         classes AS (
           SELECT cand,
                  CAST(floor(ln(1.0 / CAST(tot + v AS DOUBLE))
                             * 1000000.0 + 0.5) AS BIGINT) q0,
                  CAST(floor(ln(CAST(nd AS DOUBLE) / nd_all)
                             * 1000000.0 + 0.5) AS BIGINT) qprior
           FROM priors JOIN langtot ON cand = lang CROSS JOIN vocab),
         qlp AS (
           SELECT cells.lang cand, token,
                  CAST(floor(ln(CAST(c + 1 AS DOUBLE)
                                / CAST(tot + v AS DOUBLE))
                             * 1000000.0 + 0.5) AS BIGINT) qlp
           FROM cells JOIN langtot ON cells.lang = langtot.lang
           CROSS JOIN vocab),
         scoredd AS (
           SELECT tf.doc_id, tf.lang, cl.cand,
                  CAST(sum(tf.tf * COALESCE(qlp.qlp, cl.q0))
                       + min(cl.qprior) AS BIGINT) score_q
           FROM tf CROSS JOIN classes cl
           LEFT JOIN qlp ON qlp.cand = cl.cand AND qlp.token = tf.token
           GROUP BY tf.doc_id, tf.lang, cl.cand),
         rankedd AS (
           SELECT *, row_number() OVER (PARTITION BY doc_id
                     ORDER BY score_q DESC, cand) rn
           FROM scoredd)
         SELECT doc_id, lang AS lang_true, cand AS lang_pred,
                CAST(score_q AS DOUBLE) / 1000000.0 AS log_post,
                (cand = lang) AS correct
         FROM rankedd WHERE rn = 1 ORDER BY doc_id""",
    "q_pca_power" -> {
      // One matvec+normalize hop as a CTE pair; unrolled three times.
      def iter(k: Int, prev: String): String =
        s"""w$k AS (
             SELECT c.i,
                    CAST(sum(CAST(floor(c.cov * v.val * 1000000000000.0 + 0.5)
                                  AS BIGINT)) AS BIGINT) sq
             FROM covd c JOIN $prev v ON c.j = v.j GROUP BY c.i),
           n$k AS (
             SELECT sqrt(CAST(sum(CAST(floor((CAST(sq AS DOUBLE)
                      / 1000000000000.0) * (CAST(sq AS DOUBLE)
                      / 1000000000000.0) * 1000000000000.0 + 0.5) AS BIGINT))
                    AS DOUBLE) / 1000000000000.0) nrm
             FROM w$k),
           v$k AS (
             SELECT i AS j,
                    floor((CAST(sq AS DOUBLE) / 1000000000000.0) / nrm
                          * 1000000.0 + 0.5) / 1000000.0 val,
                    nrm
             FROM w$k CROSS JOIN n$k)"""
      s"""WITH a AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) e,
                  unnest(range(0, len(embedding))) i,
                  CAST(floor(unnest(CAST(embedding AS DOUBLE[])) * 10000.0
                             + 0.5) AS BIGINT) xqi
           FROM embeddings),
         mu AS (
           SELECT i, CAST(sum(xqi) AS DOUBLE) / (count(*) * 10000.0) mu,
                  count(*) n
           FROM a GROUP BY i),
         b AS (
           SELECT vec_id, i, xqi,
                  unnest(range(0, len(e))) j,
                  CAST(floor(unnest(e) * 10000.0 + 0.5) AS BIGINT) xqj
           FROM a),
         cov AS (
           SELECT b.i, b.j,
                  CAST(sum(CAST(floor((CAST(xqi AS DOUBLE) / 10000.0 - mi.mu)
                    * (CAST(xqj AS DOUBLE) / 10000.0 - mj.mu)
                    * 100000000.0 + 0.5) AS BIGINT)) AS BIGINT) spq,
                  min(mi.n) n
           FROM b JOIN mu mi ON b.i = mi.i JOIN mu mj ON b.j = mj.i
           GROUP BY b.i, b.j),
         covd AS (
           SELECT i, j, CAST(spq AS DOUBLE) / (100000000.0 * (n - 1)) cov
           FROM cov),
         v0 AS (SELECT i AS j, 0.125 val FROM mu),
         ${iter(1, "v0")},
         ${iter(2, "v1")},
         ${iter(3, "v2")},
         sg AS (
           SELECT CAST(sum(CAST(floor(val * 1000000.0) AS BIGINT)) AS BIGINT) s
           FROM v3)
         SELECT j AS pos,
                CASE WHEN s < 0
                  THEN floor(-val * 1000000.0 + 0.5) / 1000000.0
                  ELSE val END AS loading,
                floor(nrm * 1000000.0 + 0.5) / 1000000.0 AS eigenvalue
         FROM v3 CROSS JOIN sg ORDER BY pos"""
    },
    "q_knn_classify" ->
      """WITH n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
         pairs AS (
           SELECT q.vec_id qid, q.label label_true, c.vec_id cid,
                  c.label clabel,
                  floor(list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                        * 1000000.0 + 0.5) / 1000000.0 sim
           FROM q JOIN n c ON c.vec_id <> q.vec_id),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY qid
                     ORDER BY sim DESC, cid) rn
           FROM pairs),
         votes AS (
           SELECT qid, label_true, clabel, CAST(count(*) AS BIGINT) n_votes
           FROM r WHERE rn <= 5 GROUP BY qid, label_true, clabel),
         v AS (
           SELECT *, row_number() OVER (PARTITION BY qid
                     ORDER BY n_votes DESC, clabel) vr
           FROM votes)
         SELECT qid, CAST(label_true AS BIGINT) label_true,
                CAST(clabel AS BIGINT) label_pred, n_votes,
                (clabel = label_true) AS correct
         FROM v WHERE vr = 1 ORDER BY qid""",
    "q_benford" ->
      s"""WITH d AS (
           SELECT CAST(substring(CAST(CAST(floor(o_totalprice) AS BIGINT)
                                 AS VARCHAR), 1, 1) AS BIGINT) digit
           FROM orders WHERE o_totalprice >= 1),
         g AS (SELECT digit, count(*) n FROM d GROUP BY digit),
         w AS (SELECT *, CAST(sum(n) OVER () AS BIGINT) n_total FROM g)
         SELECT digit, n,
                ${Det.ROUND6("CAST(n AS DOUBLE) / n_total")} AS obs_freq,
                ${Det.ROUND6("log10(1.0 + 1.0 / digit)")} AS exp_freq,
                (${Det.ROUND6("CAST(n AS DOUBLE) / n_total")}
                 - ${Det.ROUND6("log10(1.0 + 1.0 / digit)")}) AS dev
         FROM w ORDER BY digit""",
    "q_bootstrap_ci" ->
      s"""WITH ev AS (
           SELECT event_id, event_type,
                  CAST(floor(value * 10000.0 + 0.5) AS BIGINT) sv
           FROM events),
         draws AS (
           SELECT event_type, b, sv, ${poissonCaseSql("u")} AS w
           FROM (SELECT ev.*, g.b,
                        substr(md5(CAST(event_id AS VARCHAR) || '_'
                                   || CAST((g.b // 8) AS VARCHAR)),
                               (g.b % 8) * 4 + 1, 4) u
                 FROM ev, generate_series(0, ${BootReps - 1}) g(b))),
         reps AS (
           SELECT event_type, b, CAST(sum(w) AS BIGINT) nb,
                  CAST(sum(w * sv) AS BIGINT) swv
           FROM draws GROUP BY event_type, b),
         qm AS (
           SELECT event_type, b, (200 * swv + nb) // (2 * nb) AS qm
           FROM reps WHERE nb > 0),
         r AS (SELECT *, row_number() OVER (PARTITION BY event_type
                          ORDER BY qm, b) rn FROM qm),
         ci AS (SELECT event_type,
                       max(CASE WHEN rn = 3 THEN qm END) qlo,
                       max(CASE WHEN rn = 98 THEN qm END) qhi
                FROM r GROUP BY event_type),
         pt AS (SELECT event_type, count(*) n_events,
                       CAST(sum(sv) AS BIGINT) s0
                FROM ev GROUP BY event_type)
         SELECT pt.event_type, n_events,
                CAST((200 * s0 + n_events) // (2 * n_events) AS DOUBLE)
                  / 1000000.0 AS mean,
                CAST(qlo AS DOUBLE) / 1000000.0 AS ci_lo,
                CAST(qhi AS DOUBLE) / 1000000.0 AS ci_hi
         FROM pt JOIN ci ON pt.event_type = ci.event_type
         ORDER BY pt.event_type""",
    "q_ndcg" ->
      s"""WITH n AS (
           SELECT vec_id, CAST(embedding AS DOUBLE[]) e, label,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         q AS (SELECT * FROM n WHERE vec_id % 20 = 0),
         lc AS (SELECT label, count(*) n_label FROM embeddings
                GROUP BY label),
         pairs AS (
           SELECT q.vec_id qid, q.label qlabel, c.vec_id cid,
                  c.label clabel,
                  floor(list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                        * 1000000.0 + 0.5) / 1000000.0 sim
           FROM q JOIN n c ON c.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER (PARTITION BY qid
                           ORDER BY sim DESC, cid) rn
               FROM pairs),
         d AS (
           SELECT qid, qlabel,
                  CAST(sum(CASE WHEN clabel = qlabel
                           THEN ${gainCaseSql("rn")} ELSE 0 END)
                       AS BIGINT) qdcg
           FROM r WHERE rn <= $NdcgK GROUP BY qid, qlabel),
         j AS (
           SELECT d.*, CAST(lc.n_label - 1 AS BIGINT) n_rel,
                  ${idcgCaseSql(s"least(lc.n_label - 1, $NdcgK)")} qidcg
           FROM d JOIN lc ON d.qlabel = lc.label)
         SELECT qid, CAST(qlabel AS BIGINT) AS label, n_rel,
                CAST(qdcg AS DOUBLE) / 1000000.0 AS dcg,
                CASE WHEN qidcg > 0 THEN
                  ${Det.ROUND6("CAST(qdcg AS DOUBLE) / qidcg")}
                END AS ndcg
         FROM j ORDER BY qid""",
    "q_embedding_drift" ->
      s"""WITH x AS (
           SELECT label,
                  CASE WHEN substr(md5(CAST(vec_id AS VARCHAR)), 1, 1)
                            < '8' THEN 1 ELSE 0 END h,
                  unnest(generate_series(1, len(embedding))) i,
                  CAST(floor(unnest(CAST(embedding AS DOUBLE[]))
                             * 1000000.0 + 0.5) AS BIGINT) qx
           FROM embeddings),
         comps AS (
           SELECT label, i,
                  CAST(sum(CASE WHEN h = 1 THEN qx END) AS BIGINT) sqa,
                  CAST(sum(h) AS BIGINT) na,
                  CAST(sum(CASE WHEN h = 0 THEN qx END) AS BIGINT) sqb,
                  CAST(sum(1 - h) AS BIGINT) nb
           FROM x GROUP BY label, i),
         cent AS (
           SELECT label,
                  (2 * (sqa + na * $DriftOff) + na) // (2 * na)
                    - $DriftOff qca,
                  (2 * (sqb + nb * $DriftOff) + nb) // (2 * nb)
                    - $DriftOff qcb,
                  na, nb
           FROM comps WHERE na > 0 AND nb > 0)
         SELECT CAST(label AS BIGINT) AS label,
                max(na) AS n_a, max(nb) AS n_b,
                CASE WHEN sum(qca * qca) > 0 AND sum(qcb * qcb) > 0 THEN
                  ${Det.ROUND6(
        "CAST(sum(qca * qcb) AS DOUBLE) / (sqrt(CAST(sum(qca * qca) AS DOUBLE)) * sqrt(CAST(sum(qcb * qcb) AS DOUBLE)))")}
                END AS drift_cos
         FROM cent GROUP BY label ORDER BY label""",
    "q_conformal" ->
      s"""WITH ev AS (
           SELECT event_type,
                  CAST(floor(value * 10000.0 + 0.5) AS BIGINT) sv,
                  substr(md5(CAST(event_id AS VARCHAR)), 1, 1) < '8'
                    AS is_cal
           FROM events),
         tr AS (SELECT event_type, count(*) n_train,
                       CAST(sum(sv) AS BIGINT) strain
                FROM ev WHERE NOT is_cal GROUP BY event_type),
         yh AS (SELECT event_type, n_train,
                       (2 * strain + n_train) // (2 * n_train) qyhat
                FROM tr),
         cal AS (SELECT e.event_type, abs(e.sv - y.qyhat) r
                 FROM ev e JOIN yh y USING (event_type)
                 WHERE e.is_cal),
         nc AS (SELECT event_type, count(*) n_cal FROM cal
                GROUP BY event_type),
         rr AS (SELECT event_type, r, row_number() OVER
                  (PARTITION BY event_type ORDER BY r) rn FROM cal),
         qh AS (SELECT rr.event_type, min(r) qhat
                FROM rr JOIN nc USING (event_type)
                WHERE rn >= ((n_cal + 1) * 9 + 9) // 10
                GROUP BY rr.event_type),
         cov AS (SELECT c.event_type,
                        CAST(sum(CASE WHEN c.r <= q.qhat THEN 1
                                 ELSE 0 END) AS BIGINT) ncov
                 FROM cal c JOIN qh q USING (event_type)
                 GROUP BY c.event_type)
         SELECT y.event_type, y.n_train, nc.n_cal,
                CAST(y.qyhat AS DOUBLE) / 10000.0 AS yhat,
                CAST(q.qhat AS DOUBLE) / 10000.0 AS qhat,
                CAST(y.qyhat - q.qhat AS DOUBLE) / 10000.0 AS lo,
                CAST(y.qyhat + q.qhat AS DOUBLE) / 10000.0 AS hi,
                ${Det.ROUND6("CAST(cov.ncov AS DOUBLE) / nc.n_cal")}
                  AS coverage
         FROM yh y JOIN nc USING (event_type)
              JOIN qh q USING (event_type)
              JOIN cov USING (event_type)
         ORDER BY y.event_type""",
    "q_ips_eval" ->
      s"""WITH cells AS (
           SELECT user_id % 4 AS segment, event_type,
                  count(*) c,
                  CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                       AS BIGINT) srew
           FROM events GROUP BY user_id % 4, event_type),
         seg AS (
           SELECT segment, CAST(sum(c) AS BIGINT) n,
                  CAST(sum(srew) AS BIGINT) stot
           FROM cells GROUP BY segment),
         m AS (
           SELECT cells.segment, cells.c, cells.srew, seg.n, seg.stot,
                  (2 * 1000000 * seg.n + 2 * cells.c) // (4 * cells.c)
                    AS qw
           FROM cells JOIN seg USING (segment)
           WHERE event_type IN ('purchase', 'click'))
         SELECT CAST(segment AS BIGINT) AS segment,
                CAST(max(n) AS BIGINT) AS n,
                CAST(sum(c) AS BIGINT) AS n_match,
                ${Det.ROUND6(
        "CAST(sum(qw * srew) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * 1.0e10)")}
                  AS v_ips,
                ${Det.ROUND6(
        "CAST(max(stot) AS DOUBLE) / (CAST(max(n) AS DOUBLE) * 10000.0)")}
                  AS v_logged,
                ${Det.ROUND6(
        "(CAST(sum(qw * c) AS DOUBLE) * CAST(sum(qw * c) AS DOUBLE)) / (CAST(sum(qw * qw * c) AS DOUBLE) * CAST(max(n) AS DOUBLE))")}
                  AS ess_frac
         FROM m GROUP BY segment ORDER BY segment""")

  private[operators] val Dec =
    org.apache.spark.sql.types.DecimalType(18, 4)
}
