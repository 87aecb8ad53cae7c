package graft.operators

import graft.QueryModule
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (SURVEY.md §2.9
  * T1/T2 + north-star text analysis): exact dedup, tokenization/TF, token
  * counting, quality scoring, language-ID, document fingerprinting. All
  * pure Column expressions (no UDFs) over `documents`; every computation
  * is defined so DuckDB can replay it exactly (md5/sha256 hex, integer
  * arithmetic, per-row folds).
  *
  * Scale: each query is a single scan + at most one shuffle (the dedup
  * window / TF groupBy); per-row work is O(doc length). At 100 TB the
  * hash-dedup shuffle partitions by digest — uniformly distributed by
  * construction, no skew handling needed.
  */
object TextOps extends QueryModule {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** T1 q_dedup_exact — exact duplicate removal: keep the smallest doc_id
    * per sha256(text) digest (deterministic "first wins", the engine-defined
    * replacement for the reference's last-write-wins dict keying,
    * SURVEY.md §2.13.1). */
  private def qDedupExact(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy(sha2($"text", 256)).orderBy($"doc_id")
    docs(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** q_dedup_url — URL-canonicalization dedup, the FIRST dedup stage of
    * every web-corpus pipeline (before any content hash is computed,
    * refetches of one page under host-case/www/tracking-param/trailing-
    * slash variants collapse to one canonical URL and only the first
    * fetch is kept). The synthetic `url` column derives deterministically
    * from keys (the [[Governance]] profile-field idiom: honest stand-in
    * haystack, real canonicalization machinery) so the fixture plants a
    * MIX of variant classes:
    *   - host case + `www.` prefix on doc_id ≡ 0 (mod 3),
    *   - uppercase TLD on ≡ 1 (mod 3),
    *   - `?utm_*` tracking suffix on even ids,
    *   - trailing slash on ≡ 0 (mod 5).
    * Canonicalization (in order): lowercase; strip the `?utm_…` query;
    * strip `://www.`; strip one trailing slash. Docs sharing
    * (source, doc_id mod 40) collapse; keep-first = min doc_id (the
    * CCNet rule), n_variants counts the collapsed fetches.
    *
    * Scale: one scan; canonicalization is a codegen'd projection; the
    * single exchange keys on the canonical URL (uniform by
    * construction — a real crawl salts the rare mega-duplicated URL,
    * the q_join_skew_salted pattern). */
  private def qDedupUrl(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val url = concat(
      lit("https://"),
      when($"doc_id" % 3 === 0,
        concat(lit("WWW."), $"source", lit(".Example.com")))
        .when($"doc_id" % 3 === 1, concat($"source", lit(".example.COM")))
        .otherwise(concat($"source", lit(".example.com"))),
      lit("/docs/"), ($"doc_id" % 40).cast("string"),
      when($"doc_id" % 5 === 0, lit("/")).otherwise(lit("")),
      when($"doc_id" % 2 === 0,
        concat(lit("?utm_source=feed&utm_page="),
          ($"doc_id" % 4).cast("string"))).otherwise(lit("")))
    val canonical =
      regexp_replace(
        regexp_replace(
          regexp_replace(lower(url), "\\?utm_[^#]*", ""),
          "://www\\.", "://"),
        "/$", "")
    docs(s, dir)
      .select($"doc_id", canonical.as("canonical_url"))
      .groupBy($"canonical_url")
      .agg(count(lit(1)).as("n_variants"), min($"doc_id").as("kept_doc"))
      .orderBy($"canonical_url")
  }

  /** q_incremental_dedup — the INCREMENTAL-ingest form of exact dedup
    * (the production shape: a new crawl snapshot arrives and must dedup
    * against everything already ingested, not just itself): the "new
    * batch" (here the deterministic doc_id%5=4 slice standing in for
    * today's snapshot) is (a) anti-joined against the historical digest
    * index and (b) deduped within itself by smallest doc_id. Only
    * survivors ship to training.
    *
    * Scale: both the anti-join and the window shuffle on the sha256
    * digest — uniformly distributed by construction, no skew handling;
    * at 100 TB the history index is a digest-bucketed table
    * (q_join_bucketed's layout), making the recurring anti-join
    * exchange-free on the history side. */
  private def qIncrementalDedup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val d = docs(s, dir).withColumn("dig", sha2($"text", 256))
    val hist = d.filter($"doc_id" % 5 =!= 4).select($"dig").distinct()
    val batch = d.filter($"doc_id" % 5 === 4)
    val w = Window.partitionBy($"dig").orderBy($"doc_id")
    batch.join(hist, Seq("dig"), "left_anti")
      .withColumn("rn", row_number().over(w))
      .filter($"rn" === 1)
      .select($"doc_id", $"lang", $"source", $"n_chars")
      .orderBy($"doc_id")
  }

  /** T2 q_text_tokenize_tf — tokenize + corpus-wide term frequency:
    * generator + hash aggregate; the shuffle carries one row per distinct
    * token (map-side combined), not per occurrence. */
  private def qTextTokenizeTf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(explode(split(lower($"text"), " ")).as("token"))
      .groupBy($"token")
      .agg(count(lit(1)).as("tf"))
      .orderBy($"token")
  }

  /** T2b q_tfidf — corpus-weighted term relevance: tf(doc,term) ×
    * ln(N/df(term)), top-3 terms per document. The canonical "which tokens
    * characterize this document" op a training-data pipeline runs after
    * raw TF. Plan: one explode → (doc,term) partial-agg'd tf, PERSISTED —
    * tf has two consumers (the df aggregation feeding the broadcast build
    * and the probe side of the join), and without the cache Catalyst plans
    * them as two independent subtrees, re-running the full explode +
    * hash-aggregate over the corpus (the round-2 `weak`: 2× the most
    * expensive stage). With the cache the corpus is scanned once; the
    * small ranked result is then eagerly localCheckpoint'ed so the cache
    * can be dropped before returning — no state outlives the query. N
    * arrives as a broadcast 1-row count whose scan reads ZERO data columns
    * (row-group metadata only). Scores are rounded (Det.round6) BEFORE
    * ranking so an engine ulp on `ln` can't flip the top-3 cut (same
    * discipline as the Similarity module). */
  private def qTfidf(s: SparkSession, dir: String): DataFrame = {
    val tf0 = tfRelation(s, dir)
    val (tf, tfRel) = graft.Exec.sizedHub(tf0,
      Tables.rowCount(s, dir, "documents"))
    try tfidfRanked(s, dir, tf).transform(graft.Exec.seal)
    finally tfRel()
  }

  /** The (doc_id, token, tf) relation — one corpus scan, map-side-combined
    * aggregate. Package-visible for the single-scan plan guard. */
  private[graft] def tfRelation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("tf"))
  }

  /** Scored + ranked TF-IDF over a caller-managed (cached) tf relation.
    * df BROADCASTS: a document-frequency table is one row per vocabulary
    * token (~MBs even for a million-token vocab), and the alternative —
    * a shuffle join keyed on token — sort-merges the whole tf table
    * through a handful of hot stopword keys (measured 4.3× slower at the
    * k=4 replica, PLANS.md round-2 notes). */
  private[graft] def tfidfRanked(s: SparkSession, dir: String,
                                 tf: DataFrame): DataFrame = {
    import s.implicits._
    val df = tf.groupBy($"token").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(broadcast(df), Seq("token")).crossJoin(broadcast(n))
      .withColumn("tfidf", graft.Det.round6(
        $"tf" * log($"n_docs".cast("double") / $"df")))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"token")
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"doc_id", $"rn", $"token", $"tf", $"df", $"tfidf")
      .orderBy($"doc_id", $"rn")
  }

  /** q_token_count — whitespace tokens, distinct tokens, and a BPE-ish
    * regex chunk count (letter runs / digit runs / other, the classic
    * pre-tokenizer shape). */
  private def qTokenCount(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(
        $"doc_id",
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_tokens"),
        expr("CAST(size(array_distinct(split(lower(text), ' '))) AS BIGINT)")
          .as("n_distinct"),
        expr("CAST(regexp_count(lower(text), '[a-z]+') AS BIGINT)")
          .as("n_word_chunks"),
        expr("CAST(length(replace(text, ' ', '')) AS BIGINT)").as("n_nonspace"))
      .orderBy($"doc_id")
  }

  /** The fixed BPE merge table, in rank order (pair → merged token), and
    * the vocab it induces: base chars a-z0-9 take ids 1..36, merge r
    * takes id 36+r. A real tokenizer ships ~50k merges; 16 keeps the
    * oracle replayable while exercising the exact algorithm (multi-level
    * merges included: t+h→th→the, i+n→in→ing). */
  private val BPE_MERGES: Seq[(String, String)] =
    graft.functions.BpeEncoding.MERGES

  private val BPE_VOCAB: Seq[(Long, String)] =
    "abcdefghijklmnopqrstuvwxyz0123456789".zipWithIndex
      .map { case (c, i) => ((i + 1).toLong, c.toString) } ++
      BPE_MERGES.zipWithIndex.map { case ((a, b), i) => ((37 + i).toLong, a + b) }

  /** F6 q_token_bpe — REAL byte-pair-encoding tokenization (the capability
    * the reference imports from tiktoken,
    * /root/reference/decisions-summaries/requirements.txt:67): each
    * cleaned word becomes a wrapped-char sequence "(h)(e)(l)(l)(o)" and
    * the merge table applies in rank order — one literal left-to-right
    * `replace` pass per rule, semantics both engines share exactly, and
    * per-rule fixpoint in one pass because no rule's output can recreate
    * its own pattern (Sennrich et al.'s canonical apply-merges-in-order
    * encoder). Output: corpus-wide token-id counts.
    *
    * Scale: one scan; per-word O(len·rules) string work inside
    * whole-stage codegen; ONE shuffle carrying ~vocab-size map-side-
    * combined groups; the vocab joins as a broadcast LocalRelation. */
  /** BPE-encode one cleaned word column → ARRAY<STRING> of tokens.
    * Routes to the native [[graft.functions.BpeTokens]] single-pass
    * expression; [[bpeEncodeSql]] keeps the wrapped-char replace-chain
    * formulation as the spec'd reference (BpeSpec proves them
    * token-for-token equal on the corpus, and the DuckDB oracle replays
    * the SQL form — so the native path stays pinned to the portable
    * semantics from two directions). */
  private[graft] def bpeEncode(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.functions.VectorFunctions.bpeTokens(word)

  /** The portable SQL formulation of [[bpeEncode]] (reference for the
    * equality spec; the oracle's form). */
  private[graft] def bpeEncodeSql(word: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val enc0 = concat_ws("",
      transform(split(word, ""), c => concat(lit("("), c, lit(")"))))
    val enc = BPE_MERGES.foldLeft(enc0) { case (e, (a, b)) =>
      replace(e, lit(s"($a)($b)"), lit(s"(${a + b})"))
    }
    split(regexp_replace(enc, "^\\(|\\)$", ""), "\\)\\(")
  }

  private def qTokenBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val vocab = BPE_VOCAB.toDF("token_id", "token")
    // fanOut: the per-word BPE merge loop is the heaviest projection in
    // TextOps and the fixture scan plans one partition (profiled: a
    // ~1 s single-task stage). Identity at real scale (guide §2.5).
    graft.Exec.fanOut(docs(s, dir))
      .select(explode(split(lower($"text"), " ")).as("w"))
      .select(regexp_replace($"w", "[^a-z0-9]", "").as("word"))
      .filter(length($"word") > 0)
      .select(explode(bpeEncode($"word")).as("token"))
      .groupBy($"token").agg(count(lit(1)).as("n_occurrences"))
      .join(broadcast(vocab), Seq("token"))
      .select($"token_id", $"token", $"n_occurrences")
      .orderBy($"token_id")
  }

  /** q_tokenizer_fertility — per-language tokenizer-efficiency audit:
    * fertility (BPE tokens per word) and compression (characters per
    * token), the metric multilingual-LLM teams watch because a
    * tokenizer trained on one language over-fragments the others —
    * inflating their effective sequence length and training cost
    * (Rust et al. 2021, "How good is your tokenizer?"). Reuses the
    * EXACT [[bpeEncode]] encoder q_token_bpe declares, so the numbers
    * audit the engine's own tokenizer.
    *
    * Determinism: all four carried measures are exact BIGINT counts;
    * the two emitted rates are round6'd rationals of those counts.
    *
    * Scale: one corpus scan; the per-word encode + token count runs in
    * the scan projection (native single-pass expression), the language
    * rollup is a map-side-combined G-row aggregate, and n_docs comes
    * from a SEPARATE document-sized aggregate joined on the G-row
    * result — not a count-distinct over the exploded word relation,
    * which would shuffle fact-sized state for a docs-sized answer. */
  private def qTokenizerFertility(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // (measured: fanOut here regresses ~0.15 s — the 5-row rollup's
    // map-side combine is cheaper from one partition than 32 tiny tasks)
    val perLang = docs(s, dir)
      .select($"lang", explode(split(lower($"text"), " ")).as("w"))
      .select($"lang", regexp_replace($"w", "[^a-z0-9]", "").as("word"))
      .filter(length($"word") > 0)
      .select($"lang", length($"word").cast("long").as("nc"),
        size(bpeEncode($"word")).cast("long").as("nt"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_words"), sum($"nc").as("n_chars"),
        sum($"nt").as("n_tokens"))
    val nDocs = docs(s, dir).groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"))
    nDocs.join(perLang, Seq("lang"))
      .select($"lang", $"n_docs", $"n_words", $"n_tokens",
        graft.Det.round6($"n_tokens".cast("double") / $"n_words")
          .as("fertility"),
        graft.Det.round6($"n_chars".cast("double") / $"n_tokens")
          .as("chars_per_token"))
      .orderBy($"lang")
  }

  /** q_rank_fusion — reciprocal-rank fusion (Cormack et al. 2009) of
    * two retrieval rankers over the same fixed query: BM25 and raw
    * tf·idf (no length normalization — a genuinely different ordering).
    * RRF(d) = Σ_r 1/(60 + rank_r(d)) over each ranker's top-100; the
    * hybrid-search merge step every modern retrieval stack runs to
    * combine lexical and secondary rankers without score calibration.
    *
    * Determinism: both rankers order on already-quantized INTEGER
    * scores (ties → doc_id); each reciprocal term is the exact integer
    * floor(1e9/(60+r) + 0.5) computed by pure integer arithmetic — no
    * literal table, no float division until the emitted score.
    *
    * Plan: ONE persisted per-doc term-frequency pass feeds both
    * rankers (the corpus parquet is touched once); each top-100 cut is
    * a TakeOrdered (never a global sort), the rank windows run over
    * LIMIT-bounded 100-row inputs, and the fusion is a full outer join
    * of two 100-row relations. */
  private def qRankFusion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val TopN = 100
    val perDoc0 = bm25PerDoc(s, dir)
    val (perDoc, perDocRel) = graft.Exec.sizedHub(perDoc0,
      Tables.rowCount(s, dir, "documents"))
    try {
      // both rank windows are bounded: ≤TopN(100) rows by the limit
      // directly under them — never fact-sized
      val wA = Window.orderBy($"bm25".desc, $"doc_id")
      val a = bm25Scored(s, perDoc)
        .orderBy($"bm25".desc, $"doc_id").limit(TopN)
        .withColumn("rank_a", row_number().over(wA).cast("long"))
        .select($"doc_id", $"rank_a")
      val aggs = count(lit(1)).as("n") +: Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
      val st = perDoc.agg(aggs.head, aggs.tail: _*)
      def qidf(i: Int): Column = floor(
        log($"n".cast("double") / col(s"df$i").cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long")
      val wB = Window.orderBy($"qb".desc, $"doc_id")
      val b = perDoc.crossJoin(broadcast(st))
        .withColumn("qb", Bm25Terms.indices
          .map(i => col(s"tf$i") * qidf(i)).reduce(_ + _))
        .filter($"qb" > 0)
        .orderBy($"qb".desc, $"doc_id").limit(TopN)
        .withColumn("rank_b", row_number().over(wB).cast("long"))
        .select($"doc_id", $"rank_b")
      a.join(b, Seq("doc_id"), "full_outer")
        .withColumn("qrrf",
          coalesce(expr(
            "(2000000000 + (60 + rank_a)) div (2 * (60 + rank_a))"),
            lit(0L))
            + coalesce(expr(
            "(2000000000 + (60 + rank_b)) div (2 * (60 + rank_b))"),
            lit(0L)))
        .orderBy($"qrrf".desc, $"doc_id").limit(20)
        .select($"doc_id", $"rank_a", $"rank_b",
          ($"qrrf".cast("double") / lit(1.0e9)).as("rrf_score"))
        .orderBy($"rrf_score".desc, $"doc_id")
    } finally perDocRel()
  }

  /** Number of merge rules q_bpe_train learns (a real tokenizer learns
    * ~50k; 8 keeps the oracle's unrolled CTEs readable while exercising
    * every structural element — multi-level merges included). */
  private[graft] val BpeTrainRounds = 8

  /** The distinct-word relation BPE training iterates over (Sennrich et
    * al. 2016 train on the word-frequency dict, not raw text — the corpus
    * collapses to |vocab| rows with multiplicities after ONE scan, which
    * is exactly what makes training tractable at 100 TB): cleaned word →
    * wrapped-char encoding "(h)(i)" + occurrence count. */
  private[graft] def bpeWords(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .select(regexp_replace($"w", "[^a-z0-9]", "").as("word"))
      .filter(length($"word") > 0)
      .groupBy($"word").agg(count(lit(1)).as("wc"))
      .select(concat_ws("", transform(split($"word", ""),
        c => concat(lit("("), c, lit(")")))).as("enc"), $"wc")
  }

  /** One training round: occurrence-weighted adjacent-pair counts over
    * the current encodings, then the deterministic argmax (count DESC,
    * pair ASC — bare max-count ties are what make naive BPE training
    * runs non-reproducible). Package-private so the PlanShapeSpec
    * loop-body sweep inspects the real per-round fragment. */
  private[graft] def bpeBestPair(words: DataFrame): DataFrame = {
    val s = words.sparkSession
    import s.implicits._
    words
      .withColumn("t",
        split(regexp_replace($"enc", "^\\(|\\)$", ""), "\\)\\("))
      .select($"wc", explode(expr(
        """transform(sequence(1, size(t)),
          |  i -> struct(element_at(t, i) AS a,
          |              CASE WHEN i < size(t)
          |                   THEN element_at(t, i + 1) END AS b))"""
          .stripMargin)).as("p"))
      .filter($"p.b".isNotNull)
      .groupBy($"p.a".as("a"), $"p.b".as("b"))
      .agg(sum($"wc").as("cnt"))
      .orderBy($"cnt".desc, $"a", $"b")
      .limit(1)
  }

  /** The training loop over a caller-supplied (enc, wc) words relation:
    * each round's winning pair is applied as the same left-to-right
    * wrapped-char `replace` the ENCODER uses (q_token_bpe), so trained
    * merges compose with encoding by construction. Everything stays a
    * DataFrame: the 1-row winner BROADCASTS into the next round's
    * rewrite (no driver collect — the q_ann_ivf Lloyd-round idiom), and
    * each round materializes through an eager `localCheckpoint` (the
    * q_dedup_clusters Pregel stance) because round r's lineage otherwise
    * nests every earlier round TWICE (pair-count + rewrite consumers) —
    * an O(2^rounds) logical tree that stalls the driver in plan
    * canonicalization before a single task runs. O(rounds) jobs; the
    * per-round work is vocab-sized. */
  private[graft] def bpeTrainMerges(words0: DataFrame, rounds: Int): DataFrame = {
    val s = words0.sparkSession
    import s.implicits._
    var words = words0.localCheckpoint(true)
    val bests = (1 to rounds).map { r =>
      val best = bpeBestPair(words).localCheckpoint(true)
      words = words.crossJoin(broadcast(best.select($"a", $"b")))
        .withColumn("enc", replace($"enc",
          concat(lit("("), $"a", lit(")("), $"b", lit(")")),
          concat(lit("("), $"a", $"b", lit(")"))))
        .select($"enc", $"wc")
        .localCheckpoint(true)
      best.select(lit(r.toLong).as("rank"), $"a".as("lhs"), $"b".as("rhs"),
        concat($"a", $"b").as("merged"), $"cnt".as("pair_count"))
    }
    bests.reduce(_.union(_)).orderBy($"rank")
  }

  /** q_bpe_train — BPE merge-table LEARNING (the training half of the
    * tokenizer capability; q_token_bpe is the encoding half): learn the
    * top-[[BpeTrainRounds]] merges from the corpus by iterated
    * most-frequent-adjacent-pair selection (Sennrich, Haddow & Birch
    * 2016). Output: the learned merge table (rank, pair, merged token,
    * occurrence-weighted pair count) — the artifact a pipeline ships to
    * its tokenizer.
    *
    * Scale: ONE corpus scan collapses to the word-frequency relation;
    * every round after that is vocab-sized (pair counts are map-side
    * combined; the winner broadcasts). The driver loop is O(rounds),
    * never O(rows) — the [[graft.operators.Similarity]] Pregel stance. */
  private def qBpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainMerges(bpeWords(s, dir), BpeTrainRounds)

  /** q_readability — Flesch reading-ease scoring (Flesch 1948; the
    * readability prior corpus-quality pipelines compute next to the
    * heuristic [[qQualityScore]]): 206.835 − 1.015·(words/sentences)
    * − 84.6·(syllables/words), with syllables approximated by vowel
    * groups (the standard dictionary-free proxy) and sentences by
    * terminal-punctuation runs, floored at 1 so punctuation-free text
    * degrades to one sentence instead of a division by zero. Each doc
    * also gets the coarse easy/medium/hard band downstream mixers key
    * on.
    *
    * Determinism: the three counts are integers; the score is pure
    * IEEE double arithmetic on them (two divisions, two multiplies),
    * identical bitwise in both engines, round6'd at emission.
    *
    * Scale: ONE scan, zero shuffles — counts, score and band are a
    * single codegen'd projection; the only exchange is the output
    * sort. */
  private def qReadability(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id",
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n_words"),
        expr("CAST(regexp_count(lower(text), '[aeiouy]+') AS BIGINT)")
          .as("n_syllables"),
        expr("CAST(greatest(regexp_count(text, '[.!?]+'), 1) AS BIGINT)")
          .as("n_sentences"))
      .withColumn("flesch", graft.Det.round6(
        lit(206.835)
          - lit(1.015) * ($"n_words".cast("double")
            / $"n_sentences".cast("double"))
          - lit(84.6) * ($"n_syllables".cast("double")
            / $"n_words".cast("double"))))
      .withColumn("band",
        when($"flesch" >= 60.0, "easy")
          .when($"flesch" >= 30.0, "medium").otherwise("hard"))
      .orderBy($"doc_id")
  }

  /** q_quality_score — heuristic quality signal: doc length, mean token
    * length, stopword ratio, blended into one bounded score. Mirrors the
    * length/punct/stopword family of quality filters used on web corpora. */
  private def qQualityScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .select(
        $"doc_id",
        expr("CAST(size(toks) AS BIGINT)").as("n_tokens"),
        expr("CAST(length(replace(text, ' ', '')) AS DOUBLE) / size(toks)")
          .as("avg_token_len"),
        expr("CAST(size(filter(toks, t -> t IN ('the', 'a', 'of', 'and'))) AS DOUBLE)" +
          " / size(toks)").as("stopword_ratio"))
      .withColumn("quality", graft.Det.round6(expr(
        """0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
          | + 0.3 * (1.0 - stopword_ratio)
          | + 0.3 * least(avg_token_len / 8.0, 1.0)""".stripMargin)))
      .orderBy($"doc_id")
  }

  /** q_lang_id — n-gram-profile language ID: each of the 5 language
    * profiles claims the tokens whose md5 leading hex digit falls in its
    * residue class; the predicted language is the argmax profile score
    * (first-index tie-break). The profile assignment is synthetic (the
    * testdata vocabulary carries no real language signal) but the scoring
    * machinery — per-token profile lookup, occurrence-weighted scores,
    * deterministic argmax — is the real operator shape. */
  private def qLangId(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .withColumn("scores", expr(
        """transform(sequence(0, 4), i ->
          |  size(filter(toks, t ->
          |    (instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) % 5 = i)))"""
          .stripMargin))
      .select(
        $"doc_id", $"lang",
        expr("element_at(array('de','en','es','fr','zh')," +
          " CAST(array_position(scores, array_max(scores)) AS INT))")
          .as("pred_lang"))
      .withColumn("is_match", $"pred_lang" === $"lang")
      .orderBy($"doc_id")
  }

  /** Rolling polynomial hash of a string column:
    * h = fold(h·31 + ascii(c)) mod 1e9+7 — pure integer arithmetic, so
    * bit-identical in both engines (unlike engine-native hash()).
    * Position-sensitive: any character change, drop, or reorder changes
    * the value, which is what makes it usable as a round-trip checksum
    * (q_jsonl_roundtrip) as well as a content fingerprint. */
  private[operators] def rollingHash(col: String): org.apache.spark.sql.Column =
    expr(s"""aggregate(split($col, ''), CAST(0 AS BIGINT),
            |  (acc, c) -> (acc * 31 + ascii(c)) % 1000000007)""".stripMargin)

  /** DuckDB replay of [[rollingHash]] (list_reduce needs the accumulator
    * typed like the elements, hence the VARCHAR fold). */
  private[operators] def ROLLING_HASH(col: String): String =
    s"""CAST(list_reduce(
          list_prepend('0', string_split($col, '')),
          (acc, c) -> CAST((CAST(acc AS BIGINT) * 31 + ascii(c))
                           % 1000000007 AS VARCHAR)) AS BIGINT)"""

  /** q_fingerprint — [[rollingHash]] as a per-document content
    * fingerprint. */
  private def qFingerprint(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .select($"doc_id", rollingHash("text").as("fingerprint"))
      .orderBy($"doc_id")
  }

  /** q_quality_repetition — Gopher-style repetition filters (Rae et al.
    * 2021 §A1.1): excessive repetition is the single strongest web-junk
    * signal, measured here per document over token bigrams — the
    * duplicate-bigram fraction (1 − distinct/total) and the top-bigram
    * fraction (most frequent bigram's share). Documents under 2 tokens
    * have no bigram and drop out (same rule both engines).
    *
    * Scale: one scan; bigrams come from a generator (explode over an
    * index-zipped transform — O(len) per doc, never a self-join), then
    * TWO map-side-combinable hash aggregates ((doc,bigram) → doc). The
    * only values crossing the wire are partial counts; no window, no
    * per-doc quadratic work, so a 100 TB corpus with pathological long
    * docs still costs O(tokens) total. */
  private def qQualityRepetition(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> concat(element_at(toks, i), ' ', element_at(toks, i + 1)))"""
          .stripMargin)).as("bigram"))
      .groupBy($"doc_id", $"bigram").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_bigrams"),
        count(lit(1)).as("n_distinct"),
        max($"c").as("top_n"))
      .select($"doc_id", $"n_bigrams", $"n_distinct", $"top_n",
        graft.Det.round6(lit(1.0) -
          $"n_distinct".cast("double") / $"n_bigrams").as("dup_bigram_frac"),
        graft.Det.round6(
          $"top_n".cast("double") / $"n_bigrams").as("top_bigram_frac"))
      .orderBy($"doc_id")
  }

  /** q_unigram_logprob — unigram-LM surprisal, the classic cheap
    * perplexity proxy for quality filtering (CCNet/Wenzek et al. 2020
    * rank web docs by LM score; a unigram model is its
    * sort-by-token-rarity degenerate case): score(doc) = mean over token
    * occurrences of −ln p(token), p = corpus frequency. Low = stopword
    * soup, high = rare-token noise; both tails get filtered.
    *
    * Determinism: each token's nll is half-up quantized to 1e-6 with
    * pure IEEE ops, the per-doc mean is then an exact BIGINT sum
    * (order-free — Spark's aggregation tree and DuckDB's scan order add
    * in different orders) finished by ONE double division.
    *
    * Scale: same single-scan posture as [[qTfidf]] — the (doc,token) tf
    * relation is built once and persisted for its two consumers (vocab
    * build + probe side); the vocab (one row per distinct token, ~MBs at
    * any corpus size) BROADCASTS into the scoring join, and the corpus
    * total rides along as a broadcast 1-row aggregate, so the only
    * full-size exchange is tf's own map-side-combined groupBy. */
  private def qUnigramLogprob(s: SparkSession, dir: String): DataFrame = {
    val tf0 = tfRelation(s, dir)
    val (tf, tfRel) = graft.Exec.sizedHub(tf0,
      Tables.rowCount(s, dir, "documents"))
    try unigramScored(s, tf).transform(graft.Exec.seal)
    finally tfRel()
  }

  /** Surprisal scoring over a caller-managed (cached) tf relation. */
  private[graft] def unigramScored(s: SparkSession, tf: DataFrame): DataFrame = {
    import s.implicits._
    // n_total rides the vocab relation as a whole-relation window (the
    // vocab is token-sized, so the single-partition window is free)
    // rather than a separate 1-row aggregate: a crossJoin(broadcast(agg))
    // whose input is ITSELF the vocab chains two broadcast jobs
    // back-to-back, and the serial job latency — not data — was the cost
    // (measured 1.64 s → ~1.2 s at sf0.1/local[32], the q_ann_ivf
    // eager-broadcast lesson in miniature)
    val qnll = tf.groupBy($"token").agg(sum($"tf").as("cnt"))
      .withColumn("n_total",
        sum($"cnt").over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .select($"token", floor(
        log($"n_total".cast("double") / $"cnt") * lit(1000000.0) + lit(0.5))
        .cast("long").as("qnll"))
    tf.join(broadcast(qnll), Seq("token"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_tokens"), sum($"tf" * $"qnll").as("sq"))
      .select($"doc_id", $"n_tokens",
        ($"sq".cast("double") / ($"n_tokens" * lit(1000000.0))).as("avg_nll"))
      .orderBy($"doc_id")
  }

  /** q_bm25 — Okapi BM25 relevance of every document against a fixed
    * 3-term query (k1=1.2, b=0.75): the retrieval scorer a curation
    * pipeline uses for query-targeted corpus selection (and the lexical
    * half of hybrid search next to [[Similarity]]'s ANN). With a
    * KNOWN query, per-term tf needs no explode: each tf is a codegen'd
    * `size(filter(tokens, = term))` in ONE projection, so the whole
    * query is a single corpus scan + a broadcast 1-row stats aggregate
    * (N, Σdl, per-term df — all map-side combined) + a pure map — no
    * wide exchange at any size. Determinism: per-term scores are
    * quantized to 1e-6 BIGINTs before the cross-term sum (integer adds
    * are order-free), `ln` stays inside the quantization like
    * [[qTfidf]]; the emitted double is one exact integer division.
    *
    * The per-doc relation is persisted at every size: its three
    * consumers (stats broadcast, range sample, scoring) would otherwise
    * each re-tokenize the corpus, and at ~40 B per doc the cache write
    * costs less than one re-tokenization ([[graft.Exec.sizedHub]]'s
    * recompute route is for wide hubs). */
  private def qBm25(s: SparkSession, dir: String): DataFrame = {
    val perDoc = bm25PerDoc(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try bm25Scored(s, perDoc).transform(graft.Exec.seal)
    finally perDoc.unpersist(false)
  }

  private val Bm25Terms = Seq("spark", "vector", "dup")

  /** The narrow (doc_id, dl, tf_t…) relation — one corpus scan, per-term
    * tf as codegen'd array filters (no explode). Package-visible for the
    * single-scan plan guard. */
  private[graft] def bm25PerDoc(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val toks = split(lower($"text"), " ")
    docs(s, dir).select(
      $"doc_id" +: size(toks).cast("long").as("dl") +:
        Bm25Terms.zipWithIndex.map { case (t, i) =>
          size(org.apache.spark.sql.functions.filter(toks, _ === t))
            .cast("long").as(s"tf$i")
        }: _*)
  }

  /** Scoring over a caller-managed (cached) per-doc relation: both
    * consumers (the 1-row stats aggregate and the scoring map) read the
    * cache, so the corpus parquet is touched exactly once. */
  private[graft] def bm25Scored(s: SparkSession, perDoc: DataFrame): DataFrame = {
    import s.implicits._
    val aggs = count(lit(1)).as("n") +: sum($"dl").as("sumdl") +:
      Bm25Terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1L).otherwise(0L)).as(s"df$i"))
    val st = perDoc.agg(aggs.head, aggs.tail: _*)
    val avgdl = $"sumdl".cast("double") / $"n".cast("double")
    def qsc(i: Int) = {
      val tf = col(s"tf$i").cast("double")
      val df = col(s"df$i").cast("double")
      val idf = log(lit(1.0) + ($"n".cast("double") - df + lit(0.5))
        / (df + lit(0.5)))
      val norm = tf * lit(2.2) / (tf + lit(1.2) *
        (lit(0.25) + lit(0.75) * ($"dl".cast("double") / avgdl)))
      when(col(s"tf$i") > 0,
        floor(idf * norm * lit(1000000.0) + lit(0.5)).cast("long"))
        .otherwise(0L)
    }
    def hit(i: Int) = when(col(s"tf$i") > 0, 1L).otherwise(0L)
    perDoc.crossJoin(broadcast(st))
      .withColumn("qs", Bm25Terms.indices.map(qsc).reduce(_ + _))
      .withColumn("n_terms", Bm25Terms.indices.map(hit).reduce(_ + _))
      .filter($"n_terms" > 0)
      .select($"doc_id", $"n_terms", $"dl",
        ($"qs".cast("double") / lit(1000000.0)).as("bm25"))
      .orderBy($"bm25".desc, $"doc_id")
  }

  /** q_classifier_score — model-based quality filtering: a fixed-weight
    * logistic classifier over cheap text features (the fastText-style
    * "quality model" pass of pretraining curation — here the WEIGHTS are
    * honest stand-ins but the scoring machinery is the real thing: one
    * codegen'd projection, no shuffle before the final order). The
    * keep/drop decision is made on the LINEAR score z ≥ 0 — exactly the
    * σ(z) ≥ 0.5 boundary but computed in pure +/×/÷ doubles that are
    * bit-identical across engines, so the cut can't straddle; σ itself
    * (an `exp`) is emitted only as a round6'd display column, the same
    * quantization discipline as `ln` in [[qTfidf]]. */
  private def qClassifierScore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nTokens = expr("CAST(size(split(text, ' ')) AS BIGINT)")
    val nDistinct =
      expr("CAST(size(array_distinct(split(lower(text), ' '))) AS BIGINT)")
    val nStop = expr(
      "CAST(size(filter(split(lower(text), ' '), x -> x = 'the' OR x = 'a')) AS BIGINT)")
    val nNonspace = expr("CAST(length(replace(text, ' ', '')) AS BIGINT)")
    val base = docs(s, dir).select($"doc_id", nTokens.as("n_tokens"),
      nDistinct.as("n_distinct"), nStop.as("n_stop"),
      nNonspace.as("n_nonspace"))
    val f1 = $"n_tokens".cast("double") / lit(100.0)
    val f2 = $"n_distinct".cast("double") / $"n_tokens".cast("double")
    val f3 = $"n_stop".cast("double") / $"n_tokens".cast("double")
    val f4 = $"n_nonspace".cast("double") / $"n_tokens".cast("double")
    val z = lit(-0.5) + lit(0.1) * f1 + lit(1.5) * f2 +
      lit(-2.0) * f3 + lit(0.3) * f4
    base
      .withColumn("z", z)
      .select($"doc_id", $"n_tokens",
        graft.Det.round6(lit(1.0) / (lit(1.0) + exp(-$"z"))).as("score"),
        ($"z" >= 0.0).as("keep"))
      .orderBy($"doc_id")
  }

  /** q_chi2_select — χ² feature selection: the top-5 tokens most
    * associated with each language class by the chi-square statistic over
    * the (token-presence × class) 2×2 contingency table — the classic
    * supervised vocabulary selector a data pipeline runs before training
    * a fastText-style quality/domain classifier (Manning & Schütze ch.5;
    * same role as sklearn's chi2 scorer).
    *
    * χ² = N·(n11·n00 − n10·n01)² / (df·(N−df)·Nc·(N−Nc)), all four
    * margins derived from ONE corpus pass: per-doc distinct tokens
    * explode to (lang, token) presence counts n11 (map-side combinable);
    * df(token) = Σ_lang n11 comes from that vocabulary-sized relation,
    * NOT a second scan; class sizes Nc and N come from the docs dim.
    * The contingency determinant folds in exact BIGINT (counts ≤ N, so
    * products ≤ N² < 2⁶³); only the final ratio is double — both engines
    * evaluate the identical left-associated IEEE expression, and the
    * score is round6'd before the rank so an ulp can't flip the top-5
    * cut (the [[qTfidf]] discipline).
    *
    * Scale: corpus touched once; everything after the presence aggregate
    * is vocabulary-sized (df broadcasts — the TF-IDF df-join argument,
    * PLANS.md round-2); the rank window partitions by class. */
  /** q_mi_select — mutual-information feature selection: the top-5
    * tokens most informative about each language class by I(token;
    * class) over the same (presence × class) 2×2 table as
    * [[qChi2Select]] — the OTHER standard supervised vocabulary
    * selector (sklearn's mutual_info_classif next to its chi2; Manning
    * & Schütze ch.5 run both because χ² over-weights rare tokens while
    * MI weights by probability mass).
    *
    * Determinism: each cell's log-ratio ln(n·N/(rowm·colm)) is
    * quantized half-up to 1e-6 micro-nats FIRST, the four n·qln terms
    * sum as exact BIGINTs (zero cells contribute zero, sidestepping
    * ln 0), ranking orders on the INTEGER mi_q so an ulp can never
    * flip the top-5 cut, and the emitted MI is the one exact division
    * mi_q/(N·1e6) — the [[qUnigramLogprob]] discipline on a 2×2 grid.
    *
    * Scale: identical posture to [[qChi2Select]] — one corpus pass to
    * presence cells, vocabulary-sized everything after, broadcast
    * margins, class-partitioned rank window. */
  private def qMiSelect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // r17: ONE corpus explode instead of two (guide §2.4). The old
    // broadcast(dfT) join recomputed the whole explode+groupBy subtree
    // under its broadcast build (ReuseExchange never fires across the
    // pruned-column variants — the r16 q_naive_bayes lesson), so the
    // corpus was scanned 4× per run and the duplicated 32-wide shuffles
    // made the query 6× SLOWER at 32 cores than at 8 (driver scaling
    // ratio 0.17). df(token) = Σ_lang n11 now rides a token-partitioned
    // window over the SAME aggregate — vocabulary-sized exchange, no
    // second corpus pass — and n_docs = Σ_lang n_c rides the class-size
    // aggregate itself (bounded: ≤ #langs rows under the unpartitioned
    // window) so ONE broadcast join attaches both margins instead of a
    // broadcast join plus a crossJoin over a third docs scan. Values
    // are exact integers either way; rows, schema, order unchanged.
    val cell = docs(s, dir)
      .select($"lang",
        explode(array_distinct(split(lower($"text"), " "))).as("token"))
      .groupBy($"lang", $"token").agg(count(lit(1)).as("n11"))
      .withColumn("df",
        sum($"n11").over(Window.partitionBy($"token")).cast("long"))
    val nc = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("n_c"))
      .withColumn("n_docs", sum($"n_c").over(Window.partitionBy()))
    def term(n: Column, rowm: Column, colm: Column): Column =
      when(n > 0, n * floor(
        log((n.cast("double") * $"n_docs".cast("double"))
          / (rowm.cast("double") * colm.cast("double")))
          * lit(1000000.0) + lit(0.5)).cast("long")).otherwise(lit(0L))
    val scored = cell
      .join(broadcast(nc), Seq("lang"))
      .filter($"df" < $"n_docs")
      .withColumn("mi_q",
        term($"n11", $"df", $"n_c")
          + term($"df" - $"n11", $"df", $"n_docs" - $"n_c")
          + term($"n_c" - $"n11", $"n_docs" - $"df", $"n_c")
          + term($"n_docs" - $"df" - $"n_c" + $"n11",
            $"n_docs" - $"df", $"n_docs" - $"n_c"))
    val w = Window.partitionBy($"lang").orderBy($"mi_q".desc, $"token")
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"lang", $"rn", $"token", $"n11", $"df",
        ($"mi_q".cast("double")
          / ($"n_docs".cast("double") * lit(1000000.0))).as("mi"))
      .orderBy($"lang", $"rn")
  }

  private def qChi2Select(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // same single-pass restructure as [[qMiSelect]] (the duplicated
    // corpus explode under broadcast(dfT) and the third docs scan)
    val cell = docs(s, dir)
      .select($"lang",
        explode(array_distinct(split(lower($"text"), " "))).as("token"))
      .groupBy($"lang", $"token").agg(count(lit(1)).as("n11"))
      .withColumn("df",
        sum($"n11").over(Window.partitionBy($"token")).cast("long"))
    val nc = docs(s, dir).groupBy($"lang").agg(count(lit(1)).as("n_c"))
      .withColumn("n_docs", sum($"n_c").over(Window.partitionBy()))
    val scored = cell
      .join(broadcast(nc), Seq("lang"))
      .filter($"df" < $"n_docs") // token in every doc carries zero signal
      .withColumn("diff",
        ($"n11" * ($"n_docs" - $"df" - $"n_c" + $"n11") -
          ($"df" - $"n11") * ($"n_c" - $"n11")).cast("double"))
      .withColumn("chi2", graft.Det.round6(
        ($"n_docs".cast("double") * $"diff" * $"diff") /
          ($"df".cast("double") * ($"n_docs" - $"df").cast("double") *
            $"n_c".cast("double") * ($"n_docs" - $"n_c").cast("double"))))
    val w = Window.partitionBy($"lang").orderBy($"chi2".desc, $"token")
    scored
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 5)
      .select($"lang", $"rn", $"token", $"n11", $"df", $"chi2")
      .orderBy($"lang", $"rn")
  }

  /** q_collocations — PMI-scored bigram collocations over the corpus
    * (Church & Hanks 1990): which word pairs co-occur far more than
    * chance, the standard corpus-linguistics signal for multiword
    * expressions (and a cheap phrase-vocabulary miner for tokenizer
    * construction). PMI(x,y) = ln(p(x,y) / (p(x)p(y))) with p from raw
    * corpus counts; top-20 pairs with ≥3 occurrences.
    *
    * One corpus scan: each position emits (token, next-token-or-NULL) —
    * the NULL marks a document's final token — aggregated immediately to
    * a vocab²-sized count table (map-side combined), from which BOTH the
    * bigram counts (b non-null) and the exact unigram counts (sum over
    * b, doc-final tokens included via the NULL rows) derive; the table
    * is persisted across those consumers (the round-2 single-scan
    * lesson), and everything after it is vocab-sized: unigram sides
    * broadcast into the scoring join, corpus totals ride as a broadcast
    * 1-row aggregate, and the top-20 is a TakeOrderedAndProject.
    * Determinism: counts are exact integers; the one transcendental (ln)
    * is computed over identically-ordered double ops in both engines and
    * quantized via [[graft.Det.round6]] BEFORE the rank cut, with a
    * (w1, w2) tie-break so the limit boundary can't straddle engines. */
  private def qCollocations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val pc0 = docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .select(explode(expr(
        """transform(sequence(1, size(toks)),
          |  i -> struct(element_at(toks, i) AS a,
          |              CASE WHEN i < size(toks)
          |                   THEN element_at(toks, i + 1) END AS b))"""
          .stripMargin)).as("p"))
      .select($"p.a".as("a"), $"p.b".as("b"))
      .groupBy($"a", $"b").agg(count(lit(1)).as("c"))
    val (pc, pcRel) = graft.Exec.sizedHub(pc0,
      Tables.rowCount(s, dir, "documents"))
    try {
      val uni = pc.groupBy($"a").agg(sum($"c").as("cx"))
      val tot = pc.agg(
        sum($"c").as("n_uni"),
        sum(when($"b".isNotNull, $"c").otherwise(0L)).as("n_bi"))
      pc.filter($"b".isNotNull && $"c" >= 3)
        .join(broadcast(uni), "a")
        .join(broadcast(uni.select($"a".as("b"), $"cx".as("cy"))), "b")
        .crossJoin(broadcast(tot))
        .withColumn("pmi", graft.Det.round6(expr(
          "ln((CAST(c AS DOUBLE) * n_uni * n_uni) / (CAST(n_bi AS DOUBLE) * cx * cy))")))
        .select($"a".as("w1"), $"b".as("w2"), $"c".as("pair_count"), $"pmi")
        .orderBy($"pmi".desc, $"w1", $"w2")
        .limit(20)
        .transform(graft.Exec.seal)
    } finally pcRel()
  }

  /** q_token_entropy — per-document Shannon entropy of the token
    * distribution, H = ln(n) − (Σ c·ln c)/n over token counts c — the
    * lexical-diversity quality signal that separates natural prose
    * (high H) from keyword-stuffed or template junk (low H); the
    * logarithmic sibling of [[qQualityRepetition]]'s ratio filters and a
    * standard feature in web-corpus quality classifiers.
    *
    * Determinism (the [[qUnigramLogprob]] discipline): each distinct
    * token's c·ln(c) term is half-up quantized to a 1e-6 BIGINT with
    * pure IEEE ops, summed EXACTLY (order-free — Spark's aggregation
    * tree and DuckDB's scan add in different orders), and H finishes in
    * identical double ops, round6'd. Scale: one scan, a map-side-combined
    * (doc, token) aggregate, then a doc-keyed rollup — O(tokens) total,
    * no window, no join. */
  private def qTokenEntropy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val qterm = floor($"c".cast("double") * log($"c".cast("double"))
      * lit(1000000.0) + lit(0.5)).cast("long")
    docs(s, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("token"))
      .groupBy($"doc_id", $"token").agg(count(lit(1)).as("c"))
      .groupBy($"doc_id")
      .agg(sum($"c").as("n_tokens"), sum(qterm).as("sq"))
      .select($"doc_id", $"n_tokens",
        graft.Det.round6(log($"n_tokens".cast("double"))
          - ($"sq".cast("double") / lit(1000000.0))
            / $"n_tokens".cast("double")).as("entropy"))
      .orderBy($"doc_id")
  }

  /** q_bigram_logprob — bigram-LM cross-entropy per document, the
    * next step up from [[qUnigramLogprob]]'s unigram surprisal (the
    * KenLM-perplexity-filter shape at its smallest order): score(doc) =
    * mean over bigram occurrences of −ln P(b|a), with P(b|a) =
    * count(a,b)/count(a,·) from corpus counts. Low = boilerplate n-gram
    * soup, high = token-salad noise; both tails get filtered.
    *
    * Plan (the [[qTfidf]] cached-relation posture): ONE corpus scan
    * builds the per-doc bigram counts, persisted for its two consumers —
    * the corpus bigram table (vocab²-sized) and the scoring join's probe
    * side. Context counts come from the bigram table itself (a context
    * is a bigram start, so doc-final tokens are correctly excluded), the
    * scored table broadcasts, and per-doc means are exact quantized
    * BIGINT sums finished by one double division. */
  private def qBigramLogprob(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val perDoc0 = docs(s, dir)
      .withColumn("toks", split(lower($"text"), " "))
      .filter(size($"toks") >= 2)
      .select($"doc_id", explode(expr(
        """transform(sequence(1, size(toks) - 1),
          |  i -> struct(element_at(toks, i) AS a,
          |              element_at(toks, i + 1) AS b))"""
          .stripMargin)).as("p"))
      .groupBy($"doc_id", $"p.a".as("a"), $"p.b".as("b"))
      .agg(count(lit(1)).as("c"))
    val (perDoc, perDocRel) = graft.Exec.sizedHub(perDoc0,
      Tables.rowCount(s, dir, "documents"))
    try {
      val corpus = perDoc.groupBy($"a", $"b").agg(sum($"c").as("cab"))
        .withColumn("ca", sum($"cab").over(
          org.apache.spark.sql.expressions.Window.partitionBy($"a")))
      val qnll = corpus.select($"a", $"b", floor(
        log($"ca".cast("double") / $"cab") * lit(1000000.0) + lit(0.5))
        .cast("long").as("qnll"))
      perDoc.join(broadcast(qnll), Seq("a", "b"))
        .groupBy($"doc_id")
        .agg(sum($"c").as("n_bigrams"), sum($"c" * $"qnll").as("sq"))
        .select($"doc_id", $"n_bigrams",
          ($"sq".cast("double") / ($"n_bigrams" * lit(1000000.0)))
            .as("avg_nll"))
        .orderBy($"doc_id")
        .transform(graft.Exec.seal)
    } finally perDocRel()
  }

  /** q_inverted_index — posting-list build below the stopword line
    * (df < 0.9·|docs|, tokens ≥ 4 chars; the cutoff is the exact integer
    * comparison df·10 < N·9 so both engines agree without float
    * thresholds): token → document frequency + sorted postings. The
    * search-index primitive over the corpus, and a deliberate two-phase
    * plan: the cheap df aggregate (one row per DISTINCT token, map-side
    * combined) runs first against a broadcast 1-row corpus count, the
    * surviving token set broadcasts back, and only then does the heavy
    * `collect_list` see rows — so near-universal tokens (the df skew
    * that would make a single-pass build collect billion-element
    * postings for 'the' at 100 TB) are never materialized. The
    * (doc, token) relation is persisted across its two consumers (the
    * tfidf discipline: one corpus scan), and the small index is
    * localCheckpoint'ed so the cache is dropped before return. */
  private def qInvertedIndex(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val dt0 = docs(s, dir)
      .select($"doc_id",
        explode(array_distinct(split(lower($"text"), " "))).as("token"))
      .filter(length($"token") >= 4)
    val (dt, dtRel) = graft.Exec.sizedHub(dt0,
      Tables.rowCount(s, dir, "documents"))
    try {
      val nd = docs(s, dir).agg(count_distinct($"doc_id").as("nd"))
      val kept = dt.groupBy($"token").agg(count(lit(1)).as("df"))
        .crossJoin(broadcast(nd))
        .filter($"df" * 10 < $"nd" * 9)
        .select($"token", $"df")
      // postings serialize to a CSV string: the t2 comparator (like most
      // interchange layers) takes scalar cells only (OutputSchemaSpec)
      dt.join(broadcast(kept), Seq("token"))
        .groupBy($"token", $"df")
        .agg(expr("array_join(transform(sort_array(collect_list(doc_id))," +
          " x -> cast(x as string)), ',')").as("postings"))
        .select($"token", $"df", $"postings")
        .orderBy($"token")
        .transform(graft.Exec.seal)
    } finally dtRel()
  }

  /** q_vocab_growth — Heaps'-law vocabulary-growth curve: the corpus is
    * cut into 10 equal doc-id deciles and each decile reports its token
    * volume plus how many vocabulary types appear there for the FIRST
    * time, with running totals — the corpus-health diagnostic that tells
    * a curation pipeline whether more data is still buying new
    * vocabulary (a flattening curve on a "fresh" crawl means duplication
    * upstream; this testdata's tiny synthetic vocab saturates in decile
    * 0, which is exactly the signal the curve exists to expose).
    *
    * ONE fact pass: tokens collapse straight to (type, decile) counts —
    * map-side combinable, vocab×10 rows — and BOTH downstream aggregates
    * (per-decile volume, per-type first decile) derive from that tiny
    * relation, never from a second corpus scan. The cumulative windows
    * run over 10 rows. All-integer output. */
  private def qVocabGrowth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val stats = docs(s, dir)
      .agg(min($"doc_id").as("mn"),
        (max($"doc_id") - min($"doc_id") + 1).as("spanw"))
    val h0 = docs(s, dir)
      .select($"doc_id", explode(split(lower($"text"), " ")).as("tok"))
      .crossJoin(broadcast(stats))
      .select(expr("(doc_id - mn) * 10 div spanw").as("decile"), $"tok")
      .groupBy($"decile", $"tok").agg(count(lit(1)).as("c"))
    val (h, hRel) = graft.Exec.sizedHub(h0,
      Tables.rowCount(s, dir, "documents"))
    try {
      val vol = h.groupBy($"decile").agg(sum($"c").as("n_tokens"))
      val fresh = h.groupBy($"tok").agg(min($"decile").as("decile"))
        .groupBy($"decile").agg(count(lit(1)).as("new_types"))
      val w = Window.orderBy($"decile")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      vol.join(fresh, Seq("decile"), "left")
        .select($"decile", $"n_tokens",
          coalesce($"new_types", lit(0L)).as("new_types"))
        .withColumn("cum_tokens", sum($"n_tokens").over(w))
        .withColumn("cum_types", sum($"new_types").over(w))
        .orderBy($"decile")
        .transform(graft.Exec.seal)
    } finally hRel()
  }

  /** Hashed-vocabulary size for [[qDsir]]: small enough that the
    * per-bucket LM table broadcasts trivially, large enough that bucket
    * collisions don't wash out the domain signal at the corpus's
    * vocabulary size. */
  private val DsirBuckets = 256L

  /** q_dsir — Data Selection via Importance Resampling (Xie et al.
    * 2023, arXiv:2302.03169), the published recipe for "pick raw-corpus
    * documents that look like the target domain": fit two hashed-
    * unigram LMs — target (here lang='en', the deterministic stand-in
    * for a curated target corpus) and raw (everything) — and weight
    * each document by its summed per-token log importance ratio
    * log p_target(b(t)) − log p_raw(b(t)) over [[DsirBuckets]] hashed
    * buckets (Laplace-smoothed). Documents in the top 20% by weight are
    * flagged `selected` — the resampling cut.
    *
    * Determinism (the [[qUnigramLogprob]] discipline): ONE ln per
    * BUCKET, computed from a ratio of exact integer products and
    * half-up quantized to 1e-6 BIGINT; per-doc weights are then exact
    * integer sums (order-free) and the emitted double is one division.
    * The integer products stay under 2⁶³ while corpus tokens × bucket
    * count < ~10¹⁸ — past that, widen to DECIMAL. The 20% threshold is
    * an exact order statistic from [[Selection.withRankCum]] (global
    * selection — every window is bounded by the constant bucket count),
    * so ties at the boundary resolve identically in both engines.
    *
    * Scale: one corpus scan builds the (doc, bucket) occurrence
    * relation, persisted for its two consumers (bucket LM + doc
    * weights); the 256-row LM broadcasts; the weight histogram and
    * threshold are doc-sized aggregates. No window ever sees more than
    * max(256, 4096) rows in one partition. */
  private def qDsir(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val occ0 = docs(s, dir)
      .select($"doc_id", $"lang",
        explode(split(lower($"text"), " ")).as("token"))
      .select($"doc_id", $"lang",
        (conv(substring(md5($"token"), 1, 15), 16, 10).cast("long")
          % lit(DsirBuckets)).as("b"))
    val (occ, occRel) = graft.Exec.sizedHub(occ0,
      Tables.rowCount(s, dir, "documents"))
    try {
      // raw + target bucket counts in ONE map-side-combined pass; the
      // totals ride the 256-row relation as whole-relation windows
      // (the qUnigramLogprob trick — a separate 1-row aggregate would
      // chain a second broadcast job)
      val bc = occ.groupBy($"b").agg(
        count(lit(1)).as("cr"),
        count(when($"lang" === "en", 1)).as("ct"))
        .withColumn("tr", sum($"cr").over(Window.partitionBy()))
        .withColumn("tg", sum($"ct").over(Window.partitionBy()))
      val qb = bc.select($"b",
        floor(log(
          (($"ct" + 1L) * ($"tr" + lit(DsirBuckets))).cast("double") /
            (($"cr" + 1L) * ($"tg" + lit(DsirBuckets))).cast("double"))
          * lit(1000000.0) + lit(0.5)).cast("long").as("q"))
      val dw = graft.Exec.seal(occ.join(broadcast(qb), Seq("b"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum($"q").as("sw")))
      val h = dw.groupBy($"sw".as("v")).agg(count(lit(1)).as("cnt"))
      val th = Selection.withRankCum(h, Seq(), "v", "cnt")
        .agg(min(when($"cum" >= expr("(n * 4 + 4) div 5"), $"v")).as("t"))
      dw.crossJoin(broadcast(th))
        .select($"doc_id", $"n_tokens",
          ($"sw".cast("double") / lit(1000000.0)).as("log_ratio"),
          when($"sw" >= $"t", 1L).otherwise(0L).as("selected"))
        .orderBy($"doc_id")
        .transform(graft.Exec.seal)
    } finally occRel()
  }

  val queries: Map[String, Q] = Map(
    "q_dsir" -> (qDsir _),
    "q_vocab_growth" -> (qVocabGrowth _),
    "q_inverted_index" -> (qInvertedIndex _),
    "q_bpe_train" -> (qBpeTrain _),
    "q_bigram_logprob" -> (qBigramLogprob _),
    "q_token_entropy" -> (qTokenEntropy _),
    "q_collocations" -> (qCollocations _),
    "q_bm25" -> (qBm25 _),
    "q_classifier_score" -> (qClassifierScore _),
    "q_chi2_select" -> (qChi2Select _),
    "q_mi_select" -> (qMiSelect _),
    "q_dedup_exact" -> (qDedupExact _),
    "q_dedup_url" -> (qDedupUrl _),
    "q_incremental_dedup" -> (qIncrementalDedup _),
    "q_text_tokenize_tf" -> (qTextTokenizeTf _),
    "q_tfidf" -> (qTfidf _),
    "q_token_count" -> (qTokenCount _),
    "q_token_bpe" -> (qTokenBpe _),
    "q_quality_score" -> (qQualityScore _),
    "q_readability" -> (qReadability _),
    "q_quality_repetition" -> (qQualityRepetition _),
    "q_unigram_logprob" -> (qUnigramLogprob _),
    "q_lang_id" -> (qLangId _),
    "q_fingerprint" -> (qFingerprint _),
    "q_tokenizer_fertility" -> (qTokenizerFertility _),
    "q_rank_fusion" -> (qRankFusion _))

  /** DuckDB replay of [[bpeEncodeSql]] over a column named `word` —
    * shared by the q_token_bpe and q_tokenizer_fertility oracles so the
    * encoder text can never drift between them. */
  private def duckBpeEncSql: String = BPE_MERGES.foldLeft(
    "list_aggregate(list_transform(string_split(word, ''), " +
      "c -> '(' || c || ')'), 'string_agg', '')") {
    case (e, (a, b)) => s"replace($e, '($a)($b)', '(${a + b})')"
  }

  /** Oracle for q_bpe_train: the training rounds unrolled as CTEs (the
    * q_ann_ivf Lloyd-iteration replay pattern) — per round, pair counts
    * from the current encodings, ORDER BY/LIMIT-1 argmax, CROSS JOIN +
    * replace rewrite. */
  private def bpeTrainOracle(rounds: Int): String = {
    val base =
      """wd AS (
           SELECT regexp_replace(w, '[^a-z0-9]', '', 'g') AS word
           FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                 FROM documents)),
         w0 AS (
           SELECT list_aggregate(list_transform(string_split(word, ''),
                    c -> '(' || c || ')'), 'string_agg', '') AS enc,
                  count(*) AS wc
           FROM wd WHERE len(word) > 0 GROUP BY word)"""
    val roundCtes = (1 to rounds).map { r =>
      s"""t$r AS (
           SELECT string_split(regexp_replace(enc, '^\\(|\\)$$', '', 'g'),
                               ')(') AS t, wc
           FROM w${r - 1}),
         p$r AS (
           SELECT t[i] AS a, t[i + 1] AS b, CAST(sum(wc) AS BIGINT) AS cnt
           FROM (SELECT t, wc, unnest(generate_series(1, len(t) - 1)) AS i
                 FROM t$r)
           GROUP BY 1, 2),
         b$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
         w$r AS (
           SELECT replace(w.enc, '(' || b.a || ')(' || b.b || ')',
                          '(' || b.a || b.b || ')') AS enc, w.wc
           FROM w${r - 1} w CROSS JOIN b$r b)"""
    }
    val rows = (1 to rounds).map { r =>
      s"""SELECT CAST($r AS BIGINT) AS rank, a AS lhs, b AS rhs,
                 a || b AS merged, cnt AS pair_count FROM b$r"""
    }
    s"""WITH $base,
       ${roundCtes.mkString(",\n")}
       SELECT * FROM (${rows.mkString("\nUNION ALL\n")})
       ORDER BY rank"""
  }

  /** The BM25 scorer CTEs (d/st/sc) shared by the q_bm25 and
    * q_rank_fusion oracles - single-sourced so the scorer text can
    * never drift between them. */
  private val DuckBm25Cte: String =
    """d AS (
           SELECT doc_id,
                  CAST(len(string_split(lower(text), ' ')) AS BIGINT) dl,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       x -> x = 'spark')) AS BIGINT) tf0,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       x -> x = 'vector')) AS BIGINT) tf1,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       x -> x = 'dup')) AS BIGINT) tf2
           FROM documents),
         st AS (
           SELECT CAST(count(*) AS BIGINT) n, sum(dl) sumdl,
                  sum(CASE WHEN tf0 > 0 THEN 1 ELSE 0 END) df0,
                  sum(CASE WHEN tf1 > 0 THEN 1 ELSE 0 END) df1,
                  sum(CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) df2
           FROM d),
         sc AS (
           SELECT doc_id, dl,
             (CASE WHEN tf0 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf1 > 0 THEN 1 ELSE 0 END
              + CASE WHEN tf2 > 0 THEN 1 ELSE 0 END) n_terms,
             (CASE WHEN tf0 > 0 THEN CAST(floor(
                 ln(1.0 + (CAST(n AS DOUBLE) - CAST(df0 AS DOUBLE) + 0.5)
                        / (CAST(df0 AS DOUBLE) + 0.5))
                 * (CAST(tf0 AS DOUBLE) * 2.2
                    / (CAST(tf0 AS DOUBLE) + 1.2 * (0.25 + 0.75
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
                 * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END
              + CASE WHEN tf1 > 0 THEN CAST(floor(
                 ln(1.0 + (CAST(n AS DOUBLE) - CAST(df1 AS DOUBLE) + 0.5)
                        / (CAST(df1 AS DOUBLE) + 0.5))
                 * (CAST(tf1 AS DOUBLE) * 2.2
                    / (CAST(tf1 AS DOUBLE) + 1.2 * (0.25 + 0.75
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
                 * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END
              + CASE WHEN tf2 > 0 THEN CAST(floor(
                 ln(1.0 + (CAST(n AS DOUBLE) - CAST(df2 AS DOUBLE) + 0.5)
                        / (CAST(df2 AS DOUBLE) + 0.5))
                 * (CAST(tf2 AS DOUBLE) * 2.2
                    / (CAST(tf2 AS DOUBLE) + 1.2 * (0.25 + 0.75
                       * (CAST(dl AS DOUBLE)
                          / (CAST(sumdl AS DOUBLE) / CAST(n AS DOUBLE))))))
                 * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END) qs
           FROM d CROSS JOIN st)"""

  val oracles: Map[String, String] = Map(
    "q_dsir" ->
      s"""WITH occ AS (
           SELECT doc_id, lang,
                  CAST(list_reduce(
                    list_prepend('0',
                      string_split(substr(md5(token), 1, 15), '')),
                    (acc, c) -> CAST(CAST(acc AS BIGINT) * 16 +
                      instr('0123456789abcdef', c) - 1 AS VARCHAR))
                    AS BIGINT) % $DsirBuckets AS b
           FROM (SELECT doc_id, lang,
                        UNNEST(string_split(lower(text), ' ')) AS token
                 FROM documents)),
         bc AS (
           SELECT b, count(*) cr,
                  count(CASE WHEN lang = 'en' THEN 1 END) ct
           FROM occ GROUP BY b),
         qb AS (
           SELECT b,
                  CAST(floor(ln(
                    CAST((ct + 1) * (tr + $DsirBuckets) AS DOUBLE) /
                    CAST((cr + 1) * (tg + $DsirBuckets) AS DOUBLE))
                    * 1000000.0 + 0.5) AS BIGINT) q
           FROM (SELECT b, cr, ct, sum(cr) OVER () tr, sum(ct) OVER () tg
                 FROM bc)),
         dw AS (
           SELECT doc_id, count(*) n_tokens, CAST(sum(q) AS BIGINT) sw
           FROM occ JOIN qb USING (b) GROUP BY doc_id),
         th AS (
           SELECT min(CASE WHEN cum >= (n * 4 + 4) // 5 THEN v END) t
           FROM (SELECT v, sum(cnt) OVER (ORDER BY v) cum,
                        sum(cnt) OVER () n
                 FROM (SELECT sw v, count(*) cnt FROM dw GROUP BY sw)))
         SELECT doc_id, n_tokens,
                CAST(sw AS DOUBLE) / 1000000.0 AS log_ratio,
                CAST(CASE WHEN sw >= t THEN 1 ELSE 0 END AS BIGINT)
                  AS selected
         FROM dw, th ORDER BY doc_id""",
    "q_vocab_growth" ->
      """WITH s AS (
           SELECT min(doc_id) mn, max(doc_id) - min(doc_id) + 1 spanw
           FROM documents),
         h AS (
           SELECT (doc_id - mn) * 10 // spanw AS decile, tok, count(*) c
           FROM (SELECT doc_id,
                        unnest(string_split(lower(text), ' ')) tok
                 FROM documents) CROSS JOIN s
           GROUP BY 1, 2),
         vol AS (SELECT decile, sum(c) n_tokens FROM h GROUP BY decile),
         fresh AS (
           SELECT decile, count(*) new_types FROM
             (SELECT tok, min(decile) decile FROM h GROUP BY tok)
           GROUP BY decile)
         SELECT vol.decile, CAST(vol.n_tokens AS BIGINT) AS n_tokens,
                coalesce(fresh.new_types, 0) AS new_types,
                CAST(sum(vol.n_tokens) OVER (ORDER BY vol.decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens,
                CAST(sum(coalesce(fresh.new_types, 0)) OVER (
                  ORDER BY vol.decile
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_types
         FROM vol LEFT JOIN fresh ON vol.decile = fresh.decile
         ORDER BY vol.decile""",
    "q_inverted_index" ->
      """WITH dt AS (
           SELECT DISTINCT doc_id, t AS token FROM
             (SELECT doc_id, unnest(string_split(lower(text), ' ')) t
              FROM documents)
           WHERE len(t) >= 4),
         n AS (SELECT count(DISTINCT doc_id) nd FROM documents),
         df AS (
           SELECT token, count(*) AS df FROM dt, n
           GROUP BY token, n.nd HAVING count(*) * 10 < n.nd * 9)
         SELECT dt.token, df.df,
                string_agg(CAST(dt.doc_id AS VARCHAR), ','
                           ORDER BY dt.doc_id) AS postings
         FROM dt JOIN df ON dt.token = df.token
         GROUP BY dt.token, df.df
         ORDER BY dt.token""",
    "q_bpe_train" -> bpeTrainOracle(BpeTrainRounds),
    "q_bigram_logprob" ->
      """WITH toks AS (
           SELECT doc_id, string_split(lower(text), ' ') l
           FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
         pd AS (
           SELECT doc_id, l[g] a, l[g + 1] b, count(*) c
           FROM (SELECT doc_id, l, unnest(generate_series(1, len(l) - 1)) g
                 FROM toks)
           GROUP BY 1, 2, 3),
         corpus AS (
           SELECT a, b, CAST(sum(c) AS BIGINT) cab FROM pd GROUP BY a, b),
         ctx AS (
           SELECT *, sum(cab) OVER (PARTITION BY a) ca FROM corpus),
         q AS (
           SELECT a, b, CAST(floor(ln(CAST(ca AS DOUBLE) / cab)
                             * 1000000.0 + 0.5) AS BIGINT) qnll
           FROM ctx)
         SELECT pd.doc_id,
                CAST(sum(pd.c) AS BIGINT) AS n_bigrams,
                CAST(sum(pd.c * q.qnll) AS DOUBLE)
                  / (CAST(sum(pd.c) AS BIGINT) * 1000000.0) AS avg_nll
         FROM pd JOIN q ON pd.a = q.a AND pd.b = q.b
         GROUP BY pd.doc_id ORDER BY doc_id""",
    "q_token_entropy" ->
      s"""WITH tf AS (
           SELECT doc_id, t, count(*) c
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) t
                 FROM documents)
           GROUP BY doc_id, t),
         d AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) n_tokens,
                  CAST(sum(CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
                                      * 1000000.0 + 0.5) AS BIGINT))
                       AS BIGINT) sq
           FROM tf GROUP BY doc_id)
         SELECT doc_id, n_tokens,
                ${graft.Det.ROUND6(
        """ln(CAST(n_tokens AS DOUBLE))
             - (CAST(sq AS DOUBLE) / 1000000.0)
               / CAST(n_tokens AS DOUBLE)""")} AS entropy
         FROM d ORDER BY doc_id""",
    "q_collocations" ->
      s"""WITH toks AS (
           SELECT string_split(lower(text), ' ') l FROM documents),
         pc AS (
           SELECT l[g] a,
                  CASE WHEN g < len(l) THEN l[g + 1] END b,
                  count(*) c
           FROM (SELECT l, unnest(generate_series(1, len(l))) g FROM toks)
           GROUP BY 1, 2),
         uni AS (SELECT a, CAST(sum(c) AS BIGINT) cx FROM pc GROUP BY a),
         tot AS (
           SELECT CAST(sum(c) AS BIGINT) n_uni,
                  CAST(sum(CASE WHEN b IS NOT NULL THEN c ELSE 0 END)
                       AS BIGINT) n_bi
           FROM pc)
         SELECT pc.a AS w1, pc.b AS w2, pc.c AS pair_count,
                ${graft.Det.ROUND6(
        """ln((CAST(pc.c AS DOUBLE) * n_uni * n_uni)
             / (CAST(n_bi AS DOUBLE) * cx.cx * cy.cx))""")} AS pmi
         FROM pc
         JOIN uni cx ON pc.a = cx.a
         JOIN uni cy ON pc.b = cy.a
         CROSS JOIN tot
         WHERE pc.b IS NOT NULL AND pc.c >= 3
         ORDER BY pmi DESC, w1, w2 LIMIT 20""",
    "q_classifier_score" ->
      """WITH f AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) n_tokens,
                  CAST(len(list_distinct(string_split(lower(text), ' ')))
                       AS BIGINT) n_distinct,
                  CAST(len(list_filter(string_split(lower(text), ' '),
                       x -> x = 'the' OR x = 'a')) AS BIGINT) n_stop,
                  CAST(length(replace(text, ' ', '')) AS BIGINT) n_nonspace
           FROM documents),
         z AS (
           SELECT doc_id, n_tokens,
                  -0.5 + 0.1 * (CAST(n_tokens AS DOUBLE) / 100.0)
                       + 1.5 * (CAST(n_distinct AS DOUBLE)
                                / CAST(n_tokens AS DOUBLE))
                       + -2.0 * (CAST(n_stop AS DOUBLE)
                                 / CAST(n_tokens AS DOUBLE))
                       + 0.3 * (CAST(n_nonspace AS DOUBLE)
                                / CAST(n_tokens AS DOUBLE)) z
           FROM f)
         SELECT doc_id, n_tokens,
                floor(1.0 / (1.0 + exp(-z)) * 1000000.0 + 0.5)
                  / 1000000.0 AS score,
                z >= 0.0 AS keep
         FROM z ORDER BY doc_id""",
    "q_chi2_select" ->
      """WITH pres AS (
           SELECT lang,
                  unnest(list_distinct(string_split(lower(text), ' '))) token
           FROM documents),
         cell AS (
           SELECT lang, token, count(*) n11 FROM pres GROUP BY lang, token),
         dft AS (
           SELECT token, CAST(sum(n11) AS BIGINT) df FROM cell GROUP BY token),
         ncl AS (
           SELECT lang, count(*) n_c FROM documents GROUP BY lang),
         nn AS (SELECT count(*) n_docs FROM documents),
         sc AS (
           SELECT c.lang, c.token, c.n11, d.df,
                  CAST(c.n11 * (n_docs - d.df - n_c + c.n11)
                       - (d.df - c.n11) * (n_c - c.n11) AS DOUBLE) diff,
                  n_docs, n_c
           FROM cell c
           JOIN dft d USING (token)
           JOIN ncl USING (lang)
           CROSS JOIN nn
           WHERE d.df < n_docs),
         x AS (
           SELECT lang, token, n11, df,
                  floor((CAST(n_docs AS DOUBLE) * diff * diff)
                        / (CAST(df AS DOUBLE) * CAST(n_docs - df AS DOUBLE)
                           * CAST(n_c AS DOUBLE)
                           * CAST(n_docs - n_c AS DOUBLE))
                        * 1000000.0 + 0.5) / 1000000.0 chi2
           FROM sc),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY lang
                       ORDER BY chi2 DESC, token) rn
           FROM x)
         SELECT lang, rn, token, n11, df, chi2
         FROM r WHERE rn <= 5 ORDER BY lang, rn""",
    "q_mi_select" -> {
      def term(n: String, rowm: String, colm: String): String =
        s"""CASE WHEN ($n) > 0 THEN ($n) * CAST(floor(
              ln((CAST($n AS DOUBLE) * CAST(n_docs AS DOUBLE))
                 / (CAST($rowm AS DOUBLE) * CAST($colm AS DOUBLE)))
              * 1000000.0 + 0.5) AS BIGINT) ELSE 0 END"""
      s"""WITH pres AS (
           SELECT lang,
                  unnest(list_distinct(string_split(lower(text), ' '))) token
           FROM documents),
         cell AS (
           SELECT lang, token, count(*) n11 FROM pres GROUP BY lang, token),
         dft AS (
           SELECT token, CAST(sum(n11) AS BIGINT) df FROM cell GROUP BY token),
         ncl AS (
           SELECT lang, count(*) n_c FROM documents GROUP BY lang),
         nn AS (SELECT count(*) n_docs FROM documents),
         sc AS (
           SELECT c.lang, c.token, c.n11, d.df, n_docs, n_c,
                  ${term("c.n11", "d.df", "n_c")}
                  + ${term("d.df - c.n11", "d.df", "n_docs - n_c")}
                  + ${term("n_c - c.n11", "n_docs - d.df", "n_c")}
                  + ${term("n_docs - d.df - n_c + c.n11",
        "n_docs - d.df", "n_docs - n_c")} AS mi_q
           FROM cell c
           JOIN dft d USING (token)
           JOIN ncl USING (lang)
           CROSS JOIN nn
           WHERE d.df < n_docs),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY lang
                       ORDER BY mi_q DESC, token) rn
           FROM sc)
         SELECT lang, rn, token, n11, df,
                CAST(mi_q AS DOUBLE)
                  / (CAST(n_docs AS DOUBLE) * 1000000.0) AS mi
         FROM r WHERE rn <= 5 ORDER BY lang, rn"""
    },
    "q_bm25" ->
      s"""WITH ${DuckBm25Cte}
         SELECT doc_id, CAST(n_terms AS BIGINT) AS n_terms, dl,
                CAST(qs AS DOUBLE) / 1000000.0 AS bm25
         FROM sc WHERE n_terms > 0
         ORDER BY bm25 DESC, doc_id""",
    "q_incremental_dedup" ->
      """WITH d AS (
           SELECT doc_id, lang, source, n_chars, sha256(text) AS dig
           FROM documents),
         hist AS (SELECT DISTINCT dig FROM d WHERE doc_id % 5 <> 4),
         surv AS (
           SELECT * FROM d WHERE doc_id % 5 = 4
           AND dig NOT IN (SELECT dig FROM hist))
         SELECT doc_id, lang, source, n_chars FROM surv
         WHERE doc_id IN (SELECT min(doc_id) FROM surv GROUP BY dig)
         ORDER BY doc_id""",
    "q_dedup_exact" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
         WHERE doc_id IN (SELECT min(doc_id) FROM documents GROUP BY sha256(text))
         ORDER BY doc_id""",
    "q_dedup_url" ->
      """WITH raw AS (
           SELECT doc_id,
                  'https://'
                  || CASE doc_id % 3
                       WHEN 0 THEN 'WWW.' || source || '.Example.com'
                       WHEN 1 THEN source || '.example.COM'
                       ELSE source || '.example.com' END
                  || '/docs/' || CAST(doc_id % 40 AS VARCHAR)
                  || CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END
                  || CASE WHEN doc_id % 2 = 0
                       THEN '?utm_source=feed&utm_page='
                            || CAST(doc_id % 4 AS VARCHAR)
                       ELSE '' END AS url
           FROM documents),
         canon AS (
           SELECT doc_id,
                  regexp_replace(
                    regexp_replace(
                      regexp_replace(lower(url), '\?utm_[^#]*', ''),
                      '://www\.', '://'),
                    '/$', '') AS canonical_url
           FROM raw)
         SELECT canonical_url, count(*) AS n_variants,
                min(doc_id) AS kept_doc
         FROM canon GROUP BY canonical_url ORDER BY canonical_url""",
    "q_text_tokenize_tf" ->
      """SELECT t AS token, count(*) AS tf
         FROM (SELECT unnest(string_split(lower(text), ' ')) AS t FROM documents)
         GROUP BY t ORDER BY t""",
    "q_tfidf" ->
      """WITH tf AS (
           SELECT doc_id, t AS token, count(*) tf
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
                 FROM documents)
           GROUP BY doc_id, t),
         df AS (SELECT token, count(*) df FROM tf GROUP BY token),
         n AS (SELECT count(*) n_docs FROM documents),
         scored AS (
           SELECT tf.doc_id, tf.token, tf.tf, df.df,
                  floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df)
                        * 1000000.0 + 0.5) / 1000000.0 tfidf
           FROM tf JOIN df USING (token) CROSS JOIN n),
         r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, token) rn
               FROM scored)
         SELECT doc_id, rn, token, tf, df, tfidf FROM r WHERE rn <= 3
         ORDER BY doc_id, rn""",
    "q_token_count" ->
      """SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
                CAST(len(list_distinct(string_split(lower(text), ' '))) AS BIGINT)
                  AS n_distinct,
                CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
                  AS n_word_chunks,
                CAST(length(replace(text, ' ', '')) AS BIGINT) AS n_nonspace
         FROM documents ORDER BY doc_id""",
    "q_token_bpe" -> {
      val encSql = duckBpeEncSql
      val vocabSql = BPE_VOCAB
        .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }.mkString(", ")
      s"""WITH words AS (
           SELECT regexp_replace(w, '[^a-z0-9]', '', 'g') AS word
           FROM (SELECT unnest(string_split(lower(text), ' ')) AS w
                 FROM documents)),
         enc AS (SELECT $encSql AS e FROM words WHERE len(word) > 0),
         toks AS (
           SELECT unnest(string_split(
             regexp_replace(e, '^\\(|\\)$$', '', 'g'), ')(')) AS token
           FROM enc),
         c AS (SELECT token, count(*) AS n_occurrences FROM toks
               GROUP BY token),
         vocab(token_id, token) AS (VALUES $vocabSql)
         SELECT v.token_id, c.token, c.n_occurrences
         FROM c JOIN vocab v ON v.token = c.token
         ORDER BY v.token_id"""
    },
    "q_rank_fusion" ->
      s"""WITH $DuckBm25Cte,
         a AS (SELECT doc_id, qs FROM sc WHERE n_terms > 0
               ORDER BY CAST(qs AS DOUBLE) / 1000000.0 DESC, doc_id
               LIMIT 100),
         ar AS (SELECT doc_id, row_number() OVER
                  (ORDER BY CAST(qs AS DOUBLE) / 1000000.0 DESC,
                   doc_id) rank_a
                FROM a),
         bsc AS (
           -- df_i = 0 guard: a query term absent from the corpus has
           -- tf_i = 0 everywhere, so Spark's product short-circuits to
           -- 0 — but DuckDB would still evaluate ln(n/0) = inf and
           -- error on the BIGINT cast; the CASE mirrors the
           -- short-circuit so degenerate corpora match instead of crash
           SELECT doc_id,
                  (CASE WHEN df0 > 0 THEN
                     tf0 * CAST(floor(ln(CAST(n AS DOUBLE)
                      / CAST(df0 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END
                 + CASE WHEN df1 > 0 THEN
                     tf1 * CAST(floor(ln(CAST(n AS DOUBLE)
                      / CAST(df1 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END
                 + CASE WHEN df2 > 0 THEN
                     tf2 * CAST(floor(ln(CAST(n AS DOUBLE)
                      / CAST(df2 AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
                   ELSE 0 END)
                    qb
           FROM d CROSS JOIN st),
         b AS (SELECT doc_id, qb FROM bsc WHERE qb > 0
               ORDER BY qb DESC, doc_id LIMIT 100),
         br AS (SELECT doc_id, row_number() OVER
                  (ORDER BY qb DESC, doc_id) rank_b FROM b),
         f AS (
           SELECT COALESCE(ar.doc_id, br.doc_id) doc_id,
                  ar.rank_a, br.rank_b,
                  COALESCE((2000000000 + (60 + ar.rank_a))
                           // (2 * (60 + ar.rank_a)), 0)
                  + COALESCE((2000000000 + (60 + br.rank_b))
                             // (2 * (60 + br.rank_b)), 0) qrrf
           FROM ar FULL OUTER JOIN br ON ar.doc_id = br.doc_id)
         SELECT doc_id, CAST(rank_a AS BIGINT) AS rank_a,
                CAST(rank_b AS BIGINT) AS rank_b,
                CAST(qrrf AS DOUBLE) / 1.0e9 AS rrf_score
         FROM f ORDER BY rrf_score DESC, doc_id LIMIT 20""",
    "q_tokenizer_fertility" ->
      s"""WITH words AS (
           SELECT lang, regexp_replace(w, '[^a-z0-9]', '', 'g') AS word
           FROM (SELECT lang, unnest(string_split(lower(text), ' ')) AS w
                 FROM documents)),
         wtok AS (
           SELECT lang, len(word) AS nc,
                  len(string_split(regexp_replace(
                    $duckBpeEncSql, '^\\(|\\)$$', '', 'g'), ')(')) AS nt
           FROM words WHERE len(word) > 0),
         a AS (SELECT lang, count(*) n_words,
                      CAST(sum(nc) AS BIGINT) n_chars,
                      CAST(sum(nt) AS BIGINT) n_tokens
               FROM wtok GROUP BY lang),
         d AS (SELECT lang, count(*) n_docs FROM documents
               GROUP BY lang)
         SELECT d.lang, d.n_docs, a.n_words, a.n_tokens,
                ${graft.Det.ROUND6(
        "CAST(a.n_tokens AS DOUBLE) / a.n_words")} AS fertility,
                ${graft.Det.ROUND6(
        "CAST(a.n_chars AS DOUBLE) / a.n_tokens")} AS chars_per_token
         FROM d JOIN a ON d.lang = a.lang ORDER BY d.lang""",
    "q_readability" ->
      """WITH c AS (
           SELECT doc_id,
                  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
                  CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                       AS BIGINT) AS n_syllables,
                  CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                       AS BIGINT) AS n_sentences
           FROM documents),
         f AS (
           SELECT doc_id, n_words, n_syllables, n_sentences,
                  floor((206.835
                         - 1.015 * (CAST(n_words AS DOUBLE)
                                    / CAST(n_sentences AS DOUBLE))
                         - 84.6 * (CAST(n_syllables AS DOUBLE)
                                   / CAST(n_words AS DOUBLE)))
                        * 1000000.0 + 0.5) / 1000000.0 AS flesch
           FROM c)
         SELECT doc_id, n_words, n_syllables, n_sentences, flesch,
                CASE WHEN flesch >= 60.0 THEN 'easy'
                     WHEN flesch >= 30.0 THEN 'medium'
                     ELSE 'hard' END AS band
         FROM f ORDER BY doc_id""",
    "q_quality_score" ->
      """WITH q AS (
           SELECT doc_id,
                  string_split(lower(text), ' ') AS toks,
                  CAST(length(replace(text, ' ', '')) AS DOUBLE) AS nsp
           FROM documents),
         m AS (
           SELECT doc_id,
                  CAST(len(toks) AS BIGINT) AS n_tokens,
                  nsp / len(toks) AS avg_token_len,
                  CAST(len(list_filter(toks, t -> t IN ('the', 'a', 'of', 'and')))
                       AS DOUBLE) / len(toks) AS stopword_ratio
           FROM q)
         SELECT doc_id, n_tokens, avg_token_len, stopword_ratio,
                floor((0.4 * least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
                       + 0.3 * (1.0 - stopword_ratio)
                       + 0.3 * least(avg_token_len / 8.0, 1.0))
                      * 1000000.0 + 0.5) / 1000000.0 AS quality
         FROM m ORDER BY doc_id""",
    "q_lang_id" ->
      """WITH q AS (
           SELECT doc_id, lang,
                  list_transform(range(0, 5), i ->
                    len(list_filter(string_split(lower(text), ' '), t ->
                      (instr('0123456789abcdef', substr(md5(t), 1, 1)) - 1) % 5 = i)))
                    AS scores
           FROM documents),
         p AS (
           SELECT doc_id, lang,
                  (['de','en','es','fr','zh'])[
                    CAST(list_indexof(scores, list_aggregate(scores, 'max')) AS INTEGER)]
                    AS pred_lang
           FROM q)
         SELECT doc_id, lang, pred_lang, pred_lang = lang AS is_match
         FROM p ORDER BY doc_id""",
    "q_quality_repetition" ->
      """WITH t AS (
           SELECT doc_id, string_split(lower(text), ' ') AS toks
           FROM documents WHERE len(string_split(lower(text), ' ')) >= 2),
         b AS (
           SELECT doc_id,
                  unnest(list_transform(range(1, len(toks)),
                    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
           FROM t),
         c AS (SELECT doc_id, bigram, count(*) AS c FROM b GROUP BY 1, 2),
         m AS (
           SELECT doc_id,
                  CAST(sum(c) AS BIGINT) AS n_bigrams,
                  count(*) AS n_distinct,
                  CAST(max(c) AS BIGINT) AS top_n
           FROM c GROUP BY doc_id)
         SELECT doc_id, n_bigrams, n_distinct, top_n,
                floor((1.0 - CAST(n_distinct AS DOUBLE) / n_bigrams)
                      * 1000000.0 + 0.5) / 1000000.0 AS dup_bigram_frac,
                floor((CAST(top_n AS DOUBLE) / n_bigrams)
                      * 1000000.0 + 0.5) / 1000000.0 AS top_bigram_frac
         FROM m ORDER BY doc_id""",
    "q_unigram_logprob" ->
      """WITH tf AS (
           SELECT doc_id, t AS token, count(*) AS tf
           FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS t
                 FROM documents)
           GROUP BY 1, 2),
         v AS (SELECT token, CAST(sum(tf) AS BIGINT) AS cnt FROM tf
               GROUP BY token),
         n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_total FROM v),
         q AS (
           SELECT token,
                  CAST(floor(ln(CAST(n_total AS DOUBLE) / cnt)
                             * 1000000.0 + 0.5) AS BIGINT) AS qnll
           FROM v CROSS JOIN n)
         SELECT tf.doc_id,
                CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
                CAST(sum(tf.tf * q.qnll) AS DOUBLE)
                  / (CAST(sum(tf.tf) AS BIGINT) * 1000000.0) AS avg_nll
         FROM tf JOIN q USING (token)
         GROUP BY tf.doc_id ORDER BY doc_id""",
    "q_fingerprint" ->
      s"""SELECT doc_id, ${ROLLING_HASH("text")} AS fingerprint
         FROM documents ORDER BY doc_id""")
}
