package graft.tools

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

/** Scaling probe: replicates the sf0.1 corpus k× (ids shifted, content
  * duplicated — the "more data means more duplicates" regime) and times
  * the heavy operators at each multiplier. Usage:
  *   runMain graft.tools.ScaleProbe [k1 k2 ...]   (default 1 2 4)
  * Emits one JSON line per (k, query); each query is timed as the query
  * function plus a noop-sink write of its full result (every column
  * computed, as in TimeQ), and its row count comes from a separate,
  * untimed `count()`. The point is the SLOPE: candidate
  * generation via LSH banding should grow ~linearly with corpus size
  * while blocked all-pairs Jaccard grows quadratically per block —
  * the measured basis for the 100 TB path choice (SURVEY.md §2.9 T4).
  */
object ScaleProbe {
  private val all = Seq(
    "q_agg_hash", "q_doc_assembly", "q_text_tokenize_tf",
    "q_dedup_exact", "q_dedup_minhash_lsh", "q_dedup_near",
    "q_dedup_simhash", "q_ann_lsh", "q_ann_ivf", "q_tfidf",
    "q_pagerank", "q_triangles", "q_dedup_containment", "q_bm25",
    "q_range_join_binned", "q_substring_dedup", "q_collocations",
    "q_bpe_train", "q_multimodal_phash", "q_incremental_dedup",
    "q_rolling_distinct", "q_event_transitions", "q_embed_coherence",
    "q_ohlc_resample", "q_ann_pq", "q_join_bloom", "q_ann_ivfpq",
    "q_graph_bfs", "q_anomaly_mad", "q_time_weighted_avg",
    "q_linreg_trend", "q_changepoint_cusum", "q_market_basket",
    "q_vocab_growth", "q_shipping_priority", "q_ri_audit",
    "q_sketch_union", "q_auc", "q_naive_bayes", "q_recommend_cooccur",
    "q_pca_power", "q_knn_classify", "q_target_encoding", "q_rfm",
    "q_graph_jaccard", "q_kcore", "q_semdedup", "q_dsir",
    "q_bootstrap_ci", "q_conformal", "q_ks_drift", "q_graph_modularity",
    "q_tokenizer_fertility", "q_mi_select",
    "q_reference_conclusions", "q_reference_decisions",
    "q_ann_search_indexed",
    "q_hits", "q_sssp_weighted", "q_kanonymity", "q_dp_release",
    "q_dp_release_sum", "q_pii_detect", "q_readability",
    "q_dsv2_sink_roundtrip", "q_dp_release_hist", "q_dsv2_runtime_filter",
    "q_dedup_url", "q_pseudonymize", "q_dsv2_skipping", "q_bitext_mine",
    "q_bitext_pipeline", "q_stream_left_join",
    // round 16: the bench-tail leaders, for the two-engine slope sweep
    // (tools/scale_slope.py times the same queries' oracle SQL in
    // DuckDB over the same replicated corpus)
    "q_ann_recall_ivf", "q_ann_rerank", "q_bootstrap_ci", "q_conformal",
    "q_dedup_clusters", "q_curation_pipeline")

  /** Queries whose first invocation pays a one-off artifact build that a
    * long-lived deployment amortizes away (the ANN index trains once and
    * every later session searches against the published parquet). Probed
    * TWICE per k: the first row is cold (build + use), the `_warm` row is
    * the steady-state cost — possible since the index root became
    * content-keyed, so the second call's `_SUCCESS` probe hits. */
  private val twoPass = Set("q_ann_search_indexed")

  /** Optional comma-separated probe filter (SPARK_GRAFT_PROBES) so a
    * single operator's slope can be re-measured without the full sweep. */
  private def probes: Seq[String] =
    sys.env.get("SPARK_GRAFT_PROBES") match {
      case Some(f) => all.filter(f.split(",").map(_.trim).toSet)
      case None => all
    }

  def main(args: Array[String]): Unit = {
    val ks = if (args.nonEmpty) args.toSeq.map(_.toInt) else Seq(1, 2, 4)
    val base = "/root/testdata/sf0.1"
    val spark = graft.Sessions.local()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    ks.foreach { k =>
      val dir = s"/tmp/graft_scale_$k"
      def replicate(table: String, idCols: Seq[String]): Unit = {
        val src = graft.sources.Tables.load(spark, base, table)
        val copies = (0 until k).map { i =>
          idCols.foldLeft(src) { (df, c) =>
            df.withColumn(c, col(c) + lit(i.toLong * 100000000L))
          }
        }
        copies.reduce(_ unionByName _)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$table.parquet")
      }
      replicate("documents", Seq("doc_id"))
      replicate("embeddings", Seq("vec_id"))
      replicate("lineitem", Seq("l_orderkey"))
      replicate("events", Seq("event_id"))
      // customer + orders shift their shared key consistently, so each
      // replica's fact⋈dim joins line up within its own copy
      replicate("customer", Seq("c_custkey"))
      replicate("orders", Seq("o_orderkey", "o_custkey"))
      // dimensions don't scale with the fact (the 100 TB posture): one
      // verbatim copy each, so star-schema probes resolve their joins
      Seq("region", "nation", "part", "supplier").foreach { tbl =>
        graft.sources.Tables.load(spark, base, tbl)
          .write.mode(SaveMode.Overwrite).parquet(s"$dir/$tbl.parquet")
      }

      def timed(name: String): (Double, Long) = {
        val (sec, df) =
          graft.Bench.timed(spark, graft.SparkEntry.queries(name), dir)
        (sec, df.count())
      }
      probes.foreach { name =>
        val (sec, n) = timed(name)
        println(f"""{"k":$k,"query":"$name","sec":$sec%.2f,"rows":$n}""")
        if (twoPass(name)) {
          val (s1, n1) = timed(name)
          println(
            f"""{"k":$k,"query":"${name}_warm","sec":$s1%.2f,"rows":$n1}""")
        }
      }

      // DSv2 COMPLETE aggregate pushdown at warehouse scale: the virtual
      // input grows k×10¹¹ rows while the runtime must stay flat — the
      // connector answers from id-range closed forms, zero rows
      // materialized. sum(doc_id) is deliberately absent: at 10¹¹ rows
      // its series overflows Long and the source (correctly) refuses
      // that pushdown; sum(n_chars) (~5·10¹³) still fits and pushes.
      if (sys.env.get("SPARK_GRAFT_PROBES")
          .forall(_.split(",").map(_.trim).contains("q_dsv2_agg_pushdown"))) {
        val vRows = k.toLong * 100000000000L
        val t0 = System.nanoTime()
        val n = spark.read.format("graft.sources.v2.DocGenSource")
          .option("rows", vRows).option("slices", 8).load()
          .filter(col("doc_id") >= 1000L)
          .groupBy(col("lang"))
          .agg(count(col("doc_id")).as("n_docs"),
            min(col("doc_id")).as("min_id"),
            max(col("doc_id")).as("max_id"),
            sum(col("n_chars")).as("sum_chars"))
          .count()
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"""{"k":$k,"query":"q_dsv2_agg_pushdown_virtual",""" +
          f""""sec":$sec%.2f,"rows":$n,"virtual_rows":$vRows}""")
      }

      // IVF production regime: C ≈ √N (the q_ann_ivf query itself pins
      // C=8 for the oracle). Probed pairs should grow ~N^1.5/√N = N per
      // query set growth — sub-quadratic vs the |Q|·N brute force.
      val nVec = graft.sources.Tables.load(spark, dir, "embeddings").count()
      val c = math.max(8, math.sqrt(nVec.toDouble).toInt)
      val t0 = System.nanoTime()
      val (probed, brute) =
        graft.operators.Similarity.ivfProbedPairs(spark, dir, c)
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"""{"k":$k,"query":"ivf_probe_work","sec":$sec%.2f,""" +
        f""""c":$c,"probed_pairs":$probed,"brute_pairs":$brute}""")

      // SemDeDup C lever: within-cell pair work at the declared C=8 vs
      // the production C≈√N regime vs all-pairs — the scaladoc's
      // "C bounds the blowup" claim as a measured point
      Seq(8, c).distinct.foreach { cc =>
        val t1 = System.nanoTime()
        val (pw, ap) =
          graft.operators.Similarity.semdedupPairWork(spark, dir, cc)
        val s1 = (System.nanoTime() - t1) / 1e9
        println(f"""{"k":$k,"query":"semdedup_pair_work","sec":$s1%.2f,""" +
          f""""c":$cc,"cell_pairs":$pw,"all_pairs":$ap}""")
      }
    }
    spark.stop()
  }
}
