package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape guards (SURVEY.md §4 / PLANS.md): a future edit
  * that silently loses pushdown, broadcast, or partial aggregation fails
  * here rather than surfacing as a 10× regression at the bench gate. */
class PlanShapeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir
  // Exec.withLazyPlans: sealed (localCheckpoint'ed) queries return their
  // un-checkpointed form, so the sweep inspects REAL operator trees, not
  // opaque RDDScanExec nodes.
  private def planOf(name: String): org.apache.spark.sql.execution.SparkPlan =
    Exec.withLazyPlans(SparkEntry.queries(name)(spark, dir))
      .queryExecution.executedPlan
  private def plan(name: String): String = planOf(name).toString()

  test("q_filter_pred pushes every predicate into the parquet scan") {
    val formatted = SparkEntry.queries("q_filter_pred")(spark, dir)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    Seq("GreaterThanOrEqual(l_quantity,10.0)", "In(l_returnflag",
      "StringStartsWith(l_linestatus,F)").foreach(f =>
      assert(formatted.contains(f), s"missing pushed filter $f"))
  }

  test("q_agg_hash aggregates partially before the exchange") {
    val p = plan("q_agg_hash")
    assert(p.contains("partial_sum"), "no map-side partial aggregation")
    assert(p.contains("decimal(18,4)"), "exact decimal sum path lost")
  }

  test("q_join_chain broadcasts every dimension") {
    val p = plan("q_join_chain")
    assert(p.split("BroadcastHashJoin").length >= 4,
      "expected >=3 broadcast joins for customer/nation/region")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_similarity_topk broadcasts the query set, never the corpus side") {
    val p = plan("q_similarity_topk")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      p.take(400))
  }

  test("q_topk_per_group rank-limits before the shuffle (WindowGroupLimit)") {
    assert(plan("q_topk_per_group").contains("WindowGroupLimit"))
  }

  test("q_sort_limit plans as TakeOrderedAndProject, not a global sort") {
    assert(plan("q_sort_limit").contains("TakeOrderedAndProject"))
  }

  test("q_shipping_priority: pushed date filters, broadcast customer, top-k") {
    val df = SparkEntry.queries("q_shipping_priority")(spark, dir)
    val formatted = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("LessThan(o_orderdate"),
      "order-date cutoff not pushed to the orders scan")
    assert(formatted.contains("GreaterThan(l_shipdate"),
      "ship-date cutoff not pushed to the lineitem scan")
    val p = plan("q_shipping_priority")
    assert(p.contains("BroadcastHashJoin"), "customer key set must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
    assert(p.contains("partial_sum"), "revenue must pre-aggregate map-side")
  }

  test("q_supplier_volume: pushed year slice, broadcast dims, one fact exchange") {
    val df = SparkEntry.queries("q_supplier_volume")(spark, dir)
    val formatted = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("GreaterThanOrEqual(o_orderdate"),
      "order-date year slice not pushed to the orders scan")
    val p = plan("q_supplier_volume")
    assert(p.split("BroadcastHashJoin").length >= 3,
      "customer- and supplier-side dims must broadcast")
    assert(p.contains("partial_sum"), "revenue must pre-aggregate map-side")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_returned_revenue: groups the fact BEFORE widening with customer attrs") {
    val p = plan("q_returned_revenue")
    // the customer⋈nation broadcast must sit ABOVE the aggregate: the
    // HashAggregate's input is the lineitem⋈orders join, not a join that
    // already carries c_name/c_acctbal through the shuffle
    val aggIdx = p.indexOf("HashAggregate")
    val bcIdx = p.indexOf("BroadcastHashJoin")
    assert(aggIdx >= 0 && bcIdx >= 0)
    assert(p.contains("TakeOrderedAndProject"), "top-20 must not global-sort")
    val formatted = SparkEntry.queries("q_returned_revenue")(spark, dir)
      .queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("EqualTo(l_returnflag,R)"),
      "returnflag filter not pushed to the lineitem scan")
  }

  test("q_range_join_binned joins on the bin key, never a nested loop") {
    // the whole point of the binning rewrite: an interval predicate over
    // two stream-sized inputs must NOT plan as BroadcastNestedLoopJoin
    // (which is what the raw range predicate gives, and what
    // q_join_theta_range legitimately uses against a tiny band table)
    val p = plan("q_range_join_binned")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "interval join fell back to an O(N·M) plan")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), "no equi-join on the bin key found")
  }

  test("q_ann_ivf broadcasts the codebook at every Lloyd round, never the corpus") {
    // Training runs on the driver (one job per Lloyd round), and every
    // task reads the codebook through ONE broadcast handle carried by an
    // expression. Guard the two frames it plans: a Lloyd round's map
    // side over an uncached vector relation, and the search frame
    // ivfRanked returns.
    import org.apache.spark.sql.execution.{FileSourceScanExec, GenerateExec, LocalTableScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastNestedLoopJoinExec}
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Literal}
    import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}
    import graft.functions.{CodebookHandle, CosineSimilarity}
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.inputPlan)
      case _ => p +: (p.children ++ p.subqueries).flatMap(nodes)
    }
    def codebookType(t: DataType): Boolean = t match {
      case ArrayType(StructType(Array(StructField(_, LongType, _, _),
          StructField(_, ce, _, _))), _) => CosineSimilarity.isVector(ce)
      case _ => false
    }
    def readsHandleOnly(plan: Seq[SparkPlan], what: String): Unit = {
      assert(!plan.exists(_.isInstanceOf[BroadcastNestedLoopJoinExec]),
        s"$what joins the codebook:\n${plan.head}")
      assert(!plan.exists {
        case b: BroadcastExchangeExec => nodes(b).exists(_.isInstanceOf[LocalTableScanExec])
        case _ => false
      }, s"$what broadcasts a driver relation as a job:\n${plan.head}")
      val exprs = plan.flatMap(_.expressions)
      val lits = exprs.flatMap(_.collect {
        case l: Literal if codebookType(l.dataType) || CosineSimilarity.isVector(l.dataType) => l
      })
      assert(lits.isEmpty, s"$what inlines the codebook as a literal")
      assert(exprs.exists(_.exists(_.isInstanceOf[CodebookHandle])),
        s"$what reads no codebook handle:\n${plan.head}")
    }
    val n = operators.Similarity.ivfVectors(spark, dir)
    val cb = operators.Similarity.kmeansCodebook(n, c = 8, iters = 1)
    val round = nodes(operators.Similarity.lloydInput(n, cb).queryExecution.executedPlan)
    readsHandleOnly(round, "a Lloyd round")
    assert(!round.exists(_.nodeName == "CartesianProduct"), "unbroadcast corpus product")
    // a Lloyd round is a nearest-centroid map folded into per-cell mean
    // buffers: no exchange in its plan, no posexplode of the vectors
    // into (cell, pos) rows
    assert(!round.exists(_.nodeName.contains("Exchange")), s"a Lloyd round shuffles rows:\n${round.head}")
    assert(!round.exists(_.nodeName == "Generate"), "a Lloyd round explodes the vectors")
    // the search: candidates keep their vector, the probe rows carry the
    // query's — the corpus is read once for each, never joined back by
    // id. The one equi-join is keyed on the cell, whatever strategy
    // AQE picks for it (the probe side carries no broadcast hint).
    val search = nodes(operators.Similarity
      .ivfRanked(spark, n, c = 8, iters = 2, nprobe = 2).queryExecution.executedPlan)
    readsHandleOnly(search, "the search")
    val scans = search.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 2, s"candidates + query slice only, got ${scans.size} scans")
    val equiKeys = search.collect {
      case j: BaseJoinExec if j.leftKeys.nonEmpty => j.leftKeys ++ j.rightKeys
    }
    assert(equiKeys.size == 1 && equiKeys.head.forall {
      case a: AttributeReference => a.name == "cell"
      case _ => false
    }, s"the search frame joins back to the vector relation: $equiKeys")
    assert(!search.exists(_.nodeName == "CartesianProduct"), "unbroadcast search product")
    // the probes explode their ranked cells; nothing explodes a vector
    assert(!search.exists {
      case g: GenerateExec => g.generator.children.exists(c => CosineSimilarity.isVector(c.dataType))
      case _ => false
    }, "the search explodes the vectors")
  }

  test("q_tfidf partially aggregates tf before any exchange") {
    // q_tfidf itself returns an eagerly-checkpointed result (opaque plan);
    // guard the inner ranked frame it materializes.
    val tf = operators.TextOps.tfRelation(spark, dir)
    val p = operators.TextOps.tfidfRanked(spark, dir, tf)
      .queryExecution.executedPlan.toString()
    assert(p.contains("partial_count") || p.contains("partial_"),
      "tf aggregation is not map-side combined")
  }

  test("q_tfidf scans the corpus once: both tf consumers read the tf cache") {
    val tf = operators.TextOps.tfRelation(spark, dir).persist()
    try {
      val qe = operators.TextOps.tfidfRanked(spark, dir, tf).queryExecution
      // the only parquet relation outside the cache is the 1-row N count
      // (whose physical scan reads zero data columns); a second one means
      // the explode+aggregate was re-derived from the corpus
      val parquetRels = qe.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }
      assert(parquetRels.size == 1,
        s"expected only the N-count scan outside the tf cache, got ${parquetRels.size}")
      val cacheReads = qe.optimizedPlan.collect {
        case i: org.apache.spark.sql.execution.columnar.InMemoryRelation => i
      }
      assert(cacheReads.size == 2,
        s"expected df-build + probe to both read the tf cache, got ${cacheReads.size}")
    } finally tf.unpersist(true)
  }

  test("q_bm25 scans the corpus once and broadcasts the 1-row stats") {
    val perDoc = operators.TextOps.bm25PerDoc(spark, dir).persist()
    try {
      val qe = operators.TextOps.bm25Scored(spark, perDoc).queryExecution
      // zero parquet relations: stats + scoring both read the cache
      val parquetRels = qe.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }
      assert(parquetRels.isEmpty,
        s"corpus re-scanned outside the per-doc cache: ${parquetRels.size}")
      val p = qe.executedPlan.toString()
      assert(p.contains("BroadcastNestedLoopJoin") ||
        p.contains("BroadcastExchange"), "stats row must broadcast")
      assert(p.contains("partial_"), "stats aggregate not map-side combined")
    } finally perDoc.unpersist(true)
  }

  test("q_fuzzy_match blocks every pair: the join key includes the block") {
    // q_fuzzy_match itself returns an eagerly-checkpointed result
    // (opaque plan); guard the inner pairing over a cached name relation.
    val names = operators.Similarity.fuzzyNames(spark, dir).persist()
    try {
      val qe = operators.Similarity.fuzzyPairs(spark, names).queryExecution
      val p = qe.executedPlan.toString()
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        "fuzzy match must join on the block key, not form all pairs")
      // both self-join arms must read the cache, not re-derive the scan
      val parquetRels = qe.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }
      assert(parquetRels.isEmpty,
        s"name relation re-derived outside the cache: ${parquetRels.size}")
    } finally names.unpersist(true)
  }

  test("q_unigram_logprob reuses the tf cache for vocab build and probe") {
    val tf = operators.TextOps.tfRelation(spark, dir).persist()
    try {
      val qe = operators.TextOps.unigramScored(spark, tf).queryExecution
      // zero parquet relations: every consumer (vocab, total, probe)
      // derives from the cached tf — the corpus is scanned exactly once
      val parquetRels = qe.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l
      }
      assert(parquetRels.isEmpty,
        s"expected no scan outside the tf cache, got ${parquetRels.size}")
      val cacheReads = qe.optimizedPlan.collect {
        case i: org.apache.spark.sql.execution.columnar.InMemoryRelation => i
      }
      assert(cacheReads.size >= 2,
        s"expected vocab + probe to read the tf cache, got ${cacheReads.size}")
    } finally tf.unpersist(true)
  }

  test("q_partition_prune dynamically prunes the month partitions") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val df = SparkEntry.queries("q_partition_prune")(spark, dir)
    val formatted = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("dynamicpruningexpression"),
      "fact scan lost its DynamicPruning filter")
    df.collect() // finalize AQE so runtime pruning metrics are real
    val fact = scans(df.queryExecution.executedPlan)
      .filter(_.toString.contains("orders_by_month"))
    assert(fact.nonEmpty, "no scan over the partitioned layout")
    val readFiles = fact.map(_.metrics("numFiles").value).sum
    val totalParts = new java.io.File(
      operators.Layouts.monthsLivePath(spark, dir))
      .listFiles().count(_.getName.startsWith("o_month="))
    assert(readFiles < totalParts,
      s"no pruning: read $readFiles files over $totalParts partitions")
    assert(readFiles <= 3, s"expected <=3 month partitions read, got $readFiles")
  }

  test("q_join_bucketed joins bucketed scans with no exchange on either input") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    def nodes(p: SparkPlan): Seq[SparkPlan] = (p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case q: QueryStageExec => nodes(q.plan)
      case other => other.children.flatMap(nodes)
    }) :+ p
    val df = SparkEntry.queries("q_join_bucketed")(spark, dir)
    df.collect()
    val ns = nodes(df.queryExecution.executedPlan)
    val joins = ns.collect { case j: SortMergeJoinExec => j }
    assert(joins.nonEmpty, "merge hint lost: join is not sort-merge")
    // the agg/sort above the join may exchange; the join's INPUTS must not
    val joinShuffles = joins.flatMap(j => nodes(j))
      .count(_.isInstanceOf[ShuffleExchangeExec])
    assert(joinShuffles == 0,
      s"bucketed join inputs shuffled: $joinShuffles exchanges")
  }

  test("q_join_skew_salted salts the fact side and explodes the dim side") {
    val p = plan("q_join_skew_salted")
    assert(p.contains("xxhash64"), "deterministic salt expression lost")
    assert(p.contains("Generate explode") || p.contains("explode(sequence"),
      "dim-side salt replication lost")
  }

  test("q_subquery de-correlates EXISTS into a semi/existence join") {
    val p = plan("q_subquery")
    assert(p.contains("LeftSemi") || p.contains("ExistenceJoin"),
      "correlated EXISTS did not become a semi join")
  }

  test("q_agg_stats ships exact integer power sums through the exchange") {
    val p = plan("q_agg_stats")
    assert(p.contains("partial_sum"), "no map-side partial power sums")
  }

  test("q_sample_stratified rank-limits below the per-source sort") {
    assert(plan("q_sample_stratified").contains("WindowGroupLimit"))
  }

  test("q_funnel aggregates each stage map-side before its exchange") {
    val p = plan("q_funnel")
    assert(p.contains("partial_min"), "stage min-aggs not map-side combined")
  }

  test("q_sample_weighted takes the global top-k without a global sort") {
    assert(plan("q_sample_weighted").contains("TakeOrderedAndProject"))
  }

  test("q_sample_group_topk rank-limits per source before the exchange") {
    assert(plan("q_sample_group_topk").contains("WindowGroupLimit"))
  }

  test("q_data_profile computes all column stats in one scan (single Expand)") {
    val p = plan("q_data_profile")
    assert(p.contains("Expand"), "multi-distinct should plan one Expand")
    assert(p.split("Scan parquet").length == 2,
      "profile must read the fact exactly once")
  }

  test("q_attribution stacks both attribution columns on ONE window sort") {
    val p = plan("q_attribution")
    assert(p.split("\\bWindow\\b").length == 2,
      "both last() columns must share a single Window operator")
    assert(p.split("Exchange hashpartitioning").length == 2,
      "exactly one user-keyed exchange expected")
  }

  test("q_incremental_dedup anti-joins the batch against the history index") {
    val p = plan("q_incremental_dedup")
    assert(p.contains("LeftAnti"), "history dedup must be an anti-join")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_rolling_distinct broadcasts the days dim and prunes its scan to ts") {
    val p = plan("q_rolling_distinct")
    assert(p.contains("BroadcastHashJoin"), "observed-days dim must broadcast")
    assert(!p.contains("BroadcastNestedLoopJoin"))
    assert(p.contains("ReadSchema: struct<ts:"),
      "days branch must scan only the ts column")
  }

  test("q_event_transitions reads the fact once, pair counts combine map-side") {
    val p = plan("q_event_transitions")
    assert(p.split("Scan parquet").length == 2, "events must be read once")
    assert(p.contains("partial_count"), "pair counts must combine map-side")
  }

  test("q_embed_coherence broadcasts the codebook after map-side centroid sums") {
    val p = plan("q_embed_coherence")
    assert(p.contains("BroadcastHashJoin"), "label-centroid join must broadcast")
    assert(p.contains("partial_sum"), "centroid sums must combine map-side")
    assert(!p.contains("BroadcastNestedLoopJoin"))
  }

  test("q_ohlc_resample computes first/last as struct aggregates, never a window") {
    val p = plan("q_ohlc_resample")
    assert(!p.contains("Window"), "open/close must not plan a per-bar window sort")
    assert(p.contains("partial_min") || p.contains("partial_max"),
      "bar stats must combine map-side")
    assert(p.split("Scan parquet").length == 2, "events must be read once")
  }

  test("q_join_bloom probes the bloom on the fact side below the join") {
    val p = plan("q_join_bloom")
    // tree strings print top-down: the probe Filter must appear AFTER
    // (i.e. beneath) the join node, meaning the fact is thinned before
    // any join machinery — the semi-join-reduction shape
    val join = p.indexOf("Join")
    val probe = p.indexOf("graft_bloom_contains")
    assert(join >= 0, s"no join in plan:\n$p")
    assert(probe > join, s"bloom probe not beneath the join:\n$p")
  }

  test("q_auc scans the corpus once; cells combine map-side") {
    val p = plan("q_auc")
    assert(p.split("Scan parquet").length == 2,
      "AUC must read documents exactly once")
    assert(p.contains("partial_sum"), "cell counts must combine map-side")
  }

  test("q_calibration_bins is one fact-combine into bins, no window/sort") {
    val p = plan("q_calibration_bins")
    assert(p.split("Scan parquet").length == 2)
    assert(p.contains("partial_sum"))
    assert(!p.contains("WindowExec") && !p.contains("Window "),
      "width-binning must not need a rank window")
  }

  test("q_target_encoding broadcasts segment stats back onto customers") {
    val p = plan("q_target_encoding")
    assert(p.contains("BroadcastHashJoin"), "segment stats must broadcast")
    assert(p.contains("partial_sum"), "revenue must pre-aggregate map-side")
  }

  test("q_benford combines into nine digit rows before any exchange") {
    val p = plan("q_benford")
    assert(p.split("Scan parquet").length == 2)
    assert(p.contains("partial_count") || p.contains("partial_sum"),
      "digit counts must combine map-side")
  }

  test("q_knn_classify broadcasts queries and rank-limits the top-5 window") {
    val p = plan("q_knn_classify")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "query side must broadcast against the store")
    assert(p.contains("WindowGroupLimit"),
      "top-5 cut must plan as WindowGroupLimit")
  }

  test("no declared query plans a CartesianProduct except the declared cross join") {
    SparkEntry.queries.keys.filterNot(_ == "q_join_cross").foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name plans an unbounded cartesian product")
    }
  }

  /** Queries with unpartitioned windows over inputs PROVABLY bounded by
    * a constant (or by value-range cardinality fixed at authoring time),
    * so the single-partition stage never grows with data scale. Each
    * entry pins the EXACT expected offender count — the sweep still
    * walks these plans, so a future edit adding one more global window
    * to an exempted query fails (count drift), and removing the bounded
    * window prompts deleting the entry. */
  private val constantCardinalityWindows: Map[String, (Int, String)] = Map(
    "q_skyline" -> (1 -> "≤4096 bucket prefix-minima (two-level selection)"),
    "q_benford" -> (1 -> "9 digit rows"),
    "q_vocab_growth" -> (1 -> "decile rows (constant 10)"),
    "q_unigram_logprob" -> (1 -> "global-total window over G event-type rows"),
    "q_mi_select" -> (1 -> "n_docs total over the ≤#langs-row class-size aggregate (r17 single-pass restructure)"),
    "q_chi2_select" -> (1 -> "same n_docs total as q_mi_select"),
    "q_temperature_mix" -> (2 -> "total + normalizer windows over G language rows"),
    "q_pca_power" -> (4 -> "matvec/normalize windows over d=64-dim vectors (constant)"),
    "q_dsir" -> (11, "256-row bucket-LM totals + ≤4097-row global-selection summaries, " +
      "multiplied by the lazy-tree duplication the runtime seals truncate"))

  // A window input is LIMIT-bounded only when the path from the window
  // down to the limit crosses nothing that can expand cardinality:
  // recurse through UNARY non-expanding nodes only (joins have two
  // children and fall out naturally; explode/expand are excluded
  // explicitly). `fact JOIN dim.limit(3)` therefore does NOT pass —
  // the limit bounds the dim side, not the window input.
  private def limitBounded(
      n: org.apache.spark.sql.execution.SparkPlan): Boolean = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    n match {
      case _: GlobalLimitExec | _: CollectLimitExec |
           _: TakeOrderedAndProjectExec => true
      case a: AdaptiveSparkPlanExec => limitBounded(a.inputPlan)
      case _: GenerateExec => false
      case _: ExpandExec => false
      case u if u.children.size == 1 => limitBounded(u.children.head)
      case _ => false
    }
  }

  /** Unpartitioned, un-limit-bounded Window nodes anywhere in `p` —
    * the single-partition funnel detector shared by the registry-wide
    * sweep and the loop-body fragment sweep. */
  private def windowOffenders(
      p: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    val buf = scala.collection.mutable.Buffer[String]()
    def walk(n: SparkPlan): Unit = {
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case w: WindowExec
          if w.partitionSpec.isEmpty && !limitBounded(w.child) =>
          buf += w.simpleStringWithNodeId()
        case w: WindowGroupLimitExec
          if w.partitionSpec.isEmpty && !limitBounded(w.child) =>
          buf += w.simpleStringWithNodeId()
        case _ =>
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p); buf.toSeq
  }

  /** BLIND SPOT (round-6 review): this sweep sees each declared query's
    * plan AT ITS RESULT — a window added inside an iterative loop body
    * (BPE rounds, connected-components hops) hides behind the loop's
    * eager localCheckpoints, which appear as opaque RDD scans even under
    * withLazyPlans. The loop-body fragment sweep below closes it by
    * planning each per-round builder directly, un-checkpointed. */
  test("no declared query plans an unpartitioned Window over unbounded input") {
    def offenders(p: org.apache.spark.sql.execution.SparkPlan) =
      windowOffenders(p)
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val off = offenders(planOf(name))
      val allowed = constantCardinalityWindows.get(name).map(_._1).getOrElse(0)
      if (off.size == allowed) None
      else Some(s"$name: ${off.size} unpartitioned (expected $allowed)" +
        off.headOption.map(h => s" — $h").getOrElse(""))
    }
    assert(bad.isEmpty,
      s"unpartitioned Window(s) — single-partition funnel at scale " +
        s"(or stale allow-list count):\n  " + bad.mkString("\n  "))
  }

  test("q_semdedup: pruned embedding scan, broadcast codebook, cell-keyed pair join") {
    val df = Exec.withLazyPlans(SparkEntry.queries("q_semdedup")(spark, dir))
    val formatted = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    assert(formatted.contains("ReadSchema: struct<vec_id:bigint,embedding:array<float>"),
      "embeddings scan must prune to (vec_id, embedding)")
    val p = plan("q_semdedup")
    // the assignment reads the codebook's broadcast handle, printed as
    // codebook#<broadcast id>[C cells]; no nested-loop join reaches it
    assert(p.contains("graft_nearest(") && p.contains("codebook#") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the codebook must broadcast into assignment")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "the within-cell pair join must be keyed (shuffle on cell), present")
    assert(!p.contains("CartesianProduct"),
      "no unkeyed pair product anywhere")
  }

  test("q_dsir: per-consumer column pruning and broadcast LM/threshold") {
    val df = Exec.withLazyPlans(SparkEntry.queries("q_dsir")(spark, dir))
    val formatted = df.queryExecution
      .explainString(org.apache.spark.sql.execution.FormattedMode)
    // the bucket-LM consumer needs no doc_id; the weight consumer no lang
    assert(formatted.contains("ReadSchema: struct<text:string,lang:string>"),
      "LM pass must prune doc_id from its scan")
    assert(formatted.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      "weight pass must prune lang from its scan")
    val p = plan("q_dsir")
    assert(p.contains("BroadcastHashJoin"),
      "the 256-row bucket LM must broadcast into the weight join")
    assert(!p.contains("CartesianProduct"),
      "the 1-row threshold must broadcast, never a raw cartesian")
  }

  /** LAZY-tree scan multiplicities pinned for every query above the
    * free bound. These counts are the RAW tree before runtime seals /
    * persists truncate it (the sweep runs under withLazyPlans, and the
    * builders' `finally unpersist` has already dropped their caches by
    * inspection time) — so a high pin is NOT a runtime defect; what the
    * pin catches is DRIFT: a new double-consumption level multiplies
    * the count (the round-7 q_rfm blowup tripled per level), and a
    * falling count means a seal was added — update the pin either way,
    * and check the warm TimeQ cost when raising one. */
  private val scanMultiplicity: Map[String, Int] = Map(
    // The ANN codebooks train on the driver (one collect per Lloyd
    // round), so no lazy tree carries a training chain any more:
    // q_ann_ivf 14→2: the search frame's candidates + query slice.
    // q_ann_ivfpq 16→4: coarse assignment, probes, PQ codes, lookups.
    // q_ann_pq 10→2: PQ codes + the query slice's lookups.
    "q_ann_ivf" -> 2, "q_ann_ivfpq" -> 4, "q_ann_pq" -> 2,
    // q_ann_rerank 18→6: the q_ann_ivfpq tree (4) + the exact-re-rank
    // tail's two id-equi-joins against the PERSISTED vector relation
    "q_ann_rerank" -> 6,
    // q_ann_recall_ivf 16→4: q_ann_ivf's search frame (2) + the brute
    // exact side (2)
    "q_ann_recall_ivf" -> 4,
    "q_conformal" -> 17,
    "q_curation_pipeline" -> 9, "q_graph_bfs" -> 36,
    "q_graph_jaccard" -> 96, "q_graph_modularity" -> 51,
    "q_kcore" -> 148, "q_label_prop" -> 13,
    // the two pairCore miners are probe-routed (Baskets.pairCore): the
    // fixture takes the no-hot-item fast path at every SF (raw max
    // multiplicity ≪ cap), so these pins pin the FAST-path tree; a data
    // change that trips the probe would legitimately raise them to the
    // production-path counts (old shape: 25/37) — update consciously.
    "q_market_basket" -> 4, "q_multimodal_phash" -> 8,
    // q_hits / q_sssp_weighted: 2 resp. 3 sealed rounds over the
    // persisted node+edge pair — raw lazy trees double per round like
    // q_graph_bfs (runtime pays each subtree once via Exec.seal)
    "q_hits" -> 46, "q_sssp_weighted" -> 36,
    "q_naive_bayes" -> 8, "q_pagerank" -> 20, "q_pca_power" -> 10,
    // q_rfm is size-routed (Analytics.rfmBounds): the fixture takes the
    // sorted-collect boundary path (4 scans); the production histogram-
    // Selection path would legitimately read ~18 — update consciously if
    // the route threshold or fixture size changes.
    // q_bitext_pipeline: the dedup stage (groupBy embedding + join-back)
    // doubles the embeddings scan inside the pairs subtree (2 sides × 2
    // scans), and the sealed pairs relation has 3 consumers — 12 in the
    // raw lazy tree, ONE physical execution of the subtree via Exec.seal
    "q_bitext_pipeline" -> 12,
    "q_recommend_cooccur" -> 5, "q_rfm" -> 4,
    // q_semdedup 21→3: the sealed assignment keeps each vector (no join
    // back to it), read by both pair-join arms and the decision join
    "q_semdedup" -> 3,
    "q_dsir" -> 18,
    "q_sketch_intersect" -> 10, "q_triangles" -> 30, "q_winsorize" -> 9)

  test("per-table scan multiplicity stays at its pinned lazy-tree count") {
    // The round-7 Selection lesson: an operator that consumes its input
    // twice per level TRIPLES the raw logical tree (q_rfm planned 36
    // scans / 14 sort-merge joins and ran 2.9× slower than its sealed
    // form) — and exchange reuse does NOT rescue it across renamed
    // aliases. Catalyst plans the duplication silently; this sweep pins
    // the worst per-table multiplicity per query so the next doubling
    // fails loudly instead of surfacing as a bench regression.
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def maxScan(p: SparkPlan): Int = {
      val buf = scala.collection.mutable.Buffer[String]()
      def walk(n: SparkPlan): Unit = {
        n match {
          case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
          case f: FileSourceScanExec =>
            buf ++= f.relation.location.rootPaths.map(_.getName)
          case _ =>
        }
        n.children.foreach(walk)
        n.subqueries.foreach(walk)
      }
      walk(p)
      if (buf.isEmpty) 0
      else buf.groupBy(identity).valuesIterator.map(_.size).max
    }
    val bad = SparkEntry.queries.keys.toSeq.sorted.flatMap { name =>
      val got = maxScan(planOf(name))
      val allowed = scanMultiplicity.getOrElse(name, 6)
      if (got <= allowed) None
      else Some(s"$name: max per-table scan count $got (pinned $allowed)")
    }
    assert(bad.isEmpty, "scan-duplication drift (seal the reused " +
      "subtree, or consciously update the pin):\n  " + bad.mkString("\n  "))
  }

  test("loop-body fragments: no unpartitioned windows, no cartesians inside checkpointed loops") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // Each iterative operator's per-round builder, planned DIRECTLY over
    // small typed relations — the subtrees the registry sweep above
    // cannot see once the loops checkpoint them. A scale-killer window
    // or cartesian added to a round body fails here.
    val eu = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    val fragments: Map[String, org.apache.spark.sql.DataFrame] = Map(
      "cc-hop" -> graft.operators.Similarity.ccHop(
        Seq((1L, 2L), (2L, 1L)).toDF("a", "b"),
        Seq((1L, 1L), (2L, 2L)).toDF("id", "lbl")),
      "bpe-best-pair" -> graft.operators.TextOps.bpeBestPair(
        Seq(("(a)(b)(c)", 3L), ("(b)(c)", 2L)).toDF("enc", "wc")),
      "bfs-step" -> graft.operators.Graphs.ssspStep(
        eu.withColumn("w", lit(1L)), Seq((1L, 0L)).toDF("doc_id", "dist")),
      "kcore-step" -> graft.operators.Graphs.kcoreStep(
        eu, Seq(1L, 2L, 3L).toDF("doc_id"), 2),
      "pagerank-iteration" -> {
        val nodes = Seq(1L, 2L, 3L).toDF("doc_id")
        val stats = nodes.agg(count(lit(1)).as("n"))
        val edges = eu.withColumn("outdeg", lit(1L))
        graft.operators.Graphs.prIteration(nodes, edges, stats,
          nodes.select($"doc_id", lit(100L).as("pr")))
      })
    val bad = fragments.toSeq.sortBy(_._1).flatMap { case (name, df) =>
      val p = df.queryExecution.executedPlan
      val off = windowOffenders(p)
      val cart = p.toString().contains("CartesianProduct")
      if (off.isEmpty && !cart) None
      else Some(s"$name: ${off.size} unpartitioned window(s)" +
        (if (cart) " + CartesianProduct" else "") +
        off.headOption.map(h => s" — $h").getOrElse(""))
    }
    assert(bad.isEmpty, "loop-body fragment plans a scale-killer:\n  " +
      bad.mkString("\n  "))
  }
}
