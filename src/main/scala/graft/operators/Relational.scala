package graft.operators

import graft.{Det, QueryModule}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relational core (SURVEY.md §2.1–§2.4, §2.6–§2.8): the reference's
  * observed query surface (scan, disjunctive filter on a joined dim,
  * FK joins, eager-load decomposition) plus the north-star relational
  * extensions, all expressed as declarative DataFrame plans so Catalyst
  * owns pushdown, pruning, and join selection (SURVEY.md §4.1).
  *
  * Scale posture (100 TB): no driver-side collect anywhere; every query is
  * shuffle-bounded; dimension joins (region/nation/supplier/part at TPC-H
  * ratios) are explicitly `broadcast()` so fact tables never shuffle for
  * them; fact⋈fact joins (orders⋈lineitem) shuffle on the join key and rely
  * on AQE for skew splitting.
  */
object Relational extends QueryModule {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---------------------------------------------------------------- scans

  /** S1 q_scan_project — full scan + projection. Reference:
    * `session.execute(select(Decision))`
    * `/root/reference/decisions-summaries/generate_decisions_summaries.py:37-43`.
    * Catalyst prunes the Parquet `ReadSchema` to the 3 selected columns. */
  private def qScanProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_linenumber", $"l_quantity")
      // (l_orderkey, l_linenumber) is NOT unique in the synthetic data —
      // order by every output column for a total order (t2 hash parity).
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity")
  }

  /** S1b q_dsv2_scan — a declared query through the full DataSource-V2
    * connector ([[graft.sources.v2.DocGenSource]], the shape a production
    * deployment implements against its real backing store — the
    * reference's PostgreSQL, `/root/reference/probe.py:4`). The `doc_id`
    * range predicates are ABSORBED by the ScanBuilder (the generated id
    * range narrows BEFORE any row exists — the DSv2 analog of parquet
    * row-group skipping), `n_chars >= 500` stays a residual Spark filter,
    * and column pruning drops `lang` from the reader schema entirely.
    * Oracle: the connector's deterministic row function re-expressed in
    * SQL over `generate_series`. */
  private def qDsv2Scan(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft.sources.v2.DocGenSource")
      .option("rows", 5000).option("slices", 8).load()
      .filter($"doc_id" >= 100L && $"doc_id" < 4000L && $"n_chars" >= 500L)
      .select($"doc_id", $"n_chars")
      .orderBy($"doc_id")
  }

  /** S1c q_dsv2_agg_pushdown — COMPLETE DSv2 aggregate pushdown
    * (round 10): count/min/max/sum grouped by `lang` over two million
    * generated rows, all absorbed by the connector
    * (`SupportsPushDownAggregates`) after the `doc_id` range predicate
    * narrows the range — Spark plans NO aggregate of its own
    * (Dsv2Spec pins the plan); the source answers from the id-range
    * closed forms without materializing a row. This is the store-side
    * aggregation shape a warehouse connector pushes to its backend —
    * at 100 TB the difference between shipping 5 rows and shipping the
    * table. */
  private def qDsv2AggPushdown(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft.sources.v2.DocGenSource")
      .option("rows", 2000000).option("slices", 8).load()
      .filter($"doc_id" >= 1000L)
      .groupBy($"lang")
      .agg(count($"doc_id").as("n_docs"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"),
        sum($"doc_id").as("sum_id"), sum($"n_chars").as("sum_chars"))
      .orderBy($"lang")
  }

  /** S1d q_dsv2_runtime_filter — DSv2 RUNTIME filtering
    * (`SupportsRuntimeFiltering`, round 11): the nation dim's surviving
    * keys are knowable only at execution time (`n_regionkey = 2`
    * doesn't constant-fold into the fact), so Spark evaluates the dim
    * first, reuses its broadcast, and hands the join keys to the
    * connector as an `In` runtime filter BEFORE any input partition is
    * planned — the generator produces only those ids out of 100 000.
    * This is the DSv2 analog of q_partition_prune's dynamic partition
    * pruning, completing the read contract (static filters, columns,
    * limit, aggregates, runtime filters). At 100 TB: scan the keyed
    * rows, not the table. Dsv2Spec pins the narrowed id count and the
    * DynamicPruning subquery in the plan. */
  private def qDsv2RuntimeFilter(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = s.read.format("graft.sources.v2.DocGenSource")
      .option("rows", 100000).option("slices", 8).load()
    val dim = t(s, dir, "nation").filter($"n_regionkey" === 2)
    fact.join(dim, $"doc_id" === $"n_nationkey")
      .select($"doc_id", $"lang", $"n_chars", $"n_name")
      .orderBy($"doc_id")
  }

  // ------------------------------------------------- filters / projections

  /** P1 q_filter_or_eq — the reference's only WHERE: disjunctive equality
    * on a joined dimension (`or_(Body.symbol == "SBI", Body.symbol ==
    * "SBSTA")`,
    * `/root/reference/decisions-summaries/generate_conclusions_summaries.py:44-49`).
    * Here: customers of two named nations; the dim side is broadcast and
    * the equality disjunction is pushed into the scan as an IN filter. */
  private def qFilterOrEq(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val nat = t(s, dir, "nation")
      .filter($"n_name" === "NATION_3" || $"n_name" === "NATION_7")
    t(s, dir, "customer")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name")
      .orderBy($"c_custkey")
  }

  /** P2 q_project — projection, rename, computed column (the reference
    * keeps only `symbol`/`summary` of each result row,
    * `generate_decisions_summaries.py:112-116`). */
  private def qProject(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select(
        $"p_partkey",
        $"p_name".as("part_name"),
        ($"p_retailprice" * lit(1.1)).as("price_up"))
      .orderBy($"p_partkey")
  }

  /** P3 q_filter_pred — compound predicate: AND/OR, BETWEEN, LIKE, IN.
    * All residual-free: every conjunct reaches `PushedFilters` on the
    * Parquet scan. */
  private def qFilterPred(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .filter(
        $"l_quantity".between(10, 20) &&
        ($"l_discount" > 0.05 || $"l_tax" < 0.02) &&
        $"l_returnflag".isin("A", "R") &&
        $"l_linestatus".like("F%"))
      .select($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
      .orderBy($"l_orderkey", $"l_linenumber", $"l_quantity", $"l_discount")
  }

  /** P4 q_filter_null_branch — tagged-union null dispatch, the reference's
    * `if block.paragraph: … elif block.table:` branch
    * (`generate_conclusions_summaries.py:57-64`). Nulls are introduced via
    * `nullif` (testdata is null-free) and dispatched with a `when` chain +
    * `coalesce`, exactly the CASE WHEN shape DuckDB runs. */
  private def qFilterNullBranch(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select(
        $"l_orderkey", $"l_linenumber",
        nullif($"l_discount", lit(0.0)).as("disc_n"),
        nullif($"l_tax", lit(0.0)).as("tax_n"))
      .select(
        $"l_orderkey", $"l_linenumber",
        when($"disc_n".isNotNull, concat(lit("D:"), $"disc_n".cast("string")))
          .when($"tax_n".isNotNull, concat(lit("T:"), $"tax_n".cast("string")))
          .otherwise(lit("none")).as("branch"),
        coalesce($"disc_n", $"tax_n", lit(-1.0)).as("first_rate"))
      .orderBy($"l_orderkey", $"l_linenumber", $"branch", $"first_rate")
  }

  // --------------------------------------------------------------- joins

  /** J1 q_join_inner_fk — fact→dim FK equi-join (Document⋈Body,
    * `generate_conclusions_summaries.py:38-39`). The 25-row dim is
    * broadcast: zero shuffle of the fact side at any scale. */
  private def qJoinInnerFk(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"n_name")
      .orderBy($"c_custkey")
  }

  /** J2 q_join_chain — multi-hop FK chain, the reference's
    * Document→Core→Block→Paragraph eager-load
    * (`generate_conclusions_summaries.py:40-43`) as
    * lineitem⋈orders⋈customer⋈nation⋈region. The one fact⋈fact join
    * (lineitem⋈orders) shuffles on the order key; all dims broadcast, so
    * the plan has exactly one exchange before aggregation. */
  private def qJoinChain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .join(t(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
      .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(
        Det.sumd($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"r_name")
  }

  /** J3 q_join_left — nullable one-to-one eager load = LEFT OUTER
    * (`if block.paragraph:` may be absent,
    * `generate_conclusions_summaries.py:57,61`). Customers LEFT JOIN their
    * urgent orders; count(col) ignores the null side. */
  private def qJoinLeft(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT")
    t(s, dir, "customer")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_outer")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("n_urgent"),
        Det.sumd(coalesce($"o_totalprice", lit(0.0))).as("urgent_total"))
      .orderBy($"c_custkey")
  }

  /** J4 q_join_bridge_m2n — ordered M:N bridge
    * (Decision→DecisionBlockMap→Block,
    * `generate_decisions_summaries.py:39-42`) as orders→lineitem→part:
    * double equi-join through the bridge, aggregated per parent. */
  private def qJoinBridgeM2n(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .join(broadcast(t(s, dir, "part")), $"l_partkey" === $"p_partkey")
      .groupBy($"o_orderkey")
      .agg(count(lit(1)).as("n_parts"),
        Det.sumd($"p_retailprice").as("retail_total"))
      .orderBy($"o_orderkey")
  }

  /** J5 q_join_semi — existence join (left semi): customers having at
    * least one F-status order. No row duplication, right side only hashed. */
  private def qJoinSemi(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val f = t(s, dir, "orders").filter($"o_orderstatus" === "F")
    t(s, dir, "customer")
      .join(f, $"c_custkey" === $"o_custkey", "left_semi")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** J6 q_join_anti — NOT EXISTS: customers with no URGENT order. */
  private def qJoinAnti(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val urgent = t(s, dir, "orders").filter($"o_orderpriority" === "1-URGENT")
    t(s, dir, "customer")
      .join(urgent, $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name")
      .orderBy($"c_custkey")
  }

  /** J7 q_join_theta_range — non-equi band join: parts bucketed into
    * retail-price bands. The 4-row band table broadcasts →
    * BroadcastNestedLoopJoin; at 100 TB the fact side still streams
    * without a shuffle. */
  private def qJoinThetaRange(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val bands = s.createDataFrame(Seq(
      ("low", 0.0, 500.0), ("mid", 500.0, 1000.0),
      ("high", 1000.0, 1500.0), ("lux", 1500.0, 1e9)))
      .toDF("band", "lo", "hi")
    t(s, dir, "part")
      .join(broadcast(bands),
        $"p_retailprice" >= $"lo" && $"p_retailprice" < $"hi")
      .groupBy($"band")
      .agg(count(lit(1)).as("n_parts"), Det.sumd($"p_retailprice").as("retail_sum"))
      .orderBy($"band")
  }

  /** J10 q_join_cross — guarded Cartesian product (basis for brute-force
    * similarity, SURVEY.md §2.9 T3): region × supplier. Only ever used
    * with a broadcastable side. */
  private def qJoinCross(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "region").crossJoin(broadcast(t(s, dir, "supplier")))
      .select($"r_regionkey", $"s_suppkey", $"r_name", $"s_name")
      .orderBy($"r_regionkey", $"s_suppkey")
  }

  /** J9 q_join_selectinload — the ORM's eager-load decomposition
    * (`selectinload`, `generate_conclusions_summaries.py:40-43`): children
    * delivered per-parent WITHOUT duplicating parent rows. Spark-idiomatic
    * equivalent: join + `collect_list` → one row per parent with an
    * ordered child array (serialized to a comma-joined string so the
    * cross-engine comparator sees only scalar columns). */
  private def qJoinSelectinload(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(t(s, dir, "lineitem"), $"o_orderkey" === $"l_orderkey")
      .groupBy($"o_orderkey")
      .agg(
        expr("array_join(transform(sort_array(collect_list(l_linenumber))," +
          " x -> cast(x AS string)), ',')").as("line_numbers"),
        count(lit(1)).as("n_lines"))
      .orderBy($"o_orderkey")
  }

  // -------------------------------------------------------- aggregations

  /** A1 q_agg_hash — grouped sum/avg/count, TPC-H Q1 shape:
    * HashAggregate partial → single exchange on the 6 group keys → final.
    * Map-side combine makes the shuffle O(groups), not O(rows) — the
    * property that keeps this viable at 100 TB. */
  private def qAggHash(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        Det.sumd($"l_quantity").as("sum_qty"),
        Det.sumd($"l_extendedprice").as("sum_base_price"),
        Det.sumd($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("sum_disc_price"),
        Det.avgd($"l_quantity").as("avg_qty"),
        Det.avgd($"l_extendedprice").as("avg_price"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** A2 q_agg_distinct — COUNT(DISTINCT) per group: Catalyst plans the
    * two-phase expand + partial/final aggregate. */
  private def qAggDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        countDistinct($"l_partkey").as("n_parts"),
        countDistinct($"l_suppkey").as("n_supps"),
        count(lit(1)).as("n_rows"))
      .orderBy($"l_returnflag")
  }

  /** A4 q_agg_approx_distinct — HyperLogLog++ distinct at scale
    * (`approx_count_distinct`). No oracle: sketch estimates are
    * engine-specific (SURVEY.md §2.4 A4). */
  private def qAggApproxDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(approx_count_distinct($"l_partkey").as("approx_parts"))
      .orderBy($"l_returnflag")
  }

  /** A13 q_agg_cms — Count-Min heavy-hitter probe over the token stream:
    * a CMS of every document token is built in ONE mergeable pass
    * (`count_min_sketch`, fixed seed ⇒ deterministic bits), then a fixed
    * candidate list is probed through the native
    * [[graft.functions.CmsEstimate]] expression against the broadcast
    * 1-row sketch — the frequency-oracle workflow (Cormode–Muthukrishnan)
    * that replaces an exact tf table when only point lookups are needed.
    * Sub-linear state: the shuffle carries ~100 KB of sketch, never the
    * token stream. Declared WITHOUT a DuckDB oracle (sketch bits are
    * engine-specific, the A4 precedent); the law spec pins
    * exact ≤ estimate ≤ exact + εN with the same-seed sketch. */
  private def qAggCms(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val sk = t(s, dir, "documents")
      .select(explode(split(lower($"text"), " ")).as("tok"))
      .filter(length($"tok") > 0)
      .agg(count_min_sketch($"tok", lit(0.001), lit(0.99), lit(42)).as("sk"))
    Seq("the", "a", "join", "data", "spark", "merge", "scan", "absent_token")
      .toDF("token")
      .crossJoin(broadcast(sk))
      .select($"token",
        graft.functions.VectorFunctions.cmsEstimate($"sk", $"token")
          .as("est_count"))
      .orderBy($"token")
  }

  /** A14 q_agg_approx_percentile — quantile SKETCH per group
    * (`percentile_approx`, Greenwald–Khanna): the bounded-state
    * alternative to [[qPercentile]]'s exact interpolation when a 100 TB
    * group can't ship its values. accuracy=10⁴ bounds rank error to
    * n/10⁴. Declared WITHOUT an oracle (sketch internals are
    * engine-specific — the A4 HLL precedent); the law spec brackets each
    * estimate between the exact order statistics at rank ± n/accuracy. */
  private def qAggApproxPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "events")
      .groupBy($"event_type")
      .agg(percentile_approx($"value", array(lit(0.5), lit(0.95)), lit(10000))
        .as("pcts"))
      .select($"event_type",
        $"pcts".getItem(0).as("p50_approx"),
        $"pcts".getItem(1).as("p95_approx"))
      .orderBy($"event_type")
  }

  /** A10 q_agg_kmv — KMV distinct-count sketch per group: a mergeable
    * O(k)-state alternative to exact COUNT(DISTINCT) whose every
    * ingredient (md5-fold hashing, k-th order statistic, estimator
    * arithmetic) is engine-replayable — an oracle-CHECKABLE sketch,
    * unlike HLL (A4). Exact count included for calibration. */
  private def qAggKmv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        graft.functions.VectorFunctions.kmvDistinct($"l_partkey")
          .as("kmv_distinct"),
        countDistinct($"l_partkey").as("exact_distinct"))
      .orderBy($"l_returnflag")
  }

  /** q_sketch_union — KMV sketch MERGEABILITY, the property that makes
    * sketches the 100 TB replacement for COUNT(DISTINCT): per-nation
    * sketches of the active-customer id set (64 smallest distinct
    * [[graft.functions.TextHashing.hash15]] values, built here in pure
    * SQL expressions — `conv(substr(md5(x),1,15),16,10) % p`, the same
    * hash the [[qAggKmv]] UDAF computes) are UNION-MERGED up the
    * region rollup: merged sketch = k smallest of the union of the
    * per-nation sketch sets, exactly what re-aggregating stored daily
    * sketches into monthly counts does — no raw data revisit. Exact
    * region distinct included for calibration.
    *
    * Scale: the fact collapses to distinct (region, nation, hash) —
    * map-side combinable — and the per-nation top-64 rank-filter plans
    * as WindowGroupLimit (per-partition top-k, never a full per-group
    * sort); the merge then ranks ≤ 64·nations rows per region. If any
    * nation sketch saturated (64 entries), the merged rank-64 estimator
    * applies; a merged set under 64 means every input was exact, so the
    * union is too — the UDAF's own small-set semantics, preserved by
    * construction. */
  private def qSketchUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 64
    val P = graft.functions.TextHashing.P
    val j = t(s, dir, "orders")
      .join(t(s, dir, "customer"), $"o_custkey" === $"c_custkey")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .select($"r_name", $"n_name", $"o_custkey")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val h = (conv(substring(md5($"o_custkey".cast("string")), 1, 15),
        16, 10).cast("long") % lit(P)).as("h")
      val hh = j.select($"r_name", $"n_name", h).distinct()
      val wNat = Window.partitionBy($"r_name", $"n_name").orderBy($"h")
      val sketches = hh.withColumn("rn", row_number().over(wNat))
        .filter($"rn" <= K)
        .select($"r_name", $"h").distinct()
      val wReg = Window.partitionBy($"r_name")
      val ranked = sketches
        .withColumn("rn", row_number().over(wReg.orderBy($"h")))
        .withColumn("d", count(lit(1)).over(wReg))
      val est = ranked.groupBy($"r_name")
        .agg(max($"d").as("d"), max(when($"rn" === K, $"h")).as("hk"))
      val exact = j.groupBy($"r_name")
        .agg(countDistinct($"o_custkey").as("exact_distinct"))
      est.join(exact, "r_name")
        .select($"r_name",
          when($"d" < K, $"d".cast("double"))
            .otherwise(lit((K - 1).toDouble) /
              ($"hk".cast("double") / lit(P.toDouble))).as("kmv_merged"),
          $"exact_distinct")
        .orderBy($"r_name")
        .transform(graft.Exec.seal)
    } finally j.unpersist(false)
  }

  /** q_sketch_intersect — KMV sketch ALGEBRA: overlap estimates between
    * segment audiences by inclusion–exclusion over mergeable sketches,
    * |A∩B| ≈ est(A) + est(B) − est(A∪B) — how a 100 TB stack answers
    * "how many customers do these two segments share?" from stored
    * per-segment sketches without ever revisiting raw data. Completes
    * [[qSketchUnion]]'s union-merge with the derived set operation; the
    * exact intersection rides along for calibration.
    *
    * Scale: the fact collapses once to distinct (segment, customer-hash)
    * — map-side combinable — and EVERYTHING downstream is sketch-sized:
    * per-segment top-64 rank filters (WindowGroupLimit), pair unions
    * over ≤ 2·64 rows per segment pair, S² pair algebra on S segments.
    * The exact calibration join is the only fact-sized stage. Estimates
    * can undershoot to negative; clamped at 0 (both engines). */
  private def qSketchIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val K = 64
    val P = graft.functions.TextHashing.P
    val base = t(s, dir, "orders")
      .select($"o_orderpriority".as("seg"), $"o_custkey").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val h = (conv(substring(md5($"o_custkey".cast("string")), 1, 15),
        16, 10).cast("long") % lit(P)).as("h")
      val sk = base.select($"seg", h).distinct()
        .withColumn("rn",
          row_number().over(Window.partitionBy($"seg").orderBy($"h")))
        .filter($"rn" <= K)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        def estOf(d: Column, hk: Column): Column =
          when(d < K, d.cast("double"))
            .otherwise(lit((K - 1).toDouble) /
              (hk.cast("double") / lit(P.toDouble)))
        val est = sk.groupBy($"seg")
          .agg(count(lit(1)).as("d"), max(when($"rn" === K, $"h")).as("hk"))
        val pairs = est.select($"seg".as("sa"), $"d".as("da"), $"hk".as("hka"))
          .join(est.select($"seg".as("sb"), $"d".as("db"), $"hk".as("hkb")),
            $"sa" < $"sb")
        val mh = pairs.select($"sa", $"sb")
          .join(sk.select($"seg".as("sa"), $"h"), Seq("sa"))
          .select($"sa", $"sb", $"h")
          .union(pairs.select($"sa", $"sb")
            .join(sk.select($"seg".as("sb"), $"h"), Seq("sb"))
            .select($"sa", $"sb", $"h"))
          .distinct()
        val estU = mh
          .withColumn("rn", row_number()
            .over(Window.partitionBy($"sa", $"sb").orderBy($"h")))
          .filter($"rn" <= K)
          .groupBy($"sa", $"sb")
          .agg(count(lit(1)).as("du"), max(when($"rn" === K, $"h")).as("hku"))
        val exact = base.select($"seg".as("sa"), $"o_custkey")
          .join(base.select($"seg".as("sb"), $"o_custkey"), Seq("o_custkey"))
          .filter($"sa" < $"sb")
          .groupBy($"sa", $"sb")
          .agg(countDistinct($"o_custkey").as("exact_intersect"))
        val (ea, eb, eu) = (estOf($"da", $"hka"), estOf($"db", $"hkb"),
          estOf($"du", $"hku"))
        pairs.join(estU, Seq("sa", "sb"))
          .join(exact, Seq("sa", "sb"), "left")
          .select($"sa".as("seg_a"), $"sb".as("seg_b"),
            ea.as("kmv_a"), eb.as("kmv_b"), eu.as("kmv_union"),
            greatest(lit(0.0), ea + eb - eu).as("kmv_intersect"),
            coalesce($"exact_intersect", lit(0L)).as("exact_intersect"))
          .orderBy($"seg_a", $"seg_b")
          .transform(graft.Exec.seal)
      } finally sk.unpersist(false)
    } finally base.unpersist(false)
  }

  /** A7 q_agg_collect — per-group array materialization
    * (`blocks = [block for block in conclusion.core.blocks]`,
    * `generate_conclusions_summaries.py:54`), `sort_array` for
    * determinism, comma-joined so only scalar columns leave the query.
    * Array size is bounded by lines-per-order (≤7), the same
    * per-document boundedness the reference assumes. */
  private def qAggCollect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_orderkey")
      .agg(
        expr("array_join(transform(sort_array(collect_list(l_linenumber))," +
          " x -> cast(x AS string)), ',')").as("lines"),
        array_join(sort_array(collect_set($"l_returnflag")), ",").as("flags"))
      .orderBy($"l_orderkey")
  }

  /** A5 q_rollup — hierarchical totals over region→nation. Rollup nulls
    * are disambiguated to 'ALL' sentinels (testdata is null-free) so both
    * engines sort identically. */
  private def qRollup(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(t(s, dir, "region")), $"n_regionkey" === $"r_regionkey")
      .rollup($"r_name", $"n_name")
      .agg(count(lit(1)).as("n_cust"), Det.sumd($"c_acctbal").as("acct_sum"))
      .select(
        coalesce($"r_name", lit("ALL")).as("region_name"),
        coalesce($"n_name", lit("ALL")).as("nation_name"),
        $"n_cust", $"acct_sum")
      .orderBy($"region_name", $"nation_name")
  }

  /** A5 q_cube — cube over (mktsegment, orderstatus). */
  private def qCube(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .join(broadcast(t(s, dir, "customer")), $"o_custkey" === $"c_custkey")
      .cube($"c_mktsegment", $"o_orderstatus")
      .agg(count(lit(1)).as("n_orders"), Det.sumd($"o_totalprice").as("total"))
      .select(
        coalesce($"c_mktsegment", lit("ALL")).as("segment"),
        coalesce($"o_orderstatus", lit("ALL")).as("status"),
        $"n_orders", $"total")
      .orderBy($"segment", $"status")
  }

  /** A5 q_grouping_sets — explicit grouping sets {(priority), (status)}. */
  private def qGroupingSets(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Tables.load(s, dir, "orders").createOrReplaceTempView("gs_orders")
    s.sql("""
      SELECT coalesce(o_orderpriority, 'ALL') AS priority,
             coalesce(o_orderstatus, 'ALL') AS status,
             count(*) AS n
      FROM gs_orders
      GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
      ORDER BY priority, status""")
  }

  // ------------------------------------------------------- sorts / limits

  /** O1 q_sort_limit — global order + limit → TakeOrderedAndProject:
    * per-partition top-k then driver merge of k·partitions rows, never a
    * full global sort (the property that matters at 100 TB). Subset-run
    * guards in the reference (`generate_conclusions_summaries.py:108-111`). */
  private def qSortLimit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(10)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
  }

  /** q_shipping_priority — the TPC-H Q3 shape (segment-filtered customers
    * × pre-cutoff orders × post-cutoff shipments, revenue top-10): the
    * benchmark-standard "combined" OLAP query exercising every optimizer
    * lever at once, declared here so the engine's composed behavior is
    * oracle-pinned, not just its operator parts.
    *
    * Plan: both date filters push down to the parquet scans (half the
    * fact never leaves the files); the segment-filtered customer key set
    * broadcasts; lineitem⋈orders shuffles once on the order key with
    * partial aggregation before the exchange; the global top-10 plans as
    * TakeOrderedAndProject (per-partition top-k + driver merge — no full
    * sort). Revenue folds via [[Det.sumd]]'s DECIMAL quantization; the
    * DESC order over those exact sums is engine-identical, and the
    * orderkey tie-break makes the cut deterministic. */
  private def qShippingPriority(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val cutoff = lit("1998-06-01").cast("timestamp")
    val cust = t(s, dir, "customer")
      .filter($"c_mktsegment" === "BUILDING").select($"c_custkey")
    val ord = t(s, dir, "orders")
      .filter($"o_orderdate" < cutoff)
      .select($"o_orderkey", $"o_custkey", $"o_orderdate", $"o_orderpriority")
    val li = t(s, dir, "lineitem")
      .filter($"l_shipdate" > cutoff)
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
    li.join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(Det.sumd($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
      .select($"l_orderkey", $"revenue", $"o_orderdate", $"o_orderpriority")
  }

  /** q_supplier_volume — the TPC-H Q5 shape (local supplier volume):
    * revenue per nation from orders where the customer and the supplier
    * sit in the SAME nation of one region, over one order-date year. The
    * six-relation join is the classic star-with-a-cycle plan — the
    * c_nationkey = s_nationkey closure edge is what distinguishes it
    * from a pure snowflake and forces the optimizer to pick a join order
    * rather than just follow FKs.
    *
    * Plan: the region→nation filter broadcasts (≤ 25 rows survive), so
    * customer and supplier each thin BEFORE touching a fact; the date
    * filter pushes to the orders scan (one year of ~6.5 survives the
    * file read). The only fact⋈fact exchange is lineitem⋈orders on the
    * order key; the nation-match closure is applied as a residual on
    * broadcast-joined dims, never as its own shuffle. Revenue folds via
    * [[Det.sumd]]; output is nation-grouped (≤ 25 rows). */
  private def qSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-01-01").cast("timestamp")
    val hi = lit("1997-01-01").cast("timestamp")
    val nat = t(s, dir, "nation")
      .join(t(s, dir, "region").filter($"r_name" === "ASIA"),
        $"n_regionkey" === $"r_regionkey")
      .select($"n_nationkey", $"n_name")
    val cust = t(s, dir, "customer")
      .join(broadcast(nat), $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_nationkey", $"n_name")
    val supp = t(s, dir, "supplier")
      .select($"s_suppkey", $"s_nationkey")
    val ord = t(s, dir, "orders")
      .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      .select($"o_orderkey", $"o_custkey")
    t(s, dir, "lineitem")
      .select($"l_orderkey", $"l_suppkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .join(broadcast(supp), $"l_suppkey" === $"s_suppkey" &&
        $"c_nationkey" === $"s_nationkey")
      .groupBy($"n_name")
      .agg(Det.sumd($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"revenue".desc, $"n_name")
  }

  /** q_returned_revenue — the TPC-H Q10 shape (returned-item reporting):
    * top-20 customers by revenue lost to returns in one order-date
    * quarter, with their nation attached. The benchmark's "wide output"
    * combined query: a selective fact filter (returnflag), a date-sliced
    * fact⋈fact join, a grouped fold over a HIGH-cardinality key
    * (customers, not nations), and a global top-k over the fold.
    *
    * Plan: both filters push to the scans; lineitem⋈orders shuffles once
    * on the order key; the customer dim broadcasts onto the aggregate's
    * OUTPUT (group first on o_custkey, join the ≤ |customer| result —
    * never widening the fact rows with customer attributes before the
    * fold); the top-20 plans as TakeOrderedAndProject. Ties on the
    * exact-decimal revenue break by custkey, so the cut is
    * deterministic in both engines. */
  private def qReturnedRevenue(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val lo = lit("1996-07-01").cast("timestamp")
    val hi = lit("1996-10-01").cast("timestamp")
    val ord = t(s, dir, "orders")
      .filter($"o_orderdate" >= lo && $"o_orderdate" < hi)
      .select($"o_orderkey", $"o_custkey")
    val cust = t(s, dir, "customer")
      .join(broadcast(t(s, dir, "nation")),
        $"c_nationkey" === $"n_nationkey")
      .select($"c_custkey", $"c_name", $"c_acctbal", $"n_name")
    t(s, dir, "lineitem")
      .filter($"l_returnflag" === "R")
      .select($"l_orderkey", $"l_extendedprice", $"l_discount")
      .join(ord, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_custkey")
      .agg(Det.sumd($"l_extendedprice" * (lit(1.0) - $"l_discount"))
        .as("revenue"),
        count(lit(1)).as("n_returned"))
      .join(broadcast(cust), $"o_custkey" === $"c_custkey")
      .orderBy($"revenue".desc, $"o_custkey")
      .limit(20)
      .select($"o_custkey".as("c_custkey"), $"c_name", $"revenue",
        $"n_returned", $"c_acctbal", $"n_name")
  }

  // -------------------------------------------------------- set operations

  /** q_union / q_intersect / q_except (SURVEY.md §2.7). */
  /** J11 q_join_nullsafe — null-safe equality (`<=>` ≡ IS NOT DISTINCT
    * FROM): nulls introduced via nullif pair with each other instead of
    * being dropped, the semantics an FK with optional values needs. */
  private def qJoinNullsafe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val a = t(s, dir, "customer")
      .select($"c_custkey", nullif($"c_nationkey" % 5, lit(0)).as("grp"))
    val b = t(s, dir, "supplier")
      .select($"s_suppkey", nullif($"s_nationkey" % 5, lit(0)).as("grp"))
    a.join(b, a("grp") <=> b("grp"))
      .select($"c_custkey", $"s_suppkey", a("grp").as("grp"))
      .orderBy($"c_custkey", $"s_suppkey")
  }

  /** q_union_distinct — set-semantics UNION (vs q_union's UNION ALL). */
  private def qUnionDistinct(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    e.filter($"event_type".isin("signup", "purchase")).select($"user_id")
      .union(e.filter($"value" > 15.0).select($"user_id"))
      .distinct()
      .orderBy($"user_id")
  }

  private def qUnion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val e = t(s, dir, "events")
    e.filter($"event_type" === "signup").select($"event_id", $"user_id", $"event_type")
      .unionByName(
        e.filter($"event_type" === "purchase").select($"event_id", $"user_id", $"event_type"))
      .orderBy($"event_id")
  }

  private def qIntersect(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "customer").select($"c_nationkey".as("nationkey"))
      .intersect(t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }

  private def qExcept(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "nation").select($"n_nationkey".as("nationkey"))
      .except(t(s, dir, "supplier").select($"s_nationkey".as("nationkey")))
      .orderBy($"nationkey")
  }

  // ------------------------------------------------------ scalar functions

  /** F1 q_string_funcs — trim/concat/case/substring, the reference's
    * text-assembly idioms (`.strip()`, f-string templating,
    * `generate_conclusions_summaries.py:53-64,103-110`). */
  private def qStringFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select(
        $"p_partkey",
        upper($"p_name").as("name_uc"),
        lower($"p_brand").as("brand_lc"),
        trim(concat(lit("  "), $"p_type", lit("  "))).as("type_trim"),
        concat_ws("|", $"p_brand", $"p_type").as("brand_type"),
        substring($"p_name", 1, 4).as("name4"),
        length($"p_name").cast("long").as("name_len"))
      .orderBy($"p_partkey")
  }

  /** F2 q_date_funcs — date parts / trunc / diff over order dates. */
  private def qDateFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select(
        $"o_orderkey",
        year($"o_orderdate").cast("long").as("yr"),
        month($"o_orderdate").cast("long").as("mo"),
        dayofmonth($"o_orderdate").cast("long").as("dom"),
        date_trunc("month", $"o_orderdate").as("month_start"),
        datediff($"o_orderdate", lit("1995-01-01").cast("date")).cast("long").as("days_since"))
      .orderBy($"o_orderkey")
  }

  /** F3 q_math_funcs — arithmetic on measures; the revenue expression
    * `l_extendedprice * (1 - l_discount)` is evaluated per-row in IEEE
    * double (bit-identical across engines). ROUND is only applied to
    * tie-free expressions: Spark rounds via the double's shortest decimal
    * representation (so an exact-decimal 1222.745 rounds .75) while DuckDB
    * rounds the raw binary (→ .74) — a 2-decimal round of a
    * price×discount product would diverge on every x.xx50 tie. */
  private def qMathFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select(
        $"l_orderkey", $"l_linenumber",
        ($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
        abs($"l_discount" - lit(0.05)).as("disc_dev"),
        ceil($"l_quantity" / lit(7.0)).as("qty_ceil7"),
        floor($"l_extendedprice" / lit(100.0)).as("price_c"),
        round(log($"l_extendedprice" + lit(1.0)), 6).as("log_price"),
        round(pow($"l_quantity", lit(2.0)), 4).as("qty_sq"))
      .orderBy($"l_orderkey", $"l_linenumber", $"revenue", $"disc_dev",
        $"qty_ceil7", $"price_c")
  }

  /** F1b q_regex_funcs — regex scalar surface: extract/replace/count plus
    * padding/repeat/reverse. Patterns restricted to character classes +
    * groups that Java regex (Spark) and RE2 (DuckDB) treat identically. */
  private def qRegexFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "part")
      .select(
        $"p_partkey",
        regexp_extract($"p_name", "([a-z]+) ([a-z]+)", 2).as("second_word"),
        regexp_replace($"p_name", "[aeiou]", "_").as("devoweled"),
        expr("CAST(regexp_count(p_name, '[aeiou]') AS BIGINT)").as("n_vowels"),
        lpad($"p_brand", 10, "#").as("brand_pad"),
        repeat($"p_type", 2).as("type2"),
        reverse($"p_name").as("name_rev"))
      .orderBy($"p_partkey")
  }

  /** J12 q_join_full — full outer join with unmatched rows on BOTH sides
    * (machinery customers vs high-value orders). Nullable keys are
    * coalesced to -1 sentinels so both engines sort identically (Spark
    * defaults NULLS FIRST, DuckDB NULLS LAST — sentinels sidestep it). */
  private def qJoinFull(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val c = t(s, dir, "customer").filter($"c_mktsegment" === "MACHINERY")
      .select($"c_custkey", $"c_name")
    val o = t(s, dir, "orders").filter($"o_totalprice" > 250000.0)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
    c.join(o, $"c_custkey" === $"o_custkey", "full_outer")
      .select(
        coalesce($"c_custkey", lit(-1L)).as("cust_key"),
        coalesce($"o_orderkey", lit(-1L)).as("order_key"),
        coalesce($"c_name", lit("NO_CUSTOMER")).as("cust_name"),
        coalesce($"o_totalprice", lit(0.0)).as("total_price"))
      .orderBy($"cust_key", $"order_key")
  }

  /** A11 q_agg_stats — dispersion aggregates (variance/stddev) computed
    * from EXACT integer power sums instead of the engines' streaming
    * moment kernels: l_quantity is integral (≤ 50), so Σx and Σx² are
    * exact BIGINTs up to ~3×10¹¹ rows per group (sx2 ≤ 2500·n < 2⁶³) —
    * safely past the 100 TB regime. The cross terms n·Σx² and (Σx)² DO
    * overflow int64 beyond ~SF 35, so they are computed in DECIMAL(38,0)
    * (Spark) / HUGEINT (DuckDB) — exact 128-bit integers whose final
    * cast-to-double is correctly rounded in both engines, making
    * var = (n·Σx² − (Σx)²) / (n·(n−1)) bit-identical under any
    * aggregation order, unlike native var_samp whose partial-merge order
    * changes the last ulp. Same map-side-combinable shape as native
    * partial aggregation; the widening happens AFTER the exchange, on G
    * rows. */
  private def qAggStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val q = $"l_quantity".cast("long")
    // 19-digit operands ⇒ products cap at DECIMAL(38,0): exact, no
    // rescale, no ANSI overflow until n ~ 10¹⁹ rows per group
    val (nD, sxD, sx2D) = ($"n".cast("decimal(19,0)"),
      $"sx".cast("decimal(19,0)"), $"sx2".cast("decimal(19,0)"))
    val num = (nD * sx2D - sxD * sxD).cast("double")
    val den = (nD * (nD - lit(1))).cast("double")
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(q).as("sx"),
        sum(q * q).as("sx2"))
      .select(
        $"l_returnflag", $"n",
        ($"sx".cast("double") / $"n").as("mean_qty"),
        (num / den).as("var_qty"),
        sqrt(num / den).as("stddev_qty"))
      .orderBy($"l_returnflag")
  }

  /** A12 q_agg_argmax — argmax/argmin aggregates (`max_by`/`min_by`):
    * per customer, the order carrying the highest / lowest total price.
    * Bare max_by ties are engine-unspecified, so the comparison key is the
    * (price, orderkey) STRUCT — lexicographic, unique, deterministic; the
    * oracle replays the same pick as a window row_number. One partial-
    * aggregated shuffle on the group key, same scale shape as any A1. */
  private def qAggArgmax(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_custkey")
      .agg(
        expr("max_by(o_orderkey, struct(o_totalprice, o_orderkey))")
          .as("best_order"),
        max($"o_totalprice").as("best_price"),
        expr("min_by(o_orderkey, struct(o_totalprice, o_orderkey))")
          .as("worst_order"),
        min($"o_totalprice").as("worst_price"),
        count(lit(1)).as("n_orders"))
      .orderBy($"o_custkey")
  }

  /** Q1 q_subquery — correlated-subquery surface through the SQL entry
    * point (`spark.sql` over registered views): a correlated scalar
    * subquery in the SELECT list (de-correlated by Catalyst into a left
    * outer aggregate join) and a correlated EXISTS in WHERE (a left semi
    * join) — the ORM's `query.filter(rel.any())` idiom, set-based. */
  private def qSubquery(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("customer")
    t(s, dir, "orders").createOrReplaceTempView("orders")
    s.sql(
      """SELECT c_custkey, c_name,
        |       (SELECT count(*) FROM orders
        |        WHERE o_custkey = c_custkey) AS n_orders
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey
        |                AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin)
  }

  /** J14 q_join_bloom — Bloom-filter semi-join reduction: the BUILDING
    * segment's key set is aggregated into an 8 KB Bloom bitset (scalar
    * subquery, one pass over the dim) and probed on the fact side BEFORE
    * the join, so only rows that might match enter the exchange. At
    * 100 TB this is the lever for a dimension too big to broadcast as
    * rows: the bitset broadcasts at ~1e-2 of the row payload and cuts
    * the fact shuffle by the join's selectivity. Exactness: Bloom
    * filters have no false negatives and the real join removes the
    * false positives, so the result is bit-identical to the plain join —
    * the oracle simply omits the bloom. Spark's InjectRuntimeFilter
    * applies this only under its own heuristics; `graft_bloom_agg` /
    * `graft_bloom_contains` (functions/BloomFilterOps.scala) make it a
    * first-class user-directed operator. */
  private def qJoinBloom(s: SparkSession, dir: String): DataFrame = {
    t(s, dir, "customer").createOrReplaceTempView("bl_customer")
    t(s, dir, "orders").createOrReplaceTempView("bl_orders")
    s.sql(
      s"""WITH dim AS (SELECT c_custkey FROM bl_customer
         |             WHERE c_mktsegment = 'BUILDING')
         |SELECT o_orderpriority AS priority, count(*) AS n_orders,
         |       ${Det.SUMD("o_totalprice")} AS total
         |FROM bl_orders JOIN dim ON o_custkey = c_custkey
         |WHERE graft_bloom_contains(
         |        (SELECT graft_bloom_agg(c_custkey) FROM dim), o_custkey)
         |GROUP BY o_orderpriority
         |ORDER BY priority""".stripMargin)
  }

  /** F7 q_cond_funcs — conditional & bitwise scalar surface: multi-branch
    * CASE, nullif/coalesce null-plumbing, least/greatest, sign, and the
    * bitwise and/or/xor/shift family over integer keys. All codegen'd
    * built-ins evaluated inline in the scan projection — zero shuffles. */
  private def qCondFuncs(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .select(
        $"o_orderkey",
        when($"o_orderstatus" === "F", lit("done"))
          .when($"o_orderstatus" === "O", lit("open"))
          .otherwise(lit("partial")).as("status_word"),
        coalesce(nullif($"o_orderpriority", lit("3-MEDIUM")), lit("DEFAULT"))
          .as("prio_or_default"),
        least($"o_totalprice", lit(50000.0)).as("price_capped"),
        greatest($"o_totalprice" - lit(100000.0), lit(0.0)).as("price_excess"),
        signum($"o_totalprice" - lit(150000.0)).as("price_sign"),
        ($"o_orderkey".bitwiseAND(lit(255L))).as("key_and"),
        ($"o_orderkey".bitwiseOR(lit(4096L))).as("key_or"),
        ($"o_orderkey".bitwiseXOR($"o_custkey")).as("key_xor"),
        shiftleft($"o_orderkey", 2).as("key_shl"),
        shiftright($"o_orderkey", 3).as("key_shr"))
      .orderBy($"o_orderkey")
  }

  /** A8 q_percentile — exact interpolated percentiles (p25/median/p75/p90)
    * per group. Both engines use the classic (n−1)·p rank interpolation; the
    * quantity domain is integral doubles so the interpolation arithmetic
    * is identical. */
  private def qPercentile(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        expr("percentile(l_quantity, 0.5)").as("median_qty"),
        expr("percentile(l_quantity, 0.9)").as("p90_qty"),
        expr("percentile(l_quantity, 0.25)").as("p25_qty"),
        expr("percentile(l_quantity, 0.75)").as("p75_qty"))
      .orderBy($"l_returnflag")
  }

  /** A9 q_pivot — pivoted aggregation: revenue per priority × status.
    * Spark `pivot` with a FIXED value list (so the schema is static and
    * no extra values-discovery job runs); the oracle is the equivalent
    * SUM(CASE WHEN) conditional aggregation. */
  private def qPivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "orders")
      .groupBy($"o_orderpriority")
      .pivot($"o_orderstatus", Seq("F", "O", "P"))
      .agg(Det.sumd($"o_totalprice"))
      .withColumnsRenamed(Map("F" -> "total_f", "O" -> "total_o", "P" -> "total_p"))
      .orderBy($"o_orderpriority")
  }

  /** q_join_skew_salted — explicit hot-key salting as a DECLARED query
    * ([[Skew.saltedJoin]], §2 header "salting for skew"): the fact side's
    * join key widens to (user_id, salt) with a deterministic
    * xxhash64-pmod salt from the stable event_id; the dim side — a
    * per-user profile, the mid-size dim salting exists for (too big to
    * broadcast at 100 TB, cheap to replicate buckets×) — explodes to all
    * 8 salt values. A hot user's rows spread across 8 tasks instead of
    * one. Salting must be INVISIBLE in the result: the oracle is the
    * plain unsalted join. The testdata key histogram is uniform, so the
    * skew BENEFIT is spec'd separately (SkewStateSpec asserts the
    * spread); this query pins salted semantics + plan shape
    * (PlanShapeSpec: xxhash64 salt on the fact side, dim-side explode). */
  private def qJoinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = t(s, dir, "events")
      .select($"event_id", $"user_id", $"event_type", $"value")
    val dim = t(s, dir, "events")
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"), Det.sumd($"value").as("total_value"))
    Skew.saltedJoin(fact, dim, "user_id", "event_id", buckets = 8)
      .filter($"event_type" === "purchase")
      .select($"event_id", $"user_id", $"n_events", $"total_value", $"value")
      .orderBy($"event_id")
  }

  /** q_merge_upsert — CDC-style MERGE: apply a changes relation
    * (op ∈ {U,D,I}) to a base table in one pass — update-in-place,
    * delete, and insert resolved by a single full-outer join on the key,
    * change side winning (the reference's last-write-wins dict upsert,
    * SURVEY.md §2.13.1, made deterministic and set-based). The changes
    * here derive from the base by residue classes so the oracle replays
    * them exactly; in production they arrive as a CDC feed.
    *
    * Scale: ONE key-partitioned shuffle join — the merge pattern at
    * 100 TB; pair with the bucketed layout ([[Layouts]]) and the base
    * side never re-shuffles. No driver state, no per-row dict. */
  private def qMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val base = t(s, dir, "documents").select($"doc_id", $"text")
    val upd = base.filter($"doc_id" % 5 === 0 && $"doc_id" % 11 =!= 0)
      .select($"doc_id", concat(lit("rev2: "), $"text").as("new_text"),
        lit("U").as("op"))
    val del = base.filter($"doc_id" % 11 === 0)
      .select($"doc_id", lit(null).cast("string").as("new_text"),
        lit("D").as("op"))
    val ins = base.filter($"doc_id" % 7 === 0)
      .select(($"doc_id" + 10000000L).as("doc_id"),
        concat(lit("new: "), $"text").as("new_text"), lit("I").as("op"))
    val changes = upd.unionByName(del).unionByName(ins)
    base.join(changes, Seq("doc_id"), "full_outer")
      .filter($"op".isNull || $"op" =!= "D")
      .select(
        $"doc_id",
        when($"op".isNull, lit("kept"))
          .when($"op" === "U", lit("updated"))
          .otherwise(lit("inserted")).as("action"),
        length(coalesce($"new_text", $"text")).cast("long").as("n_chars_new"))
      .orderBy($"doc_id")
  }

  /** q_cdc_apply — change-data-capture log materialization: an ordered
    * I/U/D log (synthesized deterministically from orders: insert at
    * seq 1, update +1000 at seq 2 for every third key, delete at seq 3
    * for every ninth) collapses to final table state — the latest op per
    * key wins, keys whose last op is a delete vanish. The lakehouse
    * MERGE-from-log primitive next to [[qMergeUpsert]]'s single-batch
    * upsert.
    *
    * Scale shape: last-writer-wins is an ARGMAX (`max(struct(seq, …))`),
    * not a window — map-side combinable, so the exchange carries one row
    * per key however long the log is; no per-key sort. seq is unique per
    * key so the struct pick can't tie. */
  private def qCdcApply(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val o = t(s, dir, "orders")
    val log = o.select($"o_orderkey", lit(1L).as("seq"), lit("I").as("op"),
        $"o_totalprice".as("price"))
      .unionByName(o.filter($"o_orderkey" % 3 === 0)
        .select($"o_orderkey", lit(2L).as("seq"), lit("U").as("op"),
          ($"o_totalprice" + 1000.0).as("price")))
      .unionByName(o.filter($"o_orderkey" % 9 === 0)
        .select($"o_orderkey", lit(3L).as("seq"), lit("D").as("op"),
          lit(null).cast("double").as("price")))
    log.groupBy($"o_orderkey")
      .agg(max(struct($"seq", $"op", $"price")).as("last"),
        count(lit(1)).as("n_ops"))
      .filter($"last.op" =!= "D")
      .select($"o_orderkey", $"last.seq".as("last_seq"), $"n_ops",
        $"last.price".as("final_price"))
      .orderBy($"o_orderkey")
  }

  /** q_histogram — fixed-bound equi-width binning of l_extendedprice
    * (10k-wide buckets), the profiling aggregate every pipeline runs
    * before choosing filters/partitioning. The bucket id is pure integer
    * arithmetic — floor(x / width) — identical in both engines (no
    * engine width_bucket, whose edge semantics differ), and at 100 TB
    * it's one map-side-combined aggregate over ~a dozen groups: the
    * cheapest possible full-scan profile. */
  private def qHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .withColumn("bucket", floor($"l_extendedprice" / 10000.0))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_items"),
        graft.Det.round6(min($"l_extendedprice")).as("min_price"),
        graft.Det.round6(max($"l_extendedprice")).as("max_price"),
        graft.Det.sumd($"l_extendedprice").as("sum_price"))
      .select($"bucket", ($"bucket" * 10000.0).as("lo"),
        (($"bucket" + 1) * 10000.0).as("hi"),
        $"n_items", $"min_price", $"max_price", $"sum_price")
      .orderBy($"bucket")
  }

  /** q_agg_mode — deterministic MODE: the most frequent l_quantity per
    * return flag, ties broken to the SMALLEST value (engine-native
    * mode() leaves ties unspecified — unusable under a hash gate). Two
    * map-side-combinable aggregates: per-(flag,value) counts (bounded by
    * the value domain, not the row count), then an argmax via
    * max(struct) whose negated value field encodes the tie-break — no
    * window, no sort of the full data. */
  private def qAggMode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag", $"l_quantity")
      .agg(count(lit(1)).as("c"))
      .groupBy($"l_returnflag")
      .agg(max(struct($"c".as("c"), (-$"l_quantity").as("nq"))).as("m"))
      .select($"l_returnflag", (-$"m.nq").as("mode_quantity"),
        $"m.c".as("n_occurrences"))
      .orderBy($"l_returnflag")
  }

  /** q_corr — bivariate aggregates (Pearson correlation, sample
    * covariance, regression slope) from EXACT integer power sums, the
    * [[qAggStats]] discipline extended to cross terms: engine-native
    * corr()/regr_slope() stream doubles whose partial-merge order
    * changes the last ulp, so instead x (integral quantity) stays
    * BIGINT and y (price) is half-up quantized to 1e-4 per row — exact
    * in both engines — then Σx, Σy, Σx², Σy², Σxy accumulate as
    * DECIMAL(38,0)/HUGEINT (128-bit exact; the n·Σy² cross term — y² up
    * to ~10¹⁸ in 1e-4 units — caps the exact range near 3×10⁹ rows PER
    * GROUP; beyond that, quantize y coarser or mean-shift the sums) and
    * the classic closed forms finish in doubles with one correctly-
    * rounded division/sqrt each. Same map-side-combinable partial-agg
    * shape as native; the 128-bit widening happens after the exchange
    * on G rows. */
  private def qCorr(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val x = $"l_quantity".cast("long")
    val yq = floor($"l_extendedprice" * 10000.0 + 0.5)
    val dec = "decimal(38,0)"
    val (nD, sxD, syD, sx2D, sy2D, sxyD) = (
      $"n".cast(dec), $"sx".cast(dec), $"sy".cast(dec),
      $"sx2".cast(dec), $"sy2".cast(dec), $"sxy".cast(dec))
    // 128-bit exact cross terms; cast to double only at the very end
    val cov = (nD * sxyD - sxD * syD).cast("double")
    val vx = (nD * sx2D - sxD * sxD).cast("double")
    val vy = (nD * sy2D - syD * syD).cast("double")
    val den = (nD * (nD - lit(1))).cast("double")
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        sum(x).as("sx"),
        sum(yq.cast("decimal(28,0)")).as("sy"),
        sum(x * x).as("sx2"),
        sum((yq * yq).cast("decimal(28,0)")).as("sy2"),
        sum((x * yq).cast("decimal(28,0)")).as("sxy"))
      .select(
        $"l_returnflag", $"n",
        (cov / (sqrt(vx) * sqrt(vy))).as("corr_qty_price"),
        // y is in 1e-4 units: rescale covariance/slope back once
        (cov / den / 10000.0).as("covar_qty_price"),
        (cov / vx / 10000.0).as("regr_slope"),
        // intercept = mean_y − slope·mean_x; r² = cov²/(vx·vy) — same
        // exact-sum sub-expressions, same op order in both engines
        (syD.cast("double") / nD.cast("double") / 10000.0
          - (cov / vx / 10000.0)
            * (sxD.cast("double") / nD.cast("double"))).as("regr_intercept"),
        (cov * cov / (vx * vy)).as("regr_r2"))
      .orderBy($"l_returnflag")
  }

  /** q_unpivot — wide→long reshaping (the inverse of [[qPivot]]): melt
    * the four lineitem measures into (measure, value) rows with `stack`,
    * then the per-(flag, measure) profile every melted form feeds.
    * `stack` is a GENERATOR — rows fan out map-side with no shuffle, and
    * the only exchange is the map-side-combined aggregate over
    * G×4 groups. The oracle is the portable UNION ALL expansion (same
    * rows by construction), so the reshape itself is what's checked. */
  private def qUnpivot(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .select($"l_returnflag", expr(
        """stack(4, 'quantity', l_quantity, 'price', l_extendedprice,
          |         'discount', l_discount, 'tax', l_tax)
          |  AS (measure, value)""".stripMargin))
      .groupBy($"l_returnflag", $"measure")
      .agg(count(lit(1)).as("n"),
        Det.sumd($"value").as("sum_value"),
        Det.round6(min($"value")).as("min_value"),
        Det.round6(max($"value")).as("max_value"))
      .orderBy($"l_returnflag", $"measure")
  }

  /** q_agg_bits — bitwise/boolean aggregate surface: bit_and/bit_or/
    * bit_xor over the partkey domain and bool_and/bool_or over a
    * predicate, per return flag — the flag-mask / any-all rollups a
    * telemetry pipeline runs. Pure integer/boolean lattice operations:
    * associative, commutative, engine-identical by construction (no
    * quantization needed), one map-side-combined aggregate. */
  private def qAggBits(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    t(s, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(
        bit_and($"l_partkey").as("mask_and"),
        bit_or($"l_partkey").as("mask_or"),
        bit_xor($"l_partkey").as("mask_xor"),
        bool_and($"l_quantity" > 5.0).as("all_over5"),
        bool_or($"l_quantity" > 45.0).as("any_over45"),
        count(lit(1)).as("n"))
      .orderBy($"l_returnflag")
  }

  val queries: Map[String, Q] = Map(
    "q_agg_bits" -> (qAggBits _),
    "q_unpivot" -> (qUnpivot _),
    "q_corr" -> (qCorr _),
    "q_histogram" -> (qHistogram _),
    "q_agg_mode" -> (qAggMode _),
    "q_join_skew_salted" -> (qJoinSkewSalted _),
    "q_merge_upsert" -> (qMergeUpsert _),
    "q_cdc_apply" -> (qCdcApply _),
    "q_join_full" -> (qJoinFull _),
    "q_agg_stats" -> (qAggStats _),
    "q_subquery" -> (qSubquery _),
    "q_join_bloom" -> (qJoinBloom _),
    "q_agg_argmax" -> (qAggArgmax _),
    "q_cond_funcs" -> (qCondFuncs _),
    "q_percentile" -> (qPercentile _),
    "q_pivot" -> (qPivot _),
    "q_regex_funcs" -> (qRegexFuncs _),
    "q_scan_project" -> (qScanProject _),
    "q_dsv2_scan" -> (qDsv2Scan _),
    "q_dsv2_agg_pushdown" -> (qDsv2AggPushdown _),
    "q_dsv2_runtime_filter" -> (qDsv2RuntimeFilter _),
    "q_filter_or_eq" -> (qFilterOrEq _),
    "q_project" -> (qProject _),
    "q_filter_pred" -> (qFilterPred _),
    "q_filter_null_branch" -> (qFilterNullBranch _),
    "q_join_inner_fk" -> (qJoinInnerFk _),
    "q_join_chain" -> (qJoinChain _),
    "q_join_left" -> (qJoinLeft _),
    "q_join_bridge_m2n" -> (qJoinBridgeM2n _),
    "q_join_semi" -> (qJoinSemi _),
    "q_join_anti" -> (qJoinAnti _),
    "q_join_theta_range" -> (qJoinThetaRange _),
    "q_join_cross" -> (qJoinCross _),
    "q_join_selectinload" -> (qJoinSelectinload _),
    "q_agg_hash" -> (qAggHash _),
    "q_agg_distinct" -> (qAggDistinct _),
    "q_agg_kmv" -> (qAggKmv _),
    "q_sketch_union" -> (qSketchUnion _),
    "q_sketch_intersect" -> (qSketchIntersect _),
    "q_agg_approx_distinct" -> (qAggApproxDistinct _),
    "q_agg_cms" -> (qAggCms _),
    "q_agg_approx_percentile" -> (qAggApproxPercentile _),
    "q_agg_collect" -> (qAggCollect _),
    "q_rollup" -> (qRollup _),
    "q_cube" -> (qCube _),
    "q_grouping_sets" -> (qGroupingSets _),
    "q_sort_limit" -> (qSortLimit _),
    "q_shipping_priority" -> (qShippingPriority _),
    "q_supplier_volume" -> (qSupplierVolume _),
    "q_returned_revenue" -> (qReturnedRevenue _),
    "q_join_nullsafe" -> (qJoinNullsafe _),
    "q_union_distinct" -> (qUnionDistinct _),
    "q_union" -> (qUnion _),
    "q_intersect" -> (qIntersect _),
    "q_except" -> (qExcept _),
    "q_string_funcs" -> (qStringFuncs _),
    "q_date_funcs" -> (qDateFuncs _),
    "q_math_funcs" -> (qMathFuncs _))

  import Det.{AVGD, SUMD}

  val oracles: Map[String, String] = Map(
    "q_cdc_apply" ->
      """WITH log AS (
           SELECT o_orderkey, CAST(1 AS BIGINT) seq, 'I' op,
                  o_totalprice price
           FROM orders
           UNION ALL
           SELECT o_orderkey, CAST(2 AS BIGINT), 'U', o_totalprice + 1000.0
           FROM orders WHERE o_orderkey % 3 = 0
           UNION ALL
           SELECT o_orderkey, CAST(3 AS BIGINT), 'D', CAST(NULL AS DOUBLE)
           FROM orders WHERE o_orderkey % 9 = 0),
         r AS (
           SELECT *,
                  row_number() OVER (PARTITION BY o_orderkey
                                     ORDER BY seq DESC) rn,
                  count(*) OVER (PARTITION BY o_orderkey) n_ops
           FROM log)
         SELECT o_orderkey, seq AS last_seq, n_ops, price AS final_price
         FROM r WHERE rn = 1 AND op <> 'D'
         ORDER BY o_orderkey""",
    // the bloom prefilter passes every true key and the join removes the
    // false positives, so the oracle is the PLAIN join — exactness of the
    // reduction, not just shape, is what the hash gate certifies
    "q_join_bloom" ->
      s"""WITH dim AS (SELECT c_custkey FROM customer
                       WHERE c_mktsegment = 'BUILDING')
          SELECT o_orderpriority AS priority, count(*) AS n_orders,
                 ${SUMD("o_totalprice")} AS total
          FROM orders JOIN dim ON o_custkey = c_custkey
          GROUP BY o_orderpriority
          ORDER BY priority""",
    "q_agg_bits" ->
      """SELECT l_returnflag,
                bit_and(l_partkey) AS mask_and,
                bit_or(l_partkey) AS mask_or,
                bit_xor(l_partkey) AS mask_xor,
                bool_and(l_quantity > 5.0) AS all_over5,
                bool_or(l_quantity > 45.0) AS any_over45,
                count(*) AS n
         FROM lineitem GROUP BY l_returnflag
         ORDER BY l_returnflag""",
    "q_unpivot" ->
      s"""WITH m AS (
           SELECT l_returnflag, 'quantity' AS measure, l_quantity AS value
           FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'price', l_extendedprice FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'discount', l_discount FROM lineitem
           UNION ALL
           SELECT l_returnflag, 'tax', l_tax FROM lineitem)
         SELECT l_returnflag, measure, count(*) AS n,
                ${SUMD("value")} AS sum_value,
                ${Det.ROUND6("min(value)")} AS min_value,
                ${Det.ROUND6("max(value)")} AS max_value
         FROM m GROUP BY l_returnflag, measure
         ORDER BY l_returnflag, measure""",
    "q_corr" ->
      """WITH p AS (
           SELECT l_returnflag,
                  CAST(l_quantity AS BIGINT) x,
                  CAST(floor(l_extendedprice * 10000.0 + 0.5) AS BIGINT) yq
           FROM lineitem),
         s AS (
           SELECT l_returnflag,
                  CAST(count(*) AS HUGEINT) n,
                  CAST(sum(x) AS HUGEINT) sx,
                  CAST(sum(CAST(yq AS HUGEINT)) AS HUGEINT) sy,
                  CAST(sum(x * x) AS HUGEINT) sx2,
                  CAST(sum(CAST(yq AS HUGEINT) * yq) AS HUGEINT) sy2,
                  CAST(sum(CAST(x AS HUGEINT) * yq) AS HUGEINT) sxy
           FROM p GROUP BY l_returnflag)
         SELECT l_returnflag, CAST(n AS BIGINT) AS n,
                CAST(n * sxy - sx * sy AS DOUBLE)
                  / (sqrt(CAST(n * sx2 - sx * sx AS DOUBLE))
                     * sqrt(CAST(n * sy2 - sy * sy AS DOUBLE)))
                  AS corr_qty_price,
                CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * (n - 1) AS DOUBLE) / 10000.0
                  AS covar_qty_price,
                CAST(n * sxy - sx * sy AS DOUBLE)
                  / CAST(n * sx2 - sx * sx AS DOUBLE) / 10000.0
                  AS regr_slope,
                CAST(sy AS DOUBLE) / CAST(n AS DOUBLE) / 10000.0
                  - (CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sx2 - sx * sx AS DOUBLE) / 10000.0)
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                  AS regr_intercept,
                CAST(n * sxy - sx * sy AS DOUBLE)
                  * CAST(n * sxy - sx * sy AS DOUBLE)
                  / (CAST(n * sx2 - sx * sx AS DOUBLE)
                     * CAST(n * sy2 - sy * sy AS DOUBLE))
                  AS regr_r2
         FROM s ORDER BY l_returnflag""",
    "q_histogram" ->
      s"""WITH b AS (
           SELECT CAST(floor(l_extendedprice / 10000.0) AS BIGINT) bucket,
                  l_extendedprice p
           FROM lineitem)
         SELECT bucket, bucket * 10000.0 AS lo, (bucket + 1) * 10000.0 AS hi,
                count(*) AS n_items,
                ${Det.ROUND6("min(p)")} AS min_price,
                ${Det.ROUND6("max(p)")} AS max_price,
                ${SUMD("p")} AS sum_price
         FROM b GROUP BY bucket ORDER BY bucket""",
    "q_agg_mode" ->
      """WITH c AS (
           SELECT l_returnflag, l_quantity, count(*) AS c
           FROM lineitem GROUP BY 1, 2),
         r AS (
           SELECT l_returnflag, l_quantity, c,
                  row_number() OVER (PARTITION BY l_returnflag
                                     ORDER BY c DESC, l_quantity) rn
           FROM c)
         SELECT l_returnflag, l_quantity AS mode_quantity,
                CAST(c AS BIGINT) AS n_occurrences
         FROM r WHERE rn = 1 ORDER BY l_returnflag""",
    "q_join_skew_salted" ->
      s"""WITH dim AS (
           SELECT user_id, count(*) AS n_events,
                  ${Det.SUMD("value")} AS total_value
           FROM events GROUP BY user_id)
         SELECT e.event_id, e.user_id, d.n_events, d.total_value, e.value
         FROM events e JOIN dim d USING (user_id)
         WHERE e.event_type = 'purchase'
         ORDER BY e.event_id""",
    "q_merge_upsert" ->
      """WITH base AS (SELECT doc_id, text FROM documents),
         upd AS (SELECT doc_id, 'rev2: ' || text AS new_text, 'U' AS op
                 FROM base WHERE doc_id % 5 = 0 AND doc_id % 11 <> 0),
         del AS (SELECT doc_id, CAST(NULL AS VARCHAR) AS new_text, 'D' AS op
                 FROM base WHERE doc_id % 11 = 0),
         ins AS (SELECT doc_id + 10000000 AS doc_id,
                        'new: ' || text AS new_text, 'I' AS op
                 FROM base WHERE doc_id % 7 = 0),
         changes AS (SELECT * FROM upd UNION ALL SELECT * FROM del
                     UNION ALL SELECT * FROM ins),
         m AS (SELECT coalesce(b.doc_id, c.doc_id) AS doc_id,
                      b.text, c.new_text, c.op
               FROM base b FULL OUTER JOIN changes c ON b.doc_id = c.doc_id)
         SELECT doc_id,
                CASE WHEN op IS NULL THEN 'kept'
                     WHEN op = 'U' THEN 'updated'
                     ELSE 'inserted' END AS action,
                CAST(length(coalesce(new_text, text)) AS BIGINT)
                  AS n_chars_new
         FROM m WHERE op IS NULL OR op <> 'D'
         ORDER BY doc_id""",
    "q_join_full" ->
      """SELECT coalesce(c_custkey, -1) AS cust_key,
                coalesce(o_orderkey, -1) AS order_key,
                coalesce(c_name, 'NO_CUSTOMER') AS cust_name,
                coalesce(o_totalprice, 0.0) AS total_price
         FROM (SELECT c_custkey, c_name FROM customer
               WHERE c_mktsegment = 'MACHINERY') c
         FULL JOIN (SELECT o_orderkey, o_custkey, o_totalprice FROM orders
                    WHERE o_totalprice > 250000.0) o
           ON c_custkey = o_custkey
         ORDER BY cust_key, order_key""",
    "q_agg_stats" ->
      """WITH s AS (
           SELECT l_returnflag, count(*) n,
                  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) sx,
                  CAST(sum(CAST(l_quantity AS BIGINT)
                           * CAST(l_quantity AS BIGINT)) AS BIGINT) sx2
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, n,
                CAST(sx AS DOUBLE) / n AS mean_qty,
                CAST(CAST(n AS HUGEINT) * sx2
                     - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                  / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE) AS var_qty,
                sqrt(CAST(CAST(n AS HUGEINT) * sx2
                          - CAST(sx AS HUGEINT) * sx AS DOUBLE)
                     / CAST(CAST(n AS HUGEINT) * (n - 1) AS DOUBLE))
                  AS stddev_qty
         FROM s ORDER BY l_returnflag""",
    "q_agg_argmax" ->
      """WITH r AS (
           SELECT o_custkey, o_orderkey, o_totalprice,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice DESC, o_orderkey DESC)
                    AS rmax,
                  row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_totalprice ASC, o_orderkey ASC)
                    AS rmin
           FROM orders),
         agg AS (
           SELECT o_custkey,
                  max(o_totalprice) AS best_price,
                  min(o_totalprice) AS worst_price,
                  count(*) AS n_orders
           FROM orders GROUP BY o_custkey)
         SELECT agg.o_custkey,
                mx.o_orderkey AS best_order, agg.best_price,
                mn.o_orderkey AS worst_order, agg.worst_price,
                agg.n_orders
         FROM agg
         JOIN r mx ON mx.o_custkey = agg.o_custkey AND mx.rmax = 1
         JOIN r mn ON mn.o_custkey = agg.o_custkey AND mn.rmin = 1
         ORDER BY agg.o_custkey""",
    "q_subquery" ->
      """SELECT c_custkey, c_name,
                (SELECT count(*) FROM orders
                 WHERE o_custkey = c_custkey) AS n_orders
         FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey
                         AND o_totalprice > 100000.0)
         ORDER BY c_custkey""",
    "q_cond_funcs" ->
      """SELECT o_orderkey,
                CASE WHEN o_orderstatus = 'F' THEN 'done'
                     WHEN o_orderstatus = 'O' THEN 'open'
                     ELSE 'partial' END AS status_word,
                coalesce(nullif(o_orderpriority, '3-MEDIUM'), 'DEFAULT')
                  AS prio_or_default,
                least(o_totalprice, 50000.0) AS price_capped,
                greatest(o_totalprice - 100000.0, 0.0) AS price_excess,
                CAST(sign(o_totalprice - 150000.0) AS DOUBLE) AS price_sign,
                o_orderkey & 255 AS key_and,
                o_orderkey | 4096 AS key_or,
                xor(o_orderkey, o_custkey) AS key_xor,
                o_orderkey << 2 AS key_shl,
                o_orderkey >> 3 AS key_shr
         FROM orders ORDER BY o_orderkey""",
    "q_percentile" ->
      """SELECT l_returnflag,
                quantile_cont(l_quantity, 0.5) AS median_qty,
                quantile_cont(l_quantity, 0.9) AS p90_qty,
                quantile_cont(l_quantity, 0.25) AS p25_qty,
                quantile_cont(l_quantity, 0.75) AS p75_qty
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_pivot" ->
      s"""SELECT o_orderpriority,
                ${SUMD("CASE WHEN o_orderstatus = 'F' THEN o_totalprice END")} AS total_f,
                ${SUMD("CASE WHEN o_orderstatus = 'O' THEN o_totalprice END")} AS total_o,
                ${SUMD("CASE WHEN o_orderstatus = 'P' THEN o_totalprice END")} AS total_p
         FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",
    "q_regex_funcs" ->
      """SELECT p_partkey,
                regexp_extract(p_name, '([a-z]+) ([a-z]+)', 2) AS second_word,
                regexp_replace(p_name, '[aeiou]', '_', 'g') AS devoweled,
                CAST(len(regexp_extract_all(p_name, '[aeiou]')) AS BIGINT) AS n_vowels,
                lpad(p_brand, 10, '#') AS brand_pad,
                repeat(p_type, 2) AS type2,
                reverse(p_name) AS name_rev
         FROM part ORDER BY p_partkey""",
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem
         ORDER BY l_orderkey, l_linenumber, l_quantity""",
    "q_dsv2_scan" ->
      """SELECT g AS doc_id, 50 + (g * 37) % 950 AS n_chars
         FROM generate_series(100, 3999) t(g)
         WHERE 50 + (g * 37) % 950 >= 500
         ORDER BY doc_id""",
    "q_dsv2_agg_pushdown" ->
      """SELECT CASE g % 5 WHEN 0 THEN 'de' WHEN 1 THEN 'en'
                WHEN 2 THEN 'es' WHEN 3 THEN 'fr' ELSE 'zh' END AS lang,
                count(g) AS n_docs, min(g) AS min_id, max(g) AS max_id,
                CAST(sum(g) AS BIGINT) AS sum_id,
                CAST(sum(50 + (g * 37) % 950) AS BIGINT) AS sum_chars
         FROM generate_series(1000, 1999999) t(g)
         GROUP BY 1 ORDER BY lang""",
    "q_dsv2_runtime_filter" ->
      """SELECT g AS doc_id,
                CASE g % 5 WHEN 0 THEN 'de' WHEN 1 THEN 'en'
                WHEN 2 THEN 'es' WHEN 3 THEN 'fr' ELSE 'zh' END AS lang,
                50 + (g * 37) % 950 AS n_chars, n_name
         FROM generate_series(0, 99999) t(g)
         JOIN nation ON g = n_nationkey
         WHERE n_regionkey = 2
         ORDER BY doc_id""",
    "q_filter_or_eq" ->
      """SELECT c_custkey, c_name, n_name FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         WHERE n_name = 'NATION_3' OR n_name = 'NATION_7'
         ORDER BY c_custkey""",
    "q_project" ->
      """SELECT p_partkey, p_name AS part_name, p_retailprice * 1.1 AS price_up
         FROM part ORDER BY p_partkey""",
    "q_filter_pred" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount FROM lineitem
         WHERE l_quantity BETWEEN 10 AND 20
           AND (l_discount > 0.05 OR l_tax < 0.02)
           AND l_returnflag IN ('A', 'R')
           AND l_linestatus LIKE 'F%'
         ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""",
    "q_filter_null_branch" ->
      """WITH n AS (
           SELECT l_orderkey, l_linenumber,
                  nullif(l_discount, 0.0) AS disc_n, nullif(l_tax, 0.0) AS tax_n
           FROM lineitem)
         SELECT l_orderkey, l_linenumber,
                CASE WHEN disc_n IS NOT NULL THEN 'D:' || CAST(disc_n AS VARCHAR)
                     WHEN tax_n IS NOT NULL THEN 'T:' || CAST(tax_n AS VARCHAR)
                     ELSE 'none' END AS branch,
                coalesce(disc_n, tax_n, -1.0) AS first_rate
         FROM n ORDER BY l_orderkey, l_linenumber, branch, first_rate""",
    "q_join_inner_fk" ->
      """SELECT c_custkey, c_name, n_name FROM customer
         JOIN nation ON c_nationkey = n_nationkey ORDER BY c_custkey""",
    "q_join_chain" ->
      s"""SELECT r_name, ${SUMD("l_extendedprice * (1.0 - l_discount)")} AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name ORDER BY r_name""",
    "q_join_left" ->
      s"""SELECT c_custkey, count(o_orderkey) AS n_urgent,
                ${SUMD("coalesce(o_totalprice, 0.0)")} AS urgent_total
         FROM customer
         LEFT JOIN (SELECT * FROM orders WHERE o_orderpriority = '1-URGENT') o
           ON c_custkey = o_custkey
         GROUP BY c_custkey ORDER BY c_custkey""",
    "q_join_bridge_m2n" ->
      s"""SELECT o_orderkey, count(*) AS n_parts,
                ${SUMD("p_retailprice")} AS retail_total
         FROM orders
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN part ON l_partkey = p_partkey
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
                       WHERE o_custkey = c_custkey AND o_orderstatus = 'F')
         ORDER BY c_custkey""",
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",
    "q_join_theta_range" ->
      s"""SELECT band, count(*) AS n_parts, ${SUMD("p_retailprice")} AS retail_sum
         FROM part
         JOIN (VALUES ('low', 0.0, 500.0), ('mid', 500.0, 1000.0),
                      ('high', 1000.0, 1500.0), ('lux', 1500.0, 1e9))
              AS bands(band, lo, hi)
           ON p_retailprice >= lo AND p_retailprice < hi
         GROUP BY band ORDER BY band""",
    "q_join_cross" ->
      """SELECT r_regionkey, s_suppkey, r_name, s_name
         FROM region CROSS JOIN supplier
         ORDER BY r_regionkey, s_suppkey""",
    "q_join_selectinload" ->
      """SELECT o_orderkey,
                string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
                  AS line_numbers,
                count(*) AS n_lines
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderkey ORDER BY o_orderkey""",
    "q_agg_hash" ->
      s"""SELECT l_returnflag, l_linestatus,
                ${SUMD("l_quantity")} AS sum_qty,
                ${SUMD("l_extendedprice")} AS sum_base_price,
                ${SUMD("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
                ${AVGD("l_quantity")} AS avg_qty,
                ${AVGD("l_extendedprice")} AS avg_price,
                count(*) AS count_order
         FROM lineitem
         GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_agg_distinct" ->
      """SELECT l_returnflag,
                count(DISTINCT l_partkey) AS n_parts,
                count(DISTINCT l_suppkey) AS n_supps,
                count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",
    "q_sketch_intersect" ->
      """WITH base AS (
           SELECT DISTINCT o_orderpriority seg, o_custkey FROM orders),
         hh AS (
           SELECT DISTINCT seg,
                  CAST(list_reduce(
                    list_prepend('0',
                      string_split(substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15), '')),
                    (acc, c) -> CAST(CAST(acc AS BIGINT) * 16 +
                      instr('0123456789abcdef', c) - 1 AS VARCHAR)) AS BIGINT)
                  % 1000000007 h
           FROM base),
         sk AS (
           SELECT seg, h, rn FROM
             (SELECT seg, h,
                     row_number() OVER (PARTITION BY seg ORDER BY h) rn
              FROM hh)
           WHERE rn <= 64),
         est AS (
           SELECT seg, count(*) d,
                  max(CASE WHEN rn = 64 THEN h END) hk
           FROM sk GROUP BY seg),
         pairs AS (
           SELECT a.seg sa, a.d da, a.hk hka, b.seg sb, b.d db, b.hk hkb
           FROM est a JOIN est b ON a.seg < b.seg),
         mh AS (
           SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.seg = p.sa
           UNION
           SELECT p.sa, p.sb, s.h FROM pairs p JOIN sk s ON s.seg = p.sb),
         mr AS (
           SELECT sa, sb, h,
                  row_number() OVER (PARTITION BY sa, sb ORDER BY h) rn
           FROM mh),
         eu AS (
           SELECT sa, sb, count(*) du,
                  max(CASE WHEN rn = 64 THEN h END) hku
           FROM mr WHERE rn <= 64 GROUP BY sa, sb),
         ex AS (
           SELECT a.seg sa, b.seg sb,
                  count(DISTINCT a.o_custkey) exact_intersect
           FROM base a JOIN base b
             ON a.o_custkey = b.o_custkey AND a.seg < b.seg
           GROUP BY a.seg, b.seg)
         SELECT p.sa AS seg_a, p.sb AS seg_b,
                CASE WHEN p.da < 64 THEN CAST(p.da AS DOUBLE)
                     ELSE 63.0 / (CAST(p.hka AS DOUBLE) / 1000000007.0) END
                  AS kmv_a,
                CASE WHEN p.db < 64 THEN CAST(p.db AS DOUBLE)
                     ELSE 63.0 / (CAST(p.hkb AS DOUBLE) / 1000000007.0) END
                  AS kmv_b,
                CASE WHEN eu.du < 64 THEN CAST(eu.du AS DOUBLE)
                     ELSE 63.0 / (CAST(eu.hku AS DOUBLE) / 1000000007.0) END
                  AS kmv_union,
                greatest(0.0,
                  (CASE WHEN p.da < 64 THEN CAST(p.da AS DOUBLE)
                        ELSE 63.0 / (CAST(p.hka AS DOUBLE) / 1000000007.0) END)
                  + (CASE WHEN p.db < 64 THEN CAST(p.db AS DOUBLE)
                          ELSE 63.0 / (CAST(p.hkb AS DOUBLE) / 1000000007.0) END)
                  - (CASE WHEN eu.du < 64 THEN CAST(eu.du AS DOUBLE)
                          ELSE 63.0 / (CAST(eu.hku AS DOUBLE) / 1000000007.0) END))
                  AS kmv_intersect,
                coalesce(ex.exact_intersect, 0) AS exact_intersect
         FROM pairs p
         JOIN eu ON eu.sa = p.sa AND eu.sb = p.sb
         LEFT JOIN ex ON ex.sa = p.sa AND ex.sb = p.sb
         ORDER BY seg_a, seg_b""",
    "q_sketch_union" ->
      """WITH j AS (
           SELECT r_name, n_name, o_custkey
           FROM orders
           JOIN customer ON o_custkey = c_custkey
           JOIN nation ON c_nationkey = n_nationkey
           JOIN region ON n_regionkey = r_regionkey),
         hh AS (
           SELECT DISTINCT r_name, n_name,
                  CAST(list_reduce(
                    list_prepend('0',
                      string_split(substr(md5(CAST(o_custkey AS VARCHAR)), 1, 15), '')),
                    (acc, c) -> CAST(CAST(acc AS BIGINT) * 16 +
                      instr('0123456789abcdef', c) - 1 AS VARCHAR)) AS BIGINT)
                  % 1000000007 h
           FROM j),
         l1 AS (
           SELECT r_name, n_name, h,
                  row_number() OVER (PARTITION BY r_name, n_name ORDER BY h) rn
           FROM hh),
         sk AS (SELECT DISTINCT r_name, h FROM l1 WHERE rn <= 64),
         r AS (
           SELECT r_name, h,
                  row_number() OVER (PARTITION BY r_name ORDER BY h) rn,
                  count(*) OVER (PARTITION BY r_name) d
           FROM sk),
         e AS (
           SELECT r_name, max(d) d,
                  max(CASE WHEN rn = 64 THEN h END) h64
           FROM r GROUP BY r_name),
         x AS (
           SELECT r_name, count(DISTINCT o_custkey) exact_distinct
           FROM j GROUP BY r_name)
         SELECT e.r_name,
                CASE WHEN e.d < 64 THEN CAST(e.d AS DOUBLE)
                     ELSE 63.0 / (CAST(e.h64 AS DOUBLE) / 1000000007.0) END
                  AS kmv_merged,
                x.exact_distinct
         FROM e JOIN x ON x.r_name = e.r_name
         ORDER BY e.r_name""",
    "q_agg_kmv" ->
      """WITH hh AS (
           SELECT DISTINCT l_returnflag g,
                  CAST(list_reduce(
                    list_prepend('0',
                      string_split(substr(md5(CAST(l_partkey AS VARCHAR)), 1, 15), '')),
                    (acc, c) -> CAST(CAST(acc AS BIGINT) * 16 +
                      instr('0123456789abcdef', c) - 1 AS VARCHAR)) AS BIGINT)
                  % 1000000007 h
           FROM lineitem),
         r AS (
           SELECT g, h,
                  row_number() OVER (PARTITION BY g ORDER BY h) rn,
                  count(*) OVER (PARTITION BY g) d
           FROM hh),
         e AS (
           SELECT g,
                  max(d) AS d,
                  max(CASE WHEN rn = 64 THEN h END) AS h64
           FROM r GROUP BY g)
         SELECT e.g AS l_returnflag,
                CASE WHEN e.d < 64 THEN CAST(e.d AS DOUBLE)
                     ELSE 63.0 / (CAST(e.h64 AS DOUBLE) / 1000000007.0) END
                  AS kmv_distinct,
                x.exact_distinct
         FROM e JOIN (
           SELECT l_returnflag g, count(DISTINCT l_partkey) exact_distinct
           FROM lineitem GROUP BY l_returnflag) x ON x.g = e.g
         ORDER BY l_returnflag""",
    "q_agg_collect" ->
      """SELECT l_orderkey,
                string_agg(CAST(l_linenumber AS VARCHAR), ',' ORDER BY l_linenumber)
                  AS lines,
                string_agg(DISTINCT l_returnflag, ',' ORDER BY l_returnflag) AS flags
         FROM lineitem GROUP BY l_orderkey ORDER BY l_orderkey""",
    "q_rollup" ->
      s"""SELECT coalesce(r_name, 'ALL') AS region_name,
                coalesce(n_name, 'ALL') AS nation_name,
                count(*) AS n_cust, ${SUMD("c_acctbal")} AS acct_sum
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY ROLLUP(r_name, n_name)
         ORDER BY region_name, nation_name""",
    "q_cube" ->
      s"""SELECT coalesce(c_mktsegment, 'ALL') AS segment,
                coalesce(o_orderstatus, 'ALL') AS status,
                count(*) AS n_orders, ${SUMD("o_totalprice")} AS total
         FROM orders JOIN customer ON o_custkey = c_custkey
         GROUP BY CUBE(c_mktsegment, o_orderstatus)
         ORDER BY segment, status""",
    "q_grouping_sets" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
                coalesce(o_orderstatus, 'ALL') AS status, count(*) AS n
         FROM orders
         GROUP BY GROUPING SETS ((o_orderpriority), (o_orderstatus))
         ORDER BY priority, status""",
    "q_sort_limit" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
         ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""",
    "q_shipping_priority" ->
      s"""SELECT l_orderkey, revenue, o_orderdate, o_orderpriority FROM (
           SELECT l_orderkey, o_orderdate, o_orderpriority,
                  ${SUMD("l_extendedprice * (1.0 - l_discount)")} AS revenue
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING'
             AND o_orderdate < TIMESTAMP '1998-06-01'
             AND l_shipdate > TIMESTAMP '1998-06-01'
           GROUP BY l_orderkey, o_orderdate, o_orderpriority)
         ORDER BY revenue DESC, l_orderkey LIMIT 10""",
    "q_supplier_volume" ->
      s"""SELECT n_name,
                ${SUMD("l_extendedprice * (1.0 - l_discount)")} AS revenue,
                count(*) AS n_items
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey
                      AND c_nationkey = s_nationkey
         JOIN nation ON s_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1996-01-01'
           AND o_orderdate <  TIMESTAMP '1997-01-01'
         GROUP BY n_name
         ORDER BY revenue DESC, n_name""",
    "q_returned_revenue" ->
      s"""SELECT c_custkey, c_name, revenue, n_returned, c_acctbal, n_name
         FROM (
           SELECT o_custkey AS c_custkey,
                  ${SUMD("l_extendedprice * (1.0 - l_discount)")} AS revenue,
                  count(*) AS n_returned
           FROM lineitem
           JOIN orders ON l_orderkey = o_orderkey
           WHERE l_returnflag = 'R'
             AND o_orderdate >= TIMESTAMP '1996-07-01'
             AND o_orderdate <  TIMESTAMP '1996-10-01'
           GROUP BY o_custkey)
         JOIN customer USING (c_custkey)
         JOIN nation ON c_nationkey = n_nationkey
         ORDER BY revenue DESC, c_custkey LIMIT 20""",
    "q_join_nullsafe" ->
      """SELECT c_custkey, s_suppkey, a.grp FROM
           (SELECT c_custkey, nullif(c_nationkey % 5, 0) AS grp FROM customer) a
         JOIN
           (SELECT s_suppkey, nullif(s_nationkey % 5, 0) AS grp FROM supplier) b
           ON a.grp IS NOT DISTINCT FROM b.grp
         ORDER BY c_custkey, s_suppkey""",
    "q_union_distinct" ->
      """SELECT user_id FROM events WHERE event_type IN ('signup', 'purchase')
         UNION
         SELECT user_id FROM events WHERE value > 15.0
         ORDER BY user_id""",
    "q_union" ->
      """SELECT event_id, user_id, event_type FROM events WHERE event_type = 'signup'
         UNION ALL
         SELECT event_id, user_id, event_type FROM events WHERE event_type = 'purchase'
         ORDER BY event_id""",
    "q_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
         INTERSECT
         SELECT s_nationkey AS nationkey FROM supplier
         ORDER BY nationkey""",
    "q_except" ->
      """SELECT n_nationkey AS nationkey FROM nation
         EXCEPT
         SELECT s_nationkey AS nationkey FROM supplier
         ORDER BY nationkey""",
    "q_string_funcs" ->
      """SELECT p_partkey,
                upper(p_name) AS name_uc,
                lower(p_brand) AS brand_lc,
                trim('  ' || p_type || '  ') AS type_trim,
                concat_ws('|', p_brand, p_type) AS brand_type,
                substring(p_name, 1, 4) AS name4,
                CAST(length(p_name) AS BIGINT) AS name_len
         FROM part ORDER BY p_partkey""",
    "q_date_funcs" ->
      """SELECT o_orderkey,
                CAST(year(o_orderdate) AS BIGINT) AS yr,
                CAST(month(o_orderdate) AS BIGINT) AS mo,
                CAST(day(o_orderdate) AS BIGINT) AS dom,
                CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
                CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT)
                  AS days_since
         FROM orders ORDER BY o_orderkey""",
    "q_math_funcs" ->
      """SELECT l_orderkey, l_linenumber,
                l_extendedprice * (1.0 - l_discount) AS revenue,
                abs(l_discount - 0.05) AS disc_dev,
                CAST(ceil(l_quantity / 7.0) AS BIGINT) AS qty_ceil7,
                CAST(floor(l_extendedprice / 100.0) AS BIGINT) AS price_c,
                round(ln(l_extendedprice + 1.0), 6) AS log_price,
                round(pow(l_quantity, 2.0), 4) AS qty_sq
         FROM lineitem
         ORDER BY l_orderkey, l_linenumber, revenue, disc_dev, qty_ceil7, price_c""")
}
