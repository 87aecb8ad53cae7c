package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** The bench protocol line is a graded artifact parsed out of a bounded
  * stdout tail capture — pin that it stays (a) valid JSON and (b) small
  * enough to survive the driver's 2000B tail window (which also holds
  * sbt's ~75B success epilogue) with every declared query. */
class BenchJsonSpec extends AnyFunSuite {
  private val mapper = new ObjectMapper()

  test("bench line is valid JSON with the declared protocol keys") {
    val results = SparkEntry.queries.keys.map(_ -> 0.123456789).toMap
    val line = Bench.renderJson(results, "/root/testdata/sf0.1")
    val root = mapper.readTree(line)
    assert(root.path("metric").asText() == "total")
    assert(root.path("unit").asText() == "sec")
    // total sums the UNROUNDED per-query values, then rounds once
    assert(math.abs(root.path("value").asDouble()
      - 0.123456789 * results.size) < 0.0005 + 1e-9)
    // at the current query count the uniform map may fold its tail into
    // "other" (budget-bound); every surviving key is a declared query,
    // and the per-query values still conserve the total
    val q = root.path("queries")
    assert(q.size() <= results.size + 1)
    val it = q.fields()
    var sum = 0.0
    while (it.hasNext) {
      val e = it.next()
      assert(e.getKey == "other" || results.contains(e.getKey))
      sum += e.getValue.asDouble()
    }
    assert(math.abs(sum - 0.123456789 * results.size) < 0.06 * results.size)
    assert(q.path("q_agg_hash").asDouble() == 0.1)
  }

  test("bench line fits a bounded tail capture even with 3-digit seconds") {
    // 999s for EVERY query is far past any plausible round budget (the
    // driver would flag the round long before); what matters is the line
    // surviving the 2000B tail window at worst believable widths. The
    // renderer degrades precision away from the 1–10s leader band
    // (tenths <1s, centiseconds 1–10s, tenths <100s, integer beyond),
    // so even the pathological case
    // stays narrow.
    // …with the widest errors field too: every declared query failed
    val worst = SparkEntry.queries.keys.map(_ -> 999.4).toMap
    val line = Bench.renderJson(worst, "/root/testdata/sf0.1",
      errors = SparkEntry.queries.size)
    assert(mapper.readTree(line).path("errors").asInt() ==
      SparkEntry.queries.size)
    val wq = mapper.readTree(line).path("queries")
    assert(wq.path("q_agg_hash").asDouble() == 999.0 ||
      wq.has("other"), "leader entries must survive at full precision")
    // the hard protocol constraint is the 2000B stdout tail window minus
    // the sbt epilogue; the renderer folds the FASTEST entries into
    // "other" when the full map would outgrow the budget, so the bound
    // holds at ANY declared-query count and ANY value widths
    assert(line.length <= Bench.Budget,
      s"bench line ${line.length}B risks truncation in the 2000B tail window")
    // widest believable rendering: EVERY query at centisecond width (a
    // round-2-style contention event put many queries in the 1–10s band)
    val contended = SparkEntry.queries.keys.map(_ -> 9.99).toMap
    val cline = Bench.renderJson(contended, "/root/testdata/sf0.1")
    assert(cline.length <= Bench.Budget,
      s"contended-round line ${cline.length}B risks truncation")
    val cq = mapper.readTree(cline).path("queries")
    // folding preserves the total: kept entries + "other" ≈ Σ values
    val it = cq.fields()
    var acc = 0.0
    while (it.hasNext) acc += it.next().getValue.asDouble()
    assert(math.abs(acc - 9.99 * SparkEntry.queries.size) < 1.0,
      s"folded line must conserve the total, got $acc")
    // precision tiers: centiseconds only in the 1–10s leader band,
    // tenths below 1s, coarser above 10s
    val mixed = Map("q_a" -> 1.234, "q_b" -> 12.34, "q_c" -> 123.4,
      "q_d" -> 0.256)
    val m = mapper.readTree(Bench.renderJson(mixed, "x")).path("queries")
    assert(m.path("q_a").asDouble() == 1.23)
    assert(m.path("q_b").asDouble() == 12.3)
    assert(m.path("q_c").asDouble() == 123.0)
    assert(m.path("q_d").asDouble() == 0.3)
  }

  test("empty result map renders a parseable zero line") {
    val root = mapper.readTree(Bench.renderJson(Map.empty, "x"))
    assert(root.path("value").asDouble() == 0.0)
    assert(root.path("errors").asInt() == 0)
  }

  test("a query that throws gets no time and counts as an error") {
    val spark = TestSession.spark
    val queries: Map[String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame] = Map(
      "q_ok" -> ((s, _) => s.range(3).toDF("id")),
      // fails while the query function builds its plan
      "q_build" -> ((_, _) => throw new IllegalStateException("build")),
      // fails only when the full result is materialized: a pruned
      // `.count()` would never evaluate the failing column
      "q_late" -> ((s, _) => s.range(3)
        .selectExpr("id", "raise_error(concat('late ', id)) AS boom")))
    val (results, errors) = Bench.measure(spark, queries, "unused")
    assert(results.keySet == Set("q_ok") && errors == 2,
      s"results $results, errors $errors")
    val root = mapper.readTree(Bench.renderJson(results, "x", errors))
    assert(root.path("errors").asInt() == 2)
    assert(root.path("queries").has("q_ok") &&
      !root.path("queries").has("q_build") &&
      !root.path("queries").has("q_late"))
  }

  test("each timed pass starts with an empty cache") {
    val spark = TestSession.spark
    var entries = 0
    // the query leaves its result cached: without the clear, the second
    // pass would find the first pass's InMemoryRelation still registered
    val q: (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame = (s, _) => {
        entries += 1
        assert(s.sharedState.cacheManager.isEmpty,
          s"pass $entries started with a registered cache")
        s.range(5).toDF("id").persist()
      }
    spark.range(2).toDF("warm").persist().count()
    try {
      val (results, errors) = Bench.measure(spark, Map("q_cached" -> q), "unused")
      assert(entries == 2 && errors == 0 && results.keySet == Set("q_cached"),
        s"entries $entries, results $results, errors $errors")
    } finally spark.catalog.clearCache()
  }
}
