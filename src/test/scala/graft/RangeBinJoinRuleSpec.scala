package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** [[graft.plans.RangeBinJoinRule]]: the fixed-width interval join a user
  * writes naively must re-plan as a binned equi-join — losslessly — and
  * must NOT fire where it doesn't apply. */
class RangeBinJoinRuleSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir
  private val FLAG = "spark.graft.binRangeJoin.enabled"

  /** The naive inline form over events: every event within ±5 min of an
    * error event, pairs aggregated per error anchor. */
  private def naiveJoin(): DataFrame = {
    import spark.implicits._
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val anchors = ev.filter($"event_type" === "error")
      .select($"event_id".as("wid"), unix_micros($"ts").as("a_us"))
    val pts = ev.select($"event_id", unix_micros($"ts").as("p_us"))
    pts.join(anchors,
        $"p_us" >= $"a_us" - 300000000L && $"p_us" < $"a_us" + 300000000L)
      .groupBy($"wid").agg(count(lit(1)).as("n"))
      .orderBy($"wid")
  }

  private def withFlag[T](v: Boolean)(f: => T): T = {
    spark.conf.set(FLAG, v.toString)
    try f finally spark.conf.unset(FLAG)
  }

  test("inline interval join re-plans as a binned equi-join, losslessly") {
    import spark.implicits._
    val df = naiveJoin()
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("graft_bin"), "rule did not fire on the inline form")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      "rewritten join still plans as a nested loop")
    val got = df.as[(Long, Long)].collect().toSeq
    val want = withFlag(false) {
      val off = naiveJoin()
      assert(off.queryExecution.executedPlan.toString()
        .contains("BroadcastNestedLoopJoin"),
        "kill-switch did not restore the naive plan")
      off.as[(Long, Long)].collect().toSeq
    }
    assert(got.nonEmpty && got == want,
      "binned plan and nested-loop plan disagree")
  }

  test("strict/inclusive bound variants rewrite and agree with the naive plan") {
    import spark.implicits._
    val pts = spark.range(-200, 200).select(($"id" * 7).as("x"))
    val anchors = spark.range(-60, 60).select(($"id" * 11).as("a"))
    // negative domain + strict lower + inclusive upper: floorDiv must
    // bin negatives correctly and strictness must fold into the width
    def join() = pts.join(anchors, $"x" > $"a" - 13L && $"x" <= $"a" + 5L)
      .select($"x", $"a").orderBy($"x", $"a")
    val on = join()
    assert(on.queryExecution.executedPlan.toString().contains("graft_bin"))
    val got = on.as[(Long, Long)].collect().toSeq
    val want = withFlag(false) { join().as[(Long, Long)].collect().toSeq }
    assert(got.nonEmpty && got == want)
  }

  test("joins with an equi key or non-integral bounds are left untouched") {
    import spark.implicits._
    val ev = graft.sources.Tables.load(spark, dir, "events")
    val l = ev.select($"user_id", $"event_id".as("lid"), unix_micros($"ts").as("lus"))
    val r = ev.select($"user_id".as("r_user"), $"event_id".as("rid"),
      unix_micros($"ts").as("rus"))
    val withKey = l.join(r, $"user_id" === $"r_user" &&
      $"lus" >= $"rus" - 60000000L && $"lus" < $"rus" + 60000000L)
    assert(!withKey.queryExecution.executedPlan.toString().contains("graft_bin"),
      "rule must defer to an existing equi key")
    // double-typed bounds (the q_join_theta_range shape): no exact bin
    // arithmetic ⇒ no rewrite
    val part = graft.sources.Tables.load(spark, dir, "part")
      .select($"p_partkey", $"p_retailprice")
    val bands = part.select($"p_partkey".as("b_key"), $"p_retailprice".as("c"))
    val dbl = part.join(bands,
      $"p_retailprice" >= $"c" - 10.0 && $"p_retailprice" < $"c" + 10.0)
    assert(!dbl.queryExecution.executedPlan.toString().contains("graft_bin"),
      "rule must not fire on non-integral bounds")
  }
}
