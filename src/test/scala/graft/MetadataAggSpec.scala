package graft

import graft.sources.v2.DirSink
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** METADATA-ONLY AGGREGATES over DirSink zones (round 13): `count(*)`,
  * `count(col)` (no-nulls proven), `min(col)`, `max(col)` answered
  * from the manifest — commit row counts plus the write-path-exact
  * per-file bounds — through `SupportsPushDownAggregates` COMPLETE
  * pushdown. The proof of "no data file is opened" is literal: the
  * zone's data files are DELETED from disk and the aggregates still
  * answer correctly; any fallback to a real scan would throw.
  * Anything the manifest cannot prove (filters, grouping, sums, a
  * nullable count, a pre-stats file, a NaN-disabled column) refuses
  * pushdown and Spark aggregates the ordinary scan — correctness
  * never rides on the fast path being available. */
class MetadataAggSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_magg").toString

  private def deleteDataFiles(dir: String): Unit =
    DirSink.readManifest(dir).get._2.map(_._1).foreach { n =>
      assert(new java.io.File(dir, n).delete(), s"fixture: $n must exist")
    }

  test("count/min/max answer from the manifest alone (data files deleted)") {
    import spark.implicits._
    val dir = tmpDir()
    (0 until 4).foreach { k =>
      (1 to 25).map(i => (k * 25L + i, s"v${k * 25 + i}",
        java.sql.Timestamp.valueOf(f"2024-02-0${k + 1} 00:00:00")))
        .toDF("id", "v", "ts").coalesce(1)
        .write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
    }
    deleteDataFiles(dir)
    val agg = spark.read.format(fmt).option("path", dir).load()
      .agg(count(lit(1)).as("n"), count($"v").as("nv"),
        min($"id").as("lo"), max($"id").as("hi"),
        min($"ts").as("t0"), max($"ts").as("t1"))
    assert(agg.queryExecution.executedPlan.toString.contains("metadata-only"),
      "the plan must show the pushed aggregation")
    val r = agg.head
    assert(r.getLong(0) == 100L && r.getLong(1) == 100L)
    assert(r.getLong(2) == 1L && r.getLong(3) == 100L)
    assert(r.getTimestamp(4).toString == "2024-02-01 00:00:00.0" &&
      r.getTimestamp(5).toString == "2024-02-04 00:00:00.0")
    // snapshot metadata aggregate: generation 1 holds the first 2
    // committed files
    val r2 = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", 1).load()
      .agg(count(lit(1)), max($"id")).head
    assert(r2.getLong(0) == 50L && r2.getLong(1) == 50L)
    // string bounds fold in UTF8 binary order, same as the skipper
    val r3 = spark.read.format(fmt).option("path", dir).load()
      .agg(min($"v"), max($"v")).head
    assert(r3.getString(0) == "v1" && r3.getString(1) == "v99")
  }

  test("an all-null column folds to SQL NULL; nullable counts answer as rows − known nulls") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, Option.empty[String]), (2L, None), (3L, None))
      .toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // a second file with a PARTIAL-null column: its stats line carries
    // the null count (round 15), so count(s) answers from metadata
    Seq((4L, Option("x")), (5L, None), (6L, Option("y")))
      .toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    deleteDataFiles(dir)
    val r = spark.read.format(fmt).option("path", dir).load()
      .agg(count(lit(1)), min($"s"), max($"s"), count($"s")).head
    assert(r.getLong(0) == 6L && r.getString(1) == "x" &&
      r.getString(2) == "y")
    assert(r.getLong(3) == 2L,
      "count(s) = rows − known nulls, metadata-only (files are gone)")
  }

  test("a LEGACY count-less partial-null stats line refuses count(col) — never guesses") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, Option("x")), (2L, None)).toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // rewrite the committed stats to the ROUND-14 two-token shape
    // (n<min>,<max> without the count) — the upgrade-in-place corpus
    val m = new java.io.File(dir, "_graft_log").listFiles()
      .filter(_.getName.endsWith(".commit")).head
    val txt = java.nio.file.Files.readString(m.toPath)
    val legacy = txt.replaceAll("(n[A-Za-z0-9+/=]+,[A-Za-z0-9+/=]+),\\d+",
      "$1")
    assert(legacy != txt, s"fixture: a counted partial-null line: $txt")
    java.nio.file.Files.writeString(m.toPath, legacy)
    java.nio.file.Files.deleteIfExists(
      m.toPath.getParent.resolve("." + m.getName + ".crc"))
    graft.sources.v2.DirSinkLog.invalidate(dir)
    deleteDataFiles(dir)
    // count(*) and bounds still answer; count(s) must refuse — and the
    // files are gone, so the refusal is OBSERVABLE as a read failure
    // rather than a wrong answer
    val r = spark.read.format(fmt).option("path", dir).load()
      .agg(count(lit(1)), min($"s")).head
    assert(r.getLong(0) == 2L && r.getString(1) == "x")
    intercept[Exception] {
      spark.read.format(fmt).option("path", dir).load()
        .agg(count($"s")).head
    }
  }

  test("float and decimal bounds answer from the manifest (parquet-plane types)") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 40).map(i => (i.toLong, i / 4.0f, BigDecimal(i * 25, 2)))
      .toDF("id", "score", "price")
      .withColumn("price", $"price".cast("decimal(10,2)"))
      .repartitionByRange(4, $"id")
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    deleteDataFiles(dir)
    val r = spark.read.format(fmt).option("path", dir).load()
      .agg(min($"score"), max($"score"), min($"price"), max($"price")).head
    assert(r.getFloat(0) == 0.25f && r.getFloat(1) == 10.0f)
    assert(r.getDecimal(2).compareTo(new java.math.BigDecimal("0.25")) == 0 &&
      r.getDecimal(3).compareTo(new java.math.BigDecimal("10.00")) == 0)
  }

  test("filters, grouping, and sums keep the ordinary scan (correct, not pushed)") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 50).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
      .repartition(2)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val zone = spark.read.format(fmt).option("path", dir).load()
    val f = zone.filter($"id" > 40).agg(count(lit(1)), min($"id")).head
    assert(f.getLong(0) == 10L && f.getLong(1) == 41L)
    val g = zone.groupBy($"g").agg(count(lit(1)).as("n"))
      .orderBy($"g").as[(String, Long)].collect().toSeq
    assert(g == Seq(("g0", 16L), ("g1", 17L), ("g2", 17L)))
    assert(zone.agg(sum($"id")).head.getLong(0) == 50L * 51 / 2)
  }

  test("the sidecar JOB fold equals the driver loop — stale rows excluded, recent adds merged (round 15)") {
    import spark.implicits._
    val dir = tmpDir()
    // 11 appends → gens 0..10; the commit log checkpoints at gen 10
    // (CheckpointInterval) and writes the columnar sidecar
    (0 until 11).foreach { k =>
      spark.range(k * 10L, k * 10L + 10)
        .select($"id", ($"id" * 7).as("v")).coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    // gen 11: DELETE id < 10 — drops gen 0's file, which the sidecar
    // still lists with min(id)=0; the job must anti-join it out or the
    // global min comes back WRONG
    new graft.sources.v2.DirSinkTable(dir,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.LessThan("id", 10L)))
    // gen 12: a post-checkpoint append holding the global max — the
    // sidecar has never seen it; the driver sliver must merge it in
    spark.range(120L, 130L).select($"id", ($"id" * 7).as("v")).coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()

    def run(): (String, Seq[Any]) = {
      val r = spark.read.format(fmt).option("path", dir).load()
        .agg(count(lit(1)), count($"v"), min($"id"), max($"id"),
          min($"v"), max($"v")).head
      (graft.sources.v2.DirSinkAgg.lastMode, r.toSeq)
    }
    val (loopMode, loopRow) = run() // default threshold: loop
    assert(loopMode == "loop", s"fixture should fold on the driver: $loopMode")
    spark.conf.set(graft.sources.v2.DirSinkPrune.ThresholdKey, "1")
    try {
      val (jobMode, jobRow) = run()
      assert(jobMode == "job",
        "above the threshold the fold must run as the sidecar job")
      assert(jobRow == loopRow,
        s"job and loop must be bit-equal: $jobRow vs $loopRow")
      assert(jobRow == Seq(110L, 110L, 10L, 129L, 70L, 903L),
        s"min must exclude the deleted file (10, not 0) and max must " +
          s"see the post-checkpoint append (129): $jobRow")
    } finally spark.conf.unset(graft.sources.v2.DirSinkPrune.ThresholdKey)
  }

  test("a RETAGGED (deletion-vectored) checkpointed file never double-counts in the sidecar job (round 16)") {
    import spark.implicits._
    val dir = tmpDir()
    // 11 appends → checkpoint at gen 10 writes the columnar sidecar
    (0 until 11).foreach { k =>
      spark.range(k * 10L, k * 10L + 10)
        .select($"id", ($"id" * 7).as("v")).coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    // gen 11: a DELETION-VECTOR delete inside gen 0's file — the line
    // is REMOVED and RE-ADDED under the SAME name (a retag), so the
    // sidecar's stale row and the live retagged entry describe one
    // file; the job must fold exactly one of them
    spark.conf.set(graft.sources.v2.DirSinkDv.EnabledKey, "true")
    try {
      new graft.sources.v2.DirSinkTable(dir,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"))
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.In("id",
            Array(3L, 7L).map(_.asInstanceOf[AnyRef]))))
    } finally spark.conf.unset(graft.sources.v2.DirSinkDv.EnabledKey)

    def run(): (String, Long) = {
      val r = spark.read.format(fmt).option("path", dir).load()
        .agg(count(lit(1))).head
      (graft.sources.v2.DirSinkAgg.lastMode, r.getLong(0))
    }
    val (loopMode, loopN) = run()
    assert(loopMode == "loop" && loopN == 108L,
      s"driver loop: 110 physical − 2 vectored = 108, got $loopN")
    spark.conf.set(graft.sources.v2.DirSinkPrune.ThresholdKey, "1")
    try {
      val (jobMode, jobN) = run()
      assert(jobMode == "job",
        "above the threshold the fold must run as the sidecar job")
      assert(jobN == loopN,
        s"retagged file double-counted by the sidecar job: $jobN vs $loopN")
    } finally spark.conf.unset(graft.sources.v2.DirSinkPrune.ThresholdKey)
  }
}
