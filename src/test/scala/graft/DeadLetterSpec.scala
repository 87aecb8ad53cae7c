package graft

import graft.sources.v2.{DirSink, DirSinkChecks}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** DEAD-LETTER ROUTING for CHECK-constraint violations
  * (`checks.deadletter=<zone>` write option, sources.v2.DirSinkChecks):
  * instead of failing the job on the first violating row, route
  * violators — plus a `_check` column naming the violated constraint —
  * to a quarantine zone and publish the clean remainder. The laws
  * under test:
  *   - counts reconcile: clean + quarantined = input, with the clean
  *     zone still satisfying its invariant;
  *   - the DEFAULT stays all-or-nothing (no option, no routing);
  *   - a violation-free write never creates a quarantine file;
  *   - streaming epochs stay exactly-once on BOTH zones across an
  *     epoch replay (the crash-recovery path);
  *   - the guard rails refuse self-routing, `_check` collisions,
  *     bucketed quarantines, and CHECKed quarantines. */
class DeadLetterSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def addCheck(dir: String, name: String, sql: String): Unit =
    DirSink.alterChecks(dir, _ :+ (name -> sql))

  /** A constrained zone (score in [0,1]) seeded with one clean row so
    * the constraint header exists before the write under test. */
  private def zoneWithCheck(): String = {
    val dir = tmp("graft_dl_zone")
    import spark.implicits._
    Seq((0L, 0.5)).toDF("k", "score")
      .write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
    addCheck(dir, "score_range", "score BETWEEN 0 AND 1")
    dir
  }

  test("batch append: violators route to the quarantine, clean rows publish, counts reconcile") {
    val dir = zoneWithCheck()
    val q = tmp("graft_dl_q") + "/quarantine"
    import spark.implicits._
    // 50 rows, 7 violate (score > 1)
    val df = spark.range(1, 51).toDF("k")
      .withColumn("score",
        when(col("k") % 7 === 0, col("k").cast("double"))
          .otherwise(col("k").cast("double") / 100))
    df.write.format(fmt).option("path", dir)
      .option(DirSinkChecks.DeadLetterKey, q)
      .mode(SaveMode.Append).save()
    val clean = spark.read.format(fmt).option("path", dir).load()
    val bad = spark.read.format(fmt).option("path", q).load()
    assert(clean.count() == 1 + 43, "clean remainder (plus the seed) publishes")
    assert(bad.count() == 7, "every violator lands in the quarantine")
    assert(bad.columns.toSeq == Seq("k", "score", "_check"),
      "quarantine schema = write schema + _check")
    assert(bad.select("_check").distinct().as[String].collect().toSeq ==
      Seq("score_range"), "_check names the violated constraint")
    // reconciliation: clean ∪ quarantined keys = input keys, disjoint
    val keys = clean.select("k").union(bad.select("k")).as[Long]
      .collect().toSet
    assert(keys == (0L to 50L).toSet)
    // the invariant still holds on the clean zone
    assert(clean.filter(!col("score").between(0, 1)).count() == 0)
  }

  test("a violation-free routed write never creates a quarantine zone") {
    val dir = zoneWithCheck()
    val q = tmp("graft_dl_q") + "/quarantine"
    import spark.implicits._
    spark.range(1, 21).toDF("k")
      .withColumn("score", col("k").cast("double") / 100)
      .write.format(fmt).option("path", dir)
      .option(DirSinkChecks.DeadLetterKey, q)
      .mode(SaveMode.Append).save()
    assert(spark.read.format(fmt).option("path", dir).load().count() == 21)
    assert(DirSink.currentGen(q).isEmpty,
      "no violations → lazily-opened quarantine writer never staged a file")
  }

  test("multiple constraints: _check names the first violated one in the bound order") {
    val dir = tmp("graft_dl_multi")
    import spark.implicits._
    Seq((0L, 10L)).toDF("k", "v")
      .write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
    addCheck(dir, "lo", "v >= 0")
    addCheck(dir, "hi", "v < 100")
    val q = tmp("graft_dl_q") + "/quarantine"
    // -5 violates lo (and passes hi); 500 violates hi only
    Seq((1L, -5L), (2L, 500L), (3L, 50L)).toDF("k", "v")
      .write.format(fmt).option("path", dir)
      .option(DirSinkChecks.DeadLetterKey, q)
      .mode(SaveMode.Append).save()
    val bad = spark.read.format(fmt).option("path", q).load()
      .select("k", "_check").as[(Long, String)].collect().toMap
    assert(bad == Map(1L -> "lo", 2L -> "hi"))
    assert(spark.read.format(fmt).option("path", dir).load().count() == 2)
  }

  test("streaming epochs: poisoned epoch publishes clean + quarantined; replay is exactly-once on BOTH zones") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val dir = tmp("graft_dl_stream")
    import spark.implicits._
    Seq((0L)).toDF("k").write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
    addCheck(dir, "pos", "k >= 0")
    val q = tmp("graft_dl_q") + "/quarantine"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
    val dl = DirSinkChecks.resolveDeadLetter(dir, Some(q), schema,
      DirSinkChecks.zoneChecks(dir))
    val sw = new graft.sources.v2.DirSinkStreamingWrite(dir, schema,
      "dl-stream", truncate = false, deadletter = dl)
    def runEpoch(e: Long, vals: Seq[Long]): Unit = {
      val w = sw.createStreamingWriterFactory(null).createWriter(0, 0L, e)
      vals.foreach(v => w.write(new GenericInternalRow(Array[Any](v))))
      sw.commit(e, Array(w.commit()))
    }
    runEpoch(0L, Seq(1L, -2L, 3L, -4L)) // poisoned epoch
    def counts() = (
      spark.read.format(fmt).option("path", dir).load().count(),
      spark.read.format(fmt).option("path", q).load().count())
    assert(counts() == (3L, 2L),
      "clean rows publish, violators quarantine, nothing is lost")
    // crash-recovery replay of the SAME epoch: idempotent on both zones
    runEpoch(0L, Seq(1L, -2L, 3L, -4L))
    assert(counts() == (3L, 2L), "epoch replay must be exactly-once")
    // a later epoch advances both zones
    runEpoch(1L, Seq(5L, -6L))
    assert(counts() == (4L, 3L))
    // the quarantine rows carry the constraint name
    assert(spark.read.format(fmt).option("path", q).load()
      .filter(col("_check") =!= "pos").count() == 0)
  }

  test("guards: self-routing, _check collision, bucketed or CHECKed quarantine all refuse; no checks → option is inert") {
    val dir = zoneWithCheck()
    val schema = org.apache.spark.sql.types.StructType
      .fromDDL("k BIGINT, score DOUBLE")
    val checks = DirSinkChecks.zoneChecks(dir)
    intercept[IllegalArgumentException] {
      DirSinkChecks.resolveDeadLetter(dir, Some(dir), schema, checks)
    }
    val collide = org.apache.spark.sql.types.StructType
      .fromDDL("k BIGINT, _check STRING")
    intercept[IllegalArgumentException] {
      DirSinkChecks.resolveDeadLetter(dir, Some(tmp("graft_dl_g")), collide,
        checks)
    }
    // bucketed quarantine
    import spark.implicits._
    val bq = tmp("graft_dl_bq")
    spark.range(4).toDF("k").withColumn("score", lit(0.1))
      .write.format(fmt).option("path", bq).option("bucket", "k:4")
      .mode(SaveMode.Overwrite).save()
    intercept[IllegalArgumentException] {
      DirSinkChecks.resolveDeadLetter(dir, Some(bq), schema, checks)
    }
    // CHECKed quarantine
    val cq = tmp("graft_dl_cq")
    Seq((1L, 0.1)).toDF("k", "score").write.format(fmt)
      .option("path", cq).mode(SaveMode.Overwrite).save()
    addCheck(cq, "pos", "k >= 0")
    intercept[IllegalArgumentException] {
      DirSinkChecks.resolveDeadLetter(dir, Some(cq), schema, checks)
    }
    // an unconstrained target zone makes the option inert, not an error
    assert(DirSinkChecks.resolveDeadLetter(tmp("graft_dl_free"),
      Some(tmp("graft_dl_q2")), schema, Seq.empty).isEmpty)
  }

  test("the quarantine is an ordinary zone: historied and CDF-tailable") {
    val dir = zoneWithCheck()
    val q = tmp("graft_dl_q") + "/quarantine"
    import spark.implicits._
    def poison(ks: Seq[Long]): Unit =
      ks.map(k => (k, 9.9)).toDF("k", "score")
        .write.format(fmt).option("path", dir)
        .option(DirSinkChecks.DeadLetterKey, q)
        .mode(SaveMode.Append).save()
    poison(Seq(101L, 102L))
    poison(Seq(103L))
    // an incremental consumer tails the quarantine through the CDF
    val feed = graft.sources.v2.ChangeFeed.read(spark, q, 0)
    assert(feed.count() == 3 &&
      feed.filter(col("_change_type") =!= "insert").count() == 0)
    assert(feed.select("k").as[Long].collect().toSet ==
      Set(101L, 102L, 103L))
    // and the zone records its publishes as history
    val hist = DirSink.history(q)
    assert(hist.count(_.op == "deadletter") == 2,
      s"each routed write publishes one quarantine generation: $hist")
  }

  test("the default (no option) stays all-or-nothing") {
    val dir = zoneWithCheck()
    import spark.implicits._
    intercept[Exception] {
      Seq((9L, 4.2)).toDF("k", "score")
        .write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
    }
    assert(spark.read.format(fmt).option("path", dir).load().count() == 1)
  }
}
