package graft

import graft.sources.v2.{DirSink, DirSinkScan, DirSinkStats}
import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** File-level DATA SKIPPING in the DirSink table format
  * (sources.v2.DirSinkStats): per-file min/max/null stats in the
  * manifest prune whole files against pushed filters at plan time;
  * every filter stays residual so row semantics are Spark's own. Each
  * case pins BOTH halves: the planned-partition count (the skipping)
  * and the result values (the correctness). */
class DataSkippingSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_skip").toString

  private def scanOf(df: DataFrame): DirSinkScan = {
    val p = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case other => other
    }
    p.collectFirst {
      case b: BatchScanExec => b.scan.asInstanceOf[DirSinkScan]
    }.get
  }

  private def plannedFiles(df: DataFrame): Int =
    scanOf(df).planInputPartitions().length

  private def read(dir: String): DataFrame =
    spark.read.format(fmt).option("path", dir).load()

  /** 0..999 range-clustered into 8 files: each file covers a disjoint
    * id range — the layout compaction/streaming appends produce. */
  private def writeClustered(dir: String): Unit = {
    import spark.implicits._
    spark.range(1000).toDF("id")
      .withColumn("grp", ($"id" / 125).cast("long"))
      .repartitionByRange(8, $"grp")
      .select($"id", concat(lit("name-"), $"id").as("name"),
        ($"id" * 0.5).as("score"))
      .write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
  }

  test("numeric range filter prunes files; result identical to residual-only evaluation") {
    val dir = tmpDir()
    writeClustered(dir)
    assert(plannedFiles(read(dir)) == 8)

    val narrow = read(dir).filter(col("id") < 100)
    assert(plannedFiles(narrow) == 1,
      "id<100 lives in one 125-wide range file")
    assert(narrow.count() == 100)
    assert(narrow.agg(sum("id")).head.getLong(0) == (0L until 100).sum)

    val band = read(dir).filter(col("id") >= 250 && col("id") <= 260)
    assert(plannedFiles(band) == 1)
    assert(band.count() == 11)

    // boundary-straddling band needs exactly the two covering files
    val straddle = read(dir).filter(col("id") >= 240 && col("id") <= 260)
    assert(plannedFiles(straddle) == 2)
    assert(straddle.count() == 21)

    // empty-range predicate plans zero partitions
    assert(plannedFiles(read(dir).filter(col("id") > 5000)) == 0)
    assert(read(dir).filter(col("id") > 5000).count() == 0)
  }

  test("OR of two bands keeps both covering files and nothing else") {
    val dir = tmpDir()
    writeClustered(dir)
    val q = read(dir).filter(col("id") < 50 || col("id") > 950)
    assert(plannedFiles(q) == 2)
    assert(q.count() == 50 + 49)
  }

  test("IN-list prunes to the covering files") {
    val dir = tmpDir()
    writeClustered(dir)
    val q = read(dir).filter(col("id").isin(3L, 7L, 130L))
    assert(plannedFiles(q) == 2, "ids 3,7 in file 0; 130 in file 1")
    assert(q.count() == 3)
  }

  test("string equality prunes on UTF8 binary bounds") {
    import spark.implicits._
    val dir = tmpDir()
    Seq.tabulate(300)(i => (i.toLong, if (i < 100) "de" else if (i < 200) "en" else "fr"))
      .toDF("id", "lang")
      .repartitionByRange(3, $"lang")
      .write.format(fmt).option("path", dir).mode(SaveMode.Overwrite).save()
    assert(plannedFiles(read(dir)) == 3)
    val de = read(dir).filter(col("lang") === "de")
    assert(plannedFiles(de) == 1)
    assert(de.count() == 100)
    assert(plannedFiles(read(dir).filter(col("lang") === "zz")) == 0)
  }

  test("null-presence stats drive IsNull / IsNotNull skipping") {
    import spark.implicits._
    val dir = tmpDir()
    // generation 1: fully non-null; generation 2: all null in `v`
    Seq((1L, Some("a")), (2L, Some("b"))).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((3L, None: Option[String]), (4L, None)).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    assert(plannedFiles(read(dir)) == 2)

    val nulls = read(dir).filter(col("v").isNull)
    assert(plannedFiles(nulls) == 1, "non-null file is skipped for IsNull")
    assert(nulls.select("id").as[Long].collect().sorted.toSeq == Seq(3L, 4L))

    val notNulls = read(dir).filter(col("v").isNotNull)
    assert(plannedFiles(notNulls) == 1, "all-null file is skipped for IsNotNull")
    assert(notNulls.count() == 2)

    // a comparison never matches NULL rows: the all-null file skips too
    val cmp = read(dir).filter(col("v") > "a")
    assert(plannedFiles(cmp) == 1)
    assert(cmp.count() == 1)
  }

  test("NaN in a double column opts that column out of skipping in its file only") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, 1.0), (2L, Double.NaN)).toDF("id", "d").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    Seq((3L, 10.0), (4L, 20.0)).toDF("id", "d").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    // d > 100 can prune the clean file (max 20) but NOT the NaN file:
    // Spark SQL orders NaN ABOVE every numeric, so the NaN row MATCHES
    // d > 100 — pruning the NaN file on its finite max would be a
    // wrong answer, which is exactly why NaN disables the bounds
    val q = read(dir).filter(col("d") > 100.0)
    assert(plannedFiles(q) == 1, "NaN file must stay; clean file prunes")
    assert(q.count() == 1, "the NaN row matches d>100 under Spark ordering")
    // the id column of the NaN file still has valid stats
    assert(plannedFiles(read(dir).filter(col("id") <= 2)) == 1)
  }

  test("pre-skipping manifest lines (no stats field) are always read") {
    import spark.implicits._
    val dir = tmpDir()
    writeClustered(dir)
    // strip the stats fields from every commit-log segment, simulating
    // a zone written before data skipping existed
    val logDir = java.nio.file.Paths.get(dir,
      graft.sources.v2.DirSinkLog.LogDirName)
    java.nio.file.Files.list(logDir).toArray.map(
      _.asInstanceOf[java.nio.file.Path])
      .filter(p => p.getFileName.toString.endsWith(".commit") ||
        p.getFileName.toString.endsWith(".checkpoint"))
      .foreach { m =>
        val stripped = new String(java.nio.file.Files.readAllBytes(m), "UTF-8")
          .split("\n")
          .map(_.split("\t").filterNot(_.startsWith("s=")).mkString("\t"))
          .mkString("\n")
        java.nio.file.Files.write(m, stripped.getBytes("UTF-8"))
        // crc sidecar is now stale — remove it (manual edit, not a commit)
        java.nio.file.Files.deleteIfExists(
          m.getParent.resolve("." + m.getFileName.toString + ".crc"))
      }
    graft.sources.v2.DirSinkLog.invalidate(dir)
    val q = read(dir).filter(col("id") < 100)
    assert(plannedFiles(q) == 8, "no stats -> no skipping, never an error")
    assert(q.count() == 100)
  }

  test("column pruning reaches the scan and projected values survive") {
    val dir = tmpDir()
    writeClustered(dir)
    val q = read(dir).select("name")
    assert(scanOf(q).readSchema().fieldNames.toSeq == Seq("name"))
    assert(q.count() == 1000)
    assert(read(dir).select("score").agg(sum("score")).head.getDouble(0) ==
      (0 until 1000).map(_ * 0.5).sum)
    // pruning composes with skipping: filter column stays required,
    // files prune, projected value is right
    val both = read(dir).filter(col("id") === 130L).select("name")
    assert(plannedFiles(both) == 1)
    assert(both.head.getString(0) == "name-130")
  }

  test("skipped statistics feed the optimizer: estimate reflects pruned files") {
    val dir = tmpDir()
    writeClustered(dir)
    val full = scanOf(read(dir)).estimateStatistics()
    val pruned = scanOf(read(dir).filter(col("id") < 100)).estimateStatistics()
    assert(full.numRows().getAsLong == 1000)
    assert(pruned.numRows().getAsLong == 125, "one 125-row file survives")
    assert(pruned.sizeInBytes().getAsLong < full.sizeInBytes().getAsLong)
  }

  test("stats encoding round-trips through the manifest") {
    val dir = tmpDir()
    writeClustered(dir)
    val (schema, entries) = DirSink.readManifestEntries(dir).get
    assert(entries.forall(_.stats.isDefined))
    val st = DirSinkStats.parse(entries.head.stats.get, schema.length)
    assert(st.length == 3)
    assert(st(0).min.isDefined && st(0).max.isDefined && !st(0).hasNull)
    // codec-hostile strings survive the base64 bound encoding
    import spark.implicits._
    val d2 = tmpDir()
    Seq((1L, "tab\tsemi;comma,eq=b64+/"), (2L, "ctrl\nnl"))
      .toDF("id", "s").coalesce(1)
      .write.format(fmt).option("path", d2).mode(SaveMode.Append).save()
    val q = read(d2).filter(col("s") === "tab\tsemi;comma,eq=b64+/")
    assert(q.count() == 1)
    val (sch2, e2) = DirSink.readManifestEntries(d2).get
    val st2 = DirSinkStats.parse(e2.head.stats.get, sch2.length)
    assert(st2(1).min.get == "ctrl\nnl")
    assert(st2(1).max.get == "tab\tsemi;comma,eq=b64+/")
  }

  test("runtime filtering: dim-driven join skips files at execution (DSv2 DPP)") {
    import spark.implicits._
    val dir = tmpDir()
    writeClustered(dir)
    // the dim's surviving keys exist only at runtime — the scan must
    // receive them as an In runtime filter and plan only the one file
    // whose id range covers them
    val fact = read(dir)
    val dim = spark.range(0, 25).toDF("k").filter($"k" % 5 === 2)
    val joined = fact.join(dim, fact("id") === dim("k"))
      .select($"id", $"name")
    val rows = joined.collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(2L, 7L, 12L, 17L, 22L))
    assert(rows.forall(r => r.getString(1) == s"name-${r.getLong(0)}"))
    val scan = scanOf(joined)
    assert(scan.lastPlannedFiles.contains(1),
      s"runtime In-filter must prune to the one covering file, " +
        s"planned=${scan.lastPlannedFiles}")
  }

  test("compact rewrites many small files into few clustered ones; skipping becomes effective") {
    import spark.implicits._
    val dir = tmpDir()
    // six interleaved micro-appends: ids stride across the whole range,
    // so every file's min/max span is wide and nothing can skip
    (0 until 6).foreach { i =>
      spark.range(1000).filter($"id" % 6 === i).toDF("id").coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    assert(plannedFiles(read(dir)) == 6)
    assert(plannedFiles(read(dir).filter(col("id") < 100)) == 6,
      "interleaved appends: every file overlaps every range — no skipping")
    DirSink.compact(spark, dir, targetFiles = 4, clusterBy = Seq("id"))
    // the zone is intact…
    assert(read(dir).count() == 1000)
    assert(read(dir).agg(sum("id")).head.getLong(0) == (0L until 1000).sum)
    assert(plannedFiles(read(dir)) == 4)
    // …and the clustered rewrite made range predicates skip
    val narrow = read(dir).filter(col("id") < 100)
    assert(plannedFiles(narrow) == 1,
      "after clusterBy-compaction a range predicate prunes to one file")
    assert(narrow.count() == 100)
    // the superseded generation is RETAINED by the commit log —
    // OPTIMIZE no longer orphans a pinned snapshot: the pre-compact
    // state (generation 5 = the sixth append) still reads exactly
    val pre = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", 5).load()
    assert(pre.count() == 1000 && plannedFiles(pre) == 6,
      "the pre-compact snapshot must survive OPTIMIZE via the log")
    // vacuum(0) on the quiesced zone then truncates the log to the
    // compact's snapshot segment and reclaims the superseded files
    DirSink.vacuum(dir, olderThanMs = 0L)
    intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfVersion", 5).load().count()
    }
    val live = DirSink.readManifest(dir).get._2.map(_._1).toSet
    val leftover = new java.io.File(dir).listFiles()
      .filter(f => f.isFile && !f.getName.startsWith(DirSink.ManifestName)
        && !f.getName.startsWith("."))
    assert(leftover.map(_.getName).forall(live.contains))
  }

  test("asOf snapshot composes with skipping: slice first, then skip") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val first = DirSink.currentGen(dir).get
    Seq((100L, "b")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val snap = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", first).load().filter(col("id") > 50)
    assert(plannedFiles(snap) == 0,
      "the only file in the first generation prunes under id>50")
    assert(snap.count() == 0)
  }
}
