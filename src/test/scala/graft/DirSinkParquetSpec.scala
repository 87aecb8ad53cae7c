package graft

import graft.sources.v2.{DirSink, DirSinkLog, DirSinkParquet}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The PARQUET DATA PLANE of the DirSink table format (round 13), the
  * format's one payload —
  *
  *   1. the FULL TYPE SURFACE: arrays (embeddings), binary (multimodal
  *      payloads), decimal, map, struct, float round-trip through a
  *      zone bit-exactly;
  *   2. SPLITTABLE READS: one large committed file plans as multiple
  *      byte-range partitions, so `compact(4)` no longer caps scan
  *      parallelism at 4 tasks;
  *   3. ONE PLANE, LOUDLY: a `format` write option other than parquet
  *      is refused (never silently ignored), and a manifest that does
  *      not declare `#format=parquet` is refused rather than misread;
  *   4. the manifest machinery (stats skipping, schema evolution,
  *      DML, snapshots) runs against parquet zones in its own suites;
  *      this suite pins what is parquet-SPECIFIC.
  */
class DirSinkParquetSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_pq").toString

  test("wide types round-trip: array/binary/decimal/map/struct/float survive the zone") {
    val dir = tmpDir()
    val df = spark.range(0, 100).toDF("id")
      .withColumn("emb", array((0 until 8).map(j =>
        (col("id") * 31 + j).cast("float") / 7.0f): _*))
      .withColumn("payload", sha2(col("id").cast("string"), 256)
        .cast("binary"))
      .withColumn("price", (col("id") * 37).cast("decimal(18,4)") / 100)
      .withColumn("attrs", map(lit("k"), col("id").cast("string")))
      .withColumn("meta", struct(col("id").as("a"),
        (col("id") % 3).cast("int").as("b")))
      .withColumn("score", (col("id") / 3.0).cast("float"))
    df.write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
    assert(DirSink.zoneFormat(dir).contains(DirSink.FormatParquet))
    val back = spark.read.format(fmt).option("path", dir).load()
    // bit-exact identity via except in BOTH directions (map columns
    // can't join set ops — compare their sorted entry lists instead)
    assert(back.count() == 100)
    def cmp(d: org.apache.spark.sql.DataFrame) =
      d.withColumn("attrs", map_entries(col("attrs")))
    assert(cmp(back).except(cmp(df)).isEmpty &&
      cmp(df).except(cmp(back)).isEmpty,
      "zone round trip must be bit-exact for every wide type")
    // and the array column is USABLE, not just stored: an aggregate
    // over its elements matches the source
    val s1 = back.select(sum(aggregate(col("emb"), lit(0.0d),
      (acc, x) => acc + x))).head.getDouble(0)
    val s2 = df.select(sum(aggregate(col("emb"), lit(0.0d),
      (acc, x) => acc + x))).head.getDouble(0)
    assert(math.abs(s1 - s2) < 1e-9)
  }

  test("splittable reads: one big committed file fans out to multiple partitions") {
    val dir = tmpDir()
    // ~3 MiB of incompressible-ish hex in ONE committed file — the
    // post-compaction shape that used to read with exactly 1 task
    spark.range(0, 60000).toDF("id")
      .withColumn("h", sha2(col("id").cast("string"), 256))
      .coalesce(1)
      .write.format(fmt).option("path", dir)
      .mode(SaveMode.Overwrite).save()
    val entries = DirSink.readManifestEntries(dir).get._2
    assert(entries.size == 1 && entries.head.bytes.exists(_ > (1L << 20)),
      s"fixture must be one >1MiB file, got $entries")
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", (1L << 20).toString)
      val df = spark.read.format(fmt).option("path", dir).load()
      assert(df.rdd.getNumPartitions > 1,
        s"a ${entries.head.bytes.get}-byte file at 1MiB maxPartitionBytes " +
          s"must split, planned ${df.rdd.getNumPartitions} partition(s)")
      // and the split read is LOSSLESS: every row exactly once
      assert(df.count() == 60000)
      assert(df.agg(sum(col("id"))).head.getLong(0) ==
        60000L * 59999 / 2)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("splitRanges partitions [0,len) exactly, floored at 1MiB") {
    assert(DirSinkParquet.splitRanges(0, 4 << 20) == Seq((0L, 0L)))
    val r = DirSinkParquet.splitRanges((5L << 20) + 3, 2 << 20)
    assert(r.map(_._2).sum == (5L << 20) + 3)
    assert(r.head._1 == 0L && r.sliding(2).forall {
      case Seq((s1, l1), (s2, _)) => s1 + l1 == s2
      case _ => true
    })
    // tiny-file floor: a 512KiB request still yields 1MiB splits
    assert(DirSinkParquet.splitRanges(3L << 20, 512 << 10).size == 3)
  }

  private def msgs(t: Throwable): Seq[String] =
    if (t == null) Seq.empty
    else String.valueOf(t.getMessage) +: msgs(t.getCause)

  test("appending a mismatched format to a committed zone is refused") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    // parquet is the one data plane: any other `format` option fails
    // the write — on append AND on overwrite, never silently ignored
    for (mode <- Seq(SaveMode.Append, SaveMode.Overwrite)) {
      val e = intercept[Exception] {
        Seq((2L, "b")).toDF("id", "v").write.format(fmt)
          .option("path", dir).option("format", "text").mode(mode).save()
      }
      assert(msgs(e).exists(m => m.contains("'text'") &&
        m.contains("parquet")), s"$mode must refuse format=text, got: $e")
    }
    // the explicit default is accepted; the zone is untouched otherwise
    Seq((3L, "c")).toDF("id", "v").write.format(fmt)
      .option("path", dir).option("format", "parquet")
      .mode(SaveMode.Append).save()
    assert(DirSink.zoneFormat(dir).contains(DirSink.FormatParquet))
    assert(spark.read.format(fmt).option("path", dir).load()
      .as[(Long, String)].collect().toSeq.sorted == Seq((1L, "a"), (3L, "c")))
  }

  test("a manifest without #format=parquet is refused, not read as parquet") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val name = DirSink.readManifest(dir).get._2.head._1
    // a hand-written generation-0 commit segment over a real parquet
    // file, but with no `#format` header: the data plane is undeclared
    val bareDir = tmpDir()
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, name),
      java.nio.file.Paths.get(bareDir, name))
    val seg = java.nio.file.Paths.get(bareDir, DirSinkLog.LogDirName,
      "00000000000000000000.commit")
    java.nio.file.Files.createDirectories(seg.getParent)
    java.nio.file.Files.write(seg,
      s"id BIGINT,v STRING\n#gen=0\n+$name\t2".getBytes("UTF-8"))
    val e = intercept[IllegalStateException](DirSink.zoneFormat(bareDir))
    assert(e.getMessage.contains("#format=parquet"), e.getMessage)
    val r = intercept[Exception] {
      spark.read.format(fmt).option("path", bareDir).load().count()
    }
    assert(msgs(r).exists(_.contains("#format=parquet")), s"got: $r")
    // the same segment WITH the header reads the file as before
    java.nio.file.Files.write(seg,
      s"id BIGINT,v STRING\n#format=parquet\n#gen=0\n+$name\t2"
        .getBytes("UTF-8"))
    assert(spark.read.format(fmt).option("path", bareDir).load()
      .count() == 2)
  }

  test("maintenance inherits the plane: compact + DELETE keep a parquet zone parquet") {
    import spark.implicits._
    val dir = tmpDir()
    (1 to 6).foreach { i =>
      Seq((i.toLong, s"v$i")).toDF("id", "v").coalesce(1)
        .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    }
    DirSink.compact(spark, dir, targetFiles = 2, clusterBy = Seq("id"))
    assert(DirSink.zoneFormat(dir).contains(DirSink.FormatParquet))
    assert(spark.read.format(fmt).option("path", dir).load().count() == 6)
    // copy-on-write DELETE rewrites through the SAME plane
    val t = s"pqz_${math.abs(dir.hashCode)}"
    spark.sql(s"DROP VIEW IF EXISTS $t")
    spark.read.format(fmt).option("path", dir).load()
      .createOrReplaceTempView(t)
    val tbl = new graft.sources.v2.DirSinkTable(dir,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v STRING"))
    tbl.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
      org.apache.spark.sql.sources.EqualTo("id", 3L)))
    assert(DirSink.zoneFormat(dir).contains(DirSink.FormatParquet))
    val left = spark.read.format(fmt).option("path", dir).load()
      .select("id").as[Long].collect().sorted.toSeq
    assert(left == Seq(1L, 2L, 4L, 5L, 6L))
  }

  test("schema evolution on parquet: old files read the new column as NULL") {
    import spark.implicits._
    val dir = tmpDir()
    Seq((1L, "a")).toDF("id", "v").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    DirSink.evolveSchema(dir, org.apache.spark.sql.types.StructType
      .fromDDL("id BIGINT, v STRING, emb ARRAY<FLOAT>"))
    Seq((2L, "b", Seq(1.5f, 2.5f))).toDF("id", "v", "emb").coalesce(1)
      .write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    val got = spark.read.format(fmt).option("path", dir).load()
      .orderBy("id")
      .as[(Long, String, Option[Seq[Float]])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", Some(Seq(1.5f, 2.5f)))),
      s"pre-evolution parquet files must read NULL tails, got $got")
  }
}
