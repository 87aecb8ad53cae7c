package graft

import graft.sources.v2.{DirSink, DirSinkSource}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** PER-COLUMN PARQUET BLOOM FILTERS on DirSink zones (`#bloomfor`
  * header / `bloomfor` table property): point-lookup pruning on
  * high-cardinality columns that clustering cannot serve — the filter
  * bytes live in parquet's own row-group metadata (written by Spark's
  * writer, consumed by its reader through the pushed predicates), the
  * manifest records only WHICH columns carry them. */
class BloomZoneSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val fmt = classOf[DirSinkSource].getName

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_bloom").toString

  /** Read the parquet footer of one committed file and report which
    * columns carry a bloom filter (offset >= 0). */
  private def bloomColumnsOf(dir: String, file: String): Set[String] = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = spark.sessionState.newHadoopConf()
    val in = HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(dir, file), conf)
    val reader = ParquetFileReader.open(in)
    try {
      import scala.jdk.CollectionConverters._
      reader.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala)
        .filter(_.getBloomFilterOffset >= 0)
        .map(_.getPath.toDotString).toSet
    } finally reader.close()
  }

  test("bloomfor columns carry parquet bloom filters; others do not; lookups stay exact") {
    import spark.implicits._
    val dir = tmpDir()
    // high-cardinality pseudo-random ids: min/max bounds span everything
    // (no clustering), exactly the shape bloom filters exist for
    spark.range(20000)
      .select((($"id" * 2654435761L) % 1000003L).as("doc_id"),
        ($"id" % 7).as("grp"), concat(lit("u"), $"id").as("url"))
      .coalesce(2)
      .write.format(fmt).option("path", dir)
      .option("bloomfor", "doc_id,url").mode(SaveMode.Append).save()
    assert(DirSink.zoneBloom(dir) == Seq("doc_id", "url"))
    val files = DirSink.readManifest(dir).get._2.map(_._1)
    files.foreach { f =>
      val cols = bloomColumnsOf(dir, f)
      assert(cols.contains("doc_id") && cols.contains("url"),
        s"bloomfor columns must carry filters in $f: $cols")
      assert(!cols.contains("grp"),
        s"non-bloomfor column must not pay filter bytes in $f: $cols")
    }
    // correctness: point lookups through the bloom-pruned read path
    val hit = ((4242L * 2654435761L) % 1000003L)
    assert(spark.read.format(fmt).option("path", dir).load()
      .filter($"doc_id" === hit).count() >= 1)
    assert(spark.read.format(fmt).option("path", dir).load()
      .filter($"doc_id" === -1L).count() == 0)
  }

  test("zone property law: appends inherit, mismatch refuses, truncate re-sets, text zones refuse") {
    import spark.implicits._
    val dir = tmpDir()
    def df = spark.range(100).toDF("k").withColumn("v", $"k" * 2)
    df.write.format(fmt).option("path", dir)
      .option("bloomfor", "k").mode(SaveMode.Append).save()
    // bare append inherits: new files carry the filter too
    df.write.format(fmt).option("path", dir).mode(SaveMode.Append).save()
    DirSink.readManifest(dir).get._2.map(_._1).foreach { f =>
      assert(bloomColumnsOf(dir, f).contains("k"), s"$f lost the filter")
    }
    val e = intercept[Exception] {
      df.write.format(fmt).option("path", dir)
        .option("bloomfor", "v").mode(SaveMode.Append).save()
    }
    assert(e.getMessage.contains("bloomfor"))
    // truncate re-sets; 'none' drops
    df.write.format(fmt).option("path", dir)
      .option("bloomfor", "none").mode(SaveMode.Overwrite).save()
    assert(DirSink.zoneBloom(dir).isEmpty)
    // a text zone is refused outright: parquet is the one data plane
    val txt = tmpDir()
    val e2 = intercept[Exception] {
      df.write.format(fmt).option("path", txt)
        .option("format", "text").option("bloomfor", "k")
        .mode(SaveMode.Append).save()
    }
    assert(e2.getMessage.contains("parquet"))
  }

  test("catalog property + maintenance: CTAS records bloomfor; OPTIMIZE keeps it on rewritten files") {
    val wh = tmpDir()
    val cat = s"bloomcat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"CREATE TABLE $cat.db.t TBLPROPERTIES ('bloomfor' = 'doc_id') " +
      "AS SELECT (id * 2654435761) % 1000003 AS doc_id, id AS n FROM range(5000)")
    val dir = s"$wh/db/t"
    assert(DirSink.zoneBloom(dir) == Seq("doc_id"))
    spark.sql(s"OPTIMIZE $cat.db.t TARGET 1 FILES")
    assert(DirSink.zoneBloom(dir) == Seq("doc_id"),
      "compaction must keep the bloom coverage")
    DirSink.readManifest(dir).get._2.map(_._1).foreach { f =>
      assert(bloomColumnsOf(dir, f).contains("doc_id"),
        s"compacted file $f must re-carry the filter")
    }
    assert(spark.table(s"$cat.db.t").count() == 5000)
  }
}
