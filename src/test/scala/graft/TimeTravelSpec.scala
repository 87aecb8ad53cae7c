package graft

import graft.sources.v2.DirSink
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** TIMESTAMP TIME TRAVEL (round-11 verdict task 4): every commit stamps
  * its manifest lines with wall-clock millis (`t=` field), and
  *   - `option("asOfTimestamp", t)` resolves to the newest generation
  *     committed at or before t (the "read the corpus as of the
  *     training-run cut at 14:02" read, no generation bookkeeping
  *     needed),
  *   - catalog tables get the SQL forms: `VERSION AS OF g` (the
  *     generation, as `asOfVersion`) and `TIMESTAMP AS OF ts`.
  * A timestamp before the zone's first commit errors, mirroring
  * asOfVersion's past-the-head guard. */
class TimeTravelSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_tt").toString

  test("asOfTimestamp reproduces the zone between two commits") {
    import spark.implicits._
    val dir = tmpDir()
    val before = System.currentTimeMillis() - 1
    Seq((1L, "a")).toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()
    Thread.sleep(20) // commits are time-ordered; give them distinct stamps
    val cut = System.currentTimeMillis()
    Thread.sleep(20)
    Seq((2L, "b")).toDF("id", "v").coalesce(1).write.format(fmt)
      .option("path", dir).mode(SaveMode.Append).save()

    def read(t: Long) = spark.read.format(fmt).option("path", dir)
      .option("asOfTimestamp", t).load()
      .as[(Long, String)].collect().toSeq.sorted

    assert(read(cut) == Seq((1L, "a")),
      "the cut between the commits must see only the first generation")
    assert(read(System.currentTimeMillis()) ==
      Seq((1L, "a"), (2L, "b")), "a current timestamp sees everything")
    // the manifest lines carry the stamps the resolution used
    val ts = DirSink.readManifestEntries(dir).get._2.flatMap(_.ts)
    assert(ts.size == 2 && ts == ts.sorted, s"commit stamps missing: $ts")
    // before the first commit: error, not a silent empty corpus
    val e = intercept[Exception] { read(before) }
    assert(e.getMessage.contains("asOfTimestamp") ||
      Option(e.getCause).exists(_.getMessage.contains("asOfTimestamp")))
    // version and timestamp are mutually exclusive
    intercept[Exception] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfVersion", 0).option("asOfTimestamp", cut).load().count()
    }
  }

  test("catalog SQL time travel: VERSION AS OF and TIMESTAMP AS OF") {
    import spark.implicits._
    val s = spark
    if (s.conf.getOption("spark.sql.catalog.graftcat").isEmpty) {
      s.conf.set("spark.sql.catalog.graftcat", "graft.sources.v2.GraftCatalog")
      s.conf.set("spark.sql.catalog.graftcat.warehouse",
        java.nio.file.Files.createTempDirectory("graft_warehouse").toString)
    }
    s.sql("CREATE NAMESPACE IF NOT EXISTS graftcat.tt")
    s.sql("CREATE TABLE graftcat.tt.t (id BIGINT, v STRING)")
    s.sql("INSERT INTO graftcat.tt.t VALUES (1, 'a')")
    val wh = s.conf.get("spark.sql.catalog.graftcat.warehouse")
    val v1 = DirSink.currentGen(s"$wh/tt/t").get // after 1st insert
    Thread.sleep(20)
    val cutMs = System.currentTimeMillis()
    Thread.sleep(20)
    s.sql("INSERT INTO graftcat.tt.t VALUES (2, 'b')")

    assert(s.sql(s"SELECT id FROM graftcat.tt.t VERSION AS OF $v1")
      .as[Long].collect().toSeq == Seq(1L))
    // timestamp_millis keeps the literal timezone-free (sessions differ)
    assert(s.sql(
      s"SELECT id FROM graftcat.tt.t TIMESTAMP AS OF timestamp_millis(${cutMs}L)")
      .as[Long].collect().toSeq == Seq(1L))
    assert(s.sql("SELECT count(*) FROM graftcat.tt.t").head.getLong(0) == 2)
  }
}
