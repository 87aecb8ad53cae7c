package graft

import graft.sources.v2.{DirSink, DirSinkLog, DirSinkProtocol}
import org.apache.spark.sql.SaveMode
import org.scalatest.funsuite.AnyFunSuite

/** READER/WRITER PROTOCOL FEATURES (round 15): zones declare the
  * features a client must implement to read (`#features`) or commit
  * (`#wfeatures`) correctly; an unknown listed feature refuses loudly
  * — never a silent misread. The future-build cases are simulated by
  * hand-editing a committed segment to list a feature name this build
  * has never heard of, exactly what a newer library would leave
  * behind. */
class ProtocolFeatureSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graft_proto").toString

  private def write(dir: String, extra: Map[String, String] = Map.empty,
                    n: Int = 5): Unit = {
    import spark.implicits._
    var w = (1 to n).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      .coalesce(1).write.format(fmt).option("path", dir)
      .mode(SaveMode.Append)
    extra.foreach { case (k, v) => w = w.option(k, v) }
    w.save()
  }

  /** The NEWEST commit segment's header — each segment carries the
    * complete stamped header, so this is the header as published. */
  private def headHeader(dir: String): Map[String, String] =
    java.nio.file.Files.readString(
      new java.io.File(dir, "_graft_log").listFiles()
        .filter(_.getName.endsWith(".commit")).maxBy(_.getName).toPath)
      .split("\n").filter(_.startsWith("#")).map { h =>
        val eq = h.indexOf('=')
        (h.substring(1, eq), h.substring(eq + 1))
      }.toMap

  /** Append a header line to the NEWEST commit segment — the
    * footprint a future build's publish would leave. */
  private def declareFeature(dir: String, key: String,
                             value: String): Unit = {
    val seg = new java.io.File(dir, "_graft_log").listFiles()
      .filter(_.getName.endsWith(".commit")).maxBy(_.getName)
    val lines = java.nio.file.Files.readString(seg.toPath).split("\n")
    // merge into an existing list line (duplicate header keys resolve
    // last-wins, so a naive insert would be shadowed), else insert
    val edited =
      if (lines.exists(_.startsWith(s"#$key=")))
        lines.map(l => if (l.startsWith(s"#$key=")) s"$l,$value" else l)
          .mkString("\n")
      else (lines.take(1) ++ Array(s"#$key=$value") ++ lines.drop(1))
        .mkString("\n")
    java.nio.file.Files.writeString(seg.toPath, edited)
    java.nio.file.Files.deleteIfExists(
      seg.toPath.getParent.resolve("." + seg.getName + ".crc"))
    DirSinkLog.invalidate(dir)
  }

  test("a parquet zone declares parquet-plane") {
    val pq = tmpDir()
    write(pq)
    val h = headHeader(pq)
    assert(h.get("format").contains("parquet") &&
      h.get("features").exists(_.contains("parquet-plane")), s"$h")
  }

  test("RENAME COLUMN adds column-mapping to the reader list; the list carries forward") {
    val dir = tmpDir()
    write(dir)
    DirSink.renameColumn(dir, "v", "w")
    val h = headHeader(dir)
    assert(h("features").split(",").toSet ==
      Set("column-mapping", "parquet-plane"), s"$h")
    // an ordinary append (renamed schema) keeps the declared contract
    locally {
      import spark.implicits._
      Seq((6L, "v6")).toDF("id", "w").coalesce(1)
        .write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
    }
    val h2 = headHeader(dir)
    assert(h2("features").split(",").toSet ==
      Set("column-mapping", "parquet-plane"), s"$h2")
  }

  test("an unknown READER feature refuses reads, time travel, and commits — naming the feature") {
    val dir = tmpDir()
    write(dir); write(dir)
    declareFeature(dir, "features", "time-crystals")
    val e = intercept[UnsupportedOperationException] {
      spark.read.format(fmt).option("path", dir).load().count()
    }
    assert(e.getMessage.contains("time-crystals") &&
      e.getMessage.contains("reader"), e.getMessage)
    // era reads gate identically: address the edited head generation
    // through the public time-travel surface
    intercept[UnsupportedOperationException] {
      spark.read.format(fmt).option("path", dir)
        .option("asOfVersion", "1").load().count()
    }
    // and a commit on top is a read of the parent state first (the
    // writer may wrap the refusal — walk the cause chain)
    val we = intercept[Exception] { write(dir) }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(we).exists(c =>
      c.isInstanceOf[UnsupportedOperationException] &&
        c.getMessage.contains("time-crystals")), s"$we")
  }

  test("an unknown WRITER feature keeps reads working but refuses commits") {
    val dir = tmpDir()
    write(dir); write(dir)
    declareFeature(dir, "wfeatures", "vacuum-protocol-v9")
    // reads are unaffected: the feature only constrains committers
    assert(spark.read.format(fmt).option("path", dir).load().count() == 10)
    val e = intercept[Exception] { write(dir) }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: chain(t.getCause)
    assert(chain(e).exists(c =>
      c.isInstanceOf[UnsupportedOperationException] &&
        c.getMessage.contains("vacuum-protocol-v9") &&
        c.getMessage.contains("writer")),
      s"expected the writer refusal in the failure chain: $e")
  }

  test("checkWrite implies checkRead; supported sets nest") {
    assert(DirSinkProtocol.ReaderSupported
      .subsetOf(DirSinkProtocol.WriterSupported))
    // stamping is idempotent: a second stamp changes nothing
    val h = Map("format" -> "parquet", "colmap" -> "v:p_0",
      "bucket" -> "id:4")
    val once = DirSinkProtocol.stamp(h)
    assert(DirSinkProtocol.stamp(once) == once)
    assert(once("features") == "column-mapping,parquet-plane")
    assert(once("wfeatures") == "bucketing")
  }
}
