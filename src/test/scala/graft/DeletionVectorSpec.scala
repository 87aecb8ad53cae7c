package graft

import graft.sources.v2.{DirSink, DirSinkDv, DirSinkTable}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{Filter, In, LessThan}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** DELETION VECTORS — merge-on-read DELETE (round 15). The laws:
  *
  *   - a scattered DELETE touches NO data file: the file list is
  *     unchanged, each touched line gains a `dv=` tag, and every read
  *     path (projection, filters, aggregates, count(*)) answers as if
  *     the rows were rewritten away;
  *   - positions are file ordinals from Spark's split-stable parquet
  *     row index — the writer's `_pos` and the reader's skip agree;
  *   - vectors are immutable and UNION on re-delete: time travel to
  *     the generation between two DELETEs sees exactly the first;
  *   - a file whose union covers every physical row drops entirely;
  *   - count(*) stays metadata-only (live = physical − cardinality,
  *     proven with the data files deleted); min/max refuse on
  *     vectored files — a deleted row may hold the extremum;
  *   - the change feed emits exactly the newly-deleted rows;
  *   - OPTIMIZE re-materializes (clean files, no tags) and vacuum
  *     sweeps vectors no retained generation references — while
  *     retained ones are protected;
  *   - the zone declares the `deletion-vectors` reader feature: a
  *     build that would parse the tag as noise refuses instead of
  *     returning deleted rows. */
class DeletionVectorSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("graft_dv").toString

  /** 4 range-clustered files, ids 0..99 — scattered predicates are
    * undecidable by bounds, the vector case. */
  private def build(dir: String): Unit = {
    (0 until 4).foreach { k =>
      spark.range(k * 25L, k * 25L + 25L)
        .select(col("id"), (col("id") % 7).as("v"))
        .coalesce(1)
        .write.format(fmt).option("path", dir)
        .mode(SaveMode.Append).save()
    }
  }

  private def table(dir: String) =
    new DirSinkTable(dir, StructType.fromDDL("id BIGINT, v BIGINT"))

  private def load(dir: String) =
    spark.read.format(fmt).option("path", dir).load()

  private def names(dir: String): Seq[String] =
    DirSink.readManifest(dir).get._2.map(_._1)

  private def withDv[T](body: => T): T = {
    spark.conf.set(DirSinkDv.EnabledKey, "true")
    try body finally spark.conf.unset(DirSinkDv.EnabledKey)
  }

  test("[parquet] a scattered DELETE writes vectors, not files: list unchanged, answers exact") {
    val dir = tmp()
    build(dir)
    val before = names(dir)
    val dead = Array(3L, 7L, 31L, 64L, 65L, 99L)
    withDv { table(dir).deleteWhere(Array[Filter](In("id", dead.map(_.asInstanceOf[AnyRef])))) }
    assert(names(dir) == before,
      "merge-on-read: the data file list must not change")
    assert(DirSink.readManifestLines(dir).get._2
      .count(_.contains("dv=")) == 4, "every touched file is tagged")
    val live = load(dir)
    assert(live.count() == 94)
    assert(live.agg(sum("id")).head.getLong(0) ==
      (0L until 100L).sum - dead.sum)
    assert(live.filter(col("id") === 31L).count() == 0)
    assert(live.filter(col("id") === 30L).count() == 1)
    // the `_pos` coordinates the vectors address are the reader's:
    // file 0 lost ordinals 3 and 7, so its positions skip them
    val pos0 = load(dir).select(col("_file"), col(DirSinkDv.PosCol),
      col("id")).filter(col("id") < 25)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._2)
    assert(pos0.forall { case (p, id) => p == id },
      s"positions are file ordinals: ${pos0.take(10).toSeq}")
    assert(!pos0.map(_._1).contains(3L) && !pos0.map(_._1).contains(7L))
  }

  test("re-DELETE unions; time travel between the two sees exactly the first") {
    val dir = tmp()
    build(dir)
    withDv {
      table(dir).deleteWhere(Array[Filter](
        In("id", Array(5L, 6L).map(_.asInstanceOf[AnyRef])))) // gen 4
      table(dir).deleteWhere(Array[Filter](
        In("id", Array(7L, 50L).map(_.asInstanceOf[AnyRef])))) // gen 5
    }
    assert(load(dir).count() == 96)
    val atFirst = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", "4").load()
    assert(atFirst.count() == 98 &&
      atFirst.filter(col("id").isin(5L, 6L)).count() == 0 &&
      atFirst.filter(col("id") === 7L).count() == 1,
      "the era's line carries the era's vector")
    val preDelete = spark.read.format(fmt).option("path", dir)
      .option("asOfVersion", "3").load()
    assert(preDelete.count() == 100)
  }

  test("a union covering every physical row drops the file; count(*) stays metadata-only") {
    val dir = tmp()
    build(dir)
    withDv {
      table(dir).deleteWhere(Array[Filter](
        In("id", (26L until 50L).map(_.asInstanceOf[AnyRef]).toArray)))
      assert(names(dir).size == 4, "25..49 minus one survivor: still 4 files")
      table(dir).deleteWhere(Array[Filter](
        In("id", Array(25L).map(_.asInstanceOf[AnyRef]))))
    }
    assert(names(dir).size == 3, "the fully-dead file leaves the manifest")
    assert(load(dir).count() == 75)
    // count(*) answers from the manifest: live = physical − cardinality
    // — proven by deleting the data files (min/max would need a scan
    // and refuse; count alone still answers)
    names(dir).foreach(n =>
      assert(new java.io.File(dir, n).delete(), s"fixture: $n"))
    val c = load(dir).agg(count(lit(1))).head.getLong(0)
    assert(c == 75, s"metadata-only live count, got $c")
  }

  test("the change feed emits exactly the newly vector-deleted rows") {
    val dir = tmp()
    build(dir)
    val gen = DirSink.currentGen(dir).get
    withDv {
      table(dir).deleteWhere(Array[Filter](
        In("id", Array(11L, 42L, 73L).map(_.asInstanceOf[AnyRef]))))
    }
    val feed = graft.sources.v2.ChangeFeed.read(spark, dir, gen + 1)
    val rows = feed.select(col("id"), col("_change_type"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    assert(rows.toSeq == Seq((11L, "delete"), (42L, "delete"),
      (73L, "delete")),
      s"exactly the deleted rows, no inserts: ${rows.toSeq}")
  }

  test("OPTIMIZE re-materializes; vacuum protects retained vectors and sweeps aged ones") {
    val dir = tmp()
    build(dir)
    withDv {
      table(dir).deleteWhere(Array[Filter](
        In("id", Array(1L, 98L).map(_.asInstanceOf[AnyRef]))))
    }
    val dvDir = new java.io.File(dir, DirSinkDv.DirName)
    assert(dvDir.listFiles().nonEmpty)
    // retention protects: the vectored generation is retained, so a
    // dry-run vacuum with full retention must NOT list its vectors
    val kept = DirSink.vacuum(dir, Long.MaxValue / 2, dryRun = true)
    assert(!kept.exists(_.startsWith(DirSinkDv.DirName)), kept.toString)
    DirSink.compact(spark, dir, 1)
    assert(!DirSink.readManifestLines(dir).get._2.exists(_.contains("dv=")),
      "compaction output is clean — it GCs the vectors")
    assert(load(dir).count() == 98 &&
      load(dir).agg(sum("id")).head.getLong(0) == (0L until 100L).sum - 99L)
    DirSink.vacuum(dir, 0L)
    assert(Option(dvDir.listFiles()).forall(_.isEmpty),
      "no retained generation references the vectors after compact+vacuum(0)")
    assert(load(dir).count() == 98)
  }

  test("the zone declares the deletion-vectors reader feature") {
    val dir = tmp()
    build(dir)
    withDv {
      table(dir).deleteWhere(Array[Filter](
        In("id", Array(2L).map(_.asInstanceOf[AnyRef]))))
    }
    val seg = new java.io.File(dir, "_graft_log").listFiles()
      .filter(_.getName.endsWith(".commit")).maxBy(_.getName)
    val txt = java.nio.file.Files.readString(seg.toPath)
    assert(txt.contains("deletion-vectors"), txt)
  }

  test("a shallow clone of a vectored zone reads live rows only (absolute vector pointers)") {
    val src = tmp(); val dst = tmp()
    build(src)
    withDv {
      table(src).deleteWhere(Array[Filter](
        In("id", Array(10L, 20L).map(_.asInstanceOf[AnyRef]))))
    }
    DirSink.cloneZone(src, dst)
    assert(load(dst).count() == 98 &&
      load(dst).filter(col("id").isin(10L, 20L)).count() == 0)
  }

  test("a vector DELETE under a running tail fails the stream loudly — never a silent re-emit") {
    import graft.sources.v2.DirSinkMicroBatchStream
    val dir = tmp()
    build(dir) // 4 files, generations 0..3
    val schema = StructType.fromDDL("id BIGINT, v BIGINT")
    val stream = new DirSinkMicroBatchStream(dir, schema, schema)
    val s0 = stream.initialOffset()
    // a fresh tail's first batch: the snapshot of all 4 files
    val eAll = stream.latestOffset(s0,
      org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable())
    assert(eAll.json() == """{"gen":3}""", eAll.json())
    assert(stream.deserializeOffset(eAll.json()) == eAll,
      "the offset survives the checkpoint round trip")
    assert(stream.planInputPartitions(s0, eAll).length == 4)
    // a vector DELETE re-tags CONSUMED files' lines (ids 30,31 live in
    // file 1): the next batch reaches its generation and fails, naming
    // it — the tail never re-reads the re-tagged file
    withDv {
      table(dir).deleteWhere(Array[Filter](
        In("id", Array(30L, 31L).map(_.asInstanceOf[AnyRef]))))
    }
    val e = intercept[IllegalStateException] {
      stream.planInputPartitions(eAll, stream.latestOffset(eAll,
        org.apache.spark.sql.connector.read.streaming.ReadLimit
          .allAvailable()))
    }
    assert(e.getMessage.contains("generation 4 (delete)"), e.getMessage)
    // a FRESH tail reads the live rows exactly — end to end through a
    // real streaming query: emitting a dead position would be wrong
    // DATA, not merely replayed data
    val fresh = new DirSinkMicroBatchStream(dir, schema, schema)
    val parts = fresh.planInputPartitions(fresh.initialOffset(),
      fresh.latestOffset())
    assert(parts.length == 4, "the re-tagged file is still one file")
    val q = spark.readStream.format(fmt).option("path", dir).load()
      .writeStream.format("memory").queryName("dv_fresh_tail")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination(120000) finally q.stop()
    val got = spark.table("dv_fresh_tail")
      .agg(count(lit(1)).as("n"), sum("id").as("s")).head
    assert(got.getLong(0) == 98 &&
      got.getLong(1) == (0L until 100L).sum - 30L - 31L,
      s"the fresh tail must skip the vectored positions: $got")
  }

  test("CoW and vectors agree: same answers either way") {
    val a = tmp(); val b = tmp()
    build(a); build(b)
    val pred = Array[Filter](LessThan("v", 3L),
      In("id", (10L until 90L).map(_.asInstanceOf[AnyRef]).toArray))
    table(a).deleteWhere(pred) // CoW
    withDv { table(b).deleteWhere(pred) } // vectors
    val va = load(a).orderBy("id").collect().map(_.toSeq).toSeq
    val vb = load(b).orderBy("id").collect().map(_.toSeq).toSeq
    assert(va == vb, "merge-on-read must be answer-identical to CoW")
    assert(names(b).size == 4, "vectors keep the file list")
    assert(DirSink.readManifestLines(b).get._2.exists(_.contains("dv=")))
    assert(!DirSink.readManifestLines(a).get._2.exists(_.contains("dv=")))
  }
}
