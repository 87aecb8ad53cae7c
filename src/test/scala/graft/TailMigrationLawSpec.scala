package graft

import graft.sources.v2.{DirSink, DirSinkFilePartition, DirSinkMicroBatchStream, DirSinkOffset}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.connector.read.streaming.ReadLimit
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Randomized LAW spec for streaming-offset migration across
  * compaction: 40 seeded-random op sequences of
  * {append, consume-all, quiesced-compact}, each followed by a
  * simulated tail restart (fresh stream instance, checkpointed offset
  * carried over — exactly what Spark's checkpoint does), with the
  * EXACTLY-ONCE accounting checked after every step:
  *
  *   rows consumed  ==  rows committed, each exactly once.
  *
  * The tail drives [[DirSinkMicroBatchStream]] directly (latestOffset →
  * planInputPartitions → the real partition reader), so the law runs
  * hundreds of migration decisions per suite run without Spark
  * streaming's per-query startup cost. Compaction only ever happens
  * with the tail at the zone boundary (the documented quiesce recipe);
  * the mid-history refusal has its own directed test in
  * TailMigrationSpec. */
class TailMigrationLawSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"
  private val schema = StructType.fromDDL("id BIGINT, v STRING")

  private def readBatch(dir: String, stream: DirSinkMicroBatchStream,
                        from: DirSinkOffset): (DirSinkOffset, Seq[Long]) = {
    val end = stream.latestOffset(from, ReadLimit.allAvailable())
      .asInstanceOf[DirSinkOffset]
    val parts = stream.planInputPartitions(from, end)
    // the stream's own factory: the same parquet reader as the batch scan
    val factory = stream.createReaderFactory()
    val ids = parts.flatMap { p =>
      val r = factory.createReader(p.asInstanceOf[DirSinkFilePartition])
      val buf = scala.collection.mutable.ArrayBuffer[Long]()
      while (r.next()) buf += r.get().getLong(0)
      r.close()
      buf
    }.toSeq
    (end, ids)
  }

  test("exactly-once accounting holds across random append/compact/restart sequences") {
    import spark.implicits._
    spark.sparkContext // force the session: DirSink.fs resolves through it
    val rnd = new scala.util.Random(20260815L)
    (1 to 40).foreach { caseId =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_mig_law_$caseId").toString + "/z"
      var nextId = 0L
      val committed = scala.collection.mutable.ArrayBuffer[Long]()
      val consumed = scala.collection.mutable.ArrayBuffer[Long]()
      var stream = new DirSinkMicroBatchStream(dir, schema, schema)
      var offset = stream.initialOffset().asInstanceOf[DirSinkOffset]
      var atBoundary = true // no unconsumed suffix yet

      def append(): Unit = {
        val k = rnd.nextInt(3) + 1
        val rows = (0 until k).map { _ => nextId += 1; nextId }
        rows.map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
          .write.format(fmt).option("path", dir)
          .mode(SaveMode.Append).save()
        committed ++= rows
        atBoundary = false
      }
      def consume(): Unit = {
        val (end, ids) = readBatch(dir, stream, offset)
        offset = end
        consumed ++= ids
        atBoundary = true
      }
      def compactAndRestart(): Unit = {
        if (!atBoundary) consume() // the quiesce recipe
        DirSink.compact(spark, dir,
          targetFiles = rnd.nextInt(2) + 1)
        // restart: a FRESH stream instance resumes from the carried
        // offset, exactly as a checkpointed query restart does
        stream = new DirSinkMicroBatchStream(dir, schema, schema)
      }

      append() // a zone exists before anything tails it
      (1 to 10).foreach { _ =>
        rnd.nextInt(3) match {
          case 0 => append()
          case 1 => consume()
          case 2 => if (committed.nonEmpty) compactAndRestart() else append()
        }
      }
      consume() // drain

      assert(consumed.sorted == committed.sorted,
        s"case $caseId: exactly-once broken — committed " +
          s"${committed.size} rows ${committed.sorted.take(20)}…, consumed " +
          s"${consumed.size} rows ${consumed.sorted.take(20)}… " +
          s"(offset $offset, remaps ${DirSink.offsetRemaps(dir)})")
      assert(consumed.distinct.size == consumed.size,
        s"case $caseId: duplicate emission — ${consumed.size} consumed, " +
          s"${consumed.distinct.size} distinct")
    }
  }
}
