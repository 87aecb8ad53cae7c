package graft

import graft.sources.v2.{DirSink, DirSinkFilePartition, DirSinkMicroBatchStream}
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit}
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Randomized LAW spec for a row tail under maintenance: 40
  * seeded-random sequences of {append, compact, optimize-small,
  * partial consume, restart}, in any order — maintenance lands
  * wherever the tail happens to be, mid-history included — then a
  * drain, with the EXACTLY-ONCE accounting checked at the end:
  *
  *   rows consumed  ==  rows committed, each exactly once, and no
  *   batch ever fails.
  *
  * A partial consume reads one batch of at most 1–3 files; a restart
  * is a fresh stream instance resumed from the checkpointed offset's
  * JSON, exactly as Spark's checkpoint does. The tail drives
  * [[DirSinkMicroBatchStream]] directly (latestOffset →
  * planInputPartitions → the real partition reader), so the law runs
  * hundreds of planning decisions per suite run without Spark
  * streaming's per-query startup cost. */
class TailMigrationLawSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"
  private val schema = StructType.fromDDL("id BIGINT, v STRING")

  private def readBatch(stream: DirSinkMicroBatchStream, from: Offset,
                        limit: ReadLimit): (Offset, Seq[Long]) = {
    val end = stream.latestOffset(from, limit)
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
      var offset = stream.initialOffset()
      val ops = scala.collection.mutable.ArrayBuffer[String]()

      def append(): Unit = {
        val k = rnd.nextInt(3) + 1
        val rows = (0 until k).map { _ => nextId += 1; nextId }
        rows.map(i => (i, s"r$i")).toDF("id", "v").coalesce(1)
          .write.format(fmt).option("path", dir)
          .mode(SaveMode.Append).save()
        committed ++= rows
      }
      def consume(limit: ReadLimit): Boolean = {
        val (end, ids) = readBatch(stream, offset, limit)
        val moved = end.json() != offset.json()
        offset = end
        consumed ++= ids
        moved
      }

      append() // a zone exists before anything tails it
      (1 to 12).foreach { _ =>
        rnd.nextInt(5) match {
          case 0 => ops += "append"; append()
          case 1 =>
            val k = rnd.nextInt(3) + 1
            ops += s"consume($k)"; consume(ReadLimit.maxFiles(k))
          case 2 =>
            val n = rnd.nextInt(2) + 1
            ops += s"compact($n)"; DirSink.compact(spark, dir, n)
          case 3 =>
            ops += "optimize-small"; DirSink.compactSmall(spark, dir, 1L << 30)
          case 4 =>
            ops += "restart"
            stream = new DirSinkMicroBatchStream(dir, schema, schema)
            offset = stream.deserializeOffset(offset.json())
        }
      }
      while (consume(ReadLimit.allAvailable())) () // drain

      assert(consumed.sorted == committed.sorted,
        s"case $caseId (${ops.mkString(", ")}): exactly-once broken — " +
          s"committed ${committed.size} rows ${committed.sorted.take(20)}…, " +
          s"consumed ${consumed.size} rows ${consumed.sorted.take(20)}… " +
          s"(offset ${offset.json()})")
      assert(consumed.distinct.size == consumed.size,
        s"case $caseId: duplicate emission — ${consumed.size} consumed, " +
          s"${consumed.distinct.size} distinct")
    }
  }
}
