package graft

import graft.sources.v2.{DirSink, DirSinkStreamingWrite}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** Randomized EXACTLY-ONCE law for the streaming WRITE path: 25
  * seeded-random sequences of {either writer commits its next epoch,
  * either writer replays a random already-committed epoch (as a
  * crash-recovered run would — under its own STABLE query id, which
  * is what Spark passes to the write), compact}, with the zone's row
  * multiset checked against the expected one after every op — each
  * writer's `#txn` mark (round 16) must make every replay a no-op
  * REGARDLESS of how much maintenance rewrote the epoch-carrying
  * lines away, while TWO CONCURRENT
  * writers' independent epoch counters never swallow each other's
  * legitimate commits. */
class EpochLawSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val fmt = "graft.sources.v2.DirSinkSource"
  private val schema = StructType.fromDDL("id BIGINT, v STRING")

  private def commitEpoch(dir: String, qid: String, epoch: Long,
                          ids: Seq[Long]): Unit = {
    val sw = new DirSinkStreamingWrite(dir, schema, qid, truncate = false)
    val factory = sw.createStreamingWriterFactory(null)
    val msgs = ids.zipWithIndex.map { case (id, p) =>
      val w = factory.createWriter(p, p.toLong, epoch)
      w.write(new GenericInternalRow(
        Array[Any](id, UTF8String.fromString(s"e$epoch-$id"))))
      w.commit()
    }
    sw.commit(epoch, msgs.toArray)
  }

  test("epoch replays stay no-ops through arbitrary maintenance interleavings") {
    import spark.implicits._
    spark.sparkContext
    val rnd = new scala.util.Random(424242L)
    (1 to 25).foreach { caseId =>
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft_epoch_law_$caseId").toString + "/z"
      // TWO independent streaming writers, each with its own stable
      // query id and its own epoch counter (distinct checkpoints)
      val nextEpoch = Array(0L, 0L)
      var nextId = 0L
      val expected = scala.collection.mutable.ArrayBuffer[Long]()

      def commit(w: Int): Unit = {
        val ids = (0 until rnd.nextInt(3) + 1).map { _ =>
          nextId += 1; nextId }
        commitEpoch(dir, s"writer-$w", nextEpoch(w), ids)
        expected ++= ids
        nextEpoch(w) += 1
      }
      def replay(w: Int): Unit = if (nextEpoch(w) > 0) {
        val e = rnd.nextInt(nextEpoch(w).toInt).toLong
        // the replayed payload differs (a crash can lose the original
        // batch's nondeterminism) — it must be DROPPED either way; the
        // recovered run keeps writer w's stable query id
        commitEpoch(dir, s"writer-$w", e, Seq(900000L + e))
      }
      def compact(): Unit = if (expected.nonEmpty)
        DirSink.compact(spark, dir, targetFiles = rnd.nextInt(2) + 1)

      commit(0)
      (1 to 14).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 | 1 => commit(0)
          case 2 => commit(1)
          case 3 => replay(0)
          case 4 => replay(1)
          case 5 => compact()
        }
      }
      val got = spark.read.format(fmt).option("path", dir).load()
        .select($"id").as[Long].collect().toSeq.sorted
      assert(got == expected.sorted.toSeq,
        s"case $caseId: expected ${expected.size} rows, got ${got.size} " +
          s"(emax=${DirSink.committedEpochMax(dir)})")
    }
  }
}
