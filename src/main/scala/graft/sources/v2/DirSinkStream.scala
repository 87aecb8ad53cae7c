package graft.sources.v2

import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, ReadLimit, ReadMaxFiles, SupportsTriggerAvailableNow, Offset => StreamOffset}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The ONE stream position of a DirSink zone: the commit-log
  * generation at or below which every commit has been consumed; a
  * micro-batch covers the generations `(start, end]`. The row tail and
  * the change feed both speak it, as do batch time travel
  * (`asOfVersion`) and SQL `VERSION AS OF` — Delta's "tail the table by
  * log version" shape, which is what lets maintenance run under a live
  * stream. */
case class DirSinkGenOffset(gen: Long) extends StreamOffset {
  override def json(): String = s"""{"gen":$gen}"""
}

object DirSinkGenOffset {
  private val Json = """\{\s*"gen"\s*:\s*(-?\d+)\s*\}""".r

  /** Strict: exactly `{"gen":<long>}`. Anything else — the row tail's
    * retired file-count forms (`3`, `1@2`, `3#ab12`) included — is
    * refused, never guessed at. */
  def parse(json: String): DirSinkGenOffset =
    Some(json.trim).collect { case Json(g) => g }
      .flatMap(g => scala.util.Try(g.toLong).toOption)
      .map(DirSinkGenOffset(_))
      .getOrElse(throw new IllegalArgumentException(
        s"unreadable DirSink stream offset '$json': offsets are " +
          """{"gen":<generation>} — restart from a fresh checkpoint"""))
}

/** The shared base of the two DirSink micro-batch streams (the row
  * tail below and [[DirSinkCdfStream]]):
  *
  *   - the head is the zone's newest generation, read through the
  *     commit log;
  *   - offsets are MONOTONE: a probe never reports a generation below
  *     one it already reported;
  *   - `Trigger.AvailableNow` caps every batch at the head captured at
  *     query start — without it Spark takes the whole backlog as one
  *     batch and ignores the read limit, in exactly the catch-up mode
  *     that needs pacing;
  *   - admission: `maxPerTrigger = k` bounds each batch, in the unit
  *     the stream's [[admit]] counts. */
abstract class DirSinkGenStream(path: String, maxPerTrigger: Option[Int])
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  protected def head: Long = DirSink.currentGen(path).getOrElse(
    throw new IllegalArgumentException(
      s"no committed zone under $path — nothing to tail"))

  private var maxSeen = Long.MinValue
  private var availableNowEnd: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(head)

  /** The newest generation a batch may reach now. */
  private def available: Long = {
    val h = head
    if (h > maxSeen) maxSeen = h
    availableNowEnd.fold(maxSeen)(math.min(maxSeen, _))
  }

  override def latestOffset(): StreamOffset = DirSinkGenOffset(available)
  override def reportLatestOffset(): StreamOffset = latestOffset()

  override def getDefaultReadLimit: ReadLimit =
    maxPerTrigger.map(k => ReadLimit.maxFiles(k))
      .getOrElse(ReadLimit.allAvailable())

  override def latestOffset(start: StreamOffset,
                            limit: ReadLimit): StreamOffset = {
    val s = start.asInstanceOf[DirSinkGenOffset].gen
    val avail = available
    DirSinkGenOffset(limit match {
      case m: ReadMaxFiles if avail > s =>
        math.max(s, admit(s, avail, m.maxFiles()))
      case _ => math.max(s, avail)
    })
  }

  /** The end generation (at most `avail`) of a batch after `start`
    * under a read limit of `k`. */
  protected def admit(start: Long, avail: Long, k: Int): Long

  override def deserializeOffset(json: String): StreamOffset =
    DirSinkGenOffset.parse(json)

  override def stop(): Unit = ()
}

/** STREAMING READ — tail a landing zone by commit-log generation. A
  * batch `(s, e]` reads, generation by generation
  * ([[DirSinkLog.changesBetween]]):
  *
  *   - an append generation: its added files, one partition each,
  *     through the same executor-side reader as the batch scan;
  *   - a metadata-only generation (evolve, rename, checks) and a
  *     row-preserving maintenance generation (compact, OPTIMIZE's
  *     bin-packing, REORG PURGE — [[DirSink.RowPreservingOps]]):
  *     nothing, since the tail read those rows already or reads them
  *     from the generations that appended them;
  *   - any other rewrite (UPDATE, MERGE, copy-on-write or vector
  *     DELETE, overwrite, RESTORE, DROP COLUMN): the stream fails,
  *     naming the generation and its op — a row tail has no way to
  *     retract rows it emitted.
  *
  * A fresh tail (offset -1: nothing consumed) first reads the SNAPSHOT
  * at its first end generation, vector tags applied; that generation
  * is never older than the newest rewrite or the oldest generation the
  * log can replay ([[DirSinkLog.tailFloor]]). `maxFilesPerTrigger = k`
  * admits whole generations until the batch holds k files, and always
  * at least one (a fresh tail's snapshot counts as one). A replayed
  * batch re-derives the same files from the retained log, so
  * consumption is exactly-once across restarts, and files a
  * maintenance commit removed stay readable until vacuum retention
  * ages them out. */
class DirSinkMicroBatchStream(path: String, schema: StructType,
                              required: StructType,
                              maxFilesPerTrigger: Option[Int] = None)
    extends DirSinkGenStream(path, maxFilesPerTrigger) {

  override def initialOffset(): StreamOffset = DirSinkGenOffset(-1L)

  /** Every live file at `gen`, with its vector: a fresh tail must skip
    * dead positions (emitting them would be wrong data). */
  private def snapshot(gen: Long): Seq[DirSinkFilePartition] =
    DirSinkLog.at(path, gen).lines.map { l =>
      val e = DirSink.parseEntry(l)
      DirSinkFilePartition(path, e.name, dv = e.dv.map(_._1))
    }

  private def filesOf(c: DirSinkLog.GenChange): Seq[DirSinkFilePartition] =
    if (c.rewritesRows) throw new IllegalStateException(
      s"zone $path generation ${c.gen} " +
        s"(${if (c.op.isEmpty) "unrecorded op" else c.op}) rewrote rows " +
        "under a live row tail, which follows appends and row-preserving " +
        "maintenance only — restart the tail from a fresh checkpoint")
    else if (DirSink.RowPreservingOps(c.op)) Nil
    else c.addNames.map(n => DirSinkFilePartition(path, n))

  override protected def admit(start: Long, avail: Long, k: Int): Long = {
    var end = start
    var n = 0
    if (start < 0) {
      end = DirSinkLog.tailFloor(path, avail)
      n = snapshot(end).size
    }
    while (n < k && end < avail) {
      val it = DirSinkLog.changesBetween(path, end,
        math.min(avail, end + k)).iterator
      while (n < k && it.hasNext) {
        val c = it.next()
        n += filesOf(c).size
        end = c.gen
      }
    }
    end
  }

  override def planInputPartitions(start: StreamOffset,
                                   end: StreamOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[DirSinkGenOffset].gen
    val e = end.asInstanceOf[DirSinkGenOffset].gen
    (if (e <= s) Nil
     else if (s < 0) snapshot(e)
     else DirSinkLog.changesBetween(path, s, e).flatMap(filesOf))
      .toArray[InputPartition]
  }

  /** The zone's column mapping AT SUBSCRIPTION, like the schema: the
    * stream decodes with subscription-time logical names, so it must
    * map them through the subscription-time `#colmap` — a mid-stream
    * RENAME re-keys the head's map by the NEW names, and resolving it
    * per batch would silently NULL every mapped column (physical names
    * are stable for a file's whole life, so the pinned map stays
    * correct for files written before AND after the rename; a restart
    * re-reads both schema and map together). */
  private lazy val subscriptionColMap: Map[String, String] =
    DirSink.zoneColMap(path)

  /** One partition per committed file, read through the same parquet
    * reader as the batch scan. A zone that has used deletion vectors
    * reads the parquet row index too, so a snapshot's vectored files
    * skip their dead positions (same plumbing as the batch scan). */
  override def createReaderFactory(): PartitionReaderFactory = {
    val data0 = DirSink.asNullable(required)
    val data =
      if (!DirSink.readManifestRaw(path)
        .exists(_.header.contains(DirSinkDv.HeaderKey))) data0
      else StructType(data0.fields :+ StructField(
        org.apache.spark.sql.execution.datasources.parquet
          .ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME,
        LongType, nullable = true))
    val colmap = subscriptionColMap
    DirSinkParquetReaderFactory(
      DirSinkParquet.readerClosure(
        DirSink.toPhysical(DirSink.asNullable(schema), colmap),
        DirSink.toPhysical(data, colmap), Seq.empty),
      data0.toDDL, data.toDDL)
  }

  override def commit(end: StreamOffset): Unit = ()
}
