package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => StreamOffset}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** STREAMING CHANGE-DATA-FEED READ — the Delta `readChangeFeed`
  * surface over a DirSink zone:
  *
  * {{{
  * spark.readStream.format("graft.sources.v2.DirSinkSource")
  *   .option("path", zone)
  *   .option("readChangeFeed", "true")
  *   .option("startingVersion", 3)   // optional; default = changes
  *   .load()                          //   committed AFTER stream start
  * // zone columns + _change_type + _commit_version
  * }}}
  *
  * Offsets are GENERATIONS ([[DirSinkGenOffset]], shared with the row
  * tail), so a micro-batch is a contiguous generation range and
  * replay-after-crash re-derives the identical change set from the
  * retained log — exactly-once without any per-row bookkeeping. Two
  * planning shapes, chosen per generation
  * ([[DirSinkLog.changesBetween]]):
  *
  *   - APPEND generations (the overwhelming majority in a landing
  *     zone) plan their added files directly as file partitions —
  *     executor-side reads, full scan-out, ZERO driver materialization;
  *     the reader appends the three CDF columns as constants.
  *   - REWRITE generations (DELETE/UPDATE/MERGE/compact/overwrite)
  *     run the [[ChangeFeed]] multiset diff AS A SPARK JOB at planning
  *     time and STAGE the net changed rows (carried rows cancel in
  *     exceptAll — a compaction is an empty change set) as parquet
  *     files under the zone's `_cdf-scratch/<query scope>/`, planned
  *     as staged-file partitions read back on EXECUTORS. No row data
  *     ever materializes on the driver — a MERGE that nets 1 TB of
  *     change streams through the scratch files exactly like an append
  *     streams through its committed files (round-15 verdict task 1;
  *     Delta gets the same property by writing CDC files at commit
  *     time). The scratch is per-query-scope and per-generation,
  *     overwritten on replay (deterministic re-derivation from the
  *     log), swept eagerly when the batch COMMITS and age-swept by
  *     vacuum as a crash backstop.
  *
  * Retention and schema discipline are [[ChangeFeed]]'s: a range
  * behind vacuum retention fails loudly; a schema change inside one
  * micro-batch's range is refused (restart the consumer from the
  * evolve generation). Head, pacing and `Trigger.AvailableNow` are
  * the row tail's ([[DirSinkGenStream]]). */
object DirSinkCdf {
  val OptionKey = "readChangeFeed"
  val StartKey = "startingVersion"

  /** Zone-root scratch dir for staged rewrite diffs (a reader-owned
    * sibling of the CoW writer's `_rewrite-*`). */
  val ScratchDirName = "_cdf-scratch"

  def cdfSchema(zone: StructType): StructType =
    StructType(DirSink.asNullable(zone).fields ++ Seq(
      StructField(ChangeFeed.ChangeTypeCol, StringType, nullable = false),
      StructField(ChangeFeed.CommitVersionCol, LongType, nullable = false),
      StructField(ChangeFeed.CommitTsCol,
        org.apache.spark.sql.types.TimestampType, nullable = true)))
}

/** The CDF table surface: schema = zone schema + the two feed columns;
  * micro-batch read only (batch feeds are [[ChangeFeed.read]]). */
class DirSinkCdfTable(path: String, zoneSchema: StructType,
                      startingVersion: Option[Long]) extends Table
    with SupportsRead {
  override def name(): String = s"dirsink-cdf:$path"
  override def schema(): StructType = DirSinkCdf.cdfSchema(zoneSchema)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      private val maxGens =
        Option(options.get("maxGensPerTrigger")).map(_.toInt)
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = DirSinkCdf.cdfSchema(zoneSchema)
        override def description(): String =
          s"DirSinkCdfScan($path, startingVersion=$startingVersion)"
        override def toMicroBatchStream(
            checkpointLocation: String): MicroBatchStream =
          new DirSinkCdfStream(path, zoneSchema, startingVersion, maxGens,
            checkpointLocation)
      }
    }
}

/** One staged diff file of a rewrite generation: net-change rows as a
  * parquet file under the zone's `_cdf-scratch`, read back
  * executor-side — the driver only ever holds the file NAME. */
case class DirSinkCdfStagedPartition(file: String, changeType: String,
                                     gen: Long, tsMs: Option[Long])
    extends InputPartition

/** One appended file of an append generation, read executor-side. */
case class DirSinkCdfFilePartition(base: DirSinkFilePartition,
                                   changeType: String, gen: Long,
                                   tsMs: Option[Long])
    extends InputPartition

/** Admission (`option("maxGensPerTrigger", k)`): a feed started deep
  * in a zone's history replays it in bounded, individually
  * checkpointed ranges of k generations instead of one catch-up
  * mega-batch. */
class DirSinkCdfStream(path: String, zoneSchema: StructType,
                       startingVersion: Option[Long],
                       maxGensPerTrigger: Option[Int] = None,
                       checkpointLocation: String = "")
    extends DirSinkGenStream(path, maxGensPerTrigger) {

  override protected def admit(start: Long, avail: Long, k: Int): Long =
    math.min(avail, start + k)

  /** Default start = the head AT STREAM START: the feed delivers
    * changes committed after the consumer subscribed (Delta's
    * semantics without startingVersion). `startingVersion = g` replays
    * history from generation g inclusive — as far back as retention
    * keeps the log. */
  override def initialOffset(): StreamOffset =
    DirSinkGenOffset(startingVersion.map(_ - 1).getOrElse(head))

  // the last planned range and its partitions: Spark may plan one
  // micro-batch more than once, and each planning would re-run both
  // exceptAll diff jobs and restage every rewrite generation. Dropped
  // in `commit`, which sweeps the staged files the memo names.
  private var planned: Option[((Long, Long), Array[InputPartition])] = None

  override def planInputPartitions(start: StreamOffset,
                                   end: StreamOffset): Array[InputPartition] = {
    val range = (start.asInstanceOf[DirSinkGenOffset].gen,
      end.asInstanceOf[DirSinkGenOffset].gen)
    planned.collect { case (`range`, parts) => parts }.getOrElse {
      val parts = planRange(range._1, range._2)
      planned = Some(range -> parts)
      parts
    }
  }

  private def planRange(s: Long, e: Long): Array[InputPartition] = {
    if (e <= s) return Array.empty
    val changes = DirSinkLog.changesBetween(path, s, e)
    // a RENAME inside the range is positionally harmless (physical
    // file names never change); only arity/type changes refuse
    val shapes = changes.map(_.schemaDdl).distinct.map(d =>
      StructType.fromDDL(d).fields.map(_.dataType).toSeq).distinct
    if (shapes.size > 1) throw new UnsupportedOperationException(
      s"zone $path changed schema inside one micro-batch's range " +
        s"($s, $e] — restart the consumer from the evolve generation")
    val spark = SparkSession.active
    val fmtName = classOf[DirSinkSource].getName

    // the stream's OWN schema (fixed at subscription) is the staging
    // schema for diff rows — a generation's era DDL may be narrower
    // (the rewrite predates a later evolve inside the replayed history)
    // and staging with it would mis-shape the rows the head-width
    // consumer expects. Staged files carry the subscription-time
    // PHYSICAL names, so one parquet reader serves appended and staged
    // files alike ([[createReaderFactory]])
    val streamSchema = DirSink.asNullable(zoneSchema)
    val stagedSchema = DirSink.toPhysical(streamSchema, subscriptionColMap)

    // a\b and b\a from ONE pair of cached inputs (each side read once,
    // not once per direction), WRITTEN as parquet scratch files — both
    // jobs run entirely on executors; the driver handles only the
    // written file NAMES (round-15: the old shape collect()ed the net
    // rows, which a 1%-of-100TB MERGE kills)
    def stagedDiff(c: DirSinkLog.GenChange): Seq[InputPartition] = {
      def rd(g: Long, fs: Seq[String]) = {
        val df =
          if (fs.isEmpty)
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              streamSchema)
          else spark.read.format(fmtName).option("path", path)
            .option("asOfVersion", g).option("files", fs.mkString(","))
            // the stream's subscription schema is the decode schema —
            // era-schema travel would mis-shape rows (round-14 fix #7)
            .option(DirSinkSource.EraSchemaKey, "false")
            .load()
        // pin to the stream's column positions: the zone head may have
        // evolved WIDER since subscription; the feed speaks the
        // subscription schema
        df.select(df.columns.take(streamSchema.length)
          .map(org.apache.spark.sql.functions.col).toSeq: _*)
      }
      def stage(df: org.apache.spark.sql.DataFrame, tag: String,
                tpe: String): Seq[InputPartition] = {
        val dir = new Path(scratchScope, s"g${c.gen}-$tag")
        val f = DirSink.fs(path)
        if (f.exists(dir)) f.delete(dir, true) // replayed batch: re-derive
        val (owf, conf) = DirSinkParquet.writerFactory(stagedSchema)
        val dirName = dir.toString
        // one file per non-empty partition under a DETERMINISTIC name
        // (a re-planned batch re-derives the same files), written under
        // an attempt-private name and renamed into place: a failed or
        // losing attempt never leaves a partial file at the final name
        df.queryExecution.toRdd.mapPartitionsWithIndex { (i, rows) =>
          if (!rows.hasNext) Iterator.empty
          else {
            val attempt = org.apache.spark.TaskContext.get().taskAttemptId()
            val fin = new Path(dirName, s"part-$i.parquet")
            val tmp = new Path(dirName, s".part-$i.parquet.a$attempt")
            val w = DirSinkParquet.openWriter(owf, conf, stagedSchema,
              tmp.toString, i, attempt)
            try rows.foreach(w.write) finally w.close()
            val fs = DirSink.execFs(dirName)
            fs.delete(fin, false)
            if (!fs.rename(tmp, fin)) throw new java.io.IOException(
              s"could not publish staged change file $fin")
            Iterator.single(fin.toString)
          }
        }.collect().toSeq.map(file =>
          DirSinkCdfStagedPartition(file, tpe, c.gen, c.ts): InputPartition)
      }
      val a = rd(c.gen, c.addNames).persist()
      val b = rd(c.gen - 1, c.removeNames).persist()
      try stage(a.exceptAll(b), "ins", "insert") ++
        stage(b.exceptAll(a), "del", "delete")
      finally { a.unpersist(); b.unpersist() }
    }

    changes.flatMap { c =>
      (c.addNames, c.removeNames) match {
        case (Nil, Nil) => Nil // metadata-only commit
        case (adds, Nil) =>
          adds.map(f => DirSinkCdfFilePartition(
            DirSinkFilePartition(path, f), "insert", c.gen, c.ts)
            : InputPartition)
        case _ => stagedDiff(c)
      }
    }.toArray
  }

  /** This query's scratch subtree: scoped by the checkpoint location so
    * concurrent tailers of one zone never collide, stable across
    * restarts so a replayed batch overwrites its own debris. */
  private lazy val scratchScope: Path = {
    val scope = java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointLocation.getBytes("UTF-8"))
      .take(6).map("%02x".format(_)).mkString
    new Path(new Path(path, DirSinkCdf.ScratchDirName), s"q$scope")
  }

  // subscription-time mapping, pinned like the subscription schema —
  // see DirSinkMicroBatchStream.subscriptionColMap (a mid-stream
  // RENAME re-keys the head's map and would NULL the feed's columns)
  private lazy val subscriptionColMap: Map[String, String] =
    DirSink.zoneColMap(path)

  override def createReaderFactory(): PartitionReaderFactory = {
    // a column-mapped zone's parquet files resolve by PHYSICAL names;
    // the row layout is positional, so the feed's output names are
    // whatever the consumer's schema says regardless
    val data = DirSink.toPhysical(DirSink.asNullable(zoneSchema),
      subscriptionColMap)
    DirSinkCdfReaderFactory(DirSinkParquetReaderFactory(
      DirSinkParquet.readerClosure(data, data, Seq.empty),
      data.toDDL, data.toDDL))
  }

  /** The batch up to `end` is durably committed — its staged diff
    * files can never be re-read (a restart replays only LATER ranges),
    * so this query's scratch subtree sweeps eagerly. Vacuum age-sweeps
    * whole `_cdf-scratch` scopes as the crash backstop. */
  override def commit(end: StreamOffset): Unit = {
    planned = None
    val f = DirSink.fs(path)
    if (f.exists(scratchScope)) f.delete(scratchScope, true)
  }
  override def stop(): Unit = ()
}

/** Executor side: read the partition's parquet file (a committed zone
  * file or a staged diff file) and append the three CDF columns as
  * constants. */
case class DirSinkCdfReaderFactory(files: DirSinkParquetReaderFactory)
    extends PartitionReaderFactory {

  private def suffixed(inner: PartitionReader[InternalRow],
                       changeType: String, gen: Long,
                       tsMs: Option[Long]): PartitionReader[InternalRow] = {
    val suffix = new GenericInternalRow(
      Array[Any](UTF8String.fromString(changeType), gen,
        tsMs.map(m => m * 1000L: java.lang.Long).orNull)) // micros
    val joined = new JoinedRow
    new PartitionReader[InternalRow] {
      override def next(): Boolean = inner.next()
      override def get(): InternalRow = joined(inner.get(), suffix)
      override def close(): Unit = inner.close()
    }
  }

  override def createReader(
      partition: InputPartition): PartitionReader[InternalRow] =
    partition match {
      case DirSinkCdfStagedPartition(file, tpe, gen, ts) =>
        val p = new Path(file)
        suffixed(files.createReader(
          DirSinkFilePartition(p.getParent.toString, p.getName)),
          tpe, gen, ts)
      case DirSinkCdfFilePartition(base, tpe, gen, ts) =>
        suffixed(files.createReader(base), tpe, gen, ts)
      case p => throw new IllegalStateException(s"unexpected partition $p")
    }
}
