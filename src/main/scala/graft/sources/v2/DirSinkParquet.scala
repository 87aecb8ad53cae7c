package graft.sources.v2

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.vectorized.ColumnarBatch

/** The DATA PLANE of the DirSink table format: every committed file is
  * a Parquet file, under the format-agnostic commit protocol, manifest,
  * per-file stats, skipping, DML, time travel, and streaming machinery:
  *
  *   - COLUMNAR I/O: a 2-column projection over a 30-column zone reads
  *     2 column chunks;
  *   - COMPRESSION: snappy/zstd column chunks — at 100 TB that is the
  *     storage bill and the scan time;
  *   - SPLITTABLE READS: a committed file is planned as multiple
  *     byte-range [[PartitionedFile]] slices aligned to row groups, so
  *     scan parallelism is sized by data volume, not file count — after
  *     `compact(targetFiles = 4)` a zone still fans out to every core;
  *   - FULL TYPE SURFACE: arrays (embeddings), binary (multimodal
  *     payloads), decimals, maps, structs round-trip natively.
  *
  * Implementation: the writer and reader ARE Spark's own Parquet
  * machinery, driven through its `FileFormat` surface —
  * `ParquetFileFormat.prepareWrite` builds the executor-side
  * [[OutputWriterFactory]] (schema, codec, timestamp encoding, rebase
  * markers all configured exactly as a native `df.write.parquet` would)
  * and `buildReaderWithPartitionValues` builds the executor-side
  * `PartitionedFile => Iterator[InternalRow]` closure (vectorized
  * reader, predicate pushdown to row groups/pages, missing-column =
  * NULL schema evolution). Reusing the real machinery means every
  * Parquet behavior (encodings, bloom filters, rebase semantics) is
  * inherited, not re-implemented — the table format supplies exactly
  * what Parquet files alone lack: the atomic commit protocol, manifest
  * stats, and snapshot semantics around them.
  *
  * Everything here is DRIVER-side construction of SERIALIZABLE
  * executor-side values; no SparkSession is touched on executors.
  */
object DirSinkParquet {

  /** Hadoop [[Configuration]] is not `java.io.Serializable`; this is the
    * standard writable-backed wrapper (the same shape Spark uses
    * internally) so a driver-configured conf can ride to executors
    * inside a writer/reader factory. */
  final class SerializableConf(@transient var value: Configuration)
      extends Serializable {
    private def writeObject(out: java.io.ObjectOutputStream): Unit = {
      out.defaultWriteObject()
      value.write(out)
    }
    private def readObject(in: java.io.ObjectInputStream): Unit = {
      in.defaultReadObject()
      value = new Configuration(false)
      value.readFields(in)
    }
  }

  /** Driver side: the fully-configured Parquet writer factory + the conf
    * it needs on executors — `prepareWrite` sets the write-support
    * class, the Catalyst schema, compression, timestamp encoding, and
    * rebase markers from the session's SQL conf, exactly like a native
    * parquet write.
    *
    * `bloomCols` (the zone's `#bloomfor` columns) turn on PARQUET'S OWN
    * per-column bloom filters in every written file: point lookups on a
    * high-cardinality column that clustering doesn't serve (doc ids,
    * url hashes) then prune ROW GROUPS inside the scan — Spark's
    * parquet reader consumes the filters automatically through the
    * pushed predicates, so the read side costs nothing to wire. This is
    * the scale-correct home for bloom indexes: sized per row group by
    * the parquet writer, never bloating the manifest (a manifest-level
    * bloom sized for a 100M-row file would be megabytes per line). */
  def writerFactory(schema: StructType, bloomCols: Seq[String] = Seq.empty)
      : (OutputWriterFactory, SerializableConf) = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, schema)
    bloomCols.foreach { c =>
      job.getConfiguration.setBoolean(s"parquet.bloom.filter.enabled#$c", true)
    }
    (factory, new SerializableConf(job.getConfiguration))
  }

  /** Executor side: one task's [[OutputWriter]] writing `path`. */
  def openWriter(factory: OutputWriterFactory, conf: SerializableConf,
                 schema: StructType, path: String, partitionId: Int,
                 taskId: Long): OutputWriter = {
    val attempt = new TaskAttemptID(
      new TaskID(new JobID("graft-dirsink", 0), TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    factory.newInstance(path, schema,
      new TaskAttemptContextImpl(new Configuration(conf.value), attempt))
  }

  /** Rewrite a pushed filter's attribute names logical→physical for a
    * column-mapped zone ([[DirSink.ColMapKey]]). Unknown shapes DROP
    * (None) — pushdown is an optimization; the scan returns every
    * filter as residual, so dropping is always sound. */
  private[v2] def mapFilter(f: Filter,
                            m: Map[String, String]): Option[Filter] = {
    import org.apache.spark.sql.sources._
    def a(n: String): String = m.getOrElse(n, n)
    f match {
      case EqualTo(c, v) => Some(EqualTo(a(c), v))
      case EqualNullSafe(c, v) => Some(EqualNullSafe(a(c), v))
      case GreaterThan(c, v) => Some(GreaterThan(a(c), v))
      case GreaterThanOrEqual(c, v) => Some(GreaterThanOrEqual(a(c), v))
      case LessThan(c, v) => Some(LessThan(a(c), v))
      case LessThanOrEqual(c, v) => Some(LessThanOrEqual(a(c), v))
      case In(c, vs) => Some(In(a(c), vs))
      case IsNull(c) => Some(IsNull(a(c)))
      case IsNotNull(c) => Some(IsNotNull(a(c)))
      case StringStartsWith(c, v) => Some(StringStartsWith(a(c), v))
      case StringEndsWith(c, v) => Some(StringEndsWith(a(c), v))
      case StringContains(c, v) => Some(StringContains(a(c), v))
      case And(l, r) => for { lm <- mapFilter(l, m); rm <- mapFilter(r, m) }
        yield And(lm, rm)
      case Or(l, r) => for { lm <- mapFilter(l, m); rm <- mapFilter(r, m) }
        yield Or(lm, rm)
      case Not(c) => mapFilter(c, m).map(Not)
      case _ => None
    }
  }

  private[v2] def mapFilters(fs: Seq[Filter],
                             m: Map[String, String]): Seq[Filter] =
    if (m.isEmpty) fs else fs.flatMap(mapFilter(_, m))

  /** Driver side: the executor-shippable read closure.
    *
    * `filters` are the scan's stats-supported shapes, handed down for
    * Parquet's OWN row-group/page pruning — sound for the same reason
    * manifest skipping is: the scan returns every filter as residual,
    * so Spark re-evaluates row-level semantics regardless and the
    * reader may only ever skip provably-dead stripes. Missing columns
    * (a file committed before a schema evolution widened the zone) read
    * as NULL by Parquet's name-based resolution. */
  def readerClosure(dataSchema: StructType, requiredSchema: StructType,
                    filters: Seq[Filter])
      : PartitionedFile => Iterator[InternalRow] = {
    val spark = SparkSession.active
    new ParquetFileFormat().buildReaderWithPartitionValues(
      spark,
      dataSchema = dataSchema,
      partitionSchema = StructType(Nil),
      requiredSchema = requiredSchema,
      filters = filters,
      // a DSv2 PartitionReader[InternalRow] consumes ROWS: tell the
      // (possibly vectorized) reader the caller cannot take batches —
      // it hands back its row view itself
      options = Map(org.apache.spark.sql.execution.datasources.FileFormat
        .OPTION_RETURNING_BATCH -> "false"),
      hadoopConf = spark.sessionState.newHadoopConf())
  }

  /** The vectorized Parquet reader yields [[ColumnarBatch]]es disguised
    * as [[InternalRow]]s (the `FileFormat` contract `FileScanRDD`
    * understands); a DSv2 `PartitionReader[InternalRow]` needs real
    * rows, so flatten batches through their row view. */
  def rowIterator(raw: Iterator[InternalRow]): Iterator[InternalRow] =
    // the static element type is a lie when the vectorized reader is on
    // (the FileFormat contract): widen before the runtime dispatch
    raw.asInstanceOf[Iterator[Any]].flatMap {
      case b: ColumnarBatch => scala.jdk.CollectionConverters
        .IteratorHasAsScala(b.rowIterator()).asScala
      case r: InternalRow => Iterator.single(r)
    }

  /** Byte-range splits for one committed file: Parquet reads a split by
    * taking the row groups whose midpoint falls inside it, so any
    * partitioning of [0, len) is correct; sizing splits at the
    * session's `maxPartitionBytes` (floored at 1 MiB so a sea of tiny
    * files doesn't explode the partition count) keeps scan parallelism
    * proportional to DATA VOLUME even after compaction collapses the
    * zone to a handful of large files. */
  def splitRanges(len: Long, maxSplitBytes: Long): Seq[(Long, Long)] = {
    val target = math.max(maxSplitBytes, 1L << 20)
    if (len <= 0) Seq((0L, 0L))
    else (0L until len by target).map(s => (s, math.min(target, len - s)))
  }
}
