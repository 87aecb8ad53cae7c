package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A DataSource-V2 [[TableCatalog]] over [[DirSinkSource]] tables — the
  * catalog tier of the connector story (SURVEY.md §2.11): tables become
  * SQL-addressable names instead of path options, so
  *
  * {{{
  * spark.conf: spark.sql.catalog.graftcat = graft.sources.v2.GraftCatalog
  *             spark.sql.catalog.graftcat.warehouse = /data/graft
  * CREATE TABLE graftcat.db.docs (id BIGINT, text STRING)
  * CREATE TABLE graftcat.db.top AS SELECT ...            -- CTAS
  * INSERT INTO graftcat.db.docs ...                      -- V2 write path
  * SELECT * FROM graftcat.db.docs                        -- manifest scan
  * DROP TABLE graftcat.db.docs
  * }}}
  *
  * all resolve through Spark's catalog plumbing into the SAME
  * staged-write / manifest-atomic-commit machinery DirSinkSpec proves.
  *
  * Layout: `<warehouse>/<namespace...>/<table>/` — one directory per
  * table, identity the (namespace, name) path. A table EXISTS iff its
  * directory holds a commit log (`_graft_log/`); CREATE TABLE
  * publishes a zero-file generation carrying the schema (the same
  * bootstrap a fresh streaming write uses), so create-then-insert and
  * CTAS both land on the ordinary commit protocol. All metadata IS the
  * manifest — no side state to drift, and the catalog works unchanged
  * on `hdfs:`/`s3a:` warehouses because every probe goes through the
  * Hadoop FileSystem. Concurrent CREATEs of the same name resolve at
  * the manifest publish (last pointer wins, both schemas identical by
  * the name); the single-writer-per-table append constraint is
  * [[DirSinkSource]]'s, inherited.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with FunctionCatalog with StagingTableCatalog {

  private var catalogName: String = _
  private var warehouse: String = _

  override def initialize(name: String,
                          options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    warehouse = Option(options.get("warehouse")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name needs spark.sql.catalog.$name.warehouse"))
  }

  override def name(): String = catalogName

  private def fs = DirSink.fs(warehouse)

  /** The zone directory a table name occupies (existing or not) —
    * the allocation rule SHALLOW CLONE targets go through. */
  private[graft] def pathFor(ident: Identifier): String = dirOf(ident)

  private def dirOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name())
      .foldLeft(new Path(warehouse))(new Path(_, _)).toString

  private def exists(ident: Identifier): Boolean =
    DirSink.readManifest(dirOf(ident)).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val nsPath = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    fs.listStatus(nsPath)
      .filter(st => st.isDirectory &&
        DirSink.zoneExists(st.getPath.toString))
      .map(st => Identifier.of(namespace, st.getPath.getName))
  }

  override def loadTable(ident: Identifier): Table = {
    // `<table>$history` — the DESCRIBE-HISTORY metadata table (Delta's
    // naming, backtick-quoted in SQL): one row per recorded publish,
    // making time-travel targets discoverable — `n_files` IS the
    // `VERSION AS OF` offset and `ts` the `TIMESTAMP AS OF` target.
    if (ident.name().endsWith("$history")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$history"))
      val dir = dirOf(base)
      if (DirSink.readManifest(dir).isEmpty)
        throw new NoSuchTableException(
          (ident.namespace() :+ ident.name()).toSeq)
      return new DirSinkHistoryTable(dir)
    }
    // `<table>$files` — the per-file inventory (Delta's DESCRIBE
    // DETAIL / files-view shape): one row per committed file with its
    // manifest facts, the ops surface for "is this zone compacted /
    // skewed / stats-covered" questions without touching data bytes.
    if (ident.name().endsWith("$files")) {
      val base = Identifier.of(ident.namespace(),
        ident.name().stripSuffix("$files"))
      val dir = dirOf(base)
      if (DirSink.readManifest(dir).isEmpty)
        throw new NoSuchTableException(
          (ident.namespace() :+ ident.name()).toSeq)
      return new DirSinkFilesTable(dir)
    }
    val dir = dirOf(ident)
    val schema = DirSink.readManifest(dir).map(_._1).getOrElse(
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq))
    new DirSinkTable(dir, schema)
  }

  /** SQL TIME TRAVEL — `SELECT … FROM cat.db.t VERSION AS OF g` pins
    * the scan to GENERATION g of the zone's commit log
    * ([[DirSinkLog.at]]): the `version` column of `` t$history `` IS
    * the target, and the snapshot SURVIVES history-rewriting
    * maintenance (OPTIMIZE/DELETE/MERGE) for as long as vacuum
    * retention keeps g's segments — the round-13 verdict's
    * retained-generation ask. The schema is resolved AT the target
    * generation, so a snapshot from before an ADD/DROP COLUMN reads
    * with its own columns. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirOf(ident)
    if (DirSink.readManifest(dir).isEmpty)
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val gen = scala.util.Try(version.toLong).getOrElse(
      throw new IllegalArgumentException(
        s"VERSION AS OF takes a generation number, got '$version'"))
    new DirSinkTable(dir, DirSinkLog.at(dir, gen).schema,
      Map("asOfVersion" -> version))
  }

  /** `TIMESTAMP AS OF t` — Spark hands the timestamp in MICROSECONDS
    * since the epoch; commit stamps are millis. The schema is resolved
    * AT the generation t lands on (same era discipline as `VERSION AS
    * OF`); a t predating every retained commit is an error. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirOf(ident)
    if (DirSink.readManifest(dir).isEmpty)
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
    val t = timestampMicros / 1000L
    new DirSinkTable(dir,
      DirSinkLog.at(dir, DirSinkLog.genAsOfTimestamp(dir, t)).schema,
      Map("asOfTimestamp" -> t.toString))
  }

  /** The one supported layout transform: `PARTITIONED BY (bucket(n,
    * col))` — recorded as the zone's `#bucket` header at creation, so
    * every INSERT routes rows through the bucket writer and every scan
    * reports the key-grouped layout ([[DirSinkScan.outputPartitioning]]).
    * Identity/temporal partitioning stays rejected: the manifest's
    * per-file stats + clustering already give pruning, and a
    * directory-per-value layout would fragment the commit protocol. */
  private def bucketOf(ident: Identifier,
                       partitions: Array[Transform]): Option[DirSink.BucketSpec] =
    partitions.toSeq match {
      case Nil => None
      case Seq(t) if t.name == "bucket" =>
        val (nums, refs) = t.arguments.toSeq.partition(
          _.isInstanceOf[org.apache.spark.sql.connector.expressions.Literal[_]])
        (nums, refs) match {
          case (Seq(n: org.apache.spark.sql.connector.expressions.Literal[_]),
                Seq(r: org.apache.spark.sql.connector.expressions.NamedReference))
            if r.fieldNames.length == 1 =>
            Some(DirSink.BucketSpec(r.fieldNames.head,
              n.value.asInstanceOf[Number].intValue()))
          case _ => throw new UnsupportedOperationException(
            s"unsupported bucket transform $t for table $ident — " +
              "expected bucket(<numBuckets>, <top-level column>)")
        }
      case other => throw new UnsupportedOperationException(
        s"graft catalog tables support at most one bucket(n, col) " +
          s"transform; got ${other.mkString(", ")}")
    }

  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val bucket = bucketOf(ident, partitions)
    bucket.foreach(DirSink.checkBucketable(schema, _))
    DirSink.checkFormat(Option(properties.get(DirSink.FormatKey)))
    val dir = dirOf(ident)
    // existence check + zero-file-manifest publish under the zone's
    // commit lock: two racing CREATEs serialize, and the loser gets
    // TableAlreadyExists instead of silently re-pointing the manifest
    DirSink.withZoneLock(dir) {
      if (exists(ident))
        throw new TableAlreadyExistsException(
          (ident.namespace() :+ ident.name()).toSeq)
      // a zero-file manifest IS the table: schema line, no data lines —
      // published through the same atomic pointer swap as every commit
      DirSink.publishCommit(dir, schema,
        DirSink.withHistory(
          DirSink.withLayout(
            Map("gen" -> "0") ++ checksHeader(schema, properties),
            bucket, bloomOf(schema, properties)),
          "create", 0),
        DirSinkLog.SnapshotCommit(Seq.empty), "create")
    }
    new DirSinkTable(dir, schema)
  }

  /** CHECK-constraint table properties (`check.<name> = '<predicate>'`)
    * → the `#check` manifest header. Validated by BINDING against the
    * schema right here, so a typo'd column or a non-boolean predicate
    * fails the DDL, not the first INSERT. */
  private def checksHeader(schema: StructType,
                           properties: util.Map[String, String])
      : Option[(String, String)] = {
    val checks = checksOf(properties)
    if (checks.isEmpty) None
    else {
      DirSinkChecks.bindAll(schema, checks)
      Some(DirSinkChecks.Key -> DirSinkChecks.render(checks))
    }
  }

  private def checksOf(
      properties: util.Map[String, String]): Seq[(String, String)] = {
    import scala.jdk.CollectionConverters._
    properties.asScala.toSeq.collect {
      case (k, v) if k.startsWith(DirSinkChecks.PropPrefix) =>
        val name = k.stripPrefix(DirSinkChecks.PropPrefix)
        DirSinkChecks.checkName(name)
        (name, v)
    }.sortBy(_._1)
  }

  // ---- atomic CTAS / RTAS (StagingTableCatalog): see GraftStagedTable

  /** Common staging path: resolve the staged definition's bucket layout
    * (`PARTITIONED BY (bucket(n, col))`), and hand a [[GraftStagedTable]]
    * whose `commitStagedChanges` publishes the whole table in one
    * manifest swap. `mustExist`: Some(false) = CREATE (fails on
    * conflict AT PUBLISH, under the zone lock), Some(true) = REPLACE
    * (fails if dropped meanwhile), None = CREATE OR REPLACE. */
  private def stage(ident: Identifier, schema: StructType,
                    partitions: Array[Transform],
                    properties: util.Map[String, String],
                    mustExist: Option[Boolean]): StagedTable = {
    DirSink.checkFormat(Option(properties.get(DirSink.FormatKey)))
    new GraftStagedTable(ident, dirOf(ident), schema,
      bucketOf(ident, partitions), mustExist, checksOf(properties),
      bloomOf(schema, properties))
  }

  /** `'bloomfor' = 'c1,c2'` table property -> parquet bloom columns. */
  private def bloomOf(schema: StructType,
                      properties: util.Map[String, String]): Seq[String] = {
    val cols = Option(properties.get(DirSink.BloomKey)).toSeq
      .flatMap(_.split(",").toSeq).map(_.trim).filter(_.nonEmpty)
    cols.foreach { c =>
      if (!schema.fieldNames.contains(c))
        throw new IllegalArgumentException(
          s"bloomfor column $c is not in the schema " +
            s"${schema.fieldNames.mkString(", ")}")
    }
    cols
  }

  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): StagedTable = {
    if (exists(ident)) throw new TableAlreadyExistsException(
      (ident.namespace() :+ ident.name()).toSeq)
    stage(ident, schema, partitions, properties, Some(false))
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String]): StagedTable = {
    if (!exists(ident)) throw new NoSuchTableException(
      (ident.namespace() :+ ident.name()).toSeq)
    stage(ident, schema, partitions, properties, Some(true))
  }

  override def stageCreateOrReplace(
      ident: Identifier, schema: StructType, partitions: Array[Transform],
      properties: util.Map[String, String]): StagedTable =
    stage(ident, schema, partitions, properties, None)

  // ---- V2 functions: the bucket transform both planner sides bind

  private val bucketIdent = Identifier.of(Array.empty, "bucket")

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(bucketIdent)
    else { loadNamespaceMetadata(namespace); Array.empty }

  /** `bucket(n, key)` — the V2 function Spark's storage-partitioned
    * join resolves a scan's reported `bucket` transform against
    * (`V2ExpressionUtils` looks it up by name in the table's catalog).
    * Both join sides binding the SAME canonical function with equal
    * bucket counts is what licenses the shuffle-free plan. */
  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.namespace.isEmpty && ident.name.equalsIgnoreCase("bucket"))
      GraftBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  /** Supported alterations: `ALTER TABLE … ADD COLUMNS` (top-level,
    * nullable, appended at the tail — existing files read the new
    * columns as NULL); `ALTER TABLE … DROP COLUMN`
    * ([[DirSink.dropColumn]] — name-based resolution lets old files
    * simply stop projecting the chunk; the manifest rewrite excises the
    * column's per-file stats entry so skipping stays aligned); and
    * `ALTER TABLE … RENAME COLUMN` ([[DirSink.renameColumn]] — the
    * Delta-style logical→physical column mapping keeps old files
    * resolving by their write-time names with zero data rewritten).
    * Reorders and type changes stay rejected: the per-file stats are
    * positional and cannot re-map them. */
  override def alterTable(ident: Identifier,
                          changes: TableChange*): Table = {
    val dir = dirOf(ident)
    val prev = DirSink.readManifest(dir).map(_._1).getOrElse(
      throw new NoSuchTableException((ident.namespace() :+ ident.name()).toSeq))
    changes.toSeq match {
      case Seq(d: TableChange.DeleteColumn) if d.fieldNames().length == 1 =>
        val name = d.fieldNames()(0)
        if (d.ifExists() && !prev.fieldNames.contains(name))
          return new DirSinkTable(dir, prev)
        DirSink.dropColumn(dir, name)
        return new DirSinkTable(dir, DirSink.readManifestSchema(dir))
      // RENAME COLUMN: zero data rewritten — the zone records the
      // logical→physical mapping ([[DirSink.ColMapKey]])
      case Seq(r: TableChange.RenameColumn) if r.fieldNames().length == 1 =>
        DirSink.renameColumn(dir, r.fieldNames()(0), r.newName())
        return new DirSinkTable(dir, DirSink.readManifestSchema(dir))
      // CHECK-constraint management: SET TBLPROPERTIES ('check.n'='…')
      // validates the EXISTING zone before accepting (one scan; a
      // violating row refuses the constraint — Delta's ADD CONSTRAINT
      // discipline); UNSET drops it. All-or-nothing per statement.
      // RESIDUAL WINDOW (documented, same as Delta without a commit
      // coordinator): a write whose builder bound the check set BEFORE
      // this constraint landed commits unvalidated rows after the
      // validation scan — quiesce writers around ADD CONSTRAINT, the
      // same discipline compaction already requires.
      case props if props.nonEmpty && props.forall {
        case s: TableChange.SetProperty =>
          s.property().startsWith(DirSinkChecks.PropPrefix)
        case r: TableChange.RemoveProperty =>
          r.property().startsWith(DirSinkChecks.PropPrefix)
        case _ => false
      } =>
        props.foreach {
          case s: TableChange.SetProperty =>
            val name = s.property().stripPrefix(DirSinkChecks.PropPrefix)
            DirSinkChecks.checkName(name)
            val bound = DirSinkChecks.bind(prev, name, s.value())
            val spark = org.apache.spark.sql.SparkSession.active
            val violations = spark.read
              .format(classOf[DirSinkSource].getName)
              .option("path", dir).load()
              .filter(!org.apache.spark.sql.functions.coalesce(
                org.apache.spark.sql.functions.expr(s.value()),
                org.apache.spark.sql.functions.lit(true)))
              .count()
            if (violations > 0) throw new IllegalArgumentException(
              s"cannot add CHECK constraint $name (${s.value()}): " +
                s"$violations committed rows violate it")
            DirSink.alterChecks(dir, _.filterNot(_._1 == name) :+
              (name -> bound.sql))
          case r: TableChange.RemoveProperty =>
            val name = r.property().stripPrefix(DirSinkChecks.PropPrefix)
            DirSink.alterChecks(dir, _.filterNot(_._1 == name))
          case _ => ()
        }
        return new DirSinkTable(dir, prev)
      case _ => () // fall through to the ADD COLUMNS path
    }
    val added = changes.map {
      case a: TableChange.AddColumn if a.fieldNames().length == 1 &&
        a.isNullable =>
        // positions are rejected, not ignored: FIRST/AFTER would demand
        // re-mapping every file's positional stats — honoring the
        // request silently at the tail would misplace the column
        if (a.position() != null) throw new UnsupportedOperationException(
          s"ADD COLUMN ${a.fieldNames()(0)} FIRST/AFTER is not supported: " +
            "the zone appends new columns at the tail")
        org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType(), nullable = true)
      case c => throw new UnsupportedOperationException(
        s"graft catalog supports ADD COLUMNS (top-level nullable), " +
          s"DROP COLUMN, and RENAME COLUMN; got $c")
    }
    added.groupBy(_.name.toLowerCase(java.util.Locale.ROOT))
      .collect { case (n, fs) if fs.size > 1 => n } ++
      added.map(_.name).filter(n =>
        prev.fieldNames.exists(_.equalsIgnoreCase(n))) match {
      case dups if dups.nonEmpty => throw new IllegalArgumentException(
        s"ADD COLUMNS would duplicate field name(s) ${dups.mkString(", ")} " +
          "— ambiguous resolution; column names must be unique")
      case _ => ()
    }
    val next = StructType(prev.fields ++ added)
    DirSink.evolveSchema(dir, next)
    new DirSinkTable(dir, next)
  }

  override def dropTable(ident: Identifier): Boolean = {
    if (!exists(ident)) return false
    fs.delete(new Path(dirOf(ident)), true)
  }

  override def renameTable(oldIdent: Identifier,
                           newIdent: Identifier): Unit = {
    if (!exists(oldIdent))
      throw new NoSuchTableException((oldIdent.namespace() :+ oldIdent.name()).toSeq)
    if (exists(newIdent))
      throw new TableAlreadyExistsException((newIdent.namespace() :+ newIdent.name()).toSeq)
    val dst = new Path(dirOf(newIdent))
    fs.mkdirs(dst.getParent)
    if (!fs.rename(new Path(dirOf(oldIdent)), dst))
      throw new java.io.IOException(
        s"rename failed: ${oldIdent} -> ${newIdent}")
  }

  // ---- namespaces: directories under the warehouse root

  override def listNamespaces(): Array[Array[String]] = {
    val root = new Path(warehouse)
    if (!fs.exists(root)) return Array.empty
    fs.listStatus(root).filter(_.isDirectory)
      .map(st => Array(st.getPath.getName))
  }

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else {
      val nsPath = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
      if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(
        (catalogName +: namespace).toSeq)
      fs.listStatus(nsPath)
        .filter(st => st.isDirectory &&
          !DirSink.zoneExists(st.getPath.toString))
        .map(st => namespace :+ st.getPath.getName)
    }

  override def loadNamespaceMetadata(
      namespace: Array[String]): util.Map[String, String] = {
    val nsPath = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (!fs.exists(nsPath)) throw new NoSuchNamespaceException(
      (catalogName +: namespace).toSeq)
    util.Collections.emptyMap()
  }

  override def createNamespace(
      namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    val nsPath = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (fs.exists(nsPath))
      throw new org.apache.spark.sql.catalyst.analysis
        .NamespaceAlreadyExistsException(catalogName +: namespace)
    fs.mkdirs(nsPath)
  }

  override def alterNamespace(namespace: Array[String],
                              changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("namespace metadata is immutable")

  override def dropNamespace(namespace: Array[String],
                             cascade: Boolean): Boolean = {
    val nsPath = namespace.foldLeft(new Path(warehouse))(new Path(_, _))
    if (!fs.exists(nsPath)) return false
    if (!cascade && fs.listStatus(nsPath).nonEmpty)
      throw new IllegalStateException(
        s"namespace ${namespace.mkString(".")} is not empty")
    fs.delete(nsPath, true)
  }
}

/** The `<table>$history` metadata table: the zone's recorded publish
  * log ([[DirSink.history]] — `#hist` manifest header, newest-last,
  * capped) as a read-only DSv2 relation. Driver reads the manifest
  * once at planning; the single partition ships the parsed entries.
  *
  * {{{
  * SELECT * FROM cat.db.`docs$history` ORDER BY version
  * -- version | ts | operation | n_files
  * SELECT * FROM cat.db.docs VERSION AS OF <n_files of a history row>
  * }}}
  */
class DirSinkHistoryTable(path: String) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read._

  private val sch = StructType.fromDDL(
    "version BIGINT, ts TIMESTAMP, operation STRING, n_files BIGINT")

  override def name(): String = s"graft_dir_sink_history($path)"
  override def schema(): StructType = sch
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = sch
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(DirSinkHistoryPartition(DirSink.history(path).map(h =>
          (h.gen, h.tsMillis, h.op, h.nFiles))))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
            val it = p.asInstanceOf[DirSinkHistoryPartition].entries.iterator
            new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
              private var cur: org.apache.spark.sql.catalyst.InternalRow = _
              override def next(): Boolean =
                if (!it.hasNext) false else {
                  val (g, ts, op, n) = it.next()
                  cur = new org.apache.spark.sql.catalyst.expressions
                    .GenericInternalRow(Array[Any](g, ts * 1000L,
                      org.apache.spark.unsafe.types.UTF8String
                        .fromString(op), n))
                  true
                }
              override def get()
                  : org.apache.spark.sql.catalyst.InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class DirSinkHistoryPartition(
    entries: Seq[(Long, Long, String, Long)])
    extends org.apache.spark.sql.connector.read.InputPartition

/** The `<table>$files` metadata table: one row per committed file with
  * its manifest facts — name, rows, bytes, bucket id, streaming epoch,
  * commit timestamp, stats coverage. The ops companion to
  * `` t$history ``: "is the zone compacted, skewed, stats-covered,
  * bucket-pure?" answered from metadata alone.
  *
  * {{{
  * SELECT count(*), sum(bytes), min(rows) FROM cat.db.`docs$files`
  * SELECT bucket, count(*) FROM cat.db.`docs$files` GROUP BY bucket
  * }}}
  */
class DirSinkFilesTable(path: String) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead {
  import org.apache.spark.sql.connector.read._

  private val sch = StructType.fromDDL(
    "file STRING, rows BIGINT, bytes BIGINT, bucket INT, epoch BIGINT, " +
      "committed_ts TIMESTAMP, has_stats BOOLEAN, dv_rows BIGINT")

  override def name(): String = s"graft_dir_sink_files($path)"
  override def schema(): StructType = sch
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(
      options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch {
      override def build(): Scan = this
      override def readSchema(): StructType = sch
      override def toBatch: Batch = this
      override def planInputPartitions(): Array[InputPartition] =
        Array(DirSinkFilesPartition(
          DirSink.readManifestEntries(path).map(_._2).getOrElse(Seq.empty)
            .map(e => (e.name, e.rows, e.bytes.getOrElse(-1L),
              e.bucket.getOrElse(-1), e.epoch.getOrElse(-1L),
              e.ts.getOrElse(-1L), e.stats.isDefined,
              e.dv.map(_._2).getOrElse(-1L)))))
      override def createReaderFactory(): PartitionReaderFactory =
        new PartitionReaderFactory {
          override def createReader(p: InputPartition)
              : PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
            val it = p.asInstanceOf[DirSinkFilesPartition].entries.iterator
            new PartitionReader[org.apache.spark.sql.catalyst.InternalRow] {
              private var cur: org.apache.spark.sql.catalyst.InternalRow = _
              override def next(): Boolean =
                if (!it.hasNext) false else {
                  val (n, r, b, k, ep, ts, st, dvr) = it.next()
                  cur = new org.apache.spark.sql.catalyst.expressions
                    .GenericInternalRow(Array[Any](
                      org.apache.spark.unsafe.types.UTF8String.fromString(n),
                      r,
                      if (b < 0) null else b,
                      if (k < 0) null else k,
                      if (ep < 0) null else ep,
                      if (ts < 0) null else ts * 1000L,
                      st,
                      // rows the file's deletion vector has erased —
                      // sum(dv_rows)/sum(rows) IS the "OPTIMIZE me"
                      // signal (NULL = no vector)
                      if (dvr < 0) null else dvr))
                  true
                }
              override def get()
                  : org.apache.spark.sql.catalyst.InternalRow = cur
              override def close(): Unit = ()
            }
          }
        }
    }
}

case class DirSinkFilesPartition(
    entries: Seq[(String, Long, Long, Int, Long, Long, Boolean, Long)])
    extends org.apache.spark.sql.connector.read.InputPartition

/** The catalog's `bucket(n, key)` V2 function — the SAME computation as
  * [[DirSink.bucketId]] (one definition shared by the write router, the
  * scan's bucket pruning, and this binding): integral keys mod n after
  * canonicalizing to long, string keys via UTF8String's
  * byte-deterministic hash, NULL to bucket 0. Spark binds it when
  * resolving a scan's reported `bucket` transform; equality of
  * `canonicalName` across both join sides is the storage-partitioned
  * join's compatibility test. */
object GraftBucketFunction
    extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types._

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(numBuckets, key): deterministic bucket id of a zone's " +
      "bucket column — integral keys mod n, string keys hashed"

  override def bind(inputType: StructType): BoundFunction = {
    if (inputType.length != 2)
      throw new UnsupportedOperationException(
        s"bucket expects (numBuckets, key); got ${inputType.length} args")
    val keyType = inputType.fields(1).dataType
    keyType match {
      case LongType | IntegerType | ShortType | ByteType | StringType => ()
      case dt => throw new UnsupportedOperationException(
        s"bucket key type ${dt.sql} unsupported (integral or string)")
    }
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[DataType] =
        Array(IntegerType, keyType)
      override def resultType(): DataType = IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String = "graft.bucket"
      override def isResultNullable: Boolean = false
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
        val n = input.getInt(0)
        val key = if (input.isNullAt(1)) null else input.get(1, keyType)
        Integer.valueOf(DirSink.bucketId(key, n))
      }
    }
  }
}
