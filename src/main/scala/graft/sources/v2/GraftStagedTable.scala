package graft.sources.v2

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType

/** ATOMIC CTAS / RTAS for the graft catalog ([[GraftCatalog]] is a
  * `StagingTableCatalog`): `CREATE TABLE … AS SELECT`, `REPLACE TABLE
  * … AS SELECT` and `CREATE OR REPLACE TABLE … AS SELECT` stage their
  * writes and publish in ONE manifest swap — without this, Spark's
  * non-atomic fallback DROPS the old table before the new query has
  * produced a single row, so a failed REPLACE leaves no table at all
  * (the window every production CTAS-over-live-table hits eventually).
  *
  * The zone's own crash-safety property does all the work: task files
  * renamed into the table directory are INVISIBLE until a manifest
  * references them, so the staged write runs entirely in the live
  * directory —
  *
  *   1. the staged write's driver commit renames task files to their
  *      final unique names but DEFERS the manifest publish, parking the
  *      rendered lines here;
  *   2. `commitStagedChanges()` re-checks the mode's existence
  *      contract and publishes the replacement manifest (truncate
  *      semantics: fresh file list, parent generation + epoch
  *      high-water mark carried — exactly an overwrite's header law)
  *      under the zone lock, then
  *      sweeps the superseded generation;
  *   3. `abortStagedChanges()` deletes the renamed-but-unpublished
  *      files — readers never saw them.
  *
  * Until step 2 the old table (or its absence, for CREATE) is exactly
  * intact; after it, the new one is complete. A REPLACE's new
  * definition WINS wholesale: schema, bucket layout
  * (`PARTITIONED BY (bucket(n, col))`), checks and bloom coverage all
  * come from the staged definition, not the old zone. */
class GraftStagedTable(ident: Identifier, dir: String, schema0: StructType,
                       bucket: Option[DirSink.BucketSpec],
                       mustExist: Option[Boolean],
                       checks: Seq[(String, String)] = Seq.empty,
                       bloom: Seq[String] = Seq.empty)
    extends StagedTable with SupportsWrite {

  bucket.foreach(DirSink.checkBucketable(schema0, _))
  DirSinkChecks.bindAll(schema0, checks) // validate at DDL time
  bloom.foreach { c =>
    if (!schema0.fieldNames.contains(c))
      throw new IllegalArgumentException(
        s"bloomfor column $c is not in the schema " +
          s"${schema0.fieldNames.mkString(", ")}")
  }

  /** Deferred publish state: the staged write's committed task-file
    * messages, with names still under `_staging/<queryId>/` — sweeps
    * never enter the staging directory, so nothing can eat these files
    * in the window between the write finishing and the staged publish
    * (a crash in that window leaves ordinary age-gated vacuum debris).
    * Empty = plain REPLACE TABLE (no AS SELECT): commit publishes a
    * zero-file manifest, the CREATE TABLE shape. */
  @volatile private var staged: Seq[DirSinkCommitMessage] = Seq.empty
  @volatile private var stagedQueryId: Option[String] = None

  override def name(): String = s"graft_staged(${ident})"
  override def schema(): StructType = schema0
  override def partitioning(): Array[Transform] =
    bucket.map(b => org.apache.spark.sql.connector.expressions.Expressions
      .bucket(b.n, b.col): Transform).toArray
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // RTAS truncates the (staged) table before writing; the publish
      // below is a whole-manifest swap either way, so it is a no-op
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = new BatchWrite {
          override def createBatchWriterFactory(
              phys: PhysicalWriteInfo): DataWriterFactory =
            DirSinkWriterFactory.resolved(dir, info.schema(),
              info.queryId(), bucket, Some(checks), bloom,
              colmap = Map.empty) // a (re)placed definition starts unmapped

          /** Park the committed task files — STILL IN STAGING. All
            * renames happen inside `commitStagedChanges`'s locked
            * section, so no renamed-but-unpublished file ever sits in
            * the zone root where a concurrent committer's sweep could
            * mistake it for garbage. */
          override def commit(messages: Array[WriterCommitMessage]): Unit = {
            staged = DirSink.flattenMsgs(messages)
            stagedQueryId = Some(info.queryId())
          }

          override def abort(messages: Array[WriterCommitMessage]): Unit =
            DirSink.abortStaged(dir, info.queryId(),
              DirSink.flattenMsgs(messages))
        }
      }
    }

  override def commitStagedChanges(): Unit = {
    val f = DirSink.fs(dir)
    val root = new Path(dir)
    f.mkdirs(root)
    val now = System.currentTimeMillis()
    val qid = stagedQueryId.getOrElse("staged")
    DirSink.withZoneLock(dir) {
      val parent = DirSink.readManifestRaw(dir)
      // the mode's existence contract, re-checked at publish: a
      // concurrent CREATE of the same name loses here, not by silently
      // re-pointing the manifest
      mustExist match {
        case Some(false) if parent.isDefined =>
          throw new org.apache.spark.sql.catalyst.analysis
            .TableAlreadyExistsException(
              (ident.namespace() :+ ident.name()).toSeq)
        case Some(true) if parent.isEmpty =>
          throw new org.apache.spark.sql.catalyst.analysis
            .NoSuchTableException((ident.namespace() :+ ident.name()).toSeq)
        case _ => ()
      }
      // staged → final renames and publish: ONE locked critical
      // section, metadata-only
      val committed = DirSink.promote(f, root, qid, staged)
      // the staged definition wins WHOLESALE: its layout and checks
      // replace the old table's (an atomic REPLACE is a new table at
      // the old name)
      val layout = DirSink.withLayout(
        DirSink.nextHeader(parent, truncate = true), bucket, bloom)
      val header =
        if (checks.isEmpty) layout - DirSinkChecks.Key
        else layout + (DirSinkChecks.Key -> DirSinkChecks.render(checks))
      val op = if (parent.isDefined) "replace" else "create"
      // a REPLACE is history-replacing by definition: one snapshot
      // segment. The superseded generation's files stay for the
      // retained log (the pre-replace table remains time-travelable)
      // until vacuum retention ages its segments out.
      DirSink.publishCommit(dir, schema0,
        DirSink.withHistory(header, op, committed.size),
        DirSinkLog.SnapshotCommit(
          committed.map(DirSink.manifestLine(_, now))), qid)
      DirSink.dropStaging(f, root, qid)
    }
  }

  override def abortStagedChanges(): Unit =
    DirSink.abortStaged(dir, stagedQueryId.getOrElse("staged"), staged)
}
