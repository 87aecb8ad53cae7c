package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** GROUP-BASED (copy-on-write) row-level DML for the DirSink table
  * format — `UPDATE … SET … WHERE` and `MERGE INTO` as plain SQL over
  * catalog tables, reusing the machinery DELETE already proved:
  *
  *   - Spark's `RewriteUpdateTable` / `RewriteMergeIntoTable` rewrite
  *     the command into a `ReplaceData` plan: read the affected GROUPS
  *     (files), apply the modification as a projection (`CASE WHEN cond
  *     THEN new ELSE old`), write everything back;
  *   - `GroupBasedRowLevelOperationScanPlanning` pushes the command's
  *     condition into [[DirSinkScanBuilder]], where the per-file
  *     min/max/null stats PRUNE the files the predicate provably cannot
  *     touch — those files' manifest lines survive VERBATIM, so an
  *     UPDATE keyed on a clustered column rewrites only the covering
  *     files (the stats-decided-files-untouched economics of the
  *     round-11 DELETE, now on the whole DML surface). The scan never
  *     filters ROWS (everything stays residual), which is exactly the
  *     group contract: non-matching rows of touched files flow through
  *     the CASE projection unchanged;
  *   - the scan reports the (generation, group list) it planned through
  *     `planListener`; [[DirSinkReplaceDataWrite.commit]] re-verifies
  *     the generation under the zone commit lock and swaps EXACTLY the
  *     scanned groups for the rewritten files in one atomic manifest
  *     publish — a concurrent commit fails the operation loudly
  *     (optimistic concurrency) instead of being silently dropped.
  *
  * MERGE reads every file when its ON condition references the source
  * (no literal bounds to prune on) — a full-table rewrite, the same
  * cost Delta pays without a source-side pruning pass; UPDATE/DELETE
  * with literal predicates prune. DELETE additionally keeps its
  * metadata-only fast path: `OptimizeMetadataOnlyDeleteFromTable`
  * routes translatable predicates back to [[DirSinkTable.deleteWhere]]
  * before a group rewrite is ever planned. */
class DirSinkRowLevelOperation(path: String, schema: StructType,
                               cmd: RowLevelOperation.Command)
    extends RowLevelOperation {

  /** (manifest generation, file names) the group scan planned — set by
    * the scan's `planInputPartitions`, consumed by the write commit. */
  @volatile private[v2] var plannedGroups: Option[(Long, Seq[String])] = None

  override def command(): RowLevelOperation.Command = cmd

  override def description(): String = s"DirSinkRowLevel($cmd, $path)"

  /** `_file` is the group identity: Spark threads it through the
    * ReplaceData projections (and nulls it on modified rows), and the
    * runtime group-filtering rule collects the distinct `_file` values
    * the condition touches so [[DirSinkScan]] reads — and the commit
    * replaces — only those files. */
  override def requiredMetadataAttributes():
      Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    Array(org.apache.spark.sql.connector.expressions.Expressions
      .column(DirSink.FileNameCol))

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DirSinkScanBuilder(path, schema,
      planListener = Some((gen, files) =>
        plannedGroups = Some((gen, files))),
      fileFilterOnly = true)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new DirSinkReplaceDataWrite(path, info.schema(), info.queryId(),
            DirSinkRowLevelOperation.this)
      }
    }
}

/** The ReplaceData commit: stage/rename like every batch write, then —
  * under the zone lock, at the verified generation — republish the
  * manifest with the SCANNED groups' lines replaced by the rewritten
  * files' lines. Untouched (stats-pruned) files keep their lines, and
  * therefore their epoch fields and stats, byte-for-byte. */
class DirSinkReplaceDataWrite(path: String, schema: StructType,
                              queryId: String,
                              op: DirSinkRowLevelOperation)
    extends BatchWrite {

  /** The rewrite inherits the ZONE's committed bucket layout — a
    * row-level DML must never break bucket purity under one manifest
    * (an UPDATE may even move a row's bucket column; the router
    * re-hashes per row, so the rewritten files stay pure). */
  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    DirSinkWriterFactory.resolved(path, schema, queryId,
      DirSink.zoneBucket(path))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val f = DirSink.fs(path)
    val root = new Path(path)
    val (plannedGen, scanned) = op.plannedGroups.getOrElse(
      throw new IllegalStateException(
        s"${op.description()}: the group scan never planned — cannot " +
          "tell which files the rewrite replaces; refusing to guess"))
    val scannedSet = scanned.toSet
    val now = System.currentTimeMillis()
    // staged→final renames happen INSIDE the gen-verified locked publish:
    // renamed-but-unpublished files in the zone root would be
    // indistinguishable from garbage to a concurrent TRUNCATE's sweep,
    // and on a generation conflict nothing has moved yet — the staged
    // files stay where abort()/vacuum can account for them
    DirSink.publishAtGen(path, plannedGen, op.command().toString,
      s"$queryId-rlo") { parent =>
      // zero-row tasks (a rewrite whose every row was deleted, or an
      // empty partition) contribute no file — publishing them would
      // accrete empty manifest lines on every no-op DML; their staged
      // files go with the staging below
      val committed = DirSink.promote(f, root, queryId,
        DirSink.flattenMsgs(messages).filter(_.rows > 0))
      val kept = parent.lines.count(l =>
        !scannedSet(DirSink.parseEntry(l).name))
      // an O(delta) segment: exactly the scanned groups leave, the
      // rewritten files arrive; stats-pruned files' lines never
      // re-serialize. Replaced groups stay on disk for the retained
      // log (pre-DML snapshots keep reading them) until vacuum.
      (DirSink.withHistory(DirSink.nextHeader(Some(parent)),
        op.command().toString, kept + committed.size),
        DirSinkLog.DeltaCommit(committed.map(DirSink.manifestLine(_, now)),
          scanned))
    }
    DirSink.dropStaging(f, root, queryId)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    DirSink.abortStaged(path, queryId, DirSink.flattenMsgs(messages))
}
