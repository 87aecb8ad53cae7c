package graft.sources.v2

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, BindReferences, Coalesce, Expression, GenericInternalRow, Literal, Predicate}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.connector.write.{DataWriter, WriterCommitMessage}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** CHECK CONSTRAINTS for DirSink zones — the write-path enforcement
  * that makes the table format GOVERNED, not just transactional
  * (Delta's `delta.constraints.*` discipline, carried by the manifest
  * header instead of a transaction log):
  *
  *   - declared as table properties `check.<name> = '<sql predicate>'`
  *     at CREATE (catalog or staged CTAS) or later via `ALTER TABLE …
  *     SET TBLPROPERTIES` — adding one VALIDATES the existing zone
  *     first and refuses if any committed row violates it;
  *   - stored in the `#check` manifest header (name + base64 of the
  *     SQL, so arbitrary predicate text survives the header codec) and
  *     carried forward by every commit like all zone properties;
  *   - enforced on EVERY write path — batch append, streaming epoch,
  *     staged CTAS/RTAS, row-level UPDATE/MERGE rewrite — by binding
  *     the predicate against the write schema ON THE DRIVER (parse →
  *     analyze → bind, so executors receive a self-contained
  *     serializable expression, never SQL text to re-resolve) and
  *     evaluating it per row in front of the file writer. SQL CHECK
  *     semantics: only a row where the predicate is definitively FALSE
  *     violates — NULL passes (`Coalesce(expr, true)` at bind time).
  *
  * A violating write FAILS THE JOB before its commit: the zone's
  * staged-write protocol means no partial data ever publishes — the
  * constraint holds as a zone INVARIANT, not a best-effort filter. At
  * 100 TB this is the difference between discovering a poisoned
  * pipeline at write time and discovering it in a training run. */
object DirSinkChecks {

  /** Manifest header key: `name:<b64 sql>` entries joined by `,`. */
  val Key = "check"
  val PropPrefix = "check."

  def render(checks: Seq[(String, String)]): String =
    checks.map { case (n, sql) =>
      n + ":" + java.util.Base64.getEncoder.encodeToString(
        sql.getBytes("UTF-8"))
    }.mkString(",")

  def parseHeader(header: Map[String, String]): Seq[(String, String)] =
    header.get(Key).toSeq.filter(_.nonEmpty).flatMap(_.split(",").toSeq)
      .map { e =>
        val i = e.indexOf(':')
        (e.substring(0, i), new String(
          java.util.Base64.getDecoder.decode(e.substring(i + 1)), "UTF-8"))
      }

  /** The zone's declared constraints; empty for unconstrained zones. */
  def zoneChecks(path: String): Seq[(String, String)] =
    DirSink.readManifestRaw(path).map(m => parseHeader(m.header))
      .getOrElse(Seq.empty)

  /** Constraint name guard: names become header/property tokens. */
  def checkName(n: String): Unit =
    if (n.isEmpty || !n.forall(c => c.isLetterOrDigit || c == '_'))
      throw new IllegalArgumentException(
        s"constraint name '$n' must be alphanumeric/underscore")

  /** A driver-bound constraint: `expr` is fully resolved and bound to
    * the write schema's field positions — serializable, executor-ready. */
  case class Bound(name: String, sql: String, expr: Expression)
    extends Serializable

  /** DRIVER side: parse + analyze + bind one constraint predicate
    * against `schema`. Fails loudly on unresolvable columns, wrong
    * result type, or non-determinism — at DDL/plan time, never on an
    * executor mid-write. */
  def bind(schema: StructType, name: String, sql: String): Bound = {
    val spark = SparkSession.active
    val attrs = schema.fields.toIndexedSeq.map(f =>
      AttributeReference(f.name, f.dataType, nullable = true)())
    val parsed =
      try spark.sessionState.sqlParser.parseExpression(sql)
      catch { case e: Exception => throw new IllegalArgumentException(
        s"CHECK constraint $name: cannot parse '$sql': ${e.getMessage}") }
    // Lower to an evaluable form — the analyzer leaves these for the
    // optimizer: ReplaceExpressions unfolds RuntimeReplaceable shapes
    // (BETWEEN, nvl, …) and RewriteWithExpression eliminates the
    // common-subexpression `With` nodes those unfold into
    val analyzed = org.apache.spark.sql.catalyst.optimizer
      .RewriteWithExpression(org.apache.spark.sql.catalyst.optimizer
        .ReplaceExpressions(spark.sessionState.analyzer.execute(
          Filter(parsed, LocalRelation(attrs)))))
    val condition = analyzed match {
      case Filter(c, _) if c.resolved => c
      case _ => throw new IllegalArgumentException(
        s"CHECK constraint $name: '$sql' does not resolve against " +
          s"schema [${schema.toDDL}]")
    }
    if (condition.dataType != org.apache.spark.sql.types.BooleanType)
      throw new IllegalArgumentException(
        s"CHECK constraint $name: '$sql' is ${condition.dataType.sql}, " +
          "not BOOLEAN")
    if (!condition.deterministic)
      throw new IllegalArgumentException(
        s"CHECK constraint $name: '$sql' is non-deterministic — a " +
          "retried task could pass what the first attempt failed")
    // SQL CHECK three-valued law: NULL passes, only FALSE violates
    Bound(name, sql,
      BindReferences.bindReference(
        Coalesce(Seq(condition, Literal(true))), attrs))
  }

  def bindAll(schema: StructType,
              checks: Seq[(String, String)]): Seq[Bound] =
    checks.map { case (n, sql) => bind(schema, n, sql) }

  /** EXECUTOR side: evaluate every constraint in front of the wrapped
    * writer; the first FALSE fails the task (and therefore the job,
    * before any commit). */
  class CheckedWriter(inner: DataWriter[InternalRow], bound: Seq[Bound])
      extends DataWriter[InternalRow] {
    private val preds = bound.map(b => (b, Predicate.create(b.expr)))
    override def write(record: InternalRow): Unit = {
      preds.foreach { case (b, p) =>
        if (!p.eval(record))
          throw new IllegalArgumentException(
            s"CHECK constraint ${b.name} (${b.sql}) violated — the " +
              "write fails before commit; no partial data publishes")
      }
      inner.write(record)
    }
    override def commit(): WriterCommitMessage = inner.commit()
    override def abort(): Unit = inner.abort()
    override def close(): Unit = inner.close()
  }

  // ------------------------------------------------- dead-letter routing

  /** Write option `checks.deadletter=<zone path>`: instead of failing
    * the job on the first violating row, ROUTE violators to a
    * quarantine zone and publish the clean remainder. The default
    * (no option) stays all-or-nothing — the invariant posture; the
    * dead-letter option is the usability complement for lossy upstream
    * feeds where one poisoned record must not stall the pipeline.
    *
    * The quarantine is an ordinary DirSink zone whose schema is the
    * write schema plus a trailing `_check STRING` column naming the
    * violated constraint — so quarantined rows stay queryable,
    * time-travelable, and CDF-tailable like any other zone. Its
    * publish is a separate commit under ITS zone lock, BEFORE the
    * clean zone's commit: a crash between the two can duplicate
    * quarantine rows on retry (batch) but can never lose them, and
    * for streaming epochs the quarantine commit is idempotent by the
    * query's own `#txn` mark in that zone, so replay-after-crash stays
    * exactly-once on BOTH zones (quarantine first: a replayed epoch
    * drops its quarantine files at the mark, then the clean zone
    * publishes — or drops too if it had already committed). */
  val DeadLetterKey = "checks.deadletter"

  /** The quarantine column appended to the write schema. */
  val DeadLetterCol = "_check"

  /** Driver-resolved quarantine target: schema and the prepared parquet
    * writer factory — a self-contained serializable value the task
    * writers build their side writer from. */
  case class DeadLetter(
      qpath: String, qschema: StructType,
      parquet: (org.apache.spark.sql.execution.datasources
        .OutputWriterFactory, DirSinkParquet.SerializableConf))
    extends Serializable

  /** DRIVER side, at write-plan time: validate and resolve the
    * quarantine target. Refusals are deliberate invariants:
    * a bucketed quarantine would receive unrouted files (layout-law
    * violation), a CHECKed quarantine could itself reject its input
    * (turtles all the way down), and a `_check` column in the write
    * schema would collide with the routing column. */
  def resolveDeadLetter(path: String, option: Option[String],
                        schema: StructType,
                        checks: Seq[(String, String)]): Option[DeadLetter] =
    option.filter(_ => checks.nonEmpty).map { qpath =>
      if (new Path(qpath) == new Path(path))
        throw new IllegalArgumentException(
          s"$DeadLetterKey must name a DIFFERENT zone than the write target")
      if (schema.fieldNames.contains(DeadLetterCol))
        throw new IllegalArgumentException(
          s"$DeadLetterKey: write schema already has a '$DeadLetterCol' " +
            "column — the quarantine routing column would collide")
      if (DirSink.zoneBucket(qpath).isDefined)
        throw new IllegalArgumentException(
          s"$DeadLetterKey: quarantine zone $qpath is bucketed — " +
            "dead-letter writers are unrouted, which would break its layout")
      if (zoneChecks(qpath).nonEmpty)
        throw new IllegalArgumentException(
          s"$DeadLetterKey: quarantine zone $qpath declares its own CHECK " +
            "constraints — a quarantine must accept everything routed to it")
      val qschema = StructType(DirSink.asNullable(schema).fields :+
        StructField(DeadLetterCol, StringType, nullable = true))
      DeadLetter(qpath, qschema, DirSinkParquet.writerFactory(qschema))
    }

  /** EXECUTOR side: the routing writer. Clean rows flow to `inner`;
    * the first FALSE constraint routes the row (plus the constraint's
    * name) to a lazily-opened quarantine writer — a task with no
    * violations never stages a quarantine file. */
  class DeadLetterWriter(inner: DataWriter[InternalRow], bound: Seq[Bound],
                         dl: DeadLetter, queryId: String, attempt: String,
                         partitionId: Int, taskId: Long)
      extends DataWriter[InternalRow] {
    private val preds = bound.map(b => (b, Predicate.create(b.expr)))
    private val n = dl.qschema.length - 1
    private val types = dl.qschema.fields.take(n).map(_.dataType)
    private var qw: DataWriter[InternalRow] = _

    private def quarantine(record: InternalRow, check: String): Unit = {
      if (qw == null) qw = new DirSinkParquetWriter(dl.qpath, dl.qschema,
        queryId, attempt, dl.parquet._1, dl.parquet._2, partitionId, taskId)
      val vals = new Array[Any](n + 1)
      var i = 0
      while (i < n) {
        vals(i) = if (record.isNullAt(i)) null else record.get(i, types(i))
        i += 1
      }
      vals(n) = UTF8String.fromString(check)
      qw.write(new GenericInternalRow(vals))
    }

    override def write(record: InternalRow): Unit =
      preds.find { case (_, p) => !p.eval(record) } match {
        case Some((b, _)) => quarantine(record, b.name)
        case None => inner.write(record)
      }

    override def commit(): WriterCommitMessage =
      DirSinkDeadLetterCommitMessage(inner.commit(),
        Option(qw).map(_.commit().asInstanceOf[DirSinkCommitMessage]))

    override def abort(): Unit = {
      inner.abort()
      if (qw != null) qw.abort()
    }

    override def close(): Unit = {
      inner.close()
      if (qw != null) qw.close()
    }
  }

  /** DRIVER side: publish one write's quarantined files into the
    * quarantine zone — an ordinary delta commit under ITS zone lock,
    * always BEFORE the clean zone's commit (duplicates-over-loss; see
    * [[DeadLetterKey]]). `epoch` makes streaming publishes idempotent
    * against the quarantine zone's own committed-epoch high-water
    * mark — sound for the supported one-stream-per-quarantine shape,
    * the same monotonic-epoch argument as the clean zone's guard. */
  def publishQuarantine(dl: DeadLetter, msgs: Seq[DirSinkCommitMessage],
                        queryId: String, epoch: Option[Long]): Unit = {
    if (msgs.isEmpty) return
    val f = DirSink.fs(dl.qpath)
    val root = new Path(dl.qpath)
    f.mkdirs(root)
    val now = System.currentTimeMillis()
    DirSink.withZoneLock(dl.qpath) {
      // replayed-epoch idempotency, checked INSIDE the quarantine
      // zone's lock: two streams sharing one quarantine (or one stream
      // racing its own replay) serialize on the lock, so the mark read
      // and the publish below are one atomic step — the
      // one-stream-per-quarantine doc assumption is no longer the only
      // thing standing between a race and a double-published epoch
      val replayed = epoch.exists(e =>
        DirSink.epochReplayed(DirSink.readManifestRaw(dl.qpath),
          queryId, e))
      // a replayed epoch's quarantine generation is already durable
      if (replayed) DirSink.abortStaged(dl.qpath, queryId, msgs, epoch)
      else publishQuarantineLocked(dl, msgs, queryId, epoch, f, root, now)
    }
  }

  /** The publish body proper — runs under the quarantine zone's lock. */
  private def publishQuarantineLocked(dl: DeadLetter,
                                      msgs: Seq[DirSinkCommitMessage],
                                      queryId: String, epoch: Option[Long],
                                      f: org.apache.hadoop.fs.FileSystem,
                                      root: Path, now: Long): Unit = {
    val parent = DirSink.readManifestRaw(dl.qpath)
    DirSink.checkAppendSchema(parent, dl.qschema)
    val committed = DirSink.promote(f, root, queryId, msgs)
    val previous = parent.map(_.lines).getOrElse(Seq.empty)
    // the committer's per-query mark — same discipline as the clean
    // zone's commit, so two streams sharing one quarantine replay
    // independently (round 16)
    val txn = epoch.fold(
      parent.map(m => DirSink.parseTxn(m.header)).getOrElse(Map.empty))(
      e => DirSink.mergeTxn(
        parent.map(m => DirSink.parseTxn(m.header)).getOrElse(Map.empty),
        Map(DirSink.txnQid(queryId) -> e)))
    val header = DirSink.nextHeader(parent, newEpoch = epoch) ++
      (if (txn.nonEmpty)
        Some(DirSink.TxnKey -> DirSink.renderTxn(txn)) else None)
    DirSink.publishCommit(dl.qpath, dl.qschema,
      DirSink.withHistory(header, "deadletter",
        previous.size + committed.size),
      DirSinkLog.DeltaCommit(
        committed.map(DirSink.manifestLine(_, now, epoch)), Nil),
      epoch.fold(s"$queryId-dl")(e => s"$queryId-dl-e$e"))
    DirSink.dropStaging(f, root, queryId, epoch)
  }
}

/** One task's commit under dead-letter routing: the clean writer's
  * message (possibly a bucketed bundle) plus the quarantine file's, if
  * the task saw any violation. [[DirSink.flattenMsgs]] unwraps the
  * clean side; [[DirSink.quarantinedMsgs]] collects the other. */
case class DirSinkDeadLetterCommitMessage(
    clean: WriterCommitMessage,
    quarantined: Option[DirSinkCommitMessage])
  extends WriterCommitMessage
