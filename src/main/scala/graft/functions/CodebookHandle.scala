package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.types._

/** A driver-trained codebook as tasks read it: the entries
  * `ARRAY<STRUCT<cid: BIGINT, ce>>` travel ONCE per executor as a
  * `Broadcast`, and this short expression carries the handle into any
  * projection (`graft_nearest`, `graft_nearest_k`, or an `explode` of
  * the entries). A keyed codebook (the PQ subspace codebooks, key `m`)
  * is one broadcast of every key's entries and takes the key column as
  * its only child: each row reads the codebook of its own key.
  *
  * Why not the alternatives:
  *  - a broadcast join of a driver-built relation costs a one-task
  *    `BroadcastExchange` job per use, and the codebook reaches the row
  *    only through a nested-loop join;
  *  - a literal ships C·d·8 bytes with every TASK (~300 MB for √N cells
  *    at 100 TB), and AQE renders the plan string — every literal
  *    element of it — after every stage.
  * So the handle is not foldable (ConstantFolding never inlines it), is
  * deterministic, and prints as `codebook#<broadcast id>[C cells]`.
  *
  * Never null, with no null entry or cid, and never empty for a key it
  * has: a row whose key has no entries is an error, so callers keep
  * only covered keys (none at all for an empty codebook). */
case class CodebookHandle(book: Broadcast[CodebookHandle.Books], cells: Int,
                          entry: StructType, key: Option[Expression])
    extends Expression {

  override def children: Seq[Expression] = key.toSeq
  override def nullable: Boolean = false
  override def foldable: Boolean = false
  override def dataType: DataType = ArrayType(entry, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = key.map(_.dataType) match {
    case None | Some(IntegerType) | Some(LongType) => TypeCheckResult.TypeCheckSuccess
    case Some(t) => TypeCheckResult.TypeCheckFailure(
      s"a codebook key must be INT or BIGINT, got ${t.sql}")
  }

  @transient private lazy val books = book.value

  /** The entries of an unkeyed codebook (key 0). */
  def entries(): ArrayData = entries(0L)

  /** The entries of key `k`'s codebook. */
  def entries(k: Long): ArrayData = {
    val i = java.util.Arrays.binarySearch(books.keys, k)
    if (i < 0) throw new IllegalStateException(s"$this has no codebook for key $k")
    books.entries(i)
  }

  /** The entries of the row's key (generated code). */
  def entries(keyNull: Boolean, k: Long): ArrayData =
    if (keyNull) throw new IllegalStateException(s"$this: null key")
    else entries(k)

  override def eval(input: InternalRow): Any = key match {
    case None => entries()
    case Some(k) => k.eval(input) match {
      case null => entries(keyNull = true, 0L)
      case v => entries(v.asInstanceOf[Number].longValue)
    }
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val self = ctx.addReferenceObj("codebook", this)
    key match {
      case None =>
        ev.copy(code = code"ArrayData ${ev.value} = $self.entries();",
          isNull = FalseLiteral)
      case Some(k) =>
        val kc = k.genCode(ctx)
        ev.copy(code = code"""
          |${kc.code}
          |ArrayData ${ev.value} = $self.entries(${kc.isNull}, (long) ${kc.value});
          """.stripMargin, isNull = FalseLiteral)
    }
  }

  override def toString: String =
    s"codebook#${book.id}[$cells cells${key.fold("")(k => s" by $k")}]"
  override def sql: String = toString

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CodebookHandle =
    copy(key = newChildren.headOption)
}

object CodebookHandle {

  /** The broadcast value: sorted key values (one 0 for an unkeyed
    * codebook) and each key's entries in the compact unsafe layout. */
  final case class Books(keys: Array[Long], entries: Array[ArrayData])

  /** Pack `(key, cid, ce)` rows, sorted by (key, cid), into [[Books]]
    * with entries of type `entry` = STRUCT<cid: BIGINT NOT NULL, ce>. */
  def books(rows: Seq[(Long, Long, Any)], entry: StructType): Books = {
    val dt = ArrayType(entry, containsNull = false)
    val toCatalyst = CatalystTypeConverters.createToCatalystConverter(dt)
    val unsafe = UnsafeProjection.create(Array[DataType](dt))
    val byKey = rows.groupBy(_._1).toSeq.sortBy(_._1)
    Books(byKey.map(_._1).toArray, byKey.map { case (_, rs) =>
      val packed = toCatalyst(rs.map { case (_, cid, ce) =>
        org.apache.spark.sql.Row(cid, ce) })
      unsafe(InternalRow(packed)).getArray(0).copy(): ArrayData
    }.toArray)
  }
}
