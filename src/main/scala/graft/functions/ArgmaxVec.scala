package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Mutable buffer for [[ArgmaxVec]]: the running argmax key pair and the
  * payload array CARRIED BY REFERENCE — `e` is only copied out of the
  * (reused) input row when a new maximum actually replaces the incumbent,
  * i.e. O(ln K) copies per group in expectation instead of the
  * one-struct-materialization-per-row that `max(struct(cs, nc, e))` pays. */
private[graft] final class ArgmaxVecBuf(
    var set: Boolean,
    var csNull: Boolean,
    var cs: Double,
    var ncNull: Boolean,
    var nc: Long,
    var e: ArrayData) // null when the winning row's array is null

/** `argmax_vec(cs, nc, e)` — bit-equivalent replacement for
  * `max(struct(cs AS cs, nc AS nc, e AS e))` when `e` is an
  * ARRAY<DOUBLE> payload that never decides the maximum because
  * `(cs, nc)` is unique per group (the Lloyd/PQ training argmax:
  * csim is round6-quantized and nc = −cid is distinct per candidate).
  *
  * Why not the built-in: `Max` over a struct carrying an array is a
  * DeclarativeAggregate whose buffer type is immutable, so planning
  * falls back to `SortAggregateExec` — a full sort of the N·C (or
  * N·M·K) joined relation with the vector re-materialized into a fresh
  * struct for EVERY input row (OPTIMIZATION_r17.md V3: +1.1 s over the
  * bare join+cosine at sf0.1, vs +0.04 s for the scalar argmax). This
  * TypedImperativeAggregate runs in `ObjectHashAggregateExec`
  * (hash-grouped, no sort), compares only the two scalars, and copies
  * the array only when the running maximum improves.
  *
  * Ordering parity with `max(struct(...))` (verified by
  * ArgmaxVecSpec against the built-in on adversarial inputs): struct
  * ordering compares fields left to right with nulls FIRST — a null
  * `cs` loses to any non-null `cs`; doubles compare per the SQL
  * ordering (NaN greatest, -0.0 == 0.0 — SQLOrderingUtil, NOT
  * java.lang.Double.compare's total order); an
  * exact (cs, nc) tie falls through to the array comparison, delegated
  * to the same interpreted ordering the built-in uses. Partial
  * aggregation works (merge is the same comparison), so results are
  * independent of partitioning, and the declared training paths stay
  * bit-identical under any plan. */
case class ArgmaxVec(
    csExpr: Expression,
    ncExpr: Expression,
    eExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[ArgmaxVecBuf] {

  override def children: Seq[Expression] = Seq(csExpr, ncExpr, eExpr)
  override def nullable: Boolean = true
  override def prettyName: String = "graft_argmax_vec"

  override def checkInputDataTypes(): TypeCheckResult =
    if (!(csExpr.dataType == DoubleType && ncExpr.dataType == LongType &&
      eExpr.dataType.isInstanceOf[ArrayType]))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (DOUBLE, BIGINT, ARRAY) arguments, got " +
          s"(${csExpr.dataType.sql}, ${ncExpr.dataType.sql}, ${eExpr.dataType.sql})")
    else if (!org.apache.spark.sql.catalyst.expressions.RowOrdering
      .isOrderable(eExpr.dataType))
      // the (cs, nc)-tie fallthrough compares the arrays with the same
      // interpreted ordering max(struct) would use — reject unorderable
      // element types (e.g. ARRAY<MAP>) at ANALYSIS time like the
      // built-in does, not on the first tie inside a task
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName payload type ${eExpr.dataType.sql} is not orderable")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = StructType(Seq(
    StructField("cs", DoubleType, nullable = true),
    StructField("nc", LongType, nullable = true),
    StructField("e", eExpr.dataType, nullable = true)))

  /** Interpreted ordering for the (never-taken-in-practice) exact
    * (cs, nc) tie — the same ordering `max(struct)` would use on the
    * array field. */
  private lazy val arrayOrdering =
    TypeUtils.getInterpretedOrdering(eExpr.dataType)

  override def createAggregationBuffer(): ArgmaxVecBuf =
    new ArgmaxVecBuf(false, true, 0.0, true, 0L, null)

  /** SQL double ordering (SQLOrderingUtil.compareDoubles): -0.0 == 0.0
    * — unlike java.lang.Double.compare — while NaN stays greatest.
    * The built-in struct ordering uses exactly this for double fields
    * (ArgmaxVecSpec g=6 pins the -0.0/0.0 tie). */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** struct-ordering comparison of (cs, nc, e) against the buffer:
    * > 0 iff the candidate wins. Nulls sort FIRST (lose to non-null),
    * matching the built-in struct ordering's ascending-null semantics
    * under max(). */
  private def cmp(b: ArgmaxVecBuf, csNull: Boolean, cs: Double,
                  ncNull: Boolean, nc: Long, e: ArrayData): Int = {
    val c1 =
      if (csNull && b.csNull) 0
      else if (csNull) -1
      else if (b.csNull) 1
      else cmpDouble(cs, b.cs)
    if (c1 != 0) return c1
    val c2 =
      if (ncNull && b.ncNull) 0
      else if (ncNull) -1
      else if (b.ncNull) 1
      else java.lang.Long.compare(nc, b.nc)
    if (c2 != 0) return c2
    if (e == null && b.e == null) 0
    else if (e == null) -1
    else if (b.e == null) 1
    else arrayOrdering.compare(e, b.e)
  }

  private def store(b: ArgmaxVecBuf, csNull: Boolean, cs: Double,
                    ncNull: Boolean, nc: Long, e: ArrayData): Unit = {
    b.set = true
    b.csNull = csNull; b.cs = cs
    b.ncNull = ncNull; b.nc = nc
    b.e = e
  }

  override def update(b: ArgmaxVecBuf, input: InternalRow): ArgmaxVecBuf = {
    val csAny = csExpr.eval(input)
    val ncAny = ncExpr.eval(input)
    val csNull = csAny == null
    val ncNull = ncAny == null
    val cs = if (csNull) 0.0 else csAny.asInstanceOf[Double]
    val nc = if (ncNull) 0L else ncAny.asInstanceOf[Long]
    // evaluate e lazily: rows that lose on (cs, nc) never touch the array
    if (!b.set) {
      val e = eExpr.eval(input).asInstanceOf[ArrayData]
      store(b, csNull, cs, ncNull, nc, if (e == null) null else e.copy())
    } else {
      // fast path: strictly worse on cs alone — no array eval, no copy
      val c1 =
        if (csNull && b.csNull) 0
        else if (csNull) -1
        else if (b.csNull) 1
        else cmpDouble(cs, b.cs)
      if (c1 > 0) {
        val e = eExpr.eval(input).asInstanceOf[ArrayData]
        store(b, csNull, cs, ncNull, nc, if (e == null) null else e.copy())
      } else if (c1 == 0) {
        val e = eExpr.eval(input).asInstanceOf[ArrayData]
        if (cmp(b, csNull, cs, ncNull, nc, e) > 0)
          store(b, csNull, cs, ncNull, nc, if (e == null) null else e.copy())
      }
    }
    b
  }

  override def merge(a: ArgmaxVecBuf, b: ArgmaxVecBuf): ArgmaxVecBuf = {
    if (b.set && (!a.set || cmp(a, b.csNull, b.cs, b.ncNull, b.nc, b.e) > 0))
      store(a, b.csNull, b.cs, b.ncNull, b.nc, b.e)
    a
  }

  override def eval(b: ArgmaxVecBuf): Any =
    if (!b.set) null
    else new GenericInternalRow(Array[Any](
      if (b.csNull) null else b.cs,
      if (b.ncNull) null else b.nc,
      b.e))

  // serialize the buffer as one UnsafeRow(set, cs, nc, e): the projection
  // handles null fields and arbitrary array element types natively
  private lazy val serProj = UnsafeProjection.create(Array[DataType](
    BooleanType, DoubleType, LongType, eExpr.dataType))
  private lazy val serRow = new GenericInternalRow(4)

  override def serialize(b: ArgmaxVecBuf): Array[Byte] = {
    serRow.update(0, b.set)
    serRow.update(1, if (b.csNull) null else b.cs)
    serRow.update(2, if (b.ncNull) null else b.nc)
    serRow.update(3, b.e)
    serProj(serRow).getBytes
  }

  override def deserialize(bytes: Array[Byte]): ArgmaxVecBuf = {
    val row = new UnsafeRow(4)
    row.pointTo(bytes, bytes.length)
    val b = createAggregationBuffer()
    b.set = row.getBoolean(0)
    b.csNull = row.isNullAt(1)
    if (!b.csNull) b.cs = row.getDouble(1)
    b.ncNull = row.isNullAt(2)
    if (!b.ncNull) b.nc = row.getLong(2)
    b.e = if (row.isNullAt(3)) null else row.getArray(3).copy()
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): ArgmaxVec =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): ArgmaxVec =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ArgmaxVec =
    copy(csExpr = newChildren(0), ncExpr = newChildren(1),
      eExpr = newChildren(2))
}
