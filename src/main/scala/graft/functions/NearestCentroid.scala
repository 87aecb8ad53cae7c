package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_nearest(e, codebook)` — the nearest-centroid assignment of one
  * vector as ONE per-row expression: `codebook` is the whole codebook as
  * `ARRAY<STRUCT<cid: BIGINT, ce: ARRAY<FLOAT|DOUBLE>>>` (usually a
  * [[CodebookHandle]]), the result is `STRUCT<cell: BIGINT, csim: DOUBLE>`.
  * It is the k = 1 case of [[NearestK]]: one ranking ([[Nearest.rank]]).
  *
  * Bit-equivalent to the relational form it replaces,
  * {{{
  *   e ⨯ codebook rows → groupBy(vector)
  *     max(struct(round6(graft_cosine(e, ce)) AS cs, -cid AS nc))
  *   → (cell = -nc, csim = cs)
  * }}}
  * — the same three left-to-right cosine folds
  * ([[CosineSimilarity.fold]]), the same `Det.round6`
  * (`(long) floor(x·1e6 + 0.5) / 1e6`, as Spark's `floor` on a double,
  * so a zero vector's NaN cosine rounds to 0.0), and the same struct
  * ordering: csim first in the SQL double order (nulls lowest,
  * -0.0 == 0.0, NaN greatest), then the smallest cid (a null cid
  * lowest). A null `e`, a null `ce` or a length mismatch
  * gives a null csim that loses to every non-null one, exactly as the
  * null cosine does in the relational form; a null codebook entry acts
  * as a (null cid, null ce) row. A null or empty codebook returns null:
  * in the relational form the vector meets no centroid row and drops
  * out, so callers filter null results. Against a [[CodebookHandle]]
  * (never null or empty entries, no null cid) the result and its
  * `cell` are declared non-null, so a join on `cell` infers no
  * `isnotnull` filter that would evaluate the argmax a second time.
  *
  * Why: the relational form materializes N×C joined rows and reduces
  * them through a per-vector exchange; this keeps the whole argmax
  * inside the map-side projection (NearestCentroidSpec pins the
  * parity). */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_nearest"
  override def nullable: Boolean = !Nearest.sure(right)
  override def dataType: DataType = Nearest.entryType(Nearest.sure(right))

  override def checkInputDataTypes(): TypeCheckResult =
    Nearest.check(prettyName, left, right)

  private lazy val eDouble = Nearest.isDouble(left.dataType)
  private lazy val ceDouble = Nearest.ceDouble(right.dataType)

  /** The argmax over the codebook; null iff the codebook is null or
    * empty. Called by both the interpreted and the generated code. */
  def nearest(e: ArrayData, cb: ArrayData): InternalRow = {
    val top = Nearest.rank(e, eDouble, cb, ceDouble, 1)
    if (top == null) null else top(0).asInstanceOf[InternalRow]
  }

  override def eval(input: InternalRow): Any =
    nearest(left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])

  // Generated code calls `nearest` on this object, so the enclosing
  // projection stays inside whole-stage codegen (a CodegenFallback
  // expression would take the whole projection out of it).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    Nearest.genCall(ctx, ev, ctx.addReferenceObj("nearest", this), "nearest",
      "InternalRow", left, right)

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}

/** `graft_nearest_k(e, codebook, k)` — the `k` nearest codebook entries
  * of one vector, best first, as `ARRAY<STRUCT<cell, csim>>` of
  * min(k, C) entries: round6'd cosine descending in the SQL double
  * order (nulls lowest, NaN greatest, -0.0 == 0.0), then cid ascending
  * (a null cid after every non-null one) — the order of
  * {{{
  *   e ⨯ codebook rows → row_number() OVER (PARTITION BY vector
  *     ORDER BY round6(graft_cosine(e, ce)) DESC, cid) ≤ k
  * }}}
  * with the same cosine, rounding and null rules as [[NearestCentroid]],
  * which is its k = 1 case. `k` is a constant INT ≥ 1; a null or empty
  * codebook returns null (the relational form has no rows, and an
  * `explode` of null has none either). Per row the ranking is a k-slot
  * heap over the C entries, O(C·log k), so a probe of every query row
  * needs no |Q|·C relation, exchange or window
  * (NearestKSpec pins the parity). */
case class NearestK(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def prettyName: String = "graft_nearest_k"
  override def nullable: Boolean = !Nearest.sure(second)
  override def dataType: DataType =
    ArrayType(Nearest.entryType(Nearest.sure(second)), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    Nearest.check(prettyName, first, second) match {
      case TypeCheckResult.TypeCheckSuccess
          if !third.foldable || third.dataType != IntegerType ||
            third.eval() == null || third.eval().asInstanceOf[Int] < 1 =>
        TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires a constant INT k >= 1, got ${third.sql}")
      case r => r
    }

  private lazy val k = third.eval().asInstanceOf[Int]
  private lazy val eDouble = Nearest.isDouble(first.dataType)
  private lazy val ceDouble = Nearest.ceDouble(second.dataType)

  /** The ranked entries; null iff the codebook is null or empty. Called
    * by both the interpreted and the generated code. */
  def nearestK(e: ArrayData, cb: ArrayData): ArrayData = {
    val top = Nearest.rank(e, eDouble, cb, ceDouble, k)
    if (top == null) null else new GenericArrayData(top)
  }

  override def eval(input: InternalRow): Any =
    nearestK(first.eval(input).asInstanceOf[ArrayData],
      second.eval(input).asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    Nearest.genCall(ctx, ev, ctx.addReferenceObj("nearestK", this), "nearestK",
      "ArrayData", first, second)

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): NearestK =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** The ranking [[NearestCentroid]] and [[NearestK]] share. */
object Nearest {

  /** The entries a [[CodebookHandle]] yields are never null or empty
    * and hold no null entry or cid, so the ranking against them is never
    * null and neither is a ranked `cell`. */
  def sure(codebook: Expression): Boolean = codebook.isInstanceOf[CodebookHandle]

  /** One ranked entry: STRUCT<cell, csim>. */
  def entryType(sure: Boolean): StructType = StructType(Seq(
    StructField("cell", LongType, nullable = !sure),
    StructField("csim", DoubleType, nullable = true)))

  private def codebookOk(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, ce, _, _))), _) => CosineSimilarity.isVector(ce)
    case _ => false
  }

  def check(name: String, e: Expression, codebook: Expression): TypeCheckResult =
    if (CosineSimilarity.isVector(e.dataType) && codebookOk(codebook.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name requires (ARRAY<FLOAT|DOUBLE>, " +
        "ARRAY<STRUCT<BIGINT, ARRAY<FLOAT|DOUBLE>>>) arguments, got " +
        s"(${e.dataType.sql}, ${codebook.dataType.sql})")

  def isDouble(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  def ceDouble(codebook: DataType): Boolean = codebook match {
    case ArrayType(StructType(Array(_, StructField(_, ce, _, _))), _) => isDouble(ce)
    case _ => false
  }

  /** Generated code for `self.method(e, codebook)`, null iff it returns
    * null. */
  def genCall(ctx: CodegenContext, ev: ExprCode, self: String, method: String,
              javaType: String, e: Expression, codebook: Expression): ExprCode = {
    val ec = e.genCode(ctx)
    val cb = codebook.genCode(ctx)
    ev.copy(code = code"""
      |${ec.code}
      |${cb.code}
      |$javaType ${ev.value} = $self.$method(
      |  ${ec.isNull} ? null : ${ec.value}, ${cb.isNull} ? null : ${cb.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  /** The min(k, C) best entries of the codebook for `e`, best first, as
    * (cell, csim) rows; null iff the codebook is null or empty. */
  def rank(e: ArrayData, eDouble: Boolean, cb: ArrayData, ceDouble: Boolean,
           k: Int): Array[Any] = {
    if (cb == null || cb.numElements() == 0) return null
    val top = new TopK(math.min(k, cb.numElements()))
    var j = 0
    while (j < cb.numElements()) {
      var cidNull = true; var cid = 0L
      var csNull = true; var cs = 0.0
      if (!cb.isNullAt(j)) {
        val entry = cb.getStruct(j, 2)
        cidNull = entry.isNullAt(0)
        if (!cidNull) cid = entry.getLong(0)
        if (e != null && !entry.isNullAt(1)) {
          val ce = entry.getArray(1)
          if (ce.numElements() == e.numElements()) {
            val cos = CosineSimilarity.fold(e, eDouble, ce, ceDouble)
            csNull = false
            cs = math.floor(cos * 1000000.0 + 0.5).toLong.toDouble / 1000000.0
          }
        }
      }
      top.offer(csNull, cs, cidNull, cid)
      j += 1
    }
    top.ranked()
  }

  /** A k-slot heap whose root is the WORST kept entry: an entry joins
    * only if it ranks strictly before the root, so among exact ties the
    * earlier entry stays (ties on both keys give identical rows). */
  private final class TopK(k: Int) {
    private val csNull = new Array[Boolean](k)
    private val cs = new Array[Double](k)
    private val cidNull = new Array[Boolean](k)
    private val cid = new Array[Long](k)
    private var n = 0

    /** > 0 when a ranks before b: csim in the SQL double order, nulls
      * lowest, then the smaller cid, a null cid last. */
    private def order(aSN: Boolean, aS: Double, aCN: Boolean, aC: Long,
                      bSN: Boolean, bS: Double, bCN: Boolean, bC: Long): Int = {
      val bySim =
        if (aSN || bSN) (if (aSN == bSN) 0 else if (aSN) -1 else 1)
        else if (aS == bS) 0
        else java.lang.Double.compare(aS, bS)
      if (bySim != 0) bySim
      else if (aCN || bCN) (if (aCN == bCN) 0 else if (aCN) -1 else 1)
      else java.lang.Long.compare(bC, aC)
    }

    private def slots(i: Int, j: Int): Int =
      order(csNull(i), cs(i), cidNull(i), cid(i), csNull(j), cs(j), cidNull(j), cid(j))

    private def set(i: Int, sN: Boolean, s: Double, cN: Boolean, c: Long): Unit = {
      csNull(i) = sN; cs(i) = s; cidNull(i) = cN; cid(i) = c
    }

    private def swap(i: Int, j: Int): Unit = {
      val sN = csNull(i); val s = cs(i); val cN = cidNull(i); val c = cid(i)
      set(i, csNull(j), cs(j), cidNull(j), cid(j))
      set(j, sN, s, cN, c)
    }

    private def siftDown(from: Int): Unit = {
      var i = from
      var done = false
      while (!done) {
        val l = 2 * i + 1
        var w = i
        if (l < n && slots(l, w) < 0) w = l
        if (l + 1 < n && slots(l + 1, w) < 0) w = l + 1
        if (w == i) done = true else { swap(i, w); i = w }
      }
    }

    def offer(sN: Boolean, s: Double, cN: Boolean, c: Long): Unit =
      if (n < k) {
        set(n, sN, s, cN, c)
        var i = n
        n += 1
        while (i > 0 && slots(i, (i - 1) / 2) < 0) { swap(i, (i - 1) / 2); i = (i - 1) / 2 }
      } else if (order(sN, s, cN, c, csNull(0), cs(0), cidNull(0), cid(0)) > 0) {
        set(0, sN, s, cN, c)
        siftDown(0)
      }

    /** Drain best first (empties the heap). */
    def ranked(): Array[Any] = {
      val out = new Array[Any](n)
      while (n > 0) {
        out(n - 1) = new GenericInternalRow(Array[Any](
          if (cidNull(0)) null else cid(0), if (csNull(0)) null else cs(0)))
        n -= 1
        swap(0, n)
        siftDown(0)
      }
      out
    }
  }
}
