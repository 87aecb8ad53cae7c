package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `graft_nearest(e, codebook)` — the nearest-centroid assignment of one
  * vector as ONE per-row expression: `codebook` is the whole codebook as
  * `ARRAY<STRUCT<cid: BIGINT, ce: ARRAY<FLOAT|DOUBLE>>>` (one broadcast
  * row), the result is `STRUCT<cell: BIGINT, csim: DOUBLE>`.
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
  * out, so callers filter null results.
  *
  * Why: the relational form materializes N×C joined rows and reduces
  * them through a per-vector exchange; this keeps the whole argmax
  * inside the map-side projection (NearestCentroidSpec pins the
  * parity). */
case class NearestCentroid(left: Expression, right: Expression)
    extends BinaryExpression {

  override def prettyName: String = "graft_nearest"
  override def nullable: Boolean = true
  override def dataType: DataType = StructType(Seq(
    StructField("cell", LongType, nullable = true),
    StructField("csim", DoubleType, nullable = true)))

  private def codebookOk(t: DataType): Boolean = t match {
    case ArrayType(StructType(Array(StructField(_, LongType, _, _),
        StructField(_, ce, _, _))), _) => CosineSimilarity.isVector(ce)
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (CosineSimilarity.isVector(left.dataType) && codebookOk(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (ARRAY<FLOAT|DOUBLE>, " +
        "ARRAY<STRUCT<BIGINT, ARRAY<FLOAT|DOUBLE>>>) arguments, got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  private lazy val eDouble = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }
  private lazy val ceDouble = right.dataType match {
    case ArrayType(StructType(Array(_, StructField(_, ArrayType(t, _), _, _))), _) =>
      t == DoubleType
    case _ => false
  }

  /** SQL double ordering (SQLOrderingUtil.compareDoubles). */
  private def cmpDouble(x: Double, y: Double): Int =
    if (x == y) 0 else java.lang.Double.compare(x, y)

  /** The argmax over the codebook; null iff the codebook is null or
    * empty. Called by both the interpreted and the generated code. */
  def nearest(e: ArrayData, cb: ArrayData): InternalRow = {
    if (cb == null || cb.numElements() == 0) return null
    var bestSet = false
    var bestCsNull = true; var bestCs = 0.0
    var bestCidNull = true; var bestCid = 0L
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
      val wins = !bestSet || {
        val c1 =
          if (csNull && bestCsNull) 0
          else if (csNull) -1
          else if (bestCsNull) 1
          else cmpDouble(cs, bestCs)
        c1 > 0 || c1 == 0 && !cidNull && (bestCidNull || cid < bestCid)
      }
      if (wins) {
        bestSet = true
        bestCsNull = csNull; bestCs = cs
        bestCidNull = cidNull; bestCid = cid
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](
      if (bestCidNull) null else bestCid,
      if (bestCsNull) null else bestCs))
  }

  override def eval(input: InternalRow): Any =
    nearest(left.eval(input).asInstanceOf[ArrayData],
      right.eval(input).asInstanceOf[ArrayData])

  // Generated code calls `nearest` on this object, so the enclosing
  // projection stays inside whole-stage codegen (a CodegenFallback
  // expression would take the whole projection out of it).
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val e = left.genCode(ctx)
    val cb = right.genCode(ctx)
    val self = ctx.addReferenceObj("nearest", this)
    ev.copy(code = code"""
      |${e.code}
      |${cb.code}
      |InternalRow ${ev.value} = $self.nearest(
      |  ${e.isNull} ? null : ${e.value}, ${cb.isNull} ? null : ${cb.value});
      |boolean ${ev.isNull} = ${ev.value} == null;
      """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): NearestCentroid =
    copy(left = newLeft, right = newRight)
}
