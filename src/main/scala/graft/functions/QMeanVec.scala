package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_qmean_vec(e)` — the exact per-dimension mean of a vector
  * column, bit-equivalent to the relational chain it replaces:
  * {{{
  *   posexplode(e) → groupBy(group, pos)
  *     sum(floor(x·1e4 + 0.5)) AS sv, count(*) AS cnt
  *   → sv / (cnt·1e4) → collect_list(struct(pos, v)) → sorted by pos
  * }}}
  * Each component is half-up-quantized to 1e-4 with pure IEEE ops
  * (`(long) floor(x·1e4 + 0.5)`, as Spark's `floor` on a double), summed
  * exactly as BIGINT with overflow checks (an overflow raises
  * ArithmeticException, as ANSI `sum` does), and divided once by
  * `cnt·1e4` — so the mean is independent of aggregation order and
  * partitioning. Ragged input keeps the chain's semantics: position p
  * averages over the vectors longer than p (`cnt`), a null element
  * counts in `cnt` but not in the sum, and a position whose elements are
  * all null yields null. A null vector is skipped; a group with no
  * elements at all returns null (the chain emits no row for it, so
  * callers filter null results).
  *
  * The buffer is ONE `Long[]` object, three slots per position
  * (count, non-null count, sum), grown to the longest vector seen — the
  * aggregate plans as ObjectHashAggregateExec with a single object
  * buffer column however wide the vectors are. */
case class QMeanVec(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] with UnaryLike[Expression] {

  override def prettyName: String = "graft_qmean_vec"
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(DoubleType, containsNull = true)

  override def checkInputDataTypes(): TypeCheckResult =
    if (CosineSimilarity.isVector(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires an ARRAY<FLOAT|DOUBLE> argument, got ${child.dataType.sql}")

  private lazy val isDouble = child.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def createAggregationBuffer(): Array[Long] = Array.emptyLongArray

  private def grow(b: Array[Long], dims: Int): Array[Long] =
    if (b.length >= 3 * dims) b else java.util.Arrays.copyOf(b, 3 * dims)

  override def update(b: Array[Long], input: InternalRow): Array[Long] = {
    val e = child.eval(input).asInstanceOf[ArrayData]
    if (e == null) return b
    val n = e.numElements()
    val buf = grow(b, n)
    var i = 0
    while (i < n) {
      buf(3 * i) += 1
      if (!e.isNullAt(i)) {
        val x = if (isDouble) e.getDouble(i) else e.getFloat(i).toDouble
        buf(3 * i + 1) += 1
        buf(3 * i + 2) = Math.addExact(buf(3 * i + 2),
          math.floor(x * 10000.0 + 0.5).toLong)
      }
      i += 1
    }
    buf
  }

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
    val buf = grow(a, b.length / 3)
    var i = 0
    while (i < b.length) {
      buf(i) += b(i); buf(i + 1) += b(i + 1)
      buf(i + 2) = Math.addExact(buf(i + 2), b(i + 2))
      i += 3
    }
    buf
  }

  override def eval(b: Array[Long]): Any =
    if (b.isEmpty) null
    else new GenericArrayData(Array.tabulate[Any](b.length / 3) { i =>
      if (b(3 * i + 1) == 0) null
      else b(3 * i + 2).toDouble / (b(3 * i).toDouble * 10000.0)
    })

  override def serialize(b: Array[Long]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 * b.length)
    bb.asLongBuffer().put(b)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val b = new Array[Long](bytes.length / 8)
    java.nio.ByteBuffer.wrap(bytes).asLongBuffer().get(b)
    b
  }

  override def withNewMutableAggBufferOffset(o: Int): QMeanVec =
    copy(mutableAggBufferOffset = o)
  override def withNewInputAggBufferOffset(o: Int): QMeanVec =
    copy(inputAggBufferOffset = o)
  override protected def withNewChildInternal(newChild: Expression): QMeanVec =
    copy(child = newChild)
}
