package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: fused cosine similarity over two
  * `ArrayType(FloatType)` or two `ArrayType(DoubleType)` columns (each
  * side independently; float widens to double exactly) — the one custom
  * `Expression` SURVEY.md §4.2 flagged as worth building. One pass
  * accumulates dot(a,b), dot(a,a) and dot(b,b) as three independent
  * LEFT-TO-RIGHT double folds, so the result is bit-identical to the
  * composed higher-order-function form (`aggregate(zip_with(...))`) and
  * to DuckDB's `list_dot_product`-based oracle — but it runs inside
  * whole-stage codegen as a tight primitive loop instead of three
  * interpreted lambda folds, which matters when the expression sits
  * inside an O(|pairs|) similarity join or the N×C k-means assignment
  * loop ([[graft.operators.Similarity]] IVF training).
  *
  * Null semantics: null if either array is null or lengths differ;
  * array elements are assumed non-null (embedding vectors).
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  private def isDouble(t: DataType): Boolean = t match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (CosineSimilarity.isVector(left.dataType) &&
        CosineSimilarity.isVector(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two ARRAY<FLOAT|DOUBLE> arguments, " +
        s"got ${left.dataType.sql} and ${right.dataType.sql}")

  override def prettyName: String = "graft_cosine"
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    if (a.numElements() != b.numElements()) null
    else CosineSimilarity.fold(a, isDouble(left.dataType), b,
      isDouble(right.dataType))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val x = ctx.freshName("x")
      val y = ctx.freshName("y")
      def read(arr: String, dbl: Boolean): String =
        if (dbl) s"$arr.getDouble($i)" else s"(double) $arr.getFloat($i)"
      s"""
         |final int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    final double $x = ${read(a, isDouble(left.dataType))};
         |    final double $y = ${read(b, isDouble(right.dataType))};
         |    $dot += $x * $y; $na += $x * $x; $nb += $y * $y;
         |  }
         |  ${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

object CosineSimilarity {
  /** dot(a,b) / (‖a‖·‖b‖) over two equal-length arrays as three
    * left-to-right double folds; `ad`/`bd` say whether each side holds
    * doubles (else floats, widened exactly). The interpreted path of
    * [[CosineSimilarity]] and of [[NearestCentroid]]. */
  def fold(a: ArrayData, ad: Boolean, b: ArrayData, bd: Boolean): Double = {
    val n = a.numElements()
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (ad) a.getDouble(i) else a.getFloat(i).toDouble
      val y = if (bd) b.getDouble(i) else b.getFloat(i).toDouble
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** ARRAY<FLOAT> or ARRAY<DOUBLE>: the vector types the functions accept. */
  private[graft] def isVector(t: DataType): Boolean = t match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }
}

/** Names + Column-level API for the native functions, which
  * [[graft.GraftExtensions]] installs session-wide
  * (`spark.sql.extensions=graft.GraftExtensions`). */
object VectorFunctions {
  val COSINE = "graft_cosine"
  val SHINGLE_HASHES = "graft_shingle_hashes"
  val MINHASH_SIG = "graft_minhash_sig"
  val SIMHASH = "graft_simhash"
  val INTERSECT_SIZE = "graft_intersect_size"
  val KMV_DISTINCT = "graft_kmv_distinct"
  val BPE_TOKENS = "graft_bpe_tokens"
  val CMS_ESTIMATE = "graft_cms_estimate"
  val BLOOM_AGG = "graft_bloom_agg"
  val BLOOM_CONTAINS = "graft_bloom_contains"
  val NEAREST = "graft_nearest"
  val NEAREST_K = "graft_nearest_k"
  val QMEAN_VEC = "graft_qmean_vec"

  /** BPE token array of a cleaned-word column. */
  def bpeTokens(word: Column): Column = call_function(BPE_TOKENS, word)

  /** Fused cosine similarity column. */
  def cosine(a: Column, b: Column): Column = call_function(COSINE, a, b)

  /** Nearest codebook entry of a vector: `struct(cell, csim)` (see
    * [[NearestCentroid]]). */
  def nearest(e: Column, codebook: Column): Column =
    call_function(NEAREST, e, codebook)

  /** The `k` nearest codebook entries of a vector, best first:
    * `array<struct(cell, csim)>` (see [[NearestK]]). */
  def nearestK(e: Column, codebook: Column, k: Int): Column =
    call_function(NEAREST_K, e, codebook, lit(k))

  /** Exact per-dimension mean of a vector column (see [[QMeanVec]]). */
  def qmeanVec(e: Column): Column = call_function(QMEAN_VEC, e)

  /** Hashed distinct 3-shingles of a text column. */
  def shingleHashes(text: Column): Column = call_function(SHINGLE_HASHES, text)

  /** 16-permutation MinHash signature of a hashed-shingle column. */
  def minhashSig(hashes: Column): Column = call_function(MINHASH_SIG, hashes)

  /** 16-bit SimHash of a text column. */
  def simhash(text: Column): Column = call_function(SIMHASH, text)

  /** |A∩B| of two sorted ARRAY<BIGINT> columns (merge pass). */
  def intersectSize(a: Column, b: Column): Column =
    call_function(INTERSECT_SIZE, a, b)

  /** KMV distinct-count sketch aggregate (k = 64, deterministic). */
  def kmvDistinct(c: Column): Column = call_function(KMV_DISTINCT, c)

  /** Frequency estimate of `item` from a serialized count-min sketch. */
  def cmsEstimate(sketch: Column, item: Column): Column =
    call_function(CMS_ESTIMATE, sketch, item)

  /** Bloom-filter build aggregate over a BIGINT key column → BINARY. */
  def bloomAgg(key: Column): Column = call_function(BLOOM_AGG, key)

  /** Probe a serialized Bloom filter (query-constant) with a key. */
  def bloomContains(bloom: Column, key: Column): Column =
    call_function(BLOOM_CONTAINS, bloom, key)
}
