package graft

import org.apache.spark.SPARK_DOC_ROOT
import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions._
import graft.functions.VectorFunctions._

/** SparkSessionExtensions hook: makes the engine's native functions
  * available SQL-wide via `spark.sql.extensions=graft.GraftExtensions`
  * (every session from [[Sessions.local]] carries it), and injects the
  * [[graft.plans.RangeBinJoinRule]] optimizer rule (fixed-width interval
  * joins → binned equi-joins; kill-switch
  * `spark.graft.binRangeJoin.enabled=false`). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectOptimizerRule(_ => graft.plans.RangeBinJoinRule)
    // OPTIMIZE / VACUUM maintenance statements for DirSink zones
    // (graft.plans.GraftSqlParser); everything else delegates verbatim
    e.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    // table_changes('t', from[, to]) — the change data feed as SQL
    e.injectTableFunction((
      FunctionIdentifier(graft.plans.TableChanges.Name),
      new ExpressionInfo(graft.plans.TableChanges.getClass.getName,
        graft.plans.TableChanges.Name),
      (exprs: Seq[Expression]) => graft.plans.TableChanges.plan(exprs)))
    GraftExtensions.functions.foreach { case (name, cls, arity, build) =>
      e.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(cls.getName, name),
        (exprs: Seq[Expression]) =>
          if (exprs.length == arity) build(exprs)
          else throw new AnalysisException("WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
            Map("functionName" -> s"`$name`", "expectedNum" -> arity.toString,
              "actualNum" -> exprs.length.toString,
              "docroot" -> SPARK_DOC_ROOT))))
    }
  }
}

object GraftExtensions {

  /** The native SQL functions: name, expression class, argument count,
    * builder. The builder only sees argument lists of the declared
    * length; any other count fails analysis with WRONG_NUM_ARGS. */
  private val functions: Seq[(String, Class[_], Int, Seq[Expression] => Expression)] =
    Seq(
      (COSINE, classOf[CosineSimilarity], 2, a => CosineSimilarity(a(0), a(1))),
      (SHINGLE_HASHES, classOf[ShingleHashes], 1, a => ShingleHashes(a(0))),
      (MINHASH_SIG, classOf[MinHashSig], 1, a => MinHashSig(a(0))),
      (SIMHASH, classOf[SimHash16], 1, a => SimHash16(a(0))),
      (INTERSECT_SIZE, classOf[IntersectSize], 2, a => IntersectSize(a(0), a(1))),
      (KMV_DISTINCT, classOf[KmvDistinct], 1, a => KmvDistinct(a(0))),
      (BPE_TOKENS, classOf[BpeTokens], 1, a => BpeTokens(a(0))),
      (CMS_ESTIMATE, classOf[CmsEstimate], 2, a => CmsEstimate(a(0), a(1))),
      (BLOOM_AGG, classOf[BloomKeysAgg], 1, a => BloomKeysAgg(a(0))),
      (BLOOM_CONTAINS, classOf[BloomMightContain], 2,
        a => BloomMightContain(a(0), a(1))),
      (NEAREST, classOf[NearestCentroid], 2, a => NearestCentroid(a(0), a(1))),
      (NEAREST_K, classOf[NearestK], 3, a => NearestK(a(0), a(1), a(2))),
      (QMEAN_VEC, classOf[QMeanVec], 1, a => QMeanVec(a(0))))
}
