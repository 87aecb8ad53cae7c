package org.apache.spark.sql.graft

import org.apache.spark.sql.{classic, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.execution.LogicalRDD

/** A checkpointed frame whose size estimate is its known row count
  * times its row width. A checkpoint otherwise keeps the estimate of
  * the plan it was made from, and a loop that joins its checkpointed
  * state with itself squares that estimate every round. Spark 4 keeps
  * the frame-from-plan constructor `private[sql]`. */
object SizedCheckpoint {
  def apply(df: DataFrame, rows: Long): DataFrame = df.queryExecution.logical match {
    case r: LogicalRDD =>
      val s = df.sparkSession.asInstanceOf[classic.SparkSession]
      val stats = Statistics(EstimationUtils.getOutputSize(r.output, rows), Some(rows))
      classic.Dataset.ofRows(s, r.copy()(s, Some(stats), Some(r.constraints)))
    case p =>
      throw new IllegalArgumentException(s"not a checkpointed frame: ${p.nodeName}")
  }
}
