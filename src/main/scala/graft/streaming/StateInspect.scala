package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Offline inspection of Structured Streaming state through Spark's
  * `statestore` / `state-metadata` DataSourceV2 readers: the state a
  * stateful query left in its checkpoint, read back as a batch
  * DataFrame without replaying the stream.
  *
  * This is the operational surface a production streaming deployment
  * needs — answering "which keys are in state", "why is the store
  * X GB", "did the TTL configuration take", and feeding state
  * migrations/backfills — and it scales the right way: the reader
  * exposes one input partition per state-store shard, so a
  * 200-partition store reads as a 200-partition scan with per-shard
  * RocksDB/HDFS-provider loads on the executors, never through the
  * driver.
  *
  * Caveats that matter in practice (both verified by
  * [[graft.streaming.StreamRun]] scenario C and StateInspectSpec):
  *  - the snapshot-upload-lag report needs a StateStoreCoordinator; a
  *    batch-ONLY session has none until a streaming query creates it,
  *    so pure inspection sessions should set
  *    `spark.sql.streaming.stateStore.coordinatorReportSnapshotUploadLag`
  *    to false (the spec pins this).
  *  - a TTL'd ValueState's `value` column nests the payload beside its
  *    `ttlExpirationMs`; [[longValueState]] flattens both shapes for
  *    the common long-keyed/long-valued case.
  */
object StateInspect {

  /** Every stateful operator in the checkpoint with its state stores,
    * partition counts, batch-id range, and (for transformWithState)
    * the declared state variables + TTL flags in
    * `operatorProperties` — the catalog one lists before reading. */
  def stateMetadata(spark: SparkSession, checkpoint: String): DataFrame =
    spark.read.format("state-metadata").load(checkpoint)

  /** Raw state rows of one named state variable of a
    * `transformWithState` operator: `key` / `value` structs shaped by
    * the processor's encoders, plus `partition_id` — as committed by
    * batch `batchId`, or by the latest batch when it is None. */
  def valueState(spark: SparkSession, checkpoint: String,
                 stateVar: String, batchId: Option[Long] = None): DataFrame = {
    val r = spark.read.format("statestore")
      .option("path", checkpoint)
      .option("stateVarName", stateVar)
    batchId.fold(r)(b => r.option("batchId", b)).load()
  }

  /** [[valueState]] flattened for a long-keyed, long-valued
    * ValueState: `(key, value, ttl_expiration_ms)` — the TTL column is
    * null for non-TTL variables (whose value struct has no
    * `ttlExpirationMs` field and no extra nesting). */
  def longValueState(spark: SparkSession, checkpoint: String,
                     stateVar: String, batchId: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = valueState(spark, checkpoint, stateVar, batchId)
    val ttl = raw.schema("value").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.contains("ttlExpirationMs")
    if (ttl)
      raw.select(col("key.value").as("key"),
        col("value.value.value").as("value"),
        col("value.ttlExpirationMs").as("ttl_expiration_ms"))
    else
      raw.select(col("key.value").as("key"),
        col("value.value").as("value"),
        lit(null).cast("long").as("ttl_expiration_ms"))
  }
}
