package graft.streaming

import graft.sources.Tables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import java.nio.file.Files

/** Driver-visible run artifact for the streaming surface (ST4/ST5 are
  * proven in FileStreamSpec but a spec leaves no committed evidence):
  * replays the two landing-zone scenarios against the real events
  * parquet — (A) tumbling hourly counts with a 10-day-late drop that
  * the watermark must discard, (B) cross-batch
  * `dropDuplicatesWithinWatermark` over two overlapping drops — and
  * emits ONE JSON document with per-micro-batch input rows, watermark
  * drop counts, and the dedup-hit count, plus a `pass` verdict per
  * scenario. Usage:
  *   runMain graft.streaming.StreamRun <sfDir> [outFile]
  */
object StreamRun {

  private def batchJson(q: StreamingQuery): String =
    q.recentProgress.map { p =>
      val dropped = p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      val out = Option(p.sink).map(_.numOutputRows).getOrElse(-1L)
      s"""{"batch":${p.batchId},"input_rows":${p.numInputRows},""" +
        s""""dropped_by_watermark":$dropped,"sink_rows":$out}"""
    }.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val outFile = args.lift(1)
    val spark = graft.Sessions.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val events = Tables.load(spark, sfDir, "events")
      .orderBy($"event_id").limit(2000)
      .localCheckpoint(true)

    // ---- scenario A: tumbling counts, one drop 10 days late (ST1+ST4).
    // One part file per drop + maxFilesPerTrigger=1 → one micro-batch
    // per drop, oldest mtime first — how a landing zone actually fills.
    // Spark 4 filters late rows with the PREVIOUS batch's watermark
    // (SPARK-42376), so the late drop lands two batches after the data
    // that advanced it.
    val dirA = Files.createTempDirectory("graft_streamrun_late").toString
    events.filter($"event_id" % 2 === 0)
      .coalesce(1).write.mode("append").parquet(dirA)
    Thread.sleep(1500)
    events.filter($"event_id" % 2 === 1)
      .coalesce(1).write.mode("append").parquet(dirA)
    Thread.sleep(1500)
    events.withColumn("ts", $"ts" - expr("INTERVAL 10 DAYS"))
      .coalesce(1).write.mode("append").parquet(dirA)

    val qA = StreamOps.tumblingCounts(
        spark.readStream.schema(Tables.events)
          .option("maxFilesPerTrigger", "1").parquet(dirA))
      .writeStream.outputMode("append")
      .format("memory").queryName("streamrun_late")
      .trigger(Trigger.AvailableNow())
      .start()
    qA.awaitTermination(180000)
    val sinkA = spark.table("streamrun_late")
    val hourMin = events.select(date_trunc("hour", min($"ts")))
      .head().getTimestamp(0)
    val lateWindows = sinkA.filter($"window_start" < lit(hourMin)).count()
    val lastHour = events
      .select(date_trunc("hour", max($"ts"))).head().getTimestamp(0)
    val expectedA = events
      .filter(date_trunc("hour", $"ts") < lastHour).count()
    val emittedA = sinkA.agg(coalesce(sum($"n"), lit(0L))).as[Long].head()
    val droppedA = qA.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    val batchesA = batchJson(qA)
    qA.stop()
    val passA = lateWindows == 0 && emittedA == expectedA && droppedA > 0

    // ---- scenario B: cross-batch dedup over overlapping drops (ST5).
    // ts pinned to one instant so the scenario isolates DEDUP state
    // (scenario A owns late-arrival semantics).
    val dirB = Files.createTempDirectory("graft_streamrun_dedup").toString
    val pinned = events.limit(800)
      .withColumn("ts", lit("2025-01-01 12:00:00").cast("timestamp"))
      .localCheckpoint(true)
    val ids = pinned.select($"event_id").as[Long].collect().sorted
    val overlap = 300
    pinned.filter($"event_id" <= ids(499)).coalesce(1)
      .write.mode("append").parquet(dirB)
    Thread.sleep(1500)
    pinned.filter($"event_id" >= ids(500 - overlap)).coalesce(1)
      .write.mode("append").parquet(dirB)

    val qB = StreamOps.dedupEvents(
        spark.readStream.schema(Tables.events)
          .option("maxFilesPerTrigger", "1").parquet(dirB))
      .writeStream.outputMode("append")
      .format("memory").queryName("streamrun_dedup")
      .trigger(Trigger.AvailableNow())
      .start()
    qB.awaitTermination(180000)
    val got = spark.table("streamrun_dedup")
      .select($"event_id").as[Long].collect().sorted
    val inputB = 500 + (ids.length - (500 - overlap))
    val dedupHits = inputB - got.length
    val batchesB = batchJson(qB)
    qB.stop()
    val passB = got.length == ids.length && got.toSeq == ids.toSeq &&
      dedupHits == overlap

    // ---- scenario C: transformWithState (ST6) — RocksDB StatefulProcessor
    // with TWO named ValueState handles (totalCount: no TTL; recentCount:
    // 2 s processing-time TTL) over the same landing-dir mechanism, run as
    // two AvailableNow queries sharing one checkpoint with a >TTL gap
    // between them. The restart proves cross-run state persistence
    // (n_total accumulates) and REAL TTL expiry (n_recent resets to the
    // second drop's count for every user seen in both drops) — the
    // state-GC semantics as replayable data.
    val ttlMs = 2000L
    val gapMs = 3500L
    val dirC = Files.createTempDirectory("graft_streamrun_tws").toString
    val chkC = Files.createTempDirectory("graft_streamrun_tws_chk").toString
    val pairs = events.select($"user_id", $"value")
    val drop1 = pairs.filter($"user_id" % 2 === 0)
    val drop2 = pairs // every drop-1 user recurs → all of them test expiry
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val c1 = drop1.groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    val c2 = drop2.groupBy($"user_id").count()
      .as[(Long, Long)].collect().toMap
    // memory sinks refuse checkpoint recovery, and the restart IS the
    // scenario — collect each run's emissions through foreachBatch (a
    // recoverable sink). Processing-time mode keeps scheduling no-data
    // batches (pending TTL/timers could still fire), so AvailableNow
    // never self-terminates here: stop each run once its drop's rows
    // have arrived, and report only the data-carrying batches.
    val sinkBuf =
      new scala.collection.mutable.ArrayBuffer[(Long, Long, Long)]()
    def runTws(expectedUsers: Int): StreamingQuery = {
      val q = StreamOps.ttlUserCounts(ttlMs)(
          spark.readStream
            .schema("user_id BIGINT, value DOUBLE")
            .option("maxFilesPerTrigger", "1").parquet(dirC)
            .as[(Long, Double)])
        .writeStream.outputMode("append")
        .option("checkpointLocation", chkC)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[StreamOps.UserTtlUpdate],
           _: Long) =>
            val rows = batch.collect().map(u =>
              (u.user_id, u.n_total, u.n_recent))
            sinkBuf.synchronized { sinkBuf ++= rows }; ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (sinkBuf.synchronized(sinkBuf.length) < expectedUsers &&
          System.nanoTime() < deadline && q.isActive)
        Thread.sleep(100)
      q
    }
    def dataBatches(q: StreamingQuery): String = {
      // progress is published asynchronously after the batch commits —
      // poll briefly so the data batch's metrics make the artifact
      val deadline = System.nanoTime() + 15L * 1000 * 1000 * 1000
      while (!q.recentProgress.exists(_.numInputRows > 0) &&
          System.nanoTime() < deadline)
        Thread.sleep(100)
      q.recentProgress.filter(_.numInputRows > 0).map { p =>
        s"""{"batch":${p.batchId},"input_rows":${p.numInputRows},""" +
          s""""state_rows":${p.stateOperators.map(_.numRowsTotal).sum}}"""
      }.mkString("[", ",", "]")
    }
    drop1.coalesce(1).write.mode("append").parquet(dirC)
    val qC1 = runTws(c1.size)
    val batchesC1 = dataBatches(qC1)
    qC1.stop()
    val run1 = sinkBuf.synchronized { val r = sinkBuf.toArray
      sinkBuf.clear(); r }
    Thread.sleep(gapMs) // let recentCount's TTL lapse before the restart
    drop2.coalesce(1).write.mode("append").parquet(dirC)
    val qC2 = runTws(c2.size)
    val batchesC2 = dataBatches(qC2)
    val lastDataC2 =
      qC2.recentProgress.filter(_.numInputRows > 0).map(_.batchId).maxOption
    qC2.stop()
    val run2 = sinkBuf.synchronized { sinkBuf.toArray }
    // read the checkpoint's state BACK through the statestore source —
    // the emissions above are the processor's view; this is the store's.
    // Read it as the last data-carrying batch committed it: a no-data
    // batch that runs after the 2 s TTL lapses evicts recentCount.
    val stTotal = StateInspect
      .longValueState(spark, chkC, "totalCount", lastDataC2)
      .select($"key", $"value").as[(Long, Long)].collect().toMap
    val stRecent = StateInspect
      .longValueState(spark, chkC, "recentCount", lastDataC2)
      .select($"key", $"value").as[(Long, Long)].collect().toMap
    val stateVars = StateInspect.stateMetadata(spark, chkC)
      .select($"operatorProperties").as[String].head()
    spark.conf.unset(provKey)
    // run 1: fresh state — total == recent == drop-1 count
    val pass1 = run1.length == c1.size && run1.forall { case (u, t, r) =>
      t == c1(u) && r == c1(u) }
    // run 2: totalCount persisted across the restart; recentCount expired
    val recurringUsers = run2.count { case (u, _, _) => c1.contains(u) }
    val totalPersisted = run2.length == c2.size &&
      run2.forall { case (u, t, _) => t == c1.getOrElse(u, 0L) + c2(u) }
    val recentExpired = run2.forall { case (u, _, r) => r == c2(u) }
    // store-side confirmation of the same facts, via the state reader
    val stateMatches = stTotal.size == c2.size &&
      c2.keys.forall(u => stTotal(u) == c1.getOrElse(u, 0L) + c2(u)) &&
      c2.keys.forall(u => stRecent.get(u).contains(c2(u))) &&
      stateVars.contains("\"stateName\":\"totalCount\"") &&
      stateVars.contains("\"ttlEnabled\":true")
    val passC = pass1 && totalPersisted && recentExpired &&
      stateMatches && recurringUsers > 0

    // ---- scenario D (round 11): streaming write through the engine's
    // OWN DSv2 sink (DirSinkSource STREAMING_WRITE) — the proven ST1
    // tumbling aggregate lands in epoch-keyed manifest generations over
    // the same landing-dir mechanism (one micro-batch per drop), and the
    // read-back through the sink's batch scan must equal the batch
    // derivation exactly once: the landing-zone shape a production
    // pipeline actually deploys (read pushdowns + batch write + the
    // streaming tail all through one connector).
    val dirD = Files.createTempDirectory("graft_streamrun_sinkzone").toString
    val outD = Files.createTempDirectory("graft_streamrun_sink").toString + "/t"
    val chkD = Files.createTempDirectory("graft_streamrun_sink_chk").toString
    events.filter($"event_id" % 2 === 0)
      .coalesce(1).write.mode("append").parquet(dirD)
    Thread.sleep(1500)
    events.filter($"event_id" % 2 === 1)
      .coalesce(1).write.mode("append").parquet(dirD)

    val qD = StreamOps.tumblingCounts(
        spark.readStream.schema(Tables.events)
          .option("maxFilesPerTrigger", "1").parquet(dirD))
      .select($"window_start".cast("string").as("ws"), $"event_type", $"n")
      .writeStream.outputMode("append")
      .format("graft.sources.v2.DirSinkSource")
      .option("path", outD)
      .option("schema", "ws STRING, event_type STRING, n BIGINT")
      .option("checkpointLocation", chkD)
      .trigger(Trigger.AvailableNow())
      .start()
    qD.awaitTermination(180000)
    val batchesD = batchJson(qD)
    qD.stop()
    val backD = spark.read.format("graft.sources.v2.DirSinkSource")
      .option("path", outD).load()
      .as[(String, String, Long)].collect().toSeq.sorted
    // batch derivation of the same closed (window, type) cells (append
    // mode emits every window strictly before the final watermark's
    // hour — the same boundary scenario A verified)
    val wantD = events
      .filter(date_trunc("hour", $"ts") < lastHour)
      .groupBy(date_trunc("hour", $"ts").cast("string").as("ws"),
        $"event_type")
      .agg(count(lit(1)).as("n"))
      .as[(String, String, Long)].collect().toSeq.sorted
    val epochsD = graft.sources.v2.DirSink.committedEpochs(outD)
    val cellsD = backD.map(r => (r._1, r._2))
    val passD = backD == wantD && cellsD.distinct.size == cellsD.size &&
      epochsD.nonEmpty

    // ---- scenario E (round 11): bronze → silver THROUGH the connector
    // — the medallion hop a production pipeline deploys: upstream
    // commits fill the bronze zone (two generations), a downstream job
    // TAILS bronze with the connector's own streaming read (manifest-
    // count offsets), aggregates per event type, and streaming-writes
    // silver in complete mode (per-epoch manifest swap). Silver's batch
    // read-back must equal the batch derivation over bronze — the
    // stream-in/stream-out loop closed over one commit protocol.
    val bronze = Files.createTempDirectory("graft_streamrun_bronze")
      .toString + "/z"
    val silver = Files.createTempDirectory("graft_streamrun_silver")
      .toString + "/z"
    val chkE = Files.createTempDirectory("graft_streamrun_med_chk").toString
    val fmt = "graft.sources.v2.DirSinkSource"
    val bronzeRows = events.select($"event_id", $"event_type")
    bronzeRows.filter($"event_id" % 2 === 0).write.format(fmt)
      .option("path", bronze).mode("append").save()
    bronzeRows.filter($"event_id" % 2 === 1).write.format(fmt)
      .option("path", bronze).mode("append").save()
    val qE = spark.readStream.format(fmt).option("path", bronze).load()
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format(fmt)
      .option("path", silver)
      .option("schema", "event_type STRING, n BIGINT")
      .option("checkpointLocation", chkE)
      .trigger(Trigger.AvailableNow())
      .start()
    qE.awaitTermination(180000)
    val batchesE = batchJson(qE)
    qE.stop()
    val silverBack = spark.read.format(fmt).option("path", silver).load()
      .as[(String, Long)].collect().toSeq.sorted
    val wantE = spark.read.format(fmt).option("path", bronze).load()
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toSeq.sorted
    val passE = silverBack.nonEmpty && silverBack == wantE

    // ---- scenario F (round 11): STREAMING INDEX MAINTENANCE — the
    // annIndexAppend path driven by real micro-batches: an index trains
    // once over the base corpus slice, then two embedding drops land in
    // a zone and each micro-batch appends its vectors to the FROZEN
    // codebooks (pure assignment, no retraining), publishing a new
    // generation per epoch. The final live generation's cells/codes
    // must equal a full frozen-codebook re-assignment of ALL vectors —
    // the AnnIndexSpec equality, now proven ASSOCIATIVE across
    // sequential streamed appends.
    import graft.operators.Similarity
    val vecsAll = Similarity.ivfVectors(spark, sfDir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val baseVecs = vecsAll.filter($"vec_id" % 3 === 0)
    val idxRoot = Files.createTempDirectory("graft_streamrun_idx")
      .toString + "/idx"
    val g0 = Similarity.annIndexBuild(spark, idxRoot, baseVecs)
    val dirF = Files.createTempDirectory("graft_streamrun_veczone").toString
    val chkF = Files.createTempDirectory("graft_streamrun_idx_chk").toString
    vecsAll.filter($"vec_id" % 3 === 1).write.mode("append").parquet(dirF)
    Thread.sleep(1200)
    vecsAll.filter($"vec_id" % 3 === 2).write.mode("append").parquet(dirF)
    val appendCounts = scala.collection.mutable.ArrayBuffer[Long]()
    val qF = spark.readStream
      .schema("vec_id BIGINT, e ARRAY<DOUBLE>")
      .option("maxFilesPerTrigger", "1").parquet(dirF)
      .writeStream
      .option("checkpointLocation", chkF)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        appendCounts += batch.count()
        Similarity.annIndexAppend(spark, idxRoot, batch); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    qF.awaitTermination(180000)
    qF.stop()
    val live = graft.Artifacts.ready(spark, idxRoot).get
    val coarse0 = spark.read.parquet(s"$g0/coarse")
    val pq0 = spark.read.parquet(s"$g0/pq")
    // chain-resolved read: each append published a DELTA generation
    // linking its parent (O(k) write); the union must equal the full
    // frozen-codebook assignment
    val opened = Similarity.annIndexOpen(spark, idxRoot)
    def sortedRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().toSeq.map(_.toSeq).sortBy(_.toString)
    val cellsMatch = sortedRows(opened.cells) ==
      sortedRows(Similarity.assignCells(vecsAll, Similarity.Codebook.of(coarse0)))
    val codesMatch = sortedRows(opened.codes) ==
      sortedRows(Similarity.pqAssign(Similarity.pqSubspaces(vecsAll),
        Similarity.Codebook.of(pq0))
        .select($"vec_id", $"m", $"cell".as("code")))
    val codebooksFrozen =
      sortedRows(opened.coarse.frame(spark)) == sortedRows(coarse0) &&
        sortedRows(opened.pq.frame(spark)) == sortedRows(pq0)
    val chainLen = graft.Artifacts.chain(spark, idxRoot).size
    // round 16: AUTO-RETRAIN through the maintenance operator — by now
    // the chain has appended 2/3 of the corpus over a 1/3 base, far
    // past the 20%-of-base backstop, so ONE more maintained delta must
    // fire a retrain and collapse the chain to a fresh base generation
    val extraF = vecsAll.filter($"vec_id" % 37 === 0)
      .select(($"vec_id" + 1000000L).as("vec_id"), $"e")
    val corpusF = vecsAll.union(extraF)
    val (liveM, retrainedF) =
      Similarity.annIndexMaintain(spark, idxRoot, extraF, corpusF)
    val chainAfterMaintain = graft.Artifacts.chain(spark, idxRoot).size
    val maintainedCells = spark.read.parquet(s"$liveM/cells").count()
    val maintainCovers = maintainedCells == corpusF.count()
    vecsAll.unpersist(false)
    val passF = appendCounts.size == 2 && cellsMatch && codesMatch &&
      codebooksFrozen && live != g0 && chainLen == 3 &&
      retrainedF && chainAfterMaintain == 1 && maintainCovers

    // ---- scenario G (round 11): MAINTENANCE UNDER A TAIL — a zone is
    // tailed with maxFilesPerTrigger=1; after the first micro-batch a
    // COMPACTION rewrites the zone's 3 files into 1, mid-history. The
    // tail addresses commit-log generations: it keeps reading the two
    // appends it had not reached (their files stay on disk for the
    // retained log), then passes the compaction's generation without
    // emitting anything (row-preserving maintenance). Every row
    // arrives exactly once and the stream never fails. A fresh tail
    // over the compacted zone reads every row once too.
    val zoneG = Files.createTempDirectory("graft_streamrun_maint")
      .toString + "/z"
    val chkG1 = Files.createTempDirectory("graft_streamrun_maint_chk1").toString
    val chkG2 = Files.createTempDirectory("graft_streamrun_maint_chk2").toString
    val rowsG = events.select($"event_id", $"event_type")
    (0 until 3).foreach { i =>
      rowsG.filter($"event_id" % 3 === i).coalesce(1).write.format(fmt)
        .option("path", zoneG).mode("append").save()
    }
    val totalG = spark.read.format(fmt).option("path", zoneG).load().count()
    val seenG = scala.collection.mutable.ArrayBuffer[Long]()
    val qG = spark.readStream.format(fmt).option("path", zoneG)
      .option("maxFilesPerTrigger", "1").load()
      .writeStream
      .option("checkpointLocation", chkG1)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, id: Long) =>
        seenG += b.count()
        // maintenance colliding with the live tail: compact after the
        // first micro-batch lands
        if (id == 0) graft.sources.v2.DirSink.compact(spark, zoneG, 1)
        ()
      }
      .start()
    val errG = try { qG.processAllAvailable(); None } catch {
      case e: org.apache.spark.sql.streaming.StreamingQueryException =>
        Some(e.getMessage)
    } finally qG.stop()
    val filesAfterG = graft.sources.v2.DirSink
      .readManifest(zoneG).map(_._2.size).getOrElse(-1)
    val seenG2 = scala.collection.mutable.ArrayBuffer[Long]()
    val qG2 = spark.readStream.format(fmt).option("path", zoneG).load()
      .writeStream
      .option("checkpointLocation", chkG2)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seenG2 += b.count(); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    qG2.awaitTermination(120000)
    qG2.stop()
    val passG = errG.isEmpty && filesAfterG == 1 && seenG.sum == totalG &&
      seenG2.sum == totalG

    // ---- scenario H (round 12): RESTART ACROSS a compaction — a tail
    // consumes the WHOLE zone and stops; the zone compacts (3 files ->
    // 1); the SAME checkpoint restarts against the compacted zone, new
    // rows land, and the tail must emit EXACTLY the new rows — zero
    // rereads of rewritten history, zero loss. The accounting is
    // row-exact: run-1 rows + run-2 rows == zone rows.
    val zoneH = Files.createTempDirectory("graft_streamrun_mig")
      .toString + "/z"
    val chkH = Files.createTempDirectory("graft_streamrun_mig_chk").toString
    val rowsH = events.select($"event_id", $"event_type")
    (0 until 3).foreach { i =>
      rowsH.filter($"event_id" % 4 === i).coalesce(1).write.format(fmt)
        .option("path", zoneH).mode("append").save()
    }
    val preH = spark.read.format(fmt).option("path", zoneH).load().count()
    val seenH1 = scala.collection.mutable.ArrayBuffer[Long]()
    val qH1 = spark.readStream.format(fmt).option("path", zoneH).load()
      .writeStream
      .option("checkpointLocation", chkH)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seenH1 += b.count(); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    qH1.awaitTermination(120000)
    qH1.stop()
    graft.sources.v2.DirSink.compact(spark, zoneH, 1)
    val filesAfterH = graft.sources.v2.DirSink
      .readManifest(zoneH).map(_._2.size).getOrElse(-1)
    rowsH.filter($"event_id" % 4 === 3).coalesce(1).write.format(fmt)
      .option("path", zoneH).mode("append").save()
    val totalH = spark.read.format(fmt).option("path", zoneH).load().count()
    val seenH2 = scala.collection.mutable.ArrayBuffer[Long]()
    val qH2 = spark.readStream.format(fmt).option("path", zoneH).load()
      .writeStream
      .option("checkpointLocation", chkH) // SAME checkpoint across compact
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        seenH2 += b.count(); ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    qH2.awaitTermination(120000)
    qH2.stop()
    val passH = seenH1.sum == preH && filesAfterH == 1 &&
      seenH2.sum == totalH - preH

    // ---- scenario I (round 13): GOVERNED LANDING ZONE — the streaming
    // write path under the round-13 zone properties, end to end: the
    // landing table is BUCKETED (bucket(4, user_id) — every committed
    // file pure in one bucket) and CONSTRAINED (CHECK n >= 0, enforced
    // per row in front of the epoch writer). A clean run lands every
    // row with the layout intact; a poisoned drop FAILS THE QUERY at
    // the writer, before its epoch commits — the zone holds exactly the
    // valid rows, generation unchanged. This is the production promise
    // of the governed format: a poisoned pipeline stops at write time,
    // not in the training run that consumes the zone.
    val whI = Files.createTempDirectory("graft_streamrun_gov").toString
    spark.conf.set("spark.sql.catalog.streamgov",
      "graft.sources.v2.GraftCatalog")
    spark.conf.set("spark.sql.catalog.streamgov.warehouse", whI)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS streamgov.db")
    spark.sql("CREATE TABLE streamgov.db.land (user_id BIGINT, n BIGINT) " +
      "PARTITIONED BY (bucket(4, user_id)) " +
      "TBLPROPERTIES ('check.nonneg' = 'n >= 0')")
    val zoneI = s"$whI/db/land"
    val dropsI = Files.createTempDirectory("graft_streamrun_gov_src").toString
    val chkI = Files.createTempDirectory("graft_streamrun_gov_chk").toString
    events.select($"user_id", $"event_id".as("n"))
      .coalesce(1).write.mode("append").parquet(dropsI)
    val qI = spark.readStream.schema("user_id BIGINT, n BIGINT")
      .parquet(dropsI)
      .writeStream.outputMode("append")
      .format("graft.sources.v2.DirSinkSource")
      .option("path", zoneI)
      .option("checkpointLocation", chkI)
      .trigger(Trigger.AvailableNow())
      .start()
    qI.awaitTermination(120000)
    qI.stop()
    val validI = events.count()
    val landedI = spark.table("streamgov.db.land").count()
    // layout intact: every committed file carries its bucket tag and
    // every row hashes to its file's bucket
    val entriesI = graft.sources.v2.DirSink
      .readManifestEntries(zoneI).get._2
    val taggedI = entriesI.nonEmpty && entriesI.forall(_.bucket.isDefined)
    val byFileI = entriesI.map(e => e.name -> e.bucket.getOrElse(-1)).toMap
    val pureI = spark.read.format("graft.sources.v2.DirSinkSource")
      .option("path", zoneI).load()
      .select($"_file", $"user_id").collect().forall { r =>
        graft.sources.v2.DirSink.bucketId(r.get(1), 4) ==
          byFileI(r.getString(0))
      }
    val genBeforePoison = graft.sources.v2.DirSink.currentGen(zoneI).get
    // the poisoned drop: one negative n among fresh rows
    spark.range(5).select(($"id" + 900000L).as("user_id"),
      (lit(-1L) * $"id" - 1L).as("n"))
      .coalesce(1).write.mode("append").parquet(dropsI)
    val qI2 = spark.readStream.schema("user_id BIGINT, n BIGINT")
      .parquet(dropsI)
      .writeStream.outputMode("append")
      .format("graft.sources.v2.DirSinkSource")
      .option("path", zoneI)
      .option("checkpointLocation", chkI)
      .trigger(Trigger.AvailableNow())
      .start()
    val poisonedFailed = scala.util.Try {
      qI2.awaitTermination(120000)
    }.isFailure || scala.util.Try(qI2.stop()).isFailure ||
      qI2.exception.isDefined
    val afterPoisonRows = spark.table("streamgov.db.land").count()
    val genAfterPoison = graft.sources.v2.DirSink.currentGen(zoneI).get
    val passI = landedI == validI && taggedI && pureI && poisonedFailed &&
      afterPoisonRows == validI && genAfterPoison == genBeforePoison

    // ---- scenario J (round 14): CHANGE-FEED TAIL — an incremental
    // dedup consumer driven by the zone's own generations: per tick it
    // reads ChangeFeed.read(last+1, head), applies inserts/deletes to
    // its history, and NEVER re-reads the zone. The load-bearing claim
    // is the row counts: a DELETE that copy-on-write-rewrites a file
    // carrying surviving rows surfaces ONLY the deleted rows (the
    // carried remainder cancels in the feed's exceptAll), so the
    // consumer's work is proportional to the change, not the rewrite.
    val zoneJ = Files.createTempDirectory("graft_streamrun_cdf").toString
    import org.apache.spark.sql.SaveMode
    spark.range(0, 10).select($"id", ($"id" * 7L).as("v")).coalesce(1)
      .write.format(fmt).option("path", zoneJ).mode(SaveMode.Append).save()
    spark.range(10, 20).select($"id", ($"id" * 7L).as("v")).coalesce(1)
      .write.format(fmt).option("path", zoneJ).mode(SaveMode.Append).save()
    val historyJ = scala.collection.mutable.Set[Long]()
    val processedJ = scala.collection.mutable.ArrayBuffer[Long]()
    var lastGenJ = -1L
    def tickJ(): Unit = {
      val head = graft.sources.v2.DirSink.currentGen(zoneJ).get
      if (head > lastGenJ) {
        val changes = graft.sources.v2.ChangeFeed
          .read(spark, zoneJ, lastGenJ + 1, Some(head))
          .select($"id", col(graft.sources.v2.ChangeFeed.ChangeTypeCol))
          .collect()
        processedJ += changes.length.toLong
        changes.foreach { r =>
          if (r.getString(1) == "insert") historyJ += r.getLong(0)
          else historyJ -= r.getLong(0)
        }
        lastGenJ = head
      }
    }
    tickJ() // tick 1: both appends -> 20 inserts
    val afterAppendsJ = processedJ.lastOption.getOrElse(-1L)
    // a rewrite: DELETE id < 5 splits gen 0's file (5 rows carried)
    new graft.sources.v2.DirSinkTable(zoneJ,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.LessThan("id", 5L)))
    tickJ() // tick 2: exactly the 5 deleted rows
    val afterDeleteJ = processedJ.lastOption.getOrElse(-1L)
    val zoneIdsJ = spark.read.format(fmt).option("path", zoneJ).load()
      .select($"id").collect().map(_.getLong(0)).toSet
    val passJ = afterAppendsJ == 20L && afterDeleteJ == 5L &&
      historyJ.toSet == zoneIdsJ && zoneIdsJ.size == 15

    // ---- scenario K (round 14): DEAD-LETTER LANDING ZONE — scenario
    // I's poisoned-drop stop, solved for lossy upstream feeds: the
    // same constrained landing zone written WITH `checks.deadletter`
    // routes violators to a quarantine zone and KEEPS THE STREAM
    // ALIVE. The promise under test: the poisoned epoch publishes its
    // clean rows, the quarantine holds exactly the violators (each
    // naming its constraint), counts reconcile, and the clean zone's
    // invariant still holds — lossless triage instead of a stalled
    // pipeline, with the all-or-nothing default untouched (scenario I
    // still proves that posture).
    val zoneK = Files.createTempDirectory("graft_streamrun_dlq").toString +
      "/land"
    val quarK = Files.createTempDirectory("graft_streamrun_dlq_q")
      .toString + "/quarantine"
    spark.range(1).select(lit(0L).as("user_id"), lit(0L).as("n"))
      .coalesce(1).write.format(fmt).option("path", zoneK)
      .mode(SaveMode.Overwrite).save()
    graft.sources.v2.DirSink.alterChecks(zoneK, _ :+ ("nonneg" -> "n >= 0"))
    val dropsK = Files.createTempDirectory("graft_streamrun_dlq_src").toString
    val chkK = Files.createTempDirectory("graft_streamrun_dlq_chk").toString
    def runK(): Boolean = {
      val q = spark.readStream.schema("user_id BIGINT, n BIGINT")
        .parquet(dropsK)
        .writeStream.outputMode("append")
        .format("graft.sources.v2.DirSinkSource")
        .option("path", zoneK)
        .option(graft.sources.v2.DirSinkChecks.DeadLetterKey, quarK)
        .option("checkpointLocation", chkK)
        .trigger(Trigger.AvailableNow())
        .start()
      val ok = scala.util.Try(q.awaitTermination(120000)).isSuccess
      scala.util.Try(q.stop())
      ok && q.exception.isEmpty
    }
    events.select($"user_id", $"event_id".as("n"))
      .coalesce(1).write.mode("append").parquet(dropsK)
    val cleanRunOkK = runK()
    val validK = events.count()
    val landedK = spark.read.format(fmt).option("path", zoneK).load()
      .count() - 1 // minus the seed row
    // the poisoned drop: 8 rows, ids ≡ 0 (mod 3) carry a negative n
    spark.range(8).select(($"id" + 900000L).as("user_id"),
      when($"id" % 3 === 0, -$"id" - 1L).otherwise($"id").as("n"))
      .coalesce(1).write.mode("append").parquet(dropsK)
    val poisonRunOkK = runK()
    val afterPoisonK = spark.read.format(fmt).option("path", zoneK).load()
    val cleanLandedK =
      afterPoisonK.count() - 1 - landedK // the 5 clean poisoned-drop rows
    val quarDfK = spark.read.format(fmt).option("path", quarK).load()
    val quarRowsK = quarDfK.count()
    val namedK = quarRowsK > 0 &&
      quarDfK.filter($"_check" =!= "nonneg").count() == 0
    val invariantK = afterPoisonK.filter($"n" < 0).count() == 0
    val passK = cleanRunOkK && poisonRunOkK && landedK == validK &&
      cleanLandedK == 5L && quarRowsK == 3L && namedK && invariantK

    // ---- scenario L (round 14): CDF THROUGH readStream — scenario
    // J's consumer, re-driven through the REAL streaming surface
    // (`readChangeFeed=true`, generation offsets, durable checkpoint):
    // run 1 replays history from gen 0 as inserts; a DELETE rewrites a
    // file copy-on-write; run 2 RESUMES from the checkpoint and emits
    // ONLY the net deleted rows; run 3 emits nothing (no re-reads).
    val zoneL = Files.createTempDirectory("graft_streamrun_cdfs").toString
    val chkL = Files.createTempDirectory("graft_streamrun_cdfs_chk").toString
    spark.range(0, 10).select($"id", ($"id" * 7L).as("v")).coalesce(1)
      .write.format(fmt).option("path", zoneL).mode(SaveMode.Append).save()
    spark.range(10, 20).select($"id", ($"id" * 7L).as("v")).coalesce(1)
      .write.format(fmt).option("path", zoneL).mode(SaveMode.Append).save()
    val gotL = scala.collection.mutable.ArrayBuffer[(Long, String)]()
    def drainL(opts: Map[String, String]): Long = {
      val n0 = gotL.size
      val rdr = spark.readStream.format(fmt).option("path", zoneL)
        .option("readChangeFeed", "true")
      opts.foreach { case (k, v) => rdr.option(k, v) }
      val q = rdr.load().writeStream
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          gotL.synchronized {
            gotL ++= df.select($"id",
              col(graft.sources.v2.ChangeFeed.ChangeTypeCol)).collect()
              .map(r => (r.getLong(0), r.getString(1)))
          }
          ()
        }
        .option("checkpointLocation", chkL)
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination(120000) finally q.stop()
      (gotL.size - n0).toLong
    }
    val run1L = drainL(Map("startingVersion" -> "0"))
    new graft.sources.v2.DirSinkTable(zoneL,
      org.apache.spark.sql.types.StructType.fromDDL("id BIGINT, v BIGINT"))
      .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
        org.apache.spark.sql.sources.LessThan("id", 5L)))
    val run2L = drainL(Map.empty)
    val deletesL = gotL.takeRight(run2L.toInt)
    val run3L = drainL(Map.empty)
    val passL = run1L == 20L &&
      gotL.take(20).forall(_._2 == "insert") &&
      run2L == 5L && deletesL.forall(_._2 == "delete") &&
      deletesL.map(_._1).sorted == Seq(0L, 1L, 2L, 3L, 4L) &&
      run3L == 0L

    // ---- scenario M (round 16): TWO CONCURRENT STREAMING WRITERS on
    // one zone — distinct checkpoints (distinct stable query ids,
    // independent epoch counters) racing the commit lock. Per-query
    // `#txn` marks keep each stream exactly-once where the zone-global
    // `#emax` would swallow the slower stream's epochs. One stream then
    // RESTARTS from its checkpoint (same query id) over a new drop and
    // only the new rows land.
    val srcM1 = Files.createTempDirectory("graft_streamrun_m1").toString
    val srcM2 = Files.createTempDirectory("graft_streamrun_m2").toString
    val zoneM = Files.createTempDirectory("graft_streamrun_mz").toString + "/z"
    val chkM1 = Files.createTempDirectory("graft_streamrun_mchk1").toString
    val chkM2 = Files.createTempDirectory("graft_streamrun_mchk2").toString
    spark.range(0, 50).select($"id", lit("s1").as("src")).coalesce(1)
      .write.mode("append").parquet(srcM1)
    Thread.sleep(1200)
    spark.range(50, 100).select($"id", lit("s1").as("src")).coalesce(1)
      .write.mode("append").parquet(srcM1)
    spark.range(1000, 1080).select($"id", lit("s2").as("src")).coalesce(1)
      .write.mode("append").parquet(srcM2)
    def startM(src: String, chk: String) = spark.readStream
      .schema("id BIGINT, src STRING")
      .option("maxFilesPerTrigger", "1").parquet(src)
      .writeStream.format(fmt).option("path", zoneM)
      .option("schema", "id BIGINT, src STRING")
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow()).start()
    val qM1 = startM(srcM1, chkM1)
    val qM2 = startM(srcM2, chkM2)
    qM1.awaitTermination(180000); qM2.awaitTermination(180000)
    qM1.stop(); qM2.stop()
    val afterRaceM = spark.read.format(fmt).option("path", zoneM)
      .load().count()
    val txnM = graft.sources.v2.DirSink.committedTxn(zoneM)
    spark.range(100, 130).select($"id", lit("s1").as("src")).coalesce(1)
      .write.mode("append").parquet(srcM1)
    val qM1b = startM(srcM1, chkM1)
    qM1b.awaitTermination(180000); qM1b.stop()
    val finalM = spark.read.format(fmt).option("path", zoneM).load()
    val (finalCountM, distinctM) =
      (finalM.count(), finalM.select($"id").distinct().count())
    val passM = afterRaceM == 180L && txnM.size == 2 &&
      finalCountM == 210L && distinctM == 210L
    // one verdict for the JSON and the exit code
    val pass = passA && passB && passC && passD && passE && passF &&
      passG && passH && passI && passJ && passK && passL && passM

    val json =
      s"""{"sf":"$sfDir","rows_per_drop":${events.count()},
         |"scenario_late_drop":{"batches":$batchesA,
         |"dropped_by_watermark":$droppedA,"late_windows_emitted":$lateWindows,
         |"on_time_rows_emitted":$emittedA,"expected_on_time_rows":$expectedA,
         |"pass":$passA},
         |"scenario_cross_batch_dedup":{"batches":$batchesB,
         |"input_rows":$inputB,"unique_ids":${ids.length},
         |"emitted":${got.length},"dedup_hits":$dedupHits,
         |"expected_hits":$overlap,"pass":$passB},
         |"scenario_tws_ttl":{"run1_batches":$batchesC1,
         |"run2_batches":$batchesC2,"ttl_ms":$ttlMs,"restart_gap_ms":$gapMs,
         |"run1_users":${run1.length},"run2_users":${run2.length},
         |"recurring_users":$recurringUsers,
         |"total_persisted_across_restart":$totalPersisted,
         |"recent_expired_by_ttl":$recentExpired,"run1_fresh_state":$pass1,
         |"statestore_reader_rows":{"totalCount":${stTotal.size},
         |"recentCount":${stRecent.size}},
         |"statestore_reader_matches":$stateMatches,
         |"pass":$passC},
         |"scenario_stream_sink":{"batches":$batchesD,
         |"committed_epochs":${epochsD.size},
         |"cells_emitted":${backD.size},"cells_expected":${wantD.size},
         |"rows_match_batch_derivation":${backD == wantD},
         |"pass":$passD},
         |"scenario_medallion":{"batches":$batchesE,
         |"silver_rows":${silverBack.size},
         |"silver_matches_bronze_derivation":${silverBack == wantE},
         |"pass":$passE},
         |"scenario_index_maintenance":{
         |"append_batches":${appendCounts.size},
         |"appended_vectors":${appendCounts.sum},
         |"generation_chain_length":$chainLen,
         |"codebooks_frozen":$codebooksFrozen,
         |"cells_equal_full_assignment":$cellsMatch,
         |"codes_equal_full_assignment":$codesMatch,
         |"maintain_fired_retrain":$retrainedF,
         |"chain_collapsed_to_base":${chainAfterMaintain == 1},
         |"retrained_index_covers_corpus":$maintainCovers,
         |"pass":$passF},
         |"scenario_maintenance_under_tail":{
         |"committed_rows":$totalG,
         |"tail_rows_through_compact":${seenG.sum},
         |"tail_failed":${errG.isDefined},
         |"files_after_compact":$filesAfterG,
         |"fresh_tail_rows_after_compact":${seenG2.sum},
         |"pass":$passG},
         |"scenario_restart_across_compact":{
         |"rows_before_compact":$preH,
         |"run1_rows":${seenH1.sum},
         |"files_after_compact":$filesAfterH,
         |"rows_appended_after_compact":${totalH - preH},
         |"run2_rows_after_compact":${seenH2.sum},
         |"pass":$passH},
         |"scenario_governed_zone":{
         |"valid_rows_landed":$landedI,
         |"bucket_tags_complete":$taggedI,
         |"bucket_purity":$pureI,
         |"poisoned_epoch_failed":$poisonedFailed,
         |"rows_after_poison":$afterPoisonRows,
         |"generation_unchanged":${genAfterPoison == genBeforePoison},
         |"pass":$passI},
         |"scenario_change_feed_tail":{
         |"rows_processed_after_appends":$afterAppendsJ,
         |"rows_processed_after_delete":$afterDeleteJ,
         |"carried_rows_stayed_silent":${afterDeleteJ == 5L},
         |"consumer_state_matches_zone":${historyJ.toSet == zoneIdsJ},
         |"pass":$passJ},
         |"scenario_deadletter_zone":{
         |"valid_rows_landed":$landedK,
         |"poisoned_epoch_clean_rows_published":$cleanLandedK,
         |"quarantined_rows":$quarRowsK,
         |"quarantine_names_constraint":$namedK,
         |"stream_survived_poison":$poisonRunOkK,
         |"zone_invariant_holds":$invariantK,
         |"pass":$passK},
         |"scenario_cdf_readstream":{
         |"history_replay_inserts":$run1L,
         |"resumed_net_deletes":$run2L,
         |"idle_drain_rows":$run3L,
         |"pass":$passL},
         |"scenario_two_stream_writers":{
         |"rows_after_race":$afterRaceM,
         |"writer_marks":${txnM.size},
         |"rows_after_restart":$finalCountM,
         |"distinct_ids":$distinctM,
         |"pass":$passM},
         |"pass":$pass}"""
        .stripMargin.replace("\n", "")
    println(s"[streamrun] $json")
    outFile.foreach { f =>
      Files.write(java.nio.file.Paths.get(f),
        json.getBytes("UTF-8"))
    }
    spark.stop()
    if (!pass) sys.exit(1)
  }
}
