package graft.operators

import graft.QueryModule
import graft.sources.{Sinks, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data-layout operators (SURVEY.md §4.1 + VERDICT r2 #4/#8): the two
  * physical-layout levers a 100 TB deployment reaches for FIRST —
  * hive-partitioned layouts (directory pruning before any IO) and
  * bucketed layouts (co-located joins with no per-query shuffle) — each
  * promoted from an API-level spec to a declared, oracle-checked query.
  *
  * Both queries materialize their layout on first use under /tmp (keyed
  * by source dir + data mtime + JVM, `_SUCCESS`-guarded) and read it
  * back; the DuckDB
  * oracle runs the same semantics over the ORIGINAL orders/lineitem
  * parquet, so the correctness gate proves the derived layout returns
  * exactly the source rows — a layout round-trip check, not just a plan
  * shape. Layout writes happen once per corpus, amortized across every
  * subsequent query (the reference's Postgres schema plays the same role:
  * load once, query many — generate_conclusions_summaries.py:25).
  */
object Layouts extends QueryModule {

  /** Layout scratch root. Keyed by (source dir, max source mtime, THIS
    * JVM):
    *  - mtime (max over EVERY *.parquet in the dir, so regenerating any
    *    feeding table — documents for the csv/jsonl layouts, orders/
    *    lineitem for the bucketed pair — invalidates) ⇒ a regenerated
    *    corpus can never serve a stale layout,
    *  - pid ⇒ concurrent sessions (a test suite next to a verify run)
    *    never race on each other's `overwrite` — the round-6 red suite
    *    was exactly two JVMs overwriting one shared bucketed table.
    * The build amortizes within a JVM (verify / bench each build once);
    * [[graft.Artifacts.reap]] deletes dead processes' roots once per JVM so a
    * long-lived host doesn't accumulate one full layout copy per past
    * run (round-6 review). Local-fs
    * tooling only (tests/verify/bench read testdata from local disk); a
    * cluster deployment derives its layout locations from its catalog,
    * not from /tmp. */
  private[graft] def layoutKey(dir: String): String = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
    // empty/missing dir → key 0: the subsequent table read fails with
    // the loader's own missing-file error, which names the actual table
    val mtime = files.filter(_.getName.endsWith(".parquet"))
      .map(_.lastModified()).sorted.lastOption.getOrElse(0L)
    java.lang.Integer.toHexString(s"$dir:$mtime".hashCode) +
      "_" + ProcessHandle.current().pid()
  }

  private[operators] def layoutRoot(dir: String): String = {
    graft.Artifacts.reapTmp
    s"/tmp/graft_layout_${layoutKey(dir)}"
  }

  /** Build guard for the DirSink zones under [[layoutRoot]]: the root
    * ends in this JVM's pid, so any zone committed there was written by
    * this build — existence alone means built. */
  private def zoneExists(path: String): Boolean =
    graft.sources.v2.DirSink.zoneExists(path)

  /** Cluster-real "is this artifact complete?" probe: resolves the
    * path's [[org.apache.hadoop.fs.FileSystem]] from the session's
    * Hadoop configuration and asks IT for `_SUCCESS`, so the guard
    * answers identically for `file:`, `hdfs:` and `s3a:` roots. The
    * previous `java.io.File` probe always said "missing" for any
    * non-local URI — on a real cluster every session would silently
    * retrain/rewrite the artifact it was supposed to reuse (r9 verdict
    * item 2). Delegates to the shared [[graft.Artifacts]] protocol. */
  private[graft] def artifactReady(s: SparkSession, path: String): Boolean =
    graft.Artifacts.partReady(s, path)

  /** On-disk ROOT of the month-partitioned orders layout; the live
    * generation under it is pointer-resolved ([[monthsLivePath]]). */
  private[graft] def monthsPath(dir: String): String =
    s"${layoutRoot(dir)}/orders_by_month"

  /** The live generation dir of the months layout (test aid:
    * PlanShapeSpec counts pruned vs total partition directories). */
  private[graft] def monthsLivePath(s: SparkSession, dir: String): String =
    graft.Artifacts.ready(s, monthsPath(dir)).getOrElse(
      throw new IllegalStateException(
        s"months layout not built yet under ${monthsPath(dir)}"))

  /** Month-partitioned orders: hive layout `o_month=yyyy-MM/part-*.parquet`.
    * Written once per corpus, published generation-dir + atomic pointer
    * through [[graft.Artifacts.buildOnce]] (shared with the ANN index)
    * so verify/bench reuse it and a crash mid-write is invisible. */
  private[graft] def ordersByMonth(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val live = graft.Artifacts.buildOnce(s, monthsPath(dir)) { gen =>
      Sinks.writePartitioned(
        Tables.load(s, dir, "orders")
          .withColumn("o_month", date_format($"o_orderdate", "yyyy-MM")),
        gen, Seq("o_month"))
    }
    s.read.parquet(live)
  }

  /** q_partition_prune — dimension-driven DYNAMIC partition pruning over
    * the month-partitioned orders layout: the dim side computes the top-3
    * months by urgent-order revenue (values knowable only at runtime, so
    * nothing constant-folds), and the fact scan must prune to those three
    * `o_month=` directories via a DynamicPruning subquery reusing the
    * broadcast — the TPC-DS "best months" shape. At 100 TB this is the
    * difference between reading 3 partitions and reading 80.
    *
    * The dim aggregates the ORIGINAL table (dim-sized output), the fact
    * reads the partitioned layout; revenue sums take the exact
    * DECIMAL(18,4) path ([[graft.Det.sumd]]) with a month tie-break, so
    * the top-3 cut is engine-agnostic. */
  private def qPartitionPrune(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val fact = ordersByMonth(s, dir)
    val dim = Tables.load(s, dir, "orders")
      .filter($"o_orderpriority" === "1-URGENT")
      .groupBy(date_format($"o_orderdate", "yyyy-MM").as("m"))
      .agg(graft.Det.sumd($"o_totalprice").as("rev"))
      .orderBy($"rev".desc, $"m").limit(3)
      .select($"m")
    fact.join(dim, fact("o_month") === dim("m"))
      .groupBy($"o_month")
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.sumd($"o_totalprice").as("total_rev"))
      .orderBy($"o_month")
  }

  /** Bucketed orders ⋈ lineitem: both sides written once as 8-bucket
    * tables on the join key (external tables under the layout root), so
    * the recurring fact⋈fact join consumes bucketed scans directly — no
    * exchange on either input. */
  private[graft] def bucketedPair(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    // same key as layoutRoot: a regenerated corpus within one long-lived
    // session must invalidate the CATALOG entry too, not just the path
    val tag = layoutKey(dir)
    val (liT, oT) = (s"li_bkt_$tag", s"o_bkt_$tag")
    val root = layoutRoot(dir)
    if (!s.catalog.tableExists(liT)) {
      Tables.load(s, dir, "lineitem")
        .write.mode("overwrite").option("path", s"$root/$liT")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable(liT)
      Tables.load(s, dir, "orders")
        .write.mode("overwrite").option("path", s"$root/$oT")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable(oT)
    }
    (s.table(liT), s.table(oT))
  }

  /** q_join_bucketed — the co-located join the bucketed layout buys: a
    * `merge` hint pins sort-merge (a broadcast would bypass the layout at
    * test scale and prove nothing), and because both sides are bucketed
    * AND sorted on the key, the join needs neither exchange nor sort.
    * The only shuffle in the whole plan is the final 5-row aggregation.
    * PlanShapeSpec pins exactly that. */
  private def qJoinBucketed(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (li, o) = bucketedPair(s, dir)
    li.hint("merge").join(o, $"l_orderkey" === $"o_orderkey")
      .groupBy($"o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        graft.Det.sumd($"l_extendedprice").as("revenue"))
      .orderBy($"o_orderpriority")
  }

  /** q_csv_roundtrip — the reference's PRIMARY sink format
    * (`df.to_csv(..., encoding="utf-8")`,
    * `/root/reference/decisions-summaries/generate_decisions_summaries.py:119-120`)
    * proven faithful as a declared query: documents metadata is written
    * once as header CSV (multi-file, partition-parallel — `coalesce(1)`
    * is for humans, not pipelines), read back under an EXPLICIT schema
    * (no driver-side inference job), and aggregated; the oracle runs the
    * same aggregate over the original parquet, so any type/quoting/
    * encoding drift in the CSV round trip fails the hash gate. Columns
    * are restricted to ids/enums/counts — free text in CSV invites
    * quoting-dialect divergence between engines, which is a property of
    * CSV, not of this engine (SURVEY.md §2.1 S4). */
  private def qCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/docs_csv"
    if (!artifactReady(s, path)) {
      Sinks.writeCsv(
        Tables.load(s, dir, "documents")
          .select($"doc_id", $"lang", $"source", $"n_chars"),
        path, single = false)
    }
    s.read
      .schema("doc_id LONG, lang STRING, source STRING, n_chars LONG")
      .option("header", "true")
      .csv(path)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
      .orderBy($"lang", $"source")
  }

  /** q_jsonl_roundtrip — JSON-Lines, the interchange format training
    * corpora actually ship in (one document object per line), proven
    * lossless INCLUDING free text: the full documents table is written
    * once as multi-file JSONL, read back under an explicit schema (no
    * inference job over 100 TB), and every text byte is covered by a
    * position-sensitive rolling-hash checksum summed per group. The
    * oracle computes the identical checksum over the ORIGINAL parquet,
    * so any escaping/encoding/ordering drift in the JSON round trip
    * fails the hash gate — the stronger sibling of [[qCsvRoundtrip]],
    * which must exclude free text (CSV quoting dialects differ; JSON
    * escaping is fully specified). */
  private def qJsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/docs_jsonl"
    if (!artifactReady(s, path)) {
      Sinks.writeJsonl(Tables.load(s, dir, "documents"), path)
    }
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .json(path)
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(TextOps.rollingHash("text")).as("text_checksum"))
      .orderBy($"lang", $"source")
  }

  /** q_orc_roundtrip — ORC, the columnar container of the Hive/Trino
    * estates a 100 TB corpus is routinely inherited from, proven
    * lossless INCLUDING free text by the same position-sensitive
    * rolling-hash checksum as [[qJsonlRoundtrip]] (the oracle computes
    * it over the ORIGINAL parquet). Read back under an explicit schema —
    * never a 100 TB footer-sniffing inference pass — and aggregated per
    * language with id-range bounds, so a dropped row, reordered byte, or
    * type coercion anywhere in the write/read cycle fails the hash gate.
    * Completes the interchange matrix: parquet (native), CSV (S4),
    * JSONL (S4b), ORC (S4c). */
  private def qOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/docs_orc"
    if (!artifactReady(s, path)) {
      Sinks.writeOrc(Tables.load(s, dir, "documents"), path)
    }
    s.read
      .schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
      .orc(path)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        min($"doc_id").as("min_doc"), max($"doc_id").as("max_doc"),
        sum($"n_chars").as("total_chars"),
        sum(TextOps.rollingHash("text")).as("text_checksum"))
      .orderBy($"lang")
  }

  /** q_dsv2_sink_roundtrip — the engine's OWN DataSource-V2 write path
    * ([[graft.sources.v2.DirSinkSource]]: staged per-task files,
    * manifest-atomic commit, abort cleanup — the task-commit protocol a
    * ten-thousand-task write needs) proven faithful by the same
    * position-sensitive rolling-hash gate as [[qJsonlRoundtrip]]: the
    * full documents table (free text included) goes out through the
    * connector's writer, comes back through its manifest-driven scan,
    * and every text byte is checksummed against the ORIGINAL parquet by
    * the oracle. A dropped row, a double-committed speculative attempt,
    * or any codec drift fails the hash gate. Completes the sink matrix:
    * parquet / CSV / JSONL / ORC formats + the V2 commit protocol. */
  private def qDsv2SinkRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/docs_dirsink"
    if (!zoneExists(path)) {
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .write.format("graft.sources.v2.DirSinkSource")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    }
    s.read.format("graft.sources.v2.DirSinkSource")
      .option("path", path).load()
      .groupBy($"lang", $"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(TextOps.rollingHash("text")).as("text_checksum"))
      .orderBy($"lang", $"source")
  }

  /** q_dsv2_skipping — FILE-LEVEL DATA SKIPPING through the engine's
    * own table format: documents go out through the DirSink writer
    * RANGE-CLUSTERED on doc_id (8 files, disjoint id ranges — the
    * layout compaction or a time-ordered streaming ingest produces), so
    * each committed file's manifest line carries tight min/max bounds
    * ([[graft.sources.v2.DirSinkStats]]); the read-back under
    * `doc_id <= 199` then PLANS ONLY THE FILES WHOSE RANGE OVERLAPS THE
    * PREDICATE — at 100 TB the scan cost is proportional to the
    * selected id range, not the table (the Delta/Iceberg
    * min-max-skipping contract, here exercised end to end through the
    * engine's own manifest). Every filter stays residual — Spark
    * re-evaluates rows, skipping only removes provably-empty files —
    * and the rolling-hash text checksum against the ORIGINAL parquet
    * (DuckDB oracle) proves no in-range row was lost to pruning.
    * DataSkippingSpec pins the planned-partition counts themselves. */
  private def qDsv2Skipping(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/docs_dirsink_rng"
    if (!zoneExists(path)) {
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"text", $"lang", $"source", $"n_chars")
        .repartitionByRange(8, $"doc_id")
        .write.format("graft.sources.v2.DirSinkSource")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    }
    s.read.format("graft.sources.v2.DirSinkSource")
      .option("path", path).load()
      .filter($"doc_id" <= 199L)
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").as("total_chars"),
        sum(TextOps.rollingHash("text")).as("text_checksum"))
      .orderBy($"lang")
  }

  /** q_dsv2_dml — ROW-LEVEL DML through the engine's own table format,
    * end to end and oracle-checked: the documents corpus lands in a
    * catalog table ([[graft.sources.v2.GraftCatalog]]) range-clustered
    * on doc_id, then a SQL `UPDATE … WHERE` re-tiers the short
    * documents and a SQL `MERGE INTO` upserts a curated source (re-tier
    * the first 100 docs, insert 50 synthetic ones). Both execute as
    * GROUP-BASED copy-on-write ([[graft.sources.v2.DirSinkRowLevelOperation]]):
    * per-file min/max stats prune the files the predicate provably
    * cannot touch and runtime group filtering restricts the MERGE
    * rewrite to the files holding matching keys — at 100 TB a keyed
    * upsert rewrites the covering files, not the corpus. The DML pass
    * is IDEMPOTENT (UPDATE then MERGE converges to the same state), so
    * the declared query re-runs cleanly against its cached zone; the
    * oracle recomputes the final state from the base parquet. */
  private def qDsv2Dml(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = layoutRoot(dir)
    val cat = s"graftdml_${math.abs(root.hashCode)}"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$root/dml_wh")
    }
    val tbl = s"$cat.corpus.docs"
    val zonePath = s"$root/dml_wh/corpus/docs"
    if (!zoneExists(zonePath)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.corpus")
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars", lit("raw").as("tier"))
        .repartitionByRange(8, $"doc_id")
        .writeTo(tbl).create()
    }
    s.sql(s"UPDATE $tbl SET tier = 'short' WHERE n_chars < 500")
    val docs = Tables.load(s, dir, "documents")
    val srcView = s"dml_src_${math.abs(root.hashCode)}"
    docs.filter($"doc_id" < 100)
      .select($"doc_id", $"lang", $"n_chars", lit("merged").as("tier"))
      .union(docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 10000000L).as("doc_id"), $"lang", $"n_chars",
          lit("inserted").as("tier")))
      .createOrReplaceTempView(srcView)
    s.sql(
      s"""MERGE INTO $tbl t USING $srcView s ON t.doc_id = s.doc_id
         |WHEN MATCHED THEN UPDATE SET t.tier = s.tier
         |WHEN NOT MATCHED THEN
         |  INSERT (doc_id, lang, n_chars, tier)
         |  VALUES (s.doc_id, s.lang, s.n_chars, s.tier)
         |""".stripMargin)
    s.table(tbl)
      .groupBy($"lang", $"tier")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"))
      .orderBy($"lang", $"tier")
  }

  /** q_dsv2_dml_dv — the SAME UPDATE + MERGE surface as
    * [[qDsv2Dml]], executed MERGE-ON-READ (round 15): with deletion
    * vectors enabled, Spark's row-level rewrites plan `WriteDelta`
    * against [[graft.sources.v2.DirSinkDeltaRowLevelOperation]] —
    * row id `(_file, _pos)`, matched rows become vector bits plus
    * appended rows, no touched file is rewritten. The build REQUIRES
    * vector tags after the DML, so the aggregate can only pass by
    * decoding around dead positions; the oracle replays the identical
    * final state from the raw documents parquet — identical to the
    * copy-on-write query's oracle, which IS the point: two physical
    * strategies, one answer, both held to the data. Re-runs reach the
    * same fixpoint state (the UPDATE/MERGE pair is idempotent on the
    * zone's final tiers), matching the CoW query's replay
    * discipline. */
  private def qDsv2DmlDv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = layoutRoot(dir)
    val cat = s"graftdmldv_${math.abs(root.hashCode)}"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat",
        "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$root/dmldv_wh")
    }
    val tbl = s"$cat.corpus.docs"
    val zonePath = s"$root/dmldv_wh/corpus/docs"
    if (!zoneExists(zonePath)) {
      s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.corpus")
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars", lit("raw").as("tier"))
        .repartitionByRange(8, $"doc_id")
        .writeTo(tbl).create()
    }
    val docs = Tables.load(s, dir, "documents")
    val srcView = s"dmldv_src_${math.abs(root.hashCode)}"
    docs.filter($"doc_id" < 100)
      .select($"doc_id", $"lang", $"n_chars", lit("merged").as("tier"))
      .union(docs.filter($"doc_id" < 50)
        .select(($"doc_id" + 10000000L).as("doc_id"), $"lang", $"n_chars",
          lit("inserted").as("tier")))
      .createOrReplaceTempView(srcView)
    s.conf.set(graft.sources.v2.DirSinkDv.EnabledKey, "true")
    try {
      s.sql(s"UPDATE $tbl SET tier = 'short' WHERE n_chars < 500")
      s.sql(
        s"""MERGE INTO $tbl t USING $srcView s ON t.doc_id = s.doc_id
           |WHEN MATCHED THEN UPDATE SET t.tier = s.tier
           |WHEN NOT MATCHED THEN
           |  INSERT (doc_id, lang, n_chars, tier)
           |  VALUES (s.doc_id, s.lang, s.n_chars, s.tier)
           |""".stripMargin)
    } finally s.conf.unset(graft.sources.v2.DirSinkDv.EnabledKey)
    require(graft.sources.v2.DirSink.readManifestLines(zonePath)
      .get._2.exists(_.contains("dv=")),
      "fixture: the DML must have run merge-on-read (vector tags)")
    s.table(tbl)
      .groupBy($"lang", $"tier")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"))
      .orderBy($"lang", $"tier")
  }

  /** q_dsv2_colmap — RENAME COLUMN via column mapping, end to end and
    * oracle-checked: a documents slice lands in a zone (parquet plane),
    * BOTH data columns are renamed ([[graft.sources.v2.DirSink.renameColumn]]
    * — the `#colmap` header maps logical→physical, zero files
    * rewritten), a post-rename append writes under the new logical
    * names (physically the originals, so old and new files stay
    * uniform), and a DELETE copy-on-write-rewrites across the mapping.
    * The final read filters and aggregates ON THE RENAMED COLUMNS —
    * the silent failure mode without mapping is all-NULL values from
    * every pre-rename file, which the oracle's exact sums would
    * expose at the first row. Idempotent: re-runs see the committed
    * post-DML state and converge. */
  private def qDsv2ColMap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = layoutRoot(dir)
    val path = s"$root/colmap_zone"
    val fmtName = "graft.sources.v2.DirSinkSource"
    val ready = zoneExists(path) &&
      graft.sources.v2.DirSink.zoneColMap(path).nonEmpty
    if (!ready) {
      val docs = Tables.load(s, dir, "documents")
      docs.filter($"doc_id" < 300)
        .select($"doc_id", $"lang", $"n_chars")
        .repartitionByRange(4, $"doc_id")
        .write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
      graft.sources.v2.DirSink.renameColumn(path, "lang", "language")
      graft.sources.v2.DirSink.renameColumn(path, "n_chars", "length")
      docs.filter($"doc_id" >= 300 && $"doc_id" < 400)
        .select($"doc_id", $"lang".as("language"), $"n_chars".as("length"))
        .coalesce(1)
        .write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Append).save()
      new graft.sources.v2.DirSinkTable(path,
        org.apache.spark.sql.types.StructType
          .fromDDL("doc_id BIGINT, language STRING, length BIGINT"))
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.LessThan("doc_id", 50L)))
    }
    s.read.format(fmtName).option("path", path).load()
      .filter($"length" >= 300)
      .groupBy($"language")
      .agg(count(lit(1)).as("n_docs"),
        sum($"length").cast("long").as("total_length"))
      .orderBy($"language")
  }

  /** q_dsv2_time_slice — TEMPORAL data skipping through the engine's
    * own table format (round 12): the events stream lands in a DirSink
    * zone RANGE-CLUSTERED on event time (8 files, disjoint ts ranges —
    * exactly what a time-ordered streaming ingest plus clusterBy
    * compaction produces), every manifest line carries micros-encoded
    * min/max ts bounds, and a mid-month slice predicate PLANS ONLY THE
    * FILES WHOSE TIME RANGE OVERLAPS THE WINDOW — at 100 TB the
    * dominant access pattern ("last week's crawl") reads days, not
    * years. Pushed temporal filter values arrive as java.sql/java.time
    * externals and convert at the stats comparator
    * ([[graft.sources.v2.DirSinkStats]]); value sums are quantized to
    * BIGINT for cross-engine exactness. TemporalCodecSpec pins the
    * planned-file counts; this query pins the end-to-end answer. */
  /** The ts-range-clustered events zone (bootstrapped once per corpus;
    * shared by [[qDsv2TimeSlice]] and [[qDsv2AggMeta]]). */
  private def eventsZone(s: SparkSession, dir: String): String = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/events_dirsink_time"
    if (!zoneExists(path)) {
      Tables.load(s, dir, "events")
        .select($"event_id", $"ts", $"event_type", $"value")
        .repartitionByRange(8, $"ts")
        .write.format("graft.sources.v2.DirSinkSource")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    }
    path
  }

  private def qDsv2TimeSlice(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft.sources.v2.DirSinkSource")
      .option("path", eventsZone(s, dir)).load()
      .filter($"ts" >= to_timestamp(lit("2024-01-10 00:00:00")) &&
        $"ts" < to_timestamp(lit("2024-01-20 00:00:00")))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor($"value" * 10000.0 + 0.5).cast("long")).as("value_q"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  /** q_dsv2_agg_meta — METADATA-ONLY AGGREGATES through the engine's
    * own table format (round 13): `count(*) / min / max` over the
    * ts-clustered events zone answered FROM THE MANIFEST — per-commit
    * row counts and the write-path-exact per-file bounds — via
    * `SupportsPushDownAggregates` complete pushdown; not one data file
    * opens (MetadataAggSpec proves it literally, with the files
    * deleted). At 100 TB this turns the pipeline's most common sanity
    * probes — "how many rows landed, what time range does the zone
    * cover" — into a catalog lookup instead of a full scan: the
    * Delta/Iceberg metadata-only-query economics on the same stats
    * that already power file skipping. The oracle computes the
    * identical aggregate over the ORIGINAL events parquet, so the
    * manifest-answered values are held to the data, not to
    * themselves. */
  private def qDsv2AggMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    s.read.format("graft.sources.v2.DirSinkSource")
      .option("path", eventsZone(s, dir)).load()
      .agg(count(lit(1)).as("n_events"),
        count($"event_id").as("n_ids"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"),
        min($"ts").as("min_ts"), max($"ts").as("max_ts"),
        min($"event_type").as("min_type"), max($"event_type").as("max_type"))
  }

  /** q_dsv2_agg_nulls — `count(col)` OVER NULLABLE COLUMNS answered
    * from the manifest (round 15): the stats codec now carries a
    * per-file NULL COUNT for partial-null columns, so `count(col)` =
    * rows − known nulls folds from metadata alone — the one aggregate
    * the round-13 pushdown had to refuse whenever any file held a null
    * (the no-null proof was all it had). The zone derives two
    * partial-null columns from events (a NULLIF'd string, a modulo-
    * nulled BIGINT); the declared aggregate answers every column from
    * the manifest (complete pushdown — MetadataAggSpec proves the
    * files never open on this codec), while the oracle recomputes the
    * identical NULLIF/CASE derivation over the ORIGINAL events
    * parquet: the metadata-held counts are gated against the data, not
    * against themselves. At 100 TB this is the difference between
    * "how many documents still lack a license tag" being a catalog
    * lookup and being a full scan. Legacy zones written before the
    * counted codec refuse (never guess) and fall back to the scan —
    * the upgrade path MetadataAggSpec pins. */
  private def qDsv2AggNulls(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/events_dirsink_nulls"
    if (!zoneExists(path)) {
      Tables.load(s, dir, "events")
        .select($"event_id",
          expr("nullif(event_type, 'click')").as("etype_n"),
          when($"user_id" % 7 === 0, lit(null)).otherwise($"user_id")
            .cast("long").as("uid_n"))
        .repartition(4)
        .write.format("graft.sources.v2.DirSinkSource")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    }
    s.read.format("graft.sources.v2.DirSinkSource")
      .option("path", path).load()
      .agg(count(lit(1)).as("n_rows"),
        count($"etype_n").as("n_etype"),
        count($"uid_n").as("n_uid"),
        min($"etype_n").as("min_etype"), max($"etype_n").as("max_etype"),
        min($"uid_n").as("min_uid"), max($"uid_n").as("max_uid"))
  }

  /** q_dsv2_embed_store — EMBEDDINGS LIVING IN THE ENGINE'S OWN TABLE
    * FORMAT (round 13, the parquet data plane's type-surface proof):
    * the embeddings corpus — `vec_id BIGINT, embedding ARRAY<FLOAT>,
    * label INT` — is CTAS'd into a DirSink zone (the parquet plane
    * stores the array column natively under the manifest/commit/stats
    * machinery),
    * and the brute-force cosine top-3 search then runs OVER THE ZONE
    * READ-BACK: every float of every vector must survive the round
    * trip bit-exactly or the similarity ranking diverges from the
    * oracle, which computes the identical search over the ORIGINAL
    * parquet. This is the north-star storage story closed: a training
    * pipeline can keep its vector store in the governed, time-traveled,
    * DML-capable zone format instead of loose parquet beside it.
    *
    * Scale: query set broadcasts (1/50 sample), candidates stream from
    * the zone's splittable parquet scan; stats collection opts out of
    * the unordered array column ([[graft.sources.v2.DirSinkStats]]'s
    * type gate) while vec_id/label still skip. */
  private def qDsv2EmbedStore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/embed_dirsink"
    if (!zoneExists(path)) {
      Tables.load(s, dir, "embeddings")
        .select($"vec_id", $"embedding", $"label")
        .write.format("graft.sources.v2.DirSinkSource")
        .option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
    }
    val zone = s.read.format("graft.sources.v2.DirSinkSource")
      .option("path", path).load()
    val cand = zone.select($"vec_id".as("cid"), $"embedding".as("ce"),
      $"label".as("clabel"))
    val qs = zone.filter($"vec_id" % 50 === 0)
      .select($"vec_id".as("qid"), $"embedding".as("qe"))
    val pairs = cand.join(broadcast(qs), $"cid" =!= $"qid")
      .withColumn("sim",
        graft.Det.round6(graft.functions.VectorFunctions.cosine($"qe", $"ce")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"qid").orderBy($"sim".desc, $"cid")
    pairs
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter($"rn" <= 3)
      .select($"qid", $"rn", $"cid", $"clabel".cast("long").as("clabel"),
        $"sim")
      .orderBy($"qid", $"rn")
  }

  /** On-disk locations of the fragmented / compacted lineitem layouts
    * (test aid: CompactionSpec counts data files on both sides). */
  private[graft] def fragPath(dir: String): String =
    s"${layoutRoot(dir)}/li_frag"
  private[graft] def compactPath(dir: String): String =
    s"${layoutRoot(dir)}/li_compact"

  /** The small-files problem and its fix, materialized once per corpus:
    * lineitem is first written as a 64-way fragmented layout (what a
    * streaming ingest or over-parallel ETL leaves behind — at 100 TB,
    * millions of KB-sized files whose open/footer cost dominates every
    * scan), then COMPACTED: range-repartitioned and sorted on
    * l_orderkey into 4 large files. Compaction both collapses the file
    * count and buys clustering — each output file covers a tight
    * orderkey range, so a key-range reader skips whole files (the
    * OPTIMIZE/rewrite_data_files op of the Delta/Iceberg estates). */
  private[graft] def lineitemCompacted(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (frag, compact) = (fragPath(dir), compactPath(dir))
    if (!artifactReady(s, frag)) {
      Tables.load(s, dir, "lineitem")
        .repartition(64)
        .write.mode("overwrite").parquet(frag)
    }
    if (!artifactReady(s, compact)) {
      s.read.parquet(frag)
        .repartitionByRange(4, $"l_orderkey", $"l_linenumber")
        .sortWithinPartitions($"l_orderkey", $"l_linenumber")
        .write.mode("overwrite").parquet(compact)
    }
    s.read.parquet(compact)
  }

  /** q_compact_files — small-file compaction as a declared,
    * oracle-checked query: read the COMPACTED layout back and aggregate
    * per (returnflag, linestatus) with row counts, exact DECIMAL sums,
    * id bounds, and a row-identity checksum (Σ orderkey·7919 +
    * linenumber — dropped, duplicated, or swapped rows shift it). The
    * DuckDB oracle computes the identical aggregate over the ORIGINAL
    * lineitem parquet, so the fragment→compact rewrite is proven
    * lossless through the hash gate; CompactionSpec separately pins the
    * layout property itself (64 data files → 4, disjoint orderkey
    * ranges per file). */
  private def qCompactFiles(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    lineitemCompacted(s, dir)
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n_rows"),
        graft.Det.sumd($"l_extendedprice").as("sum_price"),
        min($"l_orderkey").as("min_ok"), max($"l_orderkey").as("max_ok"),
        sum($"l_orderkey" * 7919L + $"l_linenumber").as("row_checksum"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Morton/Z-order interleave of two 16-bit dimensions rendered as PURE
    * integer arithmetic — ((v div 2^i) % 2) · 2^(2i|2i+1) — so one
    * formula serves Spark (`div`) and DuckDB (`//`) with no engine bit
    * operators and exact cross-engine agreement. 32 constant-folded
    * terms; the result fits comfortably in a BIGINT (< 2^33). */
  private[graft] def mortonExpr(x: String, y: String, div: String): String =
    (0 until 16).map { i =>
      val p = 1L << i
      s"((($x) $div $p) % 2) * ${1L << (2 * i)}" +
        s" + ((($y) $div $p) % 2) * ${1L << (2 * i + 1)}"
    }.mkString("(", " + ", ")")

  /** On-disk location of the z-ordered orders layout (test aid:
    * ZorderSpec reads per-file min/max spans from it). */
  private[graft] def zorderPath(dir: String): String =
    s"${layoutRoot(dir)}/orders_zorder"

  /** Orders clustered by the z-value of (customer, order day): range-
    * partitioned AND sorted on z, so every output file covers a tight
    * rectangle in BOTH dimensions — the multi-dimensional data-skipping
    * layout (Delta/Iceberg `ZORDER BY`) for the two-filter access path a
    * 1-D sort can only serve on its leading column. Written once per
    * corpus, `_SUCCESS`-guarded. */
  private[graft] def ordersZordered(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = zorderPath(dir)
    if (!artifactReady(s, path)) {
      Tables.load(s, dir, "orders")
        .withColumn("x", $"o_custkey" % 65536L)
        .withColumn("yd",
          datediff($"o_orderdate".cast("date"), to_date(lit("1970-01-01")))
            .cast("long") % 65536L)
        .withColumn("z", expr(mortonExpr("x", "yd", "div")))
        .repartitionByRange(8, $"z")
        .sortWithinPartitions($"z")
        .write.mode("overwrite").parquet(path)
    }
    s.read.parquet(path)
  }

  /** q_zorder_layout — z-order clustering as a declared, oracle-checked
    * query: read the z-clustered layout back and report each coarse
    * z-range bucket's row count and min/max span in BOTH dimensions —
    * the per-bucket rectangles whose tightness IS the data-skipping
    * property (ZorderSpec additionally proves it at FILE granularity
    * against a natural-order layout). The DuckDB oracle replays the
    * morton arithmetic over the ORIGINAL orders parquet, so the layout
    * write/read cycle and the interleave math are both gate-checked. */
  private def qZorderLayout(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    ordersZordered(s, dir)
      .withColumn("bucket", expr("z div 65536"))
      .groupBy($"bucket")
      .agg(count(lit(1)).as("n_orders"),
        min($"x").as("min_cust"), max($"x").as("max_cust"),
        min($"yd").as("min_day"), max($"yd").as("max_day"))
      .orderBy($"bucket")
  }

  /** On-disk root of the two-generation orders layout (v1 = 3 columns,
    * v2 = adds o_orderstatus) used by q_schema_evolution. */
  private[graft] def evolutionPath(dir: String): String =
    s"${layoutRoot(dir)}/orders_evolution"

  /** q_schema_evolution — schema-on-read over a table whose files were
    * written under TWO schema generations (the lake reality: producers
    * upgrade, history doesn't): even orderkeys landed before the
    * migration (3 columns), odd ones after (adds o_orderstatus). The
    * reader merges footers (`mergeSchema`) so v1 rows surface NULL for
    * the late column — no rewrite of the old files, the schema-evolution
    * contract Delta/Iceberg formalize and plain parquet supports via
    * footer merge. The aggregate proves the semantic union: pre-migration
    * rows group under a sentinel, post-migration under their status.
    *
    * Scale: footer merge is per-file metadata work (parallelized by the
    * driver's listing job); the data path is an ordinary columnar scan —
    * files missing a column materialize it as NULL vectors, no
    * per-row branching. Layout written once per corpus, _SUCCESS-guarded. */
  private def qSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = evolutionPath(dir)
    if (!artifactReady(s, s"$root/v2")) {
      val orders = Tables.load(s, dir, "orders")
      orders.filter($"o_orderkey" % 2 === 0)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/v1")
      orders.filter($"o_orderkey" % 2 === 1)
        .select($"o_orderkey", $"o_custkey", $"o_totalprice", $"o_orderstatus")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$root/v2")
    }
    s.read.option("mergeSchema", "true")
      .parquet(s"$root/v1", s"$root/v2")
      .groupBy(coalesce($"o_orderstatus", lit("PRE_MIGRATION")).as("status"))
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.sumd($"o_totalprice").as("total"))
      .orderBy($"status")
  }

  /** q_dsv2_spj — STORAGE-PARTITIONED JOIN through the engine's own
    * table format (round 13): customer and orders land in DirSink
    * zones BUCKETED on their customer key (`PARTITIONED BY
    * (bucket(16, custkey))` — every committed file pure in one bucket
    * of [[graft.sources.v2.DirSink.bucketId]], manifest `k=` tags),
    * and the join then runs ZONE-TO-ZONE: both scans report
    * `KeyGroupedPartitioning(bucket(16, key))`, the transforms bind to
    * the catalog's one `graft.bucket` V2 function, and Spark's SPJ
    * machinery (`spark.sql.sources.v2.bucketing.enabled`, on in
    * [[graft.Sessions]]) plans the join WITHOUT SHUFFLING EITHER SIDE
    * — matching buckets co-locate by construction. At 100 TB this is
    * the canonical layout lever for a repeated fact-to-fact join
    * (orders×customer, clicks×users, docs×scores): pay the bucketed
    * write once, delete the exchange from every join after —
    * exactly Hive/Iceberg bucketing economics, carried here by the
    * zone manifest. DirSinkBucketSpec pins the zero-exchange plan
    * shape; this query pins the end-to-end answer against the oracle's
    * plain join over the raw parquet. */
  private def qDsv2Spj(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = layoutRoot(dir)
    val cat = s"graftspj_${math.abs(root.hashCode)}"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse", s"$root/spj_wh")
    }
    def zone(name: String, build: => DataFrame, key: String): String = {
      val tbl = s"$cat.spj.$name"
      val path = s"$root/spj_wh/spj/$name"
      if (!graft.sources.v2.DirSink.zoneBucket(path)
          .contains(graft.sources.v2.DirSink.BucketSpec(key, 16))) {
        if (graft.sources.v2.DirSink.readManifest(path).isDefined)
          s.sql(s"DROP TABLE IF EXISTS $tbl")
        s.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.spj")
        build.writeTo(tbl)
          .partitionedBy(org.apache.spark.sql.functions.bucket(16, col(key)))
          .create()
      }
      tbl
    }
    val custTbl = zone("cust", Tables.load(s, dir, "customer")
      .select($"c_custkey", $"c_mktsegment"), "c_custkey")
    val ordTbl = zone("ords", Tables.load(s, dir, "orders")
      .select($"o_custkey", $"o_orderkey", $"o_totalprice"), "o_custkey")
    s.table(custTbl)
      .join(s.table(ordTbl), $"c_custkey" === $"o_custkey")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        graft.Det.sumd($"o_totalprice").as("total_price"),
        sum($"o_orderkey").as("key_checksum"))
      .orderBy($"c_mktsegment")
  }

  /** q_dsv2_zbox — OPTIMIZE ZORDER BY through the engine's own table
    * format, end to end and oracle-checked (round 13): the events
    * stream lands UNORDERED in a DirSink zone (8 interleaved appends —
    * the micro-batch reality where nothing skips), then `OPTIMIZE …
    * ZORDER BY (ts, user_id)` rewrites it into 16 files each covering
    * a tight (time × user) rectangle, and the declared query answers
    * the canonical two-filter access path — a mid-month window AND a
    * user band — from the z-layout. Per-file min/max stats prune in
    * BOTH dimensions (ZoneZorderSpec pins the planned-file counts;
    * this query pins the answer): at 100 TB this is "last week's
    * events for this cohort" reading file counts proportional to the
    * BOX, not to either band. The oracle replays the identical slice
    * over the raw parquet — the layout must never change the answer. */
  private def qDsv2Zbox(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/events_dirsink_zbox"
    val fmtName = "graft.sources.v2.DirSinkSource"
    val zordered = graft.sources.v2.DirSink.history(path)
      .exists(_.op == "compact")
    if (!zordered) {
      val ev = Tables.load(s, dir, "events")
        .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      ev.repartition(8).write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Overwrite).save()
      graft.sources.v2.DirSink.compact(s, path, targetFiles = 16,
        zorderBy = Seq("ts", "user_id"))
    }
    s.read.format(fmtName).option("path", path).load()
      .filter($"ts" >= lit("2024-01-08 00:00:00").cast("timestamp") &&
        $"ts" < lit("2024-01-18 00:00:00").cast("timestamp") &&
        $"user_id".between(3, 9))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(floor($"value" * 10000.0 + 0.5).cast("long")).cast("long")
          .as("value_q"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"))
      .orderBy($"event_type")
  }

  /** q_dsv2_cdf — the CHANGE DATA FEED end to end and oracle-checked
    * (round 14): the documents corpus lands in a DirSink zone (one
    * append generation), a `DELETE WHERE lang = 'de'` copy-on-write
    * rewrite follows, and the declared query reads the zone's change
    * feed from generation 0 ([[graft.sources.v2.ChangeFeed]]): every
    * document as an insert at generation 0 plus exactly the deleted
    * documents as deletes at generation 1 — the rows CARRIED by the
    * rewrite (non-'de' documents sharing a rewritten file) cancel in
    * the feed's multiset diff and never appear. The oracle derives the
    * identical feed from the raw parquet, which is only possible
    * because the feed is exactly-the-changes: a feed that leaked
    * carried rows would depend on the zone's private file layout and
    * hash-mismatch. Zone build is generation-pinned (head gen 1), so
    * re-runs reuse the committed history. */
  private def qDsv2Cdf(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/docs_dirsink_cdf"
    val fmtName = "graft.sources.v2.DirSinkSource"
    if (!graft.sources.v2.DirSink.currentGen(path).contains(1L)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars")
        .repartitionByRange(4, $"doc_id")
        .write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Append).save()
      new graft.sources.v2.DirSinkTable(path,
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, n_chars BIGINT"))
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.EqualTo("lang", "de")))
    }
    graft.sources.v2.ChangeFeed.read(s, path, startingVersion = 0)
      .select($"doc_id", $"lang", $"n_chars",
        col(graft.sources.v2.ChangeFeed.ChangeTypeCol).as("change_type"),
        col(graft.sources.v2.ChangeFeed.CommitVersionCol)
          .as("commit_version"))
      .orderBy($"commit_version", $"change_type", $"doc_id")
  }

  val queries: Map[String, Q] = Map(
    "q_schema_evolution" -> (qSchemaEvolution _),
    "q_compact_files" -> (qCompactFiles _),
    "q_zorder_layout" -> (qZorderLayout _),
    "q_partition_prune" -> (qPartitionPrune _),
    "q_join_bucketed" -> (qJoinBucketed _),
    "q_csv_roundtrip" -> (qCsvRoundtrip _),
    "q_jsonl_roundtrip" -> (qJsonlRoundtrip _),
    "q_orc_roundtrip" -> (qOrcRoundtrip _),
    "q_dsv2_sink_roundtrip" -> (qDsv2SinkRoundtrip _),
    "q_dsv2_skipping" -> (qDsv2Skipping _),
    "q_dsv2_dml" -> (qDsv2Dml _),
    "q_dsv2_dml_dv" -> (qDsv2DmlDv _),
    "q_dsv2_colmap" -> (qDsv2ColMap _),
    "q_dsv2_time_slice" -> (qDsv2TimeSlice _),
    "q_dsv2_embed_store" -> (qDsv2EmbedStore _),
    "q_dsv2_agg_meta" -> (qDsv2AggMeta _),
    "q_dsv2_agg_nulls" -> (qDsv2AggNulls _),
    "q_dsv2_spj" -> (qDsv2Spj _),
    "q_dsv2_zbox" -> (qDsv2Zbox _),
    "q_dsv2_cdf" -> (qDsv2Cdf _),
    "q_dsv2_restore" -> (qDsv2Restore _),
    "q_dsv2_clone" -> (qDsv2Clone _),
    "q_dsv2_dv" -> (qDsv2Dv _))

  /** q_dsv2_restore — RESTORE end to end and oracle-checked: half the
    * documents land (gen 0), the other half appends (gen 1), a DELETE
    * removes every German document (gen 2 — the build asserts rows
    * actually left), and `DirSink.restore` to generation 1 publishes
    * the snapshot commit that makes the pre-delete era the head again
    * (gen 3). The final aggregate therefore covers the WHOLE corpus —
    * which the oracle derives from the raw parquet, an equality that
    * holds only if the restore recovered the deleted generation's
    * file list (and their rows) exactly. Build is generation-pinned
    * (head gen 3): re-runs reuse the committed history. */
  private def qDsv2Restore(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/docs_dirsink_restore"
    val fmtName = "graft.sources.v2.DirSinkSource"
    if (!graft.sources.v2.DirSink.currentGen(path).contains(3L)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      val docs = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"n_chars")
      docs.filter($"doc_id" % 2 === 0)
        .repartitionByRange(4, $"doc_id")
        .write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Append).save() // gen 0
      docs.filter($"doc_id" % 2 === 1)
        .repartitionByRange(4, $"doc_id")
        .write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Append).save() // gen 1
      new graft.sources.v2.DirSinkTable(path,
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id BIGINT, lang STRING, n_chars BIGINT"))
        .deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.EqualTo("lang", "de"))) // gen 2
      val afterDelete = s.read.format(fmtName).option("path", path)
        .load().count()
      graft.sources.v2.DirSink.restore(path, 1L) // gen 3
      val restored = s.read.format(fmtName).option("path", path)
        .load().count()
      require(restored > afterDelete,
        s"fixture: the DELETE must remove rows for the restore to " +
          s"recover ($afterDelete -> $restored)")
    }
    s.read.format(fmtName).option("path", path).load()
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_chars").cast("long").as("total_chars"),
        min($"doc_id").as("min_id"), max($"doc_id").as("max_id"))
      .orderBy($"lang")
  }

  /** q_dsv2_clone — SHALLOW CLONE end to end and oracle-checked
    * (round 15): the events zone is cloned by reference
    * ([[graft.sources.v2.DirSink.cloneZone]] — the clone's gen-0
    * snapshot points at the SOURCE's files by absolute path, zero data
    * copied), the clone then takes its OWN append (the post-millennium
    * echo rows below), and the declared aggregate runs over the clone:
    * original rows THROUGH absolute entries + the clone's local rows
    * through ordinary ones, grouped together. The oracle derives the
    * identical union from the raw events parquet — an equality that
    * holds only if (a) every source row survives the by-reference
    * read bit-exactly and (b) the clone's own write plane is fully
    * independent (the echo rows never landed in the source, which
    * q_dsv2_agg_meta would catch drifting). Build is generation-pinned
    * (clone head gen 1): re-runs reuse the committed clone. */
  private def qDsv2Clone(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val src = eventsZone(s, dir)
    val path = s"${layoutRoot(dir)}/events_dirsink_clone"
    val fmtName = "graft.sources.v2.DirSinkSource"
    if (!graft.sources.v2.DirSink.currentGen(path).contains(1L)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      graft.sources.v2.DirSink.cloneZone(src, path) // gen 0, by reference
      // the clone's own data: an echo of the error events, ids shifted
      // out of the source's id space so the populations stay distinct
      s.read.format(fmtName).option("path", path).load()
        .filter($"event_type" === "error")
        .select($"event_id" + 10000000L as "event_id",
          $"ts", lit("error_echo").as("event_type"), $"value")
        .write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Append).save() // gen 1
    }
    s.read.format(fmtName).option("path", path).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"),
        sum(floor($"value" * 10000.0 + 0.5).cast("long")).as("value_q"))
      .orderBy($"event_type")
  }

  /** q_dsv2_dv — DELETION-VECTOR DELETE end to end and oracle-checked
    * (round 15): an event_id-clustered zone takes TWO scattered
    * DELETEs (every 'error' event, then every value below 0.05 —
    * shapes the per-file bounds cannot decide, the exact case
    * copy-on-write pays a whole-zone rewrite for), both executed as
    * merge-on-read position bitmaps ([[graft.sources.v2.DirSinkDv]]);
    * the build REQUIRES the file list to be untouched and `dv=` tags
    * present, so the query can only pass through the vector read
    * path. The declared aggregate then runs over the vectored zone —
    * every surviving row decoded past its file's dead positions — and
    * the oracle recomputes the identical survivors from the raw
    * events parquet: one wrongly-skipped or wrongly-returned ordinal
    * anywhere and the hash gate fails. Build is generation-pinned
    * (head gen 2: one 4-file append + two vector DELETEs): re-runs
    * reuse the committed zone. */
  private def qDsv2Dv(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val path = s"${layoutRoot(dir)}/events_dirsink_dv"
    val fmtName = "graft.sources.v2.DirSinkSource"
    if (!graft.sources.v2.DirSink.currentGen(path).contains(2L)) {
      val p = new org.apache.hadoop.fs.Path(path)
      p.getFileSystem(s.sessionState.newHadoopConf()).delete(p, true)
      Tables.load(s, dir, "events")
        .select($"event_id", $"event_type", $"value")
        .repartitionByRange(4, $"event_id")
        .write.format(fmtName).option("path", path)
        .mode(org.apache.spark.sql.SaveMode.Append).save() // gen 0
      val before = graft.sources.v2.DirSink.readManifest(path)
        .get._2.map(_._1)
      val t = new graft.sources.v2.DirSinkTable(path,
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, value DOUBLE"))
      s.conf.set(graft.sources.v2.DirSinkDv.EnabledKey, "true")
      try {
        t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.EqualTo("event_type", "error")))
        t.deleteWhere(Array[org.apache.spark.sql.sources.Filter](
          org.apache.spark.sql.sources.LessThan("value", 0.05)))
      } finally s.conf.unset(graft.sources.v2.DirSinkDv.EnabledKey)
      val after = graft.sources.v2.DirSink.readManifest(path)
        .get._2.map(_._1)
      require(after.toSet == before.toSet, // re-tagged lines re-order
        "fixture: merge-on-read must not rewrite the file list " +
          s"($before -> $after)")
      require(graft.sources.v2.DirSink.readManifestLines(path)
        .get._2.exists(_.contains("dv=")),
        "fixture: the DELETEs must have produced deletion vectors")
    }
    s.read.format(fmtName).option("path", path).load()
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n_events"),
        min($"event_id").as("min_id"), max($"event_id").as("max_id"),
        sum(floor($"value" * 10000.0 + 0.5).cast("long")).as("value_q"))
      .orderBy($"event_type")
  }

  val oracles: Map[String, String] = Map(
    "q_schema_evolution" ->
      s"""WITH v1 AS (
           SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) o_orderstatus
           FROM orders WHERE o_orderkey % 2 = 0),
         v2 AS (
           SELECT o_orderkey, o_totalprice, o_orderstatus
           FROM orders WHERE o_orderkey % 2 = 1),
         u AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2)
         SELECT coalesce(o_orderstatus, 'PRE_MIGRATION') AS status,
                count(*) AS n_orders,
                ${graft.Det.SUMD("o_totalprice")} AS total
         FROM u GROUP BY 1 ORDER BY status""",
    "q_compact_files" ->
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                ${graft.Det.SUMD("l_extendedprice")} AS sum_price,
                min(l_orderkey) AS min_ok, max(l_orderkey) AS max_ok,
                CAST(sum(l_orderkey * 7919 + l_linenumber) AS BIGINT)
                  AS row_checksum
         FROM lineitem GROUP BY l_returnflag, l_linestatus
         ORDER BY l_returnflag, l_linestatus""",
    "q_zorder_layout" ->
      s"""WITH b AS (
           SELECT o_custkey % 65536 AS x,
                  CAST(date_diff('day', DATE '1970-01-01',
                       CAST(o_orderdate AS DATE)) AS BIGINT) % 65536 AS yd
           FROM orders),
         z AS (SELECT x, yd, ${mortonExpr("x", "yd", "//")} AS z FROM b)
         SELECT z // 65536 AS bucket, count(*) AS n_orders,
                min(x) AS min_cust, max(x) AS max_cust,
                min(yd) AS min_day, max(yd) AS max_day
         FROM z GROUP BY 1 ORDER BY bucket""",
    "q_partition_prune" ->
      s"""WITH dim AS (
           SELECT m FROM (
             SELECT strftime(o_orderdate, '%Y-%m') m,
                    ${graft.Det.SUMD("o_totalprice")} rev
             FROM orders WHERE o_orderpriority = '1-URGENT'
             GROUP BY 1 ORDER BY rev DESC, m LIMIT 3))
         SELECT strftime(o_orderdate, '%Y-%m') AS o_month,
                count(*) AS n_orders,
                ${graft.Det.SUMD("o_totalprice")} AS total_rev
         FROM orders
         WHERE strftime(o_orderdate, '%Y-%m') IN (SELECT m FROM dim)
         GROUP BY 1 ORDER BY o_month""",
    "q_join_bucketed" ->
      s"""SELECT o_orderpriority,
                count(*) AS n_items,
                ${graft.Det.SUMD("l_extendedprice")} AS revenue
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY 1 ORDER BY o_orderpriority""",
    "q_csv_roundtrip" ->
      """SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM documents GROUP BY lang, source
         ORDER BY lang, source""",
    "q_orc_roundtrip" ->
      s"""WITH f AS (
           SELECT lang, doc_id, n_chars,
                  ${TextOps.ROLLING_HASH("text")} AS fp
           FROM documents)
         SELECT lang, count(*) AS n_docs,
                min(doc_id) AS min_doc, max(doc_id) AS max_doc,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(fp) AS BIGINT) AS text_checksum
         FROM f GROUP BY lang ORDER BY lang""",
    "q_jsonl_roundtrip" ->
      s"""WITH f AS (
           SELECT lang, source, n_chars,
                  ${TextOps.ROLLING_HASH("text")} AS fp
           FROM documents)
         SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(fp) AS BIGINT) AS text_checksum
         FROM f GROUP BY lang, source
         ORDER BY lang, source""",
    "q_dsv2_sink_roundtrip" ->
      s"""WITH f AS (
           SELECT lang, source, n_chars,
                  ${TextOps.ROLLING_HASH("text")} AS fp
           FROM documents)
         SELECT lang, source, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(fp) AS BIGINT) AS text_checksum
         FROM f GROUP BY lang, source
         ORDER BY lang, source""",
    "q_dsv2_skipping" ->
      s"""WITH f AS (
           SELECT lang, n_chars,
                  ${TextOps.ROLLING_HASH("text")} AS fp
           FROM documents WHERE doc_id <= 199)
         SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                CAST(sum(fp) AS BIGINT) AS text_checksum
         FROM f GROUP BY lang ORDER BY lang""",
    "q_dsv2_dml" ->
      // the final state after UPDATE(tier=short where n_chars<500) then
      // MERGE(doc_id<100 -> merged; +10M synthetics inserted), replayed
      // over the base parquet
      """WITH base AS (
           SELECT lang, n_chars,
                  CASE WHEN doc_id < 100 THEN 'merged'
                       WHEN n_chars < 500 THEN 'short'
                       ELSE 'raw' END AS tier
           FROM documents),
         ins AS (
           SELECT lang, n_chars, 'inserted' AS tier
           FROM documents WHERE doc_id < 50),
         all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
         SELECT lang, tier, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM all_rows GROUP BY lang, tier ORDER BY lang, tier""",
    // the merge-on-read twin: identical final state, identical oracle
    // — two physical strategies (copy-on-write vs deletion vectors),
    // one answer, both held to the raw parquet
    "q_dsv2_dml_dv" ->
      """WITH base AS (
           SELECT lang, n_chars,
                  CASE WHEN doc_id < 100 THEN 'merged'
                       WHEN n_chars < 500 THEN 'short'
                       ELSE 'raw' END AS tier
           FROM documents),
         ins AS (
           SELECT lang, n_chars, 'inserted' AS tier
           FROM documents WHERE doc_id < 50),
         all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
         SELECT lang, tier, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars
         FROM all_rows GROUP BY lang, tier ORDER BY lang, tier""",
    "q_dsv2_colmap" ->
      // the zone's final state: docs < 300 landed pre-rename, 300–399
      // appended post-rename, doc_id < 50 deleted — read back through
      // the RENAMED columns (language, length); exact sums expose any
      // pre-rename file reading NULL through a broken mapping
      """WITH z AS (
           SELECT doc_id, lang AS language, n_chars AS length
           FROM documents WHERE doc_id >= 50 AND doc_id < 400)
         SELECT language, count(*) AS n_docs,
                CAST(sum(length) AS BIGINT) AS total_length
         FROM z WHERE length >= 300
         GROUP BY language ORDER BY language""",
    "q_dsv2_time_slice" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                     AS BIGINT) AS value_q,
                min(event_id) AS min_id, max(event_id) AS max_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           AND ts <  TIMESTAMP '2024-01-20 00:00:00'
         GROUP BY event_type ORDER BY event_type""",
    // the oracle searches the ORIGINAL embeddings parquet; the declared
    // query searches the DirSink-zone copy — any float the zone round
    // trip disturbs diverges the ranking and fails the hash gate
    "q_dsv2_embed_store" ->
      """WITH n AS (
           SELECT vec_id, label, CAST(embedding AS DOUBLE[]) e,
                  sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                        CAST(embedding AS DOUBLE[]))) nrm
           FROM embeddings),
         q AS (SELECT * FROM n WHERE vec_id % 50 = 0),
         pairs AS (
           SELECT q.vec_id qid, c.vec_id cid, c.label clabel,
                  floor(list_dot_product(q.e, c.e) / (q.nrm * c.nrm)
                        * 1000000.0 + 0.5) / 1000000.0 sim
           FROM q JOIN n c ON c.vec_id <> q.vec_id),
         r AS (SELECT *, row_number() OVER
                 (PARTITION BY qid ORDER BY sim DESC, cid) rn
               FROM pairs)
         SELECT qid, rn, cid, CAST(clabel AS BIGINT) AS clabel, sim
         FROM r WHERE rn <= 3 ORDER BY qid, rn""",
    // the declared query answers these from the zone MANIFEST (complete
    // aggregate pushdown, no data file opened); the oracle scans the
    // original parquet — the metadata answers are held to the data
    "q_dsv2_agg_meta" ->
      """SELECT count(*) AS n_events,
                count(event_id) AS n_ids,
                min(event_id) AS min_id, max(event_id) AS max_id,
                min(ts) AS min_ts, max(ts) AS max_ts,
                min(event_type) AS min_type, max(event_type) AS max_type
         FROM events""",
    // the declared query answers count(col) over PARTIAL-NULL columns
    // from the manifest's per-file null counts (round 15); the oracle
    // re-derives the identical NULLIF/CASE columns over the original
    // parquet — metadata-held counts gated against the data
    "q_dsv2_agg_nulls" ->
      """SELECT count(*) AS n_rows,
                count(nullif(event_type, 'click')) AS n_etype,
                count(CASE WHEN user_id % 7 = 0 THEN NULL
                           ELSE user_id END) AS n_uid,
                min(nullif(event_type, 'click')) AS min_etype,
                max(nullif(event_type, 'click')) AS max_etype,
                min(CASE WHEN user_id % 7 = 0 THEN NULL
                         ELSE user_id END) AS min_uid,
                max(CASE WHEN user_id % 7 = 0 THEN NULL
                         ELSE user_id END) AS max_uid
         FROM events""",
    // the declared query joins two BUCKETED DirSink zones without a
    // shuffle (storage-partitioned join); the oracle recomputes the
    // identical join over the raw parquet — the layout must never
    // change the answer
    "q_dsv2_spj" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
                ${graft.Det.SUMD("o_totalprice")} AS total_price,
                CAST(sum(o_orderkey) AS BIGINT) AS key_checksum
         FROM customer JOIN orders ON c_custkey = o_custkey
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",
    // the declared query reads the box slice from the ZORDER-compacted
    // zone (both-dimension file skipping); the oracle replays the
    // identical slice over the raw parquet
    "q_dsv2_zbox" ->
      """SELECT event_type, count(*) AS n_events,
                CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                     AS BIGINT) AS value_q,
                min(event_id) AS min_id, max(event_id) AS max_id
         FROM events
         WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
           AND ts <  TIMESTAMP '2024-01-18 00:00:00'
           AND user_id BETWEEN 3 AND 9
         GROUP BY event_type ORDER BY event_type""",
    // the feed IS derivable from the raw corpus precisely because it
    // carries exactly the changes: inserts at generation 0 (the
    // append), deletes at generation 1 (the DELETE's matching rows) —
    // carried rows would leak the zone's private file layout and break
    // this equality
    "q_dsv2_cdf" ->
      """SELECT doc_id, lang, n_chars,
                'insert' AS change_type, CAST(0 AS BIGINT) AS commit_version
         FROM documents
         UNION ALL
         SELECT doc_id, lang, n_chars,
                'delete' AS change_type, CAST(1 AS BIGINT) AS commit_version
         FROM documents WHERE lang = 'de'
         ORDER BY commit_version, change_type, doc_id""",
    // the aggregate covers the WHOLE corpus iff the restore recovered
    // the DELETEd generation's rows exactly — a partial restore (or a
    // no-op one) breaks the count/sum at the first 'de' group
    "q_dsv2_restore" ->
      """SELECT lang, count(*) AS n_docs,
                CAST(sum(n_chars) AS BIGINT) AS total_chars,
                min(doc_id) AS min_id, max(doc_id) AS max_id
         FROM documents
         GROUP BY lang ORDER BY lang""",
    // the declared query reads a SHALLOW CLONE — the source's rows
    // through absolute by-reference entries plus the clone's own
    // appended echo rows; the oracle derives the identical union from
    // the raw events parquet
    "q_dsv2_clone" ->
      """WITH z AS (
           SELECT event_id, event_type, value FROM events
           UNION ALL
           SELECT event_id + 10000000, 'error_echo', value
           FROM events WHERE event_type = 'error')
         SELECT event_type, count(*) AS n_events,
                min(event_id) AS min_id, max(event_id) AS max_id,
                CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                     AS BIGINT) AS value_q
         FROM z GROUP BY event_type ORDER BY event_type""",
    // the declared query reads a zone whose two DELETEs were executed
    // as deletion-vector bitmaps (file list pinned unchanged by the
    // build); the oracle recomputes the identical survivors from the
    // raw events parquet — one wrong ordinal fails the hash gate
    "q_dsv2_dv" ->
      """SELECT event_type, count(*) AS n_events,
                min(event_id) AS min_id, max(event_id) AS max_id,
                CAST(sum(CAST(floor(value * 10000.0 + 0.5) AS BIGINT))
                     AS BIGINT) AS value_q
         FROM events
         WHERE event_type <> 'error' AND value >= 0.05
         GROUP BY event_type ORDER BY event_type""")
}
