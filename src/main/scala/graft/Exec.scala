package graft

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions.col

/** Result-lifecycle seam for declared queries.
  *
  * Most multi-pass operators persist a fact-derived intermediate, build a
  * SMALL result, then eagerly `localCheckpoint` that result so the
  * intermediate can be unpersisted before the function returns (the
  * caller — Verify / Bench — would otherwise recompute the unpersisted
  * lineage on every action). The cost of that pattern is an opaque
  * `RDDScanExec` plan: plan-shape guards can't see the real operator tree
  * through a checkpoint.
  *
  * [[Exec.seal]] keeps the eager lifecycle for normal runs but lets plan
  * inspection opt OUT via [[Exec.withLazyPlans]]: inside the block, query
  * functions return the un-checkpointed DataFrame whose `queryExecution`
  * is the genuine plan. PlanShapeSpec's registry-wide sweeps run under
  * this block; production paths never touch it. Every declared query is
  * deterministic by construction ([[Det]] discipline), so executing the
  * lazy form yields bit-identical rows to the sealed form.
  *
  * Scope rules:
  *  - RESULT-BOUNDARY checkpoints route through [[seal]]
  *    (`.transform(Exec.seal)` as the last step of a query function),
  *    and so do REUSED-HUB truncations whose raw duplication is BOUNDED
  *    (a relation consumed 2–3 times, or a fixed 3-round loop that
  *    doubles per round — Selection's bucketed levels, the kcore/bfs
  *    round results, semdedup's assignment, dsir's weights): the lazy
  *    sweeps then still see the full tree, and the runtime pays each
  *    subtree once (round 7: the unsealed q_rfm form planned 14
  *    sort-merge joins over 36 scans and ran 2.9× slower).
  *  - Raw eager `localCheckpoint(true)` remains ONLY where lineage
  *    growth is unbounded or super-polynomial in rounds (BPE's ~50
  *    training rounds, and every [[fixpoint]] loop — connected
  *    components and the converged graph APIs): there the
  *    un-truncated lazy tree would stall the DRIVER in plan
  *    canonicalization before a single task runs, so truncation must
  *    fire even during plan inspection — which is why those loop BODIES
  *    get their own direct fragment sweep in PlanShapeSpec instead.
  *  - A BOUNDED driver collect still runs under [[withLazyPlans]], as
  *    [[graft.sources.Tables.rowCount]]'s memoized count does: a
  *    result the build needs as a value — a k-means codebook round
  *    ([[graft.operators.Similarity.kmeansCodebook]], one job per
  *    round), a stored index's codebook (once per session) — is
  *    collected while the query function runs, broadcast once, and the
  *    lazy plan then holds only a short handle expression for it
  *    ([[graft.functions.CodebookHandle]]), never the rows or a
  *    literal. Bounded means no larger than a broadcast of the same
  *    rows: a codebook is C·d·8 bytes, KBs on the fixtures but ~300 MB
  *    at √N cells over 100 TB. A result with a row per input row or per
  *    query row is never collected this way.
  *  - The flag is a [[scala.util.DynamicVariable]] (thread-scoped,
  *    reentrant): concurrent suites on other threads never observe the
  *    block's value, and nested blocks restore correctly.
  *  - Lazy-mode plans reflect the POST-unpersist state: an operator that
  *    unpersists its intermediate before returning shows raw scans (no
  *    InMemoryRelation), so cache-REUSE shape assertions must keep
  *    persisting the inner frame inside the test itself (the tf/bm25
  *    cache specs do exactly that).
  */
object Exec {

  private val lazyPlans = new scala.util.DynamicVariable[Boolean](false)

  /** Seal a query result: eager localCheckpoint in normal runs (so
    * persisted intermediates can be released immediately), identity
    * inside a [[withLazyPlans]] block. */
  def seal(df: DataFrame): DataFrame =
    if (lazyPlans.value) df else df.localCheckpoint(true)

  /** Run `body` with lazy plan capture enabled on THIS thread; restores
    * the prior mode on exit (reentrant). */
  private[graft] def withLazyPlans[A](body: => A): A =
    lazyPlans.withValue(true)(body)

  /** Above this input size a multi-consumer fact-derived hub persists;
    * below it the consumers recompute. All driver fixture scales (≤5 k
    * docs at sf0.1; ScaleProbe 8× ≈ 40 k) sit under it, every real
    * deployment sits far over it. */
  val HubPersistThreshold = 100000L

  /** Cost-routed hub materialization — the q_naive_bayes lesson
    * generalized. A fact-derived relation with ≥2 consumers whose
    * downstream keys differ faces a real trade: persisting pays a
    * fact-sized cache write (measured 2.3× the whole query at fixture
    * scale, where the recomputed scans are page-cached), while
    * recomputing pays one corpus scan PER consumer subtree (measured:
    * ZERO ReuseExchange hits across the consumers — pruned-column
    * differences defeat static reuse, and AQE dedupes nothing across
    * independent subtrees) — the 100 TB scale-killer. So route on the
    * input's size: small → return the hub as-is (recompute), large →
    * persist MEMORY_AND_DISK. `release()` unpersists iff persisted;
    * call it after the result is sealed. The route is for WIDE hubs,
    * whose cache write is what recomputing saves; a narrow hub whose
    * derivation is costly (q_bm25's ~40 B/doc tokenized counts)
    * persists unconditionally instead.
    *
    * Like `Baskets.capPerItem`'s hot-item probe, the size probe makes
    * the physical shape data-dependent (PlanShapeSpec pins the fixture
    * route); `factRows` is memoized per table by
    * [[graft.sources.Tables.rowCount]] so a full Verify/Bench run pays
    * each probe job once. */
  def sizedHub(hub: DataFrame, factRows: => Long,
               threshold: Long = HubPersistThreshold): (DataFrame, () => Unit) =
    if (factRows > threshold) {
      val p = hub.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, () => { p.unpersist(false); () })
    } else (hub, () => ())

  /** Scale-adaptive parallelism floor for CPU-DENSE relations (guide
    * §2.6 idle capacity / §2.5 input skew "one huge unsplittable
    * file"): a single-row-group parquet table — the fixture shape, and
    * the real-world shape of any small dimension or un-compacted
    * ingest head — plans as ONE scan partition, so every map-side
    * stage over it (the N·C cosine loop, per-token md5, shingling)
    * runs on one core regardless of cluster width. When the planned
    * partition count is below the session's core parallelism, fan out
    * once with a round-robin exchange (bytes are tiny exactly when the
    * trigger fires — partitions < cores means the scan couldn't fill
    * the machine); at production scale input partitions exceed cores
    * and this is the identity, so no 100 TB relation is ever
    * re-shuffled by it. Row-level results are unchanged (set-identical
    * rows; every downstream consumer in this codebase is
    * order-independent by the Det discipline).
    *
    * Apply ONLY where the consumer is compute-bound per row — fanning
    * out a scan that feeds a selective pushed filter would instead
    * defeat the parquet scan's PushedFilters. And apply ONLY to
    * exchange-free scan/project-shaped plans: the partition-count gate
    * calls `.rdd`, which physically plans the child, and under AQE a
    * shuffle-bearing child would EXECUTE its shuffle stages eagerly at
    * plan-build time (all current call sites are narrow scans; keep it
    * that way). */
  def fanOut(df: DataFrame): DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < cores) df.repartition(cores) else df
  }

  /** Outcome of a [[fixpoint]] loop: the final relation, the rounds run,
    * and why the loop stopped. `converged`: the stop rule saw the
    * fixpoint; `cycled`: it saw a cycle instead (synchronous LPA's
    * 2-cycle); both false: the `maxRounds` backstop fired and the result
    * is NOT a fixpoint. */
  final case class FixpointResult(result: DataFrame, rounds: Int,
                                  converged: Boolean, cycled: Boolean)

  /** What a [[fixpoint]] stop rule saw in the witness history. */
  sealed trait Stop
  case object Settled extends Stop
  case object Cycled extends Stop

  /** Stop rule of a monotone loop: settled once two successive rounds
    * observe the same witness. */
  val unchanged: PartialFunction[List[Any], Stop] = {
    case w :: p :: _ if w == p => Settled
  }

  /** The observed-witness fixpoint loop. Round r is
    * `step(prev).observe(witness).localCheckpoint(true)` — ONE job: the
    * witness (one aggregate over the round's output, e.g. a count or an
    * order-free sum) rides the checkpoint that materializes the round, so
    * there is no second "did anything change?" job, no driver collect of
    * row data, and lineage is truncated so round r never replans rounds
    * 1..r−1. The state keeps `init`'s columns: a step may emit extra
    * columns for its witness, and they are dropped before the
    * checkpoint.
    *
    * After each round `stop` sees the witness values of every round so
    * far, newest first; the loop ends when it answers, or after
    * `maxRounds` rounds. The persisted inputs in `held` are released
    * when the loop ends, however it ends. */
  def fixpoint(init: DataFrame, maxRounds: Int, held: Seq[DataFrame],
               step: DataFrame => DataFrame, witness: Column)(
      stop: PartialFunction[List[Any], Stop]): FixpointResult =
    try {
      require(maxRounds >= 1, "a fixpoint loop needs at least one round")
      val cols = init.columns.map(col)
      var cur = init.localCheckpoint(true)
      var history = List.empty[Any]
      var verdict = Option.empty[Stop]
      while (verdict.isEmpty && history.length < maxRounds) {
        val obs = Observation()
        cur = step(cur).observe(obs, witness.as("w")).select(cols: _*)
          .localCheckpoint(true)
        history = obs.get("w") :: history
        verdict = stop.lift(history)
      }
      FixpointResult(cur, history.length, verdict.contains(Settled),
        verdict.contains(Cycled))
    } finally held.foreach(_.unpersist(false))

  // A KEYED fanOut variant (hash-repartition on the downstream group-by
  // key so the consumer's aggregate shares the exchange, guide §2.4) was
  // built and MEASURED NEGATIVE in r17 at its motivating site — the PQ
  // train/assign relation ran consistently slower keyed than round-robin
  // (q_ann_pq 5.3–8.6 s vs 3.9–4.7 s in ABBA pairs under a stable
  // control): the exchange it removes is KB-sized while the downstream
  // aggregate loses its partial/final overlap. Removed rather than kept
  // as dead API; the record lives here, at the would-be call site
  // (Similarity.pqCodesLookups), and in OPTIMIZATION_r17.md.
}
