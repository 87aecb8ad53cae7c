package graft.operators

import graft.QueryModule
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Graph analytics over the corpus (north-star extension next to the
  * connected-components resolver in [[Similarity]]): PageRank, the
  * centrality weighting web-corpus curation pipelines apply to the crawl
  * link graph (e.g. harmonic/PageRank quality priors over Common Crawl).
  * The testdata documents carry no hyperlink column, so the link graph
  * is derived deterministically from doc ids — two out-links per page:
  * a hub-forming contraction (j div 3 — many pages link to few, the
  * power-law shape real link graphs have) and a quadratic scatter
  * ((j²+1) mod N). NOT affine maps: an affine map with multiplier
  * coprime to N is a permutation, which makes in-degree uniform and
  * PageRank degenerate to the teleport constant (GraphsSpec pins
  * non-uniformity). Same honest stand-in posture as the q_lang_id
  * profiles; the OPERATOR machinery — out-degree normalization, damping,
  * dangling-mass drop, fixed power iterations — is the real thing and is
  * what the oracle replays.
  *
  * Determinism: ranks live in integer micro-units (1e-12 of total mass)
  * and every step is integer arithmetic — contribution = pr div outdeg,
  * update = base + (85·Σ) div 100 — so the per-node sums are order-free
  * BIGINTs, bit-identical in both engines; no floating point until the
  * final cosmetic cast.
  *
  * Scale: each iteration is ONE shuffle (contributions keyed by dst,
  * map-side combined) plus a broadcast of the 1-row (N, min-id) stats;
  * edges and nodes are persisted across the 3 fixed iterations, the
  * result is eagerly checkpointed, caches dropped before return. The
  * driver loop iterates ITERATIONS, never rows — the same posture as
  * [[Similarity]] connected components and k-means. */
object Graphs extends QueryModule {

  private val Scale = 1000000000000L // 1e-12 rank units
  private val Iters = 3

  /** The derived link graph of one corpus — the single generator every
    * graph query reads (see the object doc for its shape). Relations the
    * graph persists are released when the [[linkGraph]] block exits:
    * the nodes and the symmetrized edges, each on first use, and every
    * relation a query [[hold]]s. A query that reads [[nodes]] reads
    * them before it holds anything derived from the edges: a persist
    * plans its relation at once, and only then does that cache read
    * the node cache instead of the table. */
  private[graft] final class LinkGraph private[Graphs] (docs: DataFrame) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Persist `df` until the [[linkGraph]] block exits. A relation that
      * is already cached (an identity transform of a held one) is left to
      * its owner. */
    def hold(df: DataFrame): DataFrame = {
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        held += df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df
    }

    /** One row: node count `n` and smallest id `mn`. */
    val stats: DataFrame =
      docs.agg(count(lit(1)).as("n"), min(col("doc_id")).as("mn"))

    /** Node relation (doc_id), persisted on first use. */
    lazy val nodes: DataFrame = hold(docs)

    /** Directed edges (src, dst), two out-links per page minus
      * self-links; a pair both maps produce appears twice. */
    val edges: DataFrame = docs.crossJoin(broadcast(stats))
      .withColumn("j", col("doc_id") - col("mn"))
      .select(col("doc_id").as("src"), explode(array(
        col("mn") + expr("j div 3"),
        col("mn") + (col("j") * col("j") + 1) % col("n"))).as("dst"))
      .filter(col("src") =!= col("dst"))

    /** Symmetrized distinct edges (src, dst), persisted on first use. */
    lazy val undirected: DataFrame = hold(edges
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .distinct())

    private[Graphs] def release(): Unit =
      held.reverseIterator.foreach(_.unpersist(false))
  }

  /** Run `body` over the corpus's [[LinkGraph]] and release what it
    * persisted when `body` returns or throws. */
  private[graft] def linkGraph[A](s: SparkSession, dir: String)(
      body: LinkGraph => A): A = {
    val g = new LinkGraph(Tables.load(s, dir, "documents").select(col("doc_id")))
    try body(g) finally g.release()
  }

  /** Rank update over a caller-managed (cached) node/edge pair:
    * base + damped in-mass, all integer. Package-private so the
    * PlanShapeSpec loop-body sweep inspects the REAL per-round fragment
    * (checkpointed loops hide their bodies from whole-query sweeps). */
  private[graft] def prIteration(nodes: DataFrame, edges: DataFrame,
                                 stats: DataFrame, r: DataFrame): DataFrame = {
    val s = nodes.sparkSession; import s.implicits._
    val contrib = edges.join(r, edges("src") === r("doc_id"))
      .select($"dst", expr("pr div outdeg").as("c"))
      .groupBy($"dst").agg(sum($"c").as("inm"))
    nodes.join(contrib, nodes("doc_id") === contrib("dst"), "left")
      .crossJoin(broadcast(stats))
      .select(nodes("doc_id"),
        (expr(s"(${15 * Scale / 100} div n)") +
          expr("(85 * coalesce(inm, CAST(0 AS BIGINT))) div 100")).as("pr"))
  }

  private def qPagerank(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      val nodes = g.nodes
      val outdeg = g.edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
      val edges = g.hold(g.edges.join(outdeg, Seq("src")))
      val r0 = nodes.crossJoin(broadcast(g.stats))
        .select($"doc_id", expr(s"($Scale div n)").as("pr"))
      val rN = (1 to Iters).foldLeft(r0) { (r, _) =>
        prIteration(nodes, edges, g.stats, r)
      }
      rN.select($"doc_id", $"pr",
          ($"pr".cast("double") / lit(Scale.toDouble)).as("rank"))
        .orderBy($"doc_id")
        .transform(graft.Exec.seal)
    }

  /** One unrolled power iteration as a DuckDB CTE (HUGEINT sums cast
    * back to BIGINT so `//` stays in 64-bit like Spark's `div`). */
  private def duckIter(i: Int): String = {
    val prev = s"r${i - 1}"
    s"""r$i AS (
         SELECT d.doc_id,
                (${15 * Scale / 100} // s.n)
                  + (85 * coalesce(i$i.inm, 0)) // 100 AS pr
         FROM d CROSS JOIN s
         LEFT JOIN (
           SELECT e.dst, CAST(sum($prev.pr // e.outdeg) AS BIGINT) inm
           FROM e JOIN $prev ON e.src = $prev.doc_id
           GROUP BY e.dst) i$i
           ON i$i.dst = d.doc_id)"""
  }

  /** Degree-orientation of an undirected distinct edge list (columns
    * `a`, `b` with a<b by id): each edge is directed from its endpoint
    * with the smaller (degree, id) key to the larger, and the oriented
    * row carries the destination's key for wedge ordering. Orienting by
    * degree bounds every node's OUT-degree by O(√m) regardless of the
    * degree distribution (a hub of degree D receives almost all of its
    * edges INBOUND, because its neighbors almost all have smaller
    * degree), so wedge generation — Σ out-deg² — survives power-law
    * graphs where bare id-orientation can mint D² wedges at one
    * low-id hub. Output: (s, t, tk) with tk = struct(deg(t), t).
    *
    * The degree aggregate is node-sized (AQE broadcasts it while it
    * fits, falls back to a node-keyed shuffle join when it doesn't);
    * the (deg, id) key is a total order because ids are distinct, so
    * orientation — and therefore the triangle set — is deterministic. */
  private[graft] def orientByDegree(u: DataFrame): DataFrame = {
    val s = u.sparkSession; import s.implicits._
    val deg = u.select($"a".as("v")).unionByName(u.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("d"))
    // identical field names on both keys — CASE branches must agree on
    // the full struct TYPE, field names included
    val ak = struct($"da".as("d"), $"a".as("v"))
    val bk = struct($"db".as("d"), $"b".as("v"))
    u.join(deg.select($"v".as("a"), $"d".as("da")), Seq("a"))
      .join(deg.select($"v".as("b"), $"d".as("db")), Seq("b"))
      .select(
        when(ak < bk, $"a").otherwise($"b").as("s"),
        when(ak < bk, $"b").otherwise($"a").as("t"),
        when(ak < bk, bk).otherwise(ak).as("tk"))
  }

  /** Wedge relation over a degree-oriented edge list: both out-edges of
    * a shared center `s`, ordered by the destinations' (deg, id) keys so
    * each unordered wedge appears exactly once. Fan-out per center is
    * out-deg² — bounded by the orientation, not the raw degree. */
  private[graft] def wedges(o: DataFrame): DataFrame =
    o.as("e1").join(o.as("e2"),
      col("e2.s") === col("e1.s") && col("e1.tk") < col("e2.tk"))
      .select(col("e1.s").as("w"),
        col("e1.t").as("x"), col("e2.t").as("y"))

  /** Close wedges into triangles: the closing undirected edge {x, y},
    * when present, is oriented exactly x→y (x precedes y in the key
    * order by the wedge's own ordering), so one equi-join on both
    * endpoints suffices. Output is the id-sorted triple (a<b<c) — the
    * same row set any orientation produces, which is what keeps the
    * oracle orientation-agnostic. */
  private[graft] def closeTriangles(o: DataFrame): DataFrame = {
    val s = o.sparkSession; import s.implicits._
    wedges(o)
      .join(o.as("e3"),
        col("e3.s") === col("x") && col("e3.t") === col("y"))
      .select(sort_array(array($"w", $"x", $"y")).as("t"))
      .select(element_at($"t", 1).as("a"), element_at($"t", 2).as("b"),
        element_at($"t", 3).as("c"))
  }

  /** q_triangles — triangle enumeration over the same derived link
    * graph (undirected): the clustering-coefficient / community-density
    * primitive next to [[qPagerank]]'s centrality. Edges are
    * DEGREE-oriented ([[orientByDegree]]) so each triangle is emitted
    * exactly once by the wedge join and wedge fan-out is bounded by
    * O(√m) out-degrees even under a power-law hub (GraphsSpec plants a
    * star and pins the wedge counts: id-orientation D·(D−1)/2, degree-
    * orientation 0). Output rows are id-sorted triples, identical to
    * the previous low-id→high-id orientation — the oracle is
    * orientation-blind.
    *
    * Scale: one node-sized degree aggregate + two equi-joins shuffling
    * on node keys over a DISTINCT oriented edge list (persisted once,
    * three consumers — without the persist each join arm would
    * re-derive the generator + distinct + orientation). */
  private def qTriangles(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      // u feeds the degree union twice and the orientation join once —
      // hold it or the generator+distinct replans three times
      val u = g.hold(g.edges
        .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
        .distinct())
      closeTriangles(g.hold(orientByDegree(u)))
        .orderBy($"a", $"b", $"c")
        .transform(graft.Exec.seal)
    }

  /** q_label_prop — synchronous label propagation (community detection)
    * over the same derived link graph, SYMMETRIZED: three fixed rounds
    * of "adopt the most frequent neighbor label, ties to the smallest"
    * from a labels-are-ids start. The community primitive next to
    * [[qPagerank]] centrality, triangles density, and the dedup-cluster
    * connected components (which LPA refines: CC merges everything
    * touching, LPA splits by internal density).
    *
    * Scale: each round is one edge⋈labels equi-join + a map-combinable
    * (node, label) count + a max(struct(count, −label)) argmax — no
    * windows, no driver loops over data; rounds are FIXED (3), matching
    * what an unrolled oracle can replay. All-integer, zero float-parity
    * surface. Edges/labels-relation persisted across rounds. */
  private def qLabelProp(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      val l0 = g.nodes.select($"doc_id", $"doc_id".as("lbl"))
      val l3 = (1 to 3).foldLeft(l0)((lbl, _) => lpaStep(g.undirected, lbl))
      l3.select($"doc_id", $"lbl".as("community"))
        .orderBy($"doc_id")
        .transform(graft.Exec.seal)
    }

  /** q_graph_bfs — multi-source breadth-first distances over the same
    * symmetrized derived link graph as [[qLabelProp]]: every node's hop
    * distance (≤ 3) to the nearest seed (doc_id ≡ 5 mod 31 — the
    * deterministic stand-in for "trusted root pages"), the
    * reachability/proximity prior web-curation pipelines compute from a
    * seed whitelist (e.g. the TrustRank / seed-distance features next to
    * [[qPagerank]] centrality). Unreached nodes (> 3 hops) are absent —
    * the frontier relation only ever holds REACHED nodes, which is what
    * keeps the state small on sparse graphs.
    *
    * Scale: each round is one edges⋈reached equi-join (shuffle keyed by
    * node id, map-side-combinable min) — the textbook iterative-relaxation
    * BFS; rounds are FIXED (3), so the driver loop iterates rounds, never
    * rows, and an unrolled oracle replays it. All-integer distances; no
    * float surface at all; each round is [[ssspStep]] at unit weight. */
  private def qGraphBfs(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      val b0 = g.nodes.filter($"doc_id" % 31 === 5)
        .select($"doc_id", lit(0L).as("dist"))
      val ew = g.undirected.withColumn("w", lit(1L))
      // seal each round: ssspStep consumes `reached` twice (join + union),
      // so the raw tree doubles per round — 2³ replans by round 3
      val b3 = (1 to 3).foldLeft(b0)((reached, _) =>
        graft.Exec.seal(ssspStep(ew, reached)))
      b3.orderBy($"doc_id").transform(graft.Exec.seal)
    }

  /** q_graph_jaccard — neighborhood (co-citation) similarity over the
    * symmetrized link graph: for every pair of pages sharing ≥ 2
    * neighbors, |N(a)∩N(b)| / |N(a)∪N(b)| — the structural-similarity
    * signal link-spam and mirror-site detectors run over a crawl graph
    * (two pages linked by the same set of hubs are near-mirrors even
    * when their text already diverged).
    *
    * Scale: candidate pairs are generated by joining the edge list to
    * itself ON THE SHARED NEIGHBOR — the wedge relation, Σ_w deg(w)²
    * work bounded by the degree distribution, never the all-pairs
    * product; the ≥ 2 common-neighbor floor then prunes before the
    * degree join, and degrees are a node-sized aggregate. Hub nodes are
    * the known hazard (a degree-D hub mints D² wedges), closed by the
    * [[Baskets.capPerItem]] machinery: every wedge CENTER keeps at most
    * [[JaccardHubCap]] incident edges in portable md5 order — ~2.4× the
    * max symmetrized degree at the largest driver scale (105 at sf0.1),
    * so declared outputs are bit-identical while a power-law hub's D²
    * blowup is clamped to cap². The cap is applied to the adjacency
    * BEFORE both the wedge join and the degree aggregate (and
    * identically in the DuckDB oracle via [[Baskets.capSql]]), so
    * common/deg stay coherent within the sampled graph — the
    * q_recommend_cooccur trade. Integer counts throughout; the Jaccard
    * is one double division, round6'd. */
  private[graft] val JaccardHubCap = 256L

  private def qGraphJaccard(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      // cap per wedge center (dst): the join on w below fans out as
      // in-deg(w)² — the capped relation bounds that by cap² per hub.
      // The persisted symmetrized edges feed the cap's count aggregate
      // plus its cold/hot split.
      val eu = g.hold(
        Baskets.capPerItem(g.undirected, "dst", "src", JaccardHubCap))
      val l = eu.select($"dst".as("w"), $"src".as("a"))
      val r = eu.select($"dst".as("w"), $"src".as("b"))
      val inter = l.join(r, Seq("w")).filter($"a" < $"b")
        .groupBy($"a", $"b").agg(count(lit(1)).as("common"))
        .filter($"common" >= 2)
      val deg = eu.groupBy($"src").agg(count(lit(1)).as("deg"))
      inter
        .join(deg.select($"src".as("a"), $"deg".as("deg_a")), Seq("a"))
        .join(deg.select($"src".as("b"), $"deg".as("deg_b")), Seq("b"))
        .select($"a".as("doc_a"), $"b".as("doc_b"), $"common",
          $"deg_a", $"deg_b",
          graft.Det.round6($"common".cast("double") /
            ($"deg_a" + $"deg_b" - $"common").cast("double")).as("jaccard"))
        .orderBy($"doc_a", $"doc_b")
        .transform(graft.Exec.seal)
    }

  /** q_kcore — three peeling rounds toward the 3-core of the link graph:
    * each round drops nodes whose degree in the current induced subgraph
    * is < 3, the classic coreness peel (fixed rounds — the driver loop
    * iterates ROUNDS, the [[qPagerank]]/[[qGraphBfs]] stance — so the
    * oracle unrolls it; full coreness just runs more rounds). The dense
    * core is the "remove dead-end/leaf pages" filter a link-quality
    * prior starts from (k=3 actually peels on this graph — at k=2 every
    * node survives, which exercises nothing).
    *
    * Each round: two semi-joins restrict the cached edge list to live
    * endpoints, then a map-combinable degree count and the ≥ k filter —
    * node-relation state only, no per-round edge rewrite. Output is the
    * surviving nodes with their last-round induced degree; all-integer. */
  private def qKcore(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      val n0 = g.nodes.select($"doc_id")
      // seal each round: kcoreStep consumes `nodes` twice (two
      // semi-joins), so the raw tree doubles per round
      val last = (1 to 3).foldLeft((n0, n0)) { case ((nodes, _), _) =>
        val kept = graft.Exec.seal(kcoreStep(g.undirected, nodes, 3))
        (kept.select($"src".as("doc_id")), kept)
      }._2
      last.select($"src".as("doc_id"), $"degree")
        .orderBy($"doc_id")
        .transform(graft.Exec.seal)
    }

  /** One synchronous label-propagation round: adopt the most frequent
    * neighbor label, ties to the smallest. Consumes `lbl` once — the
    * fixed-round fold's tree grows linearly, no per-round seal needed.
    * Shared by the declared query and [[labelPropConverged]]. */
  private[graft] def lpaStep(eu: DataFrame, lbl: DataFrame): DataFrame = {
    val s = eu.sparkSession; import s.implicits._
    eu.join(lbl, eu("dst") === lbl("doc_id"))
      .groupBy($"src", $"lbl")
      .agg(count(lit(1)).as("c"))
      .groupBy($"src")
      .agg(max(struct($"c", (-$"lbl").as("nl"))).as("x"))
      .select($"src".as("doc_id"), (-$"x.nl").as("lbl"))
  }

  /** One k-core peel round: restrict the edge list to live endpoints
    * (two semi-joins), count induced degrees, keep the ≥ k nodes.
    * Returns (src, degree). Shared by the fixed-round declared query
    * and [[kcoreConverged]]. */
  private[graft] def kcoreStep(eu: DataFrame, nodes: DataFrame,
                               k: Int): DataFrame = {
    val s = eu.sparkSession; import s.implicits._
    eu.join(nodes.select($"doc_id".as("src")), Seq("src"), "left_semi")
      .join(nodes.select($"doc_id".as("dst")), Seq("dst"), "left_semi")
      .groupBy($"src").agg(count(lit(1)).as("degree"))
      .filter($"degree" >= k)
  }

  /** q_hits — HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    * derived link graph (same generator as [[qPagerank]]): two fixed
    * mutual-reinforcement rounds — auth(v) = Σ_{u→v} hub(u), then
    * hub(u) = Σ_{u→v} auth(v) — the link-quality pair PageRank's single
    * score can't separate (a directory page is a hub, a cited page an
    * authority; crawl-curation uses both as priors). Scores start at
    * 1e6 integer units and stay UN-normalized integers through the two
    * rounds (round-count × log(max-degree) bits of headroom — ≤ ~2e10
    * at sf1 — so the sums are exact, order-free BIGINTs in both
    * engines); the conventional max-normalization happens ONCE at
    * emission as a cosmetic double division. More rounds would need the
    * production mid-loop rescale, which forfeits integer exactness —
    * the fixed-2 form is what an unrolled oracle can replay bit-exactly.
    *
    * Scale: each half-round is ONE edges⋈scores equi-join with a
    * map-side-combinable sum keyed by node id; the final max is a 1-row
    * broadcast. Edges and nodes persist across rounds ([[qPagerank]]
    * lifecycle), each half-round result is sealed (consumed by the next
    * join AND the final assembly). */
  private def qHits(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      val d = g.nodes
      val ef = g.hold(g.edges)
      val h0 = d.select($"doc_id", lit(1000000L).as("h"))
      val (hN, aN) = (1 to 2).foldLeft((h0, h0.select($"doc_id",
        lit(0L).as("a")))) { case ((h, _), _) =>
        val aRaw = ef.join(h, ef("src") === h("doc_id"))
          .groupBy($"dst").agg(sum($"h").as("a"))
        val a = graft.Exec.seal(
          d.join(aRaw, d("doc_id") === aRaw("dst"), "left")
            .select(d("doc_id"), coalesce($"a", lit(0L)).as("a")))
        val hRaw = ef.join(a, ef("dst") === a("doc_id"))
          .groupBy($"src").agg(sum($"a").as("h"))
        val h2 = graft.Exec.seal(
          d.join(hRaw, d("doc_id") === hRaw("src"), "left")
            .select(d("doc_id"), coalesce($"h", lit(0L)).as("h")))
        (h2, a)
      }
      val scores = hN.join(aN, Seq("doc_id"))
      val mx = scores.agg(max($"h").as("hmax"), max($"a").as("amax"))
      scores.crossJoin(broadcast(mx))
        .select($"doc_id", $"h".as("hub"), $"a".as("auth"),
          graft.Det.round6($"h".cast("double") / $"hmax".cast("double"))
            .as("hub_score"),
          graft.Det.round6($"a".cast("double") / $"amax".cast("double"))
            .as("auth_score"))
        .orderBy($"doc_id")
        .transform(graft.Exec.seal)
    }

  /** One relaxation over a symmetrized weighted edge list (src, dst, w):
    * offer every neighbor dist + w, keep the per-node min. BFS is this
    * step at w = 1. Shared by the fixed-round declared queries
    * (oracle-unrollable) and [[bfsConverged]]; package-private so the
    * PlanShapeSpec loop-body sweep inspects the real per-round
    * fragment. */
  private[graft] def ssspStep(ew: DataFrame, reached: DataFrame): DataFrame = {
    val s = ew.sparkSession; import s.implicits._
    val relaxed = ew.join(reached, ew("dst") === reached("doc_id"))
      .select(ew("src").as("doc_id"), ($"dist" + $"w").as("dist"))
    reached.union(relaxed)
      .groupBy($"doc_id").agg(min($"dist").as("dist"))
  }

  /** q_sssp_weighted — bounded-hop weighted shortest paths
    * (Bellman–Ford relaxation) from the [[qGraphBfs]] seed set over the
    * symmetrized link graph with deterministic integer edge weights
    * w = 1 + (src + dst) mod 7 (symmetric in the endpoints, so the
    * symmetrized directions agree). Three fixed relaxation rounds give
    * the exact cheapest cost over paths of ≤ 3 edges — the oracle-
    * replayable fixed-round form of SSSP; running the same step to a
    * fixpoint (the [[bfsConverged]] pattern) yields full shortest
    * paths. Note hop-bounded ≠ hop-count: a 3-hop path of weight 5
    * correctly beats a 1-hop edge of weight 7.
    *
    * Scale: identical posture to BFS — each round is one edges⋈reached
    * equi-join with a map-side-combinable min keyed by node id; the
    * frontier relation holds only REACHED nodes; all-integer distances,
    * zero float surface. */
  private def qSsspWeighted(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      val r0 = g.nodes.filter($"doc_id" % 31 === 5)
        .select($"doc_id", lit(0L).as("dist"))
      val ew = g.undirected.withColumn("w", lit(1L) + ($"src" + $"dst") % 7L)
      // seal each round: ssspStep consumes `reached` twice (join +
      // union), the [[qGraphBfs]] doubling
      val r3 = (1 to 3).foldLeft(r0)((reached, _) =>
        graft.Exec.seal(ssspStep(ew, reached)))
      r3.orderBy($"doc_id").transform(graft.Exec.seal)
    }

  // ---- convergence-detected variants --------------------------------
  //
  // The declared queries above run FIXED rounds so a DuckDB oracle can
  // unroll them; these API variants run the SAME per-round fragments to
  // their fixpoint through graft.Exec.fixpoint — one job per round, the
  // witness riding the round's checkpoint — and each API's convergence
  // test is a stop rule over the witness history. GraphsSpec proves each
  // on a hand-built graph where fixed-round ≠ fixpoint (a long path for
  // BFS and pagerank, a peel chain for k-core).

  /** k-core fixpoint: peel with [[kcoreStep]] until the surviving-node
    * count stalls. Peeling only ever REMOVES nodes, so an unchanged
    * count means an unchanged node set — the count is an exact
    * convergence witness, not a heuristic. Rounds are O(peel depth);
    * each is two semi-joins + a map-combinable degree count.
    *
    * @param edges symmetrized DISTINCT edge list (src, dst)
    * @return surviving (doc_id, degree) — degree in the induced core
    */
  def kcoreConverged(edges: DataFrame, k: Int,
                     maxRounds: Int = 10000): graft.Exec.FixpointResult = {
    val s = edges.sparkSession; import s.implicits._
    val eu = edges.select($"src", $"dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nodes = eu.select($"src").distinct().withColumn("degree", lit(0L))
    // round 1 compares with the input's node count (counted once, by the
    // stop rule after that round): an input that is already a k-core
    // stops after one round
    lazy val n0 = nodes.count()
    val res = graft.Exec.fixpoint(nodes, maxRounds, Seq(eu),
      kept => kcoreStep(eu, kept.select($"src".as("doc_id")), k),
      count(lit(1)))(graft.Exec.unchanged.orElse {
      case List(c) if c == n0 => graft.Exec.Settled
    })
    res.copy(result = res.result.select($"src".as("doc_id"), $"degree"))
  }

  /** Multi-source BFS fixpoint: relax with [[ssspStep]] at unit weight
    * until the (reached count, Σ dist) pair stalls. Distances only
    * DECREASE per node and the reached set only GROWS, so an unchanged
    * pair means no node was added (count) and no distance dropped
    * (sum) — an exact witness. Rounds are O(eccentricity of the seed
    * set).
    *
    * @param edges symmetrized DISTINCT edge list (src, dst)
    * @param seeds seed nodes (doc_id), distance 0
    * @return reached (doc_id, dist); unreached nodes are absent
    */
  def bfsConverged(edges: DataFrame, seeds: DataFrame,
                   maxRounds: Int = 10000): graft.Exec.FixpointResult = {
    val s = edges.sparkSession; import s.implicits._
    val eu = edges.select($"src", $"dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ew = eu.withColumn("w", lit(1L))
    graft.Exec.fixpoint(seeds.select($"doc_id", lit(0L).as("dist")),
      maxRounds, Seq(eu), ssspStep(ew, _),
      struct(count(lit(1)), sum($"dist")))(graft.Exec.unchanged)
  }

  /** Label propagation to convergence: iterate [[lpaStep]] until the
    * assignment stalls — or until it 2-CYCLES, which synchronous LPA
    * provably can (an isolated edge swaps labels forever: each endpoint
    * adopts the other's). The witness is an order-free assignment
    * digest Σ xxhash64(doc_id, lbl) riding each round's checkpoint;
    * digest == previous ⟹ fixpoint, digest == two-rounds-ago ⟹
    * 2-cycle (stop, report `cycled` — production LPA breaks these with
    * async/randomized updates, which would forfeit determinism here).
    * Digest equality is a hash witness, not a proof — a colliding sum
    * of per-node changes is ~2⁻⁶⁴ per round.
    *
    * @param edges symmetrized DISTINCT edge list (src, dst)
    * @return final (doc_id, lbl)
    */
  def labelPropConverged(edges: DataFrame,
                         maxRounds: Int = 10000): graft.Exec.FixpointResult = {
    val s = edges.sparkSession; import s.implicits._
    val eu = edges.select($"src", $"dst")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Exec.fixpoint(
      eu.select($"src".as("doc_id")).distinct().withColumn("lbl", $"doc_id"),
      maxRounds, Seq(eu), lpaStep(eu, _),
      // hashes reduced mod a prime before the sum: a raw Σ xxhash64
      // overflows Long under ANSI; the reduced sum stays order-free
      // and under 2⁶³ up to ~9·10⁹ nodes
      sum(xxhash64($"doc_id", $"lbl") % lit(1000000007L)))(
      graft.Exec.unchanged.orElse {
        case d :: _ :: dd :: _ if d == dd => graft.Exec.Cycled
      })
  }

  /** PageRank to tolerance: iterate [[prIteration]] until the total
    * absolute rank change Σ|Δpr| drops to `tolUnits` (integer rank
    * units, [[Scale]] = total mass; the default 10⁶ is 10⁻⁶ of mass).
    * Ranks are NOT monotone, so the witness is the per-round L1 delta,
    * computed by a doc_id equi-join of successive iterates that rides
    * the same checkpoint job — one extra node-sized shuffle per round,
    * no driver collect. Integer truncation can leave a persistent ±1-
    * unit-per-node dither, so tolUnits = 0 is only guaranteed to
    * terminate on graphs whose iteration map reaches an exact integer
    * fixpoint (DAGs do: contributions through a depth-D graph settle in
    * D+1 rounds — the GraphsSpec fixture); `maxRounds` backstops the
    * general case.
    *
    * @param edges directed edge list (src, dst)
    * @param nodes node relation (doc_id)
    * @return (doc_id, pr) in integer rank units
    */
  def pagerankConverged(edges: DataFrame, nodes: DataFrame,
                        tolUnits: Long = 1000000L,
                        maxRounds: Int = 100): graft.Exec.FixpointResult = {
    val s = edges.sparkSession; import s.implicits._
    val nd = nodes.select($"doc_id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val stats = nd.agg(count(lit(1)).as("n"))
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val ed = edges.select($"src", $"dst").join(outdeg, Seq("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    graft.Exec.fixpoint(
      nd.crossJoin(broadcast(stats))
        .select($"doc_id", expr(s"($Scale div n)").as("pr")),
      maxRounds, Seq(ed, nd),
      r => prIteration(nd, ed, stats, r)
        .join(r.select($"doc_id", $"pr".as("graft_pr_prev")), Seq("doc_id")),
      coalesce(sum(abs($"pr" - $"graft_pr_prev")), lit(0L))) {
      case (d: Long) :: _ if d <= tolUnits => graft.Exec.Settled
    }
  }

  /** One unrolled peel round as DuckDB CTEs: restrict edges to live
    * endpoints, count induced degrees, keep the ≥ 3 nodes. */
  private def duckPeel(i: Int): String = {
    val prev = s"n${i - 1}"
    s"""deg$i AS (
         SELECT src, count(*) degree FROM eu
         WHERE src IN (SELECT doc_id FROM $prev)
           AND dst IN (SELECT doc_id FROM $prev)
         GROUP BY src),
       n$i AS (SELECT src doc_id FROM deg$i WHERE degree >= 3)"""
  }

  /** One unrolled BFS relaxation as a DuckDB CTE: keep the old distance,
    * offer every neighbor distance+1, take the min per node. */
  private def duckBfsIter(i: Int): String = {
    val prev = s"b${i - 1}"
    s"""b$i AS (
         SELECT doc_id, min(dist) dist FROM (
           SELECT doc_id, dist FROM $prev
           UNION ALL
           SELECT eu.src, $prev.dist + 1
           FROM eu JOIN $prev ON eu.dst = $prev.doc_id)
         GROUP BY doc_id)"""
  }

  /** One unrolled HITS round as DuckDB CTEs: the auth half-step from
    * the previous hubs, then the hub half-step from the fresh
    * authorities (HUGEINT sums cast back to BIGINT, the [[duckIter]]
    * convention). */
  private def duckHitsIter(i: Int): String = {
    val prevH = s"h${i - 1}"
    s"""a$i AS (
         SELECT d.doc_id, COALESCE(r.a, 0) a FROM d LEFT JOIN (
           SELECT ef.dst, CAST(sum($prevH.h) AS BIGINT) a
           FROM ef JOIN $prevH ON ef.src = $prevH.doc_id
           GROUP BY ef.dst) r ON r.dst = d.doc_id),
       h$i AS (
         SELECT d.doc_id, COALESCE(r.h, 0) h FROM d LEFT JOIN (
           SELECT ef.src, CAST(sum(a$i.a) AS BIGINT) h
           FROM ef JOIN a$i ON ef.dst = a$i.doc_id
           GROUP BY ef.src) r ON r.src = d.doc_id)"""
  }

  /** One unrolled weighted relaxation as a DuckDB CTE: keep the old
    * distance, offer every neighbor dist + w, take the min per node. */
  private def duckSsspIter(i: Int): String = {
    val prev = s"w${i - 1}"
    s"""w$i AS (
         SELECT doc_id, min(dist) dist FROM (
           SELECT doc_id, dist FROM $prev
           UNION ALL
           SELECT ew.src, $prev.dist + ew.w
           FROM ew JOIN $prev ON ew.dst = $prev.doc_id)
         GROUP BY doc_id)"""
  }

  /** One unrolled LPA round as DuckDB CTEs: neighbor-label counts then
    * the (count DESC, label ASC) argmax per node. */
  private def duckLpaIter(i: Int): String = {
    val prev = s"l${i - 1}"
    s"""c$i AS (
         SELECT eu.src, $prev.lbl, count(*) c
         FROM eu JOIN $prev ON eu.dst = $prev.doc_id
         GROUP BY eu.src, $prev.lbl),
       l$i AS (
         SELECT src doc_id, lbl FROM
           (SELECT src, lbl, row_number() OVER (PARTITION BY src
                     ORDER BY c DESC, lbl) rn FROM c$i)
         WHERE rn = 1)"""
  }

  /** q_graph_modularity — Newman modularity of the [[qLabelProp]]
    * communities, per community: Q_c = e_c/m − (d_c/2m)², the standard
    * "are these communities real?" score (Newman & Girvan 2004) that
    * turns the LPA assignment from a labeling into an evaluated
    * clustering. Emitted per community (Σ Q_c is the graph's
    * modularity) over the SAME derived link graph and the SAME 3
    * unrolled LPA rounds as the declared community query.
    *
    * Determinism: with m2 = |symmetrized edge list| = 2m,
    * e_in2 = within-community directed edges = 2e_c and d_c the
    * symmetrized degree sum, each contribution is the exact integer
    * rational (e_in2·m2 − d_c²)/m2², round6'd at emission only.
    * Exact while m2 < ~3·10⁹ (d_c² in BIGINT); DECIMAL(38,0) beyond.
    *
    * Plan: labels are node-sized and consumed three times (two edge
    * endpoints + the degree rollup) — sealed once; both label joins
    * key the EDGE relation on an endpoint, the degree join keys
    * node-sized state, and every aggregate map-side combines to
    * community-sized rows. No window, no fact-sized state beyond the
    * edge list the community query already builds. */
  private def qGraphModularity(s: SparkSession, dir: String): DataFrame =
    linkGraph(s, dir) { g =>
      import s.implicits._
      val l0 = g.nodes.select($"doc_id", $"doc_id".as("lbl"))
      val eu = g.undirected
      val lbl = graft.Exec.seal(
        (1 to 3).foldLeft(l0)((l, _) => lpaStep(eu, l)))
      val m2 = eu.agg(count(lit(1)).as("m2"))
      val degLbl = eu.groupBy($"src").agg(count(lit(1)).as("deg"))
        .join(lbl, col("src") === lbl("doc_id"))
        .groupBy($"lbl")
        .agg(sum($"deg").as("d_c"), count(lit(1)).as("n_nodes"))
      val within = eu
        .join(lbl.select($"doc_id".as("src"), $"lbl".as("ls")), Seq("src"))
        .join(lbl.select($"doc_id".as("dst"), $"lbl".as("ld")), Seq("dst"))
        .filter($"ls" === $"ld")
        .groupBy($"ls").agg(count(lit(1)).as("e_in2"))
        .select($"ls".as("lbl"), $"e_in2")
      degLbl.join(within, Seq("lbl"), "left")
        .na.fill(0L, Seq("e_in2"))
        .crossJoin(broadcast(m2))
        .select($"lbl".as("community"), $"n_nodes", $"e_in2", $"d_c",
          graft.Det.round6(
            ($"e_in2" * $"m2" - $"d_c" * $"d_c").cast("double")
              / ($"m2" * $"m2").cast("double")).as("q_contrib"))
        .orderBy($"community")
        .transform(graft.Exec.seal)
    }

  val queries: Map[String, Q] = Map(
    "q_hits" -> (qHits _),
    "q_sssp_weighted" -> (qSsspWeighted _),
    "q_pagerank" -> (qPagerank _),
    "q_graph_modularity" -> (qGraphModularity _),
    "q_label_prop" -> (qLabelProp _),
    "q_graph_bfs" -> (qGraphBfs _),
    "q_graph_jaccard" -> (qGraphJaccard _),
    "q_kcore" -> (qKcore _),
    "q_triangles" -> (qTriangles _))

  /** The [[LinkGraph]] as DuckDB CTEs, the prefix of every graph
    * oracle: `d` nodes, `s` stats and `e0` the raw generator, self-links
    * included. [[EfCte]] adds `ef`, the directed edges; [[EuCtes]] adds
    * `ef` and `eu`, the symmetrized distinct edges. */
  private val LinkCtes = """WITH d AS (SELECT doc_id FROM documents),
         s AS (SELECT count(*) n, min(doc_id) mn FROM d),
         e0 AS (
           SELECT doc_id src, mn + ((doc_id - mn) // 3) dst
           FROM d CROSS JOIN s
           UNION ALL
           SELECT doc_id, mn + ((doc_id - mn) * (doc_id - mn) + 1) % n
           FROM d CROSS JOIN s),"""
  private val EfCte = """
         ef AS (SELECT src, dst FROM e0 WHERE src <> dst),"""
  private val EuCtes = EfCte + """
         eu AS (SELECT DISTINCT src, dst FROM
                  (SELECT src, dst FROM ef
                   UNION ALL SELECT dst, src FROM ef)),"""

  val oracles: Map[String, String] = Map(
    "q_hits" ->
      s"""$LinkCtes$EfCte
         h0 AS (SELECT doc_id, CAST(1000000 AS BIGINT) h FROM d),
         ${(1 to 2).map(duckHitsIter).mkString(",\n")},
         sc AS (SELECT h2.doc_id, h2.h, a2.a
                FROM h2 JOIN a2 USING (doc_id)),
         mx AS (SELECT max(h) hmax, max(a) amax FROM sc)
         SELECT doc_id, h AS hub, a AS auth,
                ${graft.Det.ROUND6(
        "CAST(h AS DOUBLE) / CAST(hmax AS DOUBLE)")} AS hub_score,
                ${graft.Det.ROUND6(
        "CAST(a AS DOUBLE) / CAST(amax AS DOUBLE)")} AS auth_score
         FROM sc CROSS JOIN mx ORDER BY doc_id""",
    "q_sssp_weighted" ->
      s"""$LinkCtes$EuCtes
         ew AS (SELECT src, dst, 1 + (src + dst) % 7 w FROM eu),
         w0 AS (SELECT doc_id, CAST(0 AS BIGINT) dist FROM d
                WHERE doc_id % 31 = 5),
         ${(1 to 3).map(duckSsspIter).mkString(",\n")}
         SELECT doc_id, dist FROM w3 ORDER BY doc_id""",
    "q_graph_jaccard" ->
      s"""$LinkCtes$EuCtes
         euc AS (${Baskets.capSql("eu", "dst", "src", JaccardHubCap)}),
         inter AS (
           SELECT l.src a, r.src b, count(*) common
           FROM euc l JOIN euc r ON l.dst = r.dst
           WHERE l.src < r.src
           GROUP BY l.src, r.src HAVING count(*) >= 2),
         deg AS (SELECT src, count(*) deg FROM euc GROUP BY src)
         SELECT a AS doc_a, b AS doc_b, common,
                da.deg AS deg_a, db.deg AS deg_b,
                ${graft.Det.ROUND6("CAST(common AS DOUBLE)" +
        " / CAST(da.deg + db.deg - common AS DOUBLE)")} AS jaccard
         FROM inter
         JOIN deg da ON a = da.src
         JOIN deg db ON b = db.src
         ORDER BY doc_a, doc_b""",
    "q_kcore" ->
      s"""$LinkCtes$EuCtes
         n0 AS (SELECT doc_id FROM d),
         ${(1 to 3).map(duckPeel).mkString(",\n")}
         SELECT src AS doc_id, degree FROM deg3 WHERE degree >= 3
         ORDER BY doc_id""",
    "q_graph_bfs" ->
      s"""$LinkCtes$EuCtes
         b0 AS (SELECT doc_id, CAST(0 AS BIGINT) dist FROM d
                WHERE doc_id % 31 = 5),
         ${(1 to 3).map(duckBfsIter).mkString(",\n")}
         SELECT doc_id, dist FROM b3 ORDER BY doc_id""",
    "q_label_prop" ->
      s"""$LinkCtes$EuCtes
         l0 AS (SELECT doc_id, doc_id lbl FROM d),
         ${(1 to 3).map(duckLpaIter).mkString(",\n")}
         SELECT doc_id, lbl AS community FROM l3 ORDER BY doc_id""",
    "q_graph_modularity" ->
      s"""$LinkCtes$EuCtes
         l0 AS (SELECT doc_id, doc_id lbl FROM d),
         ${(1 to 3).map(duckLpaIter).mkString(",\n")},
         m AS (SELECT count(*) m2 FROM eu),
         dl AS (
           SELECT l.lbl, CAST(sum(deg) AS BIGINT) d_c,
                  count(*) n_nodes
           FROM (SELECT src, count(*) deg FROM eu GROUP BY src) g
           JOIN l3 l ON g.src = l.doc_id GROUP BY l.lbl),
         wi AS (
           SELECT a.lbl, count(*) e_in2
           FROM eu JOIN l3 a ON eu.src = a.doc_id
                   JOIN l3 b ON eu.dst = b.doc_id
           WHERE a.lbl = b.lbl GROUP BY a.lbl)
         SELECT dl.lbl AS community, dl.n_nodes,
                CAST(COALESCE(wi.e_in2, 0) AS BIGINT) AS e_in2, dl.d_c,
                ${graft.Det.ROUND6(
        "CAST(COALESCE(wi.e_in2, 0) * m2 - d_c * d_c AS DOUBLE) / (CAST(m2 AS DOUBLE) * m2)")}
                  AS q_contrib
         FROM dl LEFT JOIN wi ON dl.lbl = wi.lbl CROSS JOIN m
         ORDER BY community""",
    "q_triangles" ->
      s"""$LinkCtes
         u AS (SELECT DISTINCT least(src, dst) a, greatest(src, dst) b
               FROM e0 WHERE src <> dst)
         SELECT e1.a AS a, e1.b AS b, e2.b AS c
         FROM u e1
         JOIN u e2 ON e2.a = e1.b
         JOIN u e3 ON e3.a = e1.a AND e3.b = e2.b
         ORDER BY 1, 2, 3""",
    "q_pagerank" ->
      s"""$LinkCtes
         e1 AS (SELECT src, dst FROM e0 WHERE src <> dst),
         od AS (SELECT src, count(*) outdeg FROM e1 GROUP BY src),
         e AS (SELECT e1.src, e1.dst, od.outdeg FROM e1 JOIN od USING (src)),
         r0 AS (SELECT doc_id, ($Scale // n) pr FROM d CROSS JOIN s),
         ${(1 to Iters).map(duckIter).mkString(",\n")}
         SELECT doc_id, pr, CAST(pr AS DOUBLE) / ${Scale.toDouble} AS rank
         FROM r$Iters ORDER BY doc_id""")
}
