package graft

import org.scalatest.funsuite.AnyFunSuite

/** PageRank laws (operators.Graphs): mass bounds, the damping floor,
  * and agreement between the integer micro-unit ranks and their double
  * projection. */
class GraphsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark
  private val dir = TestSession.sfDir
  private val Scale = 1000000000000L

  /** The derived link graph rebuilt driver-side — the one plain-Scala
    * replay of the generator every Graphs query reads: node ids, the
    * directed edges (src ≠ dst; a pair both maps produce appears twice)
    * and the symmetrized distinct edges. */
  private lazy val (ids, ef, eu) = {
    import spark.implicits._
    val ids = graft.sources.Tables.load(spark, dir, "documents")
      .select($"doc_id").as[Long].collect()
    val (n, mn) = (ids.length.toLong, ids.min)
    val ef = ids.flatMap { i =>
      val j = i - mn
      Seq(i -> (mn + j / 3), i -> (mn + (j * j + 1) % n))
    }.filter { case (s, d) => s != d }
    (ids, ef, (ef ++ ef.map(_.swap)).distinct)
  }

  test("linkGraph: nodes, directed and symmetrized edges equal the plain-Scala replay") {
    import spark.implicits._
    val (nodes, directed, sym) = graft.operators.Graphs.linkGraph(spark, dir) { g =>
      (g.nodes.as[Long].collect(), g.edges.as[(Long, Long)].collect(),
        g.undirected.as[(Long, Long)].collect())
    }
    assert(nodes.sorted.sameElements(ids.sorted), "node set")
    // compared as multisets: a pair both maps produce appears twice
    assert(directed.sorted.sameElements(ef.sorted), "directed edges")
    assert(sym.sorted.sameElements(eu.sorted), "symmetrized distinct edges")
    assert(sym.forall { case (a, b) => a != b } && sym.length == sym.distinct.length)
  }

  test("pagerank covers every node, respects the damping floor, conserves mass") {
    import spark.implicits._
    val rows = SparkEntry.queries("q_pagerank")(spark, dir)
      .as[(Long, Long, Double)].collect()
    val n = graft.sources.Tables.load(spark, dir, "documents").count()
    assert(rows.length == n)
    val base = (15 * Scale / 100) / n
    rows.foreach { case (_, pr, rank) =>
      // every node gets at least the teleport mass (damping floor)
      assert(pr >= base)
      assert(math.abs(rank - pr.toDouble / Scale) < 1e-15)
    }
    // total mass ≤ 1: integer floors and dangling drops only LOSE mass
    val total = rows.map(_._2).sum
    assert(total <= Scale)
    // ...but not degenerately so: at least the teleport mass survives
    assert(total >= (15 * Scale / 100) / n * n)
    // the hub-contraction link map concentrates mass: ranks must not be
    // uniform (an affine map would be a permutation and degenerate here)
    assert(rows.map(_._2).distinct.length > 1)
  }

  test("triangles: ordered triples whose three edges all exist; count matches brute force") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val tris = SparkEntry.queries("q_triangles")(spark, dir)
      .as[(Long, Long, Long)].collect()
    assert(tris.nonEmpty)
    val edges = ef.map { case (i, d) => (math.min(i, d), math.max(i, d)) }.toSet
    tris.foreach { case (a, b, c) =>
      assert(a < b && b < c, "triples must be canonical")
      assert(edges((a, b)) && edges((b, c)) && edges((a, c)),
        s"($a,$b,$c) is not a triangle")
    }
    val want = for {
      (a, b) <- edges; (b2, c) <- edges if b2 == b; if edges((a, c))
    } yield (a, b, c)
    assert(tris.toSet == want, "must enumerate every triangle exactly once")
  }

  test("bfs: result is exactly the 3-round relaxation from the seed set") {
    import spark.implicits._
    val got = SparkEntry.queries("q_graph_bfs")(spark, dir)
      .as[(Long, Long)].collect().toMap
    val adj = eu.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    var dist = ids.filter(_ % 31 == 5).map(_ -> 0L).toMap
    assert(dist.nonEmpty, "seed set must be non-empty at this SF")
    for (_ <- 1 to 3) {
      val relaxed = dist.toSeq.flatMap { case (v, dv) =>
        adj.getOrElse(v, Set.empty[Long]).map(_ -> (dv + 1)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    assert(got == dist, "BFS distances must equal the brute-force relaxation")
    // structural sanity: seeds at 0, and any edge's distances differ by <= 1
    got.foreach { case (v, d) => if (v % 31 == 5) assert(d == 0L) }
    adj.foreach { case (u, vs) => vs.foreach { v =>
      (got.get(u), got.get(v)) match {
        case (Some(du), Some(dv)) =>
          // triangle inequality holds where BOTH ends settled (frontier
          // nodes reached in the last round may not have relaxed back)
          if (du < 3 && dv < 3) assert(math.abs(du - dv) <= 1)
        case (Some(du), None) =>
          assert(du >= 3, s"settled node $u borders unreached $v")
        case _ => ()
      }
    }}
  }

  test("graph jaccard: common-neighbor counts and jaccard match brute force") {
    import spark.implicits._
    val got = SparkEntry.queries("q_graph_jaccard")(spark, dir)
      .as[(Long, Long, Long, Long, Long, Double)].collect()
    assert(got.nonEmpty)
    val adj = eu.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSet }
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val want = (for {
      a <- adj.keys; b <- adj.keys if a < b
      inter = (adj(a) intersect adj(b)).size if inter >= 2
    } yield (a, b) -> (inter, adj(a).size, adj(b).size)).toMap
    assert(got.map(g => (g._1, g._2)).toSet == want.keySet, "pair set")
    got.foreach { case (a, b, common, da, db, jac) =>
      val (i, wa, wb) = want((a, b))
      assert(common == i && da == wa && db == wb, s"($a,$b) counts")
      assert(jac == r6(i.toDouble / (wa + wb - i).toDouble), s"($a,$b) jaccard")
    }
  }

  test("kcore: three k=3 peels match brute force, and peeling is monotone") {
    import spark.implicits._
    val got = SparkEntry.queries("q_kcore")(spark, dir)
      .as[(Long, Long)].collect().toMap
    var nodes = ids.toSet
    var lastDeg = Map.empty[Long, Int]
    for (_ <- 1 to 3) {
      val deg = eu.filter(e => nodes(e._1) && nodes(e._2))
        .groupBy(_._1).map { case (k, es) => k -> es.length }
      lastDeg = deg.filter(_._2 >= 3)
      nodes = lastDeg.keySet
    }
    assert(got == lastDeg.map { case (k, v) => k -> v.toLong },
      "3-round peel must match brute force")
    assert(got.nonEmpty && got.size < ids.length,
      "the peel must remove something but not everything")
    got.values.foreach(d => assert(d >= 3))
  }

  test("degree orientation: identical triangles on a planted-hub star; hub wedges eliminated") {
    import spark.implicits._
    // hub 0 (LOW id — the worst case for id-orientation) linked to 40
    // leaves, plus two leaf triangles
    val leaves = (1L to 40L)
    val und = (leaves.map(l => (0L, l)) ++
      Seq((1L, 2L), (2L, 3L), (1L, 3L), (10L, 11L), (11L, 12L), (10L, 12L)))
      .distinct
    val u = und.toDF("a", "b")
    val o = graft.operators.Graphs.orientByDegree(u)
    val got = graft.operators.Graphs.closeTriangles(o)
      .as[(Long, Long, Long)].collect().toSet
    // brute-force enumeration over the undirected set
    val es = und.toSet
    def edge(x: Long, y: Long) = es((math.min(x, y), math.max(x, y)))
    val ids = und.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val want = (for {
      a <- ids; b <- ids if a < b && edge(a, b)
      c <- ids if b < c && edge(b, c) && edge(a, c)
    } yield (a, b, c)).toSet
    assert(got == want, "orientation must not change the triangle set")
    // id-orientation would mint C(40,2)=780 wedges at the low-id hub;
    // degree-orientation gives the hub out-degree 0 (all its edges point
    // IN: every leaf has smaller degree), so wedge volume collapses to
    // the leaf triangles' own
    val wedgeCount = graft.operators.Graphs.wedges(o).count()
    assert(wedgeCount < 100,
      s"hub wedges not eliminated: $wedgeCount (id-orientation mints 780)")
    // and the oriented hub really has no out-edges
    val hubOut = o.filter($"s" === 0L).count()
    assert(hubOut == 0L, s"hub should orient inbound-only, has $hubOut out")
  }

  test("degree orientation: triangle set equals brute force on random graphs") {
    import spark.implicits._
    // fixtures can miss degree-TIE configurations; random G(n, p) graphs
    // exercise the (deg, id) total order broadly
    val rnd = new scala.util.Random(11)
    (1 to 5).foreach { _ =>
      val n = 6 + rnd.nextInt(12)
      val und = (for {
        a <- 0 until n; b <- a + 1 until n if rnd.nextDouble() < 0.35
      } yield (a.toLong, b.toLong)).toVector
      if (und.nonEmpty) {
        val got = graft.operators.Graphs.closeTriangles(
          graft.operators.Graphs.orientByDegree(und.toDF("a", "b")))
          .as[(Long, Long, Long)].collect().toSet
        val es = und.toSet
        val want = (for {
          (a, b) <- es; c <- (b + 1) to (n - 1).toLong
          if es((a, c)) && es((b, c))
        } yield (a, b, c)).toSet
        assert(got == want, s"divergence on n=$n graph with ${und.size} edges")
      }
    }
  }

  test("bfsConverged reaches the whole path where the fixed 3 rounds cannot") {
    import spark.implicits._
    // path 0-1-2-…-7: eccentricity 7 from seed 0, so 3 rounds reach only
    // distance ≤ 3 — fixed-round ≠ fixpoint by construction
    val dirEdges = (0L to 6L).map(i => (i, i + 1))
    val eu = (dirEdges ++ dirEdges.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(0L).toDF("doc_id")
    val res = graft.operators.Graphs.bfsConverged(eu, seeds)
    assert(res.converged, "witness must fire before the backstop")
    val conv = res.result.as[(Long, Long)].collect().toMap
    assert(conv == (0L to 7L).map(i => i -> i).toMap,
      s"fixpoint must reach every node at its true distance: $conv")
    val threeRounds = (1 to 3).foldLeft(
      seeds.select($"doc_id", org.apache.spark.sql.functions.lit(0L).as("dist")))(
      (r, _) => graft.operators.Graphs.ssspStep(
        eu.withColumn("w", org.apache.spark.sql.functions.lit(1L)), r))
      .as[(Long, Long)].collect().toMap
    assert(threeRounds == (0L to 3L).map(i => i -> i).toMap,
      "the fixed-round form must stop at 3 hops on this path")
  }

  test("kcoreConverged peels a chain the fixed 3 rounds cannot") {
    import spark.implicits._
    // a 5-node tail (0-1-2-3-4) hanging off a triangle (5,6,7): the
    // 2-core is exactly the triangle, but peeling the tail takes 5
    // rounds — one endpoint per round
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (7L, 5L))
    val eu = (und ++ und.map(_.swap)).toDF("src", "dst")
    val res = graft.operators.Graphs.kcoreConverged(eu, 2)
    assert(res.converged && res.rounds > 3,
      s"the 5-peel chain needs >3 witnessed rounds: $res")
    val conv = res.result.as[(Long, Long)].collect().toMap
    assert(conv == Map(5L -> 2L, 6L -> 2L, 7L -> 2L),
      s"2-core fixpoint must be the bare triangle: $conv")
    val nodes0 = (0L to 7L).toDF("doc_id")
    val threeRounds = (1 to 3).foldLeft(nodes0) { (nodes, _) =>
      graft.operators.Graphs.kcoreStep(eu, nodes, 2)
        .select($"src".as("doc_id"))
    }.as[Long].collect().toSet
    assert(threeRounds == Set(3L, 4L, 5L, 6L, 7L),
      s"the fixed-round peel must still hold tail nodes: $threeRounds")
  }

  test("labelPropConverged: fixpoint on a triangle, 2-cycle detected on an isolated edge") {
    import spark.implicits._
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val euTri = (tri ++ tri.map(_.swap)).toDF("src", "dst")
    val fix = graft.operators.Graphs.labelPropConverged(euTri, maxRounds = 50)
    assert(fix.converged && !fix.cycled && fix.rounds < 50,
      "triangle must reach a witnessed fixpoint")
    val mt = fix.result.as[(Long, Long)].collect().toMap
    assert(mt.values.toSet.size == 1, s"one community expected: $mt")
    // synchronous LPA on an isolated edge swaps labels forever — the
    // digest-vs-two-rounds-ago witness must catch it, not maxRounds
    val und = tri ++ Seq((8L, 9L))
    val eu = (und ++ und.map(_.swap)).toDF("src", "dst")
    val res = graft.operators.Graphs.labelPropConverged(eu, maxRounds = 50)
    assert(res.cycled && !res.converged,
      "the isolated edge must be reported as a 2-cycle, not a fixpoint")
    assert(res.rounds < 10, s"cycle detection should stop fast: ${res.rounds}")
    // maxRounds backstop: neither fixpoint nor cycle is claimed — the
    // third outcome is distinguishable without inspecting `rounds`
    val cut = graft.operators.Graphs.labelPropConverged(eu, maxRounds = 1)
    assert(!cut.converged && !cut.cycled && cut.rounds == 1,
      s"a round-limit exit must leave both flags false: $cut")
  }

  test("graph_modularity: reconciles with q_label_prop and a plain-Scala modularity replay") {
    import spark.implicits._
    val dir = TestSession.sfDir
    val labels = SparkEntry.queries("q_label_prop")(spark, dir)
      .as[(Long, Long)].collect().toMap
    val n = ids.length
    val m2 = eu.length.toLong
    val deg = eu.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    def r6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    val expect = labels.groupBy(_._2).toSeq.sortBy(_._1).map {
      case (c, members) =>
        val ms = members.keySet
        val dC = ms.toSeq.map(deg.getOrElse(_, 0L)).sum
        val eIn2 = eu.count { case (a, b) =>
          ms.contains(a) && ms.contains(b) }.toLong
        (c, ms.size.toLong, eIn2, dC,
          r6((eIn2 * m2 - dC * dC).toDouble / (m2.toDouble * m2)))
    }
    val got = SparkEntry.queries("q_graph_modularity")(spark, dir)
      .as[(Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == expect, s"first diff: ${
      got.zip(expect).find(p => p._1 != p._2)}")
    val q = got.map(_._5).sum
    assert(q > -0.5 && q <= 1.0, s"total modularity $q out of range")
    assert(got.map(_._3).sum <= m2, "within-edges cannot exceed the edge list")
    assert(got.map(_._2).sum == n, "communities partition the nodes")
  }

  test("pagerankConverged: the state's size estimate stays rows × row width") {
    // each round's checkpoint used to keep its origin plan's estimate,
    // and Σ|Δpr| joins the previous state twice, so the estimate was
    // squared every round (its digit count doubling) until planning
    // stalled in the arithmetic
    val res = graft.operators.Graphs.linkGraph(spark, dir) { g =>
      graft.operators.Graphs.pagerankConverged(g.edges, g.nodes,
        tolUnits = 0L, maxRounds = 12)
    }
    val rows = res.result.count()
    val width = 8 + res.result.schema.fields.map(_.dataType.defaultSize).sum
    val est = res.result.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(rows > 0 && est <= BigInt(4) * rows * width,
      s"state estimate $est B after ${res.rounds} rounds of $rows rows × $width B")
  }

  test("converged-loop APIs fail fast on a degenerate round budget") {
    import spark.implicits._
    val eu = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("doc_id")
    val nodes = Seq(1L, 2L).toDF("doc_id")
    intercept[IllegalArgumentException](
      graft.operators.Graphs.bfsConverged(eu, seeds, maxRounds = 0))
    intercept[IllegalArgumentException](
      graft.operators.Graphs.labelPropConverged(eu, maxRounds = 0))
    intercept[IllegalArgumentException](
      graft.operators.Graphs.pagerankConverged(eu, nodes, maxRounds = 0))
    intercept[IllegalArgumentException](
      graft.operators.Graphs.kcoreConverged(eu, 2, maxRounds = 0))
  }

  test("kcoreConverged on the derived link graph: fixpoint nested in the 3-round peel") {
    import spark.implicits._
    // integration-scale check: build the SAME symmetrized link graph the
    // declared queries derive, run the fixpoint API, and pin the lattice
    // law fixed-round ⊇ fixpoint (peeling is monotone, so more rounds
    // only shrink) plus the core property (every survivor has induced
    // degree ≥ 3 within the survivor set)
    val res = graft.operators.Graphs.kcoreConverged(eu.toSeq.toDF("src", "dst"), 3)
    assert(res.converged, "corpus graph must reach its 3-core fixpoint")
    val core = res.result.as[(Long, Long)].collect().toMap
    val threeRound = SparkEntry.queries("q_kcore")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(core.keySet.subsetOf(threeRound.keySet),
      "fixpoint core must nest inside the fixed-round peel")
    // induced-degree law on the fixpoint
    val es = eu.toSet
    core.keys.foreach { v =>
      val indeg = core.keys.count(u => u != v && es((v, u)))
      assert(indeg >= 3, s"node $v has induced degree $indeg < 3")
    }
  }

  test("pagerankConverged reaches the exact integer fixpoint on a directed path") {
    import spark.implicits._
    // directed path 1→2→…→8: the iteration map is nilpotent (depth 7),
    // so integer PageRank reaches an EXACT fixpoint in ≤ 8 rounds —
    // while 3 rounds provably haven't settled the deep nodes
    val n = 8L
    val edges = (1L to 7L).map(i => (i, i + 1)).toDF("src", "dst")
    val nodes = (1L to n).toDF("doc_id")
    val resPr = graft.operators.Graphs
      .pagerankConverged(edges, nodes, tolUnits = 0L, maxRounds = 50)
    assert(resPr.converged, "the DAG must reach an exact integer fixpoint")
    val got = resPr.result.as[(Long, Long)].collect().toMap
    // replay the same integer recurrence to ITS fixpoint in plain Scala
    val base = (15L * Scale / 100L) / n
    def iterate(prev: Map[Long, Long]): Map[Long, Long] =
      (1L to n).map { k =>
        k -> (if (k == 1L) base
              else base + (85L * prev(k - 1L)) / 100L)
      }.toMap
    var fix = (1L to n).map(_ -> Scale / n).toMap
    var next = iterate(fix)
    var rounds3: Map[Long, Long] = null
    var r = 0
    while (next != fix) {
      fix = next; next = iterate(fix); r += 1
      if (r == 3) rounds3 = fix
    }
    assert(got == fix, s"converged ranks must equal the exact fixpoint")
    assert(rounds3 != null && rounds3(n) != fix(n),
      "3 rounds must NOT have settled the deepest node (else the fixture " +
        "proves nothing)")
  }

  test("hits: exact match with a 2-round driver-side replica; max scores are 1") {
    import spark.implicits._
    val got = SparkEntry.queries("q_hits")(spark, dir)
      .as[(Long, Long, Long, Double, Double)].collect()
    assert(got.length == ids.length)
    var h = ids.map(_ -> 1000000L).toMap
    var a = Map.empty[Long, Long].withDefaultValue(0L)
    (1 to 2).foreach { _ =>
      val aRaw = ef.groupBy(_._2).map { case (v, es) =>
        v -> es.map(e => h(e._1)).sum }
      a = ids.map(v => v -> aRaw.getOrElse(v, 0L)).toMap
      val hRaw = ef.groupBy(_._1).map { case (u, es) =>
        u -> es.map(e => a(e._2)).sum }
      h = ids.map(v => v -> hRaw.getOrElse(v, 0L)).toMap
    }
    val (hmax, amax) = (h.values.max, a.values.max)
    got.foreach { case (id, hub, auth, hs, as_) =>
      assert(hub == h(id) && auth == a(id), s"node $id")
      assert(hs == math.floor(hub.toDouble / hmax * 1e6 + 0.5) / 1e6)
      assert(as_ == math.floor(auth.toDouble / amax * 1e6 + 0.5) / 1e6)
    }
    assert(got.map(_._4).max == 1.0 && got.map(_._5).max == 1.0)
    // hubs and authorities separate: the two rankings are not identical
    val byHub = got.sortBy(-_._2).map(_._1).take(10).toSeq
    val byAuth = got.sortBy(-_._3).map(_._1).take(10).toSeq
    assert(byHub != byAuth, "hub and authority top-10 must differ on this graph")
  }

  test("sssp: exact match with a 3-round Bellman-Ford replica; weighted ≠ hop metric") {
    import spark.implicits._
    val got = SparkEntry.queries("q_sssp_weighted")(spark, dir)
      .as[(Long, Long)].collect().toMap
    val ew = eu.map { case (s, d) => (s, d, 1L + (s + d) % 7L) }
    var dist = ids.filter(_ % 31 == 5).map(_ -> 0L).toMap
    (1 to 3).foreach { _ =>
      val relaxed = ew.flatMap { case (s, d, w) =>
        dist.get(d).map(x => s -> (x + w)) }
      dist = (dist.toSeq ++ relaxed).groupBy(_._1)
        .map { case (k, vs) => k -> vs.map(_._2).min }
    }
    assert(got == dist, "bounded-hop SSSP must equal the exact replica")
    // the weight metric is load-bearing: some reached node's cost must
    // differ from 7 × its unweighted hop count bound and from the hop
    // count itself (i.e. weights neither collapse to 1 nor saturate)
    val bfs = SparkEntry.queries("q_graph_bfs")(spark, dir)
      .as[(Long, Long)].collect().toMap
    assert(got.keySet == bfs.keySet,
      "same seeds + same 3 relaxation rounds reach the same node set")
    assert(got.exists { case (k, v) => v != bfs(k) },
      "weighted distances must differ from hop counts somewhere")
  }

  test("corr matches Spark's native streaming kernel within double noise") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val got = SparkEntry.queries("q_corr")(spark, dir)
      .select($"l_returnflag", $"corr_qty_price")
      .as[(String, Double)].collect().toMap
    val native = graft.sources.Tables.load(spark, dir, "lineitem")
      .groupBy($"l_returnflag")
      .agg(corr($"l_quantity", $"l_extendedprice").as("c"))
      .as[(String, Double)].collect().toMap
    assert(got.keySet == native.keySet)
    // 1e-4 quantization of y + exact integer sums vs streaming doubles:
    // agreement to ~1e-6 proves both the formula and the quantization
    got.foreach { case (k, v) =>
      assert(math.abs(v - native(k)) < 1e-6, s"flag $k: $v vs ${native(k)}")
    }
  }
}
