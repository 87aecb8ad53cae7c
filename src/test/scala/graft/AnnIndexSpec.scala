package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** The train-once/search-many contract behind q_ann_search_indexed:
  * the IVF-PQ index artifact is written once per corpus and reused, the
  * search plan contains NO training subtree (the corpus's raw
  * embeddings are only read for the |Q|-row query slice), and searching
  * the stored index returns bit-identical rows to the retrain-per-run
  * q_ann_ivfpq composition. */
class AnnIndexSpec extends AnyFunSuite {
  import scala.jdk.CollectionConverters._
  private lazy val spark = TestSession.spark
  private val dir = "/root/testdata/sf0.001"

  /** Parquet roots scanned by the driver actions `body` runs (the
    * codebook collects): each action's executed plan, delivered on the
    * asynchronous listener bus, so wait until `want` shows up or 20 s
    * pass. */
  private def actionScans(want: Set[String])(body: => Unit): Set[String] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case f: FileSourceScanExec =>
          f.relation.location.rootPaths.foreach(r => seen.add(r.getName))
        case _ =>
      }
      p.children.foreach(walk)
    }
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        walk(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try {
      body
      var waited = 0
      while (!want.forall(seen.contains) && waited < 100) {
        Thread.sleep(200); waited += 1
      }
    } finally spark.listenerManager.unregister(l)
    seen.asScala.toSet
  }

  private def scanCounts(name: String): Map[String, Int] = {
    val df = Exec.withLazyPlans(SparkEntry.queries(name)(spark, dir))
    val buf = scala.collection.mutable.Buffer[String]()
    def walk(n: org.apache.spark.sql.execution.SparkPlan): Unit = {
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.inputPlan)
        case f: FileSourceScanExec =>
          buf ++= f.relation.location.rootPaths.map(_.getName)
        case _ =>
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(df.queryExecution.executedPlan)
    buf.groupBy(identity).view.mapValues(_.size).toMap
  }

  test("index artifact is written once and reused (pointer-published generation)") {
    SparkEntry.queries("q_ann_search_indexed")(spark, dir).count()
    val root = operators.Similarity.annIndexPath(spark, dir)
    val live = new java.io.File(Artifacts.ready(spark, root).getOrElse(
      fail(s"no published generation under $root")))
    assert(live.getName.startsWith("gen-"),
      "parts must live under a pointer-referenced generation dir")
    val parts = Seq("coarse", "cells", "pq", "codes")
    parts.foreach { p =>
      assert(new java.io.File(live, s"$p/_SUCCESS").exists(),
        s"index part $p missing")
    }
    val mtimes = parts.map(p => new java.io.File(live, s"$p/_SUCCESS")
      .lastModified())
    SparkEntry.queries("q_ann_search_indexed")(spark, dir).count()
    val again = parts.map(p => new java.io.File(live, s"$p/_SUCCESS")
      .lastModified())
    assert(mtimes == again, "second run must NOT rebuild the index")
  }

  test("content-keyed root: a fresh session reuses the trained index") {
    // r9 verdict #2: the old key (layout root = source mtime + JVM pid)
    // made every new session/probe run silently retrain. The key is now
    // a pure function of corpus content, so a SECOND SparkSession over
    // the same corpus must resolve the SAME root, find it ready, and
    // serve search without touching the training pipeline.
    SparkEntry.queries("q_ann_search_indexed")(spark, dir).count()
    val root = operators.Similarity.annIndexPath(spark, dir)
    assert(!root.contains("graft_layout_"),
      "index root must not live under the pid-keyed layout scratch root")
    val live = Artifacts.ready(spark, root).get
    val mt = new java.io.File(live, "codes/_SUCCESS").lastModified()
    val s2 = spark.newSession()
    assert(operators.Similarity.annIndexPath(s2, dir) == root,
      "key must be session-independent")
    SparkEntry.queries("q_ann_search_indexed")(s2, dir).count()
    assert(Artifacts.ready(s2, root).contains(live),
      "fresh session must resolve the SAME published generation")
    assert(new java.io.File(live, "codes/_SUCCESS").lastModified() == mt,
      "fresh session must reuse, not retrain")
    // and no unpublished (race-loser / crash-orphan) generation of THIS
    // process may be left behind next to the live one
    val strays = Option(new java.io.File(root).listFiles())
      .getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("gen-") &&
        s"$root/${f.getName}" != live)
    assert(strays.isEmpty, s"orphan generations left: ${strays.mkString(",")}")
  }

  test("artifact guard answers through the Hadoop FileSystem API") {
    // the probe must resolve the path's FileSystem from the session's
    // Hadoop conf (cluster-real: hdfs:/s3a: roots), not java.io.File
    SparkEntry.queries("q_ann_search_indexed")(spark, dir).count()
    val root = operators.Similarity.annIndexPath(spark, dir)
    val live = Artifacts.ready(spark, root).get
    assert(operators.Layouts.artifactReady(spark, s"$live/codes"))
    assert(operators.Layouts.artifactReady(spark, s"file:$live/codes"),
      "guard must accept an explicit file: URI (FileSystem-resolved)")
    assert(!operators.Layouts.artifactReady(spark, s"$live/nonexistent"))
    assert(Artifacts.ready(spark, s"file:$root").isDefined,
      "pointer resolution must accept an explicit file: URI too")
  }

  test("search plan reads the index, never a training subtree") {
    // build the artifact first so the lazy plan is the steady state
    SparkEntry.queries("q_ann_search_indexed")(spark, dir).count()
    // the KB-sized codebooks are collected to the driver while the
    // search frame is built, so they are read by those actions; the
    // inverted lists and codes are read by the search plan itself
    var scans = Map.empty[String, Int]
    val collected = actionScans(Set("coarse", "pq")) {
      scans = scanCounts("q_ann_search_indexed")
    }
    // the raw corpus appears only as the query-slice reads (q + its
    // PQ-subspace view share the scan twice in the lazy tree); the
    // retraining composition plans 16 of them (q_ann_ivfpq's pin)
    assert(scans.getOrElse("embeddings.parquet", 0) <= 3,
      s"search must not retrain over the corpus: $scans")
    assert(!collected.contains("embeddings.parquet"),
      s"building the search must not retrain over the corpus: $collected")
    Seq("cells", "codes").foreach { p =>
      assert(scans.getOrElse(p, 0) >= 1, s"index part $p not read: $scans")
    }
    Seq("coarse", "pq").foreach { p =>
      assert(collected.contains(p), s"index codebook $p not read: $collected")
    }
  }

  test("index key is a full 128-bit digest; distinct corpora resolve distinct roots") {
    // r10 verdict #2: a 32-bit hashCode key collides at birthday scale
    // in a multi-corpus deployment and a collision silently serves the
    // WRONG corpus's trained index. The key must be the full md5 hex of
    // the content string (32 hex chars), and the three fixture corpora
    // — different dirs, counts, and file fingerprints — must all map to
    // different roots.
    val roots = Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
      "/root/testdata/sf0.1").map(operators.Similarity.annIndexPath(spark, _))
    roots.foreach { r =>
      val key = r.stripPrefix("/tmp/graft_ann_index_")
      assert(key.length == 32 && key.forall("0123456789abcdef".contains(_)),
        s"key must be a full md5 hex digest, got '$key'")
    }
    assert(roots.distinct.size == roots.size,
      s"distinct corpora must resolve distinct index roots: $roots")
    // the same corpus under another training version resolves another
    // root: an index trained by other training code is rebuilt, not read
    val sim = operators.Similarity
    val other = sim.annIndexPath(spark, "/root/testdata/sf0.001",
      version = sim.AnnTrainVersion + 1)
    assert(!roots.contains(other),
      s"a training-version bump must resolve a fresh index root: $other")
  }

  test("annIndexAppend: frozen-codebook delta assignment ≡ full assignment; base generation survives") {
    import spark.implicits._
    import operators.Similarity
    val vecs = Similarity.ivfVectors(spark, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val baseVecs = vecs.filter($"vec_id" % 5 =!= 0)
      val deltaVecs = vecs.filter($"vec_id" % 5 === 0)
      val root = java.nio.file.Files
        .createTempDirectory("graft_ann_append").toString + "/idx"
      val g1 = Similarity.annIndexBuild(spark, root, baseVecs)
      val g2 = Similarity.annIndexAppend(spark, root, deltaVecs)
      assert(g1 != g2 && Artifacts.ready(spark, root).contains(g2),
        "append must publish a NEW generation and repoint")
      // codebooks are carried over verbatim (no retraining)
      def rows(p: String) = spark.read.parquet(p).collect().toSeq
        .map(_.toSeq).sortBy(_.toString)
      assert(rows(s"$g2/coarse") == rows(s"$g1/coarse"))
      assert(rows(s"$g2/pq") == rows(s"$g1/pq"))
      // the delta generation stores ONLY the delta's assignments (O(k)
      // write, the log-structured shape) and links its parent
      assert(spark.read.parquet(s"$g2/cells").count() == deltaVecs.count(),
        "a delta generation must not rewrite the base assignments")
      assert(Similarity.annIndexChain(spark, root, g2) == Seq(g2, g1),
        "the parent chain must walk live -> base")
      // chain-resolved (base + delta) assignments ≡ assigning ALL
      // vectors against the SAME frozen codebooks — the append loses
      // nothing vs a full re-assignment pass
      val (coarse, chainCells, pqCent, chainCodes) =
        Similarity.annIndexParts(spark, root)
      val wantCells = Similarity.assignCells(vecs, Similarity.Codebook.of(coarse))
        .as[(Long, Long)].collect().toSeq.sorted
      val gotCells = chainCells
        .as[(Long, Long)].collect().toSeq.sorted
      assert(gotCells == wantCells)
      val wantCodes = Similarity
        .pqAssign(Similarity.pqSubspaces(vecs), Similarity.Codebook.of(pqCent))
        .select($"vec_id", $"m", $"cell".as("code"))
        .as[(Long, Int, Long)].collect().toSeq.sorted
      val gotCodes = chainCodes
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(gotCodes == wantCodes)
      // the superseded generation stays on disk — it IS the chain's base
      assert(new java.io.File(g1, "codes/_SUCCESS").exists(),
        "append must not destroy the previous generation")
    } finally vecs.unpersist(false)
  }

  test("stored-index search ≡ retrain-per-run composition, bit-exact") {
    val a = SparkEntry.queries("q_ann_search_indexed")(spark, dir)
      .collect().toSeq
    val b = SparkEntry.queries("q_ann_ivfpq")(spark, dir)
      .collect().toSeq
    assert(a == b, "search over the stored index diverged from retrain")
  }
}
