package graft

import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.SparkSession
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

  /** `generation/part` of every parquet root the SQL actions of `body`
    * scan in session `s`. A marker action after `body` arrives last on
    * the listener bus, so every earlier action has been seen. */
  private def actionParts(s: SparkSession)(body: => Unit): Set[String] = {
    val seen = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val marker = s"graft-marker-${java.util.UUID.randomUUID()}"
    val flushed = new java.util.concurrent.CountDownLatch(1)
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case f: FileSourceScanExec => f.relation.location.rootPaths
          .foreach(r => seen.add(s"${r.getParent.getName}/${r.getName}"))
        case _ =>
      }
      p.children.foreach(walk)
    }
    val l = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.logical.toString.contains(marker)) flushed.countDown()
        else walk(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    s.listenerManager.register(l)
    try {
      body
      s.range(1).select(org.apache.spark.sql.functions.lit(marker)).collect()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the marker action never reached the listener")
    } finally s.listenerManager.unregister(l)
    seen.asScala.toSet
  }

  private def scanCounts(name: String, s: SparkSession = spark): Map[String, Int] = {
    val df = Exec.withLazyPlans(SparkEntry.queries(name)(s, dir))
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
    // the KB-sized codebooks are collected to the driver while a
    // session's first search frame is built (a fresh session: the
    // codebooks are memoized per session), so they are read by those
    // actions; the inverted lists and codes are read by the search plan
    val fresh = spark.newSession()
    var scans = Map.empty[String, Int]
    val collected = actionParts(fresh) {
      scans = scanCounts("q_ann_search_indexed", fresh)
    }.map(p => p.substring(p.lastIndexOf('/') + 1))
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
      assert(Artifacts.chain(spark, root) == Seq(g2, g1),
        "the parent chain must walk live -> base")
      // chain-resolved (base + delta) assignments ≡ assigning ALL
      // vectors against the SAME frozen codebooks — the append loses
      // nothing vs a full re-assignment pass
      val opened = Similarity.annIndexOpen(spark, root)
      val wantCells = Similarity.assignCells(vecs, opened.coarse)
        .as[(Long, Long)].collect().toSeq.sorted
      val gotCells = opened.cells
        .as[(Long, Long)].collect().toSeq.sorted
      assert(gotCells == wantCells)
      val wantCodes = Similarity
        .pqAssign(Similarity.pqSubspaces(vecs), opened.pq)
        .select($"vec_id", $"m", $"cell".as("code"))
        .as[(Long, Int, Long)].collect().toSeq.sorted
      val gotCodes = opened.codes
        .as[(Long, Int, Long)].collect().toSeq.sorted
      assert(gotCodes == wantCodes)
      // the superseded generation stays on disk — it IS the chain's base
      assert(new java.io.File(g1, "codes/_SUCCESS").exists(),
        "append must not destroy the previous generation")
    } finally vecs.unpersist(false)
  }

  test("a second search in a session runs no codebook collect") {
    val s = spark.newSession()
    SparkEntry.queries("q_ann_search_indexed")(s, dir).count()
    val root = operators.Similarity.annIndexPath(s, dir)
    val books = operators.Similarity.annIndexOpen(s, root)
    val parts = actionParts(s) {
      SparkEntry.queries("q_ann_search_indexed")(s, dir).count()
    }
    assert(!parts.exists(p => p.endsWith("/coarse") || p.endsWith("/pq")),
      s"the second search collected a stored codebook: $parts")
    val again = operators.Similarity.annIndexOpen(s, root)
    assert((again.coarse eq books.coarse) && (again.pq eq books.pq),
      "the session must reuse its codebooks and their broadcast handles")
  }

  test("after an append, the search reads the new generation's parts") {
    import spark.implicits._
    import operators.Similarity
    val s = spark.newSession()
    val vecs = Similarity.ivfVectors(s, dir)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val root = java.nio.file.Files
        .createTempDirectory("graft_ann_memo").toString + "/idx"
      Similarity.annIndexBuild(s, root, vecs.filter($"vec_id" % 5 =!= 0))
      val q = vecs.filter($"vec_id" % 100 === 0)
      def cands(df: org.apache.spark.sql.DataFrame) =
        df.select($"cid").as[Long].collect().toSeq
      val before = cands(Similarity.annIndexSearch(s, root, q))
      assert(before.nonEmpty && before.forall(_ % 5 != 0),
        "the base index holds no vec_id % 5 = 0 candidate")
      val g2 = Similarity.annIndexAppend(s, root, vecs.filter($"vec_id" % 5 === 0))
      val gen = new java.io.File(g2).getName
      var after = Seq.empty[Long]
      val parts = actionParts(s) { after = cands(Similarity.annIndexSearch(s, root, q)) }
      assert(Set(s"$gen/coarse", s"$gen/pq").subsetOf(parts),
        s"the search must re-read the codebooks of the new generation: $parts")
      assert(after.exists(_ % 5 == 0), "the search missed the appended vectors")
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
