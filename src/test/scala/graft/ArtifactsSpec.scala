package graft

import org.scalatest.funsuite.AnyFunSuite

/** The shared generation-dir + atomic-pointer artifact protocol
  * (graft.Artifacts) used by the ANN index and the Layouts tables:
  * readers resolve the pointer only, so a crash mid-build or
  * mid-publish is invisible; builds amortize across sessions; a race
  * loser drops its own generation. */
class ArtifactsSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def tmpRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_artifacts").toString + "/a"

  test("crash mid-build is invisible: a partial generation without a pointer is not ready") {
    val root = tmpRoot()
    // simulate a builder that died after writing part of a generation
    val partial = new java.io.File(root, "gen-12345/part")
    partial.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(partial, "data").toPath, "half".getBytes)
    assert(Artifacts.ready(spark, root).isEmpty,
      "an unpublished generation must be invisible to readers")
    // the next buildOnce builds a FRESH generation and publishes it
    var built = 0
    val live = Artifacts.buildOnce(spark, root) { gen =>
      built += 1
      new java.io.File(gen).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(gen, "data").toPath, "whole".getBytes)
    }
    assert(built == 1)
    assert(Artifacts.ready(spark, root).contains(live))
    assert(new String(java.nio.file.Files.readAllBytes(
      new java.io.File(live, "data").toPath)) == "whole")
  }

  test("buildOnce amortizes: the second call (and a fresh session) reuse without rebuilding") {
    val root = tmpRoot()
    var built = 0
    def build(gen: String): Unit = {
      built += 1
      new java.io.File(gen).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(gen, "data").toPath, "v1".getBytes)
    }
    val a = Artifacts.buildOnce(spark, root)(build)
    val b = Artifacts.buildOnce(spark, root)(build)
    val c = Artifacts.buildOnce(spark.newSession(), root)(build)
    assert(built == 1, "published artifact must never rebuild")
    assert(a == b && b == c)
  }

  test("a pointer referencing a missing generation is treated as unpublished (rebuild, not dangling reads)") {
    val root = tmpRoot()
    new java.io.File(root).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(root, Artifacts.Pointer).toPath,
      "gen-99999".getBytes)
    assert(Artifacts.ready(spark, root).isEmpty)
    val live = Artifacts.buildOnce(spark, root) { gen =>
      new java.io.File(gen).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(gen, "data").toPath, "rebuilt".getBytes)
    }
    assert(Artifacts.ready(spark, root).contains(live))
  }

  test("race loser drops its generation and serves the winner's") {
    val root = tmpRoot()
    // the build closure simulates a CONCURRENT builder finishing first:
    // it plants a complete competing generation and publishes the
    // pointer to it while 'our' build is still in flight
    var ourGen: String = null
    val live = Artifacts.buildOnce(spark, root) { gen =>
      ourGen = gen
      new java.io.File(gen).mkdirs()
      java.nio.file.Files.write(
        new java.io.File(gen, "data").toPath, "ours".getBytes)
      val winner = new java.io.File(root, "gen-424242")
      winner.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(winner, "data").toPath, "winner".getBytes)
      java.nio.file.Files.write(
        new java.io.File(root, Artifacts.Pointer).toPath,
        "gen-424242".getBytes)
    }
    assert(live.endsWith("gen-424242"), "the loser must serve the winner")
    assert(!new java.io.File(ourGen).exists(),
      "the loser's generation must be dropped, not left to accumulate")
  }

  test("the reaper deletes dead processes' scratch outside the live chain, nothing else") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_reap").toFile
    val dead = {
      val p = new ProcessBuilder("true").start()
      p.waitFor()
      p.pid()
    }
    assert(ProcessHandle.of(dead).isEmpty, s"pid $dead of a finished child is still live")
    val me = ProcessHandle.current().pid()
    def dir(parent: java.io.File, name: String): java.io.File = {
      val f = new java.io.File(parent, name)
      f.mkdirs()
      java.nio.file.Files.write(new java.io.File(f, "data").toPath, "x".getBytes)
      f
    }
    def line(f: java.io.File, name: String, v: String): Unit =
      java.nio.file.Files.write(new java.io.File(f, name).toPath, v.getBytes)
    val idx = new java.io.File(tmp, "graft_ann_index_0123")
    // the live chain: a delta on a base, both of the dead pid; the
    // base links back to the delta, and the walk stops on the repeat
    val base = dir(idx, s"gen-$dead")
    val delta = dir(idx, s"gen-$dead-1")
    line(delta, "_PARENT", base.getName)
    line(base, "_PARENT", delta.getName)
    line(idx, Artifacts.Pointer, delta.getName)
    val orphan = dir(idx, s"gen-$dead-2")
    val mine = dir(idx, s"gen-$me-3")
    val deadLayout = dir(tmp, s"graft_layout_abc_$dead")
    val myLayout = dir(tmp, s"graft_layout_abc_$me")
    Artifacts.reap(tmp)
    Seq(base, delta, mine, myLayout).foreach(f =>
      assert(f.exists(), s"${f.getName} must survive"))
    Seq(orphan, deadLayout).foreach(f =>
      assert(!f.exists(), s"${f.getName} must be reaped"))
  }
}
