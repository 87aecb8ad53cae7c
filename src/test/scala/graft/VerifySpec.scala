package graft

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Verify's name filter: a query name that matches nothing fails the
  * run, naming it, before any dump directory is touched. */
class VerifySpec extends AnyFunSuite {

  test("Verify refuses unknown query names before it deletes a dump") {
    val out = Files.createTempDirectory("verify-spec")
    try {
      val dump = out.resolve("q_pagerank")
      Files.createDirectories(dump)
      Files.writeString(dump.resolve("part-0"), "previous dump")
      val e = intercept[IllegalArgumentException](Verify.main(Array(
        TestSession.sfDir, out.toString, "q_pagerank", "q_pagernak")))
      assert(e.getMessage.contains("q_pagernak"), e.getMessage)
      assert(!e.getMessage.contains("q_pagerank"), e.getMessage)
      assert(Files.exists(dump.resolve("part-0")), "a dump was deleted")
      assert(!Files.exists(out.resolve("failures.json")))
    } finally {
      Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.delete(p))
    }
  }
}
