package graft

import graft.sources.v2.{DirSink, DirSinkChecks}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** CHECK CONSTRAINTS on DirSink zones (sources.v2.DirSinkChecks):
  * `check.<name> = '<predicate>'` table properties, stored in the
  * `#check` manifest header, enforced on every write path by a
  * driver-bound predicate in front of the file writer. The invariant
  * under test: a zone with a constraint NEVER holds a violating row —
  * a violating write fails BEFORE its commit (no partial publish), an
  * added constraint validates the existing corpus first, and DML
  * rewrites enforce it too. */
class ConstraintSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def freshCat(): (String, String) = {
    val wh = java.nio.file.Files.createTempDirectory("graft_check").toString
    val cat = s"checkcat_${math.abs(wh.hashCode)}"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.v2.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    (cat, wh)
  }

  test("a violating INSERT fails before commit; the zone is untouched") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.t (k BIGINT, score DOUBLE) " +
      s"TBLPROPERTIES ('check.score_range' = 'score BETWEEN 0 AND 1')")
    spark.sql(s"INSERT INTO $cat.db.t " +
      "SELECT id, CAST(id AS DOUBLE) / 100 FROM range(50)")
    assert(spark.table(s"$cat.db.t").count() == 50)
    val genBefore = DirSink.currentGen(s"$wh/db/t").get
    val e = intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.t VALUES (99, 1.5)")
    }
    assert(Option(e.getMessage).getOrElse("").contains("score_range") ||
      Option(e.getCause).exists(c =>
        String.valueOf(c.getMessage).contains("score_range")) ||
      e.toString.contains("score_range") ||
      { var t: Throwable = e; var found = false
        while (t != null && !found) {
          found = String.valueOf(t.getMessage).contains("score_range")
          t = t.getCause }
        found },
      s"failure must name the constraint: $e")
    assert(spark.table(s"$cat.db.t").count() == 50,
      "no partial data may publish from a failed constrained write")
    assert(DirSink.currentGen(s"$wh/db/t").contains(genBefore))
  }

  test("NULL passes (SQL CHECK three-valued law); FALSE fails") {
    val (cat, _) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.n (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('check.pos' = 'v > 0')")
    spark.sql(s"INSERT INTO $cat.db.n VALUES (1, 5), (2, NULL)")
    assert(spark.table(s"$cat.db.n").count() == 2,
      "a NULL predicate passes a CHECK — only FALSE violates")
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.n VALUES (3, -1)")
    }
    assert(spark.table(s"$cat.db.n").count() == 2)
  }

  test("row-level UPDATE enforces the constraint on the rewrite") {
    val (cat, _) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.u (k BIGINT, v BIGINT) " +
      s"TBLPROPERTIES ('check.pos' = 'v >= 0')")
    spark.sql(s"INSERT INTO $cat.db.u SELECT id, id FROM range(20)")
    intercept[Exception] {
      spark.sql(s"UPDATE $cat.db.u SET v = v - 100 WHERE k < 5")
    }
    // the failed rewrite published nothing: all 20 original values
    assert(spark.table(s"$cat.db.u").agg(sum("v")).head.getLong(0) == 190L)
    spark.sql(s"UPDATE $cat.db.u SET v = v + 100 WHERE k < 5")
    assert(spark.table(s"$cat.db.u").agg(sum("v")).head.getLong(0) == 690L)
  }

  test("a streaming epoch write enforces the zone's constraints too") {
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.st (k BIGINT) " +
      s"TBLPROPERTIES ('check.pos' = 'k >= 0')")
    val dir = s"$wh/db/st"
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")
    val sw = new graft.sources.v2.DirSinkStreamingWrite(dir, schema,
      "check-stream", truncate = false)
    // valid epoch lands
    val w0 = sw.createStreamingWriterFactory(null).createWriter(0, 0L, 0L)
    w0.write(new GenericInternalRow(Array[Any](7L)))
    sw.commit(0L, Array(w0.commit()))
    assert(spark.table(s"$cat.db.st").count() == 1)
    // violating epoch fails at the WRITER, before any commit
    val w1 = sw.createStreamingWriterFactory(null).createWriter(0, 0L, 1L)
    val e = intercept[IllegalArgumentException] {
      w1.write(new GenericInternalRow(Array[Any](-3L)))
    }
    assert(e.getMessage.contains("pos"))
    w1.abort()
    assert(spark.table(s"$cat.db.st").count() == 1)
  }

  test("ALTER TABLE SET TBLPROPERTIES validates existing rows; UNSET drops the constraint") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.a AS SELECT id AS k, id - 5 AS v FROM range(10)")
    // v ranges -5..4: a positivity constraint must be refused
    val e = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.a SET TBLPROPERTIES ('check.pos' = 'v >= 0')")
    }
    assert(e.getMessage.contains("5 committed rows violate"))
    assert(DirSinkChecks.zoneChecks(s"$wh/db/a").isEmpty)
    // a satisfiable one lands, shows in properties, and enforces
    spark.sql(s"ALTER TABLE $cat.db.a SET TBLPROPERTIES ('check.lo' = 'v >= -5')")
    assert(DirSinkChecks.zoneChecks(s"$wh/db/a") == Seq("lo" -> "v >= -5"))
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.a VALUES (99, -6)")
    }
    // UNSET drops it; the same insert then lands
    spark.sql(s"ALTER TABLE $cat.db.a UNSET TBLPROPERTIES ('check.lo')")
    assert(DirSinkChecks.zoneChecks(s"$wh/db/a").isEmpty)
    spark.sql(s"INSERT INTO $cat.db.a VALUES (99, -6)")
    assert(spark.table(s"$cat.db.a").count() == 11)
  }

  test("DDL-time validation: bad SQL, unknown column, non-boolean, non-deterministic all refuse") {
    val (cat, _) = freshCat()
    def bad(props: String): Unit = intercept[Exception] {
      spark.sql(s"CREATE TABLE $cat.db.bad (k BIGINT) TBLPROPERTIES ($props)")
    }
    bad("'check.x' = 'k >'")            // unparseable
    bad("'check.x' = 'nope > 0'")       // unknown column
    bad("'check.x' = 'k + 1'")          // not boolean
    bad("'check.x' = 'rand() > 0.5'")   // non-deterministic
  }

  test("staged CTAS carries its constraints; REPLACE swaps them wholesale; DROP COLUMN refuses on a referenced column") {
    val (cat, wh) = freshCat()
    spark.sql(s"CREATE TABLE $cat.db.s TBLPROPERTIES " +
      s"('check.small' = 'v < 100') AS SELECT id AS k, id AS v FROM range(50)")
    assert(DirSinkChecks.zoneChecks(s"$wh/db/s") == Seq("small" -> "v < 100"))
    intercept[Exception] {
      spark.sql(s"INSERT INTO $cat.db.s VALUES (1, 200)")
    }
    intercept[Exception] { DirSink.dropColumn(s"$wh/db/s", "v") }
    // REPLACE: new definition's constraints replace the old set
    spark.sql(s"CREATE OR REPLACE TABLE $cat.db.s TBLPROPERTIES " +
      s"('check.big' = 'v >= 100') AS SELECT id AS k, id + 100 AS v FROM range(5)")
    assert(DirSinkChecks.zoneChecks(s"$wh/db/s") == Seq("big" -> "v >= 100"))
    spark.sql(s"INSERT INTO $cat.db.s VALUES (9, 500)")
    assert(spark.table(s"$cat.db.s").count() == 6)
  }
}
