package graft

import graft.functions.{TextHashing, VectorFunctions}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The native hashing expressions must be EXACT replicas of the SQL
  * formulations they replaced — that identity is what keeps the DuckDB
  * oracle valid for the optimized dedup queries. */
class TextHashesSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private val sqlShingleHash =
    """array_distinct(transform(
      |  CASE WHEN size(split(lower(text), ' ')) >= 3 THEN
      |    transform(sequence(1, size(split(lower(text), ' ')) - 2), i ->
      |      concat(element_at(split(lower(text), ' '), i), ' ',
      |             element_at(split(lower(text), ' '), i + 1), ' ',
      |             element_at(split(lower(text), ' '), i + 2)))
      |  ELSE array(lower(text)) END,
      |  x -> CAST(conv(substr(md5(x), 1, 15), 16, 10) AS BIGINT) % 1000000007))"""
      .stripMargin

  test("native shingle hashes == SQL md5-fold pipeline on real documents") {
    import spark.implicits._
    // native output is SORTED (IntersectSize contract); the SQL pipeline
    // keeps first-occurrence order — compare as sets
    val diffs = graft.sources.Tables.load(spark, TestSession.sfDir, "documents")
      .select(
        VectorFunctions.shingleHashes($"text").as("native"),
        array_sort(expr(sqlShingleHash)).as("sql"))
      .filter($"native" =!= $"sql")
      .count()
    assert(diffs == 0)
  }

  test("native intersect size == array_intersect size on real shingle sets") {
    import spark.implicits._
    val sh = graft.sources.Tables.load(spark, TestSession.sfDir, "documents")
      .select($"doc_id", VectorFunctions.shingleHashes($"text").as("hs"))
    val a = sh.select($"doc_id".as("a"), $"hs".as("ha"))
    val b = sh.select($"doc_id".as("b"), $"hs".as("hb"))
    val diffs = a.crossJoin(b).filter($"a" < $"b" && $"b" < $"a" + 20)
      .select(
        VectorFunctions.intersectSize($"ha", $"hb").as("native"),
        size(array_intersect($"ha", $"hb")).as("builtin"))
      .filter($"native" =!= $"builtin")
      .count()
    assert(diffs == 0)
  }

  test("native minhash signature == SQL affine-permutation pipeline") {
    import spark.implicits._
    val diffs = graft.sources.Tables.load(spark, TestSession.sfDir, "documents")
      .select(VectorFunctions.shingleHashes($"text").as("hs"))
      .select(
        VectorFunctions.minhashSig($"hs").as("native"),
        expr("""transform(sequence(0, 15), k ->
               |  array_min(transform(hs, h ->
               |    ((2 * k + 1) * h + 7919 * (k + 1)) % 1000000007)))"""
          .stripMargin).as("sql"))
      .filter($"native" =!= $"sql")
      .count()
    assert(diffs == 0)
  }

  test("native simhash == SQL 16-bit vote pipeline on real documents") {
    import spark.implicits._
    val diffs = graft.sources.Tables.load(spark, TestSession.sfDir, "documents")
      .withColumn("hs", expr("transform(split(lower(text), ' '), t -> md5(t))"))
      .select(
        VectorFunctions.simhash($"text").as("native"),
        expr("""aggregate(sequence(1, 16), CAST(0 AS BIGINT), (acc, j) ->
               |  acc + IF(
               |    aggregate(hs, 0, (a2, h) ->
               |      a2 + IF((instr('0123456789abcdef', substr(h, j, 1)) - 1) % 2 = 1,
               |              1, -1)) > 0,
               |    shiftleft(CAST(1 AS BIGINT), j - 1), CAST(0 AS BIGINT)))"""
          .stripMargin).as("sql"))
      .filter($"native" =!= $"sql")
      .count()
    assert(diffs == 0)
  }

  test("hash15 edge cases: short docs and scalar replica") {
    assert(TextHashing.shingleHashes("one two").toSeq ==
      Seq(TextHashing.hash15("one two")))
    // scalar replica of the hex fold
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest("abc def ghi".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    assert(TextHashing.hash15("abc def ghi") ==
      java.lang.Long.parseLong(hex, 16) % 1000000007L)
  }
}
