package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** BPE merge semantics (q_token_bpe): the fixed merge table must apply in
  * rank order with left-to-right non-overlapping matches per rule — the
  * canonical Sennrich apply-merges-in-order encoder. These words pin the
  * behaviors that distinguish real BPE from naive substring replacement. */
class BpeSpec extends AnyFunSuite {
  private lazy val spark = TestSession.spark

  private def encode(words: String*): Map[String, Seq[String]] = {
    import spark.implicits._
    words.toDF("word")
      .select($"word", operators.TextOps.bpeEncode($"word").as("toks"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1).toList).toMap
  }

  test("training learns the hand-computed merge sequence (ties break pair-ASC)") {
    import spark.implicits._
    // corpus: hello ×3, help ×2 — every round's winner is hand-checkable
    val words = Seq(("(h)(e)(l)(l)(o)", 3L), ("(h)(e)(l)(p)", 2L))
      .toDF("enc", "wc")
    val got = operators.TextOps.bpeTrainMerges(words, 6)
      .as[(Long, String, String, String, Long)].collect().toSeq
    assert(got == Seq(
      // (h,e)=5 ties (e,l)=5 → 'e' < 'h' picks (e,l)
      (1L, "e", "l", "el", 5L),
      (2L, "h", "el", "hel", 5L),
      // (hel,l)=3 ties (l,o)=3 → 'hel' < 'l'
      (3L, "hel", "l", "hell", 3L),
      (4L, "hell", "o", "hello", 3L),
      (5L, "hel", "p", "help", 2L)))
    // round 6 has no adjacent pairs left: the table simply ends
  }

  test("trained merges feed the encoder: corpus round-1 pair is the corpus max") {
    import spark.implicits._
    val dir = TestSession.sfDir
    val first = operators.TextOps
      .bpeTrainMerges(operators.TextOps.bpeWords(spark, dir), 1)
      .as[(Long, String, String, String, Long)].head()
    // replay: the winner must be the max occurrence-weighted adjacent
    // char pair over the cleaned corpus words
    val words = operators.TextOps.bpeWords(spark, dir)
      .as[(String, Long)].collect()
    val counts = scala.collection.mutable.Map.empty[(String, String), Long]
    words.foreach { case (enc, wc) =>
      val t = enc.stripPrefix("(").stripSuffix(")").split("\\)\\(")
      t.sliding(2).filter(_.length == 2).foreach { p =>
        counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + wc
      }
    }
    val want = counts.toSeq.map { case ((a, b), c) => (-c, a, b) }.min
    assert((first._2, first._3, first._5) == (want._2, want._3, -want._1))
  }

  test("multi-level merges chain: t+h -> th, th+e -> the") {
    val m = encode("the", "then", "thing")
    assert(m("the") == Seq("the"))
    // rank 2 (th+e) consumed th before rank 11 (e+n) could see the e
    assert(m("then") == Seq("the", "n"))
    // i+n merges at rank 3, then in+g at rank 4; th stays unmerged
    assert(m("thing") == Seq("th", "ing"))
  }

  test("rank order wins over textual order") {
    // "ander": a+n (rank 5) takes the n, then an+d (rank 6), then e+r
    // (rank 7) — NOT e+n, whose rank 11 comes too late
    assert(encode("ander")("ander") == Seq("and", "er"))
    // "rest": r+e merges at rank 8 before s+t at rank 15
    assert(encode("rest")("rest") == Seq("re", "st"))
  }

  test("left-to-right non-overlapping within one rule") {
    // t t h h: single (t)(h) occurrence merges in the middle
    assert(encode("tthh")("tthh") == Seq("t", "th", "h"))
    // e e s: e+s takes the SECOND e (first pair match scanning l-to-r
    // is at positions 2-3), leaving a bare e
    assert(encode("ees")("ees") == Seq("e", "es"))
  }

  test("unmergeable words stay as base characters") {
    assert(encode("xyz")("xyz") == Seq("x", "y", "z"))
    assert(encode("a")("a") == Seq("a"))
  }

  test("native == SQL chain exhaustively over merge-dense short words") {
    import spark.implicits._
    // every length-4 word over the 6 chars that drive the t/th/the/in/ing
    // chains (1296) + every length-3 word over the an/and/er/es/st chars
    // (216): exhaustive coverage of rank-collision and overlap cases far
    // beyond what the corpus vocabulary exercises
    val a1 = "theing".toSeq
    val a2 = "anders".toSeq
    val words =
      (for (c1 <- a1; c2 <- a1; c3 <- a1; c4 <- a1)
        yield s"$c1$c2$c3$c4") ++
      (for (c1 <- a2; c2 <- a2; c3 <- a2) yield s"$c1$c2$c3")
    val both = words.toDF("word")
      .select($"word",
        operators.TextOps.bpeEncode($"word").as("native"),
        operators.TextOps.bpeEncodeSql($"word").as("sql"))
      .filter(!($"native" === $"sql"))
      .collect()
    assert(both.isEmpty,
      s"native != sql for ${both.length} words, e.g. ${both.take(3).mkString(", ")}")
  }

  test("native single-pass encoder equals the SQL replace chain on every corpus word") {
    import spark.implicits._
    val words = graft.sources.Tables
      .load(spark, TestSession.sfDir, "documents")
      .select(explode(split(lower($"text"), " ")).as("w"))
      .select(regexp_replace($"w", "[^a-z0-9]", "").as("word"))
      .filter(length($"word") > 0)
      .distinct()
    val crafted = Seq("the", "then", "thing", "ander", "rest", "tthh",
      "ees", "xyz", "a", "thethethe", "ananan", "lest", "ingest")
      .toDF("word")
    val both = words.unionByName(crafted)
      .select($"word",
        operators.TextOps.bpeEncode($"word").as("native"),
        operators.TextOps.bpeEncodeSql($"word").as("sql"))
      .withColumn("eq", $"native" === $"sql")
    val bad = both.filter(!$"eq").collect()
    assert(bad.isEmpty, s"native != sql for: ${bad.take(5).mkString(", ")}")
  }

  test("tokenizer_fertility: bounds hold and token totals reconcile with q_token_bpe") {
    import spark.implicits._
    val dir = TestSession.sfDir
    val fert = SparkEntry.queries("q_tokenizer_fertility")(spark, dir)
      .as[(String, Long, Long, Long, Double, Double)].collect()
    assert(fert.nonEmpty)
    fert.foreach { case (lang, nDocs, nWords, nToks, f, cpt) =>
      assert(nDocs > 0 && nWords > 0 && nToks > 0, s"$lang: empty counts")
      assert(f >= 1.0, s"$lang: a word never encodes to <1 token ($f)")
      assert(cpt >= 1.0, s"$lang: a token never has <1 char ($cpt)")
    }
    // Same encoder, same corpus: per-lang token totals must reconcile
    // with q_token_bpe's corpus-wide per-token occurrence counts.
    val bpeTotal = SparkEntry.queries("q_token_bpe")(spark, dir)
      .agg(org.apache.spark.sql.functions.sum($"n_occurrences"))
      .as[Long].head()
    assert(fert.map(_._4).sum == bpeTotal,
      "Σ per-lang n_tokens must equal q_token_bpe's occurrence total")
  }
}
