package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.text.TextOps

class TextOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "The quick brown fox is in the garden, and it is happy!"),
    (2L, "der hund und die katze sind nicht zu hause"),
    (3L, "le chat est dans le jardin et je vous aime"),
    (4L, "xyzzy plugh qwerty asdf"),
    (5L, "a b")
  ).toDF("doc_id", "text")

  test("language id picks the right stopword family; und when none") {
    val got = TextOps.analyze(docs).select("doc_id", "lang_pred")
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "en")
    assert(got(2L) == "de")
    assert(got(3L) == "fr")
    assert(got(4L) == "und")
  }

  test("token counts and quality are in range") {
    val rows = TextOps.analyze(docs)
      .select("doc_id", "n_tokens", "n_distinct_tokens", "quality")
      .as[(Long, Int, Int, Double)].collect().map(r => r._1 -> r).toMap
    assert(rows(1L)._2 == 12) // the quick brown fox is in the garden and it is happy
    assert(rows(1L)._3 < rows(1L)._2) // "the"/"is" repeat
    rows.values.foreach(r => assert(r._4 >= 0.0 && r._4 <= 1.0))
  }

  test("fingerprint: stable, equal for token-identical docs, length-robust") {
    val d2 = Seq(
      (10L, "alpha beta gamma delta"),
      (11L, "ALPHA beta; gamma DELTA"), // same tokens
      (12L, "totally different words here"),
      (13L, "ab")                        // < 3 tokens fallback
    ).toDF("doc_id", "text")
    val fps = TextOps.analyze(d2).select("doc_id", "fingerprint")
      .as[(Long, String)].collect().toMap
    assert(fps(10L) == fps(11L))
    assert(fps(10L) != fps(12L))
    assert(fps(13L).nonEmpty)
  }

  test("docTokens equals the split-then-filter formulation it replaced") {
    val texts = Seq("", "   ", "--a--b--", "Grüße, señor — naïve café ÄÖÜ 東京 x1",
      "tab\tand\nnew\r\nlines\t", " Lead and trail ", "a b")
    val df = texts.toDF("text")
    val old = filter(split(regexp_replace(lower(col("text")), "[^a-z0-9]+", " "), " "),
      t => length(t) > 0)
    val got = df.select(col("text"), TextOps.docTokens(col("text")), old)
      .as[(String, Seq[String], Seq[String])].collect()
    assert(got.length == texts.size)
    got.foreach { case (t, now, before) => assert(now == before, s"text: '$t'") }
    assert(got.find(_._1 == "--a--b--").get._2 == Seq("a", "b"))
  }
}
