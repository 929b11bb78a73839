package graft

import java.sql.Timestamp

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ShingleMinHash
import graft.model.TranscriptRow
import graft.ops.{Blocking, Collapse, Features}

class CollapseSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  private val fixture = Seq(
    // deliberately out of order: collapse must restore (conv_id, turn_idx)
    TranscriptRow("c2", 1, "assistant", "world", None, ts(11)),
    TranscriptRow("c1", 2, "user", "gamma delta", None, ts(2)),
    TranscriptRow("c1", 0, "user", "alpha beta", None, ts(0)),
    TranscriptRow("c2", 0, "user", "hello", Some("search(a1)"), ts(10)),
    TranscriptRow("c1", 1, "assistant", "beta gamma", Some("calc(a2)"), ts(1))
  ).toDS().toDF()

  test("collapse restores stable turn order") {
    val recs = Collapse.collapse(fixture)
    val c1 = recs.filter($"conv_id" === "c1")
      .select(expr("transform(turns, t -> t.text)")).as[Seq[String]].head()
    assert(c1 == Seq("alpha beta", "beta gamma", "gamma delta"))
  }

  test("explodeBack inverts collapse exactly (per-row invariant)") {
    val recs = Collapse.collapse(fixture)
    assert(Collapse.invariantViolations(fixture, recs).count() == 0)
    val back = Collapse.explodeBack(recs)
    assert(back.count() == fixture.count())
    assert(back.except(fixture).count() == 0 && fixture.except(back).count() == 0)
  }

  test("invariant audit: NULL text equals itself (except()/EXCEPT semantics)") {
    // the schema contract says text is non-null, but the audit operator
    // must not manufacture phantom violations if a corpus breaks it: the
    // null-safe join keys keep except()'s NULLs-equal semantics
    val src = Seq(
      ("c1", 0, "user", null.asInstanceOf[String], None: Option[String], ts(0)),
      ("c1", 1, "assistant", "ok", None: Option[String], ts(1)))
      .toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
    val recs = Collapse.collapse(src)
    assert(Collapse.invariantViolations(src, recs).count() == 0)
    // and a REAL mismatch on the null row is still caught, once per side
    val tampered = Collapse.collapse(
      src.withColumn("text", coalesce($"text", lit("tampered"))))
    val v = Collapse.invariantViolations(src, tampered)
    assert(v.count() == 2)
    assert(v.select("side").as[String].collect().sorted.toSeq ==
      Seq("extra_in_records", "missing_in_records"))
  }

  test("enrich: text_all, tokens, shingles, strong keys") {
    val recs = Features.enrich(Collapse.collapse(fixture))
    // the token sequence and the shingles are sized from text_all, not stored
    assert(!recs.columns.contains("tokens") && !recs.columns.contains("shingles"))
    val shingleIds = ShingleMinHash.signature(Features.tokenize($"text_all"), 3,
      Features.NumHashes).getField("shingle_ids")
    val withDerived = recs.withColumn("tokens", Features.tokenize($"text_all"))
      .withColumn("shingle_ids", shingleIds)
    val c1 = withDerived.filter($"conv_id" === "c1").head()
    def arr(row: org.apache.spark.sql.Row, name: String): Seq[String] =
      row.getAs[scala.collection.Seq[String]](name).toSeq
    def ids(row: org.apache.spark.sql.Row): Seq[Long] =
      row.getAs[scala.collection.Seq[Long]]("shingle_ids").toSeq
    assert(c1.getAs[String]("text_all") == "alpha beta beta gamma gamma delta")
    assert(arr(c1, "tokens") ==
      Seq("alpha", "beta", "beta", "gamma", "gamma", "delta"))
    assert(arr(c1, "token_set") == Seq("alpha", "beta", "delta", "gamma"))
    val alphaBetaBeta = XXH64.hashUTF8String(UTF8String.fromString("alpha beta beta"), 42L)
    assert(ids(c1).contains(alphaBetaBeta))
    assert(arr(c1, "strong_keys") == Seq("T:8:calc(a2)"))
    assert(c1.getAs[Int]("n_turns") == 3)
    val c2 = withDerived.filter($"conv_id" === "c2").head()
    assert(arr(c2, "strong_keys") == Seq("T:10:search(a1)"))
    // shingles of a 2-token conv are empty, not an error: no ids, no minima
    assert(ids(c2).isEmpty)
    assert(c2.getAs[scala.collection.Seq[Long]]("mh_minima").isEmpty)
  }

  test("strong keys are injective across delimiter-containing tool names") {
    // ["a|b"] vs ["a","b"]: naive '|'-joining collides both to "T:a|b"
    // and force-merges two unrelated conversations through the
    // high-precision feature; the length-prefixed encoding keeps them
    // distinct
    val src = Seq(
      TranscriptRow("x1", 0, "user", "t", Some("a|b"), ts(0)),
      TranscriptRow("y1", 0, "user", "t", Some("a"), ts(1)),
      TranscriptRow("y1", 1, "user", "t", Some("b"), ts(2))
    ).toDS().toDF()
    val keys = Features.enrich(Collapse.collapse(src))
      .select($"conv_id", $"strong_keys").as[(String, Seq[String])]
      .collect().toMap
    assert(keys("x1") == Seq("T:3:a|b"))
    assert(keys("y1") == Seq("T:1:a|1:b"))
    assert(keys("x1") != keys("y1"))
  }

  test("minhash bands: identical token sets share all bands, stable") {
    val recs = Features.enrich(Collapse.collapse(fixture))
    def bands(df: org.apache.spark.sql.DataFrame) =
      Blocking.minhashBlocks(df.filter($"conv_id" === "c1"))
        .select($"bkey").as[Long].collect().toSeq
    val bands1 = bands(recs)
    val again = bands(Features.enrich(Collapse.collapse(fixture)))
    assert(bands1 == again)
    assert(bands1.size == Features.NumBands)
    val minima = recs.filter($"conv_id" === "c1").select($"mh_minima").as[Seq[Long]].head()
    assert(minima.size == Features.NumHashes)
  }
}
