package graft

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.JaroWinkler

class JaroWinklerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def approx(a: Double, b: Double) = math.abs(a - b) < 1e-9

  test("golden values (SURVEY.md §5.2)") {
    assert(approx(JaroWinkler.similarity("MARTHA", "MARHTA"), 0.9611111111111111))
    assert(approx(JaroWinkler.similarity("DWAYNE", "DUANE"), 0.84))
    assert(approx(JaroWinkler.similarity("DIXON", "DICKSONX"), 0.8133333333333332))
    assert(JaroWinkler.similarity("abc", "abc") == 1.0)
    assert(JaroWinkler.similarity("", "") == 0.0) // DuckDB parity
    assert(JaroWinkler.similarity("a", "") == 0.0)
    assert(JaroWinkler.similarity("abc", "xyz") == 0.0)
    // transpositions use integer division (DuckDB/rapidfuzz semantics);
    // expected value cross-computed with duckdb jaro_winkler_similarity
    assert(approx(JaroWinkler.similarity(
      "tok1653 tok0014 ox", "tok1072 they at irx"), 0.6208576998050682))
  }

  test("works as a codegen'd column expression") {
    val df = Seq(("MARTHA", "MARHTA"), ("DWAYNE", "DUANE"), ("same", "same"))
      .toDF("a", "b")
      .withColumn("jw", JaroWinkler.jaroWinkler(col("a"), col("b")))
    val got = df.select("jw").as[Double].collect().toSeq
    assert(approx(got(0), 0.9611111111111111))
    assert(approx(got(1), 0.84))
    assert(got(2) == 1.0)
  }

  test("null-safe") {
    val df = Seq((Some("a"), None: Option[String])).toDF("a", "b")
      .withColumn("jw", JaroWinkler.jaroWinkler(col("a"), col("b")))
    assert(df.select("jw").collect()(0).isNullAt(0))
  }

  test("cap inside the expression ≡ substring upstream (ASCII + multibyte)") {
    val rows = Seq(
      ("the quick brown fox jumps over it", "the quick brown dog jumps over it"),
      ("short", "also-short"),
      ("aéλ字 multibyte prefix shared", "aéλ字 multibyte prefix distinct"),
      ("", "nonempty"),
      ("exactly8ch", "exactly8ch plus tail"))
      .toDF("a", "b")
    val df = rows.select(
      JaroWinkler.jaroWinkler(col("a"), col("b"), 8).as("capped"),
      JaroWinkler.jaroWinkler(
        substring(col("a"), 1, 8), substring(col("b"), 1, 8)).as("substr"))
    df.as[(Double, Double)].collect().foreach { case (c, s) =>
      assert(approx(c, s), s"capped=$c substr=$s")
    }
  }

  test("multi-word inputs: the byte path is bit-identical to the String path up to ~300 chars, every cap") {
    // windows up to ~300 positions wide span up to five 64-bit words of
    // the match bit sets; small alphabets make the "first unmatched j in
    // the window" rule and the transposition walk do real work
    val rnd = new scala.util.Random(20261018L)
    val alphabets = Seq("ab", "abc ", "abcdefghijklmnopqrstuvwxyz0123456789 ", "aéλ字 b")
    def random(alphabet: String, len: Int) =
      Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    def shuffled(s: String) = // near-duplicate: a few swaps of nearby chars
      (0 until 1 + rnd.nextInt(6)).foldLeft(s) { (t, _) =>
        if (t.length < 2) t
        else {
          val i = rnd.nextInt(t.length - 1)
          val j = math.min(t.length - 1, i + 1 + rnd.nextInt(8))
          t.updated(i, t(j)).updated(j, t(i))
        }
      }
    val rows = (0 until 1200).map { i =>
      val alphabet = alphabets(i % alphabets.length)
      val a = random(alphabet, rnd.nextInt(301))
      val b = if (i % 2 == 0) shuffled(a) else random(alphabet, rnd.nextInt(301))
      if (rnd.nextBoolean()) (a, b) else (b, a)
    } ++ Seq(("a" * 64, "a" * 64), ("a" * 65, "a" * 64 + "b"), ("ab" * 150, "ba" * 150),
      ("a" * 300, "b"), ("", "a" * 100), ("x" + "a" * 128, "a" * 128 + "x"),
      ("ab" * 300, "ba" * 290), (random("abc ", 700), random("abc ", 600)))
    val caps = Seq(1, 63, 64, 65, 127, 128, 129, 512)
    for (cap <- caps; (a, b) <- rows) {
      val got = JaroWinkler.similarity(UTF8String.fromString(a), UTF8String.fromString(b), cap)
      val want = JaroWinkler.similarity(a.take(cap), b.take(cap))
      assert(java.lang.Double.doubleToLongBits(got) == java.lang.Double.doubleToLongBits(want),
        s"cap $cap: JW('$a', '$b') = $got, String path $want")
    }
  }
}
