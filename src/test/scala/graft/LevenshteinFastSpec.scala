package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.LevenshteinFast.levenshteinFast

class LevenshteinFastSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def mkString(seed: Long, maxLen: Int, alphabet: String): String = {
    val len = (graft.util.Hashing.mix(seed, 1L) >>> 1).toInt % (maxLen + 1)
    (0 until len).map { i =>
      alphabet(((graft.util.Hashing.mix(seed, i.toLong, 2L) >>> 1) % alphabet.length).toInt)
    }.mkString
  }

  test("value-identical to the built-in levenshtein on random ASCII + multibyte") {
    val ascii = "abcdef "
    val multi = "aéλ字 b"
    val rows = (0 until 400).map { i =>
      val alphabet = if (i % 4 == 3) multi else ascii
      (mkString(i.toLong, 24, alphabet), mkString(i.toLong + 1000, 24, alphabet))
    } ++ Seq(
      ("", ""), ("", "abc"), ("abc", ""), ("same", "same"),
      ("prefix_x", "prefix_y"), ("x_suffix", "y_suffix"),
      ("ab", "ba"), ("kitten", "sitting"), ("é", "e"))
    val df = rows.toDF("a", "b")
      .select(levenshteinFast(col("a"), col("b")).as("fast"),
        levenshtein(col("a"), col("b")).as("ref"))
    val bad = df.filter(col("fast") =!= col("ref")).count()
    assert(bad == 0L)
  }

  test("multi-word patterns: value-identical to the built-in levenshtein up to ~300 chars, every cap") {
    // lengths cross one to five 64-bit words of the bit-vector pattern;
    // half the pairs are near-duplicates (a few edits anywhere), so the
    // stripped middles stay long and the distances small, the other half
    // independent strings over small and larger alphabets
    val rnd = new scala.util.Random(20261018L)
    val alphabets = Seq("ab", "abcdef ", "abcdefghijklmnopqrstuvwxyz0123456789 ", "aéλ字 b")
    def random(alphabet: String, len: Int) =
      Seq.fill(len)(alphabet(rnd.nextInt(alphabet.length))).mkString
    def edited(s: String, alphabet: String) =
      (0 until 1 + rnd.nextInt(4)).foldLeft(s) { (t, _) =>
        val at = rnd.nextInt(t.length + 1)
        val c = alphabet(rnd.nextInt(alphabet.length)).toString
        rnd.nextInt(3) match {
          case 0 => t.patch(at, c, 0) // insert
          case 1 => t.patch(at, "", 1) // delete
          case _ => t.patch(at, c, 1) // substitute
        }
      }
    val rows = (0 until 600).map { i =>
      val alphabet = alphabets(i % alphabets.length)
      val a = random(alphabet, rnd.nextInt(301))
      val b = if (i % 2 == 0) edited(a, alphabet) else random(alphabet, rnd.nextInt(301))
      if (rnd.nextBoolean()) (a, b) else (b, a)
    } ++ Seq(("a" * 64, "b" * 64), ("a" * 65, "a" * 64 + "b"), ("x" + "a" * 127, "a" * 128),
      ("ab" * 150, "ba" * 150), ("a" * 300, ""))
    val caps = Seq(1, 63, 64, 65, 127, 128, 129, 512)
    val pairs = rows.toDF("a", "b").localCheckpoint()
    caps.foreach { cap =>
      val df = pairs.select(col("a"), col("b"),
        levenshteinFast(col("a"), col("b"), cap).as("fast"),
        levenshtein(substring(col("a"), 1, cap), substring(col("b"), 1, cap)).as("ref"))
      val bad = df.filter(col("fast") =!= col("ref")).as[(String, String, Int, Int)].take(3)
      assert(bad.isEmpty, s"cap $cap: ${bad.mkString("; ")}")
    }
  }

  test("matches the DuckDB-facing normalized similarity after capping") {
    // the oracle computes 1 - lev/maxlen on the capped prefix; spot-pin
    // a known value: lev("kitten","sitting") = 3
    val v = Seq(("kitten", "sitting")).toDF("a", "b")
      .select(levenshteinFast(col("a"), col("b"))).as[Int].head()
    assert(v == 3)
  }

  test("ASCII oversize fallback honors the cap (cap in (MaxLen, ∞))") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.LevenshteinFast
    // both > MaxLen(512) bytes, cap above MaxLen: edits beyond the cap
    // must be invisible (round-2 ADVICE.md item 3)
    val a = UTF8String.fromString("a" * 700)
    val b = UTF8String.fromString("a" * 600 + "b" * 100)
    assert(LevenshteinFast.compute(a, b, 600) == 0)
    // and a real edit inside the cap window still counts
    val c = UTF8String.fromString("x" + "a" * 699)
    assert(LevenshteinFast.compute(a, c, 600) == 1)
  }
}
