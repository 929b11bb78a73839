package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ShingleMinHash

/** Golden cross-engine values for the md5-seeded double-hashing MinHash
  * bank: the expected strings below were computed INDEPENDENTLY in
  * DuckDB 1.0 with the exact oracle formulation
  * (('0x'||substr(md5(x),1|17,16))::UBIGINT; (h1+i*h2) mod 2^64; min;
  * string_agg) over the shingles "a b c" and "b c d" — the kernel must
  * reproduce them bit-for-bit from the tokens a b c d.
  */
class MinHashBandsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def minima(tokens: String, hashes: Int) =
    ShingleMinHash.minima(split(col(tokens), " "), 3, hashes)

  test("band keys match the DuckDB-computed golden values") {
    val df = Seq("a b c d").toDF("tokens")
    val got = df.select(ShingleMinHash.bandLabels(minima("tokens", 4), 2, 2))
      .as[Seq[String]].head()
    assert(got == Seq(
      "M|0|500029364494239367|6920703278854442183",
      "M|1|6262246255014425803|5427529910536186477"))
  }

  test("empty set gets no bands; identical sets get identical bands") {
    val df = Seq(
      (1, "x y"),           // fewer than 3 tokens: no shingle
      (2, "x y z x y z"),   // shingles {x y z, y z x, z x y}, one repeated
      (3, "y z x y z x"))   // the same set, another order and repeat
      .toDF("id", "tokens")
      .withColumn("bands", ShingleMinHash.bandKeys(minima("tokens", 32), 16, 2))
    val rows = df.select("id", "bands").as[(Int, Seq[Long])].collect().toMap
    assert(rows(1).isEmpty)
    assert(rows(2).size == 16)
    assert(rows(2) == rows(3)) // order-independent (min over set)
  }

  test("near-identical sets collide on most bands, disjoint sets on none") {
    val base = (0 until 40).map(i => s"tok$i a b").mkString(" ")
    val near = (2 until 40).map(i => s"tok$i a b").mkString(" ") + " zzz q w yyy e r"
    val far = (0 until 40).map(i => s"other$i c d").mkString(" ")
    val df = Seq((1, base), (2, near), (3, far)).toDF("id", "tokens")
      .withColumn("bands", ShingleMinHash.bandKeys(minima("tokens", 32), 16, 2))
    val rows = df.select("id", "bands").as[(Int, Seq[Long])].collect().toMap
    assert(rows(1).intersect(rows(2)).nonEmpty)
    assert(rows(1).intersect(rows(3)).isEmpty)
  }
}
