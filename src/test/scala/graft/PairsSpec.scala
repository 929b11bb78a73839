package graft

import org.apache.spark.sql.Observation
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Pairs
import graft.util.{Hashing, Observed}

class PairsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("within-block pairing: unordered pairs, a < b, cross-key dedup") {
    val blocks = Seq(
      ("k1", "a"), ("k1", "b"), ("k1", "c"),
      ("k2", "b"), ("k2", "a"), // duplicate pair via second key
      ("k3", "z")
    ).toDF("bkey", "conv_id")
    val got = Pairs.candidatePairs(blocks).as[(String, String)].collect().toSet
    assert(got == Set(("a", "b"), ("a", "c"), ("b", "c")))
  }

  test("oversized blocks are dropped with telemetry") {
    val big = (0 until 30).map(i => ("hot", f"c$i%02d")) :+ (("ok", "a")) :+ (("ok", "b"))
    val blocks = big.toDF("bkey", "conv_id")
    val cfg = Pairs.PairConfig(blockSizeCap = 10, hotThreshold = 5, saltBuckets = 4)
    val dropped = Observation()
    val got = Pairs.candidatePairs(blocks, cfg, Some(dropped))
      .as[(String, String)].collect().toSet
    assert(got == Set(("a", "b")))
    val stats = Pairs.droppedBlockStats(blocks, cfg).head()
    assert(stats.getLong(0) == 1 && stats.getLong(1) == 30)
    // the in-band count, filled by candidatePairs' own sizing pass
    val inBand = Observed.required(spark, dropped, "dropped blocks")
    assert(inBand.getLong(0) == stats.getLong(0) && inBand.getLong(1) == stats.getLong(1))
  }

  /** The salted self-join must produce EXACTLY the same pair set as the
    * plain self-join (cross-salt completion, SURVEY.md §2.4 B2).
    */
  test("salted join == plain join on every block (property)") {
    for (trial <- 0 until 3; s <- Seq(2, 4, 7)) {
      val rows = (0 until 40).map { i =>
        (s"k${Hashing.range(3, trial.toLong, i.toLong, 7L)}", f"c$i%03d")
      }
      val blocks = rows.toDF("bkey", "conv_id")
      val plain = Pairs.candidatePairs(blocks,
        Pairs.PairConfig(hotThreshold = Int.MaxValue))
        .as[(String, String)].collect().toSet
      val salted = Pairs.saltedJoinWithin(blocks, s)
        .dropDuplicates("a_id", "b_id")
        .as[(String, String)].collect().toSet
      assert(salted == plain, s"trial $trial salt $s")
    }
  }

  test("hot blocks route through the salted path and lose no pairs") {
    val rows = (0 until 20).map(i => ("hot", f"c$i%02d")) ++ Seq(("cold", "a"), ("cold", "b"))
    val blocks = rows.toDF("bkey", "conv_id")
    val cfg = Pairs.PairConfig(blockSizeCap = 100, hotThreshold = 5, saltBuckets = 4)
    val got = Pairs.candidatePairs(blocks, cfg).count()
    assert(got == 20L * 19 / 2 + 1)
  }
}
