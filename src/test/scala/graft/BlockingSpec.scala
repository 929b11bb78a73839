package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.ShingleMinHash
import graft.gen.TranscriptGen
import graft.ops.{Blocking, Collapse, Features, Pairs}
import graft.util.Hashing

class BlockingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val recs = Features.enrich(Collapse.collapse(
    TranscriptGen.transcripts(spark, 40).toDF()))

  test("strong blocks: one key per tool-signature, grouping same-entity convs") {
    val blocks = Blocking.strongBlocks(recs).as[(String, Long)].collect()
    // every key is the "strong"-tagged hash of one tool signature "T:…"
    val labelRows = Blocking.strongLabels(recs).as[(Long, String)].collect()
    val labels = labelRows.toMap
    assert(labels.size == labelRows.length, "two tool signatures share a key")
    assert(blocks.nonEmpty && blocks.forall(b => labels.get(b._2).exists(_.startsWith("T:"))))
    // uncorrupted duplicates of the same entity share the strong key
    val byConv = blocks.map(r => r._1 -> r._2).toMap
    val e0 = byConv.filter(_._1.startsWith("c0000000"))
    if (e0.size > 1) assert(e0.values.toSet.size <= 2)
  }

  test("token blocks exclude hot tokens (df cap)") {
    val cap = 10
    val blocks = Blocking.tokenBlocks(recs, cap)
    val maxDf = Blocking.blockSizes(blocks).agg(max("block_size")).head().getLong(0)
    assert(maxDf <= cap)
  }

  test("minhash bands: same-entity convs collide on >=1 band; blocking is complete for truth pairs") {
    val bands = Blocking.minhashBlocks(recs)
    val pairs = graft.ops.Pairs.candidatePairs(
      Blocking.allBlocks(recs), graft.ops.Pairs.PairConfig())
      .as[(String, String)].collect().toSet
    val truth = TranscriptGen.labels(spark, 40).toDF()
    val truthPairs = truth.as("a").join(truth.as("b"),
        col("a.entity_id") === col("b.entity_id") && col("a.conv_id") < col("b.conv_id"))
      .select(col("a.conv_id"), col("b.conv_id"))
      .as[(String, String)].collect().toSet
    val missed = truthPairs -- pairs
    // blocking recall: nearly all planted pairs captured at tiny scale
    assert(missed.size <= truthPairs.size / 20, s"missed ${missed.size}/${truthPairs.size}")
  }

  test("block size telemetry") {
    val sizes = Blocking.blockSizes(Blocking.allBlocks(recs))
    assert(sizes.filter(col("block_size") < 1).count() == 0)
  }

  test("single-block baseline (B3): full cross product, recall 1 on truth pairs") {
    val n = recs.count()
    val pairs = graft.ops.Pairs.candidatePairs(
      Blocking.singleBlock(recs),
      graft.ops.Pairs.PairConfig(blockSizeCap = Int.MaxValue))
    assert(pairs.count() == n * (n - 1) / 2)
    // no blocking → every truth pair is a candidate, by construction
    val truth = TranscriptGen.labels(spark, 40).toDF()
    val m = graft.ops.ErMetrics.blockingRecall(truth, pairs).head()
    assert(m.getDouble(2) == 1.0)
  }

  /** The string-keyed block derivation the bigint keys replaced: the
    * strong signature "T:…", "W:<token>" with the df cap counted on token
    * strings, the band labels "M|b|m0|m1" and "H:<hour>|<n_turns>".
    */
  private def stringKeyedBlocks(r: DataFrame, dfCap: Int): DataFrame = {
    val strong = r.select(col("conv_id"), explode(col("strong_keys")).as("bkey"))
    val toks = r.select(col("conv_id"), explode(col("token_set")).as("tok"))
    val rare = toks.groupBy("tok").count().filter(col("count") <= dfCap).select("tok")
    val token = toks.join(rare, "tok")
      .select(col("conv_id"), concat(lit("W:"), col("tok")).as("bkey"))
    val bands = r.select(col("conv_id"), explode(ShingleMinHash.bandLabels(col("mh_minima"),
      Features.NumBands, Features.RowsPerBand)).as("bkey"))
    val time = r.select(col("conv_id"), concat(lit("H:"),
      floor(unix_timestamp(col("ts0")) / 3600).cast("string"), lit("|"),
      col("n_turns").cast("string")).as("bkey"))
    strong.unionByName(token).unionByName(bands).unionByName(time)
  }

  /** A perfbench-shaped corpus: `burstPct` % of the entities have every
    * conversation moved into one of two hour slots (60 % / 40 %), so time
    * blocks (hour, n_turns) grow past the hot threshold and the cap.
    */
  private def burstRecords(entities: Int, burstPct: Int, seed: Long): DataFrame = {
    val hourA = 1767225600L / 3600 + entities / 2
    val rows = for {
      e <- 0L until entities.toLong
      d <- 0 until TranscriptGen.dupCount(seed, e)
      t <- {
        val turns = TranscriptGen.turnsFor(seed, e, d)
        if (Hashing.range(100, seed, 90L, e) >= burstPct) turns
        else {
          val hour = hourA + (if (Hashing.range(10, seed, 91L, e) < 6) 0 else 1)
          val start = hour * 3600L + Hashing.range(3000, seed, 92L, e, d.toLong)
          turns.map(r => r.copy(ts = new Timestamp((start + r.turn_idx * 10L) * 1000L)))
        }
      }
    } yield t
    Features.enrich(Collapse.collapse(rows.toDF())).localCheckpoint()
  }

  test("bigint keys: pair sets and dropped blocks equal the string-keyed derivation") {
    val cfgs = Seq(
      Pairs.PairConfig(blockSizeCap = 12, hotThreshold = 4, saltBuckets = 3),
      Pairs.PairConfig(blockSizeCap = 30, hotThreshold = 8, saltBuckets = 4),
      Pairs.PairConfig())
    var sawHot, sawDropped = false
    for ((seed, dfCap) <- Seq((7L, 10), (8L, 50))) {
      val r = burstRecords(150, 60, seed)
      val byId = Blocking.allBlocks(r, dfCap).localCheckpoint()
      val byString = stringKeyedBlocks(r, dfCap).localCheckpoint()
      val idSizes = Blocking.blockSizes(byId).select("block_size").as[Long].collect().sorted
      assert(idSizes.toSeq ==
        Blocking.blockSizes(byString).select("block_size").as[Long].collect().sorted.toSeq,
        s"seed $seed: block size multisets differ")
      cfgs.foreach { cfg =>
        val got = Pairs.candidatePairs(byId, cfg).as[(String, String)].collect().toSet
        val want = Pairs.candidatePairs(byString, cfg).as[(String, String)].collect().toSet
        assert(got == want, s"seed $seed, $cfg: ${(got -- want).size} extra, " +
          s"${(want -- got).size} missing pairs")
        val dropped = Pairs.droppedBlockStats(byId, cfg).as[(Long, Long)].head()
        assert(dropped == Pairs.droppedBlockStats(byString, cfg).as[(Long, Long)].head(),
          s"seed $seed, $cfg")
        sawDropped ||= dropped._1 > 0
        sawHot ||= idSizes.exists(n => n > cfg.hotThreshold && n <= cfg.blockSizeCap)
      }
    }
    assert(sawHot && sawDropped, "the corpus must reach both the salted and the dropped path")
  }
}
