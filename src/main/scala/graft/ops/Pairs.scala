package graft.ops

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** J1–J3 (SURVEY.md §2.5): within-block candidate-pair generation.
  *
  * The reference compares records procedurally inside each block
  * (reference: entityresolution.py::rswoosh nested loop [PK-high]); here
  * it is a self equi-join on the block key with `a.conv_id < b.conv_id`
  * dedup of unordered pairs, followed by a cross-key `dropDuplicates`
  * (one pair can share many keys).
  *
  * Skew defense in depth (SURVEY.md §7.4, BASELINE.json north_star):
  *  1. oversized blocks (> `blockSizeCap`) are DROPPED with telemetry —
  *     the reference's max_block_size semantics;
  *  2. kept-but-hot blocks (> `hotThreshold`) go through a *salted*
  *     self-join: each side is replicated across salt buckets so no
  *     single shuffle key carries a whole hot block, with full cross-salt
  *     pair completion (no pairs lost);
  *  3. AQE skew-join splitting backs the cold path at runtime.
  */
object Pairs {

  case class PairConfig(
      blockSizeCap: Int = 1000,
      hotThreshold: Int = 64,
      saltBuckets: Int = 8)

  /** Self-join within block keys → distinct unordered pairs (a_id < b_id).
    *
    * Single-pass over the block table (round-1 VERDICT "What's wrong" #5:
    * the sizes agg, the cold branch and the hot branch each rescanned —
    * and at pipeline depth re-derived — `blocks`, making the pairs phase
    * the slowest e2e stage). Blocks are sized with a partial aggregation
    * (map-side combine: the shuffled sizes table is one row per DISTINCT
    * key) joined back onto the block table — NOT a window: a
    * count-over-partition window buffers each block in a single task's
    * sorter and window partitions don't AQE-split, so one degenerate hot
    * key (an adversarial band/time bucket at 100 TB) becomes a straggler
    * holding its whole block in memory (round-2 VERDICT "What's wrong"
    * #4). The agg+join shape keeps every stage AQE-splittable and the
    * over-cap keys never rejoin at all (the filter runs on the tiny
    * sizes side, before the join fans back out). The sized table is
    * persisted once and consumed by both branches, and the result is
    * materialized eagerly (localCheckpoint) so the cache can be dropped
    * immediately. Callers that need durability re-write the slim
    * (a_id, b_id) output to their own checkpoint — cheap relative to
    * re-deriving the block table per consumer.
    *
    * @param dropped observed in-band on the sizes table before the cap
    *                filter: (dropped_blocks, dropped_rows), the same two
    *                numbers as `droppedBlockStats`, filled by the sizing
    *                pass below — no extra job
    */
  def candidatePairs(blocks: DataFrame, cfg: PairConfig = PairConfig(),
      dropped: Option[Observation] = None): DataFrame = {
    val sizes = Blocking.blockSizes(blocks)
    val keptSizes = dropped.fold(sizes)(observeDropped(sizes, cfg, _))
      .filter(col("block_size") <= cfg.blockSizeCap)
    val sized = blocks.join(keptSizes, "bkey")
      .select(col("bkey"), col("conv_id"), col("block_size"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // one cheap agg over the cache decides whether the salted hot path
      // is needed at all (usually not below bench scale)
      val hotRows = sized.filter(col("block_size") > cfg.hotThreshold).count()
      val cold = sized.filter(col("block_size") <= cfg.hotThreshold)
        .select(col("bkey"), col("conv_id"))
      val pairs =
        if (hotRows == 0) joinWithin(cold)
        else {
          val hot = sized.filter(col("block_size") > cfg.hotThreshold)
            .select(col("bkey"), col("conv_id"))
          joinWithin(cold).unionByName(saltedJoinWithin(hot, cfg.saltBuckets))
        }
      pairs.dropDuplicates("a_id", "b_id").localCheckpoint(true)
    } finally sized.unpersist(false)
  }

  /** Count of conversations in dropped (oversized) blocks — must be
    * reported, never silent (SURVEY.md §7.4 risk 2).
    */
  def droppedBlockStats(blocks: DataFrame, cfg: PairConfig = PairConfig()): DataFrame =
    Blocking.blockSizes(blocks)
      .filter(col("block_size") > cfg.blockSizeCap)
      .agg(count(lit(1)).as("dropped_blocks"),
        coalesce(sum(col("block_size")), lit(0L)).as("dropped_rows"))

  private def observeDropped(sizes: DataFrame, cfg: PairConfig,
      obs: Observation): DataFrame = {
    val over = col("block_size") > cfg.blockSizeCap
    sizes.observe(obs,
      count(when(over, lit(1))).as("dropped_blocks"),
      coalesce(sum(when(over, col("block_size"))), lit(0L)).as("dropped_rows"))
  }

  private def joinWithin(blocks: DataFrame): DataFrame = {
    val a = blocks.select(col("bkey"), col("conv_id").as("a_id"))
    val b = blocks.select(col("bkey"), col("conv_id").as("b_id"))
    a.join(b, Seq("bkey")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
  }

  /** Salted within-block self-join with cross-salt completion.
    *
    * Row with salt u joins as the a-side under keys (bkey, u, j) ∀ j ≥ u
    * and as the b-side under keys (bkey, i, u) ∀ i ≤ u. Every unordered
    * pair (salts u ≤ v) meets exactly under (bkey, u, v); the
    * `a_id < b_id` filter dedups the u == v bucket. Replication factor
    * (s+1)/2 per side, shuffle key fan-out s(s+1)/2 per hot block.
    */
  def saltedJoinWithin(blocks: DataFrame, s: Int): DataFrame = {
    val salted = blocks.withColumn("salt",
      pmod(xxhash64(col("conv_id")), lit(s.toLong)).cast("int"))
    val aSide = salted
      .withColumn("j", explode(sequence(col("salt"), lit(s - 1))))
      .select(col("bkey"), col("salt").as("i"), col("j"), col("conv_id").as("a_id"))
    val bSide = salted
      .withColumn("i", explode(sequence(lit(0), col("salt"))))
      .select(col("bkey"), col("i"), col("salt").as("j"), col("conv_id").as("b_id"))
    // the join's sides are salt-ordered, not id-ordered: a pair whose
    // smaller conv_id carries the larger salt meets with the ids swapped,
    // so canonicalize (min, max) AFTER the join instead of filtering a<b
    aSide.join(bSide, Seq("bkey", "i", "j"))
      .filter(col("a_id") =!= col("b_id"))
      .select(least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"))
  }

  /** J3: hydrate pairs (a_id, b_id, …) with `columns` of each side,
    * prefixed `a_` and `b_` (default: what Scoring.pairFeatures reads).
    * Two equi-joins; Catalyst/AQE broadcast if small. The b side is
    * `bSide` when given (attach: the catalog's `Entities.asRecords`).
    *
    * Ships `token_ids` (sorted 64-bit token hashes), NOT the string
    * token_set: tokens dominated the shuffled/cached bytes per pair, and
    * memory traffic was the measured non-scaling term at 32 cores
    * (BENCH.md round 1). Jaccard over the id arrays is value-identical
    * (Features.dictEncode).
    */
  def hydrate(pairs: DataFrame, records: DataFrame,
      columns: Seq[String] = Seq("token_ids", "first_text", "strong_keys", "ts0", "n_turns"),
      bSide: Option[DataFrame] = None): DataFrame = {
    def side(df: DataFrame, p: String) =
      df.select(("conv_id" +: columns).map(c => col(c).as(p + c)): _*)
    pairs
      .join(side(records, "a_"), col("a_id") === col("a_conv_id")).drop("a_conv_id")
      .join(side(bSide.getOrElse(records), "b_"), col("b_id") === col("b_conv_id"))
      .drop("b_conv_id")
  }
}
