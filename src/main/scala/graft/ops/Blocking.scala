package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.ShingleMinHash

/** B1–B4 (SURVEY.md §2.4): blocking-key tables. The reference builds
  * in-memory inverted indexes value → record-id set split into strong /
  * weak blocks (reference: python/blocking.py::BlockingScheme [PK-high,
  * SURVEY.md §0]); here a block is purely *logical* — a row
  * (conv_id, bkey) — and grouping is deferred to the pair self-join so
  * Catalyst/AQE pick the physical strategy.
  *
  * Four block families, every key a `bigint` derived from values the
  * records already hold, so the sizing agg, the pair self-join and the
  * pair dedup shuffle 8-byte keys:
  *  - strong: xxhash64("strong", tool-signature key);
  *  - weak/token: the rare tokens' dictionary ids (`token_ids`), with the
  *    document-frequency cap counted on ids;
  *  - weak/LSH: one key per MinHash band, xxhash64("minhash", band, its
  *    `RowsPerBand` minima), computed by the ShingleMinHash kernel;
  *  - weak/time: xxhash64("time", hour bucket, n_turns).
  * Contract outputs print the keys as the strings they hash ("T:…",
  * "W:tok", "M|b|m0|m1", "H:hour|n") through the `*Labels` tables.
  *
  * Collision argument (as for `token_ids`, Features.dictEncode): blocks
  * are the equivalence classes of the string keys exactly unless two
  * DISTINCT string keys — within a family or across families — hash to
  * the same 64 bits; family tags make a cross-family collision as rare
  * as any other. With n distinct keys over all families,
  * P[any collision] ≈ n²/2⁶⁵. Measured distinct keys on the `records`
  * checkpoints (DuckDB; tokens before the df cap, since every token id
  * is hashed): t1 strong 258, token 4,792, MinHash 10,806, time 300 —
  * n = 16,156, P ≈ 7·10⁻¹²; t2 (sf0.01) strong 2,564, token 23,168,
  * MinHash 108,904, time 3,000 — n = 137,636, P ≈ 5·10⁻¹⁰. The DuckDB
  * string-keyed oracles of the block sizes and the four-family pair
  * universe are hash-exact at t2. A collision merges two blocks: it adds
  * candidate pairs across them (scoring still decides every match) and
  * can push the merged block over the cap; it never drops a pair below
  * the cap. At 10¹⁰ distinct keys, widen to 128 bits as the dictEncode
  * scaladoc describes.
  */
object Blocking {

  /** Tokens with df above this are useless as blocks (Zipf hot keys) —
    * they are excluded BEFORE pairing, mirroring the reference's
    * max_block_size defense.
    */
  val DefaultTokenDfCap = 50

  private def strongKey(key: Column): Column = xxhash64(lit("strong"), key)

  private def hourBucket(bucketSecs: Int): Column =
    floor(unix_timestamp(col("ts0")) / bucketSecs)

  private def bandKeys: Column =
    ShingleMinHash.bandKeys(col("mh_minima"), Features.NumBands, Features.RowsPerBand)

  def strongBlocks(records: DataFrame): DataFrame =
    records.select(col("conv_id"), explode(col("strong_keys")).as("key"))
      .select(col("conv_id"), strongKey(col("key")).as("bkey"))

  /** Weak blocks from rare tokens: explode the token ids, keep ids whose
    * document frequency ≤ cap. The df filter is an aggregation +
    * self-join on the exploded table (same shuffle key, co-located).
    * `token_ids` is a set per record, so an id's df is its token's df.
    */
  def tokenBlocks(records: DataFrame, dfCap: Int = DefaultTokenDfCap): DataFrame = {
    val exploded = records.select(col("conv_id"), explode(col("token_ids")).as("bkey"))
    val rare = exploded.groupBy("bkey").count().filter(col("count") <= dfCap)
      .select(col("bkey"))
    exploded.join(rare, "bkey").select(col("conv_id"), col("bkey"))
  }

  def minhashBlocks(records: DataFrame): DataFrame =
    records.select(col("conv_id"), explode(bandKeys).as("bkey"))

  /** Weak time-locality blocks: (ts0 hour bucket, n_turns). Duplicate
    * conversations (retries, resumes, re-ingests) cluster in time, so a
    * coarse time bucket recovers candidates that share NO rare token and
    * miss every LSH band — the residual recall tail at t2 (49 FN pairs,
    * all strong-key-dropped singletons with only Zipf-hot tokens).
    * Candidate-only: precision is still protected by scoring (Jaccard ≥
    * τ). At 100 TB a raw hour bucket is a monster block; n_turns
    * sub-keys it and the block-size cap + salting in candidatePairs are
    * the real defense — when temporal locality doesn't exist in the
    * corpus these blocks die at the cap, with telemetry, costing
    * nothing downstream.
    */
  def timeBlocks(records: DataFrame, bucketSecs: Int = 3600): DataFrame =
    records.select(col("conv_id"),
      xxhash64(lit("time"), hourBucket(bucketSecs), col("n_turns")).as("bkey"))

  /** B3: the no-blocking baseline — every record in ONE block, so the
    * pair join degenerates to the full cross product (reference:
    * BlockingScheme(single_block=True) [PK-med, SURVEY.md §0]). Tiny-
    * scale correctness baseline ONLY: it is the quadratic design every
    * other operator here exists to avoid; candidatePairs must be called
    * with an uncapped PairConfig for it to pass anything through.
    */
  def singleBlock(records: DataFrame): DataFrame =
    records.select(col("conv_id"), lit(0L).as("bkey"))

  /** The one-byte `family` tag of each `allBlocks` row. */
  object Family {
    val Strong: Byte = 0
    val Token: Byte = 1
    val Minhash: Byte = 2
    val Time: Byte = 3
  }

  /** All block families unioned (strong ∪ rare-token ∪ LSH ∪ time), each
    * row tagged with its `Family`: (conv_id, bkey, family). Pair
    * generation and block sizing read only `bkey` and `conv_id`.
    */
  def allBlocks(records: DataFrame, tokenDfCap: Int = DefaultTokenDfCap): DataFrame =
    Seq(Family.Strong -> strongBlocks(records),
      Family.Token -> tokenBlocks(records, tokenDfCap),
      Family.Minhash -> minhashBlocks(records),
      Family.Time -> timeBlocks(records))
      .map { case (f, b) => b.withColumn("family", lit(f)) }
      .reduce(_ unionByName _)

  /** Per-key block sizes — telemetry + input to the cap/salt decisions
    * (reference BlockingScheme.max_block_size analogue).
    */
  def blockSizes(blocks: DataFrame): DataFrame =
    blocks.groupBy("bkey").agg(count(lit(1)).as("block_size"))

  // ---- string labels of the keys, for contract outputs ----------------

  /** (bkey, label) of every strong key: label "T:<len>:<tool>|…". */
  def strongLabels(records: DataFrame): DataFrame =
    records.select(explode(col("strong_keys")).as("label")).distinct()
      .select(strongKey(col("label")).as("bkey"), col("label"))

  /** (bkey, label) of every token: label "W:<token>". */
  def tokenLabels(records: DataFrame): DataFrame =
    records.select(explode(col("token_set")).as("tok")).distinct()
      .select(xxhash64(col("tok")).as("bkey"), concat(lit("W:"), col("tok")).as("label"))

  /** (bkey, label) of every band: label "M|<band>|<min0>|<min1>". */
  def minhashLabels(records: DataFrame): DataFrame =
    records.select(explode(arrays_zip(bandKeys.as("bkey"),
        ShingleMinHash.bandLabels(col("mh_minima"), Features.NumBands,
          Features.RowsPerBand).as("label"))).as("b"))
      .select(col("b.bkey"), col("b.label")).distinct()

  /** (bkey, label) of every time block: label "H:<hour>|<n_turns>". */
  def timeLabels(records: DataFrame, bucketSecs: Int = 3600): DataFrame =
    records.select(hourBucket(bucketSecs).as("hour"), col("n_turns")).distinct()
      .select(xxhash64(lit("time"), col("hour"), col("n_turns")).as("bkey"),
        concat(lit("H:"), col("hour").cast("string"), lit("|"),
          col("n_turns").cast("string")).as("label"))

  /** `blockSizes` of `blocks` with each key printed as its label. */
  def labelledSizes(blocks: DataFrame, labels: DataFrame): DataFrame =
    blockSizes(blocks).join(labels, "bkey")
      .select(col("label").as("bkey"), col("block_size"))
}
