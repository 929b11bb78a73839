package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Incremental resolution: attach NEWLY-INGESTED records to an existing
  * entity catalog without re-clustering the corpus — the production
  * daily-ingest path at 100 TB, where a full re-run per batch is not an
  * option. (The reference resolves one static database per run
  * [PK-high, SURVEY.md §0]; incremental attach is the standing extension
  * every production deployment of Swoosh-family ER grows — cf.
  * Benjelloun et al., VLDB J. 2009 §8 incremental variants.)
  *
  * Design (all shuffles bounded by the same caps as the batch path). The
  * catalog is `Entities.fuse` output; `Entities.asRecords` makes its
  * entities records, so attach blocks, hydrates and matches through the
  * record path:
  *  - the ENTITY side is indexed, not the record side: its strong blocks
  *    (kept where ≤ strongDfCap entities hold the key) and df-capped
  *    token blocks (`Blocking`) form one (bkey, entity) index on the
  *    batch path's `bigint` keys — linear in catalog size;
  *  - new records explode their strong-key hashes and token ids, with
  *    no cap, and equi-join the index — the per-batch cost is
  *    O(batch × keys), independent of corpus size;
  *  - candidates are hydrated by `Pairs.hydrate` and decided by
  *    `Scoring.setFeatures` and the SAME weak_strong `Scoring.matchRule`
  *    as the batch pipeline (strong overlap OR token Jaccard ≥ τ);
  *  - each record attaches to its best match (strong-hit first, then
  *    Jaccard desc, then entity_id asc — fully deterministic), or mints
  *    itself as a new singleton entity (entity_id = conv_id), exactly
  *    like the batch CC labeling does for singletons.
  *
  * The window is partitioned by conv_id with group size bounded by the
  * candidate caps — no hot-key risk. Records that should ALSO merge
  * with each other inside the same new batch (new-new duplicates) are
  * handled by running the batch pipeline on the batch itself first, or
  * by a periodic full re-cluster; attach is deliberately record→catalog
  * only, which keeps it idempotent and embarrassingly parallel.
  */
object Incremental {

  /** @param newRecords Features.enrich output for the new batch
    *   (conv_id, token_ids, strong_keys, ...)
    * @param entities   Entities.fuse output for the existing catalog
    *   (entity_id, token_ids, strong_keys_union, ...)
    * @param strongDfCap strong keys held by more entities than this are
    *   excluded from CANDIDATE GENERATION (scoring still sees the full
    *   key sets) — the attach analogue of the batch path's
    *   blockSizeCap-dropped strong blocks: one degenerate hot signature
    *   shared by 100k catalog entities would otherwise fan every
    *   matching batch record out catalog-wide, unbounded by anything
    *   upstream, and blow the per-record best-match window group.
    * @return (conv_id, entity_id) — one row per new record
    */
  def attach(newRecords: DataFrame, entities: DataFrame,
      jaccardThreshold: Double = Scoring.DefaultJaccardThreshold,
      tokenDfCap: Int = Blocking.DefaultTokenDfCap,
      strongDfCap: Int = Pairs.PairConfig().blockSizeCap): DataFrame = {
    // materialize the slim catalog projection ONCE (same pattern as
    // Swoosh.refine's fused-catalog checkpoint): it feeds the strong
    // index, the token index + df-caps, and the hydration join
    val catalog = Entities.asRecords(entities).localCheckpoint(true)
    val strong = Blocking.strongBlocks(catalog)
    val index = strong
      .join(Blocking.blockSizes(strong).filter(col("block_size") <= strongDfCap),
        Seq("bkey"), "left_semi")
      .unionByName(Blocking.tokenBlocks(catalog, tokenDfCap))
      .select(col("bkey"), col("conv_id").as("b_id"))
    val keys = Blocking.strongBlocks(newRecords)
      .unionByName(newRecords.select(col("conv_id"), explode(col("token_ids")).as("bkey")))
      .select(col("bkey"), col("conv_id").as("a_id"))
    val cand = keys.join(index, "bkey").select(col("a_id"), col("b_id"))
      .dropDuplicates("a_id", "b_id")
    val matched = Scoring.setFeatures(
        Pairs.hydrate(cand, newRecords, Scoring.SetColumns, Some(catalog)))
      .filter(Scoring.matchRule("weak_strong", jaccardThreshold))
    val w = Window.partitionBy(col("a_id")).orderBy(
      col("strong_overlap").desc, col("jaccard_tokens").desc, col("b_id").asc)
    val best = matched.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("a_id").as("conv_id"), col("b_id").as("entity_id"))
    newRecords.select(col("conv_id")).join(best, Seq("conv_id"), "left")
      .select(col("conv_id"),
        coalesce(col("entity_id"), col("conv_id")).as("entity_id"))
  }
}
