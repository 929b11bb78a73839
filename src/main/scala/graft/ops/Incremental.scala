package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** Incremental resolution: attach NEWLY-INGESTED records to an existing
  * entity catalog without re-clustering the corpus — the production
  * daily-ingest path at 100 TB, where a full re-run per batch is not an
  * option. (The reference resolves one static database per run
  * [PK-high, SURVEY.md §0]; incremental attach is the standing extension
  * every production deployment of Swoosh-family ER grows — cf.
  * Benjelloun et al., VLDB J. 2009 §8 incremental variants.)
  *
  * Design (all shuffles bounded by the same caps as the batch path):
  *  - the ENTITY side is indexed, not the record side: strong keys and
  *    df-capped rare tokens of the fused value sets become an inverted
  *    index (entity_id, key) — linear in catalog size, built once per
  *    batch and reusable across micro-batches;
  *  - new records explode their own keys and equi-join the index — the
  *    per-batch cost is O(batch × keys), independent of corpus size;
  *  - candidate (record, entity) pairs are scored with the SAME
  *    weak_strong rule as the batch pipeline (strong overlap OR fused
  *    token-set Jaccard ≥ τ);
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
    *   (conv_id, token_set, token_ids, strong_keys, ...)
    * @param entities   Entities.fuse output for the existing catalog
    *   (entity_id, token_union, strong_keys_union, ...)
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
    // Swoosh.refine's fused-catalog checkpoint): it feeds three separate
    // subtrees of the plan (strong index, token index + df-caps, and the
    // scoring hydration join), and without this each re-ran the
    // catalog-wide dictEncode pass. A catalog that already carries
    // `e_token_ids` (Stages.attachCatalog ships index-ready — what a
    // production deployment persists with its entity table) skips the
    // per-batch dictEncode entirely; the ids are the same
    // Features.dictEncode(token_union) either way, so candidates and
    // scores are identical. A supplied column of any other type (say,
    // string tokens under that name) is refused here, at plan time:
    // jaccard over it would not be the batch path's score.
    val supplied = entities.schema.find(_.name == "e_token_ids")
    supplied.foreach { f =>
      require(f.dataType match {
        case ArrayType(LongType, _) => true
        case _ => false
      }, s"attach: catalog column e_token_ids must be array<bigint> " +
        s"(Features.dictEncode of token_union), got ${f.dataType.simpleString}")
    }
    val ent = (if (supplied.isDefined) {
      entities.select(col("entity_id"), col("e_token_ids"),
        col("strong_keys_union"))
    } else {
      entities.select(col("entity_id"),
        Features.dictEncode(col("token_union")).as("e_token_ids"),
        col("strong_keys_union"))
    }).localCheckpoint(true)
    // entity-side inverted indexes; token keys df-capped ON THE CATALOG
    // (a token present in > cap entities separates nothing). The token
    // index is keyed by the 8-byte dictionary ids, not the strings —
    // this is the widest shuffle of the attach (catalog tokens × new
    // tokens), and ids cut its key bytes several-fold. Identical
    // candidates and df-caps to a string-keyed index under xxhash64
    // injectivity-in-practice — the same published argument the jaccard
    // scoring already rests on (Features.dictEncode scaladoc); the
    // string-keyed DuckDB oracle stays exact.
    val strongIdxAll = ent.select(col("entity_id"),
      explode(col("strong_keys_union")).as("bkey"))
    val strongIdx = strongIdxAll.join(
      strongIdxAll.groupBy("bkey").count()
        .filter(col("count") <= strongDfCap).select("bkey"),
      Seq("bkey"), "left_semi")
    val tokIdx = ent.select(col("entity_id"),
      explode(col("e_token_ids")).as("tok"))
    val rare = tokIdx.groupBy("tok").count()
      .filter(col("count") <= tokenDfCap).select("tok")
    val newSlim = newRecords.select(col("conv_id"),
      col("token_ids"), col("strong_keys"))
    val candStrong = newSlim
      .select(col("conv_id"), explode(col("strong_keys")).as("bkey"))
      .join(strongIdx, "bkey").select("conv_id", "entity_id")
    val candTok = newSlim
      .select(col("conv_id"), explode(col("token_ids")).as("tok"))
      .join(tokIdx.join(rare, "tok"), "tok").select("conv_id", "entity_id")
    val cand = candStrong.unionByName(candTok)
      .dropDuplicates("conv_id", "entity_id")
    // hydration is slim by construction: ent already carries only the id
    // arrays + strong keys (token_union was dropped at dictEncode time) —
    // shipping the wide string sets per candidate pair would double the
    // join bytes for nothing
    val scored = cand.join(newSlim, "conv_id").join(ent, "entity_id")
      .withColumn("strong_hit",
        arrays_overlap(col("strong_keys"), col("strong_keys_union")))
      .withColumn("jac", Scoring.jaccard(col("token_ids"), col("e_token_ids")))
      .filter(col("strong_hit") || col("jac") >= jaccardThreshold)
    val w = Window.partitionBy(col("conv_id"))
      .orderBy(col("strong_hit").desc, col("jac").desc, col("entity_id").asc)
    val best = scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("conv_id"), col("entity_id"))
    newRecords.select(col("conv_id")).join(best, Seq("conv_id"), "left")
      .select(col("conv_id"),
        coalesce(col("entity_id"), col("conv_id")).as("entity_id"))
  }
}
