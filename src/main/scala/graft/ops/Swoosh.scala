package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Merge-enabled re-scoring — the R-Swoosh semantic the plain
  * pairwise-CC pipeline cannot express (reference:
  * entityresolution.py::rswoosh [PK-high, SURVEY.md §0]; gap analysis in
  * SURVEY.md §7.4 risk 1): a MERGED record (union of feature sets) can
  * match records neither member matched alone, e.g. fragments
  * A={a,b,c,d}, B={e,f,g,h} (strong-linked) and C={a,b,e,f} — C clears
  * the Jaccard threshold only against A∪B.
  *
  * The reference reaches the fixpoint with an in-memory compare/merge
  * queue; here each round is the distributed pipeline re-run at ENTITY
  * granularity, through the record path: fuse (Entities.fuse, which
  * also unions the members' token ids) → Entities.asRecords → strong
  * and rare-token blocks (Blocking) → Pairs.hydrate of the set columns →
  * Scoring.setFeatures + the weak_strong Scoring.matchRule → re-cluster
  * the entity graph → relabel members. Entity
  * counts shrink monotonically, so rounds are cheap relative to the
  * record-level pass, and one round captures the common fragment-bridge
  * cases; run to fixpoint with `refineToFixpoint`.
  */
object Swoosh {

  /** One re-score round over fused entities. `labels` is any
    * (conv_id, entity_id) labeling with canonical min-conv_id ids; the
    * result keeps that canonical form (min of mins).
    *
    * @param changedOnly when Some(df of entity_id): only blocks containing
    *   at least one listed entity are re-enumerated. Refinement only
    *   MERGES clusters (CC over a superset of the identity relation), so
    *   an entity untouched by round r has a bit-identical fused feature
    *   set in round r+1, and a block's existence/cap status can only
    *   change through a merge among its members — fused entities hold
    *   value-set UNIONS, so a token's entity-df and a block's size only
    *   shrink when two holders merge, and the merged (changed) entity is
    *   always still a member. Hence every block whose pair set could
    *   differ from round r contains a changed entity, and skipping
    *   changed-free blocks is EXACT (round-2 VERDICT "Next round" #7).
    *   Within a kept block all pairs are enumerated — including
    *   unchanged×unchanged ones: a block that newly drops under the
    *   token-df or block-size cap this round was never enumerated
    *   before, so its unchanged×unchanged pairs have NOT all been
    *   scored (a pair-level changed-only filter here would silently
    *   lose those merges and diverge from the full-refine fixpoint).
    * @param clusterSizeCap forwarded to Entities.fuse (which reports any
    *   dropped over-cap clusters itself) — a caller-tuned cap must not
    *   silently fall back to the default inside refine rounds.
    */
  def refine(records: DataFrame, labels: DataFrame,
      jaccardThreshold: Double = Scoring.DefaultJaccardThreshold,
      tokenDfCap: Int = Blocking.DefaultTokenDfCap,
      pairCfg: Pairs.PairConfig = Pairs.PairConfig(),
      changedOnly: Option[DataFrame] = None,
      clusterSizeCap: Int = ErMetrics.DefaultClusterSizeCap): DataFrame = {
    // Eagerly materialize the fused catalog ONCE: four downstream plans
    // consume it (the block chain, both hydration sides, and the CC node
    // universe), and without the checkpoint each re-ran the whole
    // records×labels fusion agg — the dominant cost of the round at
    // bench tier (round-3 VERDICT: er_f1_swoosh 161 s, mostly re-fusion).
    // Only the record-shaped columns a round reads are checkpointed, so
    // Catalyst prunes the string token union out of the fusion agg.
    val erecs = Entities.asRecords(Entities.fuse(records, labels, clusterSizeCap))
      .localCheckpoint(true)
    val blocks = Blocking.strongBlocks(erecs)
      .unionByName(Blocking.tokenBlocks(erecs, tokenDfCap))
    val pairs = changedOnly match {
      case None => Pairs.candidatePairs(blocks, pairCfg)
      case Some(chg) =>
        val ids = chg.select(col("entity_id"))
        // A block with no changed member has a bit-identical member and
        // pair set to the previous round (see the changedOnly contract
        // above — cap transitions always involve a changed member), so
        // restrict the block table to blocks that CONTAIN a changed
        // entity BEFORE the quadratic within-block enumeration
        // (round-3 VERDICT "Next round" #7: don't re-pay the whole
        // catalog's pair enumeration every refine round). The left-semi
        // on bkey keeps every member row of a kept block, so kept blocks
        // enumerate, cap, and salt exactly as before, and ALL their
        // pairs are scored — no pair-level changed filter, which would
        // be unsound across cap transitions. No forced broadcast: the
        // delta sets are localCheckpoint'd, so AQE sees their real size
        // and broadcasts exactly when they are genuinely small (round 1
        // of a fragmented corpus can have a catalog-sized delta — a
        // broadcast() hint there would be a driver OOM, not a speedup).
        val chgKeys = blocks
          .join(ids.withColumnRenamed("entity_id", "conv_id"),
            Seq("conv_id"), "left_semi")
          .select(col("bkey")).distinct()
        val restricted = blocks.join(chgKeys, Seq("bkey"), "left_semi")
        Pairs.candidatePairs(restricted, pairCfg)
    }
    val edges = Scoring.setFeatures(Pairs.hydrate(pairs, erecs, Scoring.SetColumns))
      .filter(Scoring.matchRule("weak_strong", jaccardThreshold))
      .select(col("a_id"), col("b_id"))
    val refined = ConnectedComponents.run(edges, erecs.select(col("conv_id")))
      .select(col("conv_id").as("old_id"), col("entity_id").as("new_id"))
    // LEFT join + coalesce: a record whose entity was excluded from the
    // round (over-cap fusion guard) keeps its old label instead of
    // silently vanishing from the labeling
    labels.select(col("conv_id"), col("entity_id").as("old_id"))
      .join(refined, Seq("old_id"), "left")
      .select(col("conv_id"),
        coalesce(col("new_id"), col("old_id")).as("entity_id"))
  }

  /** Iterate refine until the labeling stops changing (bounded) — the
    * swoosh fixpoint. Delta-driven: after the full first round, round
    * r+1 re-scores only pairs touching entities whose membership changed
    * in round r (merges only — see refine's changedOnly contract), and
    * convergence is simply "no label moved", so the signature agg of the
    * round-2 shape is no longer needed. Config caps are forwarded to
    * every round (round-2 ADVICE.md item 4: a caller-tuned first refine
    * silently fell back to default caps on later rounds).
    */
  def refineToFixpoint(records: DataFrame, labels: DataFrame,
      maxRounds: Int = 5,
      jaccardThreshold: Double = Scoring.DefaultJaccardThreshold,
      tokenDfCap: Int = Blocking.DefaultTokenDfCap,
      pairCfg: Pairs.PairConfig = Pairs.PairConfig(),
      clusterSizeCap: Int = ErMetrics.DefaultClusterSizeCap): DataFrame = {
    var cur = labels.localCheckpoint(true)
    var changed: Option[DataFrame] = None
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val next = refine(records, cur, jaccardThreshold, tokenDfCap, pairCfg,
        changedOnly = changed, clusterSizeCap = clusterSizeCap)
        .localCheckpoint(true)
      // entities that merged this round = new ids owning ≥1 moved record
      val delta = cur.select(col("conv_id"), col("entity_id").as("old_e"))
        .join(next, "conv_id")
        .filter(col("entity_id") =!= col("old_e"))
        .select(col("entity_id")).distinct().localCheckpoint(true)
      converged = delta.isEmpty
      changed = Some(delta)
      cur = next
    }
    cur
  }
}
