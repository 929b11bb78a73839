package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.util.Observed

/** C1/C2 (SURVEY.md §2.10): transitive closure of match edges via the
  * alternating large-star / small-star algorithm (Kiveris et al.,
  * "Connected components in MapReduce and beyond", SoCC 2014) — the
  * distributed replacement for the reference's in-memory R-Swoosh merge
  * loop (reference: entityresolution.py::rswoosh [PK-high, SURVEY.md
  * §0]; semantic-gap discussion in SURVEY.md §7.4).
  *
  * Node ids are conv_id strings; labels are the lexicographic component
  * minimum, which is exactly the pipeline's canonical entity_id. Each
  * iteration is checkpointed (plan truncation — iterative self-joins
  * otherwise grow the lineage exponentially, SURVEY.md §4.2) and the
  * fixpoint test is a cheap (count, hash-XOR) signature, observed on the
  * checkpoint write itself, not a full except().
  */
object ConnectedComponents {

  /** @param edges      undirected edges (a_id, b_id), any orientation
    * @param allNodes   single-column node universe (for singleton labels)
    * @param checkpoint lineage-truncation hook: localCheckpoint for
    *                   in-memory runs, a durable parquet write-read for
    *                   resumable pipeline runs (Pipeline wires that in).
    *                   It either runs its whole input or returns an
    *                   already-materialized equal table without running it.
    * @return labels(conv_id, entity_id = min conv_id of component)
    */
  def run(edges: DataFrame, allNodes: DataFrame, maxIter: Int = 50,
      checkpoint: (DataFrame, Int) => DataFrame =
        (df, _) => df.localCheckpoint(true)): DataFrame = {

    val spark = edges.sparkSession
    // The fixpoint signature rides along the checkpoint as an in-band
    // observation; only a hook that returned without running its input
    // (a resumed checkpoint) costs a separate signature agg.
    def step(df: DataFrame, i: Int): (DataFrame, (Long, Long)) = {
      val obs = Observation()
      val out = checkpoint(df.observe(obs, signatureExprs.head, signatureExprs.tail: _*), i)
      val sig = Observed.completed(spark, obs)
        .map(r => (r.getLong(0), r.getLong(1)))
        .getOrElse(signature(out))
      (out, sig)
    }

    var (e, sig) = step(canonical(
      edges.select(col(edges.columns(0)).as("u"), col(edges.columns(1)).as("v"))), 0)
    var converged = false
    var iter = 0

    while (!converged && iter < maxIter) {
      iter += 1
      val (next, nextSig) = step(canonical(smallStar(largeStar(e))), iter)
      converged = nextSig == sig
      sig = nextSig
      e = next
    }
    require(converged, s"connected components did not converge in $maxIter iterations")

    // At fixpoint every component is a star rooted at its minimum:
    // members point at the root; roots and singletons label themselves.
    val members = e.select(col("v").as("conv_id"), col("u").as("entity_id"))
    val roots = e.select(col("u").as("conv_id"), col("u").as("entity_id")).distinct()
    val nodeCol = allNodes.columns(0)
    val singletons = allNodes.select(col(nodeCol).as("conv_id"))
      .join(members.select("conv_id").unionByName(roots.select("conv_id")),
        Seq("conv_id"), "left_anti")
      .select(col("conv_id"), col("conv_id").as("entity_id"))
    members.unionByName(roots).unionByName(singletons)
  }

  /** Orient (min, max), drop self-loops, dedup. */
  private def canonical(e: DataFrame): DataFrame =
    e.filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"), greatest(col("u"), col("v")).as("v"))
      .distinct()

  /** large-star: ∀u, m = min(Γ(u) ∪ {u}); emit (m, v) ∀ v ∈ Γ(u), v > u. */
  private def largeStar(e: DataFrame): DataFrame = {
    val bid = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
    val mins = bid.groupBy("u").agg(min("v").as("mn"))
    bid.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(least(col("u"), col("mn")).as("u"), col("v"))
  }

  /** small-star on large-star output (edges already (small, large) after
    * canonicalization inside): ∀u over incoming smaller neighbors Γ⁻(u),
    * m = min(Γ⁻(u)); emit (m, v) ∀ v ∈ Γ⁻(u) and (m, u).
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(greatest(col("u"), col("v")).as("u"),
      least(col("u"), col("v")).as("v")).filter(col("u") =!= col("v"))
    val mins = o.groupBy("u").agg(min("v").as("mn"))
    o.join(mins, "u").select(col("mn").as("u"), col("v"))
      .unionByName(mins.select(col("mn").as("u"), col("u").as("v")))
  }

  /** Cheap fixpoint signature: (edge count, XOR of per-edge hashes).
    * Order-independent, overflow-free at any scale (vs a long sum, which
    * trips ANSI overflow); collision probability negligible over distinct
    * edges and bounded by maxIter anyway.
    */
  private def signatureExprs: Seq[Column] = Seq(count(lit(1)).as("edges"),
    coalesce(bit_xor(xxhash64(col("u"), col("v"))), lit(0L)).as("edge_xor"))

  private def signature(e: DataFrame): (Long, Long) = {
    val row = e.agg(signatureExprs.head, signatureExprs.tail: _*).head()
    (row.getLong(0), row.getLong(1))
  }
}
