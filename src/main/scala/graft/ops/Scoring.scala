package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.JaroWinkler.jaroWinkler

/** M1–M3 + F6/F7 (SURVEY.md §2.9/§2.3): pairwise feature vectors and
  * match decisions over hydrated candidate pairs.
  *
  * The reference's match(r1, r2, type) tests 'strong' (any shared strong
  * value), 'weak' (shared weak values ≥ threshold), 'weak_strong', and
  * 'exact' (reference: python/pairwise_features.py::match [PK-high,
  * SURVEY.md §0]); all four are pure Catalyst expressions here, plus a
  * logistic scorer with offline-fitted weights evaluated as a closed-form
  * column (no MLlib at inference — codegen-able and deterministic).
  */
object Scoring {

  /** Weak-match threshold on token-set Jaccard. Set with margin under the
    * planted corruption model (true-pair Jaccard ≥ ~0.65, random-pair
    * Jaccard ≤ ~0.3 at t2 scale). Jaccard is a ratio of integer set
    * sizes, so threshold comparisons are bit-exact across engines — the
    * DuckDB oracle reproduces edges exactly.
    */
  val DefaultJaccardThreshold = 0.45

  /** Exact rational token-set Jaccard (F7) over canonical (sorted,
    * deduped) value sets — allocation-free merge scan; bit-identical to
    * size(array_intersect)/size(array_union) on such inputs.
    */
  def jaccard(aSet: Column, bSet: Column): Column =
    graft.functions.JaccardSorted.jaccardSorted(aSet, bSet)

  /** Character-similarity inputs are capped at this prefix length:
    * Levenshtein is O(len_a × len_b) PER PAIR, so an unbounded text
    * field makes per-pair cost data-dependent and quadratic — measured
    * ~44 core-µs/pair on raw first_text at the bench tier (vs ~4 µs
    * capped), and one adversarially long turn would stall a whole
    * partition at 100 TB. The reference compares short attribute fields
    * (names/phones [PK-high]); a fixed prefix is the transcripts
    * equivalent. The DuckDB oracle applies the same substr(). (On the
    * synthetic tiers first_text is 40–100 chars, so the cap rarely
    * binds there — it exists to bound the adversarial tail.)
    */
  val MaxSimTextLen = 128

  /** Normalized Levenshtein similarity on short text fields (F7),
    * applied to a bounded prefix (MaxSimTextLen) of first_text, never
    * text_all, by the allocation-free capped bit-vector kernel
    * (`LevenshteinFast`, value-identical to Spark's built-in levenshtein
    * on substring'd inputs). The cap lives INSIDE the kernel (and as a
    * least() on the length), not as substring() columns — substring
    * allocates a new UTF8String per row per side, and allocation rate is
    * a measured non-scaling term at 32 cores.
    */
  def levSim(aRaw: Column, bRaw: Column): Column = {
    val maxLen = greatest(
      least(length(aRaw), lit(MaxSimTextLen)),
      least(length(bRaw), lit(MaxSimTextLen)))
    when(maxLen === 0, lit(1.0))
      .otherwise(lit(1.0) -
        graft.functions.LevenshteinFast
          .levenshteinFast(aRaw, bRaw, MaxSimTextLen).cast("double") /
          maxLen.cast("double"))
  }

  /** The columns `setFeatures` reads of each pair side. */
  val SetColumns: Seq[String] = Seq("token_ids", "strong_keys")

  /** strong_overlap and jaccard_tokens of a hydrated pair table: the
    * weak_strong rule's inputs, for records and fused entities alike.
    */
  def setFeatures(hydrated: DataFrame): DataFrame =
    hydrated
      .withColumn("strong_overlap",
        arrays_overlap(col("a_strong_keys"), col("b_strong_keys")))
      .withColumn("jaccard_tokens", jaccard(col("a_token_ids"), col("b_token_ids")))

  /** M2: pairwise feature vector over a hydrated pair table
    * (Pairs.hydrate output): `setFeatures`, then lev_first, jw_first,
    * dt_sec, dn_turns.
    */
  def pairFeatures(hydrated: DataFrame): DataFrame =
    setFeatures(hydrated)
      .withColumn("lev_first", levSim(col("a_first_text"), col("b_first_text")))
      .withColumn("jw_first", jaroWinkler(
        col("a_first_text"), col("b_first_text"), MaxSimTextLen))
      .withColumn("dt_sec",
        abs(col("a_ts0").cast("long") - col("b_ts0").cast("long")))
      .withColumn("dn_turns", abs(col("a_n_turns") - col("b_n_turns")))

  /** F8 (SURVEY.md §2.3): mean imputation for null numeric pair
    * features — the reference fills missing numeric pairwise features
    * with the column mean (reference: python/pairwise_features.py::
    * get_pairwise_features numeric imputation [PK-low, SURVEY.md §0]).
    * One scalar aggregate computes the means (partial-agg map-side
    * combine; avg already excludes nulls), then `na.fill` patches them
    * in — no shuffle beyond the one-row agg, and the fill is a pure
    * projection that stays inside whole-stage codegen. Columns should be
    * DOUBLE (na.fill truncates fills into integer columns).
    */
  def imputeMeans(df: DataFrame, cols: Seq[String]): DataFrame = {
    val row = df.agg(
      avg(col(cols.head)).as(cols.head),
      cols.tail.map(c => avg(col(c)).as(c)): _*).head()
    val fills = cols.zipWithIndex.collect {
      case (c, i) if !row.isNullAt(i) => c -> row.getDouble(i)
    }.toMap
    if (fills.isEmpty) df else df.na.fill(fills)
  }

  /** M1 rule matches, keyed like the reference's match_type. */
  def matchRule(matchType: String,
      jaccardThreshold: Double = DefaultJaccardThreshold): Column =
    matchType match {
      case "strong" => col("strong_overlap")
      case "weak" => col("jaccard_tokens") >= jaccardThreshold
      case "weak_strong" =>
        col("strong_overlap") || col("jaccard_tokens") >= jaccardThreshold
      case "exact" =>
        col("a_token_ids") === col("b_token_ids") &&
          col("a_strong_keys") === col("b_strong_keys")
      case other => throw new IllegalArgumentException(s"match_type: $other")
    }

  /** M3: logistic scorer — weights fitted offline on the planted
    * labeled-pair sample (see ScoringSpec), inlined as a closed-form
    * column expression so scoring stays inside whole-stage codegen.
    * Features: [strong_overlap, jaccard, lev_first, jw_first].
    */
  case class LogisticWeights(
      bias: Double, strong: Double, jaccard: Double, lev: Double, jw: Double)

  /** Default weights: strong evidence dominates; weak features vote.
    * Chosen so score ≥ 0.5 ⇔ (strong_overlap || jaccard ≥ ~0.45) on the
    * planted feature distribution — rule-equivalent decision boundary
    * with a smooth score for ranking.
    */
  val DefaultWeights = LogisticWeights(
    bias = -9.0, strong = 18.0, jaccard = 20.0, lev = 0.0, jw = 0.0)

  def logisticScore(w: LogisticWeights = DefaultWeights): Column = {
    // NULL-robust: a missing feature contributes zero evidence instead of
    // nulling the whole score (0.0 * NULL = NULL in Spark — one NULL
    // first_text would otherwise silently drop every pair touching that
    // record from any score-ranked consumer). Features stay nullable
    // upstream on purpose (imputeMeans is the F8 missing-value operator);
    // this is the last-line guard for consumers that score directly.
    val z = lit(w.bias) +
      when(col("strong_overlap"), lit(w.strong)).otherwise(lit(0.0)) +
      lit(w.jaccard) * coalesce(col("jaccard_tokens"), lit(0.0)) +
      lit(w.lev) * coalesce(col("lev_first"), lit(0.0)) +
      lit(w.jw) * coalesce(col("jw_first"), lit(0.0))
    lit(1.0) / (lit(1.0) + exp(-z))
  }

  /** Scored pairs: features + score + is_match (default weak_strong rule
    * — deterministic and oracle-reproducible).
    */
  def score(hydrated: DataFrame,
      matchType: String = "weak_strong",
      jaccardThreshold: Double = DefaultJaccardThreshold): DataFrame =
    pairFeatures(hydrated)
      .withColumn("score", logisticScore())
      .withColumn("is_match", matchRule(matchType, jaccardThreshold))

  /** Match edges for clustering. */
  def matchEdges(scored: DataFrame): DataFrame =
    scored.filter(col("is_match")).select(col("a_id"), col("b_id"))
}
