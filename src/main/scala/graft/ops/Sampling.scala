package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** S4 + M4 (SURVEY.md §2.1/§2.9): deterministic splits and balanced
  * labeled-pair sampling.
  *
  * Both use an md5-derived integer hash instead of `randomSplit` /
  * `sampleBy`: the reference samples with a seeded RNG over an in-memory
  * dict (reference: python/database.py::Database.sample_and_remove and
  * python/pairwise_features.py::generate_pair_seed [PK-med, SURVEY.md
  * §0]), which has no stable distributed analogue — Spark's seeded
  * sampling is partition-layout-dependent. A value hash is reproducible
  * under any repartitioning, on any engine (the DuckDB oracle evaluates
  * the identical expression), and needs no driver-side RNG state.
  */
object Sampling {

  /** Deterministic bucket in [0, buckets): the first 8 hex chars of
    * md5(key) parsed as an integer, mod buckets. Engine-portable: DuckDB
    * computes the same value as `('0x' || substr(md5(key),1,8))::BIGINT`.
    */
  def hashBucket(key: Column, buckets: Long): Column =
    pmod(conv(substring(md5(key), 1, 8), 16, 10).cast("long"), lit(buckets))

  /** S4: deterministic train/test split — rows whose bucket falls below
    * `trainBuckets` train, the rest test. One narrow projection, no
    * shuffle, no RNG.
    */
  def hashSplit(df: DataFrame, keyCol: String, nBuckets: Int = 10,
      trainBuckets: Int = 8): (DataFrame, DataFrame) = {
    val b = hashBucket(col(keyCol), nBuckets.toLong)
    (df.filter(b < trainBuckets), df.filter(b >= trainBuckets))
  }

  /** J4: label candidate pairs against truth — is_match ⇔ both sides
    * share a truth entity. Inner joins: pairs whose sides lack a truth
    * label are dropped (the "labeled pairs at shared blocking keys"
    * subset, BASELINE.json:2).
    */
  def labeledPairs(pairs: DataFrame, truthLabels: DataFrame): DataFrame = {
    val ta = truthLabels.select(col("conv_id").as("a_id"), col("entity_id").as("ea"))
    val tb = truthLabels.select(col("conv_id").as("b_id"), col("entity_id").as("eb"))
    pairs.join(ta, "a_id").join(tb, "b_id")
      .select(pairs.columns.toIndexedSeq.map(col) :+ (col("ea") === col("eb")).as("is_match"): _*)
  }

  /** M4: class-balanced sample of labeled pairs via per-class
    * hash-threshold sampling — every executor decides keep/drop locally
    * from the pair's own hash (no global sort, no per-class single
    * reducer: the scale-safe alternative to rank-based exact balancing).
    * Class thresholds use floor division so the DuckDB oracle reproduces
    * the sample exactly; the resulting balance is approximate (binomial
    * around the target), which is all a training sample needs.
    */
  def balancedLabeledPairs(labeled: DataFrame): DataFrame = {
    val counts = labeled.groupBy("is_match").count().collect()
      .map(r => r.getBoolean(0) -> r.getLong(1)).toMap
    val nPos = counts.getOrElse(true, 0L)
    val nNeg = counts.getOrElse(false, 0L)
    val target = math.min(nPos, nNeg)
    val M = 1000000L
    val thPos = if (nPos == 0) 0L else target * M / nPos
    val thNeg = if (nNeg == 0) 0L else target * M / nNeg
    val bucket = hashBucket(concat(col("a_id"), lit("|"), col("b_id")), M)
    labeled.filter(bucket < when(col("is_match"), lit(thPos)).otherwise(lit(thNeg)))
  }
}
