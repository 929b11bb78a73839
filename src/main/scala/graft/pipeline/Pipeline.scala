package graft.pipeline

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetTableIO
import graft.ops._
import graft.util.Observed

/** EP1′ (SURVEY.md §3.2): the flagship end-to-end ER run —
  * transcripts → collapse → features → blocks → candidate pairs →
  * scored pairs → connected-components loop → entity labels — with every
  * stage checkpointed through TableIO and manifest-driven resume: a
  * rerun (including a kill mid-clustering) skips stages whose manifest
  * carries the same input fingerprint, so the run is idempotent
  * (BASELINE.json north_rule "resumable from checkpoint").
  */
object Pipeline {

  case class Config(
      checkpointRoot: String,
      matchType: String = "weak_strong",
      jaccardThreshold: Double = Scoring.DefaultJaccardThreshold,
      tokenDfCap: Int = Blocking.DefaultTokenDfCap,
      pairCfg: Pairs.PairConfig = Pairs.PairConfig(),
      runId: String = "run0",
      auditInvariant: Boolean = true)

  /** Bumped whenever a stage's semantics change: checkpoints written by
    * older code must not be resumed into newer pipelines.
    */
  val CodeVersion = "g7"

  /** What the `scored` checkpoint holds: the pair, its features, score
    * and decision — not the hydrated payload (token ids, first text,
    * strong keys) the features were computed from, which `records`
    * already stores once per conversation.
    */
  val ScoredColumns = Seq("a_id", "b_id", "strong_overlap", "jaccard_tokens",
    "lev_first", "jw_first", "dt_sec", "dn_turns", "score", "is_match")

  /** Cheap order-independent input fingerprint: one scan, (row count,
    * XOR of row hashes — overflow-free at any scale) over the
    * identity-carrying columns.
    */
  def fingerprint(transcripts: DataFrame): String = {
    val row = transcripts.agg(
      count(lit(1)),
      coalesce(bit_xor(xxhash64(col("conv_id"), col("turn_idx"), col("text"))), lit(0L))
    ).head()
    s"${row.getLong(0)}-${row.getLong(1)}"
  }

  /** Semantic-config fingerprint: a rerun against the same checkpointRoot
    * with a different matchType/threshold/cap/pair config must NOT reuse
    * stale checkpoints computed under the old config (round-1 ADVICE.md
    * item 2). runId and checkpointRoot are labels, not semantics, and are
    * excluded. The fields are serialized VERBATIM — a 32-bit hash of the
    * tuple (the round-2 shape) could collide two different configs and
    * silently resume stale checkpoints, the exact failure this
    * fingerprint exists to prevent (round-2 ADVICE.md item 2).
    */
  def configFingerprint(cfg: Config): String =
    s"$CodeVersion-${cfg.matchType}-${cfg.jaccardThreshold}-" +
      s"${cfg.tokenDfCap}-${cfg.pairCfg.blockSizeCap}-" +
      s"${cfg.pairCfg.hotThreshold}-${cfg.pairCfg.saltBuckets}"

  def run(spark: SparkSession, transcripts: DataFrame, cfg: Config): DataFrame = {
    val io = new ParquetTableIO(cfg.checkpointRoot)
    val fp = s"${fingerprint(transcripts)}-${configFingerprint(cfg)}"

    /** Compute-or-resume one stage. */
    def stage(name: String)(compute: => DataFrame): DataFrame =
      if (io.manifestInputFingerprint(name).contains(fp)) io.read(spark, name)
      else {
        io.dropFrom(name)
        io.write(compute, name, cfg.runId, fp)
      }

    val records = stage("records") {
      Features.enrich(Collapse.collapse(transcripts))
    }

    // The audit re-derives collapse∘explode over every turn — the right
    // gate for a fresh records stage, but pure waste on every warm rerun
    // of an already-audited checkpoint (measured ~28 s per Pipeline.run
    // call at sf0.1, paid by EVERY pipeline-consuming query). A marker
    // file carrying the full (input × config × code-version) fingerprint
    // records that THIS checkpoint state passed; any change that would
    // recompute records also invalidates the marker.
    if (cfg.auditInvariant) {
      val auditMarker = Paths.get(cfg.checkpointRoot, "records", "_audit_fp")
      val alreadyAudited =
        Files.exists(auditMarker) && Files.readString(auditMarker) == fp
      if (!alreadyAudited) {
        val violations = Collapse.invariantViolations(transcripts, records).count()
        require(violations == 0L,
          s"per-turn text-equality invariant violated: $violations rows")
        Files.writeString(auditMarker, fp)
      }
    }

    val blocks = stage("blocks") {
      Blocking.allBlocks(records, cfg.tokenDfCap)
    }

    // Dropped-block telemetry: capping is NEVER silent (SURVEY.md §7.4
    // risk 2). The pairs sizing pass counts the over-cap blocks in-band;
    // the two numbers land in the pairs stage before its manifest (a
    // kill cannot commit pairs without them) and are re-read and
    // re-warned on every resume.
    val droppedFile = Paths.get(cfg.checkpointRoot, "pairs", "_dropped_blocks.json")
    val pairs = stage("pairs") {
      val dropped = Observation()
      val computed = Pairs.candidatePairs(blocks, cfg.pairCfg, Some(dropped))
      val d = Observed.required(spark, dropped, "dropped-block telemetry")
      Files.createDirectories(droppedFile.getParent)
      Files.writeString(droppedFile,
        s"""{"dropped_blocks":${d.getLong(0)},"dropped_rows":${d.getLong(1)}}""")
      computed
    }
    val telemetry = Files.readString(droppedFile)
    val Seq(droppedBlocks, droppedRows) = Seq("dropped_blocks", "dropped_rows")
      .map(k => s""""$k":(\\d+)""".r.findFirstMatchIn(telemetry).get.group(1).toLong)
    if (droppedBlocks > 0) {
      System.err.println(s"[pipeline] dropped $droppedBlocks oversized " +
        s"blocks ($droppedRows rows) at blockSizeCap=${cfg.pairCfg.blockSizeCap}")
    }

    val scored = stage("scored") {
      Scoring.score(Pairs.hydrate(pairs, records), cfg.matchType,
        cfg.jaccardThreshold).select(ScoredColumns.map(col): _*)
    }

    val entities = stage("entities") {
      val edges = Scoring.matchEdges(scored)
      val nodes = records.select(col("conv_id"))
      // Each CC iteration checkpoints durably — the "resumes idempotently
      // mid-clustering" requirement: a killed run's completed iterations
      // are read back, not recomputed.
      ConnectedComponents.run(edges, nodes,
        checkpoint = (df, i) => stage(s"cc_iter_$i")(df))
    }
    entities
  }
}
