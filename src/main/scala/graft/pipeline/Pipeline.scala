package graft.pipeline

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.util.zip.ZipFile

import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.ParquetTableIO
import graft.ops._
import graft.util.{Hashing, Observed}

/** EP1′ (SURVEY.md §3.2): the flagship end-to-end ER run —
  * transcripts → collapse → features → blocks → candidate pairs →
  * scored pairs → connected-components loop → entity labels — with every
  * stage checkpointed through ParquetTableIO and manifest-driven resume: a
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
      runId: String = "run0")

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
    * fingerprint exists to prevent (round-2 ADVICE.md item 2). It leads
    * with `CodeFingerprint`, so checkpoints written by one build are
    * recomputed, not resumed, under another.
    */
  def configFingerprint(cfg: Config): String =
    s"$CodeFingerprint-${cfg.matchType}-${cfg.jaccardThreshold}-" +
      s"${cfg.tokenDfCap}-${cfg.pairCfg.blockSizeCap}-" +
      s"${cfg.pairCfg.hotThreshold}-${cfg.pairCfg.saltBuckets}"

  /** One sorted line per regular file under `root`: relative path, size,
    * mtime. Content is deliberately not read: recompiling and regenerating
    * both touch mtimes, and hashing every byte per check would cost a
    * measurable slice of what resuming saves.
    */
  def listing(root: Path): String =
    if (!Files.exists(root)) s"absent:$root"
    else Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(p => s"${root.relativize(p)}:${Files.size(p)}:${Files.getLastModifiedTime(p).toMillis}")
      .toSeq.sorted.mkString("\n"))

  /** Fingerprint of the code under `root`. A classes directory is its
    * `listing`, so a rebuilt or touched class file changes it; a jar is
    * listed by entry name, size and CRC, so a fresh copy of the same jar
    * (sbt's forked `run` copies the packaged jar per JVM) keeps it.
    */
  def codeFingerprint(root: Path): String = Hashing.md5Hex(
    if (Files.isDirectory(root)) listing(root)
    else Using.resource(new ZipFile(root.toFile))(_.entries().asScala
      .map(e => s"${e.getName}:${e.getSize}:${e.getCrc}").toSeq.sorted.mkString("\n")))

  /** The build every checkpoint is written under, computed once per JVM:
    * the code source that holds the graft classes, else (no code source)
    * every jar on the classpath. Any rebuild changes it, so no version
    * constant has to be bumped when a stage's semantics change.
    */
  lazy val CodeFingerprint: String =
    Option(getClass.getProtectionDomain.getCodeSource) match {
      case Some(src) => codeFingerprint(Paths.get(src.getLocation.toURI))
      case None => Hashing.md5Hex(sys.props.getOrElse("java.class.path", "")
        .split(File.pathSeparator).filter(_.endsWith(".jar"))
        .map(j => s"$j:${listing(Paths.get(j))}").sorted.mkString("\n"))
    }

  /** Generated classes Janino has compiled in this JVM so far: the
    * misses of Spark's codegen cache, whose size build.sbt sets.
    */
  def compiledClasses: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** A node or an input of a graph: its frame, whether it resumed, its
    * own seconds and generated-class compiles, and the listings of the
    * out-of-graph files it reads.
    */
  private final case class Built(df: DataFrame, resumed: Boolean, seconds: Double,
      compiles: Long, files: Set[String])

  /** The stage graph of one run: each node is computed or resumed on
    * first access, after the nodes it reads, so a resumed node still
    * re-runs the audit and the dropped-block warning upstream of it.
    */
  final class Graph(spark: SparkSession, transcripts: DataFrame, cfg: Config) {
    private val io = new ParquetTableIO(cfg.checkpointRoot)
    private lazy val fp = s"${fingerprint(transcripts)}-${configFingerprint(cfg)}"
    /** The nodes by name and the inputs by path. */
    private val built = TrieMap.empty[String, Built]

    /** Whether node `name` was resumed from its checkpoint. */
    def resumed(name: String): Boolean = built.get(name).exists(_.resumed)

    /** Wall seconds node `name` spent computing or resuming itself,
      * without the upstream nodes it forced first.
      */
    def seconds(name: String): Double = built.get(name).fold(0.0)(_.seconds)

    /** Generated classes node `name` compiled while computing or resuming
      * itself, counted like its `seconds`. Once a run's classes fit the
      * codegen cache, a second run in the same JVM compiles none.
      */
    def compiles(name: String): Long = built.get(name).fold(0L)(_.compiles)

    /** The parquet data at `path`, a file outside the graph, as a node
      * input: a node that reads it, directly or through other nodes,
      * carries its `listing` in its fingerprint.
      */
    def input(path: String): DataFrame = built.getOrElseUpdate(path,
      Built(spark.read.parquet(path), resumed = true, 0.0, 0L, Set(listing(Paths.get(path))))).df

    /** Node `name`, computed or resumed once per graph. The nodes and
      * inputs it `reads` are passed by value, so they are forced first
      * even when this node resumes without them, and its seconds and
      * compiles are its own. Its fingerprint is the graph's, extended by
      * the listings of the inputs it reads.
      */
    def node(name: String, reads: DataFrame*)(compute: => DataFrame): DataFrame =
      built.getOrElseUpdate(name, {
        val files = reads.flatMap(r => built.values.find(_.df eq r).toSeq.flatMap(_.files)).toSet
        val nodeFp =
          if (files.isEmpty) fp else s"$fp-${Hashing.md5Hex(files.toSeq.sorted.mkString("\n"))}"
        val (t0, c0) = (System.nanoTime(), compiledClasses)
        val (df, hit) = io.computeOrResume(spark, name, nodeFp, cfg.runId)(compute)
        Built(df, hit, (System.nanoTime() - t0) / 1e9, compiledClasses - c0, files)
      }).df

    lazy val records: DataFrame = {
      val recs = node("records")(Features.enrich(Collapse.collapse(transcripts)))
      // The audit re-derives collapse∘explode over every turn — the right
      // gate for a fresh records stage, but pure waste on every warm rerun
      // of an already-audited checkpoint (measured ~28 s per Pipeline.run
      // call at sf0.1, paid by EVERY pipeline-consuming query). A marker
      // file carrying the full (input × config × code) fingerprint
      // records that THIS checkpoint state passed; any change that would
      // recompute records also invalidates the marker.
      val auditMarker = Paths.get(cfg.checkpointRoot, "records", "_audit_fp")
      if (!Files.exists(auditMarker) || Files.readString(auditMarker) != fp) {
        val violations = Collapse.invariantViolations(transcripts, recs).count()
        require(violations == 0L,
          s"per-turn text-equality invariant violated: $violations rows")
        Files.writeString(auditMarker, fp)
      }
      recs
    }

    lazy val blocks: DataFrame =
      node("blocks", records)(Blocking.allBlocks(records, cfg.tokenDfCap))

    // Dropped-block telemetry: capping is NEVER silent (SURVEY.md §7.4
    // risk 2). The pairs sizing pass counts the over-cap blocks in-band;
    // the two numbers land in the pairs stage before its manifest (a
    // kill cannot commit pairs without them) and are re-read and
    // re-warned on every resume.
    lazy val pairs: DataFrame = {
      val droppedFile = Paths.get(cfg.checkpointRoot, "pairs", "_dropped_blocks.json")
      val computed = node("pairs", blocks) {
        val dropped = Observation()
        val p = Pairs.candidatePairs(blocks, cfg.pairCfg, Some(dropped))
        val d = Observed.required(spark, dropped, "dropped-block telemetry")
        Files.createDirectories(droppedFile.getParent)
        Files.writeString(droppedFile,
          s"""{"dropped_blocks":${d.getLong(0)},"dropped_rows":${d.getLong(1)}}""")
        p
      }
      val telemetry = Files.readString(droppedFile)
      val Seq(droppedBlocks, droppedRows) = Seq("dropped_blocks", "dropped_rows")
        .map(k => s""""$k":(\\d+)""".r.findFirstMatchIn(telemetry).get.group(1).toLong)
      if (droppedBlocks > 0) {
        System.err.println(s"[pipeline] dropped $droppedBlocks oversized " +
          s"blocks ($droppedRows rows) at blockSizeCap=${cfg.pairCfg.blockSizeCap}")
      }
      computed
    }

    lazy val scored: DataFrame = node("scored", pairs, records) {
      Scoring.score(Pairs.hydrate(pairs, records), cfg.matchType,
        cfg.jaccardThreshold).select(ScoredColumns.map(col): _*)
    }

    // Each CC iteration checkpoints durably — the "resumes idempotently
    // mid-clustering" requirement: a killed run's completed iterations
    // are read back, not recomputed.
    lazy val entities: DataFrame = node("entities", scored, records) {
      ConnectedComponents.run(Scoring.matchEdges(scored), records.select(col("conv_id")),
        checkpoint = (df, i) => node(s"cc_iter_$i")(df))
    }
  }

  /** The entity labels: the `entities` node of a fresh graph. */
  def run(spark: SparkSession, transcripts: DataFrame, cfg: Config): DataFrame =
    new Graph(spark, transcripts, cfg).entities
}
