package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.gen.TranscriptGen

/** Maps the driver's sfDir to a synthetic-transcript tier (FIXTURES.md §A3)
  * and materializes the generated corpus on disk exactly once, so
  * (a) every `SparkEntry.queries` entry and the DuckDB oracle read the
  * same bytes, and (b) repeated queries in one Verify/Bench run don't
  * regenerate.
  */
object Tiers {

  /** entities → ~3× conversations (E[dups] = 3), ~25× turns. */
  case class Tier(name: String, entities: Long)

  val T1 = Tier("t1", 300)       // smoke (sf0.001): ~900 convs
  val T2 = Tier("t2", 3000)      // correctness / DuckDB oracle (sf0.01)
  val Bench = Tier("bench", 30000) // bench (sf0.1): ~90k convs, ~800k turns

  def tierFor(sfDir: String): Tier = {
    val base = Paths.get(sfDir).getFileName.toString
    base match {
      case "sf0.001" => T1
      case "sf0.01"  => T2
      case "sf0.1"   => Bench
      case _         => T2
    }
  }

  /** Root of everything the entry-point mains generate, checkpoint and
    * cache: the build's `target` directory, resolved against the working
    * directory (the project root, where sbt runs and forks).
    */
  val TargetRoot: String = Paths.get("target").toAbsolutePath.normalize.toString

  /** Stable on-disk home for generated data; referenced (hard-coded for
    * the t2 tier) by SparkEntry.oracleSql via read_parquet().
    */
  def dataDir(tier: Tier): String = s"$TargetRoot/graft-data/${tier.name}"

  /** The production pipeline's checkpoint root for `tier`. */
  def checkpointRoot(tier: Tier): String = s"$TargetRoot/graft-ckpt/${tier.name}"

  def transcriptsPath(tier: Tier): String = s"${dataDir(tier)}/transcripts.parquet"
  def labelsPath(tier: Tier): String = s"${dataDir(tier)}/labels.parquet"

  private def exists(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  /** Generate + write the tier's corpus if absent (deterministic: same
    * seed → same values regardless of partitioning). Returns transcripts.
    */
  def ensureTranscripts(spark: SparkSession, tier: Tier): DataFrame = {
    if (!exists(transcriptsPath(tier))) {
      TranscriptGen.transcripts(spark, tier.entities).toDF()
        .write.mode("overwrite").parquet(transcriptsPath(tier))
    }
    if (!exists(labelsPath(tier))) {
      TranscriptGen.labels(spark, tier.entities).toDF()
        .write.mode("overwrite").parquet(labelsPath(tier))
    }
    spark.read.parquet(transcriptsPath(tier))
  }

  def ensureLabels(spark: SparkSession, tier: Tier): DataFrame = {
    ensureTranscripts(spark, tier)
    spark.read.parquet(labelsPath(tier))
  }

  def transcriptsFor(spark: SparkSession, sfDir: String): DataFrame =
    ensureTranscripts(spark, tierFor(sfDir))

  def labelsFor(spark: SparkSession, sfDir: String): DataFrame =
    ensureLabels(spark, tierFor(sfDir))
}
