package graft.io

import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.SparkToParquetSchemaConverter
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.util.Observed

/** Stage checkpoints as parquet with `_manifest.json` sidecars and
  * per-partition lineage/metrics rows (BASELINE.json north_star:
  * "checkpoint every stage ... with per-partition lineage + metrics rows
  * so any run resumes idempotently mid-clustering").
  *
  * A checkpoint costs exactly one Spark execution — the write itself.
  * The manifest's row count is observed in-band on the written frame,
  * the lineage rows come from the footers of the part files just
  * written (driver-side, no rescan), and the read-back reuses the
  * frame's schema (no inference job).
  */
class ParquetTableIO(root: String) {

  private def dataPath(stage: String) = s"$root/$stage/data"
  private def manifestPath(stage: String) = s"$root/$stage/_manifest.json"
  private def metricsPath(stage: String) = s"$root/$stage/_metrics"

  def exists(stage: String): Boolean =
    Files.exists(Paths.get(manifestPath(stage))) &&
      Files.exists(Paths.get(dataPath(stage), "_SUCCESS"))

  /** The input fingerprint recorded in the stage's manifest, or None if
    * the stage is absent/incomplete. The write order below (data first,
    * manifest last) makes this the freshness check for cross-JVM cache
    * reuse: a kill mid-write leaves either no manifest or a manifest
    * whose fingerprint no longer matches the caller's current one.
    */
  def manifestInputFingerprint(stage: String): Option[String] =
    if (!exists(stage)) None
    else {
      val m = Files.readString(Paths.get(manifestPath(stage)))
      """"input_fingerprint":"([^"]*)"""".r
        .findFirstMatchIn(m).map(_.group(1))
    }

  def read(spark: SparkSession, stage: String): DataFrame =
    spark.read.parquet(dataPath(stage))

  /** Compute-or-resume, the freshness rule of every checkpoint: the
    * stage as checkpointed when its manifest carries `inputFingerprint`,
    * else `compute` (which may write side files into the stage
    * directory) written over any stale copy; and whether it resumed.
    */
  def computeOrResume(spark: SparkSession, stage: String, inputFingerprint: String,
      runId: String)(compute: => DataFrame): (DataFrame, Boolean) =
    if (manifestInputFingerprint(stage).contains(inputFingerprint))
      (read(spark, stage), true)
    else {
      dropFrom(stage)
      (write(compute, stage, runId, inputFingerprint), false)
    }

  /** Write the stage output + manifest + metrics rows; returns a re-read
    * of the materialized data (plan truncation for iterative callers).
    */
  def write(df: DataFrame, stage: String, runId: String,
      inputFingerprint: String): DataFrame = {
    val spark = df.sparkSession
    val t0 = System.currentTimeMillis()
    val observed = Observation()
    df.observe(observed, count(lit(1)).as("rows"))
      .write.mode("overwrite").parquet(dataPath(stage))
    val wallMs = System.currentTimeMillis() - t0
    val rowCount = Observed.required(spark, observed, s"stage $stage row count").getLong(0)

    // Per-partition lineage rows (E4): one per write task, stamped with
    // run + input fingerprint.
    val conf = spark.sparkContext.hadoopConfiguration
    val perTask = footerRows(conf, dataPath(stage))
    if (perTask.values.sum != rowCount)
      throw new IllegalStateException(s"stage $stage: part-file footers hold " +
        s"${perTask.values.sum} rows, the write observed $rowCount")
    writeMetrics(conf, metricsPath(stage), perTask.toSeq.sorted,
      runId, stage, wallMs, inputFingerprint)

    val manifest =
      s"""{"stage":"$stage","run_id":"$runId","rows":$rowCount,""" +
        s""""wall_ms":$wallMs,"input_fingerprint":"$inputFingerprint"}"""
    Files.createDirectories(Paths.get(root, stage))
    Files.writeString(Paths.get(manifestPath(stage)), manifest,
      StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    spark.read.schema(df.schema).parquet(dataPath(stage))
  }

  /** Row counts of the part files under `dir`, summed per write task
    * (the task's partition id is the `part-NNNNN` number).
    */
  private def footerRows(conf: Configuration, dir: String): Map[Int, Long] = {
    val path = new Path(dir)
    path.getFileSystem(conf).listStatus(path)
      .filter(_.getPath.getName.startsWith("part-"))
      .map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        val n = try reader.getRecordCount finally reader.close()
        ParquetTableIO.partId(st.getPath.getName) -> n
      }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** The lineage rows as one snappy parquet file carrying Spark's row
    * metadata, written from the driver.
    */
  private def writeMetrics(conf: Configuration, dir: String, perTask: Seq[(Int, Long)],
      runId: String, stage: String, wallMs: Long, inputFingerprint: String): Unit = {
    val path = new Path(dir)
    path.getFileSystem(conf).delete(path, true)
    val schema = new SparkToParquetSchemaConverter().convert(ParquetTableIO.MetricsSchema)
    val writer = ExampleParquetWriter.builder(new Path(path, "part-00000.snappy.parquet"))
      .withConf(conf).withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withExtraMetaData(Map(ParquetTableIO.SparkRowMetadataKey ->
        ParquetTableIO.MetricsSchema.json).asJava)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try perTask.foreach { case (partitionId, n) =>
      writer.write(groups.newGroup().append("partition_id", partitionId)
        .append("rows", n).append("run_id", runId).append("stage", stage)
        .append("wall_ms", wallMs).append("input_fingerprint", inputFingerprint))
    } finally writer.close()
  }

  def dropFrom(stage: String): Unit = {
    val p = Paths.get(root, stage)
    if (Files.exists(p)) {
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
    }
  }
}

object ParquetTableIO {

  /** Columns of a stage's `_metrics` lineage table. */
  val MetricsSchema: StructType = StructType(Seq(
    StructField("partition_id", IntegerType, nullable = false),
    StructField("rows", LongType, nullable = false),
    StructField("run_id", StringType, nullable = false),
    StructField("stage", StringType, nullable = false),
    StructField("wall_ms", LongType, nullable = false),
    StructField("input_fingerprint", StringType, nullable = false)))

  /** The footer key Spark's parquet writer stores its schema under. */
  private val SparkRowMetadataKey = "org.apache.spark.sql.parquet.row.metadata"

  private val PartFile = """part-(\d+).*""".r

  private def partId(fileName: String): Int = fileName match {
    case PartFile(n) => n.toInt
    case _ => throw new IllegalArgumentException(s"not a part file: $fileName")
  }
}
