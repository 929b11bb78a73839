package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.ParquetTableIO

/** Stage checkpoints: the manifest row count (observed in-band on the
  * write) and the `_metrics` lineage rows (read from the part-file
  * footers) must both equal the real row count, and the read-back
  * (which reuses the written frame's schema) must equal the input.
  */
class TableIOSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpRoot(): String = Files.createTempDirectory("graft-tableio-").toString

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))

  private def manifestRows(root: String, stage: String): Long =
    "\"rows\":(\\d+)".r.findFirstMatchIn(
      Files.readString(Path.of(root, stage, "_manifest.json"))).get.group(1).toLong

  private def metrics(root: String, stage: String): DataFrame =
    spark.read.parquet(s"$root/$stage/_metrics")

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** Field names and types; file sources read every level as nullable. */
  private def fields(df: DataFrame) = df.schema.map(f => (f.name, nullable(f.dataType)))

  private def nullable(t: DataType): DataType = t match {
    case ArrayType(e, _) => ArrayType(nullable(e), containsNull = true)
    case MapType(k, v, _) => MapType(nullable(k), nullable(v), valueContainsNull = true)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
    case other => other
  }

  /** Writes `df` as one stage, checks the contract, returns the lineage
    * partition ids.
    */
  private def checkRoundTrip(df: DataFrame): Seq[Int] = {
    val root = tmpRoot()
    try {
      val expected = sortedRows(df)
      val back = new ParquetTableIO(root).write(df, "s", "run0", "fp0")
      assert(manifestRows(root, "s") == expected.size)
      val m = metrics(root, "s")
      assert(fields(m) == ParquetTableIO.MetricsSchema.map(f => (f.name, f.dataType)))
      assert(m.agg(coalesce(sum("rows"), lit(0L))).head().getLong(0) == expected.size)
      assert(m.select("run_id", "stage", "input_fingerprint").distinct()
        .collect().forall(r => r.toSeq == Seq("run0", "s", "fp0")))
      assert(fields(back) == fields(df))
      // the schema-reusing read-back is the schema an inferring read sees
      assert(back.schema == new ParquetTableIO(root).read(spark, "s").schema)
      assert(sortedRows(back) == expected)
      m.select("partition_id").collect().map(_.getInt(0)).toSeq.sorted
    } finally deleteRecursively(Path.of(root))
  }

  private def frame(n: Long, partitions: Int): DataFrame =
    spark.range(0, n, 1, partitions).select(col("id"),
      (col("id") % 13).cast("string").as("k"),
      array(col("id"), col("id") * 2).as("arr"),
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") / 3.0).as("d"))

  test("multi-partition frame: one lineage row per write task") {
    assert(checkRoundTrip(frame(1000, 7)) == (0 until 7))
  }

  test("frame with empty partitions: counts still add up") {
    val df = frame(40, 10).filter(col("id") < 9)
    assert(df.rdd.glom().map(_.isEmpty).collect().count(identity) >= 5)
    checkRoundTrip(df)
  }

  test("empty frame: zero rows everywhere, schema kept") {
    checkRoundTrip(frame(100, 4).filter(lit(false)))
  }

  test("a checkpoint costs exactly one SQL execution") {
    val root = tmpRoot()
    try {
      val df = frame(1000, 7)
      val (executions, _) = SqlExecutions.count(spark) {
        new ParquetTableIO(root).write(df, "s", "run0", "fp0")
      }
      assert(executions == 1)
    } finally deleteRecursively(Path.of(root))
  }

  test("writing the same stage twice overwrites it cleanly") {
    val root = tmpRoot()
    try {
      val io = new ParquetTableIO(root)
      io.write(frame(1000, 7), "s", "run0", "fp0")
      val second = frame(10, 2).withColumn("extra", lit("x"))
      val back = io.write(second, "s", "run1", "fp1")
      assert(manifestRows(root, "s") == 10)
      assert(io.manifestInputFingerprint("s").contains("fp1"))
      assert(sortedRows(back) == sortedRows(second))
      assert(sortedRows(io.read(spark, "s")) == sortedRows(second))
      val m = metrics(root, "s")
      assert(m.select("partition_id").collect().map(_.getInt(0)).sorted.toSeq == Seq(0, 1))
      assert(m.agg(sum("rows")).head().getLong(0) == 10)
      assert(m.select("run_id").distinct().collect().map(_.getString(0)).toSeq == Seq("run1"))
    } finally deleteRecursively(Path.of(root))
  }
}
