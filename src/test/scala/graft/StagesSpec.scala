package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Blocking, Pairs, Scoring}
import graft.pipeline.Pipeline

/** Pins what Stages composes from the pipeline's nodes: the block
  * families as `family` filters of the `blocks` node, the three-family
  * universe as the SQL universe ∪ the time-family delta, and the scored
  * SQL universe as the pipeline's `scored` node restricted to the SQL
  * universe. Both rest on disjoint bkey namespaces (adding block families
  * never changes a strong/token block's cap fate, so sqlUniversePairs ⊆
  * fullPairs) and on row-wise-pure scoring — exactly what these multiset
  * equalities test.
  */
class StagesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val dir = "/root/testdata/sf0.001"

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.count() == b.count())
    assert(a.exceptAll(b).isEmpty)
    assert(b.exceptAll(a).isEmpty)
  }

  test("block families are served from the blocks node, which they partition") {
    val records = Stages.records(spark, dir)
    assertSameRows(Stages.strongBlocks(spark, dir), Blocking.strongBlocks(records))
    assertSameRows(Stages.tokenBlocks(spark, dir), Blocking.tokenBlocks(records))
    assertSameRows(Stages.timeBlocks(spark, dir), Blocking.timeBlocks(records))
    val root = Tiers.checkpointRoot(Tiers.tierFor(dir))
    val blocks = spark.read.parquet(s"$root/blocks/data")
    val families = Seq(Blocking.Family.Strong, Blocking.Family.Token,
      Blocking.Family.Minhash, Blocking.Family.Time)
    assert(families.distinct.size == 4)
    assert(blocks.filter(col("family").isin(families: _*)).count() == blocks.count())
    assertSameRows(blocks.filter(col("family") === Blocking.Family.Minhash)
      .select("conv_id", "bkey"), Blocking.minhashBlocks(records))
    val stageDirs = Files.list(Path.of(root)).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!stageDirs.exists(_.startsWith("blocks_")), s"block family stages in $stageDirs")
  }

  test("delta-composed fullPairs equals candidatePairs over all four families") {
    val composed = Stages.fullPairs(spark, dir)
    val direct = Pairs.candidatePairs(
      graft.ops.Blocking.allBlocks(Stages.records(spark, dir)))
    assert(composed.count() == direct.count())
    assert(composed.except(direct).count() == 0L)
    assert(direct.except(composed).count() == 0L)
  }

  test("delta-composed pairsUniverse3 equals candidatePairs over the three families") {
    val composed = Stages.pairsUniverse3(spark, dir)
    val direct = Pairs.candidatePairs(
      Stages.strongBlocks(spark, dir)
        .unionByName(Stages.tokenBlocks(spark, dir))
        .unionByName(Stages.timeBlocks(spark, dir)))
    assert(composed.count() == direct.count())
    assert(composed.except(direct).count() == 0L)
    assert(direct.except(composed).count() == 0L)
  }

  test("sqlUniversePairs is a subset of fullPairs") {
    val missing = Stages.sqlUniversePairs(spark, dir)
      .join(Stages.fullPairs(spark, dir), Seq("a_id", "b_id"), "left_anti")
      .count()
    assert(missing == 0L, s"$missing sql-universe pairs absent from fullPairs")
  }

  test("sqlUniverseScored equals direct SQL-universe scoring, projected to ScoredColumns") {
    val cols = Pipeline.ScoredColumns.map(col)
    val composed = Stages.sqlUniverseScored(spark, dir)
    val direct = Scoring.score(
      Pairs.hydrate(Stages.sqlUniversePairs(spark, dir), Stages.records(spark, dir)))
    assert(composed.columns.toSeq == Pipeline.ScoredColumns)
    // rows are unique per (a_id, b_id), so two NULL-safe excepts prove
    // multiset equality (an equi-join would silently drop NULL columns)
    val a = composed.select(cols: _*)
    val b = direct.select(cols: _*)
    assert(a.count() == b.count())
    assert(a.except(b).count() == 0L)
    assert(b.except(a).count() == 0L)
  }
}
