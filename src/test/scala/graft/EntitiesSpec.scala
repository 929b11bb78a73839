package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Entities, Features}
import graft.pipeline.Pipeline

class EntitiesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // records as Features.enrich shapes them: the token set and its ids
  private def withIds(df: DataFrame): DataFrame =
    df.withColumn("token_ids", Features.dictEncode(col("token_set")))

  private lazy val recs = Seq(
    ("c1", Seq("x", "y"), Seq("T:a")),
    ("c2", Seq("y", "z"), Seq.empty[String]),
    ("c3", Seq("q"), Seq("T:b"))
  ).toDF("conv_id", "token_set", "strong_keys").transform(withIds)

  private lazy val labels = Seq(
    ("c1", "e1"), ("c2", "e1"), ("c3", "c3")
  ).toDF("conv_id", "entity_id")

  test("fuse: members provenance + feature-set unions (Record.merge semantics)") {
    val out = Entities.fuse(recs, labels)
      .select("entity_id", "members", "n_members", "token_union", "strong_keys_union")
      .as[(String, Seq[String], Long, Seq[String], Seq[String])]
      .collect().map(r => r._1 -> r).toMap
    val e1 = out("e1")
    assert(e1._2 == Seq("c1", "c2"))          // sorted members
    assert(e1._3 == 2L)
    assert(e1._4 == Seq("x", "y", "z"))       // token union, sorted distinct
    assert(e1._5 == Seq("T:a"))               // strong union skips empties
    val s = out("c3")
    assert(s._2 == Seq("c3") && s._4 == Seq("q") && s._5 == Seq("T:b"))
  }

  test("fuse is partition-count independent (canonical sorted output)") {
    val a = Entities.fuse(recs.repartition(7), labels).collect().toSet
    val b = Entities.fuse(recs.repartition(1), labels).collect().toSet
    assert(a == b)
  }

  test("fuse excludes monster clusters at the cap, keeps the rest intact") {
    // a planted over-merged component: 20 members vs a healthy pair
    val mRecs = ((0 until 20).map(i => (f"m$i%02d", Seq(s"t$i"), Seq.empty[String]))
      ++ Seq(("x", Seq("u"), Seq("T:x")), ("y", Seq("v"), Seq.empty[String])))
      .toDF("conv_id", "token_set", "strong_keys").transform(withIds)
    val mLabels = ((0 until 20).map(i => (f"m$i%02d", "M"))
      ++ Seq(("x", "X"), ("y", "X"))).toDF("conv_id", "entity_id")
    val out = Entities.fuse(mRecs, mLabels, clusterSizeCap = 10)
      .select("entity_id").as[String].collect().toSet
    assert(out == Set("X")) // monster M dropped, loudly (stderr telemetry)
    // the default cap never binds on healthy labelings
    val full = Entities.fuse(mRecs, mLabels)
      .select("entity_id").as[String].collect().toSet
    assert(full == Set("M", "X"))
  }

  test("fuse: token_ids is dictEncode(token_union), on t1 records with the pipeline labels") {
    val g = new Pipeline.Graph(spark, Tiers.ensureTranscripts(spark, Tiers.T1),
      Pipeline.Config(Tiers.checkpointRoot(Tiers.T1)))
    val fused = Entities.fuse(g.records, g.entities)
    val got = fused.select(col("entity_id"), col("token_ids"))
    val want = fused.select(col("entity_id"),
      Features.dictEncode(col("token_union")).as("token_ids"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty, "fused ids missing from dictEncode(token_union)")
    assert(want.exceptAll(got).isEmpty, "dictEncode(token_union) ids missing from the fused ids")
  }
}
