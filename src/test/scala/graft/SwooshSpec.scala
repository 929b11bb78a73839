package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Features, Swoosh}

class SwooshSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // records as Features.enrich shapes them: the token set and its ids
  private def withIds(df: DataFrame): DataFrame =
    df.withColumn("token_ids", Features.dictEncode(col("token_set")))

  // The canonical merge-enabled case (SURVEY.md §7.4 risk 1): C matches
  // neither A nor B alone (jac 2/6 = 0.33 < 0.45) but matches A∪B
  // (jac 4/8 = 0.5 ≥ 0.45). Pairwise CC can never produce {A,B,C};
  // swoosh-style fusion must.
  private def recs = Seq(
    ("A", Seq("a", "b", "c", "d"), Seq("T:k1")),
    ("B", Seq("e", "f", "g", "h"), Seq("T:k1")),
    ("C", Seq("a", "b", "e", "f"), Seq.empty[String])
  ).toDF("conv_id", "token_set", "strong_keys").transform(withIds)

  // strong-only initial clustering: {A,B} (shared key) + singleton C
  private def initial = Seq(
    ("A", "A"), ("B", "A"), ("C", "C")
  ).toDF("conv_id", "entity_id")

  test("refine captures a merge-enabled match that pairwise CC cannot") {
    val out = Swoosh.refine(recs, initial)
      .as[(String, String)].collect().toMap
    assert(out == Map("A" -> "A", "B" -> "A", "C" -> "A"))
  }

  test("refine is a fixpoint on converged labelings") {
    val once = Swoosh.refine(recs, initial)
    val twice = Swoosh.refine(recs, once)
    assert(once.as[(String, String)].collect().toSet ==
      twice.as[(String, String)].collect().toSet)
    val fix = Swoosh.refineToFixpoint(recs, initial)
    assert(fix.as[(String, String)].collect().toMap ==
      Map("A" -> "A", "B" -> "A", "C" -> "A"))
  }

  // A chain needing TWO merge rounds: C bridges into {A,B} (jac vs A∪B =
  // 6/10 = 0.6), and only the round-1 union {a..h,p,q} lifts G over the
  // threshold (jac 6/10 = 0.6; vs A∪B alone 4/10 = 0.4, vs C alone
  // 4/10 = 0.4). Exercises the delta-driven fixpoint across rounds.
  private def chainRecs = Seq(
    ("A", Seq("a", "b", "c", "d"), Seq("T:k1")),
    ("B", Seq("e", "f", "g", "h"), Seq("T:k1")),
    ("C", Seq("a", "b", "c", "e", "f", "g", "p", "q"), Seq.empty[String]),
    ("G", Seq("a", "b", "d", "h", "p", "q"), Seq.empty[String])
  ).toDF("conv_id", "token_set", "strong_keys").transform(withIds)

  private def chainInitial = Seq(
    ("A", "A"), ("B", "A"), ("C", "C"), ("G", "G")
  ).toDF("conv_id", "entity_id")

  // er_swoosh_full's oracle is ONE bucket-free refine round in SQL; the
  // Spark side runs refineToFixpoint. They can only agree because at the
  // t1 tier the first full round is already the fixpoint (the corpus has
  // no fragment-bridge entities there) — pin that premise, so a future
  // generator change that breaks it fails HERE with a readable message
  // instead of as an oracle hash mismatch.
  test("t1 corpus: full-catalog refine converges in one round (er_swoosh_full premise)") {
    val dir = "/root/testdata/sf0.001"
    val labels = Stages.ccFull(spark, dir)
    val once = Swoosh.refine(Stages.records(spark, dir), labels)
    val moved = once.alias("o")
      .join(labels.alias("l"), Seq("conv_id"))
      .filter(org.apache.spark.sql.functions.col("o.entity_id") =!=
        org.apache.spark.sql.functions.col("l.entity_id"))
      .count()
    assert(moved == 0,
      s"t1 refine moved $moved labels; er_swoosh_full's one-round SQL " +
        "oracle no longer matches refineToFixpoint — regenerate the oracle")
  }

  test("delta-driven fixpoint reaches the same labeling as iterated full refine") {
    val fix = Swoosh.refineToFixpoint(chainRecs, chainInitial)
      .as[(String, String)].collect().toMap
    // iterated FULL refine (no delta restriction) as the semantics oracle
    var full = chainInitial
    (1 to 3).foreach(_ => full = Swoosh.refine(chainRecs, full))
    assert(fix == full.as[(String, String)].collect().toMap)
    assert(fix == Map("A" -> "A", "B" -> "A", "C" -> "A", "G" -> "A"))
  }

  test("changedOnly restriction: empty delta is a no-op, full delta == full refine") {
    val none = spark.emptyDataset[String].toDF("entity_id")
    val noop = Swoosh.refine(chainRecs, chainInitial, changedOnly = Some(none))
      .as[(String, String)].collect().toMap
    assert(noop == chainInitial.as[(String, String)].collect().toMap)
    val all = chainInitial.select($"entity_id").distinct()
    val withAll = Swoosh.refine(chainRecs, chainInitial, changedOnly = Some(all))
      .as[(String, String)].collect().toMap
    val fullOnce = Swoosh.refine(chainRecs, chainInitial)
      .as[(String, String)].collect().toMap
    assert(withAll == fullOnce)
  }

  // Cap-transition case: the (U,V) pair only becomes enumerable in a
  // DELTA round. Tokens t1..t3 are held by {A,B,U,V} — block size 4 >
  // blockSizeCap 3 — so round 1 enumerates no token pairs; A,B merge
  // through their strong key. Round 2's fused catalog holds the t-blocks
  // at size 3 ({AB,U,V}), kept because they contain the changed entity
  // AB. Inside that block (U,V) is an unchanged×unchanged pair (jac 1.0;
  // AB matches neither: 3/23 < 0.45): the block-level changed-only
  // restriction must still enumerate and merge it — the old pair-level
  // changed filter dropped exactly this pair and diverged from the
  // full-refine fixpoint.
  private def capRecs = Seq(
    ("A", Seq("t1", "t2", "t3") ++ (1 to 10).map(i => s"a$i"), Seq("T:k1")),
    ("B", Seq("t1", "t2", "t3") ++ (1 to 10).map(i => s"b$i"), Seq("T:k1")),
    ("U", Seq("t1", "t2", "t3"), Seq.empty[String]),
    ("V", Seq("t1", "t2", "t3"), Seq.empty[String])
  ).toDF("conv_id", "token_set", "strong_keys").transform(withIds)

  test("delta rounds enumerate unchanged×unchanged pairs in cap-transition blocks") {
    val cfg = graft.ops.Pairs.PairConfig(blockSizeCap = 3)
    val singletons = Seq(("A", "A"), ("B", "B"), ("U", "U"), ("V", "V"))
      .toDF("conv_id", "entity_id")
    val fix = Swoosh.refineToFixpoint(capRecs, singletons, pairCfg = cfg)
      .as[(String, String)].collect().toMap
    // iterated FULL refine (no delta restriction) as the semantics oracle
    var full = singletons
    (1 to 3).foreach(_ => full = Swoosh.refine(capRecs, full, pairCfg = cfg))
    assert(fix == full.as[(String, String)].collect().toMap)
    assert(fix == Map("A" -> "A", "B" -> "A", "U" -> "U", "V" -> "U"))
  }

  test("over-cap clusters keep their labels through refine (clusterSizeCap)") {
    // a 12-member cluster is excluded from fusion at cap 10 (collect_list
    // buffer guard); its records must keep their old labels through the
    // round's LEFT-join fallback instead of vanishing, while the normal
    // A,B strong-key merge still happens
    val monster = (0 until 12).map(i => (f"m$i%02d", Seq(s"tok$i"), Seq.empty[String]))
    val rs = (monster ++ Seq(
      ("A", Seq("a", "b", "c", "d"), Seq("T:k1")),
      ("B", Seq("e", "f", "g", "h"), Seq("T:k1"))
    )).toDF("conv_id", "token_set", "strong_keys").transform(withIds)
    val labels = ((0 until 12).map(i => (f"m$i%02d", "m00"))
      ++ Seq(("A", "A"), ("B", "B"))).toDF("conv_id", "entity_id")
    val out = Swoosh.refine(rs, labels, clusterSizeCap = 10)
      .as[(String, String)].collect().toMap
    (0 until 12).foreach(i => assert(out(f"m$i%02d") == "m00"))
    assert(out("A") == "A" && out("B") == "A")
    assert(out.size == 14)
  }

  test("refine never splits clusters and keeps canonical min-id labels") {
    val out = Swoosh.refine(recs, initial).as[(String, String)].collect()
    // every member's label is the min conv_id of its refined cluster
    val byLabel = out.groupBy(_._2)
    byLabel.foreach { case (lbl, members) =>
      assert(lbl == members.map(_._1).min)
    }
    // old same-cluster members stay together
    assert(out.toMap.apply("A") == out.toMap.apply("B"))
  }
}
