package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops._

/** Incremental attach: new records join an existing catalog by strong
  * key or fused-token Jaccard; unmatched records mint themselves.
  */
class IncrementalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def recs(rows: Seq[(String, Seq[String], Seq[String])]) =
    rows.toDF("conv_id", "token_set", "strong_keys")
      .withColumn("token_set", array_sort(array_distinct(col("token_set"))))
      .withColumn("token_ids", Features.dictEncode(col("token_set")))

  test("attach: strong hit, weak hit, and unmatched singleton") {
    // catalog: e1 strong-keyed, e2 token-only
    val base = recs(Seq(
      ("c1", Seq("alpha", "beta", "gamma"), Seq("T:a")),
      ("c2", Seq("alpha", "beta", "delta"), Seq("T:a")),
      ("c3", Seq("omega", "psi", "chi", "phi"), Seq.empty)))
    val labels = Seq(("c1", "c1"), ("c2", "c1"), ("c3", "c3"))
      .toDF("conv_id", "entity_id")
    val entities = Entities.fuse(base, labels)
    val newr = recs(Seq(
      ("n1", Seq("zzz", "yyy"), Seq("T:a")), // strong → e1 despite 0 jaccard
      ("n2", Seq("omega", "psi", "chi"), Seq.empty), // jac 3/4 → e2
      ("n3", Seq("unrelated", "words"), Seq.empty))) // nothing → itself
    val got = Incremental.attach(newr, entities)
      .as[(String, String)].collect().toMap
    assert(got == Map("n1" -> "c1", "n2" -> "c3", "n3" -> "n3"))
  }

  test("attach ties break deterministically (strong first, then jac, then id)") {
    val base = recs(Seq(
      ("c1", Seq("a", "b"), Seq.empty),
      ("c2", Seq("a", "b"), Seq.empty)))
    val labels = Seq(("c1", "c1"), ("c2", "c2")).toDF("conv_id", "entity_id")
    val entities = Entities.fuse(base, labels)
    // identical jaccard against both singleton entities → min entity_id
    val newr = recs(Seq(("n1", Seq("a", "b"), Seq.empty)))
    val got = Incremental.attach(newr, entities)
      .as[(String, String)].collect().toMap
    assert(got == Map("n1" -> "c1"))
  }

  test("attach: strong keys hotter than strongDfCap don't fan out candidates") {
    // three singleton entities share one degenerate strong key
    val base = recs(Seq(
      ("c1", Seq("a1", "a2"), Seq("T:hot")),
      ("c2", Seq("b1", "b2"), Seq("T:hot")),
      ("c3", Seq("d1", "d2"), Seq("T:hot"))))
    val labels = Seq(("c1", "c1"), ("c2", "c2"), ("c3", "c3"))
      .toDF("conv_id", "entity_id")
    val entities = Entities.fuse(base, labels)
    val newr = recs(Seq(("n1", Seq("zzz"), Seq("T:hot"))))
    // default cap: the key is usable → deterministic min-entity attach
    val open = Incremental.attach(newr, entities)
      .as[(String, String)].collect().toMap
    assert(open == Map("n1" -> "c1"))
    // cap below the key's entity-df (3 > 2): candidate generation skips
    // the hot key entirely → no candidates → the record mints itself
    val capped = Incremental.attach(newr, entities, strongDfCap = 2)
      .as[(String, String)].collect().toMap
    assert(capped == Map("n1" -> "n1"))
  }

  test("a catalog whose token_ids is not array<bigint> is refused at plan time") {
    val base = recs(Seq(("c1", Seq("alpha", "beta"), Seq("T:a"))))
    val entities = Entities.fuse(base, Seq(("c1", "c1")).toDF("conv_id", "entity_id"))
    val newr = recs(Seq(("n1", Seq("alpha", "beta"), Seq.empty)))
    // the fused catalog is accepted …
    assert(Incremental.attach(newr, entities).as[(String, String)].collect().toMap ==
      Map("n1" -> "c1"))
    // … a column of strings, or of 4-byte ids, under that name is not
    for (wrong <- Seq(col("token_union"), transform(col("token_ids"), x => x.cast("int")))) {
      val e = intercept[IllegalArgumentException](
        Incremental.attach(newr, entities.withColumn("token_ids", wrong)))
      assert(e.getMessage.contains("token_ids"), e.getMessage)
    }
  }

  test("attach over the generated tier agrees with batch CC for clean splits") {
    // base = buckets 0-8, new = bucket 9 of the t1 corpus; for every new
    // record that the BATCH pipeline put into a multi-member entity whose
    // other members are all in base, attach must find the same entity.
    val t = Tiers.ensureTranscripts(spark, Tiers.T1)
    val recsAll = Features.enrich(ops.Collapse.collapse(t))
    val bucket = Sampling.hashBucket(col("conv_id"), 10L)
    val base = recsAll.filter(bucket < 9)
    val newr = recsAll.filter(bucket === 9)
    val pairsAll = Pairs.candidatePairs(
      Blocking.strongBlocks(recsAll).unionByName(Blocking.tokenBlocks(recsAll)))
    val ccAll = ConnectedComponents.run(
      Scoring.matchEdges(Scoring.score(Pairs.hydrate(pairsAll, recsAll))),
      recsAll.select(col("conv_id")))
    val basePairs = Pairs.candidatePairs(
      Blocking.strongBlocks(base).unionByName(Blocking.tokenBlocks(base)))
    val ccBase = ConnectedComponents.run(
      Scoring.matchEdges(Scoring.score(Pairs.hydrate(basePairs, base))),
      base.select(col("conv_id")))
    val attached = Incremental.attach(newr, Entities.fuse(base, ccBase))

    // full-CC entity of each new record, restricted to entities that have
    // ≥1 base member (attach can only ever land on catalog entities)
    val newFull = ccAll.join(newr.select("conv_id"), "conv_id")
      .withColumnRenamed("entity_id", "full_e")
    val baseMembers = ccAll.join(base.select("conv_id"), "conv_id")
      .select(col("entity_id").as("full_e"), col("conv_id").as("base_member"))
    val expect = newFull.join(baseMembers, "full_e")
      .groupBy(col("conv_id")).agg(min(col("base_member")).as("anchor"))
    // attach's label must be an entity containing that anchor's base
    // cluster: compare via the base-CC label of the anchor
    val anchorLbl = expect.join(
      ccBase.withColumnRenamed("conv_id", "anchor")
        .withColumnRenamed("entity_id", "want_e"), "anchor")
    val joined = anchorLbl.join(attached, "conv_id")
    val n = joined.count()
    val agree = joined.filter(col("entity_id") === col("want_e")).count()
    assert(n > 0)
    // the overwhelming majority of new records with base-resident cluster
    // mates must attach to exactly that cluster (small residue: records
    // whose cluster mates in base are only reachable THROUGH other
    // bucket-9 records, which incremental attach by design cannot chain)
    assert(agree.toDouble / n >= 0.98, s"agree=$agree of $n")
  }
}
