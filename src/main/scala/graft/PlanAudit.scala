package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops._

/** Physical-plan audit (builder prompt: ".explain('formatted') the plan
  * and iterate until it's the plan you'd want"). Prints the formatted
  * plans of the hot operators and greps them for the properties that
  * matter at 100 TB:
  *  - parquet scans show PushedFilters + pruned ReadSchema;
  *  - feature/scoring stages sit inside WholeStageCodegen spans;
  *  - the pair self-join is a shuffle join on bkey (no cartesian);
  *  - the small side of hydration broadcasts under AQE.
  *
  * Usage: runMain graft.PlanAudit [sfDir]
  */
object PlanAudit {
  /** All data types appearing as a `key` join key anywhere in the plan —
    * the guard for 8-byte keyed joins: the id-keyed incremental index
    * (`tok`) and the pair self-join and sizing join (`bkey`) must be
    * [LongType]; plan STRINGS print keys without type names, so a text
    * grep cannot catch a string-keyed regression. Shared by the main
    * below and PlanAuditSpec.
    */
  def joinKeyTypes(p: org.apache.spark.sql.execution.SparkPlan, key: String)
      : Seq[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.catalyst.expressions.AttributeReference
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val keys = p match {
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      case _ => Nil
    }
    // a cached frame's joins live in its relation's plan, not in children
    val cached = p match {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        Seq(s.relation.cachedPlan)
      case _ => Nil
    }
    keys.collect { case a: AttributeReference if a.name == key => a.dataType } ++
      (p.children ++ cached).flatMap(joinKeyTypes(_, key))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // single master val feeding BOTH .master() and resilienceFor() — two
    // literals can drift and silently key the hardening off the wrong
    // master string (round-5 ADVICE item 4)
    val master = "local[8]"
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", "8")
      // AQE off here ONLY: finalized adaptive plans don't render their
      // per-stage WholeStageCodegen wrapping in any explain mode, which
      // makes the codegen audit unreadable. Production paths keep AQE on.
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // starvation-proof the in-process executor (see LocalHardening)
      .config(graft.util.LocalHardening.resilienceFor(master))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def section(name: String)(plan: => String): Unit = {
      println(s"\n===== $name =====")
      println(plan)
    }

    // 1. pushdown + pruning on a raw parquet scan
    section("scan pushdown (lineitem filter+project)") {
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .filter(col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }

    val transcripts = Tiers.transcriptsFor(spark, sfDir)
    val records = Features.enrich(Collapse.collapse(transcripts))

    // 2. collapse: exactly one shuffle, sort-free aggregation
    section("collapse+features") {
      records.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }

    // 3. pair join + scoring
    val pairs = Pairs.candidatePairs(Blocking.allBlocks(records))
    val scored = Scoring.score(Pairs.hydrate(pairs, records))
    section("pairs+scoring") {
      scored.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }

    // 4. incremental attach: the catalog-token index join must key on
    // the 8-byte dictionary ids (bigint), not token strings — the
    // widest shuffle of the attach path
    val bucket = Sampling.hashBucket(col("conv_id"), 10L)
    val base = records.filter(bucket < 9)
    // singleton labeling: the attach plan's SHAPE (index joins, window)
    // is independent of label quality, so skip the pipeline build here
    val catalog = Entities.fuse(base,
      base.select(col("conv_id"), col("conv_id").as("entity_id")))
    val attached = Incremental.attach(records.filter(bucket === 9), catalog)
    section("incremental attach") {
      attached.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }

    // quick grep-style assertions, reported not thrown
    val scanPlan = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .filter(col("l_quantity") > 30).select("l_orderkey", "l_quantity")
      .queryExecution.executedPlan.toString
    println("\n===== audit summary =====")
    println(s"pushed filter present: ${scanPlan.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30.0)]") || scanPlan.contains("GreaterThan(l_quantity")}")
    println(s"read schema pruned:    ${scanPlan.contains("l_orderkey") && !scanPlan.contains("l_extendedprice")}")
    scored.count() // materialize so AQE finalizes the physical plan
    // under AQE, codegen wrapping happens per query stage; the formatted
    // explain annotates codegen'd operators with "[codegen id : n]"
    val scoredPlan = scored.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    println(s"scoring in codegen:    ${scoredPlan.contains("codegen id")}")
    println(s"no cartesian product:  ${!scoredPlan.contains("Cartesian")}")
    println(s"jaro_winkler inlined:  ${scoredPlan.contains("graft.functions.JaroWinkler.similarity")}")
    attached.count()
    val attachPlan = attached.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    println(s"attach no cartesian:   ${!attachPlan.contains("Cartesian")}")
    // Programmatic, not grep: plan strings print join keys as bare
    // `tok#123` with no type name (longs get an L suffix, strings get
    // nothing), so a text search for "string" can never fail — it would
    // green-light the exact string-keyed regression this check guards.
    // Walk the physical joins instead (joinKeyTypes above) and assert
    // every `tok` join key is 8-byte LongType (the dictionary ids).
    val tokTypes = joinKeyTypes(attached.queryExecution.executedPlan, "tok").distinct
    println(s"attach token idx on ids (tok join-key types must be [LongType]): " +
      s"${tokTypes == Seq(org.apache.spark.sql.types.LongType)} ($tokTypes)")
    spark.stop()
  }
}
