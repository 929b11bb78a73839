package graft

import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, ConcatWs, Sequence}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.GraftListenerBus
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.TranscriptGen
import graft.ops._
import graft.pipeline.Pipeline

/** The physical-plan properties that matter at 100 TB, asserted: they
  * must FAIL the build when they regress (`graft.PlanAudit` dumps the
  * executed plans of named queries for reading). AQE is
  * toggled off around plan construction (finalized adaptive plans hide
  * per-stage codegen wrapping from explain, and the assertions are
  * about the static plan shape; production paths keep AQE on).
  */
class PlanAuditSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def withAqeOff[T](f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }

  private def formatted(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  private lazy val records = Features.enrich(Collapse.collapse(
    TranscriptGen.transcripts(spark, 200).toDF()))

  test("scoring plan: codegen'd, no cartesian, JaroWinkler inlined") {
    withAqeOff {
      val scored = Scoring.score(Pairs.hydrate(
        Pairs.candidatePairs(Blocking.allBlocks(records)), records))
      val plan = formatted(scored)
      assert(plan.contains("codegen id"), "scoring fell out of whole-stage codegen")
      assert(!plan.contains("Cartesian"), "pair generation degenerated to a cartesian product")
      // formatted explain lists one "(n) Operator ..." section per node;
      // each kernel must be a static call inside a whole-stage Project
      val codegenProjects = plan.split("\n\n").filter(_.matches(
        "(?s)\\(\\d+\\) Project \\[codegen id : \\d+\\].*"))
      Seq("graft.functions.JaroWinkler.similarity", "graft.functions.LevenshteinFast.compute",
          "graft.functions.JaccardSorted.compute").foreach { fn =>
        assert(codegenProjects.exists(_.contains(s"static_invoke($fn(")),
          s"$fn is not called inside a codegen'd Project of the scoring plan")
      }
    }
  }

  /** The executed plans of every query `body` runs. */
  private def executedPlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try { body; GraftListenerBus.drain(spark.sparkContext) }
    finally spark.listenerManager.unregister(listener)
    plans.asScala.toSeq
  }

  test("pairs node: the sizing join and the self-join key on bigint bkey") {
    withAqeOff {
      val root = Files.createTempDirectory("graft-plan-")
      try {
        val g = new Pipeline.Graph(spark, TranscriptGen.transcripts(spark, 200).toDF(),
          Pipeline.Config(root.toString))
        g.blocks
        val perPlan = executedPlans(g.pairs).map(PlanAudit.joinKeyTypes(_, "bkey"))
        // the self-join's plan reads the sized blocks from the cache, whose
        // plan holds the sizing join: two joins, four bkey key sides
        assert(perPlan.map(_.size).max >= 4, s"bkey joins per plan: ${perPlan.map(_.size)}")
        assert(perPlan.flatten.distinct == Seq(LongType),
          s"bkey join keys must be 8-byte, got ${perPlan.flatten.distinct}")
      } finally Files.walk(root).sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(f => Files.delete(f))
    }
  }

  test("records plan: shingles hashed by one codegen'd kernel call, no transform(sequence)") {
    withAqeOff {
      val plan = records.queryExecution.executedPlan
      val exprs = plan.collect { case p => p.expressions }.flatten
      assert(!exprs.exists(_.exists(_.isInstanceOf[Sequence])), "a sequence() in the records plan")
      assert(!exprs.exists(_.exists {
        case t: ArrayTransform => t.function.exists(_.isInstanceOf[ConcatWs])
        case _ => false
      }), "shingle strings built by a transform lambda")
      val codegenProjects = formatted(records).split("\n\n").filter(_.matches(
        "(?s)\\(\\d+\\) Project \\[codegen id : \\d+\\].*"))
      assert(codegenProjects.exists(
        _.contains("static_invoke(graft.functions.ShingleMinHash.compute(")),
        "ShingleMinHash is not called inside a codegen'd Project of the records plan")
    }
  }

  test("incremental attach plan: token index joins on dictionary ids, no cartesian") {
    withAqeOff {
      val catalog = Entities.fuse(records,
        records.select(col("conv_id"), col("conv_id").as("entity_id")))
      val attached = Incremental.attach(records.limit(20), catalog)
      assert(!formatted(attached).contains("Cartesian"))
      // the strong df cap, the token df cap and the candidate join
      val keyTypes = PlanAudit.joinKeyTypes(attached.queryExecution.executedPlan, "bkey")
      assert(keyTypes.size >= 6, s"bkey join key sides: ${keyTypes.size}")
      assert(keyTypes.distinct == Seq(LongType),
        s"attach candidate join keys (strong and token) must be 8-byte, got ${keyTypes.distinct}")
    }
  }

  test("dedup shingling plan: the ShingleMinHash call sits in a codegen'd Project") {
    withAqeOff {
      // a range, not a local Seq: the optimizer would evaluate a
      // projection over a local relation at planning time
      val docs = spark.range(4).select(col("id").as("doc_id"),
        concat(lit("The quick, brown fox jumps over doc "), col("id").cast("string")).as("text"))
      val codegenProjects = formatted(graft.dedup.Dedup.withShingleBands(docs))
        .split("\n\n").filter(_.matches("(?s)\\(\\d+\\) Project \\[codegen id : \\d+\\].*"))
      assert(codegenProjects.exists(
        _.contains("static_invoke(graft.functions.ShingleMinHash.signature(")),
        "ShingleMinHash is not called inside a codegen'd Project of the dedup shingling plan")
    }
  }

  test("dedup_exact plan: agg+join, no window over group_key") {
    withAqeOff {
      // a window partitioned by group_key buffers each duplicate group in
      // one task's sorter and cannot AQE-split — the degenerate-group
      // shape round 6 rewrote away (round-5 VERDICT "Next round" #2)
      val docs = Seq((1L, "a b c"), (2L, "a b c"), (3L, "x y z"))
        .toDF("doc_id", "text")
      val plan = formatted(graft.dedup.Dedup.exact(docs))
      assert(!plan.contains("Window"),
        "dedup_exact regressed to a window over group_key")
      assert(plan.contains("HashAggregate"),
        "dedup_exact group stats must come from a partial aggregation")
    }
  }

  test("parquet scan: filter pushed down and read schema pruned") {
    withAqeOff {
      val sf = "/root/testdata/sf0.001"
      val plan = spark.read.parquet(s"$sf/lineitem.parquet")
        .filter(col("l_quantity") > 30)
        .select("l_orderkey", "l_quantity")
        .queryExecution.executedPlan.toString
      assert(plan.contains("GreaterThan(l_quantity"), "filter not pushed to the scan")
      assert(plan.contains("l_orderkey") && !plan.contains("l_extendedprice"),
        "read schema not pruned to the projected columns")
    }
  }
}
