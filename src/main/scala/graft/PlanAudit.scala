package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.execution.{ExplainMode, SparkPlan}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.types.DataType

/** The plan tool: plan evidence and isolated timings of named
  * `SparkEntry.queries` entries. It writes .explain("formatted") of each
  * query to `<outDir>/<query>_<suffix>.txt` and times the query through
  * the noop sink (guide §1.4 — computes every column of every row, no
  * sink cost, full plan in the SQL tab). The plan properties that matter
  * at 100 TB (scan pushdown and pruning, scoring in codegen, no
  * cartesian, 8-byte join keys) are asserted by PlanAuditSpec.
  *
  * Each query is first executed through its OWN QueryExecution
  * (qe.toRdd.count) so AQE finalizes the adaptive plan — the dumped
  * plan is the executed plan, with final join strategies and
  * AQEShuffleRead nodes, not the isFinalPlan=false initial guess.
  *
  * Usage: runMain graft.PlanAudit <outDir> <suffix> <query...>
  * Env: SPARK_GRAFT_SF_DIR (default sf0.01), SPARK_GRAFT_CPUS (default 8).
  */
object PlanAudit {
  /** All data types appearing as a `key` join key anywhere in the plan —
    * the guard for 8-byte keyed joins: the id-keyed incremental index
    * (`tok`) and the pair self-join and sizing join (`bkey`) must be
    * [LongType]; plan STRINGS print keys without type names, so a text
    * grep cannot catch a string-keyed regression. Used by PlanAuditSpec.
    */
  def joinKeyTypes(p: SparkPlan, key: String): Seq[DataType] = {
    val keys = p match {
      case j: SortMergeJoinExec => j.leftKeys ++ j.rightKeys
      case j: ShuffledHashJoinExec => j.leftKeys ++ j.rightKeys
      case j: BroadcastHashJoinExec => j.leftKeys ++ j.rightKeys
      case _ => Nil
    }
    // a cached frame's joins live in its relation's plan, not in children
    val cached = p match {
      case s: InMemoryTableScanExec => Seq(s.relation.cachedPlan)
      case _ => Nil
    }
    keys.collect { case a: AttributeReference if a.name == key => a.dataType } ++
      (p.children ++ cached).flatMap(joinKeyTypes(_, key))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanAudit <outDir> <suffix> <query...>")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val master = s"local[$cpus]"
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.local.dir", "/dev/shm/graft-spark-local")
      .config("spark.ui.enabled", "false")
      .config(graft.util.LocalHardening.resilienceFor(master))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(Paths.get(outDir))

    names.foreach { n =>
      val fn = SparkEntry.queries.getOrElse(n, sys.error(s"unknown query: $n"))
      spark.sparkContext.setJobDescription(s"planaudit: $n (finalize)")
      val df = fn(spark, sfDir)
      val qe = df.queryExecution
      val t0 = System.nanoTime()
      qe.toRdd.count() // finalizes THIS QueryExecution's adaptive plan
      val firstSec = (System.nanoTime() - t0) / 1e9
      // noop-sink repeats: steady-state compute-only timing (§1.4)
      val noopTimes = (1 to 3).map { i =>
        spark.sparkContext.setJobDescription(s"planaudit: $n (noop $i)")
        val t = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t) / 1e9
      }
      val plan = qe.explainString(ExplainMode.fromString("formatted"))
      val header =
        f"== $n @ $sfDir cpus=$cpus (executed plan; first-exec ${firstSec}%.2f s; " +
          f"noop repeats ${noopTimes.map(t => f"$t%.2f").mkString("/")} s) ==%n"
      Files.writeString(Paths.get(outDir, s"${n}_$suffix.txt"), header + plan)
      System.err.println(f"[planaudit] $n first ${firstSec}%.2f s noop " +
        noopTimes.map(t => f"$t%.2f").mkString("/") + s" -> ${n}_$suffix.txt")
      System.gc() // same ContextCleaner story as Bench between queries
    }
    spark.stop()
  }
}
