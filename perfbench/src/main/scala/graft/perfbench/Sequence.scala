package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Blocking, Pairs}
import graft.pipeline.Pipeline

/** The program configuration every workload runs under. The corpus is a
  * few thousand conversations, so the block-size cap is scaled down
  * with it (the library default of 1000 needs ~14k conversations in one
  * hour before a time block can overflow); every other knob is the
  * library default.
  */
object Settings {
  val pairCfg: Pairs.PairConfig = Pairs.PairConfig(blockSizeCap = 120)
  def pipeline(root: String): Pipeline.Config =
    Pipeline.Config(checkpointRoot = root, pairCfg = pairCfg)
  val minhashTau = 0.6
  val simhashHamming = 3
  val minF1 = 0.99
  val minAttachAccuracy = 0.95
}

/** Operation bookkeeping shared by the timed and the traced sequence:
  * every timed operation is attempted once, and fails on a throw or on
  * a failed output check.
  */
final class Ledger {
  var attempted = 0L
  var failed = 0L
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty

  def record(metric: String, v: Double): Unit =
    samples.getOrElseUpdate(metric, mutable.ArrayBuffer.empty) += v

  /** Run one operation; None when it threw (already counted as failed). */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Throwable =>
        failed += 1
        System.err.println(s"[perfbench] FAILED $name: $e")
        None
    }
  }

  /** A failed output check fails the operation it checks. */
  def check(name: String, ok: Boolean, detail: => String): Unit =
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] CHECK FAILED $name: $detail")
    }
}

/** @param withinBlockPairs Σ n(n-1)/2 over kept blocks */
final case class BlockStats(hotBlocks: Long, saltedRows: Long, droppedBlocks: Long,
    withinBlockPairs: Double)

object Sequence {

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Order-independent hash of a labeling: (rows, XOR of row hashes). */
  def labelsHash(labels: DataFrame): String = {
    val r = labels.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(col("conv_id"), col("entity_id"))), lit(0L))).head()
    f"${r.getLong(0)}-${r.getLong(1)}%016x"
  }

  private def pairsIn(n: Long): Long = n * (n - 1) / 2

  /** Pairwise F1 of a labeling against the planted truth, computed in
    * the benchmark from cluster intersections (independent of the
    * program's own metric code).
    */
  def pairwiseF1(truth: Map[String, String], labels: DataFrame): Double = {
    val pred = labels.select("conv_id", "entity_id").collect()
      .map(r => r.getString(0) -> r.getString(1))
    val tp = pred.groupBy { case (c, e) => (e, truth.getOrElse(c, c)) }
      .values.map(g => pairsIn(g.length)).sum
    val predicted = pred.groupBy(_._2).values.map(g => pairsIn(g.length)).sum
    val planted = truth.groupBy(_._2).values.map(g => pairsIn(g.size)).sum
    val precision = if (predicted == 0) 1.0 else tp.toDouble / predicted
    val recall = if (planted == 0) 1.0 else tp.toDouble / planted
    if (precision + recall == 0) 0.0 else 2 * precision * recall / (precision + recall)
  }

  def manifestRows(root: String, stage: String): Long =
    "\"rows\":(\\d+)".r.findFirstMatchIn(
      Files.readString(Paths.get(root, stage, "_manifest.json"))).get.group(1).toLong

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }

  /** Block-size telemetry of a blocks table (family from the key
    * prefix): per-family histograms on stderr, and the keys and rows
    * that reach the salted path (above the hot threshold, within the
    * cap) and the keys dropped above the cap.
    */
  def blockStats(blocks: DataFrame, cfg: Pairs.PairConfig): BlockStats = {
    val sizes = Blocking.blockSizes(blocks)
      .select(substring(col("bkey"), 1, 1).as("family"), col("block_size"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val edges = Seq(2L, 8L, cfg.hotThreshold.toLong, cfg.blockSizeCap.toLong)
    Seq("T" -> "strong", "W" -> "token", "M" -> "minhash", "H" -> "time").foreach {
      case (prefix, name) =>
        val fam = sizes.collect { case (`prefix`, n) => n }
        val bins = (0L +: edges).zip(edges :+ Long.MaxValue)
          .map { case (lo, hi) => fam.count(n => n > lo && n <= hi) }
        System.err.println(f"[perfbench] blocks.$name%-8s keys=${fam.length}%6d rows=${fam.sum}%7d " +
          s"size hist (≤2, ≤8, ≤${cfg.hotThreshold}, ≤${cfg.blockSizeCap}, >${cfg.blockSizeCap}) = " +
          bins.mkString(", "))
    }
    val all = sizes.map(_._2)
    val hot = all.filter(n => n > cfg.hotThreshold && n <= cfg.blockSizeCap)
    val kept = all.filter(_ <= cfg.blockSizeCap)
    val out = BlockStats(hot.length, hot.sum, all.count(_ > cfg.blockSizeCap),
      kept.map(n => n * (n - 1) / 2.0).sum)
    System.err.println(s"[perfbench] blocks hot_blocks=${out.hotBlocks} " +
      s"salted_rows=${out.saltedRows} dropped_blocks=${out.droppedBlocks}")
    out
  }

  /** Pair completeness (planted pairs among the candidates ÷ planted
    * pairs) and reduction ratio (1 − candidates ÷ all pairs).
    */
  def candidateQuality(spark: SparkSession, truth: Map[String, String],
      root: String): (Double, Double) = {
    val cands = spark.read.parquet(s"$root/pairs/data").select("a_id", "b_id").collect()
    val found = cands.count(r => truth.get(r.getString(0)).exists(truth.get(r.getString(1)).contains))
    val planted = truth.groupBy(_._2).values.map(g => pairsIn(g.size)).sum
    (found.toDouble / planted, 1.0 - cands.length.toDouble / pairsIn(truth.size))
  }

  /** Fraction of attached records placed with their planted entity. */
  def attachCorrect(in: Inputs, got: Array[(String, String)]): Int =
    got.count { case (c, e) => in.attachTruth.get(c).contains(e) }

  /** Dedup output checks against the planted copies; returns the share
    * of planted pairs that any of the three methods found.
    */
  def checkDedup(ledger: Ledger, in: Inputs, exact: Map[String, String],
      minhash: Set[(String, String)], simhash: Set[(String, String)]): Double = {
    val exactPairs = in.dupTruth.filter(_._3)
    ledger.check("dedup.exact",
      exactPairs.forall { case (a, b, _) => exact.get(a).exists(exact.get(b).contains) },
      "a planted exact copy is not grouped with its source")
    val groups = exact.groupBy(_._2).values.filter(_.size > 1)
    ledger.check("dedup.exact.precision",
      groups.forall(g => g.keys.map(_.takeWhile(_ != '_')).toSet.size == 1),
      "documents of different planted entities share an exact group")
    val pairs = in.dupTruth.map { case (a, b, _) => (a, b) }
    ledger.check("dedup.minhash", pairs.forall(minhash.contains),
      s"${pairs.count(p => !minhash.contains(p))} planted copies missed")
    ledger.check("dedup.simhash",
      exactPairs.forall { case (a, b, _) => simhash.contains((a, b)) },
      "a planted exact copy is missing from the simhash pairs")
    val found = pairs.count(p => minhash.contains(p) || simhash.contains(p) ||
      exact.get(p._1).exists(exact.get(p._2).contains))
    found.toDouble / pairs.size
  }

}

/** The untraced pass behind every end-to-end metric: a cold resolve on
  * a fresh checkpoint root (the first Pipeline.run of the JVM, as a batch
  * job runs it), then one resume on that root. Fusion, swoosh, attach and
  * dedup run in the traced pass only: on 4 cores a cold pass over them as
  * well would not fit the run budget.
  */
final class Timed(spark: SparkSession, in: Inputs, probe: Probe, work: String,
    ledger: Ledger) {
  import Sequence._

  def pass(): Unit = {
    val root = s"$work/ckpt-${java.util.UUID.randomUUID()}"
    try pass(root, Settings.pipeline(root)) finally deleteTree(root)
  }

  private def pass(root: String, cfg: Pipeline.Config): Unit = {
    val cpu0 = probe.total()._1
    val jvm0 = Host.processCpuSeconds
    val t0 = System.nanoTime()
    val resolved = ledger.op("resolve") {
      val labels = Pipeline.run(spark, in.transcripts, cfg)
      (labels, labelsHash(labels))
    }
    val resolveS = secondsSince(t0)
    val jvmS = Host.processCpuSeconds - jvm0
    if (resolved.isEmpty) return
    val (labels, hash) = resolved.get
    val cpuS = (probe.total()._1 - cpu0) / 1e9
    val scored = manifestRows(root, "scored")
    ledger.record("resolve_s", resolveS)
    ledger.record("resolve_cpu_s", cpuS)
    ledger.record("resolve_jvm_cpu_s", jvmS)
    ledger.record("pairs_per_s", scored / resolveS)
    ledger.record("pairs_per_cpu_s", scored / cpuS)
    System.err.println(s"[perfbench] labels_hash=$hash scored_pairs=$scored")
    val f1 = pairwiseF1(in.truth, labels)
    ledger.record("pairwise_f1", f1)
    ledger.check("resolve.f1", f1 >= Settings.minF1, s"pairwise F1 $f1 < ${Settings.minF1}")
    val (completeness, reduction) = candidateQuality(spark, in.truth, root)
    ledger.record("pair_completeness", completeness)
    ledger.record("reduction_ratio", reduction)

    val jvm1 = Host.processCpuSeconds
    val t1 = System.nanoTime()
    val resumed = ledger.op("resume")(labelsHash(Pipeline.run(spark, in.transcripts, cfg)))
    ledger.record("resume_s", secondsSince(t1))
    ledger.record("resume_jvm_cpu_s", Host.processCpuSeconds - jvm1)
    resumed.foreach(h => ledger.check("resume.hash", h == hash, s"resume hash $h != $hash"))
  }
}
