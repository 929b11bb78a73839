package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Cold transcripts→entities benchmark, one workload per JVM.
  *
  * {{{
  * Main --workload resolve|resolve_burst --seed N --seconds S --trace 0|1
  *      --work DIR --launched-ms EPOCH_MS [--trace-out FILE]
  * }}}
  * Prints a summary table on stderr and, as the last stdout line, one
  * JSON object {correct, attempted, failed, metrics}: the end-to-end
  * metrics untraced (--trace 0), the per-layer metrics traced (--trace 1).
  * Exits non-zero when any output check failed.
  */
object Main {

  val Workloads: Map[String, Shape] = Map(
    "resolve" -> Shape(entities = 2000, burstShare = 0.0),
    "resolve_burst" -> Shape(entities = 2000, burstShare = 0.6))

  /** The end-to-end metrics of the result line. */
  val Units: Map[String, String] = Map(
    "setup_s" -> "s", "resolve_cpu_s" -> "s", "resolve_jvm_cpu_s" -> "s",
    "pairwise_f1" -> "ratio", "pair_completeness" -> "ratio",
    "reduction_ratio" -> "ratio", "peak_exec_mem_mb" -> "MB")
  /** Printed beside them on stderr only. One cold sample of a wall time
    * spreads with host CPU steal (30 % between seeds on a shared 4-core
    * host) beyond any usable bound, and the pair rates also move with the
    * seed's pair count; CPU time of the whole resolve does neither.
    */
  val InfoUnits: Map[String, String] = Map("resolve_s" -> "s", "resume_s" -> "s",
    "resume_jvm_cpu_s" -> "s", "pairs_per_s" -> "1/s", "pairs_per_cpu_s" -> "1/s")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it. */
  def highPercentile(xs: Seq[Double]): Option[(Int, Double)] = {
    val p = math.floor(100.0 * (1.0 - 10.0 / xs.size)).toInt
    if (p < 50) None
    else {
      val s = xs.sorted
      Some(p -> s(math.min(s.size - 1, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  }

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  def session(cpus: Int, work: String): SparkSession = {
    val master = s"local[$cpus]"
    val spark = SparkSession.builder()
      .master(master)
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.hugeMethodLimit", "8000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.ui.enabled", "false")
      .config(graft.util.LocalHardening.resilienceFor(master))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pinned = Seq("spark.master", "spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled",
      "spark.sql.session.timeZone", "spark.sql.codegen.hugeMethodLimit") ++
      graft.util.LocalHardening.resilienceFor(master).keys.toSeq.sorted
    System.err.println("[perfbench] session " +
      pinned.map(k => s"$k=${spark.conf.get(k)}").mkString(" ") +
      s" java=${System.getProperty("java.version")} heap_max_mb=${Runtime.getRuntime.maxMemory >> 20}")
    spark
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val shape = Workloads.getOrElse(workload,
      sys.error(s"unknown workload $workload; known: ${Workloads.keys.mkString(", ")}"))
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val traced = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val launchedMs = arg(args, "launched-ms").toLong
    val traceOut = Option(args.indexOf("--trace-out")).filter(_ >= 0).map(i => args(i + 1))
    val cpus = Runtime.getRuntime.availableProcessors()

    val gc0 = Host.gcPauseSeconds
    val steal0 = Host.stealSeconds
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - launchedMs) / 1e3
    val probe = new Probe(spark.sparkContext)
    val ledger = new Ledger

    // Setup: session start, input generation (repeated, taken at its
    // median) and the one write of the input tables.
    val genS = (1 to 3).map { _ =>
      val t = System.nanoTime()
      val g = Inputs.generate(seed, shape)
      (Sequence.secondsSince(t), g)
    }
    val tWrite = System.nanoTime()
    val in = Inputs.materialize(spark, seed, genS.last._2, s"$work/inputs")
    val writeS = Sequence.secondsSince(tWrite)
    val setupS = sessionS + median(genS.map(_._1)) + writeS
    System.err.println(s"[perfbench] input $workload seed=$seed ${Inputs.describe(in)}")
    System.err.println(f"[perfbench] setup $setupS%.2f s = session $sessionS%.2f + " +
      f"generation ${median(genS.map(_._1))}%.2f (median of ${genS.size}) + write $writeS%.2f")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    if (!traced) {
      probe.resetPeak()
      // one full pass always; another only while it fits in `seconds`
      val timed = new Timed(spark, in, probe, work, ledger)
      val t0 = System.nanoTime()
      var passS = 0.0
      var passes = 0
      while (passes == 0 || Sequence.secondsSince(t0) + passS <= seconds) {
        val tp = System.nanoTime()
        timed.pass()
        passS = Sequence.secondsSince(tp)
        passes += 1
      }
      ledger.record("peak_exec_mem_mb", probe.total()._2 / 1048576.0)
      ledger.record("setup_s", setupS)
      System.err.println(f"[perfbench] measured $passes pass(es) in ${Sequence.secondsSince(t0)}%.1f s")
      System.err.println(f"[perfbench] ${"metric"}%-18s ${"unit"}%-6s ${"median"}%12s " +
        f"${"high pct"}%18s ${"n"}%5s")
      (Units ++ InfoUnits).toSeq.sorted.foreach { case (k, unit) =>
        val xs = ledger.samples.getOrElse(k, mutable.ArrayBuffer.empty[Double]).toSeq
        if (xs.nonEmpty) {
          val hi = highPercentile(xs).map { case (p, v) => f"p$p%d=$v%.4f" }.getOrElse("-")
          val tag = if (Units.contains(k)) "" else " (stderr only)"
          System.err.println(f"[perfbench] $k%-18s $unit%-6s ${median(xs)}%12.4f $hi%18s ${xs.size}%5d$tag")
          if (Units.contains(k)) metrics(k) = (median(xs), unit)
        }
      }
    } else {
      metrics ++= Traced.run(spark, in, probe, work, ledger, s"$workload-seed$seed", traceOut)
    }
    val gcS = Host.gcPauseSeconds - gc0
    val stealS = Host.stealSeconds - steal0
    System.err.println(f"[perfbench] host gc_pause_s=$gcS%.2f steal_s=$stealS%.2f " +
      s"cpus=$cpus attempted=${ledger.attempted} failed=${ledger.failed} " +
      f"failed_frac=${ledger.failed.toDouble / math.max(1L, ledger.attempted)}%.4f")
    if (traced) {
      metrics("host.gc_pause_s") = (gcS, "s")
      metrics("host.steal_s") = (stealS, "s")
    }
    val ok = ledger.failed == 0 && Units.keys.forall(k => traced || metrics.contains(k))
    val json = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": $ok, "attempted": ${ledger.attempted}, """ +
      s""""failed": ${ledger.failed}, "metrics": {$json}}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
