package graft.perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBus, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task metrics summed over a set of tasks. */
final class Acc {
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var peakExecBytes = 0L
  val durationsMs = mutable.ArrayBuffer.empty[Long]

  def add(o: Acc): Unit = {
    tasks += o.tasks; cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes
    spillBytes += o.spillBytes; peakExecBytes = peakExecBytes.max(o.peakExecBytes)
    durationsMs ++= o.durationsMs
  }

  /** slowest task over the median task: 1 = perfectly even */
  def skew: Double =
    if (durationsMs.isEmpty) 1.0
    else {
      val s = durationsMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2)).toDouble
    }
}

/** A SparkListener that sums TaskMetrics per job group (the spans below
  * set one group per span) and over all tasks.
  */
final class Probe(sc: SparkContext) extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val byGroup = mutable.Map.empty[String, Acc]
  private val all = new Acc

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val one = new Acc
      one.tasks = 1
      one.cpuNs = m.executorCpuTime
      one.shuffleBytes = m.shuffleWriteMetrics.bytesWritten
      one.spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled
      one.peakExecBytes = m.peakExecutionMemory
      one.durationsMs += e.taskInfo.duration
      all.cpuNs += one.cpuNs
      all.peakExecBytes = all.peakExecBytes.max(one.peakExecBytes)
      byGroup.getOrElseUpdate(stageGroup.getOrElse(e.stageId, ""), new Acc).add(one)
    }
  }

  /** Totals over every task so far, after the bus has delivered them. */
  def total(): (Long, Long) = {
    PerfbenchBus.drain(sc)
    synchronized((all.cpuNs, all.peakExecBytes))
  }

  def group(g: String): Acc = {
    PerfbenchBus.drain(sc)
    synchronized(byGroup.getOrElse(g, new Acc))
  }

  /** Peak memory is a running max: reset it to measure one window. */
  def resetPeak(): Unit = { PerfbenchBus.drain(sc); synchronized(all.peakExecBytes = 0L) }
}

/** One traced layer call. `attrs` carries the counts recorded at the
  * same boundary (rows out, blocks, rounds, ...).
  */
final case class Span(id: Int, name: String, layer: String, parent: Int,
    runId: String, startNs: Long, var endNs: Long = 0L,
    attrs: mutable.Map[String, Double] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (endNs - startNs) / 1e9
  def group: String = s"perfbench-span-$id"
}

/** In-memory span recorder. Each span runs its body under its own Spark
  * job group, so the probe attributes every task to the innermost span.
  */
final class Tracer(sc: SparkContext, runId: String) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  def apply[T](name: String, layer: String)(body: Span => T): T = {
    val s = Span(spans.size, name, layer, stack.headOption.map(_.id).getOrElse(-1),
      runId, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setJobGroup(s.group, name, interruptOnCancel = false)
    try body(s)
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(p.group, p.name, interruptOnCancel = false)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** span duration minus the time its direct children cover */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

/** Host-noise sentinels: stop-the-world GC time of this JVM, and CPU
  * time the hypervisor stole from the guest (/proc/stat, when present).
  */
object Host {
  def gcPauseSeconds: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(_.getCollectionTime.max(0L)).sum / 1e3
  }

  /** CPU time of this whole JVM: task threads, query planning and
    * code generation, JIT and GC threads.
    */
  def processCpuSeconds: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def stealSeconds: Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val f = src.getLines().next().trim.split("\\s+")
        if (f.length > 8) f(8).toDouble / 100.0 else 0.0
      } finally src.close()
    } catch { case _: Exception => 0.0 }
}
