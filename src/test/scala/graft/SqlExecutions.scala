package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.graftshim.GraftListenerBus

/** Counts the SQL executions a block of driver code starts. */
object SqlExecutions {
  def count[T](spark: SparkSession)(body: => T): (Int, T) = {
    val sc = spark.sparkContext
    val started = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case _: SparkListenerSQLExecutionStart => started.incrementAndGet()
        case _ =>
      }
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftListenerBus.drain(sc)
      (started.get, out)
    } finally sc.removeSparkListener(listener)
  }
}
