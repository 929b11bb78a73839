package graft.util

import org.apache.spark.sql.{Observation, Row, SparkSession}
import org.apache.spark.sql.graftshim.GraftListenerBus

/** Reading `Dataset.observe` metrics without blocking on ones that will
  * never arrive. Spark fills an `Observation` from the listener bus after
  * the query that ran the observed frame finishes, so right after an
  * action the result may still be in flight — and if no action ran the
  * frame (a caller that resumed a checkpoint instead), `Observation.get`
  * would wait forever.
  */
object Observed {

  /** The observed metrics row if a finished query ran the observed
    * frame, None if none did. Drains the listener bus (bounded) before
    * deciding, so a pending completion is never mistaken for "not run".
    */
  def completed(spark: SparkSession, obs: Observation): Option[Row] =
    obs.future.value.orElse {
      GraftListenerBus.drain(spark.sparkContext)
      obs.future.value
    }.map(_.get)

  /** The metrics row of a frame the caller knows a finished query ran. */
  def required(spark: SparkSession, obs: Observation, what: String): Row =
    completed(spark, obs).getOrElse(
      throw new IllegalStateException(s"$what: observation never filled"))
}
