package org.apache.spark.graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.StageInfo

/** The two `private[spark]` reads the harness needs, reachable only from
  * inside the `org.apache.spark` package. */
object SparkInternals {
  /** Block until every event posted so far reached the listeners, so
    * counters read afterwards include the work that just finished. */
  def drainListenerBus(sc: SparkContext): Unit =
    try sc.listenerBus.waitUntilEmpty()
    catch { case _: java.util.concurrent.TimeoutException => () }

  /** Shuffle dependency a map stage materialises (None for result stages). */
  def shuffleDepId(si: StageInfo): Option[Int] = si.shuffleDepId
}
