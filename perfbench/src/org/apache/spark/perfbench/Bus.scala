package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Reaches `private[spark]` internals the traced run reads. The listener
  * bus is drained after each op so every event of that op has been
  * delivered before the next op starts.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(30000L)

  /** Name of a live accumulator, e.g. a SQL metric posted in a driver
    * update (AccumulatorContext is `private[spark]` too).
    */
  def accumulatorName(id: Long): Option[String] =
    org.apache.spark.util.AccumulatorContext.get(id).flatMap(_.name)
}
