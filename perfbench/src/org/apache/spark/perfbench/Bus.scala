package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`. The benchmark reads its
  * listener's counters only after every event of a pass is delivered, so
  * it needs the bus's own drain barrier; it also reads the job group a
  * job was submitted under, whose property key is private too. */
object Bus {
  val JobGroupKey: String = SparkContext.SPARK_JOB_GROUP_ID

  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
