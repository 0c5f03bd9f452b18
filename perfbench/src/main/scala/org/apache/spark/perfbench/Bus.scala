package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` call the benchmark's recorder needs: block until
  * the listener bus has delivered every event posted so far, so a rollup read
  * after it sees every job, stage and task of the traced calls.
  */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
