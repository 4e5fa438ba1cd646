package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` touchpoint the harness needs: block until the
  * listener bus has delivered every posted event, so counters read at a
  * layer boundary include all of that layer's jobs, stages, tasks and
  * query executions. */
object Bus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
