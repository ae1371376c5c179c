package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The one `private[spark]` doorway the benchmark needs: block until the
  * listener bus has delivered every posted event, so counters read after
  * a pass include that pass's last task-end events. */
object Drain {
  def apply(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
