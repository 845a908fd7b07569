package org.apache.spark

/** The one engine-internal call the benchmark needs: wait until the
  * listener bus has delivered every posted event, so counter snapshots
  * taken at a boundary include the jobs that finished before it. */
object BenchAccess {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
