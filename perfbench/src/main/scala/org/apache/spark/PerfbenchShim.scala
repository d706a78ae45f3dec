package org.apache.spark

import org.apache.spark.scheduler.StageInfo

/** The two engine internals the benchmark's tracer needs, reached from
  * Spark's own package: draining the listener bus before a pass's counts
  * are read, and whether a stage writes shuffle output. */
object PerfbenchShim {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  def writesShuffle(stage: StageInfo): Boolean = stage.shuffleDepId.isDefined
}
