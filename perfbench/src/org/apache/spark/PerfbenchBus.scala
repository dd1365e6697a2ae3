package org.apache.spark

/** Spark-internal accessors the benchmark needs. `drain` waits until every
  * posted listener event has been delivered, so counters keyed by job group
  * are complete when they are read (no sleep-and-zero). */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** True for a stage that writes shuffle output (one per exchange). */
  def isShuffleMap(s: scheduler.StageInfo): Boolean = s.shuffleDepId.isDefined
}
