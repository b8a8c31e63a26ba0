package org.apache.spark

/** The two Spark internals the benchmark reads; both are package-private in
  * Spark, hence this file's package.
  */
object SparkInternals {
  /** Waits until every event posted so far reached the listeners. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes the memory manager has handed out: execution plus storage. */
  def memoryUsedBytes(): Long = {
    val m = SparkEnv.get.memoryManager
    m.executionMemoryUsed + m.storageMemoryUsed
  }
}
