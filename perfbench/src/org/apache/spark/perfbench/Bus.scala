package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The two engine internals the benchmark reads, which Spark keeps
  * package-private. */
object Bus {

  /** Block until the listener bus has delivered every event posted so
    * far, so listener counters read after a pass include all of it. */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** RDD blocks (cached partitions, local checkpoints) the block
    * manager still holds, including ones whose removal was requested
    * but has not finished. */
  def liveRddBlocks(): Int =
    SparkEnv.get.blockManager.master.getStorageStatus.map(_.rddBlocks.size).sum
}
