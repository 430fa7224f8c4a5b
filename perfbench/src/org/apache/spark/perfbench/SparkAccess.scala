package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The `private[spark]` hooks the benchmark needs, reached from
  * inside the `org.apache.spark` namespace (the same pattern as the
  * engine's `org.apache.spark.sql.graft.CheckpointStats`).
  */
object SparkAccess {

  /** Block until every posted listener event has been delivered, so a
    * listener's totals cover every job that has already returned.
    */
  def drainListeners(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Bytes of cached RDD blocks (memory + disk) across block managers,
    * read synchronously from the block-manager master.
    */
  def cachedBytes(sc: SparkContext): Long =
    sc.env.blockManager.master.getStorageStatus
      .flatMap(_.rddBlocks.values)
      .map(b => b.memSize + b.diskSize)
      .sum

  /** Remove the cached blocks of RDDs that are no longer persistent.
    * Blocks of some RDDs the engine had unpersisted stayed cached: 12-45
    * MB after a repo_pipeline pass, a different amount in each run.
    */
  def dropOrphanBlocks(sc: SparkContext): Unit = {
    val master = sc.env.blockManager.master
    master.getStorageStatus.flatMap(_.rddBlocks.keys).flatMap(_.asRDDId).map(_.rddId).distinct
      .filterNot(sc.getPersistentRDDs.contains)
      .foreach(id => master.removeRdd(id, blocking = true))
  }
}
