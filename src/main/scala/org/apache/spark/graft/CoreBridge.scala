package org.apache.spark.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{BroadcastBlockId, RDDBlockId}

/** Core-side twin of [[org.apache.spark.sql.graft.Bridge]]. The raw
  * checkpoint-dir accessors: `SparkContext.setCheckpointDir` APPENDS a
  * fresh UUID segment on every call, so save/restore through the public
  * API is impossible — "restoring" a previously-resolved path would nest
  * it one level deeper. The `private[spark]` var is the only exact way.
  */
object CoreBridge {
  def getCheckpointDirRaw(sc: SparkContext): Option[String] = sc.checkpointDir
  def setCheckpointDirRaw(sc: SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir

  /** Ids of the broadcasts whose blocks this JVM's block manager still
    * holds (`BlockManager` is `private[spark]`): a release check compares
    * them before and after an owner lets its broadcasts go. */
  def broadcastsHeld(): Set[Long] =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet

  /** Bytes the block managers hold for `rdd`'s stored blocks, in memory
    * and on disk. Asked of the block manager master, which every
    * block manager tells before its task ends: exact once the job that
    * stored the blocks has finished (the status store, behind
    * `SparkContext.getRDDStorageInfo`, hears of blocks later, from the
    * listener bus). */
  def storedBytes(rdd: RDD[_]): Long =
    SparkEnv.get.blockManager.master.getStorageStatus.iterator
      .flatMap(_.rddBlocks)
      .collect { case (RDDBlockId(id, _), s) if id == rdd.id => s.memSize + s.diskSize }
      .sum

  /** Block until every event posted so far has reached every listener
    * (the bus is `private[spark]`): what a listener counted for an action
    * is then complete. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
