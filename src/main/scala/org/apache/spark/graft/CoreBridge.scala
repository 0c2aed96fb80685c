package org.apache.spark.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.storage.BroadcastBlockId

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

  /** Block until every event posted so far has reached every listener
    * (the bus is `private[spark]`): what a listener counted for an action
    * is then complete. */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
