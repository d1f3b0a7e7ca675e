package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** The broadcasts whose whole value this JVM's block manager holds (in
  * local mode, every live broadcast). The block manager is private to
  * Spark, hence this file's package. */
object BroadcastBlocks {
  /** Ids of the held broadcasts whose value satisfies `p`. */
  def live(p: Any => Boolean): Set[Long] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap { id =>
      // reading the values to the end releases the block's read lock
      bm.getLocalValues(id).map(_.data.toList).filter(_.exists(p))
        .map(_ => id.asInstanceOf[BroadcastBlockId].broadcastId)
    }.toSet
  }
}
