package org.apache.spark.graftbridge

import org.apache.spark.SparkEnv
import org.apache.spark.storage.BroadcastBlockId

/** Test access to the driver's block store: `BlockManager` is
  * `private[spark]`, so this shim lives under the `org.apache.spark`
  * package namespace.
  */
object DriverBlocks {

  /** The values of the broadcasts the driver's block manager holds whole
    * (a torrent broadcast also stores its serialized pieces; those are
    * skipped).
    */
  def broadcastValues(): Seq[Any] = {
    val bm = SparkEnv.get.blockManager
    bm.getMatchingBlockIds {
      case BroadcastBlockId(_, "") => true
      case _ => false
    }.flatMap(id => bm.getLocalValues(id).toSeq.flatMap(_.data.toList))
  }
}
