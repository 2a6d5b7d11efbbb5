package org.apache.spark

import org.apache.spark.storage.BroadcastBlockId

/** Test-side view of the driver's block store, which the public API does
  * not expose. Lives in the org.apache.spark package for access. */
object GraftTestBus {
  /** The values of every broadcast the driver still holds. */
  def liveBroadcastValues(sc: SparkContext): Seq[Any] = {
    val bm = sc.env.blockManager
    bm.master.getMatchingBlockIds({
      case BroadcastBlockId(_, "") => true
      case _ => false
    }, askStorageEndpoints = true)
      .flatMap(id => bm.getLocalValues(id).map(_.data.toList).getOrElse(Nil))
  }
}
