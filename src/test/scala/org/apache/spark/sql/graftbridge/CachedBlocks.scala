package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.storage.RDDBlockId

/** Block-manager and serializer probes for the serving specs (the block
  * manager master is `private[spark]`). */
object CachedBlocks {
  /** The partitions (of `n`) of RDD `rddId` that have a cached block. */
  def of(sc: SparkContext, rddId: Int, n: Int): Seq[Int] =
    (0 until n).filter(i =>
      sc.env.blockManager.master.getLocations(RDDBlockId(rddId, i)).nonEmpty)

  /** Drops every cached block of RDD `rddId`, as evictions or a lost
    * executor would, and leaves the RDD persisted. */
  def drop(sc: SparkContext, rddId: Int): Unit =
    sc.env.blockManager.master.removeRdd(rddId, blocking = true)

  /** Bytes of `obj` under the closure serializer, the one that writes a
    * job's task binary. */
  def closureBytes(sc: SparkContext, obj: AnyRef): Int =
    sc.env.closureSerializer.newInstance().serialize(obj).remaining
}
