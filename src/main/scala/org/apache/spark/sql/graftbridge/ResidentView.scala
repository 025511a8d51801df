package org.apache.spark.sql.graftbridge

import java.nio.ByteBuffer

import scala.reflect.ClassTag

import org.apache.spark.{InterruptibleIterator, Partition, SparkEnv, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** A lineage-free view of a persisted, materialized RDD (the source): no
  * dependencies and one plain partition per source partition. The view
  * serializes to about 2 KB where the source would carry its whole lineage
  * (about 38 KB for a parquet scan: the plan, the whole-stage-codegen
  * source), so for every job on it the driver serializes, and each task
  * deserializes, that much less.
  *
  * A task reads its partition's cached block through the block manager
  * (local or remote, as `RDD.iterator` does) and is placed where the block
  * lives (the source's preferred locations). On a miss, an evicted or lost
  * block, it deserializes the source lineage, held once as bytes in a
  * broadcast, and recomputes through the source's own `iterator`, which
  * caches the block again.
  *
  * The view itself is never persisted: [[release]] unpersists the source,
  * after which a miss computes without caching, as on any unpersisted RDD.
  * The broadcast stays, so a lazy frame evaluated after the release still
  * computes; the ContextCleaner frees it together with the view. The class
  * lives in this package for the `private[spark]` block manager,
  * `SparkContext.getPreferredLocs` and `RDD.computeOrReadCheckpoint`. */
final class ResidentView[T: ClassTag](@transient private val source: RDD[T])
    extends RDD[T](source.sparkContext, Nil) {
  require(source.getStorageLevel != StorageLevel.NONE,
    "a resident view needs a persisted source")

  /** The source's id: its cached blocks are `rdd_<sourceId>_<partition>`. */
  val sourceId: Int = source.id

  /** The source and its partitions, serialized once the way a task binary
    * would carry them (its dependencies are resolved after materialization). */
  private val lineage: Broadcast[Array[Byte]] = {
    val buf = SparkEnv.get.closureSerializer.newInstance()
      .serialize((source, source.partitions))
    val bytes = new Array[Byte](buf.remaining)
    buf.get(bytes)
    sparkContext.broadcast(bytes)
  }

  /** Whether a miss caches the recomputed block; false after [[release]].
    * Read from each job's serialized copy of the view. */
  @volatile private var recache = true

  override protected def getPartitions: Array[Partition] =
    Array.tabulate(source.partitions.length)(new ResidentView.Part(_))

  override protected def getPreferredLocations(split: Partition): Seq[String] =
    sparkContext.getPreferredLocs(source, split.index).map(_.toString)

  override def compute(split: Partition, ctx: TaskContext): Iterator[T] =
    SparkEnv.get.blockManager.get[T](RDDBlockId(sourceId, split.index)) match {
      case Some(block) =>
        new InterruptibleIterator(ctx, block.data.asInstanceOf[Iterator[T]])
      case None =>
        val (src, parts) = SparkEnv.get.closureSerializer.newInstance()
          .deserialize[(RDD[T], Array[Partition])](ByteBuffer.wrap(lineage.value),
            Thread.currentThread.getContextClassLoader)
        if (recache) src.iterator(parts(split.index), ctx)
        else src.computeOrReadCheckpoint(parts(split.index), ctx)
    }

  /** Unpersists the source; later misses compute without caching. */
  def release(): Unit = {
    recache = false
    source.unpersist()
  }
}

object ResidentView {
  private final class Part(val index: Int) extends Partition
}
