package org.apache.spark.sql.graftshim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD

/** Storage release that actually works for localCheckpoint-ed frames.
  *
  * `Dataset.unpersist()` only removes CacheManager entries; a
  * localCheckpoint materializes through a DIRECTLY persisted RDD
  * wrapped in LogicalRDD, which CacheManager knows nothing about — so
  * plain unpersist on a checkpointed frame is a silent no-op and the
  * blocks live until the RDD object is GC'd (ContextCleaner). For
  * bounded iterative loops (connected components, BPE training) that
  * retire a generation per round, waiting on GC timing means peak
  * storage grows with round count; this frees the blocks
  * deterministically instead.
  */
object Checkpoints {

  /** Release EVERYTHING behind `df`: the CacheManager entry (if any)
    * and the persisted RDD of each LogicalRDD leaf (the localCheckpoint
    * storage). Safe on any frame — both paths no-op when absent. */
  def release(df: DataFrame): Unit = {
    df.unpersist()
    releaseUnderlying(df)
  }

  /** Free only the localCheckpoint block storage, leaving any
    * CacheManager cache built FROM it intact (InMemoryRelation holds
    * its own buffers once materialized). */
  def releaseUnderlying(df: DataFrame): Unit =
    storage(df).foreach(_.unpersist(blocking = false))

  /** Whether `df`'s plan reads the localCheckpoint storage behind
    * `ckpt`: releasing `ckpt` would then break `df`. */
  def reads(df: DataFrame, ckpt: DataFrame): Boolean = {
    val read = storage(df).map(_.id).toSet
    storage(ckpt).exists(r => read(r.id))
  }

  private def storage(df: DataFrame) =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
}
