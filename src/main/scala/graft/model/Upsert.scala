package graft.model

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{broadcast, col}
import org.apache.spark.sql.types.StructType

/** The upsert-by-key merge primitives behind incremental
  * materialization, shared by the batch model framework
  * ([[ModelRegistry]]) and streaming sinks (foreachBatch — each
  * micro-batch is just another incremental run). Plain-parquet
  * implementations of the contract a table format's MERGE serves at
  * 100 TB; swaps go through [[graft.spark.FsOps]] (rename-aside,
  * scheme-aware).
  */
object Upsert {

  /** Partition-pruned upsert (dbt insert_overwrite shape, upsert
    * semantics): merge only the partitions `batch` touches — the
    * touched set is broadcast, bounded by the batch's partition count —
    * and physically replace just those partition directories. Untouched
    * partitions stay byte-identical. Requires a stable key→partition
    * mapping (a key that MOVES partitions leaves its old copy behind).
    * Returns the schema written. */
  def partitionPruned(spark: SparkSession, batch: DataFrame, cur: DataFrame,
      path: String, key: String, partitionBy: Seq[String]): StructType = {
    val touched = batch.select(
      partitionBy.map(c => col(c).as(s"__t_$c")): _*).distinct()
    // NULL-SAFE semi-join: a plain column-list semi-join never matches a
    // NULL partition value, so current rows in the NULL partition would
    // be dropped when a batch touches it (the dir is still swapped)
    val touchedCond = partitionBy
      .map(c => cur(c) <=> touched(s"__t_$c")).reduce(_ && _)
    val curTouched = cur.join(broadcast(touched), touchedCond, "left_semi")
    val merged = curTouched.join(batch.select(key).distinct(),
      Seq(key), "left_anti").unionByName(batch)
    val tmp = s"$path.__staging"
    merged.write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(tmp)
    graft.spark.FsOps.swapPartitions(spark, tmp, path, partitionBy.size)
    merged.schema
  }

  /** Whole-table upsert: keep current rows whose key is absent from the
    * batch, add every batch row. Staged to a temp dir first — the plan
    * reads `path` lazily and cannot overwrite it in place. Returns the
    * schema written. */
  def fullRewrite(spark: SparkSession, batch: DataFrame, cur: DataFrame,
      path: String, key: String): StructType = {
    val merged = cur.join(batch.select(key).distinct(),
      Seq(key), "left_anti").unionByName(batch)
    val tmp = s"$path.__staging"
    merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    graft.spark.FsOps.swapInto(spark, tmp, path)
    merged.schema
  }

  /** One micro-batch into a partitioned incremental table — the
    * foreachBatch body for streaming incremental materialization.
    * First batch bootstraps the table; later batches partition-prune. */
  def streamingBatch(spark: SparkSession, batch: DataFrame, path: String,
      key: String, partitionBy: Seq[String]): Unit = {
    val exists = graft.spark.FsOps.fs(spark, path)
      .exists(new org.apache.hadoop.fs.Path(path))
    if (!exists) {
      batch.write.mode(SaveMode.Overwrite)
        .partitionBy(partitionBy: _*).parquet(path)
    } else {
      partitionPruned(spark, batch, spark.read.parquet(path), path, key, partitionBy)
    }
  }
}
