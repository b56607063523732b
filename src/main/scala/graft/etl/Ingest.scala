package graft.etl

import org.apache.spark.sql.{DataFrame, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** Ingest job: reference parity for ETL/ETL.py (operators S1/S2).
  *
  * The reference reads a CSV in 100k-row pandas chunks, TRUNCATEs the
  * target table, appends chunk-by-chunk, and stops after 13 chunks
  * (ETL/ETL.py:45-54 — a hard ≈1.3M-row volume cap).
  *
  * Spark-first re-expression:
  *  - chunked read → partition-parallel `spark.read.csv`; chunk size
  *    becomes `spark.sql.files.maxPartitionBytes` — no loop, no
  *    driver-side memory ceiling to work around.
  *  - truncate-then-append → stage-then-swap full reload (same
  *    idempotent contract; the live directory is replaced only after
  *    the new data is fully written, so readers never observe the
  *    empty mid-load window the reference's TRUNCATE exposes, and a
  *    mid-write failure leaves the previous load intact).
  *  - the 13-chunk cap → `limit(rowCap)`. NOTE: like the reference's
  *    "first 13 chunks", WHICH rows survive the cap is not defined —
  *    Spark takes them from whichever partitions answer first.
  */
object Ingest {

  val referenceRowCap: Int = 1_300_000 // 13 chunks × 100k, ETL/ETL.py:48-50

  /** S1: header + inferred-schema CSV scan (ETL.py:20-30). Column names
    * preserved exactly, including case ("VendorID", "RateCodeID"). */
  def readCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.option("header", true).option("inferSchema", true).csv(path)

  /** S2: idempotent full reload with volume cap (ETL.py:33-58).
    * limit() plans a GlobalLimit that funnels the cap to ONE partition;
    * the repartition after it restores a partition-parallel write (the
    * shuffle moves only the capped rows). The rename-aside swap
    * (graft.spark.FsOps) keeps the previous load recoverable until the
    * new one is fully in place; readers see at most a two-rename gap —
    * vs the reference's TRUNCATE, which exposes an empty table for the
    * whole chunk-append loop. Returns the rows loaded, counted by an
    * observation on the staged write itself: the count comes with the
    * write's own jobs instead of a re-read of the target. */
  def load(spark: SparkSession, csvPath: String, targetDir: String,
      rowCap: Int = referenceRowCap): Long = {
    val staging = s"$targetDir.__staging"
    val rows = Observation()
    readCsv(spark, csvPath)
      .limit(rowCap)
      .repartition(spark.sparkContext.defaultParallelism)
      .observe(rows, count(lit(1)).as("rows"))
      .write.mode(SaveMode.Overwrite).parquet(staging)
    graft.spark.FsOps.swapInto(spark, staging, targetDir)
    rows.get("rows").asInstanceOf[Long]
  }
}
