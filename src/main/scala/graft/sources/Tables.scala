package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ParquetFooterSchema

/** Parquet table loaders for the driver testdata star schema
  * (TESTDATA.md / FIXTURES.md §C). One parquet file per table under
  * `sfDir`. Column pruning + predicate pushdown reach the scan because
  * these return plain lazy DataFrames (verify with
  * `.explain("formatted")` → PushedFilters / ReadSchema).
  *
  * At 100 TB these would be directories of many parquet files
  * (possibly partitioned); `spark.read.parquet` handles both shapes
  * unchanged — no code here assumes a single file.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Read with the schema of the table's footer, read on the driver
    * (`graftshim.ParquetFooterSchema`): the schema `spark.read.parquet`
    * would infer, without its inference job. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(ParquetFooterSchema.read(spark, path)).parquet(path)

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped as BOTH nanosecond parquet (which Spark 4
    * refuses to read as TimestampType — the legacy nanosAsLong flag
    * surfaces it as epoch-nanos LONG) and plain microsecond
    * isAdjustedToUTC=false parquet (which Spark 4 reads as
    * TIMESTAMP_NTZ) across driver testdata generations. Normalize BOTH
    * to session-zoned TimestampType at microsecond precision — exactly
    * what DuckDB sees (its naive TIMESTAMP µs), and the session runs
    * UTC, so the NTZ→TZ cast is value-preserving and oracle
    * comparisons agree either way.
    * NOTE: the legacy flag is deliberately left set for the session
    * (schema resolution happens eagerly here, but the vectorized
    * reader may consult it again at execution); any nanos-precision
    * parquet in this engine reads as long by design — always load
    * events through THIS method, never plain spark.read.parquet. */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventsTs(table(s, d, "events"))
  }

  /** Normalize whichever physical ts the generation produced to µs
    * TimestampType (shared by the batch loader above and the streaming
    * file source, which must declare its schema up front). */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", nanosToTimestamp(col("ts")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }

  /** ns → µs must be INTEGER division: epoch nanos (~1.7e18) exceed
    * 2^53, so double division (`/`) loses up to 256 ns per value and
    * truncates to the wrong microsecond for ~1.5% of µs-granular
    * values. Exact decimal division + truncating cast instead. */
  def nanosToTimestamp(ns: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    timestamp_micros((ns.cast("decimal(38,0)") / 1000).cast("long"))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** The embeddings table's schema, for the file stream, which must
    * declare it up front. */
  val embeddingsSchema = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"

  /** Register every table as a temp view so spark.sql(...) works. */
  def registerAll(spark: SparkSession, sfDir: String): Unit =
    all.foreach { n =>
      val df = if (n == "events") events(spark, sfDir) else table(spark, sfDir, n)
      df.createOrReplaceTempView(n)
    }
}
