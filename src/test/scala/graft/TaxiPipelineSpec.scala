package graft

import graft.dq.DataQuality
import graft.dq.DataQuality.DqResult
import graft.etl.Ingest
import graft.models.TaxiPipeline
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.graftshim.ListenerSync.countJobs

/** End-to-end reference flow: CSV → ingest → raw_texi → core_texi →
  * five data-quality assertions (SURVEY §7.2's vertical slice). */
class TaxiPipelineSpec extends SparkSpecBase {
  import spark.implicits._

  private def writeTaxiCsv(path: String): Unit = {
    val rows = Seq(
      // clean trip
      ("1", "2015-01-15 19:05:39", "2015-01-15 19:25:39", "2", "5.0", "-73.9", "40.7", "1", "N", "-73.8", "40.6", "1", "10.5", "0.5", "0.5", "1.0", "0.0", "0.3", "12.8"),
      // duplicate of the clean trip (dedup target)
      ("1", "2015-01-15 19:05:39", "2015-01-15 19:25:39", "2", "5.0", "-73.9", "40.7", "1", "N", "-73.8", "40.6", "1", "10.5", "0.5", "0.5", "1.0", "0.0", "0.3", "12.8"),
      // null dropoff (dropped by F1)
      ("2", "2015-01-16 10:00:00", null, "1", "3.0", "-73.9", "40.7", "1", "N", "-73.8", "40.6", "1", "8.0", "0.5", "0.5", "0.0", "0.0", "0.3", "9.3"),
      // zero duration (dropped by F2)
      ("3", "2015-01-16 11:00:00", "2015-01-16 11:00:00", "1", "2.0", "-73.9", "40.7", "1", "N", "-73.8", "40.6", "2", "5.0", "0.5", "0.5", "0.0", "0.0", "0.3", "6.3"),
      // 600 mph (dropped by F3)
      ("4", "2015-01-16 12:00:00", "2015-01-16 12:20:00", "1", "200.0", "-73.9", "40.7", "1", "N", "-73.8", "40.6", "1", "99.0", "0.5", "0.5", "0.0", "0.0", "0.3", "100.3"),
      // long trip (is_long_trip = true)
      ("5", "2015-01-16 13:00:00", "2015-01-16 14:00:00", "3", "15.0", "-73.9", "40.7", "2", "Y", "-73.8", "40.6", "2", "45.0", "0.5", "0.5", "5.0", "0.0", "0.3", "51.3"))
    rows.toDF("VendorID", "tpep_pickup_datetime", "tpep_dropoff_datetime",
        "passenger_count", "trip_distance", "pickup_longitude", "pickup_latitude",
        "RateCodeID", "store_and_fwd_flag", "dropoff_longitude", "dropoff_latitude",
        "payment_type", "fare_amount", "extra", "mta_tax", "tip_amount",
        "tolls_amount", "improvement_surcharge", "total_amount")
      .write.option("header", true).mode("overwrite").csv(path)
  }

  private lazy val csvDir = {
    val dir = java.nio.file.Files.createTempDirectory("taxi_e2e").toString
    writeTaxiCsv(s"$dir/raw.csv")
    dir
  }

  private lazy val result = TaxiPipeline.runFromCsv(spark, s"$csvDir/raw.csv",
    s"$csvDir/out", ingestionDate = lit("2026-01-01"))

  test("CSV → ingest → models → DQ suite, end to end") {
    assert(result.tables("raw_texi").count() === 6)
    val core = result.tables("core_texi")
    // 6 raw - 1 dup - 1 null-dropoff - 1 zero-duration - 1 speeding = 2
    assert(core.count() === 2)
    assert(core.columns.length === 24) // the full core_texi schema (FIXTURES.md §B)
    assert(result.passed, s"DQ failures: ${result.dqReport.filterNot(_.passed)}")
    val longTrips = core.where($"is_long_trip").collect()
    assert(longTrips.length === 1 && longTrips(0).getAs[Int]("vendor_id") === 5)
  }

  test("a core frame with planted violations reports each exact count") {
    val core = result.tables("core_texi")
    // (unique_id, trip_duration_minutes, avg_speed_mph); every other
    // core column comes from one real core_texi row
    val planted = Seq[(Option[String], Option[Double], Option[Double])](
      (None, Some(10.0), Some(20.0)), (None, Some(10.0), Some(20.0)), // 2 null ids
      (Some("a"), Some(10.0), Some(20.0)), (Some("a"), Some(10.0), Some(20.0)),
      (Some("b"), Some(10.0), Some(20.0)), (Some("b"), Some(10.0), Some(20.0)),
      (Some("b"), Some(10.0), Some(20.0)),
      (Some("c"), Some(10.0), Some(20.0)), (Some("c"), Some(10.0), Some(20.0)), // 3 duplicated ids
      (Some("d"), None, Some(20.0)), // 1 null duration
      (Some("e"), Some(0.0), Some(20.0)), (Some("f"), Some(-1.0), Some(20.0)),
      (Some("g"), Some(-5.0), Some(20.0)), (Some("h"), Some(0.0), Some(20.0)), // 4 non-positive
      (Some("i"), Some(10.0), Some(301.0)), (Some("j"), Some(10.0), Some(400.0)),
      (Some("k"), Some(10.0), Some(1000.0)), (Some("l"), Some(10.0), Some(300.5)),
      (Some("m"), Some(10.0), Some(999.0)), // 5 over the limit
      (Some("n"), Some(10.0), Some(300.0)), (Some("o"), Some(10.0), None)) // both pass
      .toDF("unique_id", "trip_duration_minutes", "avg_speed_mph")
      .crossJoin(core.limit(1).drop("unique_id", "trip_duration_minutes", "avg_speed_mph"))
      .select(core.columns.toIndexedSeq.map(col): _*)
    assert(planted.schema === core.schema)
    assert(DataQuality.runAll(planted, DataQuality.coreTexiSuite) === Seq(
      DqResult("unique_id_not_null", 2), DqResult("unique_id_unique", 3),
      DqResult("trip_duration_not_null", 1), DqResult("trip_duration_positive", 4),
      DqResult("avg_speed_limit", 5)))
  }

  test("the dbt step runs in at most 6 Spark jobs, its DQ suite in 3") {
    val dir = java.nio.file.Files.createTempDirectory("taxi_jobs").toString
    Ingest.load(spark, s"$csvDir/raw.csv", s"$dir/texi_data")
    val raw = spark.read.parquet(s"$dir/texi_data")
    // raw_texi write 1, core_texi write (window shuffle) <= 2, DQ <= 3
    val (run, runJobs) = countJobs(spark.sparkContext)(
      TaxiPipeline.run(spark, raw, dir, lit("2026-01-01")))
    val (_, dqJobs) = countJobs(spark.sparkContext)(
      DataQuality.runAll(run.tables("core_texi"), DataQuality.coreTexiSuite))
    info(s"TaxiPipeline.run: $runJobs jobs; runAll(coreTexiSuite): $dqJobs jobs")
    assert(run.passed)
    assert(runJobs <= 6, s"TaxiPipeline.run launched $runJobs jobs")
    assert(dqJobs <= 3, s"runAll(coreTexiSuite) launched $dqJobs jobs")
  }
}
