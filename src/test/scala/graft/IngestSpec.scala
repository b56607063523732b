package graft

import graft.etl.Ingest

class IngestSpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val dir = java.nio.file.Files.createTempDirectory("graft_ingest").toString

  private def writeCsv(n: Int): String = {
    val path = s"$dir/in_$n"
    (1 to n).map(i => (i, s"name_$i", i * 1.5))
      .toDF("VendorID", "name", "amount")
      .write.option("header", true).mode("overwrite").csv(path)
    path
  }

  test("S1: header + inferSchema read preserves exact column case") {
    val df = Ingest.readCsv(spark, writeCsv(10))
    assert(df.columns.toSeq === Seq("VendorID", "name", "amount"))
    assert(df.schema("VendorID").dataType.typeName === "integer")
    assert(df.schema("amount").dataType.typeName === "double")
  }

  test("S2: row cap limits load volume (13-chunk parity)") {
    val n = Ingest.load(spark, writeCsv(100), s"$dir/out_capped", rowCap = 42)
    assert(n === 42)
  }

  test("S2: the returned row count equals a re-read of the loaded table") {
    val csv = writeCsv(100)
    for ((cap, want) <- Seq(0 -> 0L, 42 -> 42L, 1000 -> 100L)) {
      val t = s"$dir/out_observed_$cap"
      val n = Ingest.load(spark, csv, t, rowCap = cap)
      assert(n === want && n === spark.read.parquet(t).count(), s"cap $cap")
    }
  }

  test("S2: reload is idempotent full refresh (truncate-then-append parity)") {
    val csv = writeCsv(50)
    val t = s"$dir/out_reload"
    assert(Ingest.load(spark, csv, t) === 50)
    assert(Ingest.load(spark, csv, t) === 50) // overwrite, not append
  }
}
