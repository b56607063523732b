package graft

import graft.sources.Tables
import org.apache.spark.sql.graftshim.ListenerSync

/** `Tables` reads every base table with the schema of its footer, read on
  * the driver: the schema `spark.read.parquet` infers, with no
  * schema-inference job. */
class TablesSpec extends SparkSpecBase {

  private val loaders = Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
      org.apache.spark.sql.DataFrame)](
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  for (sf <- Seq("sf0.001", "sf0.01")) {
    lazy val d = new java.io.File(sf001).getParent + "/" + sf

    test(s"$sf: every table's schema is the one spark.read.parquet infers") {
      assert(loaders.map(_._1) == Tables.all)
      loaders.foreach { case (t, load) =>
        val got = load(spark, d).schema
        // Tables.events set the nanos flag the inferred read must see too
        val inferred = spark.read.parquet(s"$d/$t.parquet")
        val want = (if (t == "events") Tables.normalizeEventsTs(inferred) else inferred).schema
        assert(got == want, s"$t: $got != $want")
      }
    }

    test(s"$sf: building the ten table DataFrames launches no Spark job") {
      val (_, jobs) = ListenerSync.countJobs(spark.sparkContext) {
        loaders.foreach { case (_, load) => load(spark, d) }
      }
      assert(jobs == 0)
    }
  }
}
