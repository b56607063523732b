package perfbench

import graft.GraftQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, countDistinct, lit, sum, when}

/** Where a warm-up op's full output goes for the oracle check, and the
  * oracle it must match. */
final case class Check(op: String, oracle: String, path: String)

/** One workload: a closed loop over cycles. `cycle` runs one cycle's
  * ops through the recorder; in the warm-up cycle (`check` set) it
  * also writes or asserts every op's full output. */
trait Workload {
  def cycle(rec: Recorder, check: Option[CheckSink]): Unit
}

/** Collects the warm-up pass's verdicts: catalog outputs written for
  * the oracle comparison, and in-process assertions. */
final class CheckSink(val dir: String) {
  val oracleChecks = scala.collection.mutable.ArrayBuffer.empty[Check]
  val failures = scala.collection.mutable.ArrayBuffer.empty[String]
  var asserted = 0
  def expect(what: String, ok: Boolean): Unit = {
    asserted += 1
    if (!ok) failures += what
  }
}

object Workloads {

  /** Every timed op is drained through the `noop` sink: all columns and
    * the final order are produced, nothing is written. */
  def drain(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** An op that yields a DataFrame: drained when timed; in the warm-up
    * pass written out whole for the oracle check instead. */
  def dataOp(rec: Recorder, check: Option[CheckSink], name: String, family: String,
      phase: String, oracle: Option[String])(df: => DataFrame): Unit =
    rec.op(name, family, phase) {
      check match {
        case Some(c) =>
          val path = s"${c.dir}/$name"
          df.write.mode("overwrite").parquet(path)
          oracle.foreach(o => c.oracleChecks += Check(name, o, path))
        case None => drain(df)
      }
    }

  def byName(name: String): GraftQuery =
    graft.SparkEntry.catalog.find(_.name == name)
      .getOrElse(sys.error(s"catalog has no query $name"))

  def seeded[A](xs: Seq[A], seed: Long): Seq[A] = new scala.util.Random(seed).shuffle(xs)
}

/** The reference's job on a generated taxi CSV: ingest, the two-model
  * DAG with its five data-quality tests, the training pull and a
  * 20-tree forest. Checked against the counts the generator planted. */
final class DbtPipeline(spark: SparkSession, csv: String, work: String,
    planted: Map[String, Long]) extends Workload {
  import graft.models.{TaxiModels, TaxiPipeline}
  private val features = Array("trip_distance", "passenger_count",
    "trip_duration_minutes", "avg_speed_mph", "rate_code_id", "payment_type")
  private val numTrees = 20 // the forest size of the catalog's q36_ml_rf_fit
  private var iteration = 0

  def cycle(rec: Recorder, check: Option[CheckSink]): Unit = {
    iteration += 1
    val out = s"$work/dbt/$iteration"
    var loaded = 0L
    var result: TaxiPipeline.Result = null
    var pulled: DataFrame = null
    var fit: graft.ml.Predictor.FitResult = null
    rec.op("etl.load", "etl", "write") {
      loaded = graft.etl.Ingest.load(spark, csv, s"$out/texi_data")
    }
    rec.op("models.run", "models", "write") {
      result = TaxiPipeline.run(spark, spark.read.parquet(s"$out/texi_data"), out,
        lit("2015-02-01"))
    }
    rec.op("ml.pull", "ml", "read") {
      pulled = TaxiModels.mlTrainingPull(result.tables("core_texi")).persist()
      Workloads.drain(pulled)
    }
    rec.op("ml.fit", "ml", "read") {
      fit = graft.ml.Predictor.fit(pulled.withColumnRenamed("fare_amount", "label"),
        numTrees = numTrees, features = features)
    }
    check.foreach { c =>
      val core = result.tables("core_texi")
      val row = core.agg(
        org.apache.spark.sql.functions.count(lit(1)),
        countDistinct(col("unique_id")),
        sum(when(col("is_long_trip"), 1L).otherwise(0L)),
        sum(when(col("avg_speed_mph").isNull, 1L).otherwise(0L))).head()
      c.expect(s"ingested rows $loaded == ${planted("ingested")}", loaded == planted("ingested"))
      c.expect(s"core_texi rows ${row.getLong(0)} == ${planted("core")}",
        row.getLong(0) == planted("core"))
      c.expect(s"unique unique_id ${row.getLong(1)} == ${planted("core")}",
        row.getLong(1) == planted("core"))
      c.expect(s"long trips ${row.getLong(2)} == ${planted("long_trips")}",
        row.getLong(2) == planted("long_trips"))
      c.expect(s"null speeds ${row.getLong(3)} == ${planted("null_speed")}",
        row.getLong(3) == planted("null_speed"))
      c.expect(s"five DQ tests run and pass: ${result.dqReport}",
        result.dqReport.size == 5 && result.passed)
      c.expect(s"forest fit on every pulled row (${fit.nTrain}+${fit.nTest})",
        fit != null && fit.nTrain + fit.nTest == pulled.count() && fit.rmse.isFinite)
    }
    if (pulled != null) pulled.unpersist(blocking = true)
    graft.spark.FsOps.fs(spark, out).delete(new org.apache.hadoop.fs.Path(out), true)
  }
}

/** Rounds over the catalog: evict every session memo, refresh the
  * embeddings-ingest drain from a seeded arrival file, then serve every
  * op once in a seeded order (cold: the first touch after the refresh)
  * and the corpus serves a second time (warm). The warm pass is limited
  * to the corpus serves so that a round fits the run budget. */
final class CatalogServing(spark: SparkSession, dir: String, embArrivals: String,
    seed: Long, analyst: Seq[(String, String)], corpus: Seq[(String, String)])
    extends Workload {
  import graft.streaming.Streams
  private val compaction = Workloads.byName("q344_stream_compaction_policy")
  private val refreshPolicy = Workloads.byName("q357_stream_refresh_policy")
  private var round = 0
  /** Entries `SessionMemo.evictAll` dropped, per round. */
  val evicted = scala.collection.mutable.ArrayBuffer.empty[Int]
  /** Block storage held right after each refresh: (rdds, bytes). */
  val heldAfterRefresh = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]

  private type Serve = (Recorder, Option[CheckSink]) => Unit

  private def catalog(ops: Seq[(String, String)]): Seq[Serve] = ops.map { case (fam, n) =>
    val q = Workloads.byName(n)
    (rec: Recorder, check: Option[CheckSink]) =>
      Workloads.dataOp(rec, check, q.name, fam, "serve", q.oracle)(q.fn(spark, dir))
  }

  /** A drained artifact served as a read op, checked against the
    * catalog oracle of the query that serves the same artifact. */
  private def drained(label: String, oracleOf: GraftQuery)(df: => DataFrame): Serve =
    (rec, check) =>
      Workloads.dataOp(rec, check, label, "streaming.Streams", "serve", oracleOf.oracle)(df)

  private val corpusServes: Seq[Serve] = catalog(corpus) ++ Seq(
    drained("q344@arrivals", compaction)(
      Streams.streamCompactionPolicy(spark, dir, Some(embArrivals))),
    drained("q357@arrivals", refreshPolicy)(
      Streams.streamRefreshPolicy(spark, dir, Some(embArrivals))))
  private val allServes: Seq[Serve] = catalog(analyst) ++ corpusServes

  def cycle(rec: Recorder, check: Option[CheckSink]): Unit = {
    round += 1
    rec.op("memo.evict", "spark", "refresh") {
      evicted += graft.spark.SessionMemo.evictAll(spark)
    }
    // one embeddings-ingest stream feeds both drained policies
    rec.op("streams.emb_partials", "streaming", "refresh") {
      Streams.streamCompactionPolicy(spark, dir, Some(embArrivals))
      Streams.streamRefreshPolicy(spark, dir, Some(embArrivals))
    }
    heldAfterRefresh += Held.now(spark)
    val order = seed * 104729L + round * 31L
    Workloads.seeded(allServes, order).foreach(_(rec, check))
    // the warm-up round checks each op once
    if (check.isEmpty) Workloads.seeded(corpusServes, order + 1).foreach(_(rec, None))
  }
}

/** Spark block storage held by the session: RDD count and bytes in
  * memory plus on disk. */
object Held {
  def now(spark: SparkSession): (Int, Long) = {
    val infos = spark.sparkContext.getRDDStorageInfo.filter(_.numCachedPartitions > 0)
    (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
  }
}
