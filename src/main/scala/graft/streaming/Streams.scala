package graft.streaming

import graft.GraftQuery
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming surface (north-star; the reference has no
  * streaming — SURVEY §2.12). The `events` table doubles as a file
  * stream source: file stream → windowed aggregation → memory sink,
  * driven synchronously for verification via processAllAvailable().
  *
  * One arrival path: every file stream is opened by [[readArrivals]],
  * which reads ONE arrival file per trigger — the reference's bounded
  * ingest chunk. A table's arrivals are its symlink-staged testdata
  * file (one trigger), a caller's multi-file staging (one trigger per
  * file) or the ordered arrival files of [[stageArrivals]].
  *
  * Scale design: the same plan deployed against a real source (Kafka,
  * incoming parquet drops) runs unchanged; watermarking bounds state,
  * and the hourly-window aggregation state is O(#windows × #types),
  * independent of input volume. Complete mode is used here so a single
  * batch emits every window (append mode would hold windows open until
  * the watermark passes them — right for production, wrong for a
  * one-shot verification read).
  */
object Streams {

  /** THE stream lifecycle, shared by every stream in this object: set
    * the stream shuffle partitions, start the query, drain it with
    * processAllAvailable() and stop it.
    *
    * Stateful operators allocate one state store per shuffle partition
    * per micro-batch; at this input volume 8 partitions carry the state
    * comfortably and cut per-batch fixed cost 4x vs the batch-tuned 32.
    * (At production volume this knob is sized to state bytes per
    * partition, not to CPU count.) Restored after the query stops so
    * batch queries in the same session keep their tuning. NOTE: the
    * conf is session-global — a concurrent query on the same session
    * would see it; safe under the single-threaded driver harness, use
    * spark.newSession() per stream in a multi-tenant driver. */
  private def withStreamShufflePartitions(spark: SparkSession)(
      start: => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "8")
    try {
      val q = start
      try q.processAllAvailable() finally q.stop()
    } finally spark.conf.set(key, prev)
  }

  /** Drains `stream` into the memory table `name` in output `mode` and
    * returns the table. */
  private def drainToMemory(spark: SparkSession, name: String, mode: String)(
      stream: => DataFrame): DataFrame = {
    withStreamShufflePartitions(spark)(stream.writeStream.outputMode(mode)
      .format("memory").queryName(name).start())
    spark.table(name)
  }

  /** Drains `stream`, handing each trigger's batch and batch id to `f`. */
  private def drainEach(spark: SparkSession, stream: DataFrame)(
      f: (DataFrame, Long) => Unit): Unit =
    withStreamShufflePartitions(spark)(stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        f(batch.toDF(), bid)
      }
      .start())

  /** One partial log of a drain, declared as data: the scratch-directory
    * stem (keyed by the staging dir), the schema the log is read back
    * with, the partial each trigger writes from its persisted batch and
    * batch id, and the fold that turns the read-back log into the
    * maintained artifact. `derived` is a log computed from THIS log's
    * just-written trigger partial (read back with this log's schema),
    * so the two can never disagree. */
  private final case class PartialLog(
      scratch: String,
      schema: String,
      partial: (DataFrame, Long) => DataFrame,
      fold: DataFrame => DataFrame = identity,
      derived: Option[PartialLog] = None)

  private def withDerived(logs: Seq[PartialLog]): Seq[PartialLog] =
    logs.flatMap(l => l +: l.derived.toSeq)

  /** `dir` read with `schema` (no schema-inference job) and projected to
    * its declared columns, dropping the `batch` partition column. */
  private def readLog(spark: SparkSession, schema: String, dir: String): DataFrame = {
    val declared = StructType.fromDDL(schema)
    spark.read.schema(declared).parquet(dir)
      .select(declared.fieldNames.toSeq.map(col): _*)
  }

  /** THE partial-log drain, up to the read-back. Each log's scratch dir
    * (a derived log right after its parent) is wiped and created, so a
    * log no trigger wrote reads back empty, not as a missing path. Each
    * trigger materializes its batch once (one local checkpoint) and
    * submits every log's partial
    * together ([[graft.spark.Parallel.all]]), each overwriting
    * `<dir>/batch=<bid>`: a replayed trigger rewrites its partial,
    * never duplicates it. A file-source trigger with no stateful
    * operator never delivers an empty batch, and a partial over a batch
    * that a filter leaves empty writes an empty partial, so no trigger
    * probes for emptiness. Returns the dirs in [[withDerived]] order. */
  private def drainLogs(spark: SparkSession, key: String, stream: DataFrame,
      logs: Seq[PartialLog]): Seq[String] = {
    def dir(l: PartialLog) = graft.operators.Formats.scratchDir(l.scratch, key)
    val dirs = withDerived(logs).map(dir)
    dirs.foreach { d =>
      graft.operators.Formats.wipe(d)
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
    }
    def write(l: PartialLog, partial: DataFrame, bid: Long): Unit = {
      val path = s"${dir(l)}/batch=$bid"
      partial.write.mode("overwrite").parquet(path)
      l.derived.foreach(d =>
        write(d, d.partial(readLog(spark, l.schema, path), bid), bid))
    }
    drainEach(spark, stream) { (batch, bid) =>
      // materialized by one job before the partials are submitted: a
      // persisted batch that no job had materialized yet would cost
      // every concurrent adaptive partial its own cache-stage job
      val b = batch.localCheckpoint()
      try graft.spark.Parallel.all(
        logs.map(l => () => write(l, l.partial(b, bid), bid)))
      finally org.apache.spark.sql.graftshim.Checkpoints.release(b)
      ()
    }
    dirs
  }

  /** Every log under `dirs` read back with its declared schema, folded
    * and checkpointed, all together. The checkpoints decouple the
    * artifacts from the scratch dirs, which a later drain of the same
    * key wipes and rewrites. */
  private def checkpointLogs(spark: SparkSession, logs: Seq[PartialLog],
      dirs: Seq[String]): Seq[DataFrame] =
    graft.spark.Parallel.all(withDerived(logs).zip(dirs).map { case (l, d) =>
      () => l.fold(readLog(spark, l.schema, d)).localCheckpoint()
    })

  /** [[drainLogs]] then [[checkpointLogs]]: one artifact per log, in
    * [[withDerived]] order. */
  private def drainPartialLogs(spark: SparkSession, key: String,
      stream: DataFrame, logs: Seq[PartialLog]): Seq[DataFrame] =
    checkpointLogs(spark, logs, drainLogs(spark, key, stream, logs))

  // ts arrives as nanos-as-long (legacy read) OR µs TIMESTAMP_NTZ
  // depending on the testdata generation; the streaming source must
  // declare a schema up front, so readEventArrivals probes the file's
  // batch-read schema and normalizes via Tables.normalizeEventsTs.

  /** Hourly tumbling-window counts per event type, executed as a real
    * streaming query over the events parquet and returned as a batch
    * DataFrame once all available input is processed. */
  def hourlyCounts(spark: SparkSession, sfDir: String): DataFrame = {
    drainToMemory(spark, "graft_stream_hourly", "complete")(
      readEventArrivals(spark, sfDir, None)
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value")))
      .select(col("win.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy("hour_start", "event_type")
  }

  /** The streaming query, oracle-checked against the equivalent batch
    * SQL — tumbling windows over event time are deterministic, so the
    * streaming result must equal the batch group-by. */
  val qStreamHourly: GraftQuery = GraftQuery(
    "q35_stream_hourly",
    """SELECT date_trunc('hour', ts) AS hour_start, event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY hour_start, event_type""".stripMargin) { (s, d) =>
    hourlyCounts(s, d)
  }

  /** Streaming dedup via dropDuplicates on the key columns — state is
    * one entry per distinct key (bounded by watermark in production
    * via dropDuplicatesWithinWatermark). Key set is deterministic even
    * though WHICH row survives isn't — so the query emits keys only. */
  def streamDedupKeys(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, "graft_stream_dedup", "append")(
      readEventArrivals(spark, sfDir, None)
        .select(col("user_id"), col("event_type"))
        .dropDuplicates("user_id", "event_type"))
      .orderBy("user_id", "event_type")

  /** BOUNDED-STATE streaming dedup — the production form: duplicates
    * arriving within the watermark delay are dropped and state older
    * than the watermark is evicted, so state holds one entry per key
    * seen in the last hour of event time instead of one per key EVER
    * (plain dropDuplicates grows without bound on an unbounded key
    * domain — a non-starter at 100 TB/day). Emitted keys equal batch
    * DISTINCT whenever each key's duplicates arrive within the delay
    * of its first occurrence — trivially true here (the file source
    * delivers one micro-batch) and the contract a production deployer
    * sizes the delay for; the multi-batch eviction/re-emission
    * semantics are pinned by StreamsSpec. */
  def streamDedupWithinWatermarkKeys(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, "graft_stream_wm_dedup", "append")(
      readEventArrivals(spark, sfDir, None)
        .select(col("user_id"), col("event_type"), col("ts"))
        .withWatermark("ts", "1 hour")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .select("user_id", "event_type"))
      .orderBy("user_id", "event_type")

  /** Stateful sessionization with flatMapGroupsWithState: per-user
    * event-time gap > 1h starts a new session (the streaming form of
    * Relational.q20Sessionize — same session count contract). State is
    * O(1) per user: last timestamp + running count. */
  def sessionCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val stream = readEventArrivals(spark, sfDir, None)
      .select(col("user_id"), unix_timestamp(col("ts")).as("ts_sec"))
      .as[(Long, Long)]
    def update(userId: Long, rows: Iterator[(Long, Long)],
        state: GroupState[(Long, Long, Long)]): Iterator[(Long, Long, Long)] = {
      // state: (lastSec, nSessions, nEvents); batch rows sorted here —
      // within one micro-batch ordering is not guaranteed by the source
      val sorted = rows.map(_._2).toSeq.sorted
      var (last, sessions, events) = state.getOption.getOrElse((Long.MinValue, 0L, 0L))
      sorted.foreach { sec =>
        if (last == Long.MinValue || sec - last > 3600) sessions += 1
        last = sec; events += 1
      }
      state.update((last, sessions, events))
      Iterator.single((userId, sessions, events))
    }
    val sessions = drainToMemory(spark, "graft_stream_sessions", "update")(
      stream.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
        .toDF("user_id", "n_sessions", "n_events"))
    // keep the last update per user (multi-batch safety), sorted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("n_events").desc)
    sessions
      .withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .where(col("rn") === 1).drop("rn")
      .orderBy("user_id")
  }

  /** The file stream source wants a DIRECTORY of arriving files (its
    * production shape); stage a single testdata file into one via
    * symlink without touching the read-only testdata tree. NOFOLLOW on
    * the existence check: a dangling leftover link (testdata moved)
    * reports non-existent through follow semantics but still blocks
    * createSymbolicLink — recreate it unconditionally. ONE copy of
    * this subtle filesystem logic, behind every table's arrivals
    * ([[readArrivals]]). */
  private def stageAsStreamDir(prefix: String, sfDir: String,
      fileName: String): String = {
    val streamDir = java.nio.file.Paths.get(
      sys.props("java.io.tmpdir"), prefix, sfDir.replaceAll("[^A-Za-z0-9]", "_"))
    java.nio.file.Files.createDirectories(streamDir)
    val link = streamDir.resolve(fileName)
    val target = java.nio.file.Paths.get(sfDir, fileName)
    if (java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
        java.nio.file.Files.readSymbolicLink(link) != target)
      java.nio.file.Files.delete(link)
    if (!java.nio.file.Files.exists(link, java.nio.file.LinkOption.NOFOLLOW_LINKS))
      java.nio.file.Files.createSymbolicLink(link, target)
    streamDir.toString
  }

  /** THE file stream of the engine: `table`'s arrivals, ONE arrival
    * file per trigger, so a micro-batch is exactly one file. The
    * arrivals are the staged dir `srcDir` (several files for a
    * multi-trigger run, or the ordered arrivals of [[stageArrivals]])
    * or else the table's symlink-staged file. They are read with the
    * declared `schema`, or else with the files' own (a footer-only
    * probe, no data read). */
  private def readArrivals(spark: SparkSession, sfDir: String, table: String,
      srcDir: Option[String], schema: Option[String] = None): DataFrame = {
    val dir = srcDir.getOrElse(
      stageAsStreamDir(s"graft_stream_$table", sfDir, s"$table.parquet"))
    spark.readStream
      .schema(schema.fold(spark.read.parquet(dir).schema)(StructType.fromDDL))
      .option("maxFilesPerTrigger", 1)
      .parquet(dir)
  }

  /** The events arrivals with ts normalized to µs TimestampType (the
    * probed file schema carries the generation's ts type). */
  private def readEventArrivals(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    graft.sources.Tables.normalizeEventsTs(
      readArrivals(spark, sfDir, "events", srcDir))
  }

  /** Stream-static join: the event stream enriched against a static
    * dimension (customer) — the dim is effectively broadcast to every
    * micro-batch; no stream-side state. Aggregated per segment. */
  def streamStaticJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = graft.sources.Tables.customer(spark, sfDir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    drainToMemory(spark, "graft_stream_static", "complete")(
      readEventArrivals(spark, sfDir, None)
        .join(cust, "user_id")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value")))
      .orderBy("c_mktsegment")
  }

  /** Stream-stream inner join with watermarks on both sides: views
    * joined to same-user clicks landing within the following hour.
    * Inner joins emit on match (no watermark holdback — that's only
    * outer joins), while the watermark + time-range condition bounds
    * the join state to one hour of events per side. */
  def streamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val views = readEventArrivals(spark, sfDir, None)
      .where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val clicks = readEventArrivals(spark, sfDir, None)
      .where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    drainToMemory(spark, "graft_stream_stream", "append")(
      views.join(clicks,
          col("user_id") === col("c_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"))
        .select("user_id", "view_id", "click_id"))
      .orderBy("user_id", "view_id", "click_id")
  }

  /** Stream-stream join, oracle = the equivalent batch interval join. */
  val qStreamStreamJoin: GraftQuery = GraftQuery(
    "q67_stream_stream_join",
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
      |FROM events v JOIN events c
      |  ON v.user_id = c.user_id
      | AND v.event_type = 'view' AND c.event_type = 'click'
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      |ORDER BY v.user_id, view_id, click_id""".stripMargin) { (s, d) =>
    streamStreamJoin(s, d)
  }

  /** Stream-static join, oracle = the equivalent batch join+group. */
  val qStreamStaticJoin: GraftQuery = GraftQuery(
    "q49_stream_static_join",
    """SELECT c.c_mktsegment, COUNT(*) AS n,
      |  CAST(SUM(CAST(e.value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey
      |GROUP BY c.c_mktsegment
      |ORDER BY c.c_mktsegment""".stripMargin) { (s, d) =>
    streamStaticJoin(s, d)
  }

  /** Streaming dedup, oracle = batch DISTINCT keys. */
  val qStreamDedup: GraftQuery = GraftQuery(
    "q42_stream_dedup",
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    streamDedupKeys(s, d)
  }

  /** Watermark-bounded streaming dedup, oracle = batch DISTINCT keys
    * (same contract as q42, different state physics: q42's state is
    * every-key-ever, this one's is keys within the watermark). */
  val qStreamDedupWatermark: GraftQuery = GraftQuery(
    "q104_stream_dedup_watermark",
    """SELECT DISTINCT user_id, event_type FROM events
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    streamDedupWithinWatermarkKeys(s, d)
  }

  /** Stateful streaming sessionization, oracle = the batch lag-gap SQL
    * (identical session semantics ⇒ identical counts). */
  val qStreamSessions: GraftQuery = GraftQuery(
    "q43_stream_sessions",
    """WITH ordered AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 3600
      |                 THEN 1 ELSE 0 END AS new_session
      |  FROM ordered)
      |SELECT user_id,
      |  CAST(SUM(new_session) AS BIGINT) AS n_sessions,
      |  COUNT(*) AS n_events
      |FROM flagged GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    sessionCounts(s, d)
  }

  /** The documents arrivals ([[readArrivals]]) with their declared
    * schema; a multi-file `srcDir` arrives as several micro-batches. */
  private[graft] def readDocsStream(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): DataFrame =
    readArrivals(spark, sfDir, "documents", srcDir,
      Some("doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))

  /** Streaming multimodal featurize: the q101 decode pipeline run as a
    * micro-batch stream — the document drain's foreachBatch
    * synthesizes the PNG payloads and decodes them with q101's own
    * featurize ([[graft.operators.Multimodal.decodeImages]], through
    * the JVM-wide decoder pool), appending fixed-width features to a
    * parquet sink. foreachBatch is the right streaming shape for a
    * featurize stage: the batch is a plain DataFrame, so the exact
    * batch code serves both modes, and the sink is a real
    * table a trainer can read mid-stream. Decoder constructions are
    * bounded by peak task concurrency for the session lifetime — NOT
    * by trigger count (MultimodalSpec drives 3 micro-batches and
    * pins the counter); payloads are born and consumed inside the
    * partition, so no image bytes ever cross an exchange or land in
    * the sink.
    *
    * Oracle: q101's analytic pixel recompute — the streaming execution
    * must produce byte-identical features to the batch path. */
  val qStreamImageDecode: GraftQuery = GraftQuery(
    "q131_stream_image_decode",
    graft.operators.Multimodal.imageDecodeOracleSql) { (s, d) =>
    streamMultiIndexes(s, d).imageFeatures.orderBy("doc_id")
  }

  /** Sessionization via the ENGINE's session_window (dynamic-gap
    * merging windows) rather than q43's hand-rolled
    * flatMapGroupsWithState — the two bound state differently: q43
    * keeps one (count, last_ts) pair per user, this keeps one open
    * window per (user, session). Spark's merge rule, verified against
    * this Spark build in both batch and streaming: an event arriving
    * EXACTLY gap after the last one still MERGES (windows
    * [t, t+gap] touch at the closed edge) — a new session needs a gap
    * STRICTLY GREATER than 30 minutes. The oracle mirrors that
    * boundary as an integer µs comparison (> 1 800 000 000), dodging
    * interval/rounding semantics entirely, and tiebreaks its windows
    * by (ts, event_id) so duplicate timestamps can't land the lag
    * pass and the running-sum pass on different tie orders (the q43
    * hazard).
    *
    * 100 TB: state is per OPEN session, not per event. This driver-
    * checked run uses COMPLETE output into the memory sink (append
    * would withhold the tail sessions still above the watermark when
    * the file stream drains), so state is NOT evicted here; the same
    * query deployed in append mode is where the attached watermark
    * earns its keep — closed sessions age out of the store, the
    * production posture for an unbounded user domain. */
  def sessionWindows(spark: SparkSession, sfDir: String): DataFrame =
    drainToMemory(spark, "graft_stream_session_win", "complete")(
      readEventArrivals(spark, sfDir, None)
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events")))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))
      .orderBy("user_id", "session_start")

  val qStreamSessionWindow: GraftQuery = GraftQuery(
    "q136_stream_session_window",
    """WITH ordered AS (
      |  SELECT user_id, ts, event_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events),
      |flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev IS NULL OR epoch_us(ts) - epoch_us(prev) > 1800000000
      |         THEN 1 ELSE 0 END AS new_s
      |  FROM ordered),
      |tagged AS (
      |  SELECT user_id, ts,
      |    SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  min(ts) AS session_start,
      |  max(ts) + INTERVAL 30 MINUTE AS session_end,
      |  COUNT(*) AS n_events
      |FROM tagged
      |GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin) { (s, d) =>
    sessionWindows(s, d)
  }

  /** STREAMING incremental curation: q130's gate logic run inside the
    * document drain's foreachBatch against the persisted corpus
    * statistics — the round-6 verdict's missing piece between
    * batch-incremental (q130) and a live ingest pipeline. Each
    * micro-batch is "an arriving batch" in q130's sense: its docs
    * (doc_id % 5 == 4) are tokenized from the micro-batch itself,
    * every corpus-wide quantity comes from the
    * per-(session, corpus) SessionMemo indexes — built ONCE across
    * all micro-batches (StreamsSpec pins the build counter, the q131
    * decoder-pooling discipline applied to index state) — and the
    * decisions land in a parquet sink a downstream trainer can read
    * mid-stream.
    *
    * With the whole batch in one trigger (the staged single-file
    * default) the streamed decisions are BYTE-IDENTICAL to q130's —
    * q145's oracle is q130's SQL verbatim. Staged as several arrival
    * files, the stream becomes several smaller arriving batches (one
    * per file); each batch's decisions then equal curateBatch run on
    * exactly that slice
    * (StreamsSpec), the honest semantics of batch-at-a-time arrival
    * (batch-internal effects — the exact gate's batch min — are per
    * arrival, as in q130 itself). */
  val qStreamIncrementalFunnel: GraftQuery = GraftQuery(
    "q145_stream_incremental_funnel",
    graft.operators.CurationFunnel.qIncrementalFunnel.oracle.get) { (s, d) =>
    streamMultiIndexes(s, d).curated
      .select("doc_id", "lang", "n_tok", "keep_exact", "keep_span", "keep_fluency")
      .orderBy("doc_id")
  }

  /** The embeddings arrivals ([[readArrivals]]) with the table's
    * declared schema; a multi-file `srcDir` arrives as several
    * micro-batches. */
  private def readEmbeddingsStream(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): DataFrame =
    readArrivals(spark, sfDir, "embeddings", srcDir,
      Some(graft.sources.Tables.embeddingsSchema))

  /** STREAMING ANN index ingest: q140's append path run inside
    * foreachBatch — the live counterpart of batch index maintenance,
    * completing the index lifecycle (build q139 → append q140 →
    * stream-append q147 → compact q146). Each arriving vector
    * micro-batch is assigned to the EXISTING centroids (the collected
    * centroid set is built once per session and reused across
    * triggers — the q131 pooling discipline; StreamsSpec pins the
    * counter), PQ-encoded, and appended to a cell-partitioned delta
    * segment. The base index is read from disk, never reassigned.
    * After the stream drains, the search unions the pruned base and
    * delta scans — byte-identical to q140's batch result, so the
    * oracle is q127's from-scratch SQL: the hash match proves
    * streamed ingest ≡ batch append ≡ full rebuild. */
  /** The maintained segment set (base + streamed deltas), drained once
    * per (session, corpus, staging dir) — the q173 tree-memo
    * discipline on the ANN index arc: ingest maintains the segments,
    * every search serves from them. Paths only; the segment bytes are
    * session-scoped scratch wiped at JVM exit. */
  private val annDeltaSegments =
    new graft.spark.SessionMemo[(String, Option[String]),
      Seq[String]]("streams.annDeltaSegments")(_ => ())

  def streamAnnIngest(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame = {
    val segments = annDeltaSegments.getOrElseUpdate(spark, (sfDir, srcDir)) {
      val basePath = graft.operators.IvfPq.baseSegment(spark, sfDir)
      val deltaDir = graft.operators.Formats.scratchDir(
        "graft_ivfpq_streamdelta", srcDir.getOrElse(sfDir))
      graft.operators.Formats.wipe(deltaDir)
      drainEach(spark, readEmbeddingsStream(spark, sfDir, srcDir)
          .where(graft.operators.IvfPq.isDeltaVec)) { (batch, bid) =>
        graft.operators.IvfPq.appendBatch(spark, sfDir, batch, deltaDir, bid)
        ()
      }
      basePath +: graft.operators.IvfPq.batchSegments(spark, deltaDir)
    }
    graft.operators.IvfPq.searchSegments(spark, sfDir, segments)
  }

  val qStreamAnnIngest: GraftQuery = GraftQuery(
    "q147_stream_ann_ingest",
    graft.operators.IvfPq.qIvfPqTopK.oracle.get) { (s, d) =>
    streamAnnIngest(s, d)
  }

  /** STREAMING QUERY SERVING: q303's batch-query ANN serving run as a
    * continuous retrieval service — query vectors ARRIVE as a stream
    * (every 97th vector), each micro-batch is served against the
    * persisted cell-partitioned index by the same distributed
    * batch-serve plan (per-batch probe-union pruned scan, broadcast
    * LUT ADC, distributed exact re-rank), and results land in a
    * batchId-keyed overwrite sink (the q147 replay-idempotent shape —
    * an at-least-once redelivery rewrites the same bytes). File
    * streams partition rows, so each query is served exactly once and
    * the drained result is row-identical to batch q303 — the oracle
    * is q303's from-scratch SQL verbatim.
    *
    * 100 TB/day: the index builds once; per trigger the work is
    * O(batch queries × probed cells) — the serving cost a RAG
    * inference tier actually pays, with zero per-query driver
    * round-trips inside each batch. */
  def streamBatchServe(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame =
    drainServe(spark, sfDir, srcDir,
      "graft_stream_serve", graft.operators.IvfPq.nProbe)

  /** The one query-stream serve drain: one partial log, each arriving
    * micro-batch of query vectors served at `probes` cells through the
    * q303 plan. A trigger whose arrivals hold no query serves no row
    * (`IvfPq.batchServe` over an empty query batch). */
  private def drainServe(spark: SparkSession, sfDir: String,
      srcDir: Option[String], scratch: String, probes: Int): DataFrame = {
    import graft.operators.{IvfAnn, IvfPq}
    val emb = graft.sources.Tables.embeddings(spark, sfDir)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val fullPath = IvfPq.codesSegment(spark, sfDir, "full",
      IvfAnn.assign(emb, centroids))
    val queries = readEmbeddingsStream(spark, sfDir, srcDir)
      .where(pmod(col("vec_id"), lit(IvfPq.batchQueryMod)) === 0)
    val Seq(served) = drainPartialLogs(spark, srcDir.getOrElse(sfDir), queries,
      Seq(PartialLog(scratch,
        "query_id BIGINT, rank INT, vec_id BIGINT, exact_dist DOUBLE",
        (b, _) => IvfPq.batchServe(spark, Seq(fullPath), centroids,
          b.select(col("vec_id").as("query_id"), col("embedding").as("q_emb")),
          emb, probes = probes))))
    served.orderBy("query_id", "rank")
  }

  val qStreamBatchServe: GraftQuery = GraftQuery(
    "q314_stream_batch_serve",
    graft.operators.IvfPq.qIvfPqBatchServe.oracle.get) { (s, d) =>
    streamBatchServe(s, d)
  }

  /** STREAMING PLANNER-DRIVEN SERVE — q328's composition run as the
    * continuous retrieval service: the nProbe policy is read ONCE
    * from the q327 planner at service start (the config loop a
    * production tier runs — measure the recall curve, pick the probe
    * width, THEN open the query stream), and every arriving query
    * micro-batch is served through the q303 plan at the planned
    * width. The oracle is q328's SQL verbatim (policy as scalar
    * subquery composed with the serve CTEs), so the hash match proves
    * per-trigger serving composes with the planner — the q145/q147
    * maintenance discipline applied to the serving tier, closing the
    * loop the round-9 verdict asked for (planner → batch serve →
    * streaming serve, one answer).
    *
    * 100 TB/day: the planner eval runs once per policy refresh (or on
    * the q340 hash sample at query-log scale); per trigger the work
    * is O(batch queries × planned probed cells). */
  def streamPlannedServe(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame = {
    import graft.operators.IvfPq
    drainServe(spark, sfDir, srcDir,
      "graft_stream_planned_serve",
      IvfPq.nProbeForRecall(spark, sfDir, IvfPq.plannedTargetPct))
  }

  val qStreamPlannedServe: GraftQuery = GraftQuery(
    "q341_stream_planned_serve",
    graft.operators.IvfPq.qPlannedServe.oracle.get) { (s, d) =>
    streamPlannedServe(s, d)
  }

  /** STREAMING COMPACTION-POLICY MAINTENANCE — q342's decision kept
    * warm as delta rows ARRIVE: the segment-size census is a MONOID
    * (counts add), so each micro-batch appends one bounded partial
    * census row per segment it touched (batchId-keyed overwrite — the
    * q147 replay-idempotent shape), and the policy re-evaluates from
    * the summed census after any trigger. This is how a long-running
    * ingest tier decides when to fold WITHOUT rescanning segments:
    * per trigger the work is one tiny aggregate over the arriving
    * batch; the durable state is ≤ nSegs rows per trigger. The
    * drained policy is the q342 batch answer — the oracle is q342's
    * SQL VERBATIM, so the hash match proves the monoid maintenance
    * and the batch census make the same decision under any arrival
    * slicing.
    *
    * 100 TB: the census partials never touch segment bytes — the
    * arriving rows are classified by the same segment rule that
    * routed them to disk, and the policy reads |segments| rows. */
  /** The drained compaction decision, materialized once per (session,
    * corpus, staging dir) — same barrier rationale as
    * [[refreshPolicyIndex]] (this maintainer predates the discipline;
    * round 11 retrofits it). */
  private val compactionPolicyIndex =
    new graft.spark.SessionMemo[(String, Option[String]), DataFrame](
      "streams.compactionPolicy")(
      org.apache.spark.sql.graftshim.Checkpoints.release(_))

  def streamCompactionPolicy(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame =
    compactionPolicyIndex.getOrElseUpdate(spark, (sfDir, srcDir))(
      drainCompactionPolicy(spark, sfDir, srcDir).localCheckpoint())

  private def drainCompactionPolicy(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): DataFrame =
    graft.operators.Compaction.policyFromCensus(
      streamEmbPartials(spark, sfDir, srcDir)
        .compactCensus.coalesce(1))

  /** Everything the ONE-PASS embeddings-ingest drain maintains: the
    * Gram moment partials (q298's), the hard-negative argmax partials
    * (q325's), the compaction-policy segment census (q344's, summed),
    * the centroid drift census (q357's, summed), the row count of the
    * corpus the centroid and anchor literals came from, and the number
    * of vectors the drift census covers. Both censuses sit on one
    * partition. */
  private[graft] final case class EmbIndexes(
      gramPartials: DataFrame,
      hardnegPartials: DataFrame,
      compactCensus: DataFrame,
      driftCensus: DataFrame,
      corpusRows: Long,
      censusRows: Long)

  private val gramPartialSchema =
    "i INT, j INT, g DECIMAL(38,0), n BIGINT, si DECIMAL(38,0)"
  private val hardnegPartialSchema =
    "a_id BIGINT, a_label INT, neg_id BIGINT, cos DOUBLE"
  private val compactPartialSchema = "seg_id INT, n_partial BIGINT"
  private val driftPartialSchema =
    "cell_old BIGINT, n_rows BIGINT, n_moved BIGINT"

  /** ONE embeddings-ingest drain for the four vector-fed maintainers
    * — the doc multi-drain discipline on the embeddings source.
    *
    * Before the stream, one pass over the `sfDir` corpus (read with its
    * known schema) collects the re-fit stride sample with labels and
    * observes the corpus row count. That sample yields the persisted
    * centroids (its residue-0 rows), the re-fit centroids (all of it)
    * and the hard-negative anchors (the residue-0 rows again, as a
    * local relation, so no trigger rescans the corpus to broadcast
    * them).
    *
    * The four maintainers are partial logs of the one drain
    * ([[drainPartialLogs]]): Gram cells, anchor argmax, segment census
    * on the delta split, and drift double-assign against the two
    * bounded centroid literals. Both censuses are summed on one
    * partition (at most |segments| and |cells| rows — the cell count is
    * already collected to the driver), and the drift census's
    * checkpoint observes the vectors it covers. The checkpoint's plan
    * does not carry that partitioning, so the compaction and refresh
    * decisions restate it (`coalesce(1)`, which moves no data) and
    * window and sort without an exchange.
    *
    * Every serving query keeps its batch oracle; StreamsSpec pins each
    * artifact against its batch definition under multi-trigger
    * arrivals and gates the refresh's job count. */
  private val embPartialsMemo =
    new graft.spark.SessionMemo[(String, Option[String]),
      EmbIndexes]("streams.embPartials")(m => {
      val release = org.apache.spark.sql.graftshim.Checkpoints.release _
      Seq(m.gramPartials, m.hardnegPartials, m.compactCensus, m.driftCensus)
        .foreach(release)
    })

  private[graft] def streamEmbPartials(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): EmbIndexes =
    embPartialsMemo.getOrElseUpdate(spark, (sfDir, srcDir)) {
      import graft.operators.{Compaction, IvfAnn, IvfPq, Similarity}
      import org.apache.spark.sql.graftshim.TopKByScore
      val corpus = org.apache.spark.sql.Observation()
      val sample = graft.sources.Tables.embeddings(spark, sfDir)
        .observe(corpus, count(lit(1)).as("rows"))
        .where(IvfAnn.refitFilter)
        .select("vec_id", "embedding", "label")
        .collect().toSeq
      val corpusRows = corpus.get("rows").asInstanceOf[Long]
      val persisted = sample.filter(r =>
        Math.floorMod(r.getLong(0), IvfAnn.fixedStride.toLong) == 0)
      def cents(rows: Seq[org.apache.spark.sql.Row]) =
        rows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val pc = cents(persisted)
      val rc = cents(sample)
      val anchors = spark.createDataFrame(
        java.util.Arrays.asList(persisted: _*),
        StructType.fromDDL("a_id BIGINT, a_emb ARRAY<FLOAT>, a_label INT"))
      val census = org.apache.spark.sql.Observation()
      val Seq(gram, hardneg, compact, drift) = drainPartialLogs(spark,
        srcDir.getOrElse(sfDir),
        readEmbeddingsStream(spark, sfDir, srcDir), Seq(
          PartialLog("graft_stream_pca_multi", gramPartialSchema,
            (b, _) => graft.operators.Pca.gramPartial(b)),
          PartialLog("graft_stream_hardneg_multi", hardnegPartialSchema,
            (b, _) => b.join(broadcast(anchors), col("label") =!= col("a_label"))
              .select(col("a_id"), col("a_label"),
                col("vec_id").as("neg_id"),
                Similarity.cosine(col("a_emb"), col("embedding")).as("cos"))
              .groupBy("a_id", "a_label")
              .agg(TopKByScore(col("cos"), col("neg_id"), 1).as("t"))
              .select(col("a_id"), col("a_label"),
                element_at(col("t"), 1).getField("id").as("neg_id"),
                element_at(col("t"), 1).getField("score").as("cos"))),
          PartialLog("graft_stream_compact_census_multi", compactPartialSchema,
            (b, _) => b.where(IvfPq.isDeltaVec)
              .withColumn("seg_id", Compaction.segIdExpr)
              .groupBy("seg_id").agg(count(lit(1)).as("n_partial")),
            _.coalesce(1).groupBy("seg_id").agg(sum("n_partial").as("n_rows"))),
          PartialLog("graft_stream_refresh_census_multi", driftPartialSchema,
            (b, _) => IvfAnn.driftCensusPartial(b, pc, rc),
            _.coalesce(1).groupBy("cell_old")
              .agg(sum("n_rows").as("n_rows"), sum("n_moved").as("n_moved"))
              .observe(census, sum("n_rows").as("rows")))))
      // a census with no row sums to null: it covers 0 vectors
      val censusRows = Option(census.get("rows")).fold(0L)(_.asInstanceOf[Long])
      EmbIndexes(gram, hardneg, compact, drift, corpusRows, censusRows)
    }

  val qStreamCompactionPolicy: GraftQuery = GraftQuery(
    "q344_stream_compaction_policy",
    graft.operators.Compaction.qCompactionPolicy.oracle.get) { (s, d) =>
    streamCompactionPolicy(s, d)
  }

  /** STREAMING MAINTENANCE OF THE INCREMENTAL-DEDUP PROBE TARGET —
    * the q344 monoid discipline applied to q345's corpus simhash
    * value census: each arriving corpus micro-batch hashes only ITS
    * OWN documents into one batchId-keyed partial census and the
    * serve re-sums the partials. The corpus is never re-hashed: per
    * trigger the work is one hash pass + one tiny aggregate over the
    * batch, and the durable state is ≤ |batch values| rows per
    * trigger, bounded by fingerprint entropy. The drained census is
    * the q345 corpus index VERBATIM (the q147 pattern) — the oracle is
    * the same census SQL, so the hash match proves the monoid
    * maintenance converges to the batch-built index. */
  val qStreamSimhashCensus: GraftQuery = GraftQuery(
    "q350_stream_simhash_census",
    graft.operators.Dedup.simhashCorpusCensusSql) { (s, d) =>
    streamMultiIndexes(s, d).simhash.rows.orderBy("simhash")
  }

  /** INCREMENTAL DEDUP AGAINST THE STREAM-MAINTAINED INDEX — q345's
    * banded cross-corpus probe run against the census q350 keeps warm
    * under arrival, instead of the batch-built corpus index: the
    * arriving batch's values probe the drained partials through the
    * SAME probe plan (the simhash tier's `batchProbe`), and
    * the oracle is q345's VERBATIM — the hash match proves the
    * maintained index and the batch index are interchangeable probe
    * targets. This is the full production posture: the corpus census
    * accretes as a stream, and admission control probes it without
    * ever re-hashing or re-pairing the corpus. */
  val qStreamSimhashProbe: GraftQuery = GraftQuery(
    "q351_stream_simhash_probe",
    graft.operators.Dedup.qSimhashNearDupBatch.oracle.get) { (s, d) =>
    import graft.operators.Dedup.{simhashProbeOut, simhashTier}
    simhashProbeOut(
      simhashTier.batchProbe(s, d, streamMultiIndexes(s, d).simhash))
  }

  /** STREAMING MAINTENANCE OF THE IMAGE CORPUS INDEX — q350's monoid
    * discipline on the real-codec tier: the drained aHash census is
    * the q349 corpus index VERBATIM — the multimodal corpus is never
    * re-decoded, which at 100 TB is the difference between a census
    * refresh and a full decode pass over the archive. */
  val qStreamImageCensus: GraftQuery = GraftQuery(
    "q355_stream_image_census",
    graft.operators.Multimodal.imageCorpusCensusSql) { (s, d) =>
    streamMultiIndexes(s, d).image.rows.orderBy("ahash_hi", "ahash_lo")
  }

  /** INCREMENTAL IMAGE DEDUP AGAINST THE STREAM-MAINTAINED INDEX —
    * q349's banded cross-corpus probe run against the census q355
    * keeps warm (the q351 composition on the real-codec tier), oracle
    * = q349's VERBATIM: the maintained and batch-built image indexes
    * are interchangeable probe targets. */
  val qStreamImageProbe: GraftQuery = GraftQuery(
    "q356_stream_image_probe",
    graft.operators.Multimodal.qImageNearDupBatch.oracle.get) { (s, d) =>
    import graft.operators.Multimodal.{imageProbeOut, imageTier}
    imageProbeOut(imageTier.batchProbe(s, d, streamMultiIndexes(s, d).image))
  }

  val qStreamAudioCensus: GraftQuery = GraftQuery(
    "q358_stream_audio_census",
    graft.operators.Multimodal.audioCorpusCensusSql) { (s, d) =>
    streamMultiIndexes(s, d).audio.rows.orderBy("fingerprint")
  }

  /** q353's probe against the stream-maintained audio index (oracle
    * verbatim — maintained and batch-built indexes interchangeable). */
  val qStreamAudioProbe: GraftQuery = GraftQuery(
    "q359_stream_audio_probe",
    graft.operators.Multimodal.qAudioNearDupBatch.oracle.get) { (s, d) =>
    import graft.operators.Multimodal.{audioProbeOut, audioTier}
    audioProbeOut(audioTier.batchProbe(s, d, streamMultiIndexes(s, d).audio))
  }

  val qStreamVideoWideCensus: GraftQuery = GraftQuery(
    "q360_stream_videow_census",
    graft.operators.Multimodal.videoWideCorpusCensusSql) { (s, d) =>
    streamMultiIndexes(s, d).videoWide.rows
      .orderBy(graft.operators.Multimodal.videoWideTier.groupCols.map(col): _*)
  }

  /** q354's probe against the stream-maintained wide-video index
    * (oracle verbatim). */
  val qStreamVideoWideProbe: GraftQuery = GraftQuery(
    "q361_stream_videow_probe",
    graft.operators.Multimodal.qVideoNearDupWideBatch.oracle.get) { (s, d) =>
    import graft.operators.Multimodal.{videoWideProbeOut, videoWideTier}
    videoWideProbeOut(
      videoWideTier.batchProbe(s, d, streamMultiIndexes(s, d).videoWide))
  }

  private val bandRowSchema = "doc_id BIGINT, band_id INT, band_hash STRING"
  private val bandCountSchema = "band_id INT, band_hash STRING, n_partial BIGINT"

  /** The MinHash band index as a partial log over q94's corpus split.
    * The band index is per-doc APPEND, not a count census: each trigger
    * signs only ITS OWN corpus documents (the fused MinHashBandHashes
    * expression — shingles/digests never materialize) into (doc_id,
    * band_id, band_hash) rows. The bucket-count partial is the derived
    * log: it counts THOSE written rows (a read-back of the just-written
    * partial, not a second signing), so rows and counts can never
    * disagree — counts are a monoid, summed at read-back into the
    * [[graft.operators.Dedup.BandIndex]] census. */
  private def bandLog(rowsScratch: String, countsScratch: String): PartialLog =
    PartialLog(rowsScratch, bandRowSchema,
      (b, _) => graft.operators.Dedup.docBands(
        b.where(pmod(col("doc_id"), lit(2)) === 0)), // q94's corpus split
      derived = Some(PartialLog(countsScratch, bandCountSchema,
        (rows, _) => rows.groupBy("band_id", "band_hash")
          .agg(count(lit(1)).as("n_partial")),
        _.groupBy("band_id", "band_hash").agg(sum("n_partial").as("n_corpus")))))

  /** SIZE-TIERED COMPACTION OF THE MAINTAINED BAND-INDEX PARTIAL LOG
    * (r12 verdict: the q363 index accumulated one parquet directory
    * per micro-batch FOREVER) — q344's decision arithmetic applied to
    * q363's partials: per-partial row counts come from the COUNT
    * partials (metadata-scale — band rows are never rescanned to
    * decide), partials group into exact-integer ⌊log₄ n⌋ size tiers,
    * and a tier holding ≥ [[graft.operators.Compaction.minThreshold]]
    * partials folds into ONE next-generation partial — rows by plain
    * union (append-only band rows; each doc signed exactly once), the
    * count partial by the monoid sum, so folded rows and folded
    * counts can never disagree. Folding is EXACT: the served union is
    * unchanged (spec-pinned fold ≡ union; q365 pins it through q94's
    * oracle), only the file/footer count drops. Generation names
    * carry a strictly increasing ordinal so a fold can never
    * overwrite a member it is reading. Returns the number of tiers
    * folded. */
  private[graft] def compactBandPartials(spark: SparkSession,
      outDir: String, cntDir: String): Int = {
    val dirs = Option(new java.io.File(outDir).listFiles())
      .map(_.toSeq).getOrElse(Nil)
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
      .map(_.getName.stripPrefix("batch=")).sorted
    if (dirs.size < graft.operators.Compaction.minThreshold) return 0
    val sizes = spark.read.schema(bandCountSchema).parquet(cntDir)
      .groupBy(col("batch").cast("string").as("b"))
      .agg(sum("n_partial").as("n_rows"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // exact integer ⌊log₄ n⌋ — the q342 tier rule, no floating log
    def tierOf(n: Long): Int =
      (63 - java.lang.Long.numberOfLeadingZeros(math.max(1L, n))) / 2
    val genRx = "^g\\d+n(\\d+)$".r
    var gen = dirs.collect { case genRx(n) => n.toInt }
      .maxOption.getOrElse(-1) + 1
    var folds = 0
    dirs.filter(sizes.contains).groupBy(d => tierOf(sizes(d)))
      .toSeq.sortBy(_._1).foreach { case (tier, members) =>
        if (members.size >= graft.operators.Compaction.minThreshold) {
          val name = s"batch=g${tier}n$gen"
          gen += 1
          spark.read.schema(bandRowSchema)
            .parquet(members.map(m => s"$outDir/batch=$m"): _*)
            .write.mode("overwrite").parquet(s"$outDir/$name")
          spark.read.schema(bandCountSchema)
            .parquet(members.map(m => s"$cntDir/batch=$m"): _*)
            .groupBy("band_id", "band_hash")
            .agg(sum("n_partial").as("n_partial"))
            .write.mode("overwrite").parquet(s"$cntDir/$name")
          members.foreach { m =>
            graft.operators.Formats.wipe(s"$outDir/batch=$m")
            graft.operators.Formats.wipe(s"$cntDir/batch=$m")
          }
          folds += 1
        }
      }
    folds
  }

  /** The maintained-then-COMPACTED band index: the corpus is staged
    * into several arrival files so the partial log genuinely
    * accumulates (8 triggers), the size-tiered fold runs, and the
    * compacted log serves the same [[graft.operators.Dedup.BandIndex]]
    * shape. Memoized once per (session, corpus); the require proves
    * the fold actually fired (the fixture's 8 same-size partials sit
    * in one tier). */
  private val minhashBandsCompactedIndex =
    new graft.spark.SessionMemo[String, graft.operators.Dedup.BandIndex](
      "streams.minhashBandsCompacted")(i => {
      org.apache.spark.sql.graftshim.Checkpoints.release(i.rows)
      org.apache.spark.sql.graftshim.Checkpoints.release(i.bucketCounts)
    })

  def streamMinhashBandIndexCompacted(spark: SparkSession,
      sfDir: String): graft.operators.Dedup.BandIndex =
    minhashBandsCompactedIndex.getOrElseUpdate(spark, sfDir) {
      val stage = graft.operators.Formats.scratchDir(
        "graft_minhash_compact_stage", sfDir)
      graft.operators.Formats.wipe(stage)
      graft.sources.Tables.documents(spark, sfDir).repartition(8)
        .write.mode("overwrite").parquet(stage)
      val logs = Seq(bandLog(
        "graft_stream_minhash_bands", "graft_stream_minhash_band_counts"))
      val dirs = drainLogs(spark, stage,
        readDocsStream(spark, sfDir, Some(stage)), logs)
      val Seq(outDir, cntDir) = dirs
      val folds = compactBandPartials(spark, outDir, cntDir)
      require(folds >= 1,
        s"compaction fixture staged 8 same-tier partials but folded $folds tiers")
      // read back only now: the fold rewrote the log, and parquet file
      // listings resolve at read construction
      val Seq(rows, counts) = checkpointLogs(spark, logs, dirs)
      graft.operators.Dedup.BandIndex(rows, counts)
    }

  /** q365: q94's probe against the maintained-then-compacted band
    * index, q94's oracle VERBATIM — the fold is invisible to the
    * probe (hash-equal serve from a bounded partial log). */
  val qStreamMinhashCompactProbe: GraftQuery = GraftQuery(
    "q365_stream_minhash_compact_probe",
    graft.operators.Dedup.qDedupBatchVsCorpus.oracle.get) { (s, d) =>
    graft.operators.Dedup.minhashBatchProbe(s, d,
      streamMinhashBandIndexCompacted(s, d))
  }

  /** Everything the ONE-PASS document-ingest drain maintains: the
    * five dedup corpus indexes (the four value censuses as stated
    * indexes plus the MinHash band index) and the monoid partial logs
    * / featurized sinks of every other document-stream maintainer —
    * count-min counters (q153), drift counters (q165), KMV sketch
    * partials (q229), PSI length census (q278), CDC latest-version
    * partials (q282), Merkle leaf partials (q288), CDC chunk census
    * partials (q312), curation decisions (q145), decoded image
    * features (q131). */
  private[graft] final case class DocIndexes(
      simhash: graft.operators.BandedHamming.StatedIndex,
      image: graft.operators.BandedHamming.StatedIndex,
      audio: graft.operators.BandedHamming.StatedIndex,
      videoWide: graft.operators.BandedHamming.StatedIndex,
      bands: graft.operators.Dedup.BandIndex,
      cmsPartials: DataFrame,
      driftPartials: DataFrame,
      kmvPartials: DataFrame,
      psiPartials: DataFrame,
      cdcPartials: DataFrame,
      merklePartials: DataFrame,
      chunkPartials: DataFrame,
      curated: DataFrame,
      imageFeatures: DataFrame)

  private val multiIndexMemo =
    new graft.spark.SessionMemo[(String, Option[String]),
      DocIndexes]("streams.multiIndex")(m => {
      val release = org.apache.spark.sql.graftshim.Checkpoints.release _
      Seq(m.simhash.rows, m.image.rows, m.audio.rows, m.videoWide.rows,
        m.bands.rows, m.bands.bucketCounts, m.cmsPartials, m.driftPartials,
        m.kmvPartials, m.psiPartials, m.cdcPartials, m.merklePartials,
        m.chunkPartials, m.curated, m.imageFeatures).foreach(release)
    })

  def streamMultiIndexes(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DocIndexes =
    multiIndexMemo.getOrElseUpdate(spark, (sfDir, srcDir))(
      drainMultiIndexes(spark, sfDir, srcDir))

  /** SINGLE-PASS MULTI-INDEX MAINTENANCE (r12 verdict #5, widened to
    * the whole document family in r14 per the r13 verdict's #1): one
    * stream per maintainer over the same document arrivals would be N
    * reads of the ingest at 100 TB, and N stream setups + drains at
    * any scale. This drain opens ONE stream and updates EVERY
    * document-fed maintained artifact per trigger — the four value
    * censuses, the stated MinHash band index, and the monoid partial
    * logs / featurized sinks of the other document maintainers — so
    * the ingest bytes are read once: each maintainer is one declared
    * partial log of [[drainPartialLogs]], featurizing from the
    * trigger's persisted documents into its own `_multi` scratch dir.
    * Per-index corpus filters apply inside the partial — filters are
    * an index concern, not a stream concern.
    * Every serving query is oracle-paired with its batch SQL;
    * StreamsSpec pins each maintained artifact against its batch
    * definition under multi-trigger arrivals and asserts the whole
    * drain started exactly one streaming query.
    *
    * The artifacts are checkpointed once per (session, corpus, staging
    * dir, trigger config), memoized by [[streamMultiIndexes]]. Each
    * census's guard statistics are computed ONCE over the drained,
    * checkpointed census — band-bucket occupancy is a DISTINCT-value
    * count, not additive across arriving batches, so it derives from
    * the summed census, never from per-trigger partials — which keeps
    * the probes corpus-aggregate-free. */
  private def drainMultiIndexes(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): DocIndexes = {
    import graft.operators.{CdcChunking, CurationFunnel, Dedup, KmvSketch,
      ModelQueries, Multimodal, Selection, TrendStats, ValueTier}
    val tiers = Seq(Dedup.simhashTier, Multimodal.imageTier,
      Multimodal.audioTier, Multimodal.videoWideTier)
    val Seq(simhash, image, audio, videoWide, bandRows, bandCounts, cms, drift,
        kmv, psi, cdc, merkle, chunks, curated, imageFeatures) =
      drainPartialLogs(spark, srcDir.getOrElse(sfDir),
        readDocsStream(spark, sfDir, srcDir),
        tiers.map(t => PartialLog(s"graft_stream_${t.name}_census_multi",
          t.partialSchema,
          (b, _) => t.partial(b.where(ValueTier.fixtureCorpusFilter)),
          t.sumPartials)) ++ Seq(
          bandLog("graft_stream_minhash_bands_multi",
            "graft_stream_minhash_band_counts_multi"),
          PartialLog("graft_stream_cms_multi", "j INT, bucket INT, cnt BIGINT",
            (b, _) => Selection.cmPartialSketch(Selection.docTokens(b))),
          PartialLog("graft_stream_drift_multi", "bucket INT, n_a BIGINT, n_b BIGINT",
            (b, _) => Selection.driftPartial(b)),
          PartialLog("graft_stream_kmv_multi", "source STRING, h BIGINT",
            (b, _) => KmvSketch.partialSketch(b)),
          PartialLog("graft_stream_psi_multi", "n_chars BIGINT, is_a BOOLEAN, c BIGINT",
            (b, _) => TrendStats.lengthCensus(b)),
          PartialLog("graft_stream_cdc_multi",
            "k BIGINT, final_version INT, op STRING, payload STRING",
            (b, _) => ModelQueries.cdcLatest(ModelQueries.cdcLog(b))),
          PartialLog("graft_stream_merkle_multi",
            "bucket BIGINT, n_a BIGINT, f_a DECIMAL(38,0)",
            (b, _) => ModelQueries.merkleLeaf(
              b.select(col("doc_id"), md5(col("text")).as("fp")), "n_a", "f_a")),
          PartialLog("graft_stream_cdc_census_multi", "chunk_md5 STRING, " +
            "n_occurrences BIGINT, n_docs BIGINT, min_doc BIGINT, chunk_len INT",
            (b, _) => CdcChunking.cdcChunks(b)
              .groupBy("chunk_md5")
              .agg(count(lit(1)).as("n_occurrences"),
                countDistinct(col("doc_id")).as("n_docs"),
                min(col("doc_id")).as("min_doc"),
                max(col("chunk_len")).as("chunk_len"))),
          // featurize/gate stages: the sink IS the product a downstream
          // trainer reads mid-stream
          PartialLog("graft_stream_curate_multi", "doc_id BIGINT, lang STRING, " +
            "n_tok INT, keep_exact INT, keep_span INT, keep_fluency INT, " +
            "batch_id BIGINT",
            (b, bid) => CurationFunnel.curateBatch(spark, sfDir,
              b.where(!ValueTier.fixtureCorpusFilter))
              .withColumn("batch_id", lit(bid))),
          PartialLog("graft_stream_imgfeat_multi", "doc_id BIGINT, width INT, " +
            "height INT, n_channels INT, sum_r BIGINT, sum_g BIGINT, sum_b BIGINT",
            (b, _) => Multimodal.decodeImages(Multimodal.pngRows(b)).toDF())))
    val Seq(simhashIdx, imageIdx, audioIdx, videoWideIdx) =
      tiers.zip(Seq(simhash, image, audio, videoWide))
        .map { case (t, census) => t.scheme.indexed(census) }
    DocIndexes(
      simhash = simhashIdx,
      image = imageIdx,
      audio = audioIdx,
      videoWide = videoWideIdx,
      bands = Dedup.BandIndex(bandRows, bandCounts),
      cmsPartials = cms,
      driftPartials = drift,
      kmvPartials = kmv,
      psiPartials = psi,
      cdcPartials = cdc,
      merklePartials = merkle,
      chunkPartials = chunks,
      curated = curated,
      imageFeatures = imageFeatures)
  }

  /** q366: the simhash corpus census maintained by the SINGLE-PASS
    * multi-index drain, q350's oracle VERBATIM — one stream read
    * feeds every index and the maintained census is still the batch
    * census bit for bit. */
  val qStreamMultiMaintenance: GraftQuery = GraftQuery(
    "q366_stream_multi_maintenance",
    graft.operators.Dedup.simhashCorpusCensusSql) { (s, d) =>
    streamMultiIndexes(s, d).simhash.rows.orderBy("simhash")
  }

  /** STREAMING MAINTENANCE OF THE MINHASH BAND INDEX — the q350
    * discipline on the JACCARD tier (q94's probe target): the document
    * drain writes each trigger's band partial ([[bandLog]])
    * and the drained UNION is the batch-built band index VERBATIM under
    * any arrival slicing — each document contributes its band rows
    * exactly once, and the corpus is never re-shingled (per trigger the
    * work is one signature pass over the batch, the 100 TB difference
    * between maintaining the dedup index and rebuilding it per
    * ingest). The per-bucket census rides as its own summed monoid
    * partials, so the probe's flood guard reads persisted counts
    * instead of windowing the corpus index — the maintained index
    * carries the SAME stated shape as the batch-built one. Oracle: the
    * same bands CTE q94 probes, restricted to the corpus split. */
  val qStreamMinhashBands: GraftQuery = GraftQuery(
    "q363_stream_minhash_bands",
    graft.operators.Dedup.minhashCorpusBandsSql) { (s, d) =>
    streamMultiIndexes(s, d).bands.rows.orderBy("doc_id", "band_id")
  }

  /** INCREMENTAL JACCARD DEDUP AGAINST THE STREAM-MAINTAINED BAND
    * INDEX — q94's banded cross-corpus probe (candidates from shared
    * LSH bands, exact shingle-Jaccard verify at ≥ 0.9) run against the
    * band index q363 keeps warm under arrival, oracle = q94's
    * VERBATIM: the maintained and batch-built indexes are
    * interchangeable probe targets, completing the
    * maintain-then-probe matrix across ALL five dedup tiers (jaccard,
    * simhash, image, audio, wide video). */
  val qStreamMinhashProbe: GraftQuery = GraftQuery(
    "q364_stream_minhash_probe",
    graft.operators.Dedup.qDedupBatchVsCorpus.oracle.get) { (s, d) =>
    graft.operators.Dedup.minhashBatchProbe(s, d,
      streamMultiIndexes(s, d).bands)
  }

  /** STREAMING DRIFT MONITOR — q352's refresh decision maintained ON
    * the ingest stream (the q344 discipline on the quantizer
    * lifecycle): the persisted and re-fit centroid sets are FIXED
    * index artifacts during a monitoring window, so the per-cell
    * drift census is a monoid — each arriving micro-batch double-
    * assigns only ITS OWN vectors (two fused scan-stage expressions
    * against the two bounded centroid literals; nothing broadcast,
    * nothing joined) and overwrites one batchId-keyed partial census;
    * the drained sum feeds the same exact-integer decision. This is
    * the production posture for WHEN-to-retrain: drift is measured as
    * data arrives, and the decision re-evaluates from |cells| rows of
    * summed statistics without ever rescanning the corpus. Oracle:
    * q352's VERBATIM — the hash match proves the streamed census and
    * the batch census make the same decision under any arrival
    * slicing. */
  /** The drained refresh decision, materialized once per (session,
    * corpus, staging dir) — the census-maintainer barrier discipline:
    * a re-drain wipes the scratch partials, which would invalidate a
    * previously returned lazy decision's file listing, and plan-audit
    * re-invocations must not re-pay the stream drain. Released on
    * eviction. */
  private val refreshPolicyIndex =
    new graft.spark.SessionMemo[(String, Option[String]), DataFrame](
      "streams.refreshPolicy")(
      org.apache.spark.sql.graftshim.Checkpoints.release(_))

  def streamRefreshPolicy(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame =
    refreshPolicyIndex.getOrElseUpdate(spark, (sfDir, srcDir))(
      drainRefreshPolicy(spark, sfDir, srcDir).localCheckpoint())

  private def drainRefreshPolicy(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): DataFrame = {
    val drained = streamEmbPartials(spark, sfDir, srcDir)
    // the centroid literals (persisted + re-fit) derive from the sfDir
    // embeddings; a srcDir that does not RE-STAGE that same corpus
    // would drift-census one population against another's centroids —
    // silently. Structural check: the drained census must cover
    // exactly the corpus row count the drain observed while sampling
    // those literals (both counts observed by the drain, no job here).
    val streamedRows = drained.censusRows
    val corpusRows = drained.corpusRows
    require(streamedRows == corpusRows,
      s"drift census covered $streamedRows vectors but the centroid " +
        s"corpus ($sfDir embeddings) has $corpusRows — srcDir must " +
        "re-stage the same embeddings corpus the centroid literals " +
        "derive from")
    graft.operators.IvfAnn.refreshDecision(drained.driftCensus.coalesce(1))
  }

  val qStreamRefreshPolicy: GraftQuery = GraftQuery(
    "q357_stream_refresh_policy",
    graft.operators.IvfAnn.qCentroidRefreshPolicy.oracle.get) { (s, d) =>
    streamRefreshPolicy(s, d)
  }

  /** q325's serve: fold per-batch winners with the same total order,
    * then attach the winner's label (|anchors| rows broadcast — a
    * point lookup against the corpus). */
  private[graft] def hardnegServe(spark: SparkSession, sfDir: String,
      partials: DataFrame): DataFrame = {
    import org.apache.spark.sql.graftshim.TopKByScore
    val folded = partials
      .groupBy("a_id", "a_label")
      .agg(TopKByScore(col("cos"), col("neg_id"), 1).as("t"))
      .select(col("a_id"), col("a_label"),
        element_at(col("t"), 1).getField("id").as("neg_id"),
        element_at(col("t"), 1).getField("score").as("cos"))
    graft.sources.Tables.embeddings(spark, sfDir)
      .select(col("vec_id").as("neg_id"), col("label").as("neg_label"))
      .join(broadcast(folded), "neg_id")
      .select(col("a_id"), col("a_label"), col("neg_id"),
        col("neg_label"), col("cos"))
      .orderBy("a_id")
  }

  /** STREAMING HARD-NEGATIVE MINING: q199's per-anchor argmax
    * maintained as candidate vectors ARRIVE. Argmax under the
    * (cos desc, id asc) total order is a MONOID — the fold of
    * per-batch winners IS the global winner — so the embeddings drain
    * scores each micro-batch's OWN vectors against the broadcast
    * anchors and appends one bounded partial row per (anchor, batch);
    * the serve re-folds with the same k=1 heap and is hash-identical to
    * batch q199 under any arrival slicing (oracle verbatim). This is how a
    * contrastive-training pipeline keeps its negative pool warm while
    * the corpus grows: per trigger, work is O(batch × anchors), and
    * the durable state is |anchors| rows per trigger, never vectors. */
  val qStreamHardNegatives: GraftQuery = GraftQuery(
    "q325_stream_hard_negatives",
    graft.operators.HardNegatives.qHardNegatives.oracle.get) { (s, d) =>
    hardnegServe(s, d, streamEmbPartials(s, d).hardnegPartials)
  }

  /** q153's serve: fold the counter partials into the whole-corpus
    * sketch and point-query the exact top-20 (the oracle-check side). */
  private[graft] def cmsServe(spark: SparkSession, sfDir: String,
      partials: DataFrame): DataFrame = {
    val sketch = graft.operators.Selection.cmMerge(partials)
    val top = graft.operators.Selection.exactTop20(
      graft.operators.Selection.docTokens(
        graft.sources.Tables.documents(spark, sfDir)))
    graft.operators.Selection.cmPointQuery(sketch, top)
  }

  /** STREAMING COUNT-MIN SKETCH: q151's frequency estimator maintained
    * across micro-batches. Each arriving document batch contributes a
    * PARTIAL sketch (≤ depth×width counter rows — the bounded thing a
    * stream can durably append regardless of batch size); counter
    * addition is the sketch's merge operator, so the drained union
    * sums to exactly the whole-corpus sketch. The estimates are then
    * byte-identical to the batch build — the oracle is q151's SQL,
    * and the hash match proves streamed merge ≡ batch sketch. The
    * exact top-20 relation is computed batch-side (it exists only to
    * oracle-check the estimator; a production stream would point-query
    * the sketch directly).
    *
    * 100 TB: the per-trigger state is the 2048-row partial, not the
    * tokens — a vocabulary-frequency monitor whose stream-side cost is
    * constant per batch. */
  val qStreamCountMin: GraftQuery = GraftQuery(
    "q153_stream_countmin",
    graft.operators.Selection.qCountMinTokens.oracle.get) { (s, d) =>
    cmsServe(s, d, streamMultiIndexes(s, d).cmsPartials)
  }

  /** q165's serve: the report over the merged drift counters. */
  private[graft] def driftServe(partials: DataFrame): DataFrame =
    graft.operators.Selection.driftReport(
      graft.operators.Selection.driftMerge(partials))

  /** STREAMING DRIFT MONITOR: q160's snapshot-distribution comparison
    * fed by the stream — each arriving micro-batch appends its
    * ≤ 2·width-row partial counter table; the report runs on the
    * merged counters after the drain and is hash-identical to the
    * batch build (q160's oracle), because counter addition is the
    * merge operator. This is the production posture: the monitor's
    * state is a bounded sketch that survives any arrival slicing. */
  val qStreamDrift: GraftQuery = GraftQuery(
    "q165_stream_drift",
    graft.operators.Selection.qSketchDrift.oracle.get) { (s, d) =>
    driftServe(streamMultiIndexes(s, d).driftPartials)
  }

  /** STREAMING Z-ORDER INGEST: q171's tile maintenance run inside
    * foreachBatch — the layout lifecycle's live path (build q169 →
    * batch-maintain q171 → stream-maintain q173, mirroring the ANN
    * index's q139→q140→q147 arc). Each arriving event micro-batch is
    * Morton-coded and merged into the cell-partitioned base via
    * [[graft.operators.ZOrder.incrementalMaintain]]: only the tiles
    * the batch touches are rewritten (dynamic partition overwrite),
    * so per-trigger write I/O is proportional to the BATCH's locality
    * footprint — the property that keeps a continuously-maintained
    * clustered table affordable. After the stream drains, the census
    * over the maintained tree must hash-match q169's census over the
    * whole corpus: streamed maintenance ≡ batch maintenance ≡ full
    * rebuild. */
  /** The maintained tree's path, built once per (session, corpus,
    * staging dir) — the index-lifecycle discipline the census/band
    * memos established: a layout is MAINTAINED once per corpus and
    * served many times; re-invoking the query re-reads the maintained
    * tree instead of rebuilding base + replaying the drain. Eviction
    * wipes the tree (session-scoped scratch). */
  private val zorderTreeIndex =
    new graft.spark.SessionMemo[(String, Option[String]), String](
      "streams.zorderTree")(graft.operators.Formats.wipe(_))

  def streamZorderIngest(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame = {
    val basePath = zorderTreeIndex.getOrElseUpdate(spark, (sfDir, srcDir))(
      drainZorderIngest(spark, sfDir, srcDir))
    val schema = "event_id BIGINT, user_id BIGINT, ub BIGINT, tb BIGINT, " +
      "morton BIGINT, cell BIGINT"
    spark.read.schema(schema).parquet(basePath)
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n_events"),
        min("user_id").as("min_user"), max("user_id").as("max_user"),
        min("tb").as("min_minute"), max("tb").as("max_minute"),
        min("morton").as("min_morton"), max("morton").as("max_morton"))
      .orderBy("cell")
  }

  /** Build the base layout and replay the arriving batches into it;
    * returns the maintained tree's path. */
  private def drainZorderIngest(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): String = {
    import graft.operators.ZOrder
    val basePath = graft.operators.Formats.scratchDir(
      "graft_zorder_streambase", srcDir.getOrElse(sfDir))
    graft.operators.Formats.wipe(basePath)
    val corpus = ZOrder.eventCells(graft.sources.Tables.events(spark, sfDir))
      .where(pmod(col("event_id"), lit(5L)) =!= 4L)
    ZOrder.writeLayout(corpus, basePath)
    drainEach(spark, readEventArrivals(spark, sfDir, srcDir)
        .where(pmod(col("event_id"), lit(5L)) === 4L)) { (batch, _) =>
      ZOrder.incrementalMaintain(spark, basePath, ZOrder.eventCells(batch))
      ()
    }
    basePath
  }

  val qStreamZorderIngest: GraftQuery = GraftQuery(
    "q173_stream_zorder_ingest",
    graft.operators.ZOrder.qZorderCells.oracle.get) { (s, d) =>
    streamZorderIngest(s, d)
  }

  /** STREAMING DECAYED COUNTS: q186's Q30 fixed-point trending
    * counter maintained across micro-batches. The durable per-trigger
    * state is the (event_type, day, n) PARTIAL — counts merge by
    * addition (the q153 sketch-partial pattern), and the decay
    * weighting is applied at READ time against the merged relation's
    * own max day, so late batches can only ADD to partials, never
    * invalidate applied weights. Drained result is hash-identical to
    * the batch q186 — the oracle is q186's SQL. */
  val qStreamDecayedCounts: GraftQuery = GraftQuery(
    "q188_stream_decayed_counts",
    graft.operators.Extras.qDecayedCounts.oracle.get) { (s, d) =>
    decayedServe(streamEventsPartials(s, d)._1)
  }

  /** ONE events-ingest drain maintaining the two event-fed monoid
    * partial logs together — the daily decay census (q188's) and the
    * OLS daily census (q265's) — the doc multi-drain discipline on
    * the events source: one stream setup + one read of the arrivals
    * instead of one per maintainer. Both serving queries keep their
    * batch oracles. */
  private val eventsPartialsMemo =
    new graft.spark.SessionMemo[(String, Option[String]),
      (DataFrame, DataFrame)]("streams.eventsPartials")(p => {
      org.apache.spark.sql.graftshim.Checkpoints.release(p._1)
      org.apache.spark.sql.graftshim.Checkpoints.release(p._2)
    })

  /** (decay partials, OLS daily census partials). */
  private[graft] def streamEventsPartials(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): (DataFrame, DataFrame) =
    eventsPartialsMemo.getOrElseUpdate(spark, (sfDir, srcDir)) {
      val Seq(decay, ols) = drainPartialLogs(spark, srcDir.getOrElse(sfDir),
        readEventArrivals(spark, sfDir, srcDir), Seq(
          PartialLog("graft_stream_decay_multi",
            "event_type STRING, day DATE, n BIGINT",
            (b, _) => b.groupBy(col("event_type"), to_date(col("ts")).as("day"))
              .agg(count(lit(1)).as("n"))),
          PartialLog("graft_stream_ols_multi", "event_type STRING, d BIGINT, n BIGINT",
            (b, _) => graft.operators.TrendStats.dailyCensus(b))))
      (decay, ols)
    }

  /** q188's serve: merge the daily partials and apply the Q30
    * fixed-point decay weighting at read time. */
  private[graft] def decayedServe(partials: DataFrame): DataFrame =
    graft.operators.Extras.decayedQ30(
      partials.groupBy("event_type", "day").agg(sum("n").as("n")))

  // ---- q203: watermark late-data accounting ----

  /** Arrival-file count and allowed lateness for the late-data audit. */
  private[graft] val lateArrivalFiles = 4
  private val lateDelayMicros = 3600L * 1000000L // 1 hour

  /** THE stager of ordered arrivals: `files` written in order as
    * arrival files 0, 1, … ([[writeArrivalFile]]) into the scratch dir
    * `scratch` of `sfDir`, once per JVM — a `_staged` marker (hidden
    * from the file source) makes a later call reuse them. Read through
    * [[readArrivals]], micro-batch i is EXACTLY file i: that pins an
    * arrival order an oracle can reconstruct, which plain single-file
    * staging can't give an order-DEPENDENT stream. */
  private def stageArrivals(scratch: String, sfDir: String)(
      files: => Seq[DataFrame]): String = {
    val dir = graft.operators.Formats.scratchDir(scratch, sfDir)
    val marker = new java.io.File(dir, "_staged")
    if (!marker.exists()) {
      graft.operators.Formats.wipe(dir)
      new java.io.File(dir).mkdirs()
      files.zipWithIndex.foreach { case (df, i) => writeArrivalFile(df, dir, i) }
      assert(marker.createNewFile())
    }
    dir
  }

  /** Write `df` as ONE parquet arrival file `arr00i` in `dir` with
    * modification time base + i minutes: FileStreamSource picks new
    * files oldest-mtime-first (ties by path — both orders agree by
    * construction), so one file per trigger follows i. */
  private[graft] def writeArrivalFile(df: DataFrame, dir: String, i: Int): Unit = {
    val tmp = new java.io.File(dir, s"_tmp$i")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = tmp.listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      .getOrElse(sys.error(s"no part file staged in $tmp"))
    val dst = new java.io.File(dir, f"arr$i%03d.parquet")
    java.nio.file.Files.move(part.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    assert(dst.setLastModified(1700000000000L + i * 60000L))
    graft.operators.Formats.wipe(tmp.toString)
  }

  /** WATERMARK LATE-DATA ACCOUNTING: the event-time observability
    * monitor a production stream alerts on BEFORE anyone tunes a
    * watermark delay — per event-hour, how many rows arrived, and how
    * many arrived LATE (older than the watermark in force when their
    * micro-batch ran). The engine itself drops late rows silently;
    * this audit is the foreachBatch pass that counts them instead.
    *
    * Watermark semantics mirrored exactly: Spark computes the
    * watermark from data seen in PRIOR batches (it advances at batch
    * completion), so batch b's rows are judged against
    * `max(ts over batches < b) − delay` — batch 0 can never be late.
    * The driver-side running max is the same bounded scalar the real
    * WatermarkTracker keeps; per-batch lateness tags are written to a
    * batchId-keyed overwrite sink (the q147 replay-idempotent shape).
    *
    * 100 TB: per batch this adds one max() aggregate (map-side
    * partials, one scalar to the driver) and one narrow tagged
    * projection — no state store, no extra shuffle; the audit output
    * is window-cardinality, not event-cardinality.
    *
    * Oracle: the staged arrival assignment is `event_id % k`, so
    * DuckDB rebuilds per-batch maxima, lags the running max one batch
    * (the watermark's one-batch lag), and tags each row with the same
    * strict µs comparison. */
  def streamLateAudit(spark: SparkSession, sfDir: String): DataFrame = {
    // the events as `lateArrivalFiles` arrival files, file i =
    // `event_id % k = i`; timestamps normalized to µs at staging, so
    // the stream schema is stable across testdata generations
    val k = lateArrivalFiles
    val dir = stageArrivals("graft_stream_late", sfDir) {
      val ev = graft.sources.Tables.events(spark, sfDir).select("event_id", "ts")
      (0 until k).map(i => ev.where(pmod(col("event_id"), lit(k)) === i))
    }
    val sink = graft.operators.Formats.scratchDir("graft_late_sink", sfDir)
    graft.operators.Formats.wipe(sink)
    val runningMax = new java.util.concurrent.atomic.AtomicLong(Long.MinValue)
    drainEach(spark, readArrivals(spark, sfDir, "events", Some(dir),
        Some("event_id BIGINT, ts TIMESTAMP"))) { (batch, bid) =>
      val priorMax = runningMax.get()
      val isLate =
        if (priorMax == Long.MinValue) lit(false)
        else unix_micros(col("ts")) < lit(priorMax - lateDelayMicros)
      batch.select(col("ts"), isLate.as("is_late"))
        .write.mode("overwrite").parquet(s"$sink/batch=$bid")
      val mx = batch.agg(max(unix_micros(col("ts")))).first()
      if (!mx.isNullAt(0))
        runningMax.getAndUpdate(m => math.max(m, mx.getLong(0)))
      ()
    }
    readLog(spark, "ts TIMESTAMP, is_late BOOLEAN", sink)
      .groupBy(date_trunc("hour", col("ts")).as("win"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("is_late").cast("long")).as("n_late"))
      .orderBy("win")
  }

  val qStreamLateAudit: GraftQuery = GraftQuery(
    "q203_stream_late_audit",
    s"""WITH arr AS (
       |  SELECT event_id, ts, event_id % $lateArrivalFiles AS b FROM events),
       |bmax AS (
       |  SELECT b, max(ts) AS mt FROM arr GROUP BY b),
       |wm AS (
       |  SELECT b, max(mt) OVER (ORDER BY b
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_max
       |  FROM bmax),
       |tagged AS (
       |  SELECT a.ts,
       |    CASE WHEN w.prior_max IS NOT NULL
       |          AND a.ts < w.prior_max - INTERVAL 1 HOUR THEN 1 ELSE 0 END AS late
       |  FROM arr a JOIN wm w ON a.b = w.b)
       |SELECT date_trunc('hour', ts) AS win,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(sum(late) AS BIGINT) AS n_late
       |FROM tagged GROUP BY date_trunc('hour', ts)
       |ORDER BY win""".stripMargin) { (s, d) =>
    streamLateAudit(s, d)
  }

  /** STREAMED q208 HISTOGRAM — the proof that the quantile sketch's
    * "merges by addition" claim survives real micro-batched execution:
    * the per-(type, unit-bin) counts run as a streaming groupBy (state
    * = one counter row per occupied bin, bounded by |types|·|bins|
    * regardless of stream volume — no watermark needed because the
    * state IS the sketch), and the CDF estimates are read off the
    * final streamed state. The oracle recomputes the same estimates
    * from batch SQL, so a hash match proves streamed-partial-merge ≡
    * batch for the whole histogram, every occupied bin.
    *
    * n_bins/n_events are emitted as the bounded-state evidence: a
    * production dashboard alerts when n_bins grows toward its cap
    * (someone started logging unbounded values). */
  def streamQuantileSketch(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.Extras.sketchEstimates(
      drainToMemory(spark, "graft_stream_qsketch", "complete")(
        graft.operators.Extras.sketchBins(readEventArrivals(spark, sfDir, None))))
      .orderBy("event_type")

  val qStreamQuantileSketch: GraftQuery = GraftQuery(
    "q210_stream_quantile_sketch",
    """WITH bins AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY event_type, CAST(floor(value) AS BIGINT)),
      |cdf AS (
      |  SELECT event_type, bin, n,
      |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM bins)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_bins,
      |  MAX(total) AS n_events,
      |  MIN(CASE WHEN cum * 100 >= 50 * total THEN bin END) AS p50_est,
      |  MIN(CASE WHEN cum * 100 >= 90 * total THEN bin END) AS p90_est,
      |  MIN(CASE WHEN cum * 100 >= 99 * total THEN bin END) AS p99_est
      |FROM cdf
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    streamQuantileSketch(s, d)
  }

  // ---- q224: streaming event-transition matrix ----

  /** q224's serve: the census over the drain's tag-1 transitions (each
    * batch emits only its NEW pairs, so the drained rows are exactly
    * the q221 set). The ≤|types|² census is materialized once: the
    * totals join references it twice. */
  private[graft] def transitionsServe(behavior: DataFrame): DataFrame = {
    val pairs = behavior.where(col("tag") === 1)
      .groupBy(col("s1").as("from_type"), col("s2").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val totals = pairs.groupBy("from_type").agg(sum("n").as("from_total"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("from_total"),
        expr("(n * 1000000) div from_total").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** STREAMING TRANSITION MATRIX: q221's first-order Markov census
    * computed incrementally by the behavioral drain's
    * flatMapGroupsWithState — per-user state carries the last event
    * seen, so the transition that SPANS a micro-batch boundary is
    * emitted when its second half arrives. Within a batch the group's
    * rows are sorted by (event-time µs, event_id) — the q43
    * discipline, since the file source guarantees no intra-batch
    * order.
    *
    * Ingestion contract (documented, spec-exercised): per-user event-
    * time order must hold ACROSS micro-batches (the log-shipping
    * assumption); a deployment with reordered arrivals puts a
    * watermark re-order buffer in front (q203's audit is the monitor
    * for exactly that). Under the contract the drained stream's
    * census is row-identical to the batch q221 — same oracle.
    *
    * 100 TB: state is O(users), emissions are the transition pairs
    * themselves (bounded by input rows); the final census aggregate is
    * map-side combinable into |types|² groups. */
  val qStreamTransitions: GraftQuery = GraftQuery(
    "q224_stream_transitions",
    graft.operators.EventFlow.qTransitions.oracle.get) { (s, d) =>
    transitionsServe(streamBehavior(s, d))
  }

  // ---- q261: streaming ordered funnel ----

  /** q261's serve: the tag-2 first-completion markers counted per
    * step, left-joined to a literal step spine so an unreached step
    * still emits its zero row (batch q255 unions three aggregates and
    * always has 3). */
  private[graft] def funnelServe(behavior: DataFrame): DataFrame = {
    val spark = behavior.sparkSession
    import spark.implicits._
    val spine = Seq((1, "view"), (2, "click"), (3, "purchase"))
      .toDF("step", "step_name")
    val counts = behavior.where(col("tag") === 2)
      .groupBy(col("l1").cast("int").as("step"))
      .agg(count(lit(1)).as("n"))
    val census = spine.join(counts, Seq("step"), "left")
      .select(col("step"), col("step_name"),
        coalesce(col("n"), lit(0L)).as("n_users"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("step")
    census
      .withColumn("first_n", first("n_users").over(w))
      .withColumn("conv_ppm", expr("(n_users * 1000000) div first_n"))
      .drop("first_n")
      .orderBy("step")
  }

  /** STREAMING ORDERED FUNNEL: q255's view→click→purchase chain
    * maintained incrementally by the behavioral drain. Per-user state
    * is the three earliest step-completion timestamps (µs; MinValue =
    * not reached); each micro-batch replays its rows in (event-time
    * µs, event_id) order against that state and EMITS a (step) marker
    * exactly once, when the user first completes the step — so the
    * drained rows hold each user's funnel reach with no duplicates and
    * the drained census equals batch q255 row-for-row (same oracle).
    * Sequential replay is equivalent to q255's earliest-completion
    * joins because under the q224 ingestion contract (per-user
    * event-time order across micro-batches) the first qualifying
    * event seen IS the earliest qualifying event.
    *
    * 100 TB: state is O(users) × 24 bytes; emissions are at most
    * |steps| per user over the stream's lifetime; the serving census
    * is map-side combinable into |steps| rows. */
  val qStreamFunnel: GraftQuery = GraftQuery(
    "q261_stream_funnel",
    graft.operators.Funnel.qFunnelSteps.oracle.get) { (s, d) =>
    funnelServe(streamBehavior(s, d))
  }

  // ---- q271: streaming peak concurrency ----

  /** q271's serve: keep the max end per (user, start) over the tag-3
    * session upserts, then q256's two-level sweep. */
  private[graft] def concurrencyServe(behavior: DataFrame): DataFrame =
    graft.operators.Funnel.sweepSessions(
      behavior.where(col("tag") === 3)
        .groupBy(col("user_id"), col("l1").as("start_us"))
        .agg(max("l2").as("end_us")))

  /** STREAMING PEAK CONCURRENCY: q256's sweep line fed by the
    * behavioral drain's stateful incremental sessionization. Per-user
    * state is the OPEN session (start_us, last_us); each micro-batch
    * replays its rows in event-time order and emits an UPSERT
    * (user_id, start_us, end_us) for every session it touches — a
    * session spanning k micro-batches emits k monotonically-growing
    * versions, and the serving read
    * keeps max(end_us) per (user_id, start_us). Open sessions at
    * drain time are correct because every version was already
    * emitted — there is no end-of-stream flush problem. Under the
    * q224 time-order contract the reconstructed session set equals
    * batch sessionize exactly, so the two-level sweep over it matches
    * q256's oracle.
    *
    * 100 TB: state is O(users) × 16 bytes; emissions per trigger are
    * bounded by sessions touched in that trigger; the serving dedup
    * is one map-side-combinable max per session. */
  val qStreamConcurrency: GraftQuery = GraftQuery(
    "q271_stream_concurrency",
    graft.operators.Funnel.qConcurrency.oracle.get) { (s, d) =>
    concurrencyServe(streamBehavior(s, d))
  }

  // ---- q291: streaming session KPIs ----

  /** q291's serve: the tag-3 upserts are monotone in (end_us,
    * n_events), so the fold keeps the max per (user, start) and hands
    * the reconstructed sessions to q264's census math. */
  private[graft] def sessionKpisServe(behavior: DataFrame): DataFrame =
    graft.operators.Funnel.sessionKpisFrom(
      behavior.where(col("tag") === 3)
        .groupBy(col("user_id"), col("l1").as("start_us"))
        .agg(max("l2").as("end_us"), max("l3").as("n_events")))

  /** STREAMING SESSION KPIs: q264's report maintained over the live
    * stream — q271's open-session state machine with the event COUNT
    * carried too. Batch q264's oracle is the contract.
    *
    * 100 TB: q271's physics + one serve-side fold; the KPI census
    * never touches raw events at serve time. */
  val qStreamSessionKpis: GraftQuery = GraftQuery(
    "q291_stream_session_kpis",
    graft.operators.Funnel.qSessionKpis.oracle.get) { (s, d) =>
    sessionKpisServe(streamBehavior(s, d))
  }

  // ---- the combined behavioral drain (q224 + q261 + q271 + q291) ----

  /** ONE stateful pass maintaining all four per-user behavioral
    * projections (r13 verdict #1: the stateful event-stream family
    * paid one state store + drain PER query). q224 transitions, q261
    * funnel and the q271/q291 open-session upserts replay the same
    * (event-time µs, event_id)-sorted rows against per-user state;
    * this drain runs the three state machines side by side in one
    * flatMapGroupsWithState (state = one 9-field tuple per user) and
    * emits TAGGED rows: tag 1 = a transition (s1 → s2), tag 2 = a
    * first-completion funnel step (l1), tag 3 = a session upsert (l1 =
    * start µs, l2 = end µs, l3 = event count). Each query serves from
    * its tag's slice and keeps its batch oracle; StreamsSpec pins each
    * serve against its batch query under time-ordered multi-trigger
    * arrivals.
    *
    * 100 TB: state is O(users) × ~72 bytes — the union of the three
    * machines' states — and ONE shuffle of the arriving rows replaces
    * four. */
  private val behaviorMemo =
    new graft.spark.SessionMemo[(String, Option[String]),
      DataFrame]("streams.behavior")(
      org.apache.spark.sql.graftshim.Checkpoints.release(_))

  def streamBehavior(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame =
    behaviorMemo.getOrElseUpdate(spark, (sfDir, srcDir))(
      drainBehavior(spark, sfDir, srcDir).localCheckpoint())

  private def drainBehavior(spark: SparkSession, sfDir: String,
      srcDir: Option[String]): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val unset = Long.MinValue
    val gapUs = 1800000000L
    val stream = readEventArrivals(spark, sfDir, srcDir)
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
    // state: (lastTs, lastEid, lastType | funnel v, c, p | session
    // start, last, n) — the union of the three machines' states, each
    // sub-machine reading and writing only its own fields
    def update(user: Long, rows: Iterator[(Long, Long, Long, String)],
        state: GroupState[(Long, Long, String, Long, Long, Long, Long, Long, Long)])
        : Iterator[(Int, Long, String, String, Long, Long, Long)] = {
      val sorted = rows.toSeq.sortBy(r => (r._2, r._3))
      var (_, _, ltype, fv, fc, fp, sSt, sLa, sN) =
        state.getOption.getOrElse(
          (unset, unset, "", unset, unset, unset, unset, unset, 0L))
      var lt = unset; var le = unset
      val out = Seq.newBuilder[(Int, Long, String, String, Long, Long, Long)]
      sorted.foreach { case (_, ts, eid, tpe) =>
        // q224 transitions: emit the pair completed by this row
        if (ltype.nonEmpty) out += ((1, user, ltype, tpe, 0L, 0L, 0L))
        lt = ts; le = eid; ltype = tpe
        // q261 funnel: first-completion markers, strict ordering
        tpe match {
          case "view" if fv == unset =>
            fv = ts; out += ((2, user, "", "", 1L, 0L, 0L))
          case "click" if fc == unset && fv != unset && ts > fv =>
            fc = ts; out += ((2, user, "", "", 2L, 0L, 0L))
          case "purchase" if fp == unset && fc != unset && ts > fc =>
            fp = ts; out += ((2, user, "", "", 3L, 0L, 0L))
          case _ => ()
        }
        // q271/q291 sessions: close on gap, else extend
        if (sSt == unset) { sSt = ts; sLa = ts; sN = 1L }
        else if (ts - sLa <= gapUs) { sLa = ts; sN += 1L }
        else {
          out += ((3, user, "", "", sSt, sLa, sN))
          sSt = ts; sLa = ts; sN = 1L
        }
      }
      if (sSt != unset)
        out += ((3, user, "", "", sSt, sLa, sN)) // upsert the open tail
      state.update((lt, le, ltype, fv, fc, fp, sSt, sLa, sN))
      out.result().iterator
    }
    drainToMemory(spark, "graft_stream_behavior", "update")(
      stream.groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
        .toDF("tag", "user_id", "s1", "s2", "l1", "l2", "l3"))
  }

  // ---- q265: streaming OLS trend monitor ----

  /** q265's serve: re-sum the partial log into the exact daily census,
    * then the closed-form moment combination. */
  private[graft] def olsServe(partials: DataFrame): DataFrame =
    graft.operators.TrendStats.olsFromDaily(
      partials.groupBy("event_type", "d").agg(sum("n").as("n")))

  /** STREAMING TREND MONITOR: q257's per-type OLS maintained over the
    * arriving event stream. Each micro-batch appends its own
    * (event_type, day, n_partial) census slice — counts are ADDITIVE,
    * so the serving read re-sums the partial log into the exact daily
    * census and runs the same closed-form moment combination; the
    * result is hash-identical to batch q257 REGARDLESS of arrival
    * order or batch boundaries (no ordering contract — contrast
    * q261). This is the q233/q239 partial-log posture applied to a
    * statistic whose moments are NOT batch-additive (n appears
    * squared): the additive layer is the census, the non-additive
    * math runs only at serve time over O(types × days) rows.
    *
    * 100 TB/day: per trigger the exchange carries the batch's own
    * (type, day) cells; sink growth is O(types × days) per trigger
    * and compacts by the same re-sum (a q239-style fold bounds it). */
  val qStreamOlsTrend: GraftQuery = GraftQuery(
    "q265_stream_ols_trend",
    graft.operators.TrendStats.qOlsTrend.oracle.get) { (s, d) =>
    olsServe(streamEventsPartials(s, d)._2)
  }

  // ---- q278: streaming PSI drift ----

  /** STREAMING PSI: q269's population-stability report fed by the
    * document stream. The additive layer is the (n_chars, is-src0,
    * count) length census — each micro-batch appends its own slice —
    * and the NON-additive steps (global decile boundaries, bin
    * assignment, PSI terms) run only at serve time over the merged
    * census. Like q265, there is no ordering contract: counts merge
    * under any arrival slicing, and the drained report is
    * hash-identical to batch q269 (same oracle). This matters for PSI
    * specifically because the bins are data-dependent quantiles — a
    * naive streaming binner would freeze early-batch boundaries and
    * silently skew every later batch's shares.
    *
    * 100 TB/day: per trigger the exchange carries the batch's own
    * distinct (length, side) cells; sink growth is O(distinct
    * lengths) per trigger and compacts by re-aggregation. */
  val qStreamPsi: GraftQuery = GraftQuery(
    "q278_stream_psi",
    graft.operators.TrendStats.qPsiDrift.oracle.get) { (s, d) =>
    graft.operators.TrendStats.psiFromCensus(
      streamMultiIndexes(s, d).psiPartials)
  }

  // ---- q282: streaming CDC apply ----

  /** q282's serve: fold the per-batch latest-version partials and
    * render the applied table. */
  private[graft] def cdcApplyServe(partials: DataFrame): DataFrame =
    graft.operators.ModelQueries.cdcFold(partials)
      .where(col("op") =!= "D")
      .select(col("k").as("doc_id"), col("final_version"), col("payload"))
      .orderBy("doc_id")

  /** STREAMING CDC APPLY: q281's MERGE semantics over an arriving
    * change stream. arg_max is a MONOID on a totally-ordered version
    * key — arg_max of per-batch arg_maxes IS the global arg_max — so
    * each micro-batch appends its own per-key latest-version partial
    * and the serve re-folds; no ordering contract (a late-arriving
    * OLD version loses the max either way), no per-key state store.
    * The drained table is hash-identical to batch q281 (same oracle).
    *
    * 100 TB/day: per trigger the exchange carries one row per key
    * TOUCHED IN THAT BATCH; the sink is the q239 partial log and
    * compacts by this same fold. This is exactly how Delta/Iceberg
    * CDC consumers stay exactly-once without replaying the log. */
  val qStreamCdcApply: GraftQuery = GraftQuery(
    "q282_stream_cdc",
    graft.operators.ModelQueries.qCdcMerge.oracle.get) { (s, d) =>
    cdcApplyServe(streamMultiIndexes(s, d).cdcPartials)
  }

  // ---- q299: streaming RFM maintenance ----

  /** STREAMING RFM: q290's segmentation maintained over an arriving
    * order stream. Per-batch per-customer partials (max last-order
    * date, order count, cents) fold by (max, sum, sum) — a monoid —
    * and EVERYTHING data-dependent (the recency anchor, all three
    * quintile boundaries) recomputes at serve over the folded
    * metrics, never frozen from early batches (the q278 lesson at
    * segmentation scale: early-frozen boundaries would mis-bin every
    * later customer). Drained segments equal batch q290 (same
    * oracle) under any arrival slicing.
    *
    * 100 TB/day: per trigger the exchange carries one row per
    * customer TOUCHED in the batch; the sink compacts by the fold. */
  /** The drained per-customer metrics partial log, maintained once per
    * (session, corpus, staging dir) — the metrics store a segmentation
    * tier keeps warm; the quintile serve recomputes per call (its
    * boundaries are data-dependent, never frozen). */
  private val rfmPartialsMemo =
    new graft.spark.SessionMemo[(String, Option[String]),
      DataFrame]("streams.rfmPartials")(
      org.apache.spark.sql.graftshim.Checkpoints.release(_))

  def streamRfm(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): DataFrame = {
    val partials = rfmPartialsMemo.getOrElseUpdate(spark, (sfDir, srcDir)) {
      val Seq(metrics) = drainPartialLogs(spark, srcDir.getOrElse(sfDir),
        readArrivals(spark, sfDir, "orders", srcDir),
        Seq(PartialLog("graft_stream_rfm",
          "o_custkey BIGINT, last_d DATE, f BIGINT, m BIGINT",
          (b, _) => graft.operators.Behavior.rfmMetrics(b))))
      metrics
    }
    val folded = partials
      .groupBy("o_custkey")
      .agg(max("last_d").as("last_d"), sum("f").cast("long").as("f"),
        sum("m").cast("long").as("m"))
    graft.operators.Behavior.rfmSegmentsFrom(folded)
  }

  val qStreamRfm: GraftQuery = GraftQuery(
    "q299_stream_rfm",
    graft.operators.Behavior.qRfmSegments.oracle.get) { (s, d) =>
    streamRfm(s, d)
  }

  // ---- q301: streaming zone-map maintenance ----

  /** q301's serve: fold the zone-map partials by min / max / sum and
    * run q267's audit on the fold. */
  private[graft] def zoneMapServe(partials: DataFrame): DataFrame =
    graft.operators.ZOrder.auditZones(
      partials.groupBy("layout", "bucket")
        .agg(min("zmin").as("zmin"), max("zmax").as("zmax"),
          sum("n").cast("long").as("n")))

  /** STREAMING ZONE-MAP MAINTENANCE: q267's per-layout (min, max,
    * count) manifests kept current as lineitem rows arrive — exactly
    * how a lakehouse updates file statistics per commit instead of
    * rescanning the table. Zone maps are a MONOID (fold by min / max
    * / sum), so each micro-batch appends its own partial manifest and
    * the serve-time audit runs on the fold; the drained pruning
    * report is hash-identical to batch q267 under any arrival
    * slicing (same oracle).
    *
    * 100 TB/day: per trigger the exchange carries the batch's own
    * bucket cells; the manifest compacts by the same fold and the
    * audit NEVER touches the fact table. */
  val qStreamZoneMaps: GraftQuery = GraftQuery(
    "q301_stream_zonemaps",
    graft.operators.ZOrder.qZoneMapAudit.oracle.get) { (s, d) =>
    zoneMapServe(streamLineitemPartials(s, d)._2)
  }

  /** ONE lineitem-ingest drain maintaining the two fact-fed monoid
    * partial logs together — the MV grain partials (q233's) and the
    * zone-map manifests (q301's): the doc multi-drain discipline on
    * the lineitem source. */
  private val lineitemPartialsMemo =
    new graft.spark.SessionMemo[(String, Option[String]),
      (DataFrame, DataFrame)]("streams.lineitemPartials")(p => {
      org.apache.spark.sql.graftshim.Checkpoints.release(p._1)
      org.apache.spark.sql.graftshim.Checkpoints.release(p._2)
    })

  /** (MV partials, zone-map partials). */
  private[graft] def streamLineitemPartials(spark: SparkSession, sfDir: String,
      srcDir: Option[String] = None): (DataFrame, DataFrame) =
    lineitemPartialsMemo.getOrElseUpdate(spark, (sfDir, srcDir)) {
      val arrivals = readArrivals(spark, sfDir, "lineitem", srcDir)
      // the ship-date extremes keep the arrivals' timestamp type
      val ship = arrivals.schema("l_shipdate").dataType.sql
      val Seq(mv, zones) = drainPartialLogs(spark, srcDir.getOrElse(sfDir),
        arrivals, Seq(
          PartialLog("graft_stream_mv_multi", "l_returnflag STRING, " +
            "l_linestatus STRING, n BIGINT, s_qty DECIMAL(22,1), " +
            s"s_price DECIMAL(22,2), mn_ship $ship, mx_ship $ship",
            (b, _) => graft.plans.MvRewrite.mvPartial(b)),
          PartialLog("graft_stream_zones_multi",
            "layout STRING, bucket BIGINT, zmin DATE, zmax DATE, n BIGINT",
            (b, _) => graft.operators.ZOrder.zoneMaps(b))))
      (mv, zones)
    }

  // ---- q298: streaming PCA maintenance ----

  /** q298's serve: fold the moment partials and run the fixed
    * 8-iteration integer solver. */
  private[graft] def pcaServe(spark: SparkSession,
      partials: DataFrame): DataFrame =
    graft.operators.Pca.pcaReport(
      graft.operators.Pca.pcaFromPartials(spark, partials))

  /** STREAMING PCA: q275's top principal component maintained over an
    * arriving embedding stream. The eigensolver's INPUTS are a monoid
    * — Gram cells, coordinate sums, and the row count are all
    * additive — so each micro-batch appends one ≤ d·(d+1)/2-row
    * moment partial (the GramMatrix one-pass aggregate over just the
    * batch) and the serve folds the partials and runs the fixed
    * 8-iteration integer solver. The drained component is
    * hash-identical to batch q275 under ANY arrival slicing (same
    * oracle): the non-linear iteration never sees partial state, only
    * the exactly-folded moments. This is the q265/q278 partial-log
    * posture reaching an EIGENSOLVER — the strongest form of the
    * "additive layer below, non-additive math at serve" argument.
    *
    * 100 TB/day: per trigger the exchange carries one 2,080-cell
    * partial; sink growth is O(d²) per trigger and compacts by the
    * same fold. */
  val qStreamPca: GraftQuery = GraftQuery(
    "q298_stream_pca",
    graft.operators.Pca.qPcaTop.oracle.get) { (s, d) =>
    pcaServe(s, streamEmbPartials(s, d).gramPartials)
  }

  // ---- q288: streaming Merkle maintenance ----

  /** q288's serve: fold the maintained bucket-fingerprint partials and
    * diff against the deterministic v2 re-crawl (recomputed per call —
    * the audit side never comes from the maintained log). */
  private[graft] def merkleServe(spark: SparkSession, sfDir: String,
      partials: DataFrame): DataFrame =
    graft.operators.ModelQueries.merkleDiff(
      partials.groupBy("bucket").agg(sum("n_a").cast("long").as("n_a"),
        sum("f_a").cast("decimal(38,0)").as("f_a")),
      graft.sources.Tables.documents(spark, sfDir))

  /** STREAMING MERKLE MAINTENANCE: q266's additive bucket
    * fingerprints kept current as documents arrive. The per-bucket
    * (count, Σleaf-hash) summary is a MONOID, so each micro-batch
    * appends its own partial fingerprint slice and the serve re-sums
    * — the audit side never replays the corpus. The drained diff
    * against the same deterministic v2 re-crawl is hash-identical to
    * batch q266 (same oracle), under any arrival slicing.
    *
    * 100 TB/day: per trigger the exchange carries ≤ 256 partial
    * cells; the sink compacts by the same re-sum. This is how a
    * replication auditor keeps table fingerprints warm without
    * rescanning — the q239 partial-log posture on the q266 algebra. */
  val qStreamMerkle: GraftQuery = GraftQuery(
    "q288_stream_merkle",
    graft.operators.ModelQueries.qMerkleDiff.oracle.get) { (s, d) =>
    merkleServe(s, d, streamMultiIndexes(s, d).merklePartials)
  }

  // ---- q312: streaming CDC chunk-census maintenance ----

  /** q312's serve: fold the per-batch chunk census partials. */
  private[graft] def chunkCensusServe(partials: DataFrame): DataFrame =
    partials
      .groupBy("chunk_md5")
      .agg(sum("n_occurrences").cast("long").as("n_occurrences"),
        sum("n_docs").cast("long").as("n_docs"),
        min("min_doc").as("min_doc"),
        max("chunk_len").cast("int").as("chunk_len"))
      .where(col("n_occurrences") > 1)
      .orderBy("chunk_md5")

  /** STREAMING CDC CENSUS: q308's chunk-hash dedup census maintained
    * as documents arrive. Each micro-batch CDC-chunks ONLY its own
    * docs and appends a per-chunk partial (n_occurrences, n_docs,
    * min_doc, max_len) — all four are monoid components (the file
    * stream partitions docs across batches, so per-batch distinct-doc
    * counts SUM exactly), so the serve-side fold is hash-identical to
    * batch q308 under any arrival slicing. The corpus is never
    * re-chunked: per trigger the exchange carries 16-byte chunk keys
    * of the batch only — the q288 partial-log posture on the q308
    * algebra (boilerplate detection that stays warm at ingest). */
  val qStreamCdcCensus: GraftQuery = GraftQuery(
    "q312_stream_cdc_census",
    graft.operators.CdcChunking.qCdcDedup.oracle.get) { (s, d) =>
    chunkCensusServe(streamMultiIndexes(s, d).chunkPartials)
  }

  // ---- q229: streaming KMV sketch merge ----

  /** q229's serve: fold the partial sketches with one more bounded
    * rank and summarize. */
  private[graft] def kmvServe(partials: DataFrame): DataFrame =
    graft.operators.KmvSketch.summarize(
      graft.operators.KmvSketch.foldSketches(partials))

  /** STREAMING KMV SKETCHES: q218's per-source K-minimum-values
    * synopses maintained over an arriving document stream. KMV is a
    * MONOID — merge(sketchA, sketchB) = K smallest of the union — so
    * each micro-batch contributes its own bounded partial sketch
    * (TopKByScore heaps over just the batch) appended to a sink, and
    * the serving read folds partials with one more bounded rank. The
    * drained summary is hash-identical to the batch q218 sketch over
    * the full corpus REGARDLESS of arrival order or batch boundaries —
    * the no-contract streaming operator (contrast q224, which needs
    * time-ordered arrivals).
    *
    * 100 TB/day: per batch the exchange carries ≤ K rows per source
    * per partition; sink growth is ≤ K·sources per trigger and
    * compacts at read time (or via a q146-style fold). */
  val qStreamKmv: GraftQuery = GraftQuery(
    "q229_stream_kmv_sketch",
    graft.operators.KmvSketch.summarySql) { (s, d) =>
    kmvServe(streamMultiIndexes(s, d).kmvPartials)
  }

  // ---- q233: streaming MV maintenance ----

  /** STREAMING MV MAINTENANCE — q226's batch increment run as a
    * continuous pipeline: each arriving micro-batch of fact rows is
    * folded to DISTRIBUTIVE partials at the MV grain (count, exact
    * DECIMAL sums, min/max — the [[graft.plans.MvRewrite]] partial
    * set) by the lineitem drain and written to its batch-keyed partial
    * log (a replayed trigger overwrites its own partial, never
    * duplicates it); the serving read merges partials with one
    * bounded re-aggregate (count=Σn, sum=Σs — decimal addition is
    * associative, so any micro-batch slicing reconstructs the exact
    * batch answer; min=min(mn), max=max(mx)). The q229 monoid-fold pattern applied
    * to the MV lifecycle: build → serve (q214's rewrite rule) →
    * maintain, now with arrival-order independence — the drained
    * summary is hash-identical to a from-scratch recompute REGARDLESS
    * of how the corpus is split into triggers (contrast q224, which
    * needs time-ordered arrivals).
    *
    * 100 TB/day: each trigger's exchange carries ≤ grain-cardinality
    * rows per partition (map-side partial aggregation), sink growth is
    * ≤ |grain| rows per trigger, and the serving merge reads KBs. A
    * production deployment compacts the partial log periodically with
    * the same merge expression (q146-style fold) instead of at read
    * time.
    *
    * Oracle = full-corpus MV recompute (q226's oracle verbatim): the
    * hash match proves streamed maintenance ≡ recompute. */
  val qStreamMvMaintain: GraftQuery = GraftQuery(
    "q233_stream_mv_maintain",
    graft.plans.MvRewrite.qMvIncrement.oracle.get) { (s, d) =>
    graft.plans.MvRewrite.mvServe(streamLineitemPartials(s, d)._1)
  }

  // ---- q242: stream-stream LEFT OUTER join ----

  /** Stage the full events table PLUS a far-future sentinel pair
    * (user_id = −1, one view + one click, +30 days) as arrival file 0,
    * followed by a second sentinel pair (+60 days) as arrival file 1
    * ([[stageArrivals]], the q203 ordered-arrival technique). The
    * sentinels drive the WATERMARK past every real
    * event: the watermark updates from the batch MAX at END of batch
    * (so sentinel 1 riding WITH the events advances it past all real
    * rows when batch 0 closes), and batch 1 (sentinel 2) is the
    * trigger in which the engine evicts expired join state and EMITS
    * the null-padded rows. Without them an outer join over a finite
    * file stream holds every unmatched row forever — the part of
    * outer-join semantics inner joins (q67) never exercise. (r12
    * staged three arrivals — events, s1, s2 — paying a third stateful
    * trigger for nothing: watermark semantics only need the sentinel
    * in the SAME batch as the rows it expires, since the update
    * happens after the batch's join anyway. q242 measured 6.2 s → see
    * OPTIMIZATION_r13.md.) */
  private def stageEventsWithSentinels(spark: SparkSession,
      sfDir: String): String =
    stageArrivals("graft_stream_outer2", sfDir) {
      import spark.implicits._
      val ev = graft.sources.Tables.events(spark, sfDir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      val maxUs = ev.agg(max(unix_micros(col("ts")))).first().getLong(0)
      def sentinels(i: Int): DataFrame = {
        val ts = maxUs + i * 30L * 86400L * 1000000L
        Seq((-2L * i, ts, -1L, "view"), (-2L * i - 1, ts, -1L, "click"))
          .toDF("event_id", "ts_us", "user_id", "event_type")
          .select(col("event_id"), timestamp_micros(col("ts_us")).as("ts"),
            col("user_id"), col("event_type"))
      }
      Seq(ev.unionByName(sentinels(1)), sentinels(2))
    }

  /** STREAM-STREAM LEFT OUTER JOIN with watermark-bounded state: q67's
    * view⋈click interval join, keeping every view — matched rows emit
    * on match, UNMATCHED views emit null-padded only once the
    * watermark proves no qualifying click can still arrive (state
    * eviction, the semantics that make outer streaming joins hard).
    * The drained result equals the batch LEFT JOIN over the real
    * events — so the oracle hash match is a proof the engine's
    * eviction emitted exactly the unmatched set, no more, no less,
    * with sentinels (user_id < 0) filtered from the serving read.
    *
    * 100 TB: state is bounded to the 1-hour interval + watermark delay
    * per side (same physics as q67); the null-emission adds no state —
    * it is the eviction path itself. */
  def streamStreamLeftJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = stageEventsWithSentinels(spark, sfDir)
    def src(): DataFrame = readArrivals(spark, sfDir, "events", Some(dir),
      Some("event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING"))
    val views = src().where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val clicks = src().where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    drainToMemory(spark, "graft_stream_louter", "append")(
      views.join(clicks,
          col("user_id") === col("c_user") &&
          col("click_ts") >= col("view_ts") &&
          col("click_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
          "leftOuter")
        .select("user_id", "view_id", "click_id"))
      .where(col("user_id") >= 0)
      .orderBy(col("user_id"), col("view_id"), col("click_id").asc_nulls_first)
  }

  val qStreamStreamLeftJoin: GraftQuery = GraftQuery(
    "q242_stream_stream_left_join",
    """SELECT v.user_id, v.event_id AS view_id, c.event_id AS click_id
      |FROM events v LEFT JOIN events c
      |  ON v.user_id = c.user_id AND c.event_type = 'click'
      | AND c.ts >= v.ts AND c.ts <= v.ts + INTERVAL 1 HOUR
      |WHERE v.event_type = 'view'
      |ORDER BY v.user_id, view_id, click_id NULLS FIRST""".stripMargin) { (s, d) =>
    streamStreamLeftJoin(s, d)
  }

  def all: Seq[GraftQuery] =
    Seq(qStreamHourly, qStreamDedup, qStreamDedupWatermark, qStreamSessions,
      qStreamStaticJoin, qStreamStreamJoin, qStreamImageDecode,
      qStreamSessionWindow, qStreamIncrementalFunnel, qStreamAnnIngest,
      qStreamCountMin, qStreamDrift, qStreamZorderIngest,
      qStreamDecayedCounts, qStreamLateAudit, qStreamQuantileSketch,
      qStreamTransitions, qStreamKmv, qStreamMvMaintain,
      qStreamStreamLeftJoin, qStreamFunnel, qStreamOlsTrend,
      qStreamConcurrency, qStreamPsi, qStreamCdcApply, qStreamMerkle,
      qStreamCdcCensus, qStreamBatchServe, qStreamPlannedServe,
      qStreamCompactionPolicy, qStreamHardNegatives,
      qStreamSessionKpis, qStreamPca, qStreamRfm, qStreamZoneMaps,
      qStreamSimhashCensus, qStreamSimhashProbe,
      qStreamImageCensus, qStreamImageProbe, qStreamRefreshPolicy,
      qStreamAudioCensus, qStreamAudioProbe,
      qStreamVideoWideCensus, qStreamVideoWideProbe,
      qStreamMinhashBands, qStreamMinhashProbe,
      qStreamMinhashCompactProbe, qStreamMultiMaintenance)
}
