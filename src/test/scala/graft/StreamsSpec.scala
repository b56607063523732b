package graft

import graft.sources.Tables
import graft.streaming.Streams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class StreamsSpec extends SparkSpecBase {

  /** `df` staged as `nFiles` parquet arrival files in a fresh dir —
    * with maxFilesPerTrigger=1 each file is one micro-batch. */
  private def staged(prefix: String, df: DataFrame, nFiles: Int = 3): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    df.repartition(nFiles).write.mode("overwrite").parquet(dir)
    dir
  }

  /** The events staged as 4 TIME-ORDERED arrival files (global (ts,
    * event_id) rank quartiles) with increasing mtimes, so
    * maxFilesPerTrigger=1 delivers micro-batches that respect the
    * per-user event-time contract the stateful behavioral drain
    * relies on. */
  private def stageTimeOrderedEvents(): String = {
    import org.apache.spark.sql.expressions.Window
    val dir = java.nio.file.Files.createTempDirectory("graft_mb_ordered").toString
    val sliced = Tables.events(spark, sf001)
      .withColumn("slice", ntile(4).over(Window.orderBy(col("ts"), col("event_id"))))
    (1 to 4).foreach(i =>
      Streams.writeArrivalFile(sliced.where(col("slice") === i).drop("slice"), dir, i))
    dir
  }

  /** Runs `f` under a StreamingQueryListener; returns its result and
    * the number of streaming queries it started. */
  private def countingStreams[A](f: => A): (A, Int) = {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val l = new StreamingQueryListener {
      override def onQueryStarted(
          e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started.incrementAndGet(); ()
      }
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(l)
    val out =
      try f
      finally {
        // the streaming-listener bus is async: give the started event
        // a bounded window to land before detaching
        val deadline = System.nanoTime() + 5000000000L
        while (started.get() < 1 && System.nanoTime() < deadline)
          Thread.sleep(50)
        spark.streams.removeListener(l)
      }
    (out, started.get())
  }

  // Shared multi-file arrival fixtures: specs that stage a table the
  // same way read one staged dir, so each memoized production drain
  // over it is built once for all of them (fresh dirs, so the first
  // use genuinely drains under maxFilesPerTrigger=1).
  private lazy val docs3 = staged("graft_mb_docs", Tables.documents(spark, sf001))
  private lazy val emb3 = staged("graft_mb_emb", Tables.embeddings(spark, sf001))
  private lazy val events3 = staged("graft_mb_events", Tables.events(spark, sf001))
  private lazy val lineitem3 = staged("graft_mb_lineitem", Tables.lineitem(spark, sf001))
  private lazy val orderedEvents = stageTimeOrderedEvents()

  /** The document multi-drain over [[docs3]] and the number of
    * streaming queries its build started. */
  private lazy val docDrain: (Streams.DocIndexes, Int) = countingStreams(
    Streams.streamMultiIndexes(spark, sf001, Some(docs3), Some(1)))

  /** The behavioral drain over [[orderedEvents]] and the number of
    * streaming queries its build started. */
  private lazy val behaviorDrain: (DataFrame, Int) = countingStreams(
    Streams.streamBehavior(spark, sf001, Some(orderedEvents), Some(1)))

  private def embDrain = Streams.streamEmbPartials(spark, sf001, Some(emb3), Some(1))
  private def eventsDrain = Streams.streamEventsPartials(spark, sf001, Some(events3), Some(1))
  private def lineitemDrain =
    Streams.streamLineitemPartials(spark, sf001, Some(lineitem3), Some(1))

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("watermark drops late data: a row older than the watermark cannot reopen an emitted window") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, String)]
    def ts(min: Int) = new java.sql.Timestamp(60000L * min)
    val q = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "10 minutes").as("win"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append").format("memory").queryName("late_test").start()
    try {
      input.addData((ts(5), "a"), (ts(60), "a")) // watermark → 50 after this batch
      q.processAllAvailable()
      input.addData((ts(70), "a")) // triggers emission of the [0,10) window
      q.processAllAvailable()
      input.addData((ts(6), "late")) // older than watermark → discarded
      q.processAllAvailable()
      input.addData((ts(80), "a"))
      q.processAllAvailable()
    } finally q.stop()
    val firstWindow = spark.table("late_test")
      .select(col("win.start").cast("long").as("start_sec"), col("n"))
      .where(col("start_sec") === 0).collect()
    // exactly one emission for [0,10), count 1 — the late row neither
    // re-emitted the window nor inflated its count
    assert(firstWindow.length === 1)
    assert(firstWindow.head.getLong(1) === 1L)
  }

  test("stateful streaming runs on the RocksDB state store provider") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[(Long, String)]
      val q = input.toDF().toDF("id", "k")
        .dropDuplicates("id")
        .writeStream.outputMode("append").format("memory")
        .queryName("rocks_dedup").start()
      try {
        input.addData((1L, "a"), (1L, "dup"), (2L, "b"))
        q.processAllAvailable()
        input.addData((2L, "dup"), (3L, "c"))
        q.processAllAvailable()
      } finally q.stop()
      val got = spark.table("rocks_dedup").select("id")
        .collect().map(_.getLong(0)).sorted
      assert(got.toSeq === Seq(1L, 2L, 3L)) // duplicates dropped across batches
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** Checkpoint recovery: kill a stateful query mid-input, restart it
    * from the same checkpoint, feed the rest — the file-source log must
    * not replay phase-1 files into the sink, and the RESTORED dedup
    * state must still drop phase-2 rows whose keys arrived in phase 1.
    * Exactly-once is asserted by equality with an uninterrupted run. */
  test("restart from checkpoint is exactly-once and restores dedup state") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def addFile(dir: java.nio.file.Path, name: String, rows: Seq[(Long, String)]): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_chunk").toString
      rows.toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath, dir.resolve(name))
    }
    val phase1 = (0L until 300L).map(i => (i, s"a$i"))
    val phase2 = (200L until 500L).map(i => (i, s"b$i")) // 100 keys overlap phase 1
    def run(tag: String, chunks: Seq[Seq[(Long, String)]]): Set[Long] = {
      val src = java.nio.file.Files.createDirectories(root.resolve(s"$tag/src"))
      val out = root.resolve(s"$tag/out").toString
      val chk = root.resolve(s"$tag/chk").toString
      chunks.zipWithIndex.foreach { case (rows, i) =>
        addFile(src, s"$i.parquet", rows)
        // one query INSTANCE per chunk: started, drained, STOPPED —
        // the next instance resumes from the checkpoint
        val q = spark.readStream.schema(schema).parquet(src.toString)
          .dropDuplicates("id")
          .writeStream.outputMode("append").format("parquet")
          .option("path", out).option("checkpointLocation", chk)
          .start()
        try q.processAllAvailable() finally q.stop()
      }
      spark.read.parquet(out).select("id").collect().map(_.getLong(0)).toSet
    }
    val interrupted = run("restart", Seq(phase1, phase2))
    val single = run("single", Seq(phase1 ++ phase2))
    assert(interrupted === (0L until 500L).toSet) // each key exactly once
    assert(interrupted === single)
    // and the sink holds no duplicate ids at the row level either
    val dupes = spark.read.parquet(root.resolve("restart/out").toString)
      .groupBy("id").count().where(col("count") > 1).count()
    assert(dupes === 0)
  }

  test("foreachBatch parquet sink persists every micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_fb").toString
    val input = MemoryStream[(Long, String)]
    val q = input.toDF().toDF("id", "k")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        batch.write.mode("append").parquet(s"$dir/out")
      }
      .start()
    try {
      input.addData((1L, "a"), (2L, "b"))
      q.processAllAvailable()
      input.addData((3L, "c"))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.parquet(s"$dir/out")
    assert(back.count() === 3)
    assert(back.select("id").collect().map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
  }

  /** dropDuplicatesWithinWatermark — the BOUNDED-STATE production form
    * of streaming dedup (plain dropDuplicates keeps every key forever):
    * duplicates arriving within the watermark delay are dropped; state
    * for keys older than the watermark is eligible for eviction, which
    * is exactly the contract's bound. */
  test("watermarked streaming dedup drops in-window duplicates") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(java.sql.Timestamp, Long)]
    def ts(min: Int) = new java.sql.Timestamp(60000L * min)
    val q = input.toDF().toDF("ts", "k")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("k")
      .writeStream.outputMode("append").format("memory")
      .queryName("wm_dedup").start()
    try {
      input.addData((ts(1), 1L), (ts(2), 1L), (ts(3), 2L)) // dup of k=1 in-window
      q.processAllAvailable()
      input.addData((ts(5), 1L), (ts(6), 3L))              // still in-window dup
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("wm_dedup").select("k")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got === Seq(1L, 2L, 3L)) // each key exactly once within the window
  }

  /** Streaming incremental materialization: each micro-batch upserts
    * into a partitioned parquet table through the same partition-pruned
    * merge the batch model framework uses — partitions untouched by a
    * micro-batch are not rewritten. */
  test("foreachBatch drives partition-pruned incremental upsert per micro-batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val dir = java.nio.file.Files.createTempDirectory("graft_sinc").toString
    val path = s"$dir/table"
    val input = MemoryStream[(Long, String, Double)]
    val q = input.toDF().toDF("id", "day", "v")
      .writeStream
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.model.Upsert.streamingBatch(spark, b, path, "id", Seq("day"))
      }
      .start()
    def d2Files: Map[String, (Long, Long)] =
      new java.io.File(s"$path/day=d2").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    try {
      input.addData((1L, "d1", 1.0), (2L, "d1", 2.0), (3L, "d2", 3.0))
      q.processAllAvailable()
      val before = d2Files
      input.addData((2L, "d1", 20.0), (4L, "d1", 4.0)) // touches only d1
      q.processAllAvailable()
      val got = spark.read.parquet(path).collect()
        .map(r => r.getAs[Long]("id") ->
          (r.getAs[Double]("v"), r.getAs[String]("day"))).toMap
      assert(got === Map(1L -> (1.0, "d1"), 2L -> (20.0, "d1"),
        3L -> (3.0, "d2"), 4L -> (4.0, "d1")))
      assert(d2Files === before, "untouched partition was rewritten")
    } finally q.stop()
  }

  test("streaming hourly aggregation equals the batch equivalent") {
    val streamed = Streams.hourlyCounts(spark, sf001)
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val batch = Tables.events(spark, sf001)
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("hour_start", "event_type")
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    assert(streamed.length === batch.length)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("q136: native session windows equal a batch lag-gap rebuild, " +
      "including the exact-gap MERGE boundary") {
    val streaming = SparkEntry.queries("q136_stream_session_window")(spark, sf001)
      .collect().map(_.toSeq)
    // batch rebuild mirroring Spark's verified rule: exactly-gap
    // MERGES (new session iff gap STRICTLY > 30 min), ties broken by
    // event_id in BOTH window passes so duplicate timestamps can't
    // split across sessions
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("ts", "event_id")
    val batch = Tables.events(spark, sf001)
      .select(col("user_id"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .withColumn("new_s",
        (col("prev").isNull ||
          unix_micros(col("ts")) - unix_micros(col("prev")) > 1800000000L)
          .cast("long"))
      .withColumn("sid", sum(col("new_s")).over(w.rowsBetween(Long.MinValue, 0)))
      .groupBy("user_id", "sid")
      .agg(min("ts").as("session_start"),
        (max(col("ts")) + expr("INTERVAL 30 MINUTE")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select("user_id", "session_start", "session_end", "n_events")
      .orderBy("user_id", "session_start")
      .collect().map(_.toSeq)
    assert(streaming.nonEmpty)
    assert(streaming.toSeq === batch.toSeq)
  }

  test("q136 boundary: an exact-gap pair merges, one microsecond more splits") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 10:00:00")
    def plusUs(us: Long) = new java.sql.Timestamp(t0.getTime + us / 1000) {
      { setNanos(((us % 1000000) * 1000).toInt) }
    }
    val exact = Seq((1L, t0), (1L, plusUs(1800000000L)))          // == gap
    val over = Seq((2L, t0), (2L, plusUs(1800000001L)))           // gap + 1 µs
    val df = (exact ++ over).toDF("user_id", "ts")
    val got = df.groupBy(col("user_id"),
        session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n"))
      .select("user_id", "n").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toSeq.sorted
    // user 1: one merged session of 2; user 2: two sessions of 1
    assert(got === Seq(1L -> 2L, 2L -> 1L, 2L -> 1L))
  }

  test("q145: streamed curation equals q130 batch decisions; corpus indexes build once") {
    // multi-file staging + maxFilesPerTrigger=1 → several micro-batches
    // through the document drain's curation gate stage
    graft.operators.CurationFunnel.corpusStatsBuilds.set(0)
    val out = docDrain._1.curated
    val nBatches = out.select("batch_id").distinct().count()
    assert(nBatches >= 2, s"fixture must span >=2 micro-batches, got $nBatches")
    // the persisted corpus statistics were built ONCE for the whole
    // stream (0 if an earlier test in this JVM already built them) —
    // micro-batches reuse the SessionMemo entry, never rebuild
    assert(graft.operators.CurationFunnel.corpusStatsBuilds.get() <= 1,
      "corpus indexes must not rebuild per micro-batch")

    // per-micro-batch equivalence: each arriving slice's streamed
    // decisions equal curateBatch run directly on exactly that slice
    val batchDocs = graft.sources.Tables.documents(spark, sf001)
      .where(pmod(col("doc_id"), lit(5)) === 4)
    val batchIds = out.select("batch_id").distinct()
      .collect().map(_.getLong(0)).sorted
    for (bid <- batchIds) {
      val ids = out.where(col("batch_id") === bid)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      val want = graft.operators.CurationFunnel
        .curateBatch(spark, sf001,
          batchDocs.where(col("doc_id").isin(ids.toSeq: _*)))
        .collect().map(_.toSeq).toSeq
      val got = out.where(col("batch_id") === bid)
        .select("doc_id", "lang", "n_tok", "keep_exact", "keep_span", "keep_fluency")
        .orderBy("doc_id").collect().map(_.toSeq).toSeq
      assert(got === want, s"micro-batch $bid decisions diverge")
    }

    // single-trigger staging: decisions are byte-identical to q130's
    // batch output (q145's oracle contract)
    val single = rows(SparkEntry.queries("q145_stream_incremental_funnel")(spark, sf001))
    val q130 = rows(SparkEntry.queries("q130_incremental_funnel")(spark, sf001))
    assert(single === q130)
  }

  test("q147: streamed ANN ingest equals batch append; centroid set builds once") {
    // multi-file staging + maxFilesPerTrigger=1 → the batch vectors
    // arrive across several micro-batches, each appended through the
    // SAME foreachBatch encode stage
    graft.operators.IvfPq.centroidBuilds.set(0)
    val multi = graft.streaming.Streams.streamAnnIngest(
      spark, sf001, srcDir = Some(emb3), maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    // the collected centroid set is session state, built at most once
    // across all micro-batches (0 if an earlier test already built it)
    assert(graft.operators.IvfPq.centroidBuilds.get() <= 1,
      "centroids must not rebuild per micro-batch")
    // slicing the arrival into micro-batches cannot change the index:
    // the drained search is row-identical to q140's batch append
    val batch = SparkEntry.queries("q140_ivfpq_incremental")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(multi === batch, "streamed ingest must equal batch append")
  }

  test("q341: multi-trigger planner-driven serve equals q328's batch answer") {
    // 3 staged files + maxFilesPerTrigger=1 → the query log arrives
    // across several micro-batches, each served at the SAME planned
    // nProbe (policy read once at service start)
    val streamed = graft.streaming.Streams.streamPlannedServe(
      spark, sf001, srcDir = Some(emb3), maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q328_planned_batch_serve")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch,
      "per-trigger planned serving must equal the batch planned serve")
  }

  test("q344: multi-trigger census partials drain to q342's batch decision") {
    // 3 staged files + maxFilesPerTrigger=1 → the delta population
    // arrives across several triggers, each appending one bounded
    // partial census; the summed census must make the SAME fold/keep
    // decision as the batch policy over the persisted segments
    val streamed = graft.streaming.Streams.streamCompactionPolicy(
      spark, sf001, srcDir = Some(emb3), maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q342_compaction_policy")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch,
      "streamed census maintenance must reach the batch compaction decision")
  }

  test("q350/q351: multi-trigger simhash census drains to the batch corpus index and serves the q345 probe") {
    // 3 staged files + maxFilesPerTrigger=1 → the corpus arrives
    // across several triggers, each overwriting one batchId-keyed
    // partial census; the re-summed census must equal the batch-built
    // corpus index value for value
    val streamed = docDrain._1.simhash
    val streamedRows = rows(streamed.rows.orderBy("simhash"))
    val batch = rows(graft.sources.Tables.documents(spark, sf001)
      .where(pmod(col("doc_id"), lit(5)) =!= 4)
      .select(org.apache.spark.sql.graftshim.SimHashMd5(
        graft.functions.TextFunctions.distinctTokens(
          lower(col("text")))).as("simhash"))
      .groupBy("simhash").agg(count(lit(1)).as("n_docs"))
      .orderBy("simhash"))
    assert(streamedRows === batch,
      "drained census must equal the batch corpus index")
    // and the maintained index is an interchangeable probe target:
    // q345's probe against it equals q345 against the batch index
    val probed = rows(graft.operators.Dedup.simhashBatchProbe(spark, sf001, streamed))
    val q345 = rows(SparkEntry.queries("q345_simhash_neardup_batch")(spark, sf001))
    assert(probed === q345,
      "probe against the maintained index must equal the batch probe")
  }

  test("q355/q356: multi-trigger image census drains to the batch corpus index and serves the q349 probe") {
    val streamed = docDrain._1.image
    val streamedRows = rows(streamed.rows.orderBy("ahash_hi", "ahash_lo"))
    val batchImages = {
      import spark.implicits._
      graft.sources.Tables.documents(spark, sf001)
        .where(pmod(col("doc_id"), lit(5)) =!= 4)
        .select(col("doc_id")).as[Long]
        .mapPartitions(ids => ids.map(id =>
          graft.operators.Multimodal.ImageRow(
            id, graft.operators.Multimodal.synthPng(id))))
    }
    val batch = rows(graft.operators.Multimodal.decodeAHashes(batchImages).toDF()
      .groupBy("ahash_hi", "ahash_lo").agg(count(lit(1)).as("n_docs"))
      .orderBy("ahash_hi", "ahash_lo"))
    assert(streamedRows === batch,
      "drained image census must equal the batch corpus index")
    val probed = rows(graft.operators.Multimodal.imageBatchProbe(spark, sf001, streamed))
    val q349 = rows(SparkEntry.queries("q349_image_neardup_batch")(spark, sf001))
    assert(probed === q349,
      "probe against the maintained image index must equal the batch probe")
  }

  test("q358-q361: multi-trigger audio and wide-video censuses drain to their batch indexes and serve the batch probes") {
    val corpusDocs = graft.sources.Tables.documents(spark, sf001)
      .where(pmod(col("doc_id"), lit(5)) =!= 4)
    // audio
    val audioStreamed = docDrain._1.audio
    val audioBatch = graft.operators.Multimodal
      .audioFingerprintsFromDocs(corpusDocs)
      .groupBy("fingerprint").agg(count(lit(1)).as("n_docs"))
    assert(rows(audioStreamed.rows.orderBy("fingerprint")) ===
      rows(audioBatch.orderBy("fingerprint")))
    assert(rows(graft.operators.Multimodal
      .audioBatchProbe(spark, sf001, audioStreamed)) ===
      rows(SparkEntry.queries("q353_audio_neardup_batch")(spark, sf001)))
    // wide video
    val cols = graft.operators.Multimodal.videoWideCensusCols
    val videoStreamed = docDrain._1.videoWide
    val videoBatch = graft.operators.Multimodal.videoWideFromDocs(corpusDocs)
      .groupBy(cols.map(col): _*).agg(count(lit(1)).as("n_docs"))
    assert(rows(videoStreamed.rows.orderBy(cols.map(col): _*)) ===
      rows(videoBatch.orderBy(cols.map(col): _*)))
    assert(rows(graft.operators.Multimodal
      .videoWideBatchProbe(spark, sf001, videoStreamed)) ===
      rows(SparkEntry.queries("q354_video_neardup_wide_batch")(spark, sf001)))
  }

  test("q357: multi-trigger drift census drains to q352's batch refresh decision") {
    val streamed = graft.streaming.Streams.streamRefreshPolicy(
      spark, sf001, srcDir = Some(emb3), maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    val batch = SparkEntry.queries("q352_centroid_refresh_policy")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === batch,
      "streamed drift maintenance must reach the batch refresh decision")
  }

  test("q147 replay: re-delivered micro-batch is idempotent (at-least-once recovery)") {
    // drain the single-staging ingest, then simulate the recovery path:
    // foreachBatch re-delivers the last checkpointed batch
    graft.streaming.Streams.streamAnnIngest(spark, sf001)
    val deltaDir = graft.operators.Formats.scratchDir(
      "graft_ivfpq_streamdelta", sf001)
    val segs = graft.operators.IvfPq.batchSegments(spark, deltaDir)
    assert(segs.nonEmpty)
    val last = segs.last
    val bid = last.split("batch=").last.toLong
    val schema = "vec_id BIGINT, codes ARRAY<INT>, cell BIGINT"
    val ids = spark.read.schema(schema).option("basePath", last).parquet(last)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    // replay: the same arriving rows, the same batchId
    val replay = graft.sources.Tables.embeddings(spark, sf001)
      .where(col("vec_id").isin(ids: _*))
    graft.operators.IvfPq.appendBatch(spark, sf001, replay, deltaDir, bid)
    val after = spark.read.schema(schema).option("basePath", last).parquet(last)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(after.sorted === ids.sorted,
      "replaying a batch must rewrite its segment, not duplicate it")
    // the search over base + batch segments is byte-identical to q140
    val searched = graft.operators.IvfPq.searchSegments(spark, sf001,
      graft.operators.IvfPq.baseSegment(spark, sf001) +:
        graft.operators.IvfPq.batchSegments(spark, deltaDir))
      .collect().map(_.toSeq).toSeq
    val q140 = SparkEntry.queries("q140_ivfpq_incremental")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(searched === q140)
  }

  test("q153: sketch merged across micro-batches equals the batch sketch") {
    // multi-file staging + maxFilesPerTrigger=1 → the corpus arrives
    // as several partial sketches; counter addition must reconstruct
    // the exact whole-corpus estimates
    val streamed = rows(Streams.cmsServe(spark, sf001, docDrain._1.cmsPartials))
    val batch = rows(SparkEntry.queries("q151_countmin_tokens")(spark, sf001))
    assert(streamed === batch, "streamed sketch must equal batch sketch")
  }

  test("q165: drift report over micro-batch partials equals the batch report") {
    val streamed = rows(Streams.driftServe(docDrain._1.driftPartials))
    val batch = rows(SparkEntry.queries("q160_sketch_drift")(spark, sf001))
    assert(streamed === batch, "streamed drift must equal batch drift")
  }

  test("q173: multi-trigger z-order ingest equals the full-corpus census") {
    // stage the batch slice as 3 files + maxFilesPerTrigger=1 → the
    // arrivals hit incrementalMaintain across SEVERAL triggers, with
    // later triggers re-touching tiles earlier ones rewrote
    val src = java.nio.file.Files.createTempDirectory("graft_mb_zorder").toString
    graft.sources.Tables.events(spark, sf001)
      .where(pmod(col("event_id"), lit(5L)) === 4L).repartition(3)
      .write.mode("overwrite").parquet(src)
    val streamed = graft.streaming.Streams.streamZorderIngest(
      spark, sf001, srcDir = Some(src), maxFilesPerTrigger = Some(1))
      .collect().map(_.toSeq).toSeq
    val full = SparkEntry.queries("q169_zorder_cells")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(streamed === full,
      "multi-trigger maintenance must converge to the full-rebuild census")
  }

  test("q188: multi-trigger decayed counts equal the batch rollup") {
    val streamed = rows(Streams.decayedServe(eventsDrain._1))
    val batch = rows(SparkEntry.queries("q186_decayed_counts")(spark, sf001))
    assert(streamed === batch,
      "partial-merge decayed counts must equal the batch rollup")
  }

  test("q233: multi-trigger MV maintenance equals the full recompute") {
    // 3 staged files + maxFilesPerTrigger=1 → the fact table arrives
    // across several triggers, each appending its own partial rows
    val streamed = rows(graft.plans.MvRewrite.mvServe(lineitemDrain._1))
    val batch = rows(SparkEntry.queries("q226_mv_increment")(spark, sf001))
    assert(streamed === batch,
      "streamed partial-merge MV must equal the batch recompute")
    // the partial store really holds one generation per trigger — more
    // partial rows than final grain rows proves >1 micro-batch folded
    val partials = spark.read.parquet(
      graft.operators.Formats.scratchDir("graft_stream_mv_multi", lineitem3)).count()
    assert(partials > streamed.size,
      s"expected multiple per-trigger partials, got $partials rows")
  }

  test("q242: outer-join eviction emits exactly the unmatched views, null-padded") {
    val out = graft.streaming.Streams.streamStreamLeftJoin(spark, sf001).cache()
    val nullRows = out.where(col("click_id").isNull)
      .select("view_id").collect().map(_.getLong(0)).toSet
    assert(nullRows.nonEmpty,
      "watermark eviction must emit null-padded rows for unmatched views")
    // batch anti-join: views with NO click in the following hour
    val ev = graft.sources.Tables.events(spark, sf001)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"), col("ts").as("view_ts"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("click_ts"))
    val unmatched = views.join(clicks,
        col("user_id") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 1 HOUR"),
        "left_anti")
      .select("view_id").collect().map(_.getLong(0)).toSet
    assert(nullRows === unmatched,
      "evicted set must equal the batch anti-join set")
    out.unpersist()
  }

  test("q203: late-data audit — batch 0 never late, later batches are, " +
    "totals account for every event") {
    val agg = Streams.streamLateAudit(spark, sf001).collect()
    val nEvents = agg.map(_.getLong(1)).sum
    val nLate = agg.map(_.getLong(2)).sum
    assert(nEvents === Tables.events(spark, sf001).count())
    assert(nLate > 0, "interleaved arrival must produce late rows")
    assert(nLate < nEvents)
    // the per-batch sink: k batch dirs; batch 0 judged against no
    // watermark → zero late rows there
    val sink = graft.operators.Formats.scratchDir("graft_late_sink", sf001)
    val dirs = new java.io.File(sink).listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("batch="))
    assert(dirs.length === Streams.lateArrivalFiles)
    val b0 = spark.read.parquet(sink + "/batch=0")
    assert(b0.where(col("is_late")).count() === 0,
      "no watermark exists before the first batch completes")
    val sinkLate = spark.read.parquet(sink)
      .where(col("is_late")).count()
    assert(sinkLate === nLate)
  }

  test("q210: streamed histogram sketch equals an independent batch rebuild") {
    val streamed = SparkEntry.queries("q210_stream_quantile_sketch")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    // independent batch rebuild of the same CDF selection
    import org.apache.spark.sql.expressions.Window
    val bins = Tables.events(spark, sf001)
      .groupBy(col("event_type"), floor(col("value")).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))
    val cdf = bins
      .withColumn("cum", sum("n").over(
        Window.partitionBy("event_type").orderBy("bin")))
      .withColumn("total", sum("n").over(Window.partitionBy("event_type")))
    val batch = cdf.groupBy("event_type")
      .agg(count(lit(1)).as("n_bins"), max("total").as("n_events"),
        min(when(col("cum") * 100 >= col("total") * 50, col("bin"))).as("p50"),
        min(when(col("cum") * 100 >= col("total") * 90, col("bin"))).as("p90"),
        min(when(col("cum") * 100 >= col("total") * 99, col("bin"))).as("p99"))
      .orderBy("event_type")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5)))
    assert(streamed.toSeq === batch.toSeq)
    // the state really is sketch-sized: far fewer bins than events
    streamed.foreach { case (_, nBins, nEvents, _, _, _) =>
      assert(nBins < nEvents, "bins must compress the stream") }
  }

  test("q224: multi-batch streamed transitions equal the batch census") {
    // time-ordered arrivals: boundary transitions MUST come from the
    // carried state, not intra-batch leads
    val streamed = Streams.transitionsServe(behaviorDrain._1)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q221_event_transitions")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "drained multi-batch census must be row-identical to batch q221")
  }

  test("combined behavioral drain: one stream serves q224/q261/q271/q291 identical to the single-drain twins") {
    // the drain over the time-ordered staging opened exactly one stream
    // for all four projections; each projection's serve is pinned
    // against its batch query by the q224/q261/q271/q291 specs
    val (beh, started) = behaviorDrain
    assert(started === 1,
      s"behavioral drain must open exactly ONE stream, opened $started")
    val tags = beh.select("tag").distinct().collect().map(_.getInt(0)).toSet
    assert(tags === Set(1, 2, 3),
      s"every projection must emit from the one stream, got tags $tags")
  }

  test("q265: census partials across micro-batches re-sum to the batch OLS") {
    // counts are additive, so ANY arrival slicing works — repartition(3)
    // staging deliberately breaks time order (contrast q261)
    val streamed = Streams.olsServe(eventsDrain._2)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q257_ols_trend")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "partial-log OLS must equal batch OLS under any slicing")
  }

  test("q291: sessions with counts reconstructed across micro-batches equal batch q264") {
    val streamed = Streams.sessionKpisServe(behaviorDrain._1)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q264_session_kpis")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("q301: zone-map partials fold to the batch manifest and pruning report") {
    val streamed = Streams.zoneMapServe(lineitemDrain._2)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q267_zonemap_audit")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("q299: RFM partials fold and quintiles recompute at serve — equals batch q290") {
    val src = java.nio.file.Files.createTempDirectory("graft_mb_rfm").toString
    Tables.orders(spark, sf001).repartition(3)
      .write.mode("overwrite").parquet(src)
    val streamed = Streams.streamRfm(
        spark, sf001, srcDir = Some(src), maxFilesPerTrigger = Some(1))
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q290_rfm_segments")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("q298: moment partials across micro-batches solve to the batch eigenvector") {
    // the eigensolver is non-linear, but its INPUTS are a monoid —
    // any arrival slicing must fold to the identical component
    val streamed = Streams.pcaServe(spark, embDrain.gramPartials)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q275_pca_top_component")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "folded-moment PCA must equal batch PCA bit-for-bit")
  }

  test("q325: per-batch argmax partials across micro-batches fold to batch q199") {
    // argmax under (cos desc, id asc) is a monoid — the fold of the
    // per-trigger winners must pick the batch winner for every anchor
    val streamed = rows(Streams.hardnegServe(spark, sf001, embDrain.hardnegPartials))
    val batch = rows(SparkEntry.queries("q199_hard_negatives")(spark, sf001))
    assert(streamed.nonEmpty && streamed === batch,
      "folded per-batch winners must equal the batch hard negatives")
  }

  test("q282: per-batch arg_max partials re-fold to the batch MERGE state") {
    // arg_max is a monoid on the version order — any arrival slicing
    // (repartition(3) deliberately breaks doc order) folds to q281
    val streamed = Streams.cdcApplyServe(docDrain._1.cdcPartials)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q281_cdc_merge")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("q312: per-batch chunk-census partials fold to the batch q308 census") {
    // all four partial columns are monoid components (the file stream
    // partitions docs across batches, so per-batch distinct-doc counts
    // sum exactly)
    val streamed = rows(Streams.chunkCensusServe(docDrain._1.chunkPartials))
    val batch = rows(SparkEntry.queries("q308_cdc_dedup")(spark, sf001))
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("q288: bucket-fingerprint partials re-sum to the batch q266 Merkle diff") {
    val streamed = rows(Streams.merkleServe(spark, sf001, docDrain._1.merklePartials))
    val batch = rows(SparkEntry.queries("q266_merkle_diff")(spark, sf001))
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("q278: data-dependent PSI bins computed at serve over merged partials") {
    // arrival slicing must not freeze early-batch decile boundaries —
    // the census is additive, the bins are not, so bins recompute at
    // serve and the report equals batch q269 under any slicing
    val streamed = graft.operators.TrendStats.psiFromCensus(docDrain._1.psiPartials)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q269_psi_drift")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch)
  }

  test("q261: multi-batch streamed funnel equals batch q255; boundary steps carried") {
    // time-ordered arrivals — a step whose qualifying event lands in a
    // LATER micro-batch than its predecessor must complete from the
    // carried (v, c, p) state
    val streamed = Streams.funnelServe(behaviorDrain._1)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q255_funnel_steps")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "drained multi-batch funnel census must equal batch q255")
  }

  test("q271: sessions reconstructed across micro-batches; sweep equals batch q256") {
    // time-ordered arrivals: sessions SPANNING a file boundary must be
    // stitched by the carried open-session state and upsert-deduped to
    // their final extent
    val streamed = Streams.concurrencyServe(behaviorDrain._1)
      .collect().map(_.toString).toSeq
    val batch = SparkEntry.queries("q256_peak_concurrency")(spark, sf001)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "reconstructed-session sweep must equal batch q256")
  }

  test("q229: multi-batch KMV partials fold to the batch sketch (any arrival order)") {
    // 3 arrival files in ARBITRARY slicing (doc_id % 3) — KMV's monoid
    // merge needs no ordering contract, unlike q224
    val src = java.nio.file.Files.createTempDirectory("graft_mb_kmv").toString
    val docs = Tables.documents(spark, sf001)
    (0 to 2).foreach { i =>
      docs.where(pmod(col("doc_id"), lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(src)
    }
    val streamed = Streams.kmvServe(Streams.streamMultiIndexes(
        spark, sf001, srcDir = Some(src), maxFilesPerTrigger = Some(1)).kmvPartials)
      .collect().map(_.toString).toSeq
    val batch = graft.operators.KmvSketch.summarize(
        graft.operators.KmvSketch.sketches(spark, sf001))
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed === batch,
      "streamed KMV fold must equal the whole-corpus sketch summary")
  }

  test("q363/q364: multi-trigger minhash band index drains to the batch index and serves the q94 probe") {
    // 3 staged files + maxFilesPerTrigger=1 → the corpus arrives
    // across several triggers, each appending its own docs' band rows
    // (batchId-keyed overwrite); the drained union must equal the
    // batch-built even-id band index row for row
    val streamed = docDrain._1.bands
    val streamedRows = rows(streamed.rows.orderBy("doc_id", "band_id"))
    val batch = rows(graft.operators.Dedup
      .docBands(Tables.documents(spark, sf001)
        .where(pmod(col("doc_id"), lit(2)) === 0))
      .orderBy("doc_id", "band_id"))
    assert(streamedRows === batch,
      "drained band index must equal the batch-built corpus band index")
    // the maintained per-bucket census (summed monoid partials) must
    // equal a census computed fresh over the drained rows — the
    // invariant the probe's flood guard trusts
    val maintainedCounts = rows(streamed.bucketCounts.orderBy("band_id", "band_hash"))
    val freshCounts = rows(graft.operators.Dedup.bandBucketCounts(streamed.rows)
      .orderBy("band_id", "band_hash"))
    assert(maintainedCounts === freshCounts,
      "summed count partials must equal a fresh census of the drained rows")
    // and the maintained index is an interchangeable probe target
    val probed = rows(graft.operators.Dedup.minhashBatchProbe(spark, sf001, streamed))
    val q94 = rows(SparkEntry.queries("q94_dedup_batch_vs_corpus")(spark, sf001))
    assert(probed === q94,
      "probe against the maintained band index must equal the batch probe")
  }

  test("q366: one multi-index drain pass equals the single-drain twins, with one stream") {
    // one stream maintained every document-fed artifact; each artifact
    // is pinned against its batch definition by its own spec above
    // (q131 in MultimodalSpec)
    val (multi, started) = docDrain
    assert(started === 1,
      s"multi-index drain must open exactly ONE stream, opened $started")
    val artifacts = Seq(multi.simhash.rows, multi.image.rows, multi.audio.rows,
      multi.videoWide.rows, multi.bands.rows, multi.bands.bucketCounts,
      multi.cmsPartials, multi.driftPartials, multi.kmvPartials,
      multi.psiPartials, multi.cdcPartials, multi.merklePartials,
      multi.chunkPartials, multi.curated, multi.imageFeatures)
    assert(artifacts.forall(!_.isEmpty),
      "every artifact must be maintained by the one pass")
  }

  test("q365: size-tiered fold of the band partial log is exact and bounds the log") {
    import org.apache.spark.sql.functions._
    val idx = graft.streaming.Streams
      .streamMinhashBandIndexCompacted(spark, sf001)
    // fold ≡ union: compacted rows equal the batch-built corpus index
    val rows = idx.rows.orderBy("doc_id", "band_id")
      .collect().map(_.toSeq).toSeq
    val batch = graft.operators.Dedup
      .docBands(Tables.documents(spark, sf001)
        .where(pmod(col("doc_id"), lit(2)) === 0))
      .orderBy("doc_id", "band_id").collect().map(_.toSeq).toSeq
    assert(rows === batch, "fold must preserve the served union exactly")
    // folded counts still equal a fresh census of the folded rows
    val counts = idx.bucketCounts.orderBy("band_id", "band_hash")
      .collect().map(_.toSeq).toSeq
    val fresh = graft.operators.Dedup.bandBucketCounts(idx.rows)
      .orderBy("band_id", "band_hash").collect().map(_.toSeq).toSeq
    assert(counts === fresh)
    // the log is BOUNDED: 8 staged triggers folded into < 8 partials
    val stage = graft.operators.Formats.scratchDir(
      "graft_minhash_compact_stage", sf001)
    val outDir = graft.operators.Formats.scratchDir(
      "graft_stream_minhash_bands", stage)
    val nDirs = Option(new java.io.File(outDir).listFiles())
      .map(_.count(f => f.isDirectory && f.getName.startsWith("batch=")))
      .getOrElse(0)
    assert(nDirs > 0 && nDirs < 8,
      s"8 per-trigger partials must fold into fewer directories, got $nDirs")
  }

  // ---- prefix-serveability of the streaming probes (verdict r11 #3) --

  /** At EVERY trigger boundary — not just after the full drain — the
    * partially-maintained census must be a serveable probe target:
    * probing it equals the batch probe over exactly the documents that
    * have arrived so far. The spec's own stream writes each trigger's
    * partial through [[Streams.CensusTier.partial]] (the document
    * drain's per-trigger write) and probes [[Streams.CensusTier.summed]]
    * after every trigger; the reference census is built from scratch
    * over the prefix doc ids through the SAME tier featurize. */
  private def assertPrefixProbeConsistency(
      tier: Streams.CensusTier, nFiles: Int,
      probe: (org.apache.spark.sql.SparkSession, String,
        graft.operators.BandedHamming.StatedIndex) => DataFrame): Unit = {
    val src = staged(s"graft_prefix_${nFiles}_", Tables.documents(spark, sf001), nFiles)
    val partials = java.nio.file.Files.createTempDirectory("graft_prefix_census").toString
    val results = scala.collection.mutable.ArrayBuffer
      .empty[(Int, Seq[Seq[Any]], Seq[Seq[Any]])]
    var prefixIds = Seq.empty[Long]
    val q = Streams.readDocsStream(spark, sf001, Some(src), Some(1))
      .where(Streams.fixtureCorpusFilter)
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], bid: Long) =>
        if (!batch.isEmpty) {
          tier.partial(batch.toDF())
            .write.mode("overwrite").parquet(s"$partials/batch=$bid")
          val ids = batch.select("doc_id").collect().map(_.getLong(0)).toSeq
          prefixIds = prefixIds ++ ids
          // the mid-stream serve: probe the partially-maintained census
          val maintained = tier.scheme.indexed(
            tier.summed(spark, partials).localCheckpoint())
          val got = rows(probe(spark, sf001, maintained))
          // the batch reference over exactly the arrived documents
          val reference = tier.scheme.indexed(
            tier.featurize(Tables.documents(spark, sf001)
              .where(col("doc_id").isin(prefixIds: _*)))
              .groupBy(tier.groupCols.map(col): _*)
              .agg(count(lit(1)).as("n_docs"))
              .localCheckpoint())
          val want = rows(probe(spark, sf001, reference))
          results += ((ids.size, got, want))
          org.apache.spark.sql.graftshim.Checkpoints.release(maintained.rows)
          org.apache.spark.sql.graftshim.Checkpoints.release(reference.rows)
        }
        ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    assert(results.size >= 2,
      s"staging into $nFiles files must produce several triggers, " +
        s"got ${results.size}")
    for (((n, got, want), i) <- results.zipWithIndex)
      assert(got === want,
        s"prefix ${i + 1}/${results.size} ($n arrivals) diverged from " +
          "the batch probe over the prefix corpus")
  }

  test("q351 prefix-serveability: the partially-maintained simhash census serves the probe at every trigger (3 slicings)") {
    for (nFiles <- Seq(2, 3, 5))
      assertPrefixProbeConsistency(Streams.simhashCensusTier, nFiles,
        graft.operators.Dedup.simhashBatchProbe)
  }

  test("q356/q359/q361 prefix-serveability: image, audio, and wide-video probes serve every prefix of their maintained censuses") {
    assertPrefixProbeConsistency(Streams.imageCensusTier, 3,
      graft.operators.Multimodal.imageBatchProbe)
    assertPrefixProbeConsistency(Streams.audioCensusTier, 3,
      graft.operators.Multimodal.audioBatchProbe)
    assertPrefixProbeConsistency(Streams.videoWideCensusTier, 2,
      graft.operators.Multimodal.videoWideBatchProbe)
  }
}
