package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** IVF-PQ composition — the production serving shape for memory-bound
  * ANN, closing the gap q114 left open: q114's ADC scan touches every
  * code row, while a real PQ index routes through a coarse quantizer
  * first (probe a few cells, ADC only within them, exact re-rank of
  * the survivors). Both halves already exist — q55's deterministic
  * fixed-centroid routing and q114's exact-literal ADC — and q127 is
  * their composition, oracle-checked end to end.
  *
  * Pipeline (one fixed exact-half query vector, [[PqAnn.query]]):
  *  1. coarse cells: every `fixedStride`th corpus vector is a
  *     centroid; every vector is assigned to its max-cosine cell by
  *     the fused NearestCentroid scan expression (q55 machinery).
  *  2. route the query to its `nProbe` best cells (tiny: |cells| rows
  *     through a TakeOrderedAndProject).
  *  3. PQ-encode and ADC-score ONLY the probed cells: a broadcast
  *     left-semi join on the cell id gates the scan before any code
  *     arithmetic runs.
  *  4. top-`adcCand` by ADC distance, exact re-rank, top-`k`.
  *
  * 100 TB notes: the codes table is ~32× smaller than the vectors and
  * PARTITIONED BY CELL on disk in a production index, so step 3's
  * semi-join becomes partition pruning — the scan reads nProbe/|cells|
  * of the codes. Per query the engine touches |cells| centroid rows +
  * probed-cell codes + adcCand full vectors, never the corpus. The
  * probed fraction shrinks as the corpus grows (cell count scales with
  * the data at fixed stride). PlanAuditSpec pins the gating: the ADC
  * top-k's input subtree must contain the semi-join.
  *
  * Oracle discipline: centroids and assignment are deterministic
  * (q55), the codebook/query/LUT are exact binary fractions (q114), so
  * rows+schema+hash must match DuckDB's from-scratch rebuild.
  */
object IvfPq {

  val nProbe = 4
  val adcCand = 50
  val k = 10

  private def qLitSql: String =
    PqAnn.query.map(PqAnn.sqlNum).mkString("[", ", ", "]")

  /** Spark-side literal query as ARRAY<FLOAT> (exact halves are exact
    * in float, so the float path loses nothing). */
  private def qLitF = array(PqAnn.query.map(v => lit(v.toFloat)): _*)

  val qIvfPqTopK: GraftQuery = {
    val lutSql = (0 until PqAnn.subspaces).map { s =>
      val l = PqAnn.lut(s).map(PqAnn.sqlNum).mkString("[", ", ", "]")
      s"CAST($l[c$s + 1] AS DOUBLE)"
    }.mkString("(", " + ", ")")
    GraftQuery(
      "q127_ivfpq_topk",
      s"""WITH centroids AS (
         |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
         |  WHERE vec_id % ${IvfAnn.fixedStride} = 0),
         |scored_assign AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${IvfAnn.cosSql.format("e.embedding", "c.c_emb")} DESC,
         |        c.cell) AS rn
         |  FROM embeddings e CROSS JOIN centroids c),
         |cells AS (
         |  SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT cell, row_number() OVER (ORDER BY
         |      list_cosine_similarity(CAST(c_emb AS DOUBLE[]),
         |        CAST($qLitSql AS DOUBLE[])) DESC, cell) AS r
         |    FROM centroids) WHERE r <= $nProbe),
         |coded AS (
         |  SELECT m.vec_id, m.embedding, m.cell,
         |    ${(0 until PqAnn.subspaces).map(s => s"${PqAnn.codeSql(s)} AS c$s").mkString(",\n    ")}
         |  FROM cells m JOIN probes p ON m.cell = p.cell),
         |adc AS (
         |  SELECT vec_id, embedding, cell, $lutSql AS adc_dist FROM coded),
         |cand AS (
         |  SELECT * FROM adc ORDER BY adc_dist, vec_id LIMIT $adcCand)
         |SELECT vec_id, cell, adc_dist, ${PqAnn.exactDistSql} AS exact_dist
         |FROM cand
         |ORDER BY exact_dist, vec_id
         |LIMIT $k""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
      val assigned = IvfAnn.assign(emb, centroids)
      val probes = centroids
        .select(col("cell"),
          org.apache.spark.sql.graftshim.CosineSimilarity(
            col("centroid"), qLitF).as("q_sim"))
        .orderBy(col("q_sim").desc, col("cell"))
        .limit(nProbe)
        .select(col("cell").cast("long").as("cell"))
      // gate BEFORE encoding: only probed-cell rows pay PqEncode + ADC
      val gated = assigned.join(broadcast(probes), Seq("cell"), "left_semi")
      val coded = gated
        .select(col("vec_id"), col("embedding"), col("cell"),
          org.apache.spark.sql.graftshim.PqEncode(col("embedding"), PqAnn.codebook)
            .as("codes"))
      val cand = coded
        .withColumn("adc_dist", PqAnn.fixedLutAdcDist)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(adcCand)
      cand
        .select(col("vec_id"), col("cell"), col("adc_dist"),
          PqAnn.exactDist.as("exact_dist"))
        .orderBy(col("exact_dist"), col("vec_id"))
        .limit(k)
    }
  }

  // ---- physically partitioned, persisted index (q139/q140) ----
  //
  // q127 argues the probed-cell semi-join "becomes partition pruning"
  // in a production layout; these queries BUILD that layout and prove
  // it. The index is the (vec_id, codes) relation written as parquet
  // partitioned by cell — ~32x smaller than the vectors, and a probed
  // search plans a scan whose PartitionFilters carry `cell IN
  // (probes)`, so only nProbe/|cells| of the directories are listed or
  // read (PlanAuditSpec pins partitionFilters on the scan; ScaleBench
  // A/Bs it against the unpartitioned semi-join form at 1M vectors).

  /** Read-back schema, pinned: partition-column inference would retype
    * `cell` from the directory names. */
  private val codesSchema = "vec_id BIGINT, codes ARRAY<INT>, cell BIGINT"

  /** PQ-encode an assigned (vec_id, embedding, cell) relation into the
    * narrow on-disk codes shape. Runs once at index-build; search never
    * re-encodes the corpus. */
  private def encoded(assigned: org.apache.spark.sql.DataFrame) =
    assigned.select(col("vec_id"),
      org.apache.spark.sql.graftshim.PqEncode(col("embedding"), PqAnn.codebook)
        .as("codes"),
      col("cell"))

  /** One on-disk index segment per (session, corpus, tag) — the write
    * is a one-off batch job (the 100 TB posture) memoized so plan
    * audits and repeated Verify runs reuse the files. Overwrite mode
    * keeps a crashed previous run from poisoning the layout. */
  private val segments =
    new graft.spark.SessionMemo[(String, String), String](
      "ivfpq.segments")(Formats.wipe)

  private[graft] def codesSegment(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String, assigned: => org.apache.spark.sql.DataFrame): String =
    writeSegment(s, d, tag)(encoded(assigned))

  /** Write an already-coded relation as a cell-partitioned segment —
    * the shared physical-layout writer behind both index BUILD
    * (codesSegment encodes first) and index COMPACTION (q146 copies
    * codes between layouts without touching an embedding). */
  private[graft] def writeSegment(s: org.apache.spark.sql.SparkSession, d: String,
      tag: String)(codes: => org.apache.spark.sql.DataFrame): String =
    segments.getOrElseUpdate(s, (d, tag))({
      val path = Formats.scratchDir("graft_ivfpq_" + tag, d)
      codes.write.partitionBy("cell").mode("overwrite").parquet(path)
      path
    })

  /** Full (unpruned) scan of one persisted segment — the compaction
    * job's input: every cell directory, schema pinned against
    * partition-column inference. */
  private[graft] def readSegment(s: org.apache.spark.sql.SparkSession,
      path: String): org.apache.spark.sql.DataFrame =
    s.read.schema(codesSchema).option("basePath", path).parquet(path)

  /** The query's nProbe best cells, as driver-side literals (bounded:
    * nProbe longs — the collect that turns the cell gate into genuine
    * partition pruning). Scored by the SAME CosineSimilarity expression
    * and (sim DESC, cell) tie rule as q127, so the probe set is
    * bit-identical to the semi-join form's. */
  private[graft] def probeCells(centroids: org.apache.spark.sql.DataFrame): Seq[Long] =
    centroids
      .select(col("cell").cast("long").as("cell"),
        org.apache.spark.sql.graftshim.CosineSimilarity(col("centroid"), qLitF)
          .as("q_sim"))
      .orderBy(col("q_sim").desc, col("cell"))
      .limit(nProbe)
      .collect().map(_.getLong(0)).toIndexedSeq

  /** Scan ONE index segment restricted to the probed cells. Two layers
    * of pruning: (1) only the probed `cell=` subdirectories are handed
    * to the reader (basePath keeps the partition column), so the file
    * index never LISTS the unprobed tree — a flat `parquet(root)` +
    * partition filter still stat()s every directory up front, which
    * measured SLOWER than the semi-join at 20k vectors because listing
    * dominated; this is what a metastore's partition lookup does for a
    * cataloged table; (2) the isin predicate still plans as a
    * PartitionFilter over the listed subset (PlanAuditSpec pins it).
    * Probed cells with no directory (a delta segment holds only the
    * batch's cells) are dropped by a driver-side existence check —
    * nProbe stat calls, the metastore lookup's moral equivalent. */
  private[graft] def probedScan(s: org.apache.spark.sql.SparkSession,
      path: String, probes: Seq[Long]): Option[org.apache.spark.sql.DataFrame] = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val dirs = probes.map(c => s"$path/cell=$c")
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    if (dirs.isEmpty) None
    else Some(
      s.read.schema(codesSchema).option("basePath", path).parquet(dirs: _*)
        .where(col("cell").isin(probes: _*)))
  }

  /** ADC candidate relation over one or more persisted index segments:
    * probed-cell-pruned scans, unioned, ADC-scored, bounded
    * top-adcCand. Exposed for PlanAuditSpec: the physical property
    * q139/q140 exist to demonstrate lives in THIS plan. */
  private[graft] def adcCandidates(s: org.apache.spark.sql.SparkSession,
      paths: Seq[String], probes: Seq[Long]): org.apache.spark.sql.DataFrame = {
    val scans = paths.flatMap(p => probedScan(s, p, probes))
    require(scans.nonEmpty, s"no probed cell has data in any segment: $paths")
    scans.reduce(_ union _)
      .withColumn("adc_dist", PqAnn.fixedLutAdcDist)
      .orderBy(col("adc_dist"), col("vec_id"))
      .limit(adcCand)
  }

  /** Exact re-rank of a COLLECTED candidate set (bounded: adcCand
    * rows): fetch only those vec_ids from the vectors table — the In
    * filter reaches the parquet scan, so the re-rank is a point fetch,
    * not a corpus scan (the 100 TB shape: ADC over codes, then k point
    * lookups of full vectors). */
  private def rerankCollected(s: org.apache.spark.sql.SparkSession, d: String,
      cand: Array[org.apache.spark.sql.Row]): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val candDf = cand.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3)))
      .toSeq.toDF("vec_id", "cell", "adc_dist")
    Tables.embeddings(s, d)
      .where(col("vec_id").isin(cand.map(_.getLong(0)).toIndexedSeq: _*))
      .join(broadcast(candDf), "vec_id")
      .select(col("vec_id"), col("cell"), col("adc_dist"),
        PqAnn.exactDist.as("exact_dist"))
      .orderBy(col("exact_dist"), col("vec_id"))
      .limit(k)
  }

  /** q127's search served from the PERSISTED cell-partitioned index:
    * same centroids, codebook, query, nProbe, adcCand, k — so the
    * oracle is q127's SQL verbatim and a hash match proves the
    * partitioned layout changes the physics, not the answer. */
  val qIvfPqPartitioned: GraftQuery = GraftQuery(
    "q139_ivfpq_partitioned", qIvfPqTopK.oracle.get) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val path = codesSegment(s, d, "full", IvfAnn.assign(emb, centroids))
    val probes = probeCells(centroids)
    // codes: ARRAY<INT> per row in nProbe partitions only; the
    // collect is bounded at adcCand
    val cand = adcCandidates(s, Seq(path), probes).collect()
    rerankCollected(s, d, cand)
  }

  /** Incremental index maintenance: the corpus segment is built from
    * the base vectors (vec_id % 5 != 4 — the q130 batch convention)
    * and PERSISTED; the arriving batch (% 5 = 4) is assigned to the
    * EXISTING centroids, encoded, and written as a delta segment —
    * the corpus is never reassigned or re-encoded. Search unions the
    * two partition-pruned segment scans. Because the stride-50
    * centroid ids are all ≡ 0 (mod 5), the base corpus contains every
    * centroid, so base+delta is code-for-code identical to a full
    * rebuild — the oracle is again q127's from-scratch SQL, and the
    * hash match IS the incremental ≡ rebuild proof (the q130
    * pattern). PlanAuditSpec pins that the search plan contains two
    * partition-filtered codes scans and NO PqEncode/NearestCentroid —
    * codes are read, never recomputed. */
  val qIvfPqIncremental: GraftQuery = GraftQuery(
    "q140_ivfpq_incremental", qIvfPqTopK.oracle.get) { (s, d) =>
    // existing centroids: sampled from the BASE corpus (stride-50 ids
    // are never % 5 = 4, so this is also the full corpus's centroid
    // set — the property that makes the rebuild oracle exact)
    val (centroids, basePath, deltaPath) = baseDeltaSegments(s, d)
    val probes = probeCells(centroids)
    val cand = adcCandidates(s, Seq(basePath, deltaPath), probes).collect()
    rerankCollected(s, d, cand)
  }

  /** The vector fixtures' base/delta split (the q130 batch
    * convention): vec_id % 5 == 4 is the arriving delta, everything
    * else the persisted base. The segment builds, the compaction
    * census and the embeddings drains all apply it; the oracles spell
    * it in SQL. */
  private[graft] def isDeltaVec: org.apache.spark.sql.Column =
    pmod(col("vec_id"), lit(5)) === 4

  /** The base corpus and its centroid set; shared by q140/q146/q147. */
  private[graft] def baseCentroids(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    IvfAnn.fixedCentroids(
      Tables.embeddings(s, d).where(!isDeltaVec),
      IvfAnn.fixedStride)

  /** Build (or reuse) the persisted BASE index segment. */
  private[graft] def baseSegment(s: org.apache.spark.sql.SparkSession,
      d: String): String =
    codesSegment(s, d, "base", IvfAnn.assign(
      Tables.embeddings(s, d).where(!isDeltaVec),
      baseCentroids(s, d)))

  /** Build (or reuse) the q140 base+delta segment pair for `d` —
    * shared by q140 itself and q146's compaction input. Returns
    * (centroids, basePath, deltaPath). */
  private[graft] def baseDeltaSegments(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame, String, String) = {
    val centroids = baseCentroids(s, d)
    val batch = Tables.embeddings(s, d).where(isDeltaVec)
    val basePath = baseSegment(s, d)
    val deltaPath = codesSegment(s, d, "delta", IvfAnn.assign(batch, centroids))
    (centroids, basePath, deltaPath)
  }

  // ---- streaming ingest support (q147) ----

  /** Build counter for the collected centroid set — StreamsSpec pins
    * that multi-trigger ingest builds it exactly once. */
  private[graft] val centroidBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  private val centroidCache =
    new graft.spark.SessionMemo[String, IndexedSeq[(Long, Array[Float])]](
      "ivfpq.cents")(_ => ())

  /** The collected base-corpus centroid set, built ONCE per (session,
    * corpus) and reused by every arriving micro-batch — the q131
    * decoder-pooling discipline applied to index state (bounded:
    * |cells| rows, the one documented driver-side collect of this
    * family). */
  private[graft] def ingestCentroids(s: org.apache.spark.sql.SparkSession,
      d: String): IndexedSeq[(Long, Array[Float])] =
    centroidCache.getOrElseUpdate(s, d)({
      centroidBuilds.incrementAndGet()
      baseCentroids(s, d)
        .select(col("cell").cast("long"), col("centroid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
        .toIndexedSeq
    })

  /** Assign one arriving vector micro-batch to the EXISTING centroids,
    * PQ-encode it, and write it as the stream delta's `batch=<id>`
    * segment — the q140 append path in micro-batch form. The corpus is
    * never touched; each batch segment keeps the q139 cell-partitioned
    * pruned-scan layout UNDER its own batch directory, and the write is
    * OVERWRITE keyed by the checkpointed batchId: foreachBatch is
    * at-least-once (the last batch is re-delivered after a recovery),
    * so a blind append would duplicate delta rows — duplicated vec_ids
    * then flood the bounded ADC candidate list and shift the exact
    * re-rank. Replaying a batch here rewrites the same directory to the
    * same bytes instead (StreamsSpec replays one and pins row count and
    * search output unchanged). */
  private[graft] def appendBatch(s: org.apache.spark.sql.SparkSession, d: String,
      batch: org.apache.spark.sql.DataFrame, dir: String, batchId: Long): Unit = {
    val cents = ingestCentroids(s, d)
    val assigned = batch.select(col("vec_id"), col("embedding"),
      org.apache.spark.sql.graftshim.NearestCentroid(col("embedding"), cents, "cos")
        .as("cell"))
    encoded(assigned).write.partitionBy("cell").mode("overwrite")
      .parquet(s"$dir/batch=$batchId")
  }

  /** The per-batch segment directories under a stream delta root, in
    * batch order (deterministic regardless of filesystem listing
    * order). Each is a self-contained cell-partitioned segment, so the
    * probed search treats them exactly like q140's delta. */
  private[graft] def batchSegments(s: org.apache.spark.sql.SparkSession,
      dir: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .sortBy(st => st.getPath.getName.stripPrefix("batch=").toLong)
      .map(_.getPath.toString)
  }

  /** Probed search over an arbitrary persisted segment list — q147's
    * serving path once the stream drains (and the shared shape behind
    * q139/q140/q146's search bodies). */
  private[graft] def searchSegments(s: org.apache.spark.sql.SparkSession,
      d: String, paths: Seq[String]): org.apache.spark.sql.DataFrame = {
    val probes = probeCells(baseCentroids(s, d))
    rerankCollected(s, d, adcCandidates(s, paths, probes).collect())
  }

  /** Index COMPACTION — the third phase of the index lifecycle after
    * build (q139) and append (q140). A long-lived index accumulates
    * delta segments (one per arriving batch / micro-batch); every
    * search pays one pruned scan PER SEGMENT plus a union, and each
    * delta holds only a few cells so its files are small — the
    * classic LSM read-amplification + small-files problem. Compaction
    * is the batch rewrite that folds base+deltas into ONE
    * cell-partitioned generation by COPYING CODES between layouts:
    * the job reads every segment's (vec_id, codes, cell) rows and
    * writes them partitioned — no embedding is read, nothing is
    * re-assigned or re-encoded (PlanAuditSpec pins zero
    * PqEncode/NearestCentroid in BOTH the compaction job and the
    * search). At 100 TB compaction is embarrassingly parallel (a
    * partitioned-parquet rewrite of the ~32×-compressed codes), and
    * the search plan collapses back to q139's single pruned scan —
    * PlanAuditSpec pins exactly ONE codes scan here vs q140's two.
    *
    * Oracle: q127's from-scratch SQL verbatim — the hash match proves
    * compacted ≡ segmented ≡ rebuilt. */
  val qIvfPqCompacted: GraftQuery = GraftQuery(
    "q146_ivfpq_compacted", qIvfPqTopK.oracle.get) { (s, d) =>
    val (centroids, basePath, deltaPath) = baseDeltaSegments(s, d)
    val gen2 = writeSegment(s, d, "gen2")(
      readSegment(s, basePath).union(readSegment(s, deltaPath)))
    val probes = probeCells(centroids)
    val cand = adcCandidates(s, Seq(gen2), probes).collect()
    rerankCollected(s, d, cand)
  }

  // ---- batch-query serving (q303) ----

  /** Every 97th corpus vector is a query — the bounded deterministic
    * query TABLE convention (a RAG batch-inference workload). */
  val batchQueryMod = 97

  /** BATCH-QUERY ANN SERVING over the persisted cell-partitioned
    * index — the production retrieval shape the single-query paths
    * (q127/q139/q140/q146) don't cover: a TABLE of queries served in
    * ONE distributed plan with zero per-query driver round-trips.
    *
    * Pipeline:
    *  1. probe selection: queries × broadcast(centroids), per-query
    *     top-nProbe cells via the bounded TopKByScore heap —
    *     |Q|·nProbe rows, no window sort;
    *  2. the UNION of probed cells is the ONE bounded driver collect
    *     of the whole batch (≤ |cells| longs — the q139 metastore-
    *     lookup pattern): only those `cell=` directories are handed
    *     to the reader, so the codes scan is partition-pruned for
    *     ALL queries at once;
    *  3. per-(query, cell) ADC: codes ⋈ broadcast probe list on cell —
    *     the probe side is the NARROW (query_id, cell, q_emb) relation
    *     and each scored pair runs the fused [[org.apache.spark.sql.
    *     graftshim.PqAdcDistLut]] codegen loop (bit-identical to
    *     materialized per-query LUTs, which is what the oracle spells;
    *     r8 materialized 8 LUT arrays per (query, cell) broadcast row —
    *     3× the broadcast bytes for the same arithmetic) — then
    *     per-query top-adcCand by bounded heap;
    *  4. exact re-rank DISTRIBUTED: candidates (|Q|·adcCand rows)
    *     equi-join the vectors table on vec_id — one narrow corpus
    *     probe amortized across every query — then per-query top-k.
    *
    * 100 TB: driver traffic is ONE cell list; everything else is
    * broadcast-equi-join + bounded heaps. The broadcast hints are
    * GATED on the counted query-table size: past `maxBroadcastQueries`
    * (default 100k — the ~30 MB probe-side budget) the same plan
    * falls back to plain equi-joins that shuffle both sides on
    * cell/vec_id/query_id instead of hard-OOMing the driver on a
    * forced broadcast. PlanAuditSpec pins: one partition-pruned
    * codes scan, no PqEncode/NearestCentroid in the serve plan.
    *
    * Oracle: a from-scratch DuckDB rebuild of assignment, routing,
    * per-pair ADC, and exact re-rank — same tie rules
    * (dist asc, vec_id asc) via row_number. */
  private def qCentDistSql(sub: Int, c: Int): String =
    (0 until PqAnn.subDim).map { j =>
      val idx = sub * PqAnn.subDim + j + 1
      val cb = PqAnn.sqlNum(PqAnn.codebook(sub)(c)(j))
      s"((CAST(p.q_emb[$idx] AS DOUBLE) - $cb) * " +
        s"(CAST(p.q_emb[$idx] AS DOUBLE) - $cb))"
    }.mkString("(", " + ", ")")

  private def adcPairSql: String = (0 until PqAnn.subspaces).map { sub =>
    val l = (0 until PqAnn.nCentroids).map(c => qCentDistSql(sub, c))
      .mkString("[", ", ", "]")
    s"($l[m.c$sub + 1])"
  }.mkString("(", " + ", ")")

  /** Exact squared L2 between a queries-CTE row `q` and an embeddings
    * row `e` — left-assoc, mirroring batchServe's expression. */
  private def exactPairSql: String = (0 until PqAnn.dims).map { j =>
    s"((CAST(q.q_emb[${j + 1}] AS DOUBLE) - CAST(e.embedding[${j + 1}] AS DOUBLE)) * " +
      s"(CAST(q.q_emb[${j + 1}] AS DOUBLE) - CAST(e.embedding[${j + 1}] AS DOUBLE)))"
  }.mkString("(", " + ", ")")

  /** Index-side CTEs shared by the whole serving family: centroid
    * set, corpus cell assignment, the query table, and the FULL
    * per-query centroid ranking (`routed`, with c_rank). q303/q309/
    * q314/q324 consume it via [[batchServeCtesSql]]; the nProbe
    * planner (q327/q328) appends its eval CTEs after `routed`. */
  private def indexCtesSql: String =
    indexCtesSqlWith(s"vec_id % $batchQueryMod = 0")

  /** Corpus-assignment + query-routing CTEs against the centroid CTE
    * `cents` (columns cell, c_emb) and the shared unprefixed `queries`
    * CTE, every emitted CTE name prefixed with `p` — ONE rendering
    * shared by the whole q303 serve family (p = "") and q362's
    * dual-index conditional serve (p = "b"/"r"), so a tie-rule or
    * cast fix can never reach one chain and silently miss the other. */
  private def assignRouteCtesSql(p: String, cents: String): String =
    s"""${p}scored_assign AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${IvfAnn.cosSql.format("e.embedding", "c.c_emb")} DESC,
       |        c.cell) AS rn
       |  FROM embeddings e CROSS JOIN $cents c),
       |${p}cells AS (
       |  SELECT vec_id, embedding, cell FROM ${p}scored_assign WHERE rn = 1),
       |${p}routed AS (
       |  SELECT q.query_id, q.q_emb, c.cell,
       |    row_number() OVER (PARTITION BY q.query_id
       |      ORDER BY ${IvfAnn.cosSql.format("q.q_emb", "c.c_emb")} DESC,
       |        c.cell) AS c_rank
       |  FROM queries q CROSS JOIN $cents c)""".stripMargin

  /** [[indexCtesSql]] with the eval-query predicate as a parameter —
    * the sampled planner (q340) swaps the stride-eval set for a hash
    * sample of the full query log. */
  private def indexCtesSqlWith(queriesWhere: String): String =
    s"""centroids AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % ${IvfAnn.fixedStride} = 0),
       |queries AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
       |  WHERE $queriesWhere),
       |${assignRouteCtesSql("", "centroids")}""".stripMargin

  /** Serve-side CTEs: probe gate (the predicate is a parameter so the
    * planner-driven serve can choose nProbe from a scalar subquery),
    * pruned coding, per-pair ADC, candidate gate, exact re-rank. The
    * CTE-name prefix composes with [[assignRouteCtesSql]]'s. */
  private def serveCtesSql(probeCond: String, p: String = ""): String =
    s"""${p}probes AS (
       |  SELECT query_id, q_emb, cell FROM ${p}routed WHERE $probeCond),
       |${p}coded AS (
       |  SELECT m.vec_id, m.cell,
       |    ${(0 until PqAnn.subspaces).map(s => s"${PqAnn.codeSql(s)} AS c$s").mkString(",\n    ")}
       |  FROM ${p}cells m
       |  JOIN (SELECT DISTINCT cell FROM ${p}probes) pb ON m.cell = pb.cell),
       |${p}adc AS (
       |  SELECT p.query_id, m.vec_id, $adcPairSql AS adc_dist
       |  FROM ${p}probes p JOIN ${p}coded m ON m.cell = p.cell),
       |${p}cand AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY adc_dist, vec_id) AS r
       |    FROM ${p}adc) WHERE r <= $adcCand),
       |${p}rr AS (
       |  SELECT c.query_id, c.vec_id, $exactPairSql AS exact_dist
       |  FROM ${p}cand c
       |  JOIN embeddings e ON e.vec_id = c.vec_id
       |  JOIN queries q ON q.query_id = c.query_id)""".stripMargin

  /** The q303 oracle's CTE chain, ending with `rr` (candidate exact
    * distances per query) — shared verbatim by q303 and the serving
    * recall eval (q324). */
  private def batchServeCtesSql: String =
    s"""$indexCtesSql,
       |${serveCtesSql(s"c_rank <= $nProbe")}""".stripMargin

  val qIvfPqBatchServe: GraftQuery = {
    GraftQuery(
      "q303_ivfpq_batch_serve",
      s"""WITH $batchServeCtesSql
         |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, exact_dist
         |FROM (
         |  SELECT query_id, vec_id, exact_dist,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY exact_dist, vec_id) AS rank
         |  FROM rr) WHERE rank <= $k
         |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
      val path = codesSegment(s, d, "full", IvfAnn.assign(emb, centroids))
      val queries = emb
        .where(pmod(col("vec_id"), lit(batchQueryMod)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      batchServe(s, Seq(path), centroids, queries, emb,
        queryCountHint = Some(evalQueryCount(s, d)))
    }
  }

  /** The distributed batch-serve body behind q303 (and the IVF tier
    * of approximate hard-negative mining): queries routed, one pruned
    * codes scan over the probe-cell union, per-query ADC heap, exact
    * re-rank via equi-joins. Output: (query_id, rank, vec_id,
    * exact_dist) per query, k rows each. */
  private[graft] def batchServe(s: org.apache.spark.sql.SparkSession,
      paths: Seq[String], centroids: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      codebook: Seq[Seq[Seq[Double]]] = PqAnn.codebook,
      maxBroadcastQueries: Long = 100000L,
      probes: Int = nProbe,
      adcCands: Int = adcCand,
      metric: String = "cos",
      queryCountHint: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftshim.TopKByScore
    val (cand, nQ) = serveCandidates(s, paths, centroids, queries, codebook,
      maxBroadcastQueries, probes, adcCands, metric, queryCountHint)
    val budget =
      if (nQ > maxBroadcastQueries) -1L // capped count — never broadcast
      else broadcastBudgetBytes(maxBroadcastQueries, probes)
    // 4. exact re-rank, DISTRIBUTED: candidates equi-join the vectors
    //    table — one narrow corpus probe amortized over all queries,
    //    zero per-query collects. Each broadcast is gated on ITS OWN
    //    estimated size: the candidate relation is nQ·adcCands rows,
    //    which a query-count-only gate cannot see (just under the
    //    query budget with a deep candidate pool it is a multi-GB
    //    forced driver build — the round-9 advice finding).
    val exactDist = (0 until PqAnn.dims).map { j =>
      val dd = element_at(col("q_emb"), j + 1).cast("double") -
        element_at(col("embedding"), j + 1).cast("double")
      dd * dd
    }.reduceLeft(_ + _)
    corpus.join(sizeGate(nQ * adcCands, 16L, budget)(cand), "vec_id")
      .join(sizeGate(nQ, 8L + 8L * PqAnn.dims, budget)(queries), "query_id")
      .select(col("query_id"), col("vec_id"), exactDist.as("exact_dist"))
      .groupBy("query_id")
      .agg(TopKByScore(-col("exact_dist"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("vec_id"), (-col("col.score")).as("exact_dist"))
      .orderBy("query_id", "rank")
  }

  /** Driver-memory budget in BYTES for any single forced broadcast on
    * the serve path, expressed from the documented 100k-query
    * contract: the largest relation that contract ever accepted is
    * the probe side — nQ·probes rows of (query_id, cell, q_emb).
    * Every serve-path broadcast is gated on its own estimated size
    * against this budget, so "no forced-broadcast driver OOM under
    * the gate" holds for every relation shape, not just the default
    * candidate depth. */
  private def broadcastBudgetBytes(maxBroadcastQueries: Long, probes: Int): Long =
    maxBroadcastQueries * probes * (24L + 8L * PqAnn.dims)

  /** Per-relation broadcast gate: broadcast iff the relation's
    * estimated size fits the budget; plain (shuffle) join otherwise.
    * `rows` MUST be an exact (or over-) estimate: the caller's query
    * count saturates at budget+1 when the gating count was capped, so
    * every gate is additionally disabled outright past the query
    * budget (see the `overBudget` guards) — a capped count must never
    * masquerade as a small relation. */
  private def sizeGate(rows: Long, bytesPerRow: Long, budgetBytes: Long):
      org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    if (rows * bytesPerRow <= budgetBytes) broadcast else identity

  /** Stages 1–3 of the batch serve (probe routing, pruned scan, ADC
    * candidate heaps) — factored so ScaleBench can profile the
    * candidate stage apart from the exact re-rank. Returns the
    * candidate relation plus the counted (or hinted) query count so
    * the caller can size-gate its own joins.
    *
    * `metric` is the ROUTING metric and must match the metric the
    * index's cells were assigned with (IvfAnn.assign's rule: an L2
    * index routed by cosine loses recall once vector norms vary —
    * measured 0.73–0.77 at 100k in ScaleBench): "cos" is the q303
    * oracle family; "l2" is the trained-codebook production path. */
  private[graft] def serveCandidates(s: org.apache.spark.sql.SparkSession,
      paths: Seq[String], centroids: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      codebook: Seq[Seq[Seq[Double]]],
      maxBroadcastQueries: Long, probes: Int, adcCands: Int,
      metric: String,
      queryCountHint: Option[Long] = None): (org.apache.spark.sql.DataFrame,
        Long) = {
    import s.implicits._
    import org.apache.spark.sql.graftshim.{CosineSimilarity, PqAdcDistLut, TopKByScore}
    // broadcast gating: one BOUNDED count over the (narrow) query
    // relation — skipped when the caller already knows the batch
    // size. Past the budget a forced broadcast would OOM the driver,
    // and the shuffle fallback is the documented behavior, not just
    // documentation. limit(budget+1) caps the gate's work at the
    // budget regardless of corpus size (the gate needs "over or
    // under", never the exact count — nQ saturates at budget+1).
    val nQ = queryCountHint.getOrElse(
      queries.limit(math.min(maxBroadcastQueries,
        Int.MaxValue.toLong - 1).toInt + 1).count())
    // a batch with no query (a streamed trigger its query filter left
    // empty) probes no cell and serves no row
    if (nQ == 0) return (Seq.empty[(Long, Long)].toDF("query_id", "vec_id"), 0L)
    val useBroadcast = nQ <= maxBroadcastQueries
    val budget =
      if (useBroadcast) broadcastBudgetBytes(maxBroadcastQueries, probes)
      else -1L // capped count — never broadcast below
    // routing score: higher = closer under the serving metric
    val routeScore = metric match {
      case "cos" => CosineSimilarity(col("q_emb"), col("centroid"))
      case "l2" => -aggregate(zip_with(col("q_emb"), col("centroid"),
        (x, y) => { val dd = x.cast("double") - y.cast("double"); dd * dd }),
        lit(0.0), _ + _)
      case m => sys.error(s"unknown routing metric $m")
    }
    // 1. per-query probe cells (bounded heap — no |Q|×|cells| sort)
    val routed = queries
      .crossJoin(broadcast(
        centroids.select(col("cell").cast("long").as("cell"), col("centroid"))))
      .select(col("query_id"), col("cell"), routeScore.as("c_sim"))
      .groupBy("query_id")
      .agg(TopKByScore(col("c_sim"), col("cell"), probes).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("cell"))
    // 2. the ONE bounded driver collect of the whole batch. Under the
    //    broadcast budget the (query_id, cell) probe PAIRS come back
    //    (≤ nQ·probes long pairs — ~6 MB at the 100k budget): one
    //    round-trip yields BOTH the partition-pruning cell union and
    //    the probe side as a local relation, so the routing aggregate
    //    is never recomputed inside the serve job and the separate
    //    distinct-cells job disappears (measured ~0.4 s of pure stage
    //    latency at 64 queries × 1M vectors). Past the budget the
    //    collect shrinks to the distinct cell list (≤ |cells| longs)
    //    and the probe side stays distributed.
    val (allCells, probePairs) =
      if (useBroadcast) {
        val pairs = routed.collect().map(r => (r.getLong(0), r.getLong(1)))
        (pairs.map(_._2).distinct.sorted.toIndexedSeq,
          pairs.toSeq.toDF("query_id", "cell"))
      } else {
        (routed.select("cell").distinct()
          .collect().map(_.getLong(0)).sorted.toIndexedSeq,
          routed)
      }
    val scans = paths.flatMap(p => probedScan(s, p, allCells))
    require(scans.nonEmpty, s"no probed cell has data in any segment: $paths")
    val codes = scans.reduce(_ union _)
    // 3. ADC: the probe side is (query_id, cell, q_emb) — no LUT
    //    arrays materialize anywhere; each scored pair runs one fused
    //    codegen loop whose accumulation order IS the LUT
    //    decomposition's (oracle parity, PqAnnSpec-pinned)
    val probeSide = sizeGate(nQ * probes, 16L, budget)(probePairs)
      .join(queries, "query_id")
      .select(col("query_id"), col("cell"), col("q_emb"))
    val cand = codes
      .join(sizeGate(nQ * probes, 24L + 8L * PqAnn.dims, budget)(probeSide),
        Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        PqAdcDistLut(col("codes"), col("q_emb"), codebook).as("adc_dist"))
      .groupBy("query_id")
      .agg(TopKByScore(-col("adc_dist"), col("vec_id"), adcCands).as("top"))
      .select(col("query_id"), explode(col("top")).as("e"))
      .select(col("query_id"), col("e.id").as("vec_id"))
    (cand, nQ)
  }

  /** Batch serving over the SEGMENTED index — q303's query table
    * served from q140's base+delta layout instead of the single full
    * segment: per-query probes, ONE pruned scan per segment (two
    * total), union, same ADC/re-rank pipeline. Because the stride-50
    * centroids all live in the base corpus (ids ≡ 0 mod 5 are never
    * ≡ 4 — the q140 property), base+delta is code-for-code identical
    * to the full rebuild, so the oracle is q303's from-scratch SQL
    * VERBATIM and the hash match proves batch serving composes with
    * incremental maintenance — the answer does not change mid-
    * lifecycle. */
  val qIvfPqBatchServeSegmented: GraftQuery = GraftQuery(
    "q309_batch_serve_segmented", qIvfPqBatchServe.oracle.get) { (s, d) =>
    val (centroids, basePath, deltaPath) = baseDeltaSegments(s, d)
    val emb = Tables.embeddings(s, d)
    val queries = emb
      .where(pmod(col("vec_id"), lit(batchQueryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    batchServe(s, Seq(basePath, deltaPath), centroids, queries, emb,
      queryCountHint = Some(evalQueryCount(s, d)))
  }

  /** Tombstone rule for q316: every 7th vector is purged — chosen so
    * the tombstone set demonstrably intersects the served top-k at the
    * tested SFs (a delete test whose deletions never reach the answer
    * proves nothing; IvfPqSpec pins that q316's top-k differs from
    * q139's and contains no tombstoned id). 7 is coprime to the
    * centroid stride and the batch moduli. */
  val vecDeleteModulus = 7L

  /** DELETE PROPAGATION THROUGH THE ANN INDEX — q212's
    * right-to-be-forgotten contract for the VECTOR tier: when vectors
    * are purged, the persisted codes segments must forget them WITHOUT
    * re-encoding the surviving corpus. The engine serves q127's search
    * from the persisted full segment with the tombstone set
    * anti-joined away before ADC; the oracle REBUILDS assignment and
    * search from the purged corpus under the SAME quantizer (centroids
    * are index PARAMETERS, not data — production deletes never retrain
    * the coarse quantizer, and stride-50 centroid VECTORS deleted from
    * the corpus remain valid cell centers). The hash match proves
    * filter-the-index ≡ rebuild-from-purged-corpus — valid because
    * codes are per-vector (no cross-vector state), the same
    * index-design property q212 certifies for the LSH bands.
    *
    * 100 TB: tombstones are deletion-request-sized — a broadcast
    * anti-join against the pruned codes scan; no re-assignment, no
    * re-encoding, no corpus read. Periodic compaction (q146) folds the
    * tombstones physically. */
  val qIvfPqDeletePropagation: GraftQuery = {
    val lutSql = (0 until PqAnn.subspaces).map { sp =>
      val l = PqAnn.lut(sp).map(PqAnn.sqlNum).mkString("[", ", ", "]")
      s"CAST($l[c$sp + 1] AS DOUBLE)"
    }.mkString("(", " + ", ")")
    GraftQuery(
      "q316_ann_delete_propagation",
      s"""WITH centroids AS (
         |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
         |  WHERE vec_id % ${IvfAnn.fixedStride} = 0),
         |live AS (
         |  SELECT vec_id, embedding FROM embeddings
         |  WHERE vec_id % $vecDeleteModulus <> 0),
         |scored_assign AS (
         |  SELECT e.vec_id, e.embedding, c.cell,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${IvfAnn.cosSql.format("e.embedding", "c.c_emb")} DESC,
         |        c.cell) AS rn
         |  FROM live e CROSS JOIN centroids c),
         |cells AS (
         |  SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
         |probes AS (
         |  SELECT cell FROM (
         |    SELECT cell, row_number() OVER (ORDER BY
         |      list_cosine_similarity(CAST(c_emb AS DOUBLE[]),
         |        CAST(${PqAnn.query.map(PqAnn.sqlNum).mkString("[", ", ", "]")} AS DOUBLE[])) DESC, cell) AS r
         |    FROM centroids) WHERE r <= $nProbe),
         |coded AS (
         |  SELECT m.vec_id, m.embedding, m.cell,
         |    ${(0 until PqAnn.subspaces).map(sp => s"${PqAnn.codeSql(sp)} AS c$sp").mkString(",\n    ")}
         |  FROM cells m JOIN probes p ON m.cell = p.cell),
         |adc AS (
         |  SELECT vec_id, embedding, cell, $lutSql AS adc_dist FROM coded),
         |cand AS (
         |  SELECT * FROM adc ORDER BY adc_dist, vec_id LIMIT $adcCand)
         |SELECT vec_id, cell, adc_dist, ${PqAnn.exactDistSql} AS exact_dist
         |FROM cand
         |ORDER BY exact_dist, vec_id
         |LIMIT $k""".stripMargin) { (s, d) =>
      val emb = Tables.embeddings(s, d)
      val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
      // the index was built over the FULL corpus (memoized with
      // q139); deletes arrive later and must not touch it
      val path = codesSegment(s, d, "full", IvfAnn.assign(emb, centroids))
      val tombstones = emb
        .where(pmod(col("vec_id"), lit(vecDeleteModulus)) === 0)
        .select("vec_id")
      val probes = probeCells(centroids)
      val scan = probedScan(s, path, probes)
        .getOrElse(sys.error("no probed cell has data"))
      val cand = scan
        .join(broadcast(tombstones), Seq("vec_id"), "left_anti")
        .withColumn("adc_dist", PqAnn.fixedLutAdcDist)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(adcCand)
        .collect()
      rerankCollected(s, d, cand)
    }
  }

  /** SERVING RECALL EVAL — the q172-style evaluation for the batch
    * serving tier: per query, how many of the exact brute-force
    * top-k (same squared-L2 metric and tie rule as the re-rank) the
    * probed q303 serve returned. The eval a retrieval tier publishes
    * next to its latency; integer hit counts, ppm recall.
    *
    * Reading the number honestly: at sf0.1 this measures ~0.22 mean
    * recall@10 — the documented artifact of the FIXED oracle codebook
    * (data-oblivious, 8 centroids/subspace; PqAnn's scaladoc records
    * the same gap, 0.07 fixed vs trained at 100k). The q303 family
    * exists to hash-prove the PLAN/layout/serving semantics; the
    * production recall operating point is the TRAINED PQ8x256
    * codebook ScaleBench measures at 0.95 recall@3 on 1M vectors.
    * This query is the harness that would publish that number for
    * any codebook swapped in.
    *
    * 100 TB: the exact side is brute force over the corpus BY
    * DEFINITION, which is why it runs only for the bounded query
    * sample (q172's argument) — eval pays sample × corpus, never
    * corpus × corpus; the approx side is the production q303 plan
    * unchanged. */
  val qBatchServeRecall: GraftQuery = GraftQuery(
    "q324_batch_serve_recall",
    s"""WITH $batchServeCtesSql,
       |served AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY exact_dist, vec_id) AS rank
       |    FROM rr) WHERE rank <= $k),
       |exact_scored AS (
       |  SELECT q.query_id, e.vec_id, $exactPairSql AS ed
       |  FROM queries q CROSS JOIN embeddings e),
       |exactk AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY ed, vec_id) AS r
       |    FROM exact_scored) WHERE r <= $k),
       |hits AS (
       |  SELECT s.query_id, CAST(COUNT(*) AS BIGINT) AS n_hit
       |  FROM served s
       |  JOIN exactk x ON x.query_id = s.query_id AND x.vec_id = s.vec_id
       |  GROUP BY s.query_id)
       |SELECT q.query_id,
       |  CAST(COALESCE(h.n_hit, 0) AS BIGINT) AS n_hit,
       |  CAST(COALESCE(h.n_hit, 0) * 1000000 // $k AS BIGINT) AS recall_ppm
       |FROM queries q LEFT JOIN hits h USING (query_id)
       |ORDER BY query_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.graftshim.TopKByScore
    val emb = Tables.embeddings(s, d)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val path = codesSegment(s, d, "full", IvfAnn.assign(emb, centroids))
    val queries = emb
      .where(pmod(col("vec_id"), lit(batchQueryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val served = batchServe(s, Seq(path), centroids, queries, emb,
        queryCountHint = Some(evalQueryCount(s, d)))
      .select("query_id", "vec_id")
    val exactDist = (0 until PqAnn.dims).map { j =>
      val dd = element_at(col("q_emb"), j + 1).cast("double") -
        element_at(col("embedding"), j + 1).cast("double")
      dd * dd
    }.reduceLeft(_ + _)
    val exactK = emb.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"), exactDist.as("ed"))
      .groupBy("query_id")
      .agg(TopKByScore(-col("ed"), col("vec_id"), k).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
    val hits = served.join(exactK, Seq("query_id", "vec_id"))
      .groupBy("query_id").agg(count(lit(1)).as("n_hit"))
    queries.select("query_id")
      .join(broadcast(hits), Seq("query_id"), "left")
      .select(col("query_id"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        expr(s"coalesce(n_hit, 0) * 1000000 div $k").as("recall_ppm"))
      .orderBy("query_id")
  }

  // ---- recall→nProbe planner (q327/q328) ----

  /** nProbe values the planner tabulates. */
  val plannerSweep: Seq[Int] = Seq(1, 2, 4, 8, 16, 32)

  /** Target recall percentages the policy table answers for. */
  val plannerTargets: Seq[Int] = Seq(50, 80, 90, 95, 99)

  /** Planner eval CTEs, appended after [[indexCtesSql]]: exact top-k
    * ground truth over the bounded query sample, each true neighbor's
    * REACH RANK (the centroid rank of its assigned cell in the
    * query's routing — the minimum nProbe that makes it a candidate),
    * the per-nProbe hit and scanned-rows curves, and the policy
    * selection by exact integer cross-multiplication. */
  private def plannerCtesSql: String =
    s"""exact_scored AS (
       |  SELECT q.query_id, e.vec_id, $exactPairSql AS ed
       |  FROM queries q CROSS JOIN embeddings e),
       |exactk AS (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY ed, vec_id) AS r
       |    FROM exact_scored) WHERE r <= $k),
       |reach AS (
       |  SELECT x.query_id, r.c_rank
       |  FROM exactk x
       |  JOIN cells m ON m.vec_id = x.vec_id
       |  JOIN routed r ON r.query_id = x.query_id AND r.cell = m.cell),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM exactk),
       |sweep AS (
       |  SELECT CAST(p AS INTEGER) AS p
       |  FROM (VALUES ${plannerSweep.map(p => s"($p)").mkString(", ")}) s(p)),
       |curve_hits AS (
       |  SELECT s.p,
       |    CAST(SUM(CASE WHEN r.c_rank <= s.p THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM sweep s CROSS JOIN reach r GROUP BY s.p),
       |census AS (
       |  SELECT cell, CAST(COUNT(*) AS BIGINT) AS cell_n FROM cells GROUP BY cell),
       |routed_cost AS (
       |  SELECT r.query_id, r.c_rank, cn.cell_n
       |  FROM routed r JOIN census cn ON cn.cell = r.cell),
       |curve_cost AS (
       |  SELECT s.p,
       |    CAST(SUM(CASE WHEN rc.c_rank <= s.p THEN rc.cell_n ELSE 0 END) AS BIGINT) AS cost_rows
       |  FROM sweep s CROSS JOIN routed_cost rc GROUP BY s.p),
       |targets AS (
       |  SELECT CAST(t AS INTEGER) AS target
       |  FROM (VALUES ${plannerTargets.map(t => s"($t)").mkString(", ")}) tt(t)),
       |sel AS (
       |  SELECT t.target, MIN(c.p) AS p_ok
       |  FROM targets t JOIN curve_hits c
       |    ON c.hits * 100 >= CAST(t.target AS BIGINT) * (SELECT total FROM tot)
       |  GROUP BY t.target),
       |policy AS (
       |  SELECT t.target, COALESCE(s2.p_ok, ${plannerSweep.max}) AS n_probe,
       |    s2.p_ok IS NOT NULL AS reached
       |  FROM targets t LEFT JOIN sel s2 ON s2.target = t.target)""".stripMargin

  /** RECALL→nPROBE PLANNER — the IVF twin of q178's LSH S-curve
    * planner: instead of re-running the corpus to choose a probe
    * width, the policy table answers "what nProbe buys target recall
    * r, and what fraction of the corpus does it scan" from ONE
    * bounded eval.
    *
    * Semantics: for each true top-k neighbor of each eval query, its
    * REACH RANK is the centroid rank of its assigned cell in that
    * query's routing — the minimum nProbe at which the IVF tier can
    * surface it at all (the routing ceiling every PQ/re-rank stage
    * inherits; this is the number nProbe actually controls). One pass
    * computes recall at EVERY swept nProbe from the reach ranks — no
    * per-nProbe re-search — and the scanned-rows curve comes from the
    * cell census over the same routing. The policy row per target
    * recall is the smallest swept nProbe whose measured recall
    * reaches it (exact integer cross-multiplication; `reached=false`
    * falls back to the sweep max).
    *
    * 100 TB: the eval pays sample × corpus ONCE (the q172/q324
    * argument — recall estimation is brute-force by definition,
    * bounded by the sample); curves and policy are arithmetic over
    * |sweep| + |cells| rows. [[nProbeForRecall]] reads this table;
    * q328 serves with its answer. */
  val qNProbePlanner: GraftQuery = GraftQuery(
    "q327_nprobe_planner",
    s"""WITH $indexCtesSql,
       |$plannerCtesSql
       |SELECT CAST(p.target AS INTEGER) AS target_pct,
       |  CAST(p.n_probe AS INTEGER) AS n_probe, p.reached,
       |  h.hits, (SELECT total FROM tot) AS total,
       |  CAST(h.hits * 1000000 // (SELECT total FROM tot) AS BIGINT) AS recall_ppm,
       |  cc.cost_rows,
       |  CAST(cc.cost_rows * 1000000 //
       |    ((SELECT CAST(COUNT(*) AS BIGINT) FROM queries) *
       |     (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)) AS BIGINT) AS scan_ppm
       |FROM policy p
       |JOIN curve_hits h ON h.p = p.n_probe
       |JOIN curve_cost cc ON cc.p = p.n_probe
       |ORDER BY target_pct""".stripMargin) { (s, d) =>
    plannerPolicy(s, d)
  }

  /** The shared planner eval: per-nProbe hit curve, scanned-rows
    * curve, and the 1-row total/count aggregates — the bounded
    * relations BOTH planner policies (q327 recall-target, q332
    * scan-budget) select from. Every relation here is bounded: |Q|
    * queries, |cells| centroids, |Q|·k reach rows, |sweep| curve
    * rows. */
  /** Memo for the eval curves: the exact |Q|×|corpus| ground-truth
    * pass is the most expensive relation in the planner family and is
    * byte-identical for q327, q328's config lookup, and q332 — build
    * it once per (session, corpus), localCheckpointed so reuse never
    * recomputes (checkpoint RDDs are GC-reclaimed; nothing to
    * release). */
  private val plannerMemo = new graft.spark.SessionMemo[String,
    (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
      org.apache.spark.sql.DataFrame)]("ivfpq.plannerCurves")(_ => ())

  private def plannerCurves(s: org.apache.spark.sql.SparkSession,
      d: String): (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    plannerMemo.getOrElseUpdate(s, d)(buildPlannerCurves(s, d,
      evalQueries(Tables.embeddings(s, d))))

  /** The stride eval-query set behind q303/q327/q332. */
  private def evalQueries(emb: org.apache.spark.sql.DataFrame) =
    emb.where(pmod(col("vec_id"), lit(batchQueryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  /** |evalQueries| per (session, corpus) — the broadcast-gate count
    * serveCandidates needs. Counting it per invocation was one scan
    * job inside every warm serve pass (q303/q309/q324/q328 all gate on
    * the SAME deterministic stride relation); memoized it is batch
    * metadata, passed as `queryCountHint`. The gate DECISION is
    * unchanged — the hint equals the count it replaces. */
  private val evalQueryCountMemo =
    new graft.spark.SessionMemo[String, Long]("ivfpq.evalQueryCount")(_ => ())

  private def evalQueryCount(s: org.apache.spark.sql.SparkSession,
      d: String): Long =
    evalQueryCountMemo.getOrElseUpdate(s, d)(
      evalQueries(Tables.embeddings(s, d)).count())

  private def buildPlannerCurves(s: org.apache.spark.sql.SparkSession,
      d: String, queries: org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.graftshim.{CosineSimilarity, TopKByScore}
    // the eval is |Q|×|corpus| brute force BY DEFINITION and both of
    // its cross joins broadcast the query sample (a driver-side
    // build). That is the design for a BOUNDED eval set — the stride
    // eval, the q340 hash sample — so a data-sized query relation is
    // REFUSED loudly here instead of OOMing the driver mid-build:
    // lower the sample gate or eval in batches. One bounded count per
    // (session, corpus, variant) — the curves are memoized.
    val evalBudget = 100000L
    val nEval = queries.limit(evalBudget.toInt + 1).count()
    require(nEval <= evalBudget,
      s"planner eval sample holds > $evalBudget queries; the exact " +
        "ground-truth pass broadcasts the sample — lower the hash-sample " +
        "gate (plannerSampleGate) or evaluate in batches")
    val emb = Tables.embeddings(s, d)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
      .select(col("cell").cast("long").as("cell"), col("centroid"))
    val cells = IvfAnn.assign(emb, centroids).select("vec_id", "cell")
    // full per-query centroid ranking (|Q| × |cells| — bounded)
    val routed = queries.crossJoin(broadcast(centroids))
      .select(col("query_id"), col("cell"),
        CosineSimilarity(col("q_emb"), col("centroid")).as("c_sim"))
      .withColumn("c_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("c_sim").desc, col("cell"))))
      .select("query_id", "cell", "c_rank")
    val exactDist = (0 until PqAnn.dims).map { j =>
      val dd = element_at(col("q_emb"), j + 1).cast("double") -
        element_at(col("embedding"), j + 1).cast("double")
      dd * dd
    }.reduceLeft(_ + _)
    val exactK = emb.crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"), exactDist.as("ed"))
      .groupBy("query_id")
      .agg(TopKByScore(-col("ed"), col("vec_id"), k).as("top"))
      .select(col("query_id"), explode(col("top.id")).as("vec_id"))
    val reach = exactK.join(cells, "vec_id")
      .join(routed, Seq("query_id", "cell"))
      .select("query_id", "c_rank")
    val tot = exactK.agg(count(lit(1)).as("total"))
    val sweep = plannerSweep.toDF("p")
    val curveHits = broadcast(sweep).crossJoin(reach)
      .groupBy("p")
      .agg(sum(when(col("c_rank") <= col("p"), 1L).otherwise(0L)).as("hits"))
    val census = cells.groupBy("cell").agg(count(lit(1)).as("cell_n"))
    val routedCost = routed.join(broadcast(census), "cell")
      .select(col("c_rank"), col("cell_n"))
    val curveCost = broadcast(sweep).crossJoin(routedCost)
      .groupBy("p")
      .agg(sum(when(col("c_rank") <= col("p"), col("cell_n"))
        .otherwise(0L)).as("cost_rows"))
    val nq = queries.agg(count(lit(1)).as("n_q"))
    val nc = emb.agg(count(lit(1)).as("n_corpus"))
    (curveHits.localCheckpoint(), curveCost.localCheckpoint(),
      tot.localCheckpoint(), nq.localCheckpoint(), nc.localCheckpoint())
  }

  /** The q327 body — also the source [[nProbeForRecall]] collects
    * from. */
  private[graft] def plannerPolicy(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    policyFrom(s, plannerCurves(s, d))

  /** First-hex-digit md5 gate of the q340 hash sample: digits below
    * '4' keep 4/16 = 25% of the query log (the q110 split-gate
    * mechanic — lowercase-hex comparison is numeric comparison). */
  val plannerSampleGate: String = "4"

  private def sampledQueryLog(emb: org.apache.spark.sql.DataFrame) =
    emb.where(
      substring(md5(col("vec_id").cast("string")), 1, 1) < plannerSampleGate)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  private def plannerCurvesSampled(s: org.apache.spark.sql.SparkSession,
      d: String) =
    plannerMemo.getOrElseUpdate(s, d + "#sampled")(buildPlannerCurves(s, d,
      sampledQueryLog(Tables.embeddings(s, d))))

  private[graft] def plannerPolicySampled(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    policyFrom(s, plannerCurvesSampled(s, d))

  /** Uncached recall curve over an arbitrary query set — the spec
    * hook that bounds the sampled estimate against the full-log exact
    * curve. Returns (p, hits, total, recall_ppm) per swept nProbe. */
  private[graft] def recallCurveFor(s: org.apache.spark.sql.SparkSession,
      d: String, queries: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    val (curveHits, _, tot, _, _) = buildPlannerCurves(s, d, queries)
    curveHits.crossJoin(broadcast(tot))
      .select(col("p"), col("hits"), col("total"),
        expr("hits * 1000000 div total").as("recall_ppm"))
      .orderBy("p")
  }

  /** The full query log as an eval set (every embedding) — exact but
    * |log|×|corpus|; what the sampled mode exists to avoid. */
  private[graft] def fullQueryLog(emb: org.apache.spark.sql.DataFrame) =
    emb.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))

  private[graft] def sampledQueries(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    sampledQueryLog(Tables.embeddings(s, d))

  private def policyFrom(s: org.apache.spark.sql.SparkSession,
      curves: (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val (curveHits, curveCost, tot, nq, nc) = curves
    val targets = plannerTargets.toDF("target")
    val sel = targets
      .crossJoin(broadcast(curveHits.crossJoin(broadcast(tot))))
      .where(col("hits") * 100 >= col("target").cast("long") * col("total"))
      .groupBy("target").agg(min(col("p")).as("p_ok"))
    val policy = targets.join(broadcast(sel), Seq("target"), "left")
      .select(col("target"),
        coalesce(col("p_ok"), lit(plannerSweep.max)).as("n_probe"),
        col("p_ok").isNotNull.as("reached"))
    policy
      .join(broadcast(curveHits), col("n_probe") === col("p")).drop("p")
      .join(broadcast(curveCost), col("n_probe") === col("p")).drop("p")
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(nq))
      .crossJoin(broadcast(nc))
      .select(col("target").cast("int").as("target_pct"),
        col("n_probe").cast("int").as("n_probe"),
        col("reached"),
        col("hits").cast("long").as("hits"),
        col("total").cast("long").as("total"),
        expr("hits * 1000000 div total").as("recall_ppm"),
        col("cost_rows").cast("long").as("cost_rows"),
        expr("cost_rows * 1000000 div (n_q * n_corpus)").as("scan_ppm"))
      .orderBy("target_pct")
  }

  /** The collected q327 policy table per (session, corpus) — the
    * planner's SCALAR surface. The curves were already memoized, but a
    * policy LOOKUP still re-ran the small selection job per call
    * (~0.35 s of pure stage latency inside every warm q328 pass, in a
    * per-step timing of the warm serve); the ≤|targets|-row table is index
    * metadata, so collect it once and serve lookups driver-side. */
  private val plannerChoice =
    new graft.spark.SessionMemo[String, Map[Int, Int]](
      "ivfpq.plannerChoice")(_ => ())

  /** The planner's CONFIG FUNCTION: the nProbe the q327 policy table
    * selects for `targetPct` (sweep max with a log-visible fallback
    * when unreachable). One bounded collect of the ≤|targets|-row
    * policy relation per (session, corpus); lookups after that are
    * driver-side map hits. */
  def nProbeForRecall(s: org.apache.spark.sql.SparkSession, d: String,
      targetPct: Int): Int = {
    val byTarget = plannerChoice.getOrElseUpdate(s, d)(
      plannerPolicy(s, d).select("target_pct", "n_probe").collect()
        .map(r => r.getInt(0) -> r.getInt(1)).toMap)
    require(byTarget.contains(targetPct),
      s"target $targetPct% is not in the planner grid $plannerTargets")
    byTarget(targetPct)
  }

  /** Scan budgets (ppm of |Q|·|corpus| rows scanned) the q332 policy
    * answers for: 5%, 20%, 50%. */
  val plannerBudgets: Seq[Int] = Seq(50000, 200000, 500000)

  /** SCAN-BUDGET PLANNER — the DUAL of q327: instead of "what nProbe
    * buys recall r", answer "what recall does a scan budget B buy".
    * Per budget (ppm of |Q|·|corpus| rows the probe tier may touch),
    * the policy picks the LARGEST swept nProbe whose measured scan
    * fraction fits (cost and recall are both monotone in nProbe, so
    * the max feasible probe width maximizes recall); an infeasible
    * budget falls back to the sweep minimum with `feasible=false`.
    * Same one-pass eval as q327 — the two policies are different
    * selections over the SAME measured curves. */
  val qScanBudgetPlanner: GraftQuery = GraftQuery(
    "q332_scan_budget_planner",
    s"""WITH $indexCtesSql,
       |$plannerCtesSql,
       |curve_scan AS (
       |  SELECT cc.p, cc.cost_rows,
       |    CAST(cc.cost_rows * 1000000 //
       |      ((SELECT CAST(COUNT(*) AS BIGINT) FROM queries) *
       |       (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)) AS BIGINT)
       |      AS scan_ppm
       |  FROM curve_cost cc),
       |budgets AS (
       |  SELECT CAST(b AS INTEGER) AS budget_ppm
       |  FROM (VALUES ${plannerBudgets.map(b => s"($b)").mkString(", ")}) bb(b)),
       |selb AS (
       |  SELECT t.budget_ppm, MAX(c.p) AS p_ok
       |  FROM budgets t
       |  JOIN curve_scan c ON c.scan_ppm <= CAST(t.budget_ppm AS BIGINT)
       |  GROUP BY t.budget_ppm),
       |policyb AS (
       |  SELECT t.budget_ppm, COALESCE(s2.p_ok, ${plannerSweep.min}) AS n_probe,
       |    s2.p_ok IS NOT NULL AS feasible
       |  FROM budgets t LEFT JOIN selb s2 ON s2.budget_ppm = t.budget_ppm)
       |SELECT p.budget_ppm, CAST(p.n_probe AS INTEGER) AS n_probe, p.feasible,
       |  h.hits,
       |  CAST(h.hits * 1000000 // (SELECT total FROM tot) AS BIGINT) AS recall_ppm,
       |  cs.cost_rows, cs.scan_ppm
       |FROM policyb p
       |JOIN curve_hits h ON h.p = p.n_probe
       |JOIN curve_scan cs ON cs.p = p.n_probe
       |ORDER BY budget_ppm""".stripMargin) { (s, d) =>
    import s.implicits._
    val (curveHits, curveCost, tot, nq, nc) = plannerCurves(s, d)
    val curveScan = curveCost
      .crossJoin(broadcast(nq)).crossJoin(broadcast(nc))
      .select(col("p"), col("cost_rows"),
        expr("cost_rows * 1000000 div (n_q * n_corpus)").as("scan_ppm"))
    val budgets = plannerBudgets.toDF("budget_ppm")
    val selb = budgets.crossJoin(broadcast(curveScan))
      .where(col("scan_ppm") <= col("budget_ppm").cast("long"))
      .groupBy("budget_ppm").agg(max(col("p")).as("p_ok"))
    budgets.join(broadcast(selb), Seq("budget_ppm"), "left")
      .select(col("budget_ppm"),
        coalesce(col("p_ok"), lit(plannerSweep.min)).as("n_probe"),
        col("p_ok").isNotNull.as("feasible"))
      .join(broadcast(curveHits), col("n_probe") === col("p")).drop("p")
      .join(broadcast(curveScan), col("n_probe") === col("p")).drop("p")
      .crossJoin(broadcast(tot))
      .select(col("budget_ppm").cast("int").as("budget_ppm"),
        col("n_probe").cast("int").as("n_probe"),
        col("feasible"),
        col("hits").cast("long").as("hits"),
        expr("hits * 1000000 div total").as("recall_ppm"),
        col("cost_rows").cast("long").as("cost_rows"),
        col("scan_ppm").cast("long").as("scan_ppm"))
      .orderBy("budget_ppm")
  }

  /** SAMPLED PLANNER EVAL — the production form of q327's ground
    * truth. The exact eval is |Q|×|corpus| by definition (recall needs
    * true neighbors); q327 bounds it with a small STRIDE eval set,
    * which is right for a fixed eval budget but wrong at production
    * query-log scale, where the log itself is data-sized. The sampled
    * mode hash-samples the log (first md5 hex digit below
    * [[plannerSampleGate]] keeps 4/16 — the q110 split-gate mechanic:
    * stateless, reproducible,
    * no coordination) and runs the SAME one-pass reach-rank eval over
    * the sample; the policy table has the same schema and semantics,
    * and IvfAnnSpec bounds the sampled recall curve against the
    * full-log exact curve on the testdata.
    *
    * 100 TB: the eval cost drops from |log|×|corpus| to
    * |sample|×|corpus| with the sample rate a single gate constant;
    * the estimate's error shrinks as 1/√(k·|sample|) — the spec
    * measures it rather than assumes it. */
  val qNProbePlannerSampled: GraftQuery = GraftQuery(
    "q340_nprobe_planner_sampled",
    s"""WITH ${indexCtesSqlWith(
        s"substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) < '$plannerSampleGate'")},
       |$plannerCtesSql
       |SELECT CAST(p.target AS INTEGER) AS target_pct,
       |  CAST(p.n_probe AS INTEGER) AS n_probe, p.reached,
       |  h.hits, (SELECT total FROM tot) AS total,
       |  CAST(h.hits * 1000000 // (SELECT total FROM tot) AS BIGINT) AS recall_ppm,
       |  cc.cost_rows,
       |  CAST(cc.cost_rows * 1000000 //
       |    ((SELECT CAST(COUNT(*) AS BIGINT) FROM queries) *
       |     (SELECT CAST(COUNT(*) AS BIGINT) FROM embeddings)) AS BIGINT) AS scan_ppm
       |FROM policy p
       |JOIN curve_hits h ON h.p = p.n_probe
       |JOIN curve_cost cc ON cc.p = p.n_probe
       |ORDER BY target_pct""".stripMargin) { (s, d) =>
    plannerPolicySampled(s, d)
  }

  /** Serving target recall the planner-driven serve (q328) asks for. */
  val plannedTargetPct = 90

  /** PLANNER-DRIVEN BATCH SERVE — q303's plan with nProbe chosen by
    * [[nProbeForRecall]] (target ${plannedTargetPct}%) instead of a
    * hardcoded constant: the full config loop a production tier runs
    * (measure recall curve → pick probe width → serve). The oracle
    * recomputes the SAME policy selection as a scalar subquery over
    * the q327 CTEs and serves with it, so the hash match proves the
    * planner and the serve COMPOSE — not merely that each is right
    * alone. */
  val qPlannedServe: GraftQuery = GraftQuery(
    "q328_planned_batch_serve",
    s"""WITH $indexCtesSql,
       |$plannerCtesSql,
       |choice AS (SELECT n_probe FROM policy WHERE target = $plannedTargetPct),
       |${serveCtesSql("c_rank <= (SELECT n_probe FROM choice)")}
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, exact_dist
       |FROM (
       |  SELECT query_id, vec_id, exact_dist,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY exact_dist, vec_id) AS rank
       |  FROM rr) WHERE rank <= $k
       |ORDER BY query_id, rank""".stripMargin,
    // headline since r12 (verdict ask): the serve path had no
    // round-over-round headline coverage; q328 is the full production
    // loop (policy read -> planned probe width -> batch serve)
    headline = true) { (s, d) =>
    val p = nProbeForRecall(s, d, plannedTargetPct)
    val emb = Tables.embeddings(s, d)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val path = codesSegment(s, d, "full", IvfAnn.assign(emb, centroids))
    val queries = emb
      .where(pmod(col("vec_id"), lit(batchQueryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    batchServe(s, Seq(path), centroids, queries, emb, probes = p,
      queryCountHint = Some(evalQueryCount(s, d)))
  }

  /** One full PQ serve chain (corpus assignment → query routing →
    * probe gate → pruned coding → ADC candidates → exact re-rank →
    * top-k), every CTE name prefixed with `p`, against the centroid
    * CTE `cents` — the SAME [[assignRouteCtesSql]]/[[serveCtesSql]]
    * builders the q303 family renders with prefix "", so the q362
    * oracle's two conditional chains can never drift from the serve
    * semantics they are supposed to compose with. */
  private def prefixedServeSql(p: String, cents: String): String =
    s"""${assignRouteCtesSql(p, cents)},
       |${serveCtesSql(s"c_rank <= $nProbe", p)},
       |${p}topk AS (
       |  SELECT query_id, CAST(rank AS INTEGER) AS rank, vec_id, exact_dist
       |  FROM (
       |    SELECT query_id, vec_id, exact_dist,
       |      row_number() OVER (PARTITION BY query_id
       |        ORDER BY exact_dist, vec_id) AS rank
       |    FROM ${p}rr) WHERE rank <= $k)""".stripMargin

  /** The q352 decision EXECUTED end to end (one refresh cycle of a
    * production serving tier): evaluate the drift policy, read its
    * global flag ONCE (the q328/q341 bounded-scalar discipline — a
    * boolean per refresh cycle, never per row); on REFRESH, re-assign
    * the corpus under the re-fit centroid sample, PQ re-encode, and
    * rewrite the cell-partitioned segment (the refreshed index
    * artifacts); on KEEP, serve from the existing artifacts. Either
    * way the answer comes from [[batchServe]] reading the chosen
    * segment — by construction hash-equal to serving from an index
    * freshly built with the chosen centroid set (IvfPqSpec pins both
    * branches on planted corpora; ScaleBench records the e2e retrain
    * cost next to the scan savings the refresh buys,
    * m1_refresh_e2e_* vs m1_refresh_scan_x). Returns the decision too
    * so the spec can assert which branch served. */
  /** The refresh DECISION — one boolean per refresh cycle, i.e. per
    * (session, corpus, lifecycle prefix). The q328/q341 bounded-scalar
    * discipline: a policy flag is index metadata read once per cycle,
    * never re-derived per serve call — without the memo every warm
    * serve re-paid the drift census scan plus two centroid collects. */
  private val refreshDecisions =
    new graft.spark.SessionMemo[(String, String), Boolean](
      "ivfpq.refreshDecisions")(_ => ())

  private[graft] def refreshExecutedServe(s: org.apache.spark.sql.SparkSession,
      d: String, emb: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      tagPrefix: String): (Boolean, org.apache.spark.sql.DataFrame) = {
    val persisted = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val refit = IvfAnn.refitSample(emb)
    val refresh = refreshDecisions.getOrElseUpdate(s, (d, tagPrefix)) {
      val decision = IvfAnn.centroidRefreshPolicy(emb, persisted, refit)
        .select("refresh").head(1)
      require(decision.nonEmpty,
        "refresh decision over an empty drift census — the embeddings " +
          "corpus is empty (or fully filtered); there is no index to " +
          "refresh or serve")
      decision(0).getBoolean(0)
    }
    val centroids = if (refresh) refit else persisted
    val tag = tagPrefix + (if (refresh) "refreshed" else "base")
    val path = codesSegment(s, d, tag, IvfAnn.assign(emb, centroids))
    (refresh, batchServe(s, Seq(path), centroids, queries, emb))
  }

  /** REFRESH EXECUTED — q352 decides WHEN to retrain; this operator
    * (the round-11 verdict's ask) carries the decision through the
    * full cycle the q342 compaction discipline set: decision →
    * coarse re-fit → PQ re-encode → cell-partitioned segment rewrite
    * → batch serve reading the refreshed artifacts. The ORACLE states
    * both serves (stale-index and refreshed-index chains, prefixed)
    * plus the drift census and decision, and selects the served
    * branch by the decision scalar — the hash match proves the policy
    * and the serve COMPOSE: the answer is exactly what a fresh-built
    * index under the decision's centroid set would serve.
    *
    * 100 TB: the execution is one assignment+encode pass over the
    * corpus and a partitioned write — the same job that built the
    * index, paid once per refresh cycle and amortized over every
    * serve until the next drift (ScaleBench's refresh scenario
    * records m1_refresh_e2e_reencode_sec against the per-query scan
    * inflation m1_refresh_scan_x that NOT refreshing costs). */
  val qRefreshExecuted: GraftQuery = GraftQuery(
    "q362_refresh_executed_serve",
    s"""WITH queries AS (
       |  SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings
       |  WHERE vec_id % $batchQueryMod = 0),
       |pc AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % ${IvfAnn.fixedStride} = 0),
       |rc AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % ${IvfAnn.fixedStride} = 0
       |     OR vec_id % ${IvfAnn.fixedStride} = ${IvfAnn.fixedStride - 1}),
       |${prefixedServeSql("b", "pc")},
       |${prefixedServeSql("r", "rc")},
       |census AS (
       |  SELECT b.cell, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(CASE WHEN b.cell <> r.cell THEN 1 ELSE 0 END) AS BIGINT)
       |      AS n_moved
       |  FROM bcells b JOIN rcells r ON b.vec_id = r.vec_id
       |  GROUP BY b.cell),
       |decide AS (
       |  SELECT SUM(n_moved) * ${IvfAnn.refreshDenom} >= SUM(n_rows) AS refresh
       |  FROM census)
       |SELECT query_id, rank, vec_id, exact_dist FROM rtopk
       |WHERE (SELECT refresh FROM decide)
       |UNION ALL
       |SELECT query_id, rank, vec_id, exact_dist FROM btopk
       |WHERE NOT (SELECT refresh FROM decide)
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val queries = emb
      .where(pmod(col("vec_id"), lit(batchQueryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    refreshExecutedServe(s, d, emb, queries, "e2e_")._2
  }

  def all: Seq[GraftQuery] =
    Seq(qIvfPqTopK, qIvfPqPartitioned, qIvfPqIncremental, qIvfPqCompacted,
      qIvfPqBatchServe, qIvfPqBatchServeSegmented, qIvfPqDeletePropagation,
      qBatchServeRecall, qNProbePlanner, qPlannedServe, qScanBudgetPlanner,
      qNProbePlannerSampled, qRefreshExecuted)
}
