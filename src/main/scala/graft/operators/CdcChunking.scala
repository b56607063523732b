package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** CONTENT-DEFINED CHUNKING (the rsync/LBFS/FastCDC idea): chunk
  * boundaries are chosen by the CONTENT — position i ends a chunk iff
  * the hash of the w-char window ending at i satisfies
  * `H mod D == 0` — so an insertion or deletion shifts only the chunk
  * it lands in and the cutter RESYNCS at the next content-defined
  * boundary. Fixed-offset windows (q122's 200-cp/stride-150 chunks)
  * lose ALL chunk identity after a one-character prefix edit; CDC
  * chunks keep every chunk md5 past the first resync point — the
  * property that makes chunk-grain dedup robust to the edits real
  * crawls are full of (banners injected, headers shifted, bylines
  * prepended). CdcChunkingSpec plants exactly that A/B.
  *
  * Boundary rule here: w = 8, the window hash is the first 8 hex
  * chars of md5(window) as an integer, cut iff ≡ 0 (mod 64) — an
  * expected chunk length of ~64 chars with no minimum-length state,
  * so every position's verdict is INDEPENDENT (memoryless), which is
  * what keeps the operator declarative and embarrassingly parallel:
  * no sequential scan, no per-doc state, boundaries computable inside
  * the row's own projection.
  *
  * 100 TB: the whole operator is a per-row array pipeline fused into
  * the scan — zero exchanges for chunking itself; the dedup census
  * (q308) shuffles 16-byte chunk hashes only, never text (the q26
  * physics at chunk grain). An md5 per position is the ORACLE-PORTABLE
  * spelling; a production cutter swaps in a fused rolling-hash
  * (gear/Rabin-Karp) codegen Expression with the identical
  * boundary SEMANTICS — the census and downstream dedup are
  * hash-checked against this definition either way.
  */
object CdcChunking {

  /** Window width (chars) and the boundary modulus (expected chunk
    * length). */
  val w = 8
  val modD = 64

  /** Ordered chunk-boundary array for a text column: 0, every
    * content-defined cut, and len — distinct and ascending. The
    * production form is the fused one-pass
    * [[org.apache.spark.sql.graftshim.CdcBounds]] expression
    * (measured 8.8× over the composed pipeline, whose per-position
    * substring/hex-digest/conv allocations run interpreted inside
    * HOF lambdas); [[boundsColComposed]] stays as the built-ins
    * baseline the fused form must match element-for-element
    * (CdcChunkingSpec). */
  private def boundsCol(text: Column): Column =
    org.apache.spark.sql.graftshim.CdcBounds(text, w, modD)

  private[graft] def boundsColComposed(text: Column): Column = {
    val cuts = filter(
      when(length(text) >= w, sequence(lit(w), length(text)))
        .otherwise(array().cast("array<int>")),
      i => conv(substring(md5(text.substr(i - lit(w - 1), lit(w))), 1, 8), 16, 10)
        .cast("long") % modD === 0)
    sort_array(array_distinct(concat(
      array(lit(0)), cuts, array(length(text)))))
  }

  private[graft] def boundsColFused(text: Column): Column =
    org.apache.spark.sql.graftshim.CdcBounds(text, w, modD)

  /** (doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5) — the CDC
    * mirror of q122's fixed-window chunk relation. */
  private[graft] def cdcChunks(docs: DataFrame): DataFrame =
    docs
      .where(length(col("text")) >= 1)
      .select(col("doc_id"), col("text"), boundsCol(col("text")).as("bs"))
      .select(col("doc_id"), col("text"), col("bs"),
        explode(sequence(lit(1), size(col("bs")) - 1)).as("i"))
      .select(col("doc_id"),
        col("i").cast("int").as("chunk_idx"),
        (element_at(col("bs"), col("i")) + 1).cast("int").as("chunk_start"),
        (element_at(col("bs"), col("i") + 1) - element_at(col("bs"), col("i")))
          .cast("int").as("chunk_len"),
        md5(col("text").substr(
          (element_at(col("bs"), col("i")) + 1).cast("int"),
          (element_at(col("bs"), col("i") + 1) - element_at(col("bs"), col("i")))
            .cast("int"))).as("chunk_md5"))

  /** The chunks CTE shared by q307/q308/q311 — from-scratch DuckDB
    * rebuild of the boundary rule and chunk extraction, parameterized
    * by a CTE-name prefix and an extra doc filter so two document
    * slices can be chunked in one statement. */
  private def cdcChunksCteSqlFor(p: String, extraWhere: String): String =
    s"""${p}cuts AS (
       |  SELECT doc_id, text,
       |    list_filter(range($w, length(text) + 1),
       |      i -> CAST('0x' || substring(md5(substring(text,
       |             CAST(i - ${w - 1} AS INTEGER), $w)), 1, 8) AS BIGINT)
       |           % $modD = 0) AS cs
       |  FROM documents WHERE length(text) >= 1 $extraWhere),
       |${p}bounds AS (
       |  SELECT doc_id, text,
       |    list_sort(list_distinct(
       |      list_concat(list_concat([0], cs), [length(text)]))) AS bs
       |  FROM ${p}cuts),
       |${p}chunks AS (
       |  SELECT doc_id, CAST(i AS INTEGER) AS chunk_idx,
       |    CAST(bs[CAST(i AS INTEGER)] + 1 AS INTEGER) AS chunk_start,
       |    CAST(bs[CAST(i AS INTEGER) + 1] - bs[CAST(i AS INTEGER)] AS INTEGER) AS chunk_len,
       |    md5(substring(text, CAST(bs[CAST(i AS INTEGER)] + 1 AS INTEGER),
       |      CAST(bs[CAST(i AS INTEGER) + 1] - bs[CAST(i AS INTEGER)] AS INTEGER))) AS chunk_md5
       |  FROM (SELECT doc_id, text, bs, unnest(range(1, len(bs))) AS i
       |        FROM ${p}bounds))""".stripMargin

  private val cdcChunksCteSql: String = cdcChunksCteSqlFor("", "")

  /** Per-doc CDC chunk table — the edit-robust counterpart of q122. */
  val qCdcChunks: GraftQuery = GraftQuery(
    "q307_cdc_chunks",
    s"""WITH $cdcChunksCteSql
       |SELECT doc_id, chunk_idx, chunk_start, chunk_len, chunk_md5
       |FROM chunks
       |ORDER BY doc_id, chunk_idx""".stripMargin) { (s, d) =>
    cdcChunks(Tables.documents(s, d))
      .orderBy("doc_id", "chunk_idx")
  }

  /** Chunk-grain dedup census over CDC chunks: every chunk hash seen
    * more than once across the corpus — the repeated-boilerplate
    * detector robust to the edits that defeat fixed-window chunk
    * hashes. One 16-byte-key shuffle; text never moves. */
  val qCdcDedup: GraftQuery = GraftQuery(
    "q308_cdc_dedup",
    s"""WITH $cdcChunksCteSql
       |SELECT chunk_md5,
       |  CAST(COUNT(*) AS BIGINT) AS n_occurrences,
       |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  MIN(doc_id) AS min_doc,
       |  CAST(MAX(chunk_len) AS INTEGER) AS chunk_len
       |FROM chunks
       |GROUP BY chunk_md5
       |HAVING COUNT(*) > 1
       |ORDER BY chunk_md5""".stripMargin) { (s, d) =>
    cdcChunks(Tables.documents(s, d))
      .groupBy("chunk_md5")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("min_doc"),
        max(col("chunk_len")).as("chunk_len"))
      .where(col("n_occurrences") > 1)
      .orderBy("chunk_md5")
  }

  /** Per-(session, corpus) persisted index of the CORPUS side's
    * distinct chunk hashes (docs outside the %5==4 batch — the q130
    * batch convention): built once, reused by every arriving batch.
    * 16-byte keys only; text never persists. */
  private val corpusChunkIndex =
    new graft.spark.SessionMemo[String, DataFrame](
      "cdc.corpuschunks")(_.unpersist(): Unit)

  private def corpusChunkHashes(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame =
    corpusChunkIndex.getOrElseUpdate(s, d)(
      cdcChunks(Tables.documents(s, d)
        .where(ValueTier.fixtureCorpusFilter))
        .select("chunk_md5").distinct().persist())

  /** CDC BATCH-vs-CORPUS — the ingest-time boilerplate detector: each
    * arriving batch doc (doc_id % 5 == 4) is CDC-chunked and its
    * chunk hashes probed against the persisted corpus chunk index;
    * the per-doc known-chunk fraction (integer ppm) is the admission
    * signal ("this page is 90% chunks we already have"). Because the
    * chunks are content-defined, the signal survives the banner/
    * byline edits that zero fixed-window overlap (the
    * CdcChunkingSpec A/B).
    *
    * 100 TB: the corpus side is chunked ONCE into a persisted
    * 16-byte-key index (the q94 pattern at chunk grain); per batch,
    * cost is chunking the batch + one hash equi-join — independent of
    * corpus growth. The oracle rebuilds both sides from scratch. */
  val qCdcBatchVsCorpus: GraftQuery = GraftQuery(
    "q311_cdc_batch_vs_corpus",
    s"""WITH ${cdcChunksCteSqlFor("b", "AND doc_id % 5 = 4")},
       |${cdcChunksCteSqlFor("c", "AND doc_id % 5 <> 4")},
       |hits AS (
       |  SELECT b.doc_id, b.chunk_md5,
       |    CASE WHEN c.chunk_md5 IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM bchunks b
       |  LEFT JOIN (SELECT DISTINCT chunk_md5 FROM cchunks) c
       |    ON b.chunk_md5 = c.chunk_md5)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
       |  CAST(SUM(hit) AS BIGINT) AS n_known,
       |  CAST(SUM(hit) * 1000000 // COUNT(*) AS BIGINT) AS known_ppm
       |FROM hits
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val batch = cdcChunks(Tables.documents(s, d)
      .where(!ValueTier.fixtureCorpusFilter))
    batch
      .join(corpusChunkHashes(s, d).withColumn("hit", lit(1L)),
        Seq("chunk_md5"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        sum(coalesce(col("hit"), lit(0L))).as("n_known"))
      .select(col("doc_id"), col("n_chunks"), col("n_known"),
        expr("n_known * 1000000 div n_chunks").as("known_ppm"))
      .orderBy("doc_id")
  }

  /** CDC PAIR CANDIDATES — near-dup detection through shared
    * content-defined chunks, the storage-dedup mechanism (FastCDC/
    * backup systems) applied to corpus curation: two docs sharing ≥ 2
    * chunk hashes are candidates, scored by how much of EACH side's
    * length the shared chunks cover (integer ppm per side — the
    * asymmetric containment signal, byte-grounded instead of
    * shingle-estimated). Complements MinHash (q28: jaccard-tuned,
    * probabilistic) and chunk banding (q305): CDC pairs are exact on
    * shared SPANS and survive arbitrary edits between them.
    *
    * 100 TB: one equi-join on 16-byte chunk hashes restricted to DUP
    * hashes only (the census gate runs first, so unique chunks — the
    * overwhelming mass — never enter the join); per-pair stats are
    * one aggregate. A boilerplate chunk shared by m docs contributes
    * m²/2 pairs — the q27 bucket-flood shape — so the same oversize
    * guard applies; at the tested SFs buckets are tiny (the census is
    * the observability surface). */
  val qCdcPairs: GraftQuery = GraftQuery(
    "q323_cdc_pair_candidates",
    s"""WITH $cdcChunksCteSql,
       |dup AS (
       |  SELECT chunk_md5 FROM chunks
       |  GROUP BY chunk_md5 HAVING COUNT(*) > 1),
       |dchunks AS (
       |  SELECT c.doc_id, c.chunk_md5, c.chunk_len
       |  FROM chunks c JOIN dup d USING (chunk_md5)),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(COUNT(*) AS BIGINT) AS n_shared,
       |    CAST(SUM(a.chunk_len) AS BIGINT) AS shared_len
       |  FROM dchunks a JOIN dchunks b
       |    ON a.chunk_md5 = b.chunk_md5 AND a.doc_id < b.doc_id
       |  GROUP BY a.doc_id, b.doc_id
       |  HAVING COUNT(*) >= 2),
       |lens AS (SELECT doc_id, length(text) AS len FROM documents)
       |SELECT p.doc_a, p.doc_b, p.n_shared, p.shared_len,
       |  CAST(la.len AS BIGINT) AS len_a, CAST(lb.len AS BIGINT) AS len_b,
       |  CAST(p.shared_len * 1000000 // la.len AS BIGINT) AS cover_a_ppm,
       |  CAST(p.shared_len * 1000000 // lb.len AS BIGINT) AS cover_b_ppm
       |FROM pairs p
       |JOIN lens la ON la.doc_id = p.doc_a
       |JOIN lens lb ON lb.doc_id = p.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // NOTE(r14): a localCheckpoint barrier on `chunks` (the CDC
    // featurize appears 4× in the plan: census gate + both self-join
    // sides) measured FLAT (1.15 → 1.18 s isolated at sf0.1) — the
    // four Generate pipelines overlap as parallel stages and the
    // featurize is cheap per the q302 calibration. Left duplicated.
    val chunks = cdcChunks(Tables.documents(s, d))
      .select("doc_id", "chunk_md5", "chunk_len")
    val dup = chunks.groupBy("chunk_md5").agg(count(lit(1)).as("n"))
      .where(col("n") > 1).select("chunk_md5")
    val dchunks = chunks.join(dup, "chunk_md5")
    val pairs = dchunks.as("a").join(dchunks.as("b"),
        col("a.chunk_md5") === col("b.chunk_md5") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"),
        sum(col("a.chunk_len")).as("shared_len"))
      .where(col("n_shared") >= 2)
    val lens = Tables.documents(s, d)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
    pairs
      .join(lens.toDF("doc_a", "len_a"), "doc_a")
      .join(lens.toDF("doc_b", "len_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("n_shared"), col("shared_len"),
        col("len_a"), col("len_b"),
        expr("shared_len * 1000000 div len_a").as("cover_a_ppm"),
        expr("shared_len * 1000000 div len_b").as("cover_b_ppm"))
      .orderBy("doc_a", "doc_b")
  }

  def all: Seq[GraftQuery] = Seq(qCdcChunks, qCdcDedup, qCdcBatchVsCorpus, qCdcPairs)
}
