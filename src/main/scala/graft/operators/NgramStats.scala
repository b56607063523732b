package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Corpus n-gram statistics for LLM-data curation: n-gram language-
  * model fluency scoring (the CCNet-style "does this look like the
  * reference corpus" filter) and duplicated-n-gram span detection
  * (the substring-level dedup signal of Lee et al., "Deduplicating
  * Training Data Makes Language Models Better" — document-level dedup
  * misses the boilerplate that repeats INSIDE otherwise-unique docs).
  *
  * Both are log-free by design, like q63's rational tf-idf: ln() is
  * not bit-specified across libm implementations, so instead of
  * log-perplexity the fluency score is the pooled smoothed
  * conditional probability — integer count sums (exact at any
  * parallelism) and ONE correctly-rounded double division at the end.
  * Same ranking semantics as perplexity for filtering (monotone in
  * the evidence), engine-stable to the last bit.
  *
  * The building-block relations (scored counts, span counts, vocab)
  * are exposed to the curation funnel (q119), which re-applies them
  * as pure-integer gates.
  *
  * 100 TB scale notes:
  *  - The LM relations (bigram counts, context counts) are
  *    Zipf-compact relative to the token stream; the score join is
  *    token-stream × compact-vocabulary — the same physics as q63's
  *    tf×df join, never doc × doc. Context counts DERIVE from the
  *    bigram counts (one token-explosion pass, not two).
  *  - The vocabulary size is a single aggregated row cross-joined in
  *    (the q63/q89/q113 bounded-broadcast shape).
  *  - Duplicated-span counts are one hash aggregate over the exploded
  *    5-gram stream plus a re-join on the gram key; partial (map-side)
  *    aggregation collapses within-partition repeats before the
  *    exchange, so boilerplate — the very thing being measured —
  *    SHRINKS the shuffle rather than skewing it.
  */
object NgramStats {

  /** Tokenized per-corpus index — (doc_id, lang, content_md5, t) —
    * persisted per (session, corpus) like Dedup.indexedShingleSets:
    * the LM relations, the span stats, the vocabulary, and the
    * funnel's exact-dedup key are all separate consumers of the same
    * token stream, and without the index each one re-scans and
    * re-tokenizes the corpus (q115 planned 3 full scans, q119 6). A
    * production pipeline materializes this once next to the corpus. */
  private val docToksIndex =
    new graft.spark.SessionMemo[String, DataFrame](
      "ngramstats.doctoks")(_.unpersist(): Unit)

  private[operators] def indexedDocToks(spark: SparkSession, sfDir: String): DataFrame =
    docToksIndex.getOrElseUpdate(spark, sfDir)(
      Tables.documents(spark, sfDir).repartition(32)
        .select(col("doc_id"), col("lang"),
          md5(lower(col("text"))).as("content_md5"),
          split(lower(col("text")), " ").as("t"))
        .persist())

  /** (doc_id, w1, w2) adjacent-token pairs; docs with <2 tokens yield
    * no rows (sequence() would need a guard — same q64 footgun). */
  private[operators] def bigrams(toksDf: DataFrame): DataFrame =
    toksDf.where(size(col("t")) >= 2)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 1)).as("i"), col("t"))
      .select(col("doc_id"),
        element_at(col("t"), col("i")).as("w1"),
        element_at(col("t"), col("i") + 1).as("w2"))

  private[operators] val bigSql: String =
    """SELECT doc_id, t[i] AS w1, t[i+1] AS w2
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i
      |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
      |              FROM documents))""".stripMargin

  /** The LM-scoring CTE chain shared by q115 and q119: per-document
    * exact counts (n_bigrams, n_hit, sum_cb, sum_c1) against the
    * even-doc_id-trained bigram model. */
  private[operators] val lmScoredSql: String =
    s"""big AS (
       |  $bigSql),
       |lm_big AS (
       |  SELECT w1, w2, count(*) AS cb FROM big
       |  WHERE doc_id % 2 = 0 GROUP BY w1, w2),
       |lm_ctx AS (
       |  SELECT w1, CAST(sum(cb) AS BIGINT) AS c1 FROM lm_big GROUP BY w1),
       |vocab AS (
       |  SELECT count(DISTINCT tok) AS v
       |  FROM (SELECT unnest(string_split(lower(text), ' ')) AS tok
       |        FROM documents WHERE doc_id % 2 = 0)),
       |scored AS (
       |  SELECT b.doc_id,
       |    CAST(count(*) AS INTEGER) AS n_bigrams,
       |    CAST(count(*) FILTER (lb.cb IS NOT NULL) AS INTEGER) AS n_hit,
       |    CAST(sum(COALESCE(lb.cb, 0)) AS BIGINT) AS sum_cb,
       |    CAST(sum(COALESCE(lc.c1, 0)) AS BIGINT) AS sum_c1
       |  FROM big b
       |  LEFT JOIN lm_big lb ON b.w1 = lb.w1 AND b.w2 = lb.w2
       |  LEFT JOIN lm_ctx lc ON b.w1 = lc.w1
       |  GROUP BY b.doc_id)""".stripMargin

  /** 1-row LM vocabulary size over the even-doc_id training half. */
  private[operators] def lmVocab(toksDf: DataFrame): DataFrame =
    toksDf.where(col("doc_id") % 2 === 0)
      .select(explode(col("t")).as("tok"))
      .agg(countDistinct(col("tok")).as("v"))

  /** Per-document exact LM evidence counts (Spark mirror of
    * [[lmScoredSql]]'s `scored` CTE). */
  private[operators] def lmScoredCounts(toksDf: DataFrame): DataFrame = {
    val big = bigrams(toksDf)
    val lmBig = big.where(col("doc_id") % 2 === 0)
      .groupBy("w1", "w2").agg(count(lit(1)).as("cb"))
    // context counts derive from the bigram counts — the q63 trick:
    // the token explosion is aggregated once, never re-scanned
    val lmCtx = lmBig.groupBy("w1").agg(sum("cb").as("c1"))
    big
      .join(lmBig, Seq("w1", "w2"), "left")
      .join(lmCtx, Seq("w1"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_bigrams"),
        count(col("cb")).cast("int").as("n_hit"),
        sum(coalesce(col("cb"), lit(0L))).as("sum_cb"),
        sum(coalesce(col("c1"), lit(0L))).as("sum_c1"))
  }

  /** Bigram-LM fluency scoring, CCNet-style: train an add-one-smoothed
    * bigram model on the even-doc_id half of the corpus, score every
    * document (with ≥1 bigram) by pooled smoothed conditional
    * probability (Σcb + n) / (Σc1 + n·V) plus its model hit rate.
    * Training on a deterministic hash-half (not the whole corpus)
    * keeps the score honest: unseen text pays the smoothing floor. */
  val qLmFluency: GraftQuery = GraftQuery(
    "q115_lm_fluency",
    s"""WITH $lmScoredSql
       |SELECT doc_id, n_bigrams, n_hit, sum_cb, sum_c1,
       |  CAST(sum_cb + n_bigrams AS DOUBLE)
       |    / CAST(sum_c1 + n_bigrams * v AS DOUBLE) AS fluency,
       |  CAST(n_hit AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS hit_rate
       |FROM scored CROSS JOIN vocab
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val tk = indexedDocToks(s, d)
    lmScoredCounts(tk)
      .crossJoin(broadcast(lmVocab(tk)))
      .select(col("doc_id"), col("n_bigrams"), col("n_hit"),
        col("sum_cb"), col("sum_c1"),
        ((col("sum_cb") + col("n_bigrams")).cast("double")
          / (col("sum_c1") + col("n_bigrams") * col("v")).cast("double"))
          .as("fluency"),
        (col("n_hit").cast("double") / col("n_bigrams").cast("double"))
          .as("hit_rate"))
      .orderBy("doc_id")
  }

  /** The per-document 5-gram stream CTE (shared by q117/q119/q158). */
  private[operators] val gramsCteSql: String =
    """grams AS (
      |  SELECT doc_id,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
      |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
      |              FROM documents)))""".stripMargin

  /** The duplicated-5-gram CTE chain shared by q117 and q119:
    * per-document gram totals and corpus-duplicated gram counts. */
  private[operators] val dupSpanSql: String =
    s"""$gramsCteSql,
      |gram_counts AS (
      |  SELECT g, count(*) AS n FROM grams GROUP BY g),
      |span_stats AS (
      |  SELECT doc_id,
      |    CAST(count(*) AS INTEGER) AS n_grams,
      |    CAST(count(*) FILTER (c.n >= 2) AS INTEGER) AS n_dup
      |  FROM grams JOIN gram_counts c USING (g)
      |  GROUP BY doc_id)""".stripMargin

  /** Positional 5-gram stream CTE — [[gramsCteSql]] plus the start
    * position and the doc's token count (q223's interval grain). */
  private[operators] val gramsPosCteSql: String =
    """grams_pos AS (
      |  SELECT doc_id, CAST(len(t) AS INTEGER) AS n_tokens, CAST(i AS INTEGER) AS i,
      |    t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4] AS g
      |  FROM (SELECT doc_id, t, unnest(range(1, len(t) - 3)) AS i
      |        FROM (SELECT doc_id, string_split(lower(text), ' ') AS t
      |              FROM documents)))""".stripMargin

  /** (doc_id, n_tokens, i, g) positional 5-gram stream — Spark mirror
    * of [[gramsPosCteSql]]. */
  private[operators] def gramPosStream(toksDf: DataFrame): DataFrame =
    toksDf.where(size(col("t")) >= 5)
      .select(col("doc_id"), size(col("t")).as("n_tokens"),
        explode(sequence(lit(1), size(col("t")) - 4)).as("i"), col("t"))
      .select(col("doc_id"), col("n_tokens"), col("i"),
        concat_ws(" ", slice(col("t"), col("i"), lit(5))).as("g"))

  /** (doc_id, g) 5-gram stream; docs with <5 tokens yield no rows. */
  private[operators] def gramStream(toksDf: DataFrame): DataFrame =
    toksDf.where(size(col("t")) >= 5)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 4)).as("i"), col("t"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("t"), col("i"), lit(5))).as("g"))

  /** Per-document (n_grams, n_dup) — Spark mirror of [[dupSpanSql]]'s
    * `span_stats` CTE. The corpus count each gram position compares
    * against is a window count over the gram key, not a self-join of
    * the stream against its own census: count(*) OVER (PARTITION BY g)
    * is definitionally the census count, the explode pipeline
    * evaluates ONCE instead of twice, and the stream moves through one
    * gram-keyed exchange instead of [exchange + census broadcast] —
    * the broadcast form collects the distinct-gram census to the
    * driver, which cannot exist at 100 TB. */
  private[operators] def dupSpanCounts(toksDf: DataFrame): DataFrame =
    gramStream(toksDf)
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(
        count(lit(1)).cast("int").as("n_grams"),
        count(when(col("n") >= 2, 1)).cast("int").as("n_dup"))

  /** Duplicated 5-gram span statistics: for every document (with ≥5
    * tokens), the fraction of its 5-gram positions whose gram occurs
    * ≥2 times corpus-wide — high dup_frac flags boilerplate-heavy
    * documents that exact/MinHash document-level dedup keeps. */
  val qDupNgramSpans: GraftQuery = GraftQuery(
    "q117_dup_ngram_spans",
    s"""WITH $dupSpanSql
       |SELECT doc_id, n_grams, n_dup,
       |  CAST(n_dup AS DOUBLE) / CAST(n_grams AS DOUBLE) AS dup_frac
       |FROM span_stats
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    dupSpanCounts(indexedDocToks(s, d))
      .select(col("doc_id"), col("n_grams"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_grams").cast("double"))
          .as("dup_frac"))
      .orderBy("doc_id")
  }

  /** N-GRAM NOVELTY: each document's marginal contribution in arrival
    * order — the fraction of its 5-gram positions whose gram FIRST
    * appears in this document (first-seen = min doc_id corpus-wide; a
    * doc's own repeats of a gram it introduced still count as novel).
    * Low-novelty late arrivals are redundancy that document-level
    * dedup misses (they can be pairwise-dissimilar to every single
    * predecessor yet contribute nothing new) — the data-pruning
    * signal of the "novel-content" family (D4 / SemDeDup motivation,
    * at the exact n-gram grain rather than embedding space).
    *
    * 100 TB: same physics as q117/q149 — the gram stream joins the
    * compact first-seen relation (one min-aggregate, Zipf-small
    * relative to the token stream) on the gram key; production swaps
    * the raw gram string for its md5 fingerprint (q149's fixed-width
    * convention) and everything stays gram-key equi-partitioned,
    * never doc × doc. */
  val qNoveltyScores: GraftQuery = GraftQuery(
    "q158_novelty_scores",
    s"""WITH $gramsCteSql,
       |first_seen AS (
       |  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
       |SELECT doc_id,
       |  CAST(count(*) AS INTEGER) AS n_grams,
       |  CAST(count(*) FILTER (f.first_doc = grams.doc_id) AS INTEGER) AS n_novel,
       |  CAST(count(*) FILTER (f.first_doc = grams.doc_id) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS novelty_frac
       |FROM grams JOIN first_seen f USING (g)
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // first-seen = min(doc_id) OVER (PARTITION BY g): same values as
    // joining the min-aggregate census back onto the stream, with one
    // explode evaluation and one exchange (the dupSpanCounts note)
    gramStream(indexedDocToks(s, d))
      .withColumn("first_doc", min("doc_id").over(
        org.apache.spark.sql.expressions.Window.partitionBy("g")))
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).cast("int").as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty_frac"))
      .orderBy("doc_id")
  }

  /** Corpus-side first-seen index for incremental novelty (q159):
    * min doc_id per 5-gram over the EXISTING corpus (doc_id % 5 ≠ 4,
    * the q130/q140 batch convention), built once per (session,
    * corpus) and reused across arriving batches. */
  private val firstSeenIdx =
    new graft.spark.SessionMemo[String, DataFrame](
      "ngramstats.firstseen")(_.unpersist(): Unit)

  private[graft] val firstSeenBuilds = new java.util.concurrent.atomic.AtomicInteger

  private[graft] def indexedFirstSeen(spark: SparkSession, sfDir: String): DataFrame =
    firstSeenIdx.getOrElseUpdate(spark, sfDir) {
      firstSeenBuilds.incrementAndGet()
      gramStream(indexedDocToks(spark, sfDir)
          .where(ValueTier.fixtureCorpusFilter))
        .groupBy("g").agg(min("doc_id").as("first_corpus"))
        .persist()
    }

  /** INCREMENTAL NOVELTY: q158's score for an ARRIVING batch
    * (doc_id % 5 = 4) computed against the persisted corpus index —
    * never re-deriving the corpus gram stream. Global first-seen =
    * least(corpus index min, within-batch min): doc_ids partition
    * into the two sides, so the min-merge is EXACTLY the full
    * recompute's min — the oracle is q158's SQL restricted to batch
    * docs, and the hash match proves incremental ≡ recompute (the
    * q130/q140 proof pattern, applied to the novelty gate).
    *
    * 100 TB: only the batch explodes into grams; the corpus
    * contributes the once-built, gram-keyed compact index (Zipf-small
    * vs the token stream, and bucketed by gram fingerprint in a
    * production layout so every batch join co-locates — the q130
    * persisted-stats discipline). */
  val qIncrementalNovelty: GraftQuery = GraftQuery(
    "q159_incremental_novelty",
    s"""WITH $gramsCteSql,
       |first_seen AS (
       |  SELECT g, min(doc_id) AS first_doc FROM grams GROUP BY g)
       |SELECT doc_id,
       |  CAST(count(*) AS INTEGER) AS n_grams,
       |  CAST(count(*) FILTER (f.first_doc = grams.doc_id) AS INTEGER) AS n_novel,
       |  CAST(count(*) FILTER (f.first_doc = grams.doc_id) AS DOUBLE)
       |    / CAST(count(*) AS DOUBLE) AS novelty_frac
       |FROM grams JOIN first_seen f USING (g)
       |WHERE grams.doc_id % 5 = 4
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val bg = gramStream(indexedDocToks(s, d)
      .where(!ValueTier.fixtureCorpusFilter))
    val batchFirst = bg.groupBy("g").agg(min("doc_id").as("first_batch"))
    // least() skips NULLs: a gram unseen by the corpus keeps its batch min
    val globalFirst = batchFirst
      .join(indexedFirstSeen(s, d), Seq("g"), "left")
      .select(col("g"),
        least(col("first_batch"), col("first_corpus")).as("first_doc"))
    bg.join(globalFirst, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).cast("int").as("n_grams"),
        count(when(col("first_doc") === col("doc_id"), 1)).cast("int").as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_grams").cast("double"))
          .as("novelty_frac"))
      .orderBy("doc_id")
  }

  def all: Seq[GraftQuery] =
    Seq(qLmFluency, qDupNgramSpans, qNoveltyScores, qIncrementalNovelty)
}
