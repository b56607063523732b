package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** SIZE-TIERED COMPACTION POLICY — the DECISION operator the segment
  * lifecycle was missing: q140 appends delta segments, q146 folds
  * them on demand; this answers WHEN to fold, from the segment-size
  * census alone (the LSM size-tiered rule: group segments into
  * geometric size tiers; a tier holding ≥ [[minThreshold]] segments
  * is folded into one next-generation segment — merging peers costs
  * one rewrite of their bytes and removes read amplification, while
  * merging a small segment into a huge one rewrites the huge one's
  * bytes for nothing).
  *
  * The census is computed from the REAL persisted segments (a
  * distributed count over each segment's codes — the narrow relation
  * a metastore would hold as statistics), and the decision is pure
  * integer arithmetic over it: tier = ⌊log₄ n_rows⌋ via exact
  * threshold comparisons (no floating log — a 1-ulp libm difference
  * at a power-of-two boundary would flip a tier cross-engine), fold
  * iff the tier's segment count reaches the threshold.
  *
  * The fixture: the q140 delta population sliced into seven segments
  * of geometrically varying size (segment j holds delta rows whose
  * (t mod 64)+1 lands in [2^j, 2^{j+1})) — the arrival pattern a
  * size-tiered policy exists for. The ORACLE recomputes census and
  * decision analytically from the embeddings table, so the hash match
  * proves the persisted layout holds exactly the rows it should AND
  * the decision arithmetic. CompactionSpec EXECUTES the decision and
  * pins that the folded layout serves bit-identical results with
  * fewer segments; ScaleBench A/Bs the read amplification at 1M
  * vectors (m1_compact_* keys).
  *
  * 100 TB: the census is |segments| rows of metadata-scale statistics;
  * the policy is a |segments|-row window; the fold itself is q146's
  * embarrassingly-parallel partitioned rewrite of only the flagged
  * tiers' bytes. */
object Compaction {

  /** Fold a tier when it holds at least this many segments. */
  val minThreshold = 3

  /** Number of delta segments the fixture slices (⌊log₂((t%64)+1)⌋
    * lands in 0..6). */
  val nSegs = 7

  /** Exact-integer ⌊log₂((t mod 64)+1)⌋ segment id over a column
    * holding (t mod 64)+1 ∈ [1, 64]. */
  private def segCase(v: String): String =
    s"""CASE WHEN $v < 2 THEN 0 WHEN $v < 4 THEN 1 WHEN $v < 8 THEN 2
       |WHEN $v < 16 THEN 3 WHEN $v < 32 THEN 4 WHEN $v < 64 THEN 5
       |ELSE 6 END""".stripMargin.replace('\n', ' ')

  /** Exact-integer ⌊log₄ n⌋ size tier (thresholds 4^k, n ≥ 1) — the
    * generated CASE covers every BIGINT count (4^31 = 2^62 > any row
    * count), so a huge segment can never saturate into a small
    * segment's tier and get folded with peers ~4^k× smaller. */
  private def tierCase(v: String): String =
    (1 to 31).map(k => s"WHEN $v < ${1L << (2 * k)} THEN ${k - 1}")
      .mkString("CASE ", " ", " ELSE 31 END")

  /** The fixture's segment id for a delta row. */
  private[graft] def segIdExpr: Column =
    expr(segCase("(pmod(vec_id div 5, 64) + 1)"))

  /** Build (or reuse) the seven size-varied delta segments; returns
    * their paths in segment order. */
  private[graft] def sizedSegments(s: org.apache.spark.sql.SparkSession,
      d: String): Seq[String] = {
    val cents = IvfPq.baseCentroids(s, d)
    val delta = Tables.embeddings(s, d)
      .where(IvfPq.isDeltaVec)
      .withColumn("__seg", segIdExpr)
    (0 until nSegs).map { j =>
      IvfPq.codesSegment(s, d, s"szt$j",
        IvfAnn.assign(delta.where(col("__seg") === j)
          .select("vec_id", "embedding"), cents))
    }
  }

  /** The tier/fold decision over a (seg_id, n_rows) census — factored
    * so the batch policy (q342) and its streaming maintenance (q344)
    * share one arithmetic. */
  private[graft] def policyFromCensus(census: org.apache.spark.sql.DataFrame):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    census
      .withColumn("tier", expr(tierCase("n_rows")).cast("int"))
      .withColumn("n_in_tier",
        count(lit(1)).over(Window.partitionBy("tier")))
      .select(col("seg_id").cast("int").as("seg_id"), col("n_rows"),
        col("tier"), col("n_in_tier"),
        (col("n_in_tier") >= minThreshold).as("fold"))
      .orderBy("seg_id")
  }

  val qCompactionPolicy: GraftQuery = GraftQuery(
    "q342_compaction_policy",
    s"""WITH delta AS (
       |  SELECT vec_id, ((vec_id // 5) % 64) + 1 AS b
       |  FROM embeddings WHERE vec_id % 5 = 4),
       |seg AS (SELECT ${segCase("b")} AS seg_id FROM delta),
       |census AS (
       |  SELECT seg_id, CAST(COUNT(*) AS BIGINT) AS n_rows
       |  FROM seg GROUP BY seg_id),
       |tiered AS (
       |  SELECT CAST(seg_id AS INTEGER) AS seg_id, n_rows,
       |    CAST(${tierCase("n_rows")} AS INTEGER) AS tier
       |  FROM census)
       |SELECT seg_id, n_rows, tier,
       |  CAST(COUNT(*) OVER (PARTITION BY tier) AS BIGINT) AS n_in_tier,
       |  COUNT(*) OVER (PARTITION BY tier) >= $minThreshold AS fold
       |FROM tiered
       |ORDER BY seg_id""".stripMargin) { (s, d) =>
    val paths = sizedSegments(s, d)
    // census over the REAL persisted segments: one narrow codes scan
    // per segment (bounded: nSegs segments), map-side-combined counts
    val census = paths.zipWithIndex.map { case (p, j) =>
      IvfPq.readSegment(s, p).select(lit(j).as("seg_id"))
    }.reduce(_ union _)
      .groupBy("seg_id").agg(count(lit(1)).as("n_rows"))
    policyFromCensus(census)
  }

  def all: Seq[GraftQuery] = Seq(qCompactionPolicy)
}
