package graft.operators

import graft.GraftQuery
import org.apache.spark.sql.functions._

/** PageRank over the Jaccard-verified near-dup graph
  * ([[Dedup.verifiedPairs]], symmetric) — the centrality complement to
  * q219's k-core and q220's BFS depth: a high-rank document is the hub
  * many mirrors copy from (keep it, drop its satellites), independent
  * of whether the neighborhood is dense enough to form a core.
  *
  * Determinism (the repo's cross-engine discipline): ranks are BIGINT
  * micro-units (S = 10^12 per node at init), every step is integer
  * arithmetic — share = r div deg (floor; all values non-negative so
  * Spark's truncating `div` and DuckDB's floor `//` agree), then
  * r' = 0.15*S + (85 * sum(shares)) div 100. No floating point
  * anywhere, so the result is bit-identical regardless of engine,
  * partitioning, or summation order. Fixed ROUNDS iterations, unrolled
  * in the oracle as a CTE chain (the q180/q219 convention).
  *
  * The loop is [[StarComponents.pageRankInt]], q180's integer power
  * iteration, run at this query's scale (10^12) and round count (5):
  * one engine loop for both, two oracles that unroll their own rounds.
  * The symmetric near-dup graph has no dangling nodes (every node has
  * deg >= 1 by construction), so every node receives mass each round
  * and the oracle's LEFT JOIN/COALESCE never fires; a general
  * web-graph deployment would add the standard dangling-sum broadcast.
  */
object PageRank {

  /** Fixed synchronous rounds; the oracle unrolls exactly this many. */
  val rounds = 5

  /** Initial rank per node, in micro-units (10^12). */
  val initR = 1000000000000L

  private val teleport = initR * 15 / 100

  /** One unrolled oracle round: shares = prev rank div degree, summed
    * per destination; damped integer update. DuckDB SUM(BIGINT) is
    * HUGEINT, so the final cast pins BIGINT. */
  private def roundSql(prev: String, cur: String): String =
    s"""$cur AS MATERIALIZED (
       |  SELECT d.node,
       |    CAST($teleport + (85 * COALESCE(s.contrib, 0)) // 100 AS BIGINT) AS r
       |  FROM deg d
       |  LEFT JOIN (
       |    SELECT e.v AS node, SUM(p.r // dd.deg) AS contrib
       |    FROM e0 e
       |    JOIN $prev p ON p.node = e.u
       |    JOIN deg dd ON dd.node = e.u
       |    GROUP BY e.v) s ON s.node = d.node)""".stripMargin

  private def chainSql: String =
    (1 to rounds).map(i => roundSql(if (i == 1) "pr0" else s"pr${i - 1}", s"pr$i"))
      .mkString(",\n")

  /** q248: per-document PageRank after [[rounds]] integer rounds, with
    * degree alongside. */
  val qPageRank: GraftQuery = GraftQuery(
    "q248_pagerank",
    s"""WITH ${Dedup.pairsCte},
       |e0 AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |deg AS (SELECT u AS node, COUNT(*) AS deg FROM e0 GROUP BY u),
       |pr0 AS (SELECT node, CAST($initR AS BIGINT) AS r FROM deg),
       |$chainSql
       |SELECT d.node AS doc_id, CAST(d.deg AS BIGINT) AS deg, p.r AS pagerank
       |FROM deg d JOIN pr$rounds p ON p.node = d.node
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    StarComponents.pageRankInt(Dedup.verifiedPairs(s, d), rounds, initR)
      .select(col("node").as("doc_id"), col("deg"), col("r").as("pagerank"))
      .orderBy("doc_id")
  }

  val all: Seq[GraftQuery] = Seq(qPageRank)
}
