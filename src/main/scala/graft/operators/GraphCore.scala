package graft.operators

import graft.GraftQuery
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deeper structure over the Jaccard-verified near-dup graph
  * ([[Dedup.verifiedPairs]]): k-CORE membership and BFS DEPTH from
  * each component's canonical document.
  *
  * Why a curation pipeline wants these:
  *  - q200's motif census separates cliques from hubs LOCALLY (one
  *    node's clustering coefficient); the k-core is the GLOBAL
  *    version — the maximal subgraph where every member has ≥ k
  *    near-dup neighbors. A 3-core member sits inside a dense
  *    template family (drop all but one); a degree-3 node OUTSIDE the
  *    3-core is a chain of one-off mirrors (inspect the hub).
  *  - BFS depth from the canonical copy (the component's min doc_id,
  *    q77's label) is copy PROVENANCE: depth-1 docs duplicate the
  *    canonical directly, depth-2 docs duplicate a duplicate — the
  *    transitive-mutation trail that q209's contamination expansion
  *    walks, here measured per document.
  *
  * Scale (100 TB):
  *  - Peeling is the standard parallel k-core round (remove ALL
  *    nodes of degree < k simultaneously — Matula/Beck peel, batched):
  *    each round is one degree aggregate + two anti-joins, all keyed
  *    by node id and bounded by the CURRENT edge set, which only
  *    shrinks. Rounds are bounded by the peel depth of the graph, not
  *    its size; near-dup graphs (dense clusters, shallow tails) peel
  *    in a handful of rounds. Non-convergence within maxIters THROWS
  *    (the q77/q133 discipline) — no silent partial cores.
  *  - The 3-core peels from the 2-CORE's edges (cores are nested), so
  *    each level starts from the previous level's already-shrunk set.
  *  - BFS expands a frontier by one hash join per hop with min-dist
  *    dedup; per-round lineage is localCheckpoint-truncated (the q133
  *    discipline). Hop count is bounded by component diameter — for
  *    near-dup clusters single digits; the star-contraction labels
  *    (q133) bound the components first, so BFS never runs on an
  *    unbounded graph.
  *
  * Oracles: the peel is unrolled as fixed-depth CTE chains (the q180
  * convention — recursive CTEs cannot aggregate over the recursive
  * reference); extra unrolled rounds past convergence are no-ops, so
  * engine-at-fixpoint == oracle-at-round-R whenever the engine
  * converges within R. BFS unrolls as a depth-bounded recursive CTE
  * (UNION dedup, dist < cap) with a min-dist aggregate on top.
  */
object GraphCore {

  /** Unrolled peel rounds per core level in the oracle; the engine
    * throws past this, so oracle and engine can never silently
    * diverge on a slow-peeling graph. */
  val peelRounds = 6

  /** BFS hop cap (≥ any testdata component diameter; engine throws
    * past it). */
  val maxHops = 8

  /** The symmetric edge view (u, v) of an undirected (doc_a, doc_b)
    * pair relation: both directions of every pair. */
  private[operators] def sym(pairs: DataFrame): DataFrame =
    pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))

  /** Stable k-core edge set of symmetric `edges`, by batched peeling.
    * Throws after `maxIters` rounds without convergence.
    *
    * Convergence is read off each round's checkpointed row count: bad
    * nodes have degree ≥ 1 by construction (deg comes from the current
    * edge set), so "no node below k" ⇔ "no edge row removed". */
  def peel(edges: DataFrame, k: Int, maxIters: Int = peelRounds): DataFrame =
    graft.spark.Generations.run(s"k-core peel (k=$k)", edges, basis = None,
        every = 1, rounds = maxIters, stable = Some((a, b) => a.rows == b.rows),
        keep = false) { (live, _) =>
      val cur = live.last
      val deg = cur.groupBy("u").agg(count(lit(1)).as("deg"))
      val bad = deg.where(col("deg") < k).select(col("u").as("node"))
      cur
        .join(bad, cur("u") === bad("node"), "left_anti")
        .join(bad, cur("v") === bad("node"), "left_anti")
    }(_.last)._1

  /** One unrolled SQL peel round: keep edges whose BOTH endpoints
    * have degree ≥ k in the previous round's edge set. MATERIALIZED
    * is load-bearing: each round references its predecessor three
    * times, so DuckDB's default CTE inlining would re-evaluate the
    * whole chain 3^rounds times (and re-open the parquet inputs until
    * the process runs out of file handles). */
  private def peelRoundSql(prev: String, cur: String, k: Int): String =
    s"""${cur}_deg AS MATERIALIZED (
       |  SELECT u AS node, COUNT(*) AS deg FROM $prev GROUP BY u),
       |$cur AS MATERIALIZED (
       |  SELECT e.u, e.v FROM $prev e
       |  JOIN ${cur}_deg da ON da.node = e.u
       |  JOIN ${cur}_deg db ON db.node = e.v
       |  WHERE da.deg >= $k AND db.deg >= $k)""".stripMargin

  private def peelChainSql(from: String, prefix: String, k: Int): String =
    (1 to peelRounds).map { r =>
      peelRoundSql(if (r == 1) from else s"$prefix${r - 1}", s"$prefix$r", k)
    }.mkString(",\n")

  /** q219: per node — original degree and 2-core / 3-core membership.
    * The oracle peels the same rounds over the same verified pairs. */
  val qKcore: GraftQuery = GraftQuery(
    "q219_kcore_membership",
    s"""WITH ${Dedup.pairsCte},
       |e0 AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |${peelChainSql("e0", "c2_", 2)},
       |${peelChainSql(s"c2_$peelRounds", "c3_", 3)},
       |deg0 AS (SELECT u AS node, COUNT(*) AS deg FROM e0 GROUP BY u),
       |in2 AS (SELECT DISTINCT u AS node FROM c2_$peelRounds),
       |in3 AS (SELECT DISTINCT u AS node FROM c3_$peelRounds)
       |SELECT d.node AS doc_id, CAST(d.deg AS BIGINT) AS deg,
       |  (i2.node IS NOT NULL) AS in_2core,
       |  (i3.node IS NOT NULL) AS in_3core
       |FROM deg0 d
       |LEFT JOIN in2 i2 ON i2.node = d.node
       |LEFT JOIN in3 i3 ON i3.node = d.node
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val e0 = sym(Dedup.verifiedPairs(s, d))
    val deg0 = e0.groupBy("u").agg(count(lit(1)).as("deg"))
    val e2 = peel(e0, 2)
    val e3 = peel(e2, 3)
    val in2 = e2.select(col("u").as("n2")).distinct()
    val in3 = e3.select(col("u").as("n3")).distinct()
    deg0
      .join(in2, deg0("u") === in2("n2"), "left")
      .join(in3, deg0("u") === in3("n3"), "left")
      .select(col("u").as("doc_id"), col("deg"),
        col("n2").isNotNull.as("in_2core"),
        col("n3").isNotNull.as("in_3core"))
      .orderBy("doc_id")
  }

  /** Min-hop distances from seed nodes over symmetric `edges`:
    * iterative frontier BFS, lineage-truncated per hop. Returns
    * (node, hops). Seeds carry hops = 0. Only each hop's FRESH frontier
    * is checkpointed: the loop keeps every frontier generation, and the
    * distances so far are their shallow union, so no hop re-materializes
    * the whole distance relation. */
  def bfsHops(edges: DataFrame, seeds: DataFrame, cap: Int = maxHops): DataFrame =
    graft.spark.Generations.run("BFS", seeds.select(col("node"), lit(0L).as("hops")),
        basis = Some(edges.count()), every = 1, rounds = cap,
        stable = Some((_, b) => b.rows == 0), keep = true) { (live, hop) =>
      val frontier = live.last
      val expanded = frontier
        .join(edges, frontier("node") === edges("u"))
        .select(col("v").as("node"), lit(hop.toLong).as("hops"))
        .distinct()
      expanded
        .join(live.reduce(_ unionByName _).select(col("node").as("seen")),
          expanded("node") === col("seen"), "left_anti")
    }(_.reduce(_ unionByName _).localCheckpoint())._1

  /** q220: copy-provenance depth — BFS hops from each component's
    * canonical (the q77 component label = min doc_id of the
    * component), with the label alongside. Oracle: the q77 label CTE
    * plus a depth-bounded recursive reach from the canonical set,
    * min-dist per node. */
  val qBfsDepth: GraftQuery = GraftQuery(
    "q220_canonical_depth",
    s"""WITH RECURSIVE ${Dedup.pairsCte},
       |edges AS (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach(n, m) AS (
       |  SELECT u, v FROM edges
       |  UNION
       |  SELECT r.n, e.v FROM reach r JOIN edges e ON r.m = e.u),
       |lbl AS (
       |  SELECT n AS doc_id, least(n, MIN(m)) AS cluster_id
       |  FROM reach GROUP BY n),
       |seeds AS (SELECT DISTINCT cluster_id AS node FROM lbl),
       |bf(node, dist) AS (
       |  SELECT node, 0 FROM seeds
       |  UNION
       |  SELECT e.v, b.dist + 1 FROM bf b
       |  JOIN edges e ON e.u = b.node
       |  WHERE b.dist < $maxHops),
       |hops AS (SELECT node, MIN(dist) AS hops FROM bf GROUP BY node)
       |SELECT l.doc_id, l.cluster_id, CAST(h.hops AS BIGINT) AS hops
       |FROM lbl l JOIN hops h ON h.node = l.doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val labels = Dedup.indexedComponents(s, d)
    // bfsHops counts the edges to size its loop; that count
    // materializes the persist
    val e0 = sym(Dedup.verifiedPairs(s, d)).persist()
    try {
      val seeds = labels.select(col("label").as("node")).distinct()
      bfsHops(e0, seeds)
        .join(labels.select(col("node"), col("label").as("cluster_id")), "node")
        .select(col("node").as("doc_id"), col("cluster_id"), col("hops"))
        .orderBy("doc_id")
        .localCheckpoint()
    } finally e0.unpersist(): Unit
  }

  /** One synchronous label-propagation round over symmetric `edges`:
    * every node adopts the most frequent label among its NEIGHBORS
    * (count desc, then smallest label — fully deterministic, no
    * engine-arbitrary tie). */
  private def lpaRound(edges: DataFrame, labels: DataFrame): DataFrame = {
    val counts = edges
      .join(labels.withColumnRenamed("node", "v2"), col("v") === col("v2"))
      .groupBy(col("u").as("node"), col("lbl"))
      .agg(count(lit(1)).as("c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("node").orderBy(col("c").desc, col("lbl"))
    counts.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).select("node", "lbl")
  }

  private val lpaRounds = 4

  /** `rounds` synchronous [[lpaRound]]s over symmetric `edges`, every
    * node starting with its own id. Returns (node, lbl). Each round
    * references its predecessor exactly once (one join), so lineage
    * grows linearly: a barrier every SECOND round is enough. */
  private[graft] def lpa(edges: DataFrame, rounds: Int): DataFrame =
    graft.spark.Generations.run("label propagation",
        edges.select(col("u").as("node")).distinct()
          .select(col("node"), col("node").as("lbl")),
        basis = Some(edges.count()), every = 2, rounds = rounds, stable = None,
        keep = false)(
        (live, _) => lpaRound(edges, live.last))(_.last)._1

  private def lpaRoundSql(prev: String, cur: String): String =
    s"""${cur}_cnt AS MATERIALIZED (
       |  SELECT e.u AS node, l.lbl, COUNT(*) AS c
       |  FROM e0 e JOIN $prev l ON l.node = e.v
       |  GROUP BY e.u, l.lbl),
       |$cur AS MATERIALIZED (
       |  SELECT node, lbl FROM (
       |    SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node
       |      ORDER BY c DESC, lbl) AS rn FROM ${cur}_cnt)
       |  WHERE rn = 1)""".stripMargin

  /** LABEL-PROPAGATION COMMUNITIES (Raghavan et al. 2007), the
    * modularity-flavored counterpart of connected components: q77/q133
    * merge anything REACHABLE into one cluster; LPA lets labels
    * compete, so a chain of borderline near-dup bridges does NOT fuse
    * two dense duplicate families. Synchronous rounds with the
    * deterministic (count desc, min label) adoption rule; a FIXED 4
    * rounds — the census after round R is a pure function of the
    * graph, so the oracle unrolls the same R rounds as CTEs and must
    * agree bit-for-bit (non-convergence is visible, not hidden: the
    * output is "labels after R rounds", not "communities, trust me").
    *
    * Scale (100 TB): each round is one edge-keyed join + one
    * (node, label) aggregate + one per-node top-1 window over the
    * NEIGHBOR-LABEL census (bounded by degree, not corpus); [[lpa]]
    * truncates the lineage every second round and releases each
    * superseded barrier. R is a constant — cost is R·O(edges),
    * diameter-independent by construction. */
  val qLabelPropagation: GraftQuery = GraftQuery(
    "q268_label_propagation",
    s"""WITH ${Dedup.pairsCte},
       |e0 AS MATERIALIZED (
       |  SELECT doc_a AS u, doc_b AS v FROM pairs
       |  UNION ALL SELECT doc_b, doc_a FROM pairs),
       |lp0 AS (SELECT DISTINCT u AS node, u AS lbl FROM e0),
       |${(1 to lpaRounds).map(r => lpaRoundSql(s"lp${r - 1}", s"lp$r")).mkString(",\n")},
       |sizes AS (
       |  SELECT lbl, CAST(COUNT(*) AS BIGINT) AS community_size
       |  FROM lp$lpaRounds GROUP BY lbl)
       |SELECT l.node AS doc_id, l.lbl AS community, s.community_size
       |FROM lp$lpaRounds l JOIN sizes s ON s.lbl = l.lbl
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val labels = lpa(sym(Dedup.verifiedPairs(s, d)), lpaRounds)
    val sizes = labels.groupBy("lbl").agg(count(lit(1)).as("community_size"))
    labels.join(sizes, "lbl")
      .select(col("node").as("doc_id"), col("lbl").as("community"),
        col("community_size"))
      .orderBy("doc_id")
  }

  def all: Seq[GraftQuery] = Seq(qKcore, qBfsDepth, qLabelPropagation)
}
