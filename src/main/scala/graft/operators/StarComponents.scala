package graft.operators

import graft.GraftQuery
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star
  * contraction (Kiveris et al., "Connected Components in MapReduce and
  * Beyond", SoCC'14) — the engine's one connected-components loop,
  * behind q77/q133 ([[Dedup.indexedComponents]]) and the value-grain
  * tiers' clusters ([[ValueTier.clusters]]).
  *
  * Why contraction and not min-label propagation: propagation needs
  * O(component diameter) rounds — fine for near-dup clusters (tiny,
  * dense), fatal for chain-shaped components (a 1M-node path needs 1M
  * rounds). The star algorithm rewires every node toward its
  * neighborhood minimum each round, provably converging in O(log² n)
  * rounds regardless of topology (in practice < 10 for any input we
  * can generate) to a forest of stars centered at each component's
  * minimum id. It was measured no slower on the near-dup shape either
  * (docs/SCALE.md), so propagation was retired.
  *
  * One round = two grouped aggregations + two shuffle joins, all keyed
  * by node id; edge-set cardinality never grows above the input edge
  * count + node count (each node contributes its min edge), so the
  * per-round shuffle is bounded by the input — the 100 TB shape.
  * Convergence is detected by set equality (count + empty except) on
  * the canonicalized edge list, and non-convergence THROWS — a silent
  * partial result would surface only as wrong cluster ids downstream.
  */
object StarComponents {

  /** Canonical undirected form: doc_a < doc_b, self-loops dropped,
    * distinct. */
  private def canon(e: DataFrame): DataFrame =
    e.select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
      .where(col("doc_a") =!= col("doc_b")).distinct()

  /** Large-star: every node connects its STRICTLY LARGER neighbors to
    * the minimum of its closed neighborhood — long tails collapse
    * toward small ids without ever disconnecting a component. */
  private def largeStar(e: DataFrame): DataFrame = {
    val s = GraphCore.sym(e)
    val mins = s.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    s.join(mins, "u").where(col("v") > col("u"))
      .select(col("v").as("doc_a"), col("m").as("doc_b"))
  }

  /** Small-star: each node rewires its smaller-or-equal neighbors (and
    * itself) to its smallest neighbor. */
  private def smallStar(e: DataFrame): DataFrame = {
    val o = e.select(greatest(col("doc_a"), col("doc_b")).as("u"),
        least(col("doc_a"), col("doc_b")).as("v"))
      .where(col("u") =!= col("v"))
    val mins = o.groupBy("u").agg(min("v").as("m"))
    o.join(mins, "u").select(col("v").as("doc_a"), col("m").as("doc_b"))
      .union(mins.select(col("u").as("doc_a"), col("m").as("doc_b")))
  }

  /** Labels every node of `pairs` (cols doc_a, doc_b) with its
    * component's minimum id. Returns (labels(node, label), rounds);
    * the labels relation is persisted and OWNED BY THE CALLER
    * (unpersist when done). Every round is checkpointed: each round's
    * plan embeds ~10 copies of the previous round's (sym unions, two
    * joins, the except), so lineage grows EXPONENTIALLY in rounds. */
  def connectedComponentsStar(pairs: DataFrame, maxIters: Int = 25): (DataFrame, Int) =
    graft.spark.Generations.run("star contraction", canon(pairs), basis = None,
        every = 1, rounds = maxIters,
        // set equality: same cardinality + empty difference (both sides
        // canonical-distinct, so one-sided except suffices)
        stable = Some((a, b) => b.rows == a.rows && b.df.except(a.df).limit(1).count() == 0),
        keep = false)((live, _) => canon(smallStar(largeStar(live.last)))) { live =>
      // fixpoint is a star forest: every node's closed-neighborhood min
      // IS its component min. Checkpoint before persisting: adaptive
      // execution coalesces the checkpointed aggregate to a data-sized
      // partition count, where a persisted plan keeps the loop width
      // (8 tiny partitions made every warm read of the labels slower)
      val labels = GraphCore.sym(live.last).groupBy("u").agg(min("v").as("mn"))
        .select(col("u").as("node"), least(col("mn"), col("u")).as("label"))
        .localCheckpoint()
        .persist()
      labels.count() // pin before the blocks it was built from are released
      // Cluster-mode tradeoff: the released checkpoint blocks were
      // labels' only recompute source — an executor loss now fails the
      // job instead of recomputing. Local mode: fine. Multi-executor:
      // keep the blocks or checkpoint() to reliable storage.
      org.apache.spark.sql.graftshim.Checkpoints.releaseUnderlying(labels)
      labels
    }

  /** q77's near-dup clusters under the star-contraction catalog name:
    * the same labels ([[Dedup.indexedComponents]], one memo per
    * session and corpus) and the same recursive-CTE oracle.
    * StarComponentsSpec plants a 200-node path, which the loop closes
    * in ≤ 10 rounds where a diameter-bound algorithm would need 199. */
  val qComponentsStar: GraftQuery = GraftQuery(
    "q133_components_star",
    Dedup.qDedupComponents.oracle.get)(Dedup.qDedupComponents.fn)

  /** Fixed iteration count and 2^20 rank scale for q180. */
  val prIters = 8
  val prScale = 1048576L

  /** INTEGER-ARITHMETIC PAGERANK over the Jaccard-verified near-dup
    * graph (Brin-Page damping 0.85, [[prIters]] power iterations) —
    * the authority score that picks which member of a duplicate
    * cluster is the "canonical" copy by link structure rather than by
    * quality logit (q161's rule). The graph is symmetric (undirected
    * pairs), so there are no dangling nodes and every node receives
    * mass each round.
    *
    * The exactness trick: ranks live on the 2^-20 integer grid and
    * EVERY operation is integer — contribution = r div deg, update =
    * base + (85·Σcontrib) div 100. Floor-division PageRank converges
    * to the same ordering as the real-valued iteration (errors are
    * bounded by deg·2^-20 per round) while being bit-reproducible
    * under ANY partitioning and in DuckDB, whose oracle UNROLLS the
    * [[prIters]] iterations as chained CTEs (recursive CTEs cannot
    * aggregate over the recursive reference — unrolling is the
    * standard-SQL spelling of a fixed-depth loop).
    *
    * 100 TB: per-iteration cost is one edges⋈ranks hash join + one
    * groupBy, both keyed and bounded by |E|; lineage is truncated
    * every fourth round; iteration count is FIXED — an
    * ordering-stability convergence test would add a per-round driver
    * sync for no semantic gain at 8 rounds. */
  val qPageRank: GraftQuery = GraftQuery(
    "q180_pagerank", {
      val base = s"""edges AS (
         |  SELECT doc_a AS a, doc_b AS b FROM pairs
         |  UNION ALL SELECT doc_b, doc_a FROM pairs),
         |deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS deg
         |        FROM edges GROUP BY a),
         |it0 AS (SELECT node, CAST($prScale AS BIGINT) AS r FROM deg)""".stripMargin
      val prBase = 15L * prScale / 100L
      val its = (1 to prIters).map { k =>
        s"""it$k AS (
           |  SELECT e.b AS node,
           |    CAST($prBase + (85 * CAST(SUM(p.r // d.deg) AS BIGINT)) // 100 AS BIGINT) AS r
           |  FROM edges e
           |  JOIN it${k - 1} p ON e.a = p.node
           |  JOIN deg d ON d.node = e.a
           |  GROUP BY e.b)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${Dedup.pairsCte},
         |$base,
         |$its
         |SELECT i.node AS doc_id, d.deg, i.r AS rank_q20
         |FROM it$prIters i JOIN deg d ON d.node = i.node
         |ORDER BY doc_id""".stripMargin
    }) { (s, d) =>
    pageRankInt(Dedup.verifiedPairs(s, d), prIters, prScale)
      .select(col("node").as("doc_id"), col("deg"), col("r").as("rank_q20"))
      .orderBy("doc_id")
  }

  /** The integer power iteration behind q180 and q248, on any
    * (doc_a, doc_b) pair relation: every node starts at `scale`, and a
    * round maps r to 15·scale div 100 + (85·Σ r_u div deg_u) div 100
    * over its neighbors u. All values stay non-negative, so Spark's
    * truncating `div` and DuckDB's floor `//` agree. Returns
    * (node, r, deg). */
  def pageRankInt(pairs: DataFrame, iters: Int, scale: Long): DataFrame = {
    val base = 15L * scale / 100L
    val edges = GraphCore.sym(pairs)
    val deg = edges.groupBy("u").agg(count(lit(1)).as("deg"))
    val edgesDeg = edges.join(deg, "u").persist()
    // a barrier every FOURTH round: unlike star contraction, each rank
    // generation references its predecessor exactly ONCE (one join), so
    // lineage grows linearly and a barrier per round would only pay a
    // job launch for a 10^2-node relation
    try graft.spark.Generations.run("integer PageRank",
        deg.select(col("u").as("node"), lit(scale).as("r")),
        basis = Some(edgesDeg.count()), every = 4, rounds = iters, stable = None,
        keep = false) { (live, _) =>
      edgesDeg.join(live.last, col("u") === col("node"))
        .select(col("v"), expr("r div deg").as("contrib"))
        .groupBy("v")
        .agg(sum("contrib").as("s"))
        .select(col("v").as("node"), (lit(base) + expr("85 * s div 100")).as("r"))
    }(_.last.join(deg.select(col("u").as("node"), col("deg")), "node"))._1
    finally edgesDeg.unpersist(): Unit
  }

  /** GRAPH MOTIF CENSUS over the verified near-dup graph: per node,
    * its degree, wedge count C(deg,2), triangle participation, and
    * local clustering coefficient — the structure signal that separates
    * a mutual-copy CLIQUE (template boilerplate, clustering → 1) from a
    * hub-and-spoke CHAIN (one canonical page copied by many one-off
    * mirrors, clustering → 0). Curation policy can then differ: cliques
    * collapse to one representative; low-clustering hubs deserve a
    * look at the hub itself.
    *
    * Triangle enumeration uses DEGREE-ORDERED ORIENTATION (the classic
    * MapReduce-triangles result, Suri & Vassilvitskii WWW'11): each
    * undirected edge is directed from its lower (deg, id) endpoint to
    * the higher, which bounds every node's out-degree by O(√m), so the
    * wedge self-join generates at most O(m^1.5) candidates regardless
    * of skew — a star node with degree 10⁶ contributes ZERO wedges as
    * a source (all its edges point IN from its one-degree neighbors).
    * Each triangle {x<y<z} is produced exactly once, as the wedge
    * (x→y, x→z) closed by x→y→z's companion edge y→z. Wedge counts
    * come straight from the degree (C(deg,2), exact integers — no
    * join), and the clustering coefficient is one IEEE division of
    * exact integers. All joins are keyed on the Zipf-compact pair
    * graph, never the corpus.
    *
    * Oracle: same orientation + closure in DuckDB over the shared
    * verified-pair CTE; row-value comparisons mirror the Spark
    * (deg, id) lexicographic predicate. */
  val qGraphCensus: GraftQuery = GraftQuery(
    "q200_graph_census",
    s"""WITH ${Dedup.pairsCte},
       |deg AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS deg FROM (
       |    SELECT doc_a AS n FROM pairs UNION ALL SELECT doc_b FROM pairs)
       |  GROUP BY n),
       |ori AS (
       |  SELECT CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
       |              THEN p.doc_a ELSE p.doc_b END AS u,
       |         CASE WHEN (da.deg, p.doc_a) < (db.deg, p.doc_b)
       |              THEN p.doc_b ELSE p.doc_a END AS v
       |  FROM pairs p
       |  JOIN deg da ON p.doc_a = da.n
       |  JOIN deg db ON p.doc_b = db.n),
       |orid AS (SELECT o.u, o.v, d.deg AS dv FROM ori o JOIN deg d ON o.v = d.n),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM orid e1
       |  JOIN orid e2 ON e1.u = e2.u AND (e1.dv, e1.v) < (e2.dv, e2.v)
       |  JOIN ori e3 ON e3.u = e1.v AND e3.v = e2.v),
       |tri_nodes AS (
       |  SELECT n, CAST(count(*) AS BIGINT) AS n_tri FROM (
       |    SELECT a AS n FROM tri UNION ALL SELECT b FROM tri
       |    UNION ALL SELECT c FROM tri)
       |  GROUP BY n)
       |SELECT d.n AS doc_id, d.deg AS degree,
       |  CAST(d.deg * (d.deg - 1) // 2 AS BIGINT) AS n_wedges,
       |  COALESCE(t.n_tri, CAST(0 AS BIGINT)) AS n_triangles,
       |  CASE WHEN d.deg >= 2
       |    THEN CAST(COALESCE(t.n_tri, 0) AS DOUBLE)
       |         / CAST(d.deg * (d.deg - 1) // 2 AS BIGINT)
       |    ELSE CAST(0 AS DOUBLE) END AS clustering
       |FROM deg d LEFT JOIN tri_nodes t ON d.n = t.n
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    // the census plan references the pair relation ~5 times (degree
    // union, orientation join, both wedge sides, closure): all of them
    // read the one checkpointed copy
    graphCensus(Dedup.verifiedPairs(s, d))
      .orderBy("doc_id")
  }

  /** The census behind q200, reusable on any (doc_a, doc_b) pair
    * relation. Returns (doc_id, degree, n_wedges, n_triangles,
    * clustering). */
  def graphCensus(pairs: DataFrame): DataFrame = {
    val deg = pairs.select(col("doc_a").as("n"))
      .unionByName(pairs.select(col("doc_b").as("n")))
      .groupBy("n").agg(count(lit(1)).as("deg"))
    val pairsDeg = pairs
      .join(deg.select(col("n").as("doc_a"), col("deg").as("da")), "doc_a")
      .join(deg.select(col("n").as("doc_b"), col("deg").as("db")), "doc_b")
    val aFirst = col("da") < col("db") ||
      (col("da") === col("db") && col("doc_a") < col("doc_b"))
    val ori = pairsDeg.select(
      when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("u"),
      when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("v"))
    val orid = ori.join(deg.select(col("n").as("v"), col("deg").as("dv")), "v")
    // wedges at u: out-neighbor pairs in (deg, id) order — closed into
    // triangles by the companion oriented edge (b, c)
    val e1 = orid.select(col("u"), col("v").as("b"), col("dv").as("db_"))
    val e2 = orid.select(col("u"), col("v").as("c"), col("dv").as("dc_"))
    val tri = e1.join(e2, "u")
      .where(col("db_") < col("dc_") ||
        (col("db_") === col("dc_") && col("b") < col("c")))
      .join(ori.select(col("u").as("b"), col("v").as("c")), Seq("b", "c"))
    val triNodes = tri
      .select(explode(array(col("u"), col("b"), col("c"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(triNodes, Seq("n"), "left")
      .select(col("n").as("doc_id"),
        col("deg").as("degree"),
        expr("deg * (deg - 1) div 2").as("n_wedges"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("deg") >= 2,
          coalesce(col("n_tri"), lit(0L)).cast("double")
            / expr("deg * (deg - 1) div 2"))
          .otherwise(lit(0.0)).as("clustering"))
  }

  def all: Seq[GraftQuery] = Seq(qComponentsStar, qPageRank, qGraphCensus)
}
