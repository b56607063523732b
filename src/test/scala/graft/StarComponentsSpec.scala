package graft

import graft.operators.{PageRank, StarComponents}
import org.apache.spark.sql.functions._

/** Large-star/small-star connected components, the engine's one
  * connected-components loop: the round count stays logarithmic on a
  * long path, components merge and separate as planted, and the loop
  * releases its checkpoints. Equality with a brute-force union-find on
  * random graphs is DedupSpec's property; also the integer PageRank
  * and the motif census over the same pair graphs. */
class StarComponentsSpec extends SparkSpecBase {

  private def pairsDf(edges: Seq[(Long, Long)]) = {
    import spark.implicits._
    edges.toDF("doc_a", "doc_b")
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("200-node path: star contraction converges in O(log n) rounds, " +
      "far below the path's diameter") {
    val path = pairsDf((0L until 199L).map(i => (i, i + 1)))
    val (labels, rounds) = StarComponents.connectedComponentsStar(path)
    try {
      // ~log²(200) + 1 confirmation round, vs diameter 199
      assert(rounds <= 10, s"expected O(log n) rounds on a path, got $rounds")
      val m = labelMap(labels)
      assert(m.size === 200)
      assert(m.values.toSet === Set(0L), "every path node joins component 0")
    } finally labels.unpersist()
  }

  test("two cliques plus a bridge merge into one component; an isolated " +
      "edge keeps its own") {
    val cliqueA = for (i <- 0L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val cliqueB = for (i <- 10L to 14L; j <- (i + 1) to 14L) yield (i, j)
    val bridge = Seq((4L, 10L))
    val island = Seq((100L, 101L))
    val (labels, _) = StarComponents.connectedComponentsStar(
      pairsDf(cliqueA ++ cliqueB ++ bridge ++ island))
    try {
      val m = labelMap(labels)
      assert((0L to 4L).forall(m(_) == 0L))
      assert((10L to 14L).forall(m(_) == 0L), "bridge merges the cliques")
      assert(m(100L) === 100L && m(101L) === 100L)
    } finally labels.unpersist()
  }

  test("the contraction loop releases every generation's checkpoint " +
      "blocks (unpersist on a checkpointed frame is a no-op)") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val (labels, _) = StarComponents.connectedComponentsStar(
      pairsDf((0L until 99L).map(i => (i, i + 1))))
    labels.count()
    org.apache.spark.sql.graftshim.Checkpoints.release(labels)
    // every RDD persisted by the loop (checkpoint generations) and the
    // released label cache must be gone; only pre-existing entries stay
    val leaked = sc.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty,
      s"loop leaked persisted RDDs: ${leaked.mkString(", ")}")
  }

  test("q133 equals q77 row-for-row on the real corpus") {
    val a = SparkEntry.queries("q133_components_star")(spark, sf001).collect()
    val b = SparkEntry.queries("q77_dedup_components")(spark, sf001).collect()
    assert(a.nonEmpty)
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq)
  }

  test("q180: integer PageRank matches a driver recomputation on a planted star") {
    // hub 0 with 6 leaves plus a detached pair (8, 9)
    val pairs = pairsDf((1L to 6L).map(l => (0L, l)) :+ (8L, 9L))
    val edges = ((1L to 6L).flatMap(l => Seq((0L, l), (l, 0L))) ++
      Seq((8L, 9L), (9L, 8L)))
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    // q180's scale and rounds, then q248's: one loop serves both
    Seq((StarComponents.prIters, StarComponents.prScale),
        (PageRank.rounds, PageRank.initR)).foreach { case (iters, scale) =>
      val got = StarComponents.pageRankInt(pairs, iters, scale)
        .collect()
        .map(r => r.getAs[Long]("node") -> (r.getAs[Long]("deg"), r.getAs[Long]("r")))
        .toMap

      // independent reference: the same integer recurrence, in Scala
      val base = 15L * scale / 100L
      var r = deg.keys.map(_ -> scale).toMap
      (1 to iters).foreach { _ =>
        r = edges.groupBy(_._2).view.mapValues(_.map { case (u, _) =>
          r(u) / deg(u)
        }.sum).toMap.map { case (n, s) => n -> (base + 85L * s / 100L) }
      }
      assert(got.keySet === deg.keySet, s"scale $scale: node set")
      got.foreach { case (n, (d, rank)) =>
        assert(d === deg(n))
        assert(rank === r(n), s"scale $scale node $n: query $rank != reference ${r(n)}")
      }
      // the hub dominates every leaf; the detached pair sits between
      assert(got(0L)._2 > got(8L)._2 && got(8L)._2 > got(1L)._2,
        s"authority ordering violated at scale $scale: ${got.toSeq.sortBy(_._1)}")
    }
  }

  test("q200 census: clique / path / star shapes produce the textbook motifs") {
    // K4 on 0-3 (4 triangles-per-node choose: each node in C(3,2)=3),
    // path 10-11-12 (wedge at 11, no triangle), star at 20 with 4
    // leaves (6 wedges at the hub, clustering 0 everywhere)
    val k4 = for {
      a <- 0L to 3L; b <- 0L to 3L if a < b
    } yield (a, b)
    val edges = k4 ++ Seq((10L, 11L), (11L, 12L)) ++
      (21L to 24L).map(l => (20L, l))
    val got = StarComponents.graphCensus(pairsDf(edges))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    // K4: deg 3, 3 wedges, 3 triangles each, clustering 1.0
    (0L to 3L).foreach(n => assert(got(n) === ((3L, 3L, 3L, 1.0)), s"K4 node $n"))
    // path center: 1 wedge, open; endpoints: no wedge
    assert(got(11L) === ((2L, 1L, 0L, 0.0)))
    assert(got(10L) === ((1L, 0L, 0L, 0.0)))
    // star hub: C(4,2)=6 wedges, all open; leaves degree 1
    assert(got(20L) === ((4L, 6L, 0L, 0.0)))
    (21L to 24L).foreach(n => assert(got(n) === ((1L, 0L, 0L, 0.0))))
  }

  test("q200 census: triangle total is orientation-invariant " +
    "(each triangle counted exactly once, random graphs)") {
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val n = 30
      val edges = (for {
        a <- 0L until n; b <- (a + 1) until n if rnd.nextDouble() < 0.15
      } yield (a, b)).toSeq
      val census = StarComponents.graphCensus(pairsDf(edges)).collect()
      val got = census.map(_.getLong(3)).sum
      // driver-side reference: brute-force closed wedges
      val set = edges.toSet
      def has(x: Long, y: Long) = set.contains((x min y, x max y))
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
      val want = (for {
        i <- nodes; j <- nodes if i < j; k <- nodes if j < k
        if has(i, j) && has(j, k) && has(i, k)
      } yield 1).size * 3L // each triangle touches 3 nodes
      assert(got === want, s"per-node triangle participation total")
    }
  }
}
