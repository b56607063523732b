package graft

import graft.operators.{GraphCore, StarComponents}
import graft.spark.SessionMemo
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.{Checkpoints, ListenerSync}

/** The five graph loops that run over checkpointed generations
  * (`graft.spark.Generations`): star contraction, integer PageRank,
  * k-core peeling, BFS and label propagation. Each gives back every
  * generation it supersedes but never the verified-pair relation the
  * graph queries share, and those queries keep their warm Spark-job
  * counts. */
class GenerationsSpec extends SparkSpecBase {

  import spark.implicits._

  private val sf = "/root/testdata/sf0.01"

  // a 6-clique with a 4-node tail: several rounds in every loop
  private val pairs: Seq[(Long, Long)] =
    (for (a <- 1L to 6L; b <- (a + 1) to 6L) yield (a, b)) ++
      Seq((6L, 20L), (20L, 21L), (21L, 22L), (22L, 23L))

  private def pairsDf: DataFrame = pairs.toDF("doc_a", "doc_b")

  private def symDf: DataFrame =
    (pairs ++ pairs.map(_.swap)).toDF("u", "v")

  test("every graph loop releases each generation it supersedes") {
    val loops: Seq[(String, () => DataFrame)] = Seq(
      "star contraction" -> (() => StarComponents.connectedComponentsStar(pairsDf)._1),
      "integer PageRank" -> (() => StarComponents.pageRankInt(pairsDf, 8, 1L << 20)),
      "k-core peel" -> (() => GraphCore.peel(symDf, 2)),
      "BFS" -> (() => GraphCore.bfsHops(symDf, Seq(1L).toDF("node"))),
      "label propagation" -> (() => GraphCore.lpa(symDf, 4)))
    val sc = spark.sparkContext
    loops.foreach { case (name, loop) =>
      val before = sc.getPersistentRDDs.keySet
      val out = loop()
      assert(out.count() > 0, name)
      Checkpoints.release(out)
      // what the loop returned was just released; every generation it
      // superseded must already be gone
      val leaked = sc.getPersistentRDDs.keySet.diff(before)
      assert(leaked.isEmpty, s"$name leaked persisted RDDs: ${leaked.mkString(", ")}")
    }
  }

  test("the graph queries share one checkpointed verified-pair relation that only eviction releases") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.scalatest.concurrent.Eventually._
    import org.scalatest.time.{Seconds, Span}
    val memo = graft.operators.Dedup.verifiedPairIndex
    val sc = spark.sparkContext
    // a fresh session: its entries are this test's alone
    val s = spark.newSession()
    val before = memo.size
    val graphQueries = Seq("q180_pagerank", "q200_graph_census",
      "q219_kcore_membership", "q220_canonical_depth", "q248_pagerank",
      "q268_label_propagation")
    try {
      for (_ <- 1 to 2; q <- graphQueries) SparkEntry.queries(q)(s, sf).count()
      assert(memo.size === before + 1, "one verified-pair entry per (session, corpus)")
      val pairs = memo.getOrElseUpdate(s, sf)(fail("the entry must be memoized"))
      val blocks = pairs.queryExecution.analyzed.collect { case r: LogicalRDD => r.rdd.id }
      def cached(id: Int) =
        sc.getRDDStorageInfo.exists(i => i.id == id && i.numCachedPartitions > 0)
      // no graph loop released the shared relation
      assert(blocks.nonEmpty && blocks.forall(cached),
        s"the memoized pairs' checkpoint blocks $blocks must still be held")
      SessionMemo.evictAll(s)
      assert(memo.size === before)
      // checkpoint blocks are released without blocking
      eventually(timeout(Span(60, Seconds))) {
        assert(!blocks.exists(cached), s"blocks $blocks still held after eviction")
      }
    } finally SessionMemo.evictAll(s)
  }

  test("warm graph queries launch no more Spark jobs than their pinned counts (sf0.01)") {
    // warm: the verified pairs and component labels are memoized by a
    // first run; a drained count of a second run is what is gated
    val pinned = Seq(
      "q180_pagerank" -> 30,
      "q219_kcore_membership" -> 19,
      "q220_canonical_depth" -> 18,
      "q248_pagerank" -> 24,
      "q268_label_propagation" -> 23)
    pinned.foreach { case (q, most) =>
      SparkEntry.queries(q)(spark, sf).count()
      val (_, jobs) = ListenerSync.countJobs(spark.sparkContext) {
        SparkEntry.queries(q)(spark, sf).count()
      }
      info(s"$q warm jobs: $jobs")
      assert(jobs <= most, s"$q launched $jobs Spark jobs warm")
    }
  }
}
