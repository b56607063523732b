package graft

import graft.operators.{GraphCore, StarComponents}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graftshim.{Checkpoints, ListenerSync}

/** The five graph loops that run over checkpointed generations
  * (`graft.spark.Generations`): star contraction, integer PageRank,
  * k-core peeling, BFS and label propagation. Each gives back every
  * generation it supersedes, and the graph queries built on them keep
  * their warm Spark-job counts. */
class GenerationsSpec extends SparkSpecBase {

  import spark.implicits._

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

  test("warm graph queries launch no more Spark jobs than their pinned counts (sf0.01)") {
    val sf = "/root/testdata/sf0.01"
    // warm: the verified pairs and component labels are memoized by a
    // first run; a drained count of a second run is what is gated
    val pinned = Seq(
      "q180_pagerank" -> 37,
      "q219_kcore_membership" -> 26,
      "q220_canonical_depth" -> 25,
      "q248_pagerank" -> 31,
      "q268_label_propagation" -> 30)
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
