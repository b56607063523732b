package graft

import graft.operators.GraphCore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** k-core peeling and BFS provenance depth on planted topologies with
  * hand-checkable answers. */
class GraphCoreSpec extends SparkSpecBase {

  import spark.implicits._

  private def edges(ps: (Long, Long)*): DataFrame =
    ps.toDF("doc_a", "doc_b")

  private def sym(df: DataFrame): DataFrame =
    df.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionByName(df.select(col("doc_b").as("u"), col("doc_a").as("v")))

  /** Asserts that `f` throws an IllegalStateException and leaves no
    * persisted RDD behind: a loop that gives up must release every
    * generation it still holds. */
  private def throwsWithoutLeak(f: => Any): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    assertThrows[IllegalStateException](f)
    val leaked = sc.getPersistentRDDs.keySet.diff(before)
    assert(leaked.isEmpty, s"the loop leaked persisted RDDs: ${leaked.mkString(", ")}")
  }

  test("peel: clique survives 3-core, cycle survives only 2-core, path peels away") {
    // 4-clique on 1..4, 5-cycle on 10..14, 4-path on 20..23
    val clique = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cycle = Seq((10L, 11L), (11L, 12L), (12L, 13L), (13L, 14L), (14L, 10L))
    val path = Seq((20L, 21L), (21L, 22L), (22L, 23L))
    val e = sym(edges(clique ++ cycle ++ path: _*))

    val core2 = GraphCore.peel(e, 2).select("u").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(core2 == ((1L to 4L) ++ (10L to 14L)).toSet,
      "path must peel out of the 2-core; clique and cycle stay")

    val core3 = GraphCore.peel(GraphCore.peel(e, 2), 3).select("u").distinct()
      .collect().map(_.getLong(0)).toSet
    assert(core3 == (1L to 4L).toSet, "only the clique is 3-degenerate")
  }

  test("peel throws rather than returning a partial core") {
    // a 20-path needs ~9 endpoint-stripping rounds > the 6-round cap
    val longPath = (0L until 19L).map(i => (i + 100, i + 101))
    val e = sym(edges(longPath: _*))
    throwsWithoutLeak(GraphCore.peel(e, 2, maxIters = 3))
  }

  test("bfsHops: exact hop counts on a planted path + branch") {
    // 0-1-2-3 with a branch 1-10
    val e = sym(edges((0L, 1L), (1L, 2L), (2L, 3L), (1L, 10L)))
    val seeds = Seq(0L).toDF("node")
    val hops = GraphCore.bfsHops(e, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hops == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 10L -> 2L, 3L -> 3L))
  }

  test("bfsHops throws past the hop cap instead of truncating depths") {
    val e = sym(edges((0L, 1L), (1L, 2L), (2L, 3L)))
    throwsWithoutLeak(GraphCore.bfsHops(e, Seq(0L).toDF("node"), cap = 2).count())
  }
}
