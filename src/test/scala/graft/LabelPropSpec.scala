package graft

import graft.operators.GraphCore
import org.apache.spark.sql.DataFrame

/** LPA on planted topology: two 4-cliques joined by ONE bridge edge
  * must keep distinct labels (where connected components would merge
  * them) — the point of label competition. */
class LabelPropSpec extends SparkSpecBase {

  import spark.implicits._

  private def sym(ps: Seq[(Long, Long)]): DataFrame =
    ps.toDF("u", "v").unionByName(ps.map(_.swap).toDF("u", "v"))

  private def lpa(edges: DataFrame, rounds: Int): Map[Long, Long] =
    GraphCore.lpa(edges, rounds).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("two bridged 4-cliques keep separate labels; CC would merge them") {
    val cliqueA = for (a <- 1L to 4L; b <- (a + 1) to 4L) yield (a, b)
    val cliqueB = for (a <- 11L to 14L; b <- (a + 1) to 14L) yield (a, b)
    val bridge = Seq((4L, 11L))
    val e = sym(cliqueA ++ cliqueB ++ bridge)
    val got = lpa(e, 4)
    val la = (1L to 4L).map(got).toSet
    val lb = (11L to 14L).map(got).toSet
    assert(la.size == 1 && lb.size == 1, s"cliques must be internally uniform: $got")
    assert(la != lb, "bridged cliques must NOT merge under label competition")
  }

  test("deterministic tie-break: a 2-node edge converges to the min label") {
    val e = sym(Seq((7L, 9L)))
    // round 1: each adopts the other's label (7<->9); round 2: back.
    // With the (count desc, min lbl) rule both see one neighbor label;
    // after an even round count labels return to start — assert the
    // exact fixed alternation rather than accidental convergence.
    assert(lpa(e, 2) == Map(7L -> 7L, 9L -> 9L))
    assert(lpa(e, 1) == Map(7L -> 9L, 9L -> 7L))
  }
}
