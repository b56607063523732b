package graft

import graft.operators.{Compaction, IvfPq}
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Executes the q342 size-tiered compaction DECISION and pins its
  * contract: folding exactly the flagged tiers shrinks the segment
  * count, conserves every row, and leaves the served answer
  * bit-identical — the policy changes LAYOUT, never results. */
class CompactionSpec extends SparkSpecBase {

  test("q342: the decision folds some tiers and keeps others; census conserves the delta") {
    val policy = SparkEntry.queries("q342_compaction_policy")(spark, sf001)
      .collect()
    assert(policy.length == Compaction.nSegs)
    // the fixture must exercise BOTH actions — a policy that always
    // folds (or never does) proves nothing
    assert(policy.exists(_.getBoolean(4)) && policy.exists(!_.getBoolean(4)),
      s"policy must mix fold and keep: ${policy.mkString(", ")}")
    // census conservation: segment rows re-sum to the delta population
    val deltaN = Tables.embeddings(spark, sf001)
      .where(IvfPq.isDeltaVec).count()
    assert(policy.map(_.getLong(1)).sum == deltaN)
    // tier arithmetic: every tier with >= minThreshold segments folds,
    // every other keeps (the rule, re-checked against the output)
    val byTier = policy.groupBy(_.getInt(2))
    policy.foreach { r =>
      assert(r.getBoolean(4) ==
        (byTier(r.getInt(2)).length >= Compaction.minThreshold))
    }
  }

  test("q342 executed: folded layout serves bit-identical results with fewer segments") {
    val policy = SparkEntry.queries("q342_compaction_policy")(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getInt(2), r.getBoolean(4)))
    val paths = Compaction.sizedSegments(spark, sf001)
    val base = IvfPq.baseSegment(spark, sf001)
    val before = IvfPq.searchSegments(spark, sf001, base +: paths)
      .collect().map(_.toSeq).toSeq
    // execute the decision: each folding tier's segments union into
    // ONE next-generation segment (q146's copy-codes rewrite — no
    // embedding read, no re-assignment); kept segments stay as-is
    val folded = policy.groupBy(_._2).toSeq.sortBy(_._1).flatMap {
      case (tier, segs) =>
        if (segs.head._3)
          Seq(IvfPq.writeSegment(spark, sf001, s"sztgen$tier")(
            segs.map(s => IvfPq.readSegment(spark, paths(s._1)))
              .reduce(_ union _)))
        else segs.map(s => paths(s._1))
    }
    assert(folded.length < paths.length,
      s"folding must shrink the layout: ${paths.length} -> ${folded.length}")
    val after = IvfPq.searchSegments(spark, sf001, base +: folded)
      .collect().map(_.toSeq).toSeq
    assert(after === before,
      "compaction must not change the served answer")
    // and the whole family agrees with q146's single-generation fold
    val q146 = SparkEntry.queries("q146_ivfpq_compacted")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(after === q146)
  }
}
