package graft.spark

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.graftshim.Checkpoints

/** The one loop over checkpointed generations of a relation, behind
  * star contraction, integer PageRank, k-core peeling, BFS and label
  * propagation. A round's plan reads the generation before it, so
  * lineage grows with the round count (exponentially where a round
  * reads it more than once: star contraction embeds ~10 copies), and
  * [[run]] owns the protocol that keeps such a loop bounded:
  *  - cadence: round r is `localCheckpoint`ed when r is a multiple of
  *    `every`, and the last round always is. A loop whose rounds read
  *    their predecessor once grows lineage linearly and needs a barrier
  *    only every few rounds; each barrier is a job launch;
  *  - rows: every checkpoint observes its own row count (an
  *    `Observation` on the checkpoint job), so no round pays a
  *    `count()` job of its own;
  *  - release: a generation's blocks are freed through
  *    `Checkpoints.release` (a checkpointed frame's `unpersist()` is a
  *    no-op) as soon as a newer one supersedes it; on any throw every
  *    generation still held is freed, and at the end every one the
  *    result does not read;
  *  - stopping: a fixed loop runs `rounds` rounds; an until-stable loop
  *    stops at the first checkpointed generation `stable` accepts
  *    against the one before it, and throws when `rounds` rounds found
  *    none (a silent partial result would surface only downstream);
  *  - width: rounds run with shuffles sized to the loop's data
  *    ([[Sessions.withLoopPartitions]]), not to the core count.
  */
object Generations {

  /** A checkpointed generation and the rows its checkpoint counted. */
  final case class Gen(df: DataFrame, rows: Long)

  /** Runs `step` from `seed` for `rounds` rounds, or until `stable`,
    * and returns `finish` of the live frames with the rounds run.
    *
    * `step` and `finish` see the live frames oldest first, the newest
    * last: only the newest, or every round's frame when `keep` holds
    * each generation until the end. `basis` is the row count that sizes
    * the loop's shuffles; with none, the seed's own rows size them. The
    * seed is checkpointed when its rows size the loop (before the width
    * is set) or when `stable` must compare round 1 against it;
    * otherwise round 1 reads it as given. */
  def run(loop: String, seed: DataFrame, basis: Option[Long], every: Int,
      rounds: Int, stable: Option[(Gen, Gen) => Boolean], keep: Boolean)(
      step: (Seq[DataFrame], Int) => DataFrame)(
      finish: Seq[DataFrame] => DataFrame): (DataFrame, Int) = {
    var held = Vector.empty[Gen]
    def checkpoint(df: DataFrame): Gen = {
      val rows = Observation()
      val ck = df.observe(rows, count(lit(1)).as("rows")).localCheckpoint()
      held :+= Gen(ck, rows.get("rows").asInstanceOf[Long])
      held.last
    }
    def release(gs: Seq[Gen]): Unit = {
      gs.foreach(g => Checkpoints.release(g.df))
      held = held.diff(gs)
    }
    try {
      var last = if (basis.isEmpty) Some(checkpoint(seed)) else None
      Sessions.withLoopPartitions(seed.sparkSession, basis.getOrElse(last.get.rows)) {
        if (last.isEmpty && stable.isDefined) last = Some(checkpoint(seed))
        var live = Vector(last.fold(seed)(_.df))
        var round = 0
        var done = false
        while (!done && round < rounds) {
          round += 1
          live = (if (keep) live else Vector()) :+ step(live, round)
          if (round % every == 0 || round == rounds) {
            val g = checkpoint(live.last)
            done = stable.exists(same => last.exists(same(_, g)))
            if (!keep) release(held.init)
            last = Some(g)
            live = live.init :+ g.df
          }
        }
        if (stable.isDefined && !done)
          throw new IllegalStateException(s"$loop did not converge in $rounds rounds")
        val out = finish(live)
        release(held.filterNot(g => Checkpoints.reads(out, g.df)))
        (out, round)
      }
    } catch {
      case t: Throwable => release(held); throw t
    }
  }
}
