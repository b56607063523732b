package perfbench

/** Turns the recorded ops into the benchmark's metrics.
  *
  * End to end (any run): `cycle_s` is the median time of one cycle of
  * the workload's writes — a whole pipeline iteration, or a refresh;
  * `op_p50_ms` is the median of the workload's latency ops — the
  * pipeline's dbt step, or the serves; `held_mb` is the most Spark block
  * storage held when any op returned.
  *
  * Per layer (traced runs): computed over the ops of traced cycles
  * only. Ratios per op are totals over those ops divided by their
  * count. Layers a workload does not touch read 0.
  */
final class Metrics(rec: Recorder, cores: Int, w: Workload, tracing: Boolean) {
  val timed: Seq[OpRecord] = rec.done.toList

  private def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Ops whose latency the workload reports: the serves, or the
    * pipeline's dbt step (`TaxiPipeline.run`: both models and the DQ
    * tests). */
  private def latencyOps(ops: Seq[OpRecord]): Seq[OpRecord] = w match {
    case _: CatalogServing => ops.filter(_.phase == "serve")
    case _ => ops.filter(_.name == "models.run")
  }

  /** Wall time of each cycle's write part, in seconds. */
  private def cycleSeconds(ops: Seq[OpRecord]): Seq[Double] = {
    val part = w match {
      case _: CatalogServing => ops.filter(_.phase == "refresh")
      case _ => ops
    }
    part.groupBy(_.cycle).toSeq.sortBy(_._1).map { case (_, os) =>
      (os.map(_.end).max - os.map(_.start).min) / 1000.0
    }
  }

  private val ok = timed.filterNot(_.failed)
  private val endToEndOps = if (tracing) ok.filterNot(_.traced) else ok

  val samples: Seq[(String, Int)] = Seq(
    "op_p50_ms" -> latencyOps(endToEndOps).size,
    "cycle_s" -> cycleSeconds(endToEndOps).size)

  /** Each timed cycle's write part in seconds, in run order. */
  def cycleTimes: Seq[Double] = cycleSeconds(endToEndOps)

  def endToEnd: Seq[(String, String)] = Seq(
    "cycle_s" -> Json.num(median(cycleSeconds(endToEndOps))),
    "op_p50_ms" -> Json.num(median(latencyOps(endToEndOps).map(_.wallMs))),
    "held_mb" -> Json.num(endToEndOps.map(_.heldBytes).maxOption.getOrElse(0L) / 1e6))

  /** Covered length of a set of intervals. */
  private def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) covered += b - from
      reach = math.max(reach, b)
    }
    covered
  }

  private def clip(o: OpRecord, iv: Seq[(Long, Long)]) =
    iv.map { case (a, b) => (math.max(a, o.start), math.min(b, o.end)) }

  def perLayer(held: (Int, Long), memoAtEnd: Int, stealPct: Double): Seq[(String, String)] = {
    val tr = ok.filter(_.traced)
    val n = math.max(tr.size, 1).toDouble
    val mb = 1e6
    def tot(f: OpRecord => Long): Double = tr.map(f).sum.toDouble
    def perCycle(name: String)(f: OpRecord => Double): Double =
      median(tr.filter(_.name == name).map(f))
    def layerJobs(o: OpRecord, layer: String) = o.jobSpans.filter(_._1 == layer)
    def layerBytes(o: OpRecord, layer: String, i: Int) =
      o.layerBytes.get(layer).map(_(i).toDouble).getOrElse(0.0)
    def dqBusyMs(o: OpRecord) = union(clip(o, layerJobs(o, "dq").map(j => (j._2, j._3)).toSeq))

    val gap = tr.map(o => o.wallMs - union(clip(o, o.jobSpans.map(j => (j._2, j._3)).toSeq)))
    val lat = latencyOps(tr)

    // the same op's time late in the run over early in the run, by cycle
    val cycles = ok.map(_.cycle).distinct.sorted
    val q = math.max(1, cycles.size / 4)
    val (early, late) = (cycles.take(q).toSet, cycles.takeRight(q).toSet)
    val lateOverEarly = median(latencyOps(ok).groupBy(_.name).values.flatMap { os =>
      val e = median(os.filter(o => early(o.cycle)).map(_.wallMs))
      val l = median(os.filter(o => late(o.cycle)).map(_.wallMs))
      if (e > 0 && l > 0 && early != late) Some(l / e) else None
    }.toSeq)

    // first occurrence of an op in a cycle is cold, later ones warm
    val warmOverCold = median(lat.groupBy(_.name).values.flatMap { os =>
      val byCycle = os.groupBy(_.cycle).values.map(_.sortBy(_.start))
      val cold = byCycle.map(_.head.wallMs).toSeq
      val warmT = byCycle.flatMap(_.tail.map(_.wallMs)).toSeq
      if (warmT.nonEmpty) Some(median(warmT) / median(cold)) else None
    }.toSeq)

    val stream = rec.streamCounts
    val tracedCycles = tr.map(_.cycle).distinct
    def streamMedian(i: Int, scale: Double) =
      median(tracedCycles.map(c => Option(stream.get(c)).map(_(i) / scale).getOrElse(0.0)))

    val (heldRdds, heldBytes, memoEntries) = w match {
      case cs: CatalogServing =>
        val h = tracedCycles.flatMap(c => cs.heldAfterRefresh.lift(c))
        (median(h.map(_._1.toDouble)), median(h.map(_._2.toDouble)),
          median(tracedCycles.flatMap(c => cs.evicted.lift(c)).map(_.toDouble)))
      case _ => (held._1.toDouble, held._2.toDouble, memoAtEnd.toDouble)
    }

    val tracedLat = median(lat.map(_.wallMs))
    val untracedLat = median(latencyOps(ok.filterNot(_.traced)).map(_.wallMs))

    Seq(
      "spark.jobs_per_op" -> tot(_.jobs) / n,
      "spark.stages_per_op" -> tot(_.stages) / n,
      "spark.tasks_per_op" -> tot(_.tasks) / n,
      "spark.driver_gap_ms" -> gap.sum / n,
      "spark.core_busy_ratio" -> tot(_.runTimeMs) / math.max(1.0, tr.map(_.wallMs).sum * cores),
      "spark.executor_cpu_s" -> tot(_.cpuNs) / 1e9 / n,
      "spark.shuffle_write_mb" -> tot(_.shuffleWrite) / mb / n,
      "spark.shuffle_read_mb" -> tot(_.shuffleRead) / mb / n,
      "spark.spill_mb" -> tot(_.spill) / mb / n,
      "spark.gc_s" -> tot(_.gcMs) / 1000.0 / n,
      "spark.late_over_early" -> lateOverEarly,
      "spark.held_mb" -> held._2 / mb,
      "plan.planning_ms" -> tot(_.planningMs) / n,
      "plan.actions_per_op" -> tot(_.actions) / n,
      "sources.input_mb" -> tot(_.inputBytes) / mb / n,
      "sources.input_rows" -> tot(_.inputRows) / n,
      "etl.load_s" -> perCycle("etl.load")(_.wallMs / 1000.0),
      "etl.output_mb" -> perCycle("etl.load")(_.outputBytes / mb),
      "models.run_s" -> perCycle("models.run")(o => (o.wallMs - dqBusyMs(o)) / 1000.0),
      "models.output_mb" -> perCycle("models.run")(layerBytes(_, "models", 1) / mb),
      "models.jobs" -> perCycle("models.run")(layerJobs(_, "models").size.toDouble),
      "dq.run_s" -> perCycle("models.run")(dqBusyMs(_) / 1000.0),
      "dq.jobs" -> perCycle("models.run")(layerJobs(_, "dq").size.toDouble),
      "dq.input_mb" -> perCycle("models.run")(layerBytes(_, "dq", 0) / mb),
      "ml.pull_s" -> perCycle("ml.pull")(_.wallMs / 1000.0),
      "ml.fit_s" -> perCycle("ml.fit")(_.wallMs / 1000.0),
      "ml.jobs" -> median(tracedCycles.map(c =>
        tr.filter(o => o.cycle == c && o.family == "ml").map(_.jobs).sum.toDouble)),
      "streaming.drain_s" -> streamMedian(3, 1000.0),
      "streaming.queries_started" -> streamMedian(0, 1.0),
      "streaming.triggers" -> streamMedian(1, 1.0),
      "streaming.rows_in" -> streamMedian(2, 1.0),
      "memo.entries" -> memoEntries,
      "memo.warm_over_cold" -> warmOverCold,
      "barrier.held_rdds" -> heldRdds,
      "barrier.held_mb" -> heldBytes / mb,
      "env.steal_pct" -> stealPct,
      "trace.overhead_pct" -> (if (untracedLat > 0) 100.0 * (tracedLat / untracedLat - 1) else 0.0)
    ).map { case (k, v) => k -> Json.num(v) } ++
      Metrics.families.map { f =>
        s"$f.p50_ms" -> Json.num(median(lat.filter(_.family == f).map(_.wallMs)))
      }
  }
}

object Metrics {
  /** Every family a workload's latency ops come from. */
  val families: Seq[String] =
    ((Main.analyst ++ Main.corpus).map(_._1) :+ "streaming.Streams").distinct
}
