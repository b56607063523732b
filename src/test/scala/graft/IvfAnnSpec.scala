package graft

import graft.operators.{IvfAnn, Similarity}
import org.apache.spark.sql.functions._

class IvfAnnSpec extends SparkSpecBase {

  test("expression-form assignment equals the join+heap form cell-for-cell") {
    import org.apache.spark.sql.functions._
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val centroids = graft.operators.IvfAnn.fixedCentroids(emb, 10)
    val viaExpr = graft.operators.IvfAnn.assign(emb, centroids)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaJoin = graft.operators.IvfAnn.assignJoined(emb, centroids)
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaExpr.nonEmpty)
    assert(viaExpr === viaJoin)
  }

  test("l2-metric assignment equals a brute-force min-distance reference") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val centroids = graft.operators.IvfAnn.fixedCentroids(emb, 10)
    val cents = centroids.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)
    val viaExpr = graft.operators.IvfAnn.assign(emb, centroids, metric = "l2")
      .select("vec_id", "cell").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // driver-side reference: same left-to-right (x-y)^2 accumulation,
    // strict < so ties keep the lowest cell id
    val expected = emb.select("vec_id", "embedding").collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      var bestId = cents(0)._1; var bestD = Double.MaxValue
      cents.foreach { case (id, c) =>
        var d = 0.0; var i = 0
        while (i < math.min(v.length, c.length)) {
          val t = v(i) - c(i); d += t * t; i += 1
        }
        if (d < bestD) { bestD = d; bestId = id }
      }
      r.getLong(0) -> bestId
    }.toMap
    assert(viaExpr.nonEmpty)
    assert(viaExpr === expected)
    // the two metrics must diverge when norms differ (on the near-
    // uniform-norm fixture they legitimately coincide): v=[4,0] is
    // direction-identical to c0=[1,0] (cos 1) but DISTANCE-closer to
    // c1=[5,1] (d² 2 vs 9)
    import spark.implicits._
    val v = Seq((0L, Seq(4f, 0f))).toDF("vec_id", "embedding")
    val cents2 = Seq((0L, Seq(1f, 0f)), (1L, Seq(5f, 1f)))
      .toDF("cell", "centroid")
    def cellOf(metric: String): Long =
      graft.operators.IvfAnn.assign(v, cents2, metric)
        .select("cell").head().getLong(0)
    assert(cellOf("cos") === 0L)
    assert(cellOf("l2") === 1L)
  }

  test("IVF search returns k ranked neighbors and achieves useful recall vs brute force") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val index = IvfAnn.build(emb, numCells = 8)
    val centroids = IvfAnn.centroidDf(spark, index.model)
    val approx = IvfAnn.search(index.assigned, centroids, col("vec_id") < 16, k = 5, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val exact = Similarity.bruteForceTopK(emb, col("vec_id") < 16, 5)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(approx.map(_._1).distinct.length === 16)
    assert(approx.groupBy(_._1).values.forall(_.length <= 5))
    val recall = approx.toSet.intersect(exact.toSet).size.toDouble / exact.length
    // random 64-d gaussian vectors are a worst case for IVF; with 3 of 8
    // cells probed, expect well above the 3/8 floor of random probing
    assert(recall >= 0.3, s"recall=$recall")
  }

  test("fixed-centroid IVF: assignment is total and search output is well-formed") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val assigned = IvfAnn.assign(emb, centroids)
    assert(assigned.count() === emb.count()) // every vector lands in exactly one cell
    val out = IvfAnn.search(assigned, centroids, col("vec_id") < 8, k = 3, nProbe = 2)
      .collect()
    assert(out.map(_.getLong(0)).distinct.length === 8)
    assert(out.groupBy(_.getLong(0)).values.forall(g =>
      g.map(_.getInt(1)).sorted.sameElements(1 to g.length)))
  }

  test("index build is deterministic under the fixed seed") {
    val emb = graft.sources.Tables.embeddings(spark, sf001)
    val a = IvfAnn.build(emb, 8).assigned.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    val b = IvfAnn.build(emb, 8).assigned.select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(a === b)
  }

  test("q172: recall eval agrees with a driver-side exact/approx intersection") {
    val recall = SparkEntry.queries("q172_ivf_recall")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(recall.keySet === (0L until 8L).toSet)

    // the approx side IS q55's output — reuse it
    val approx = SparkEntry.queries("q55_ivf_fixed_topk")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // exact top-3 recomputed from collected embeddings
    val vecs = graft.sources.Tables.embeddings(spark, sf001)
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i) }
      d / math.sqrt(na * nb)
    }
    (0L until 8L).foreach { q =>
      val exact3 = vecs.keys.filter(_ != q).toSeq
        .map(m => (-cos(vecs(q), vecs(m)), m)).sorted.take(3).map(_._2).toSet
      val expected = exact3.intersect(approx.getOrElse(q, Set.empty)).size
      assert(recall(q) === expected,
        s"query $q: n_hit ${recall(q)} != driver intersection $expected")
    }
  }

  test("q316: ANN delete propagation has teeth and never serves a tombstone") {
    import graft.operators.IvfPq
    val served = SparkEntry.queries("q316_ann_delete_propagation")(spark, sf001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // no tombstoned id is ever served
    assert(served.forall(_ % IvfPq.vecDeleteModulus != 0),
      s"tombstoned ids served: ${served.filter(_ % IvfPq.vecDeleteModulus == 0)}")
    // and the deletions actually CHANGED the answer (a delete test
    // whose tombstones never reach the top-k proves nothing)
    val preDelete = SparkEntry.queries("q139_ivfpq_partitioned")(spark, sf001)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(served != preDelete,
      "q316 must differ from the pre-delete q139 top-k at this SF")
    assert(preDelete.exists(_ % IvfPq.vecDeleteModulus == 0),
      "the pre-delete top-k should contain a tombstoned id at this SF")
  }

  test("q327 planner: policy is monotone, consistent, and nProbeForRecall reads it") {
    import graft.operators.IvfPq
    val rows = SparkEntry.queries("q327_nprobe_planner")(spark, sf001)
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == IvfPq.plannerTargets)
    rows.foreach { r =>
      assert(IvfPq.plannerSweep.contains(r.getInt(1)),
        s"n_probe ${r.getInt(1)} not in the sweep")
      // a reached target's recall must actually meet it (the exact
      // integer gate restated): hits*100 >= target*total
      if (r.getBoolean(2))
        assert(r.getLong(3) * 100 >= r.getInt(0).toLong * r.getLong(4),
          s"target ${r.getInt(0)}: reached=true but recall below target")
    }
    // higher targets never choose a smaller probe width, and cost
    // grows with the probe width it buys
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getInt(1) <= b.getInt(1), "n_probe must be monotone in target")
      assert(a.getLong(6) <= b.getLong(6), "cost_rows must be monotone")
    }
    // the config function returns exactly the policy row's choice
    val p90 = rows.find(_.getInt(0) == IvfPq.plannedTargetPct).get.getInt(1)
    assert(IvfPq.nProbeForRecall(spark, sf001, IvfPq.plannedTargetPct) == p90)
    // and the planner-driven serve returns k ranked rows per query
    val served = SparkEntry.queries("q328_planned_batch_serve")(spark, sf001)
    val perQ = served.groupBy("query_id").count().collect()
    assert(perQ.nonEmpty && perQ.forall(_.getLong(1) == IvfPq.k.toLong))
  }

  test("q332 budget policy: feasibility honest, recall/probe monotone in budget") {
    import graft.operators.IvfPq
    val rows = SparkEntry.queries("q332_scan_budget_planner")(spark, sf001)
      .collect().sortBy(_.getInt(0))
    assert(rows.map(_.getInt(0)).toSeq == IvfPq.plannerBudgets)
    rows.foreach { r =>
      assert(IvfPq.plannerSweep.contains(r.getInt(1)))
      // a feasible choice actually fits its budget; an infeasible one
      // reports the sweep minimum and says so
      if (r.getBoolean(2)) assert(r.getLong(6) <= r.getInt(0).toLong,
        s"budget ${r.getInt(0)}: scan_ppm ${r.getLong(6)} over budget")
      else assert(r.getInt(1) == IvfPq.plannerSweep.min)
    }
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getInt(1) <= b.getInt(1), "n_probe monotone in budget")
      assert(a.getLong(4) <= b.getLong(4), "recall monotone in budget")
    }
  }

  test("serve-path broadcast gates are per-relation: over-budget never broadcasts, deep pools fall back selectively") {
    import graft.operators.IvfPq
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf001)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val path = IvfPq.codesSegment(spark, sf001, "full",
      IvfAnn.assign(emb, centroids))
    val queries = emb.where(pmod(col("vec_id"), lit(97L)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // the gates control FORCED broadcast hints (Spark's own
    // stats-based auto-broadcast is size-aware by definition and may
    // legitimately fire on this tiny fixture) — so count the hints in
    // the optimized logical plan, not BroadcastExchange nodes
    def forcedBroadcasts(maxQ: Long, adcCands: Int): Int = {
      import org.apache.spark.sql.catalyst.plans.logical.{Join, BROADCAST}
      IvfPq.batchServe(spark, Seq(path), centroids, queries, emb,
        maxBroadcastQueries = maxQ, adcCands = adcCands)
        .queryExecution.optimizedPlan.collect {
          case j: Join => Seq(j.hint.leftHint, j.hint.rightHint)
            .flatten.count(_.strategy.contains(BROADCAST))
        }.sum
    }
    val base = forcedBroadcasts(100000L, 50)
    assert(base >= 3, s"default serve must force its bounded broadcasts, got $base")
    // under the query budget with a DEEP candidate pool, exactly the
    // candidate relation's gate flips to shuffle — per-relation
    // gating, not all-or-nothing
    assert(forcedBroadcasts(100000L, 40000000) == base - 1,
      "a deep candidate pool must drop exactly the candidate broadcast")
    // past the query budget the capped count must disable every
    // query-scaled broadcast (a capped count must never masquerade as
    // a small relation); the one survivor is the |cells|-bounded
    // centroid routing broadcast, which never scales with queries
    assert(forcedBroadcasts(2L, 50) <= 1,
      "over-budget serve must not force query-scaled broadcasts")
  }

  test("q340 sampled planner: recall estimate tracks the full-log exact curve") {
    import graft.operators.IvfPq
    import graft.sources.Tables
    val emb = Tables.embeddings(spark, sf001)
    // the sample really is a strict, non-trivial subset of the log
    val nLog = emb.count()
    val nSample = IvfPq.sampledQueries(spark, sf001).count()
    assert(nSample > 0 && nSample < nLog,
      s"hash sample must be a proper subset: $nSample of $nLog")
    // ~4/16 of the log within binomial slack
    assert(math.abs(nSample.toDouble / nLog - 0.25) < 0.08)
    // per swept nProbe: |sampled recall − full-log exact recall| small.
    // The bound is measured head-room over the fixture (sample of ~125
    // queries × k=10 ⇒ SE ≈ 1.3%), not an assumption: 5 points (50k
    // ppm) catches a broken sample without flaking on estimator noise.
    val full = IvfPq.recallCurveFor(spark, sf001, IvfPq.fullQueryLog(emb))
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    val sampled = IvfPq.recallCurveFor(spark, sf001,
      IvfPq.sampledQueries(spark, sf001))
      .collect().map(r => r.getInt(0) -> r.getLong(3)).toMap
    assert(full.keySet == sampled.keySet)
    val worst = full.keys.map(p => math.abs(full(p) - sampled(p))).max
    assert(worst <= 50000L,
      s"sampled recall curve drifts ${worst} ppm from the exact curve")
    // the sampled POLICY is well-formed like q327's: monotone targets,
    // probes from the sweep
    val pol = SparkEntry.queries("q340_nprobe_planner_sampled")(spark, sf001)
      .collect()
    assert(pol.map(_.getInt(0)).toSeq == IvfPq.plannerTargets)
    pol.foreach(r => assert(IvfPq.plannerSweep.contains(r.getInt(1))))
    pol.sliding(2).foreach { case Array(a, b) =>
      assert(a.getInt(1) <= b.getInt(1), "n_probe monotone in target")
    }
  }

  test("q352: the refresh decision flips exactly with a planted drift") {
    import spark.implicits._
    // axis-pure unit vectors make assignment cosines exactly 0 or 1,
    // so ties resolve by the documented lowest-cell rule and the
    // census is fully deterministic
    def v(axis: Int): Array[Float] = {
      val a = Array.fill(4)(0f); a(axis) = 1f; a
    }
    val base = (0L until 40L).map(i => (i, v((i % 2).toInt)))
    val arrivals = (100L until 120L).map(i => (i, v(2)))  // a NEW mode
    val corpus = (base ++ arrivals).toDF("vec_id", "embedding")
    def cents(rows: Seq[(Long, Array[Float])]) =
      rows.toDF("cell", "centroid")
    val persisted = cents(Seq(0L -> v(0), 1L -> v(1)))
    // control: the re-fit sample found no new mode (one more base
    // vector duplicating an existing centroid) — nothing reassigns,
    // the policy must say KEEP
    val control = graft.operators.IvfAnn.centroidRefreshPolicy(
      corpus, persisted, cents(Seq(0L -> v(0), 1L -> v(1), 2L -> v(0))))
      .collect()
    assert(control.forall(_.getLong(2) == 0L), "control must not move")
    assert(control.forall(!_.getBoolean(3)), "control must decide KEEP")
    // planted drift: the re-fit sample captures the arrival mode —
    // every arrival reassigns (20 of 60 ≥ 1/5), the policy must say
    // REFRESH, and the moved mass sits in the cell that was serving
    // the arrivals
    val drift = graft.operators.IvfAnn.centroidRefreshPolicy(
      corpus, persisted, cents(Seq(0L -> v(0), 1L -> v(1), 100L -> v(2))))
      .collect()
    assert(drift.forall(_.getBoolean(3)), "drift must decide REFRESH")
    val cell0 = drift.find(_.getLong(0) == 0L).get
    assert(cell0.getLong(1) == 40L && cell0.getLong(2) == 20L,
      "the arrival mass must be the moved mass of its stale cell")
    val cell1 = drift.find(_.getLong(0) == 1L).get
    assert(cell1.getLong(2) == 0L, "the untouched cell must not move")
  }

  test("q362: the refresh decision is EXECUTED — the branch flips with planted drift and the served answer switches index artifacts") {
    import spark.implicits._
    import graft.operators.{IvfAnn, IvfPq}
    import graft.sources.Tables
    def v(axis: Int): Array[Float] = {
      val a = Array.fill(64)(0f); a(axis) = 1f; a
    }
    // stride-rule-aligned planted corpora: persisted cells are ids ≡ 0
    // (mod 50), the re-fit sample adds ids ≡ 49 (mod 50). DRIFT: the
    // refit ids plus a 100-id wave (ids ≥ 400) carry a NEW mode —
    // 108/500 = 21.6% reassigns (margin over the 20% threshold, per
    // the planted-margin rule), decision REFRESH. CONTROL: no wave —
    // only the 10 refit ids (2%) move, decision KEEP.
    def planted(wave: Boolean) = (0L until 500L).map { i =>
      val newMode = (i % 50 == 49) || (wave && i >= 400)
      (i, if (newMode) v(5) else v(((i / 50) % 4).toInt))
    }.toDF("vec_id", "embedding")
    def queriesOf(emb: org.apache.spark.sql.DataFrame) = emb
      .where(pmod(col("vec_id"), lit(IvfPq.batchQueryMod)) === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    for ((wave, expectRefresh, tag) <- Seq(
        (true, true, "specdrift"), (false, false, "speccontrol"))) {
      val emb = planted(wave).localCheckpoint()
      val queries = queriesOf(emb)
      val (refresh, served) =
        IvfPq.refreshExecutedServe(spark, sf001, emb, queries, s"${tag}_")
      assert(refresh == expectRefresh,
        s"$tag: planted corpus must decide refresh=$expectRefresh")
      // the served answer equals a fresh build under the SPEC-chosen
      // centroid set for that branch — pinning which artifacts served
      val cents =
        if (expectRefresh) IvfAnn.refitSample(emb)
        else IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
      val freshPath = IvfPq.codesSegment(spark, sf001, s"${tag}_fresh",
        IvfAnn.assign(emb, cents))
      val want = IvfPq.batchServe(spark, Seq(freshPath), cents, queries, emb)
        .collect().map(_.toSeq).toSeq
      assert(served.collect().map(_.toSeq).toSeq === want,
        s"$tag: the executed serve must equal a fresh build under the " +
          "decision's centroid set")
    }
    // the REAL corpus decides REFRESH (q352) — the executed serve must
    // be the refreshed-index answer and must DIFFER from serving the
    // stale artifacts: the execution switched indexes, not just a flag
    val emb = Tables.embeddings(spark, sf001)
    val queries = queriesOf(emb)
    val (refresh, served) =
      IvfPq.refreshExecutedServe(spark, sf001, emb, queries, "specreal_")
    assert(refresh, "the sf0.001 corpus decides REFRESH under q352")
    val persisted = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val stalePath = IvfPq.codesSegment(spark, sf001, "specreal_stale",
      IvfAnn.assign(emb, persisted))
    val stale = IvfPq.batchServe(spark, Seq(stalePath), persisted, queries, emb)
      .collect().map(_.toSeq).toSeq
    assert(served.collect().map(_.toSeq).toSeq !== stale,
      "the refreshed-index serve must differ from the stale-index serve " +
        "on the drifted corpus")
  }

  test("q352: an embeddings table of several files decides as the one-file table does") {
    // three files interleave the ids, so the centroid sample's scan
    // order is not ascending
    val dir = java.nio.file.Files.createTempDirectory("graft_sf_emb3").toString
    graft.sources.Tables.embeddings(spark, sf001).repartition(3)
      .write.parquet(s"$dir/embeddings.parquet")
    val q352 = SparkEntry.queries("q352_centroid_refresh_policy")
    def rows(d: String) = q352(spark, d).collect().map(_.toSeq).toSeq
    assert(rows(dir) === rows(sf001))
  }

  test("refresh probe smoke: planted drift trips the decision and the refresh pays in probed rows") {
    // small-target run of the bench A/B so a probe regression fails
    // here, not silently inside a 10-minute bench stage
    val kvs = graft.ScaleBench.refreshProbe(spark, sf001, 20000).toMap
    kvs.toSeq.sortBy(_._1).foreach(kv => info(s"${kv._1} = ${kv._2}"))
    assert(kvs("m1_refresh_decision") == 1.0,
      "the planted arrival wave must trip the refresh decision")
    assert(kvs("m1_refresh_reassign_rate") >= 0.2)
    Seq("stale", "refreshed").foreach { t =>
      val r = kvs(s"m1_refresh_recall3_$t")
      assert(r >= 0.0 && r <= 1.0, s"recall3_$t out of range: $r")
      assert(kvs(s"m1_refresh_probed_rows_per_q_$t") > 0.0)
    }
    assert(kvs("m1_refresh_scan_x") > 1.0,
      "the stale quantizer must scan more rows per arrival query " +
        s"than the refreshed one (got ${kvs("m1_refresh_scan_x")}x)")
  }
}
