package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FormattedMode

/** Physical-plan quality gates: the properties that make these queries
  * scale are asserted, not assumed — a refactor that silently drops a
  * pushdown, a broadcast, or a top-k specialization fails here. */
class PlanAuditSpec extends SparkSpecBase {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001)
      .queryExecution.explainString(FormattedMode)

  test("q01: filter and projection are pushed to the parquet scan") {
    val p = plan("q01_pricing_summary")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("ReadSchema") && !p.contains("l_orderkey"),
      "scan must prune to the referenced columns only")
  }

  test("q03/q04: dimension joins broadcast, never shuffle the dims") {
    Seq("q03_top_customers", "q04_regional_revenue").foreach { q =>
      val p = plan(q)
      assert(p.contains("BroadcastHashJoin"), s"$q should broadcast dims")
      assert(!p.contains("SortMergeJoin"), s"$q should not sort-merge")
    }
  }

  test("q11: ordered limit plans TakeOrderedAndProject, not a global sort") {
    val p = plan("q11_topk_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q07: window dedup gets WindowGroupLimit map-side pruning") {
    val p = plan("q07_window_dedup")
    assert(p.contains("WindowGroupLimit"))
  }

  test("q30: top-k via partial-aggregatable TopKByScore (partial + final)") {
    val p = plan("q30_sim_topk")
    assert(p.contains("topkbyscore"))
    assert(p.contains("partial_topkbyscore") || p.contains("Partial"),
      "aggregate must have a map-side partial phase")
  }

  test("q127: ADC scan is cell-pruned by a broadcast semi join, exact re-rank bounded") {
    val p = plan("q127_ivfpq_topk")
    // the probed-cells semi join must gate the codes scan: PQ encode +
    // ADC arithmetic run on probed rows only, never the corpus
    assert(p.contains("LeftSemi"), "probed-cell gating must be a semi join")
    assert(p.contains("pqencode"), "PQ encode expression missing from plan")
    // node ids are post-order (children numbered before parents):
    // "gated" = the pqencode projection's id is ABOVE the semi join's
    val joinId = "BroadcastHashJoin LeftSemi[^(]*\\((\\d+)\\)".r
      .findFirstMatchIn(p).map(_.group(1).toInt)
      .getOrElse(fail("no LeftSemi node id"))
    val encId = p.split("\n\n").collectFirst {
      case b if b.contains("pqencode") && b.trim.startsWith("(") =>
        b.trim.drop(1).takeWhile(_.isDigit).toInt
    }.getOrElse(fail("no details node containing pqencode"))
    assert(encId > joinId,
      s"PQ encode (node $encId) must sit ABOVE the semi join (node $joinId)")
    assert(p.contains("TakeOrderedAndProject"), "ADC/exact top-k must not global-sort")
  }

  test("q139/q140: persisted codes scans are cell-partition-pruned, never re-encoded") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.{IvfAnn, IvfPq}
    import graft.sources.Tables
    // materialize both index layouts (memoized across the suite), then
    // audit the CANDIDATE stage's plan — the stage the partitioned
    // layout exists to change. (The catalog queries collect the
    // bounded candidate set before the exact re-rank, so the returned
    // frame's lineage no longer holds the codes scan.)
    SparkEntry.queries("q139_ivfpq_partitioned")(spark, sf001).count()
    SparkEntry.queries("q140_ivfpq_incremental")(spark, sf001).count()
    val emb = Tables.embeddings(spark, sf001)
    val base = emb.where(!IvfPq.isDeltaVec)
    val batch = emb.where(IvfPq.isDeltaVec)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val probes = IvfPq.probeCells(centroids)
    val full = IvfPq.codesSegment(spark, sf001, "full", IvfAnn.assign(emb, centroids))
    val basePath = IvfPq.codesSegment(spark, sf001, "base", IvfAnn.assign(base, centroids))
    val delta = IvfPq.codesSegment(spark, sf001, "delta", IvfAnn.assign(batch, centroids))
    for ((paths, want) <- Seq(Seq(full) -> 1, Seq(basePath, delta) -> 2)) {
      val cand = IvfPq.adcCandidates(spark, paths, probes)
      val phys = cand.queryExecution.executedPlan
      val scans = phys.collect {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq")) => s
      }
      assert(scans.size == want, s"expected $want codes scans, got ${scans.size}")
      scans.foreach { sc =>
        assert(sc.partitionFilters.exists(_.toString.contains("cell")),
          s"codes scan must carry a cell partition filter:\n$sc")
        // pruning is real: the scan selects exactly the probed dirs
        // that exist, out of the full partition tree
        val selected = sc.relation.location.listFiles(sc.partitionFilters, Nil).size
        assert(selected <= probes.size,
          s"scan selected $selected partitions, more than nProbe=${probes.size}")
      }
      val ps = phys.toString
      assert(!ps.toLowerCase.contains("pqencode") && !ps.toLowerCase.contains("nearestcentroid"),
        "search must READ persisted codes, never re-encode or re-assign")
    }
  }

  test("q146: compacted search is ONE pruned codes scan; compaction copies codes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.IvfPq
    // run q146 once: builds base+delta (memoized) and compacts to gen2
    SparkEntry.queries("q146_ivfpq_compacted")(spark, sf001).count()
    val probes = IvfPq.probeCells(IvfPq.baseCentroids(spark, sf001))
    val gen2 = IvfPq.writeSegment(spark, sf001, "gen2")(
      sys.error("gen2 segment must already be memoized"))
    // search over the compacted generation: exactly ONE codes scan
    // (q140's segmented search needs two), still partition-pruned,
    // still never re-encoding
    val cand = IvfPq.adcCandidates(spark, Seq(gen2), probes)
    val phys = cand.queryExecution.executedPlan
    val scans = phys.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq")) => s
    }
    assert(scans.size == 1, s"compacted search must plan ONE codes scan, got ${scans.size}")
    val sc = scans.head
    assert(sc.partitionFilters.exists(_.toString.contains("cell")),
      "compacted codes scan must carry a cell partition filter")
    assert(sc.relation.location.listFiles(sc.partitionFilters, Nil).size <= probes.size,
      "compacted scan must read at most nProbe partitions")
    val ps = phys.toString.toLowerCase
    assert(!ps.contains("pqencode") && !ps.contains("nearestcentroid"),
      "compacted search must read codes, never recompute them")
    // the compaction JOB itself copies codes between layouts: its plan
    // reads the segment parquet and contains no encode/assign either
    val (_, basePath, deltaPath) = IvfPq.baseDeltaSegments(spark, sf001)
    val compaction = IvfPq.readSegment(spark, basePath)
      .union(IvfPq.readSegment(spark, deltaPath))
      .queryExecution.executedPlan.toString.toLowerCase
    assert(!compaction.contains("pqencode") && !compaction.contains("nearestcentroid"),
      "compaction must copy codes, never re-encode or re-assign")
  }

  test("q303: batch serve plans ONE pruned codes scan, no per-query collect") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import graft.operators.{IvfAnn, IvfPq}
    import graft.sources.Tables
    import org.apache.spark.sql.functions.{col, lit, pmod}
    // the final catalog frame's lineage holds the whole serve plan —
    // batch serving never collects candidates, so unlike q139/q140 the
    // audit reads the RETURNED frame directly
    val served = SparkEntry.queries("q303_ivfpq_batch_serve")(spark, sf001)
    val phys = served.queryExecution.executedPlan
    // AQE hides the operator tree behind childless wrappers — recurse
    def subtree(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: subtree(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: subtree(q.plan)
      case _ => p +: p.children.flatMap(subtree)
    }
    val nodes = subtree(phys)
    val scans = nodes.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq")) => s
    }
    assert(scans.size == 1, s"batch serve must plan ONE codes scan, got ${scans.size}")
    val sc = scans.head
    assert(sc.partitionFilters.exists(_.toString.contains("cell")),
      "batch codes scan must carry a cell partition filter")
    // pruning bound: at most |queries|·nProbe distinct cells selected
    val emb = Tables.embeddings(spark, sf001)
    val nQueries = emb
      .where(pmod(col("vec_id"), lit(IvfPq.batchQueryMod)) === 0).count()
    val nCells = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride).count()
    // the scan may ALSO carry a runtime DPP subquery from the cell
    // join (a bonus layer at scale) — listFiles can only evaluate the
    // static predicates here, which are the directory-pruning bound
    val staticFilters = sc.partitionFilters
      .filterNot(_.exists(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.DynamicPruningExpression]))
    assert(staticFilters.nonEmpty, "static cell partition filter missing")
    val selected = sc.relation.location.listFiles(staticFilters, Nil).size
    assert(selected <= math.min(nQueries * IvfPq.nProbe, nCells),
      s"scan selected $selected partitions, more than the probe-union bound")
    val ps = nodes.map(_.verboseString(Int.MaxValue)).mkString("\n").toLowerCase
    assert(!ps.contains("pqencode") && !ps.contains("nearestcentroid"),
      "batch serve must READ persisted codes, never re-encode or re-assign")
    // every result row exists and each query returns exactly k ranks
    val perQuery = served.groupBy("query_id").count().collect()
    assert(perQuery.length == nQueries &&
      perQuery.forall(_.getLong(1) == IvfPq.k.toLong),
      "each query must return exactly k ranked neighbors")
  }

  test("q304: no unpartitioned window consumes unaggregated input") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.window.WindowExec
    val phys = SparkEntry.queries("q304_deciles_scalable")(spark, sf001)
      .queryExecution.executedPlan
    def subtree(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: subtree(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: subtree(q.plan)
      case _ => p +: p.children.flatMap(subtree)
    }
    val windows = subtree(phys).collect { case w: WindowExec => w }
    assert(windows.nonEmpty, "expected window operators in the plan")
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      // the global cumulative window must run over the BOUNDED per-bin
      // histogram (an aggregate), never over the raw customer rows
      assert(subtree(w.child).exists {
        case _: HashAggregateExec | _: ObjectHashAggregateExec |
             _: SortAggregateExec => true
        case _ => false
      }, s"unpartitioned window over unaggregated input:\n$w")
    }
    // and at least one window IS partitioned (the bin-local ranking)
    assert(windows.exists(_.partitionSpec.nonEmpty),
      "the data-sized ranking window must be partitioned by bin")
  }

  test("q309: segmented batch serve plans TWO pruned codes scans, never re-encodes") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val served = SparkEntry.queries("q309_batch_serve_segmented")(spark, sf001)
    val phys = served.queryExecution.executedPlan
    def subtree(p: org.apache.spark.sql.execution.SparkPlan):
        Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        p +: subtree(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        p +: subtree(q.plan)
      case _ => p +: p.children.flatMap(subtree)
    }
    val nodes = subtree(phys)
    val scans = nodes.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("graft_ivfpq")) => s
    }
    assert(scans.size == 2,
      s"segmented batch serve must plan one pruned scan PER SEGMENT, got ${scans.size}")
    scans.foreach { sc =>
      assert(sc.partitionFilters.exists(_.toString.contains("cell")),
        "each segment scan must carry a cell partition filter")
    }
    val ps = nodes.map(_.verboseString(Int.MaxValue)).mkString("\n").toLowerCase
    assert(!ps.contains("pqencode") && !ps.contains("nearestcentroid"),
      "segmented batch serve must READ codes, never re-encode or re-assign")
  }

  test("q310: percentile selection scans carry pushed value-range filters") {
    val p = plan("q310_percentile_exact_scalable")
    // the per-percentile selection scan must push its bin's value
    // range to parquet — the property that makes selection O(bin)
    assert(p.contains("PushedFilters") &&
      p.contains("GreaterThanOrEqual(value") && p.contains("LessThan(value"),
      s"bin range must reach the scan:\n${p.take(3000)}")
    assert(!p.contains("Window"), "selection must not plan any window")
  }

  test("q130: batch curation never rescans the corpus documents") {
    // warm the per-(session, corpus) indexes, then audit a subsequent
    // batch run's physical plan: corpus statistics must be served from
    // cache (InMemoryTableScanExec — a programmatic walk, because the
    // string rendering inlines each cached relation's ORIGINAL plan and
    // its corpus scans would false-positive), and every parquet scan of
    // the documents table in the executed tree must sit beneath the
    // batch-predicate filter — the old corpus is read by ZERO scans.
    import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec, SparkPlan}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    SparkEntry.queries("q130_incremental_funnel")(spark, sf001).count()
    val phys = SparkEntry.queries("q130_incremental_funnel")(spark, sf001)
      .queryExecution.sparkPlan
    assert(phys.collect { case i: InMemoryTableScanExec => i }.nonEmpty,
      "corpus indexes must be served from cache")
    def isBatchFilter(f: FilterExec): Boolean = {
      val c = f.condition.toString
      c.matches("(?s).*pmod\\(doc_id#\\d+L?, 5\\) = 4.*") &&
        !c.contains("NOT (pmod")
    }
    var docScans = 0
    def walk(p: SparkPlan, gated: Boolean): Unit = p match {
      case f: FilterExec => walk(f.child, gated || isBatchFilter(f))
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.toString.contains("documents.parquet")) =>
        docScans += 1
        assert(gated, s"ungated documents scan in the batch hot path:\n$s")
      case other => other.children.foreach(walk(_, gated))
    }
    walk(phys, gated = false)
    assert(docScans > 0, "expected at least one batch-side documents scan")
  }

  test("q183: backfill merge scans raw events ONCE (the late slice only)") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    // the whole point of partial-aggregate merge: the base side reads
    // the materialized agg table, never the base events
    val phys = SparkEntry.queries("q183_agg_backfill")(spark, sf001)
      .queryExecution.sparkPlan
    val eventScans = phys.collectWithSubqueries {
      case sc: FileSourceScanExec
          if sc.relation.location.rootPaths.exists(_.toString.contains("events.parquet")) => sc
    }
    assert(eventScans.size === 1,
      s"expected exactly one raw events scan, saw ${eventScans.size}")
  }

  test("q179: fact scan carries a dynamic partition pruning filter") {
    // the dim-side language selection is data-dependent, so the only
    // way the fact scan can skip partitions is Spark's runtime DPP
    // subquery — assert it is actually planned into PartitionFilters
    val p = SparkEntry.queries("q179_dpp_join")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamic pruning expression on the partitioned scan:\n${p.take(4000)}")
  }

  test("q175: three session windows share ONE user_id exchange") {
    // the (user_id, session_id) first_value window must be satisfied
    // by the existing hash(user_id) clustering — a second fact-table
    // shuffle would double the query's exchange cost at 100 TB
    val p = SparkEntry.queries("q175_first_touch_attribution")(spark, sf001)
      .queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)
    val userExchanges = p.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning(user_id"))
    assert(userExchanges === 1,
      s"expected exactly one user_id exchange, saw $userExchanges:\n$p")
    assert(!p.linesIterator.exists(l =>
      l.contains("Exchange") && l.contains("session_id")),
      "the session window must not re-shuffle on (user_id, session_id)")
    assert(p.linesIterator.count(_.trim.startsWith("Window")) +
      p.linesIterator.count(_.trim.startsWith("+- Window")) >= 3)
  }

  test("no oracle-paired query uses a cartesian or nested-loop join") {
    // the two forms that blow up at scale; every join in the catalog
    // should be hash/broadcast/sort-merge after candidate pruning.
    // Deliberate exceptions — each broadcast-nested-loops a BOUNDED
    // small side against the corpus:
    //  - q30: brute-force ANN scoring is O(queries × corpus) by
    //    definition (tiny query set broadcast); scale path is q32/q50.
    //  - q55: IVF quantizer assignment/routing is O(corpus × cells)
    //    with cells ~ sqrt(corpus) broadcast — the standard IVF cost.
    //  - q63: a single-row corpus-count literal cross-joined in.
    //  - q75: calendar × event-type grid — both sides are bounded
    //    aggregates (days in span, distinct types).
    //  - q89: a single-row max-day literal cross-joined in.
    //  - q93: the int8 prefilter scores queries × corpus BY DESIGN —
    //    that's the cheap approximate tier (4x less I/O than float);
    //    only the 20 survivors per query reach exact rescoring.
    //  - q113: BM25 needs the corpus-wide (N, avgdl) pair on every
    //    scored row — a single aggregated row cross-joined in, the
    //    same bounded shape as q63/q89.
    //  - q115/q119/q124: the LM vocabulary size is the same single-
    //    aggregated-row cross join (smoothing denominator on every
    //    scored doc).
    //  - q130: the merged vocabulary size (two single-row aggregates
    //    summed, then the q115-style broadcast onto scored docs).
    //  - q134/q195: both bounded shapes at once — q113's 1-row BM25
    //    stats AND a single broadcast query vector scored against the
    //    corpus (the q30 shape); both pools reduce through bounded
    //    heaps before any join (q195 ablates the same pools).
    //  - q137: the 1-row token-budget aggregate cross-joined onto the
    //    gate scan (q63/q89/q113's bounded shape).
    //  - q138: composes q119's vocab cross join AND q137's budget
    //    cross join — both single-aggregated-row broadcasts.
    //  - q143: q30's brute-force shape over the NEURAL embeddings (3
    //    broadcast queries × corpus); the scale path is the q144 cell
    //    structure over the same relation.
    //  - q145: q130's gate logic behind a streaming sink read-back —
    //    same bounded vocab cross join inside foreachBatch.
    //  - q156: q30's brute-force shape in the JL-projected space (8
    //    broadcast queries × corpus, non-equi self-exclusion); the
    //    scale path composes the projection with cell-pruned ANN.
    //  - q150/q152/q157/q160/q174: q137's single-aggregated-row
    //    broadcast cross join (totals/max/budget) — a 1-row build side
    //    by construction, the exact-gate sampling pattern.
    //  - q167: the exact and binned AUC summaries are BOTH 1-row
    //    aggregates; the final cross join stitches two single rows.
    //  - q176: the 1-row (total_tokens, vocab_size) aggregate is
    //    cross-joined onto the 7-row k-grid (q63's bounded shape).
    //  - q182: the drift dot-product row and the half-counts row are
    //    both 1-row aggregates (q167's stitch).
    //  - q172: recall EVAL — the exact side is brute force over the
    //    bounded 8-query eval sample by definition (q30's shape); the
    //    approx side is the indexed q55 path.
    //  - q199: EXACT hard-negative mining is corpus x bounded-anchor
    //    broadcast with a non-equi label-exclusion predicate (BNLJ by
    //    construction, like q156's self-exclusion); the scale path
    //    routes through the IVF tier for approximate negatives.
    //  - q205: the 1-row unigram/bigram totals (N_u, N_b) cross-
    //    joined onto the collocation counts (q63/q113's bounded
    //    shape).
    //  - q211: retrieval EVAL over the bounded query sample — q199's
    //    corpus x broadcast-anchor shape with non-equi self-exclusion.
    //  - q217/q228: the 1-row HT threshold τ cross-joined onto the
    //    bounded k-row sample (q167's single-row stitch).
    //  - q218: the source-pair grid is |sources|² of SKETCH rows — a
    //    non-equi (a < b) join of two bounded synopsis relations;
    //    the corpus never enters the pair stage.
    //  - q222: q30's broadcast-query-vector shape (1 query × corpus)
    //    feeding the bounded MMR pool.
    //  - q225: the 1-row corpus token total cross-joined onto the
    //    compact (cluster, term) relation (q63's bounded shape).
    //  - q227: the 1-row max-doc aggregate and the ~20-row geometric
    //    checkpoint grid, both broadcast against compact relations
    //    with range predicates (q75's bounded-grid shape).
    //  - q251: the 1-row total-orders aggregate cross-joined onto the
    //    support-filtered pair counts (q63/q113's bounded shape).
    //  - q273: the 1-row balance-stats and order-horizon aggregates
    //    broadcast onto customer/orders (the literal-key equi form
    //    folds to TRUE, so the planner renders it as a broadcast
    //    nested-loop with a 1-row build side — same physics).
    //  - q275/q277: the 1-row vector-count / vᵀv / Rayleigh aggregates
    //    broadcast onto the d² scatter census and the d-row component
    //    (every build side is a single row; the probe sides are
    //    censuses bounded by the embedding dimension).
    //  - q303: batch-query probe ROUTING is queries × broadcast
    //    centroids (the q55 IVF routing cost, cells ~ sqrt(corpus));
    //    serving itself is equi-joins + bounded heaps.
    //  - q304: the 1-row global-count aggregate cross-joined onto the
    //    ranked rows (q63/q89's bounded single-row shape).
    //  - q306: anchor probe ROUTING is anchors × broadcast centroids
    //    (q55's IVF routing cost); mining itself is one cell equi-join
    //    with the label exclusion riding the join predicate.
    //  - q319: the different-label negative pass is q199's corpus ×
    //    broadcast-anchor non-equi shape (the exact-mining contract);
    //    the q306 IVF tier substitutes when exactness isn't required.
    //  - q324: recall EVAL — the exact side is brute force over the
    //    bounded query sample by definition (q172's argument); the
    //    approx side is the production q303 plan.
    //  - q326: q137's 1-row effective-budget aggregate cross-joined
    //    onto the gate scan (the exact-gate sampling pattern).
    //  - q327/q328: planner EVAL — exact ground truth over the bounded
    //    query sample (q172/q324's argument), query × broadcast-
    //    centroid routing (q55's cost), and 1-row total/count
    //    aggregates stitched onto the |sweep|- and |targets|-row
    //    policy grids (q167's single-row stitch); q328 additionally
    //    serves through the q303 plan.
    //  - q332: q327's planner CTEs selected by scan budget — the same
    //    bounded eval/stitch cross joins.
    //  - q340: q327's planner eval over the HASH-SAMPLED query log —
    //    the same bounded exact-ground-truth/routing/stitch cross
    //    joins, at |sample|×|corpus| instead of |log|×|corpus| (which
    //    is the point of the sampled mode).
    //  - q330: q134's two bounded-pool shapes (1-row BM25 stats, one
    //    broadcast query vector × corpus) plus the query vector
    //    cross-joined onto the ≤128-row pool for pairwise scoring.
    val intentionallyExhaustive =
      Set("q30_sim_topk", "q55_ivf_fixed_topk", "q63_tfidf_topterms",
        "q75_gap_fill", "q89_sliding_mau", "q93_int8_prefilter_topk",
        "q113_bm25_score", "q115_lm_fluency", "q119_curation_funnel",
        "q124_assemble_examples", "q130_incremental_funnel",
        "q134_hybrid_rrf", "q137_token_budget_mix",
        "q138_curation_manifest", "q143_neural_ann_topk",
        "q145_stream_incremental_funnel", "q156_jl_topk",
        "q150_dsir_select", "q152_cluster_budget_mix",
        "q157_source_quota_cap", "q160_sketch_drift", "q165_stream_drift",
        "q166_chunk_retrieval", "q167_gate_auc", "q172_ivf_recall",
        "q174_temperature_mix", "q176_vocab_coverage",
        "q199_hard_negatives", "q205_pmi_bigrams", "q211_retrieval_metrics",
        "q182_embedding_drift", "q195_retrieval_ablation",
        "q217_priority_sample", "q218_kmv_source_overlap",
        "q222_mmr_rerank", "q225_cluster_labels", "q227_vocab_growth",
        "q228_group_priority_sample", "q251_basket_pairs",
        "q273_idle_rich_customers", "q275_pca_top_component",
        "q277_residual_topk", "q293_rate_limit_audit",
        "q295_order_aging", "q298_stream_pca",
        "q300_pca_second_component", "q303_ivfpq_batch_serve",
        "q304_deciles_scalable", "q306_hard_negatives_ivf",
        "q309_batch_serve_segmented", "q319_contrastive_triplets",
        "q324_batch_serve_recall", "q326_dedup_aware_mix",
        "q327_nprobe_planner", "q328_planned_batch_serve",
        "q330_cross_encoder_rerank", "q332_scan_budget_planner",
        "q340_nprobe_planner_sampled")
    SparkEntry.catalog.filter(_.oracle.nonEmpty)
      .filterNot(q => intentionallyExhaustive(q.name)).foreach { q =>
        val p = SparkEntry.queries(q.name)(spark, sf001)
          .queryExecution.explainString(FormattedMode)
        assert(!p.contains("CartesianProduct"), s"${q.name} plans a cartesian product")
        assert(!p.contains("BroadcastNestedLoopJoin"), s"${q.name} plans a nested-loop join")
      }
  }
}
