package graft

import graft.operators.{Bpe, Dedup, IvfAnn, MinHashScheme, Similarity, StarComponents}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ListenerSync.countJobs

/** Asymptotics probe for the LLM-pipeline operators at a corpus size
  * where they matter: the sf0.1 documents/embeddings tables are only
  * ~500 rows, so the sub-quadratic claims of the LSH/ANN paths were
  * argued, not executed. This stage synthesizes a >=100k-doc corpus
  * (every replica token-salted so replicas share no shingles; ~2% get
  * a planted near-dup twin at shingle-jaccard ~0.97) and a >=100k-vector
  * corpus (deterministic per-replica coordinate noise), runs the same
  * operator pipelines the catalog queries use (q27/q28-shape dedup,
  * q31/q32-shape bucketed ANN, q55-shape IVF), and reports:
  *
  *  - bucket-size distribution (max/p99/mean) for MinHash bands and
  *    LSH vector buckets — bounded buckets are WHY the band join is
  *    never doc x doc;
  *  - candidate-pair growth between quarter and full corpus — the
  *    empirical exponent log(p_full/p_quarter)/log(4) must stay near 1
  *    (linear in corpus size), nowhere near 2 (all-pairs);
  *  - planted-pair recall through the full candidate->jaccard verify
  *    pipeline (the 4x2 banding S-curve predicts ~0.99+ at j~0.97);
  *  - wall time per stage.
  *
  * Everything is derived deterministically from the testdata tables
  * (no RNG): replica ids and perturbations come from murmur3 hashes of
  * (id, position).
  */
object ScaleBench {

  /** >=target docs: base docs token-salted per replica + planted twins
    * (doc_id 2r / 2r+1 adjacency encodes the planted pair). The `rep`
    * column survives so growth experiments can take WHOLE replicas —
    * a prefix of reps is a genuinely smaller corpus with the same
    * duplication structure, whereas sampling docs within reps shrinks
    * every duplicate cluster and skews pair counts quadratically. */
  def synthDocs(spark: SparkSession, sfDir: String, target: Int): (DataFrame, Int) = {
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val nBase = base.count()
    val factor = math.max(1L, (target + nBase - 1) / nBase).toInt
    val reps = base
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select(
        ((col("doc_id") * factor + col("rep")) * 2).as("doc_id"),
        col("rep"),
        concat_ws(" ",
          transform(split(col("text"), " "),
            t => concat(t, lit("_"), col("rep")))).as("text"))
    // twins: ~2% of replicas (hash-chosen), long enough that dropping
    // the last token keeps shingle jaccard >= 0.9
    val twins = reps
      .where(pmod(hash(col("doc_id")), lit(50)) === 0 &&
        size(split(col("text"), " ")) >= 20)
      .select((col("doc_id") + 1).as("doc_id"), col("rep"),
        concat_ws(" ", slice(split(col("text"), " "), lit(1),
          size(split(col("text"), " ")) - 1)).as("text"))
    (reps.unionByName(twins), factor)
  }

  /** >=target vectors: base embeddings + deterministic per-replica
    * coordinate noise (direction changes, so replicas spread over LSH
    * buckets/IVF cells instead of stacking in one). */
  def synthVecs(spark: SparkSession, sfDir: String, target: Int): DataFrame = {
    val base = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val nBase = base.count()
    val factor = math.max(1L, (target + nBase - 1) / nBase).toInt
    base
      .withColumn("rep", explode(sequence(lit(0), lit(factor - 1))))
      .select(
        (col("vec_id") * factor + col("rep")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") +
            (pmod(hash(col("rep"), i), lit(1000)).cast("double") / 1000.0 - 0.5))
            .cast("float")).as("embedding"))
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Synthetic Zipf word-frequency table — the BPE trainer's input
    * relation, synthesized directly (the testdata vocabulary is ~30
    * words, far too small for a 200-merge training run). Character
    * distribution is Zipfian like natural text (so pair counts have
    * the head-heavy shape the batcher exploits) and everything derives
    * from splitmix64 hashes of the row index — deterministic, no RNG. */
  def zipfWordTable(spark: SparkSession, n: Int): DataFrame = {
    import spark.implicits._
    def mix(z0: Long): Long = {
      var z = z0 + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    // inverse-CDF over 26 letters, weight 1/(i+1)
    val cum = (0 until 26).map(i => 1.0 / (i + 1)).scanLeft(0.0)(_ + _).tail
    val h26 = cum.last
    def zc(h: Long): Char = {
      val u = ((h >>> 11).toDouble / (1L << 53).toDouble) * h26
      ('a' + cum.indexWhere(u < _)).toChar
    }
    (1 to n).map { i =>
      val len = 3 + (mix(i.toLong) & 0x7fffffff) % 8
      val w = (0L until len).map(p => zc(mix(i.toLong * 131 + p + 1))).mkString
      (w, math.max(1L, 1000000L / i))
    }.groupBy(_._1).map { case (w, rows) => (w, rows.map(_._2).sum) }
      .toSeq.toDF("w", "freq").repartition(32)
  }

  /** Runs the probe; returns flat metric map (stable key order for the
    * bench JSON). */
  def run(spark: SparkSession, sfDir: String, targetDocs: Int = 100000,
      targetVecs: Int = 100000, deep: Boolean = true,
      deadlineNanos: Long = Long.MaxValue): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // wall-clock degrade guard (Bench budget): checked between probe
    // blocks at points where no probe-local cache is still persisted.
    // A cut stops the stage cleanly — keys already measured are kept,
    // the rest carry forward from the last recorded artifact (Bench
    // merges docs/BENCH_FULL.json).
    def budgetCut(stage: String): Boolean = {
      val cut = System.nanoTime() >= deadlineNanos
      if (cut) {
        System.err.println(
          s"[bench] scale budget exhausted before $stage — degrading")
        out += ("scale_budget_degraded" -> 1.0)
      }
      cut
    }

    // drop whatever the catalog pass left cached (band/shingle/IVF
    // indexes): the probe times ITS pipelines, and executor-memory
    // pressure from stale caches showed up as a 5x swing in the IVF
    // stage when run after the 95-query catalog sweep
    spark.catalog.clearCache()

    // ---- dedup asymptotics ----
    val (docsWithRep, factor) = synthDocs(spark, sfDir, targetDocs)
    val docs = docsWithRep.persist()
    val (nDocs, tSynth) = time(docs.count())
    out ++= Seq("docs_n" -> nDocs.toDouble, "docs_synth_sec" -> tSynth)

    val sch = MinHashScheme.default
    val bands = Dedup.docBands(docs, sch).persist()
    val (bucketStats, tBands) = time {
      bands.groupBy("band_id", "band_hash").agg(count(lit(1)).as("bsize"))
        .agg(count(lit(1)).as("n_buckets"), max(col("bsize")).as("max"),
          expr("percentile(bsize, 0.99)").as("p99"), avg(col("bsize")).as("mean"))
        .first()
    }
    out ++= Seq("minhash_buckets" -> bucketStats.getLong(0).toDouble,
      "minhash_bucket_max" -> bucketStats.getLong(1).toDouble,
      "minhash_bucket_p99" -> bucketStats.getDouble(2),
      "minhash_bucket_mean" -> bucketStats.getDouble(3),
      "minhash_bands_sec" -> tBands)

    // CDC chunking at this scale (q307/q308 shape): the fused cutter's
    // throughput and the chunk-census dup structure — chunking is
    // scan-fused per-row work, so seconds here ARE the per-scan cost a
    // 100 TB pass would amortize
    {
      val chunks = graft.operators.CdcChunking.cdcChunks(docs).persist()
      val (nChunks, tChunks) = time(chunks.count())
      val (dupChunks, tCensus) = time(
        chunks.groupBy("chunk_md5").agg(count(lit(1)).as("n"))
          .where(col("n") > 1).count())
      chunks.unpersist()
      out ++= Seq(
        "cdc_chunks_n" -> nChunks.toDouble,
        "cdc_chunks_sec" -> tChunks,
        "cdc_dup_hashes" -> dupChunks.toDouble,
        "cdc_census_sec" -> tCensus)
    }

    val pairs = Dedup.candidatePairsFromBands(bands).persist()
    val (pairsFull, tCand) = time(pairs.count())
    out ++= Seq("cand_pairs_full" -> pairsFull.toDouble, "cand_pairs_sec" -> tCand)

    // growth exponent: the quarter corpus is a PREFIX OF WHOLE REPLICAS
    // (same duplication structure, 4x fewer docs) — sub-quadratic
    // candidate generation shows as an exponent near 1
    val quarter = docs.where(col("rep") * 4 < factor).persist()
    val nQuarter = quarter.count()
    val (pairsQuarter, _) = time(Dedup.candidatePairs(quarter, sch).count())
    val exponent =
      if (pairsQuarter > 0 && nQuarter > 0 && nDocs > nQuarter)
        math.log(pairsFull.toDouble / pairsQuarter) /
          math.log(nDocs.toDouble / nQuarter)
      else -1.0 // degenerate fixture (e.g. factor 1): keep the JSON numeric
    out ++= Seq("docs_n_quarter" -> nQuarter.toDouble,
      "cand_pairs_quarter" -> pairsQuarter.toDouble,
      "cand_growth_exponent" -> exponent)
    quarter.unpersist()

    // planted-pair recall through the verify pipeline (q28 shape)
    val toks = Dedup.shingleSets(docs).persist()
    val verified = Dedup.withJaccardToks(pairs, toks)
      .where(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").persist()
    val (nVerified, tVerify) = time(verified.count())
    val planted = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"))
    val nPlanted = planted.count()
    val recalled = verified.join(planted, Seq("doc_a", "doc_b"), "left_semi").count()
    out ++= Seq("verified_pairs" -> nVerified.toDouble,
      "planted_pairs" -> nPlanted.toDouble,
      "planted_recall" -> (if (nPlanted > 0) recalled.toDouble / nPlanted else -1.0),
      "verify_sec" -> tVerify)

    // ---- decontamination forms (q65/q123 shape) at 100k docs ----
    // a ~0.1% doc slice plays the benchmark; the three forms flag the
    // same doc set (bloom has no false negatives) — what differs is
    // the physics: broadcast join (today's exact path), shuffle join
    // (what exact degrades to once the benchmark side outgrows the
    // broadcast threshold), and the bloom literal prefilter (stays a
    // scan expression at ANY benchmark size; 1e9 bits = 128 MB)
    val benchSh = toks.where(pmod(col("doc_id"), lit(1000)) === 0)
      .select(explode(col("toks")).as("sh")).distinct().persist()
    val nBenchSh = benchSh.count()
    val trainSh = toks.where(pmod(col("doc_id"), lit(1000)) =!= 0)
      .select(col("doc_id"), explode(col("toks")).as("sh"))
    val nTrainSh = trainSh.count()
    val (nFlagBcast, tExactBcast) = time(
      trainSh.join(broadcast(benchSh), "sh").select("doc_id").distinct().count())
    val (nFlagShuffle, tExactShuffle) = time(
      trainSh.hint("shuffle_hash")
        .join(benchSh.hint("shuffle_hash"), "sh")
        .select("doc_id").distinct().count())
    // build is timed too (aggregate pass + driver collect of the
    // sketch): the bloom form's end-to-end cost is build + scan +
    // confirm, and hiding the build would flatter it vs the joins
    val (bloom, tBloomBuild) = time(benchSh
      .agg(org.apache.spark.sql.graftshim.BloomSketch
        .agg(xxhash64(col("sh")), 100000L, 1L << 22).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
    def bloomPruned = trainSh.where(org.apache.spark.sql.graftshim.BloomSketch
      .mightContain(bloom, xxhash64(col("sh"))))
    val (nSurvivors, tBloomScan) = time(bloomPruned.count())
    val (nFlagBloom, tBloomE2e) = time(
      bloomPruned.join(broadcast(benchSh), "sh")
        .select("doc_id").distinct().count())
    out ++= Seq(
      "decontam_bench_shingles" -> nBenchSh.toDouble,
      "decontam_train_shingles" -> nTrainSh.toDouble,
      "decontam_docs_flagged" -> nFlagBcast.toDouble,
      "decontam_docs_flagged_shuffle" -> nFlagShuffle.toDouble,
      "decontam_docs_flagged_bloom" -> nFlagBloom.toDouble,
      "decontam_exact_bcast_sec" -> tExactBcast,
      "decontam_exact_shuffle_sec" -> tExactShuffle,
      "decontam_bloom_build_sec" -> tBloomBuild,
      "decontam_bloom_scan_sec" -> tBloomScan,
      "decontam_bloom_e2e_sec" -> tBloomE2e,
      "decontam_bloom_survivor_frac" ->
        (if (nTrainSh > 0) nSurvivors.toDouble / nTrainSh else -1.0))
    benchSh.unpersist()
    Seq(verified, toks, pairs, bands).foreach(_.unpersist())

    // ---- data selection at 100k docs (q150/q151/q155 shapes) ----
    // DSIR: the LM state is two 256-row bucket tables regardless of
    // corpus size; the end-to-end cost is one token scan + one per-doc
    // sum. Target = a hash-chosen ~20% of docs (the synthetic corpus
    // has no source column; the physics is identical).
    {
      val sel = graft.operators.Selection
        .dsirScores(docs, pmod(hash(col("doc_id")), lit(10)) < 2)
      val mx = sel.agg(max("avg_r").as("max_avg"))
      val (nSel, tDsir) = time {
        val h = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long")
        sel.crossJoin(broadcast(mx))
          .where(h.cast("decimal(38,0)") * col("max_avg").cast("decimal(38,0)")
            < lit(4294967296L).cast("decimal(38,0)")
              * col("avg_r").cast("decimal(38,0)"))
          .count()
      }
      out ++= Seq("dsir_selected" -> nSel.toDouble,
        "dsir_selected_frac" -> nSel.toDouble / nDocs,
        "dsir_e2e_sec" -> tDsir)

      // count-min: the sketch is <= depth x width counter rows however
      // large the corpus — the bounded thing that streams (q153)
      val cmsToks = graft.operators.Selection.docTokens(docs)
      val ((sketchRows, nTokens), tCms) = time {
        val sk = graft.operators.Selection.cmPartialSketch(cmsToks).persist()
        val rows = sk.count()
        val toksN = sk.agg(sum("cnt")).head().getLong(0) / 4 // Depth rows per token
        sk.unpersist()
        (rows, toksN)
      }
      out ++= Seq("cms_sketch_rows" -> sketchRows.toDouble,
        "cms_tokens" -> nTokens.toDouble,
        "cms_build_sec" -> tCms)

      // curriculum: the global order comes from bounded WITHIN-shard
      // sorts + a 160-row offset relation — no single-partition window
      val (currN, tCurr) = time {
        val sc = docs.select(col("doc_id"),
          graft.operators.QualityGate.logitOf(
            org.apache.spark.sql.graftshim.CharGramVector(col("text"),
              graft.operators.TextVector.dim)).as("logit"),
          substring(md5(col("doc_id").cast("string")), 1, 1).as("shard"))
        val w = org.apache.spark.sql.expressions.Window.partitionBy("shard")
        sc.withColumn("rn", row_number().over(
            w.orderBy(col("logit").desc, col("doc_id"))).cast("long"))
          .withColumn("n", count(lit(1)).over(w).cast("long"))
          .withColumn("bin", expr("((rn - 1) * 10) DIV n").cast("int"))
          .groupBy("bin").count().count()
      }
      out ++= Seq("curriculum_docs" -> nDocs.toDouble,
        "curriculum_sec" -> tCurr)
    }
    docs.unpersist()
    if (budgetCut("connected-components")) return out.toSeq

    // ---- connected components (star contraction) ----
    // cluster-shaped graph (the near-dup regime: 25k size-4 stars,
    // diameter 2): converges in a handful of rounds.
    val clusterEdges = spark.range(100000)
      .select(col("id").as("doc_a"), (col("id") - pmod(col("id"), lit(4))).as("doc_b"))
      .where(pmod(col("id"), lit(4)) =!= 0)
    val ((starLabels, starRounds), tStarCluster) =
      time(StarComponents.connectedComponentsStar(clusterEdges))
    starLabels.unpersist()
    // adversarial chain (20k-node path, diameter 2*10^4): contraction
    // stays logarithmic in rounds, where a diameter-bound algorithm
    // would need 2*10^4
    val pathEdges = spark.range(19999)
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    val ((starPathLabels, starPathRounds), tStarPath) =
      time(StarComponents.connectedComponentsStar(pathEdges))
    starPathLabels.unpersist()
    out ++= Seq(
      "cc_cluster_nodes" -> 100000.0,
      "cc_star_rounds_cluster" -> starRounds.toDouble,
      "cc_star_sec_cluster" -> tStarCluster,
      "cc_path_nodes" -> 20000.0,
      "cc_star_rounds_path" -> starPathRounds.toDouble,
      "cc_star_sec_path" -> tStarPath)

    if (budgetCut("ann-asymptotics")) return out.toSeq
    // ---- ANN asymptotics ----
    val vecs = synthVecs(spark, sfDir, targetVecs).persist()
    val nVecs = vecs.count()
    out ++= Seq("vecs_n" -> nVecs.toDouble)

    val sigs = vecs.select(col("vec_id"), col("embedding"),
      Similarity.lshSignature(col("embedding")).as("bucket"))
    val (vb, tVb) = time {
      sigs.groupBy("bucket").agg(count(lit(1)).as("bsize"))
        .agg(count(lit(1)).as("n_buckets"), max(col("bsize")).as("max"),
          avg(col("bsize")).as("mean")).first()
    }
    out ++= Seq("ann_buckets" -> vb.getLong(0).toDouble,
      "ann_bucket_max" -> vb.getLong(1).toDouble,
      "ann_bucket_mean" -> vb.getDouble(2),
      "ann_buckets_sec" -> tVb)

    // bucketed and multi-probe top-k (q32/q100 shapes) share one
    // pipeline; only the query side's probe column differs
    def topkSet(df: DataFrame): Set[(Long, Long)] = df.collect()
      .flatMap(r => r.getSeq[Long](1).map(r.getLong(0) -> _)).toSet
    def probedTopk(queries: DataFrame): Set[(Long, Long)] = {
      val e = sigs.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("n_emb"), col("bucket").as("n_bucket"))
      topkSet(e.join(broadcast(queries),
          col("probe") === col("n_bucket") && col("neighbor_id") =!= col("query_id"))
        .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
        .groupBy("query_id")
        .agg(org.apache.spark.sql.graftshim.TopKByScore(
          col("cos"), col("neighbor_id"), 3).as("top"))
        .select(col("query_id"), col("top.id")))
    }
    // query set: every (n/64)th vec_id — 64 DISTINCT base vectors
    // (vec_id = base*factor + rep, so vec_id<16 would be 16 noisy
    // replicas of base 0 — unrepresentative of real query traffic)
    val qStride = math.max(1L, nVecs / 64)
    val queryFilter = pmod(col("vec_id"), lit(qStride)) === 0
    val qside = sigs.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("bucket"))
    var bucketed: Set[(Long, Long)] = Set.empty
    val (_, tBtk) = time {
      bucketed = probedTopk(qside.withColumnRenamed("bucket", "probe"))
    }
    out ++= Seq("ann_bucket_topk_sec" -> tBtk)

    // approximate-tier QUALITY at this scale, not just speed: the
    // recall/cost curve vs exact brute force — single bucket, 1-table
    // multi-probe, and the ≥0.9 operating point (4-table Hamming≤1,
    // the q100 configuration)
    val (exact, tExact) = time(topkSet(
      Similarity.bruteForceTopK(vecs, queryFilter, 3)
        .groupBy("query_id").agg(collect_list(col("neighbor_id")).as("ids"))
        .select(col("query_id"), col("ids"))))
    val nQueries = exact.map(_._1).size
    def recallOf(approx: Set[(Long, Long)]): Double =
      if (exact.nonEmpty) exact.intersect(approx).size.toDouble / exact.size
      else -1.0
    var multiprobe: Set[(Long, Long)] = Set.empty
    val (_, tMp) = time {
      multiprobe = probedTopk(qside.select(col("query_id"), col("q_emb"),
        explode(Similarity.multiProbeSignatures(col("bucket"))).as("probe")))
    }
    var multitable: Set[(Long, Long)] = Set.empty
    val (_, tMt) = time {
      multitable = Similarity
        .multiTableTopK(vecs, queryFilter, 3, Similarity.opTables, Similarity.opRadius)
        .select("query_id", "neighbor_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    val mtCands = Similarity
      .multiTableCandidates(vecs, queryFilter, Similarity.opTables, Similarity.opRadius)
      .count()
    out ++= Seq("ann_exact_topk_sec" -> tExact,
      "ann_multiprobe_topk_sec" -> tMp,
      "ann_bucket_recall3" -> recallOf(bucketed),
      "ann_multiprobe_recall3" -> recallOf(multiprobe),
      "ann_multitable_tables" -> Similarity.opTables.toDouble,
      "ann_multitable_recall3" -> recallOf(multitable),
      "ann_multitable_topk_sec" -> tMt,
      "ann_multitable_cands_per_q" ->
        (if (nQueries > 0) mtCands.toDouble / nQueries else -1.0))

    // JL compression (q156 shape): the same brute-force scoring loop
    // in the 16-dim projected INT space — 4x narrower rows, exact
    // integer dots — recall vs exact quantifies the compression rung.
    // DEEP tier (212 s recorded): an all-pairs baseline of a FIXED
    // projection operator — re-run only when JlProjection changes.
    if (deep) {
    var jl: Set[(Long, Long)] = Set.empty
    val (_, tJl) = time {
      val proj = vecs.select(col("vec_id"),
          graft.operators.JlProjection.project(col("embedding")).as("p"))
        .withColumn("np", aggregate(transform(col("p"), x => x * x),
          lit(0L), (acc, x) => acc + x))
        .where(col("np") > 0)
      val qs = proj.where(queryFilter)
        .select(col("vec_id").as("query_id"), col("p").as("qp"),
          col("np").as("nq"))
      jl = topkSet(proj.join(broadcast(qs), col("vec_id") =!= col("query_id"))
        .withColumn("pcos",
          aggregate(zip_with(col("qp"), col("p"), (x, y) => x * y),
            lit(0L), (acc, x) => acc + x).cast("double")
            / sqrt(col("nq").cast("double")) / sqrt(col("np").cast("double")))
        .groupBy("query_id")
        .agg(org.apache.spark.sql.graftshim.TopKByScore(
          col("pcos"), col("vec_id"), 3).as("top"))
        .select(col("query_id"), col("top.id")))
    }
    out ++= Seq("ann_jl_topk_sec" -> tJl,
      "ann_jl_recall3" -> recallOf(jl))
    }

    // IVF (q55 shape) at ~256 cells: assignment is N x C, search probes
    // nProbe cells per query — measured at the cheap dial (nProbe=2)
    // and the ≥0.9 operating point (nProbe=32, the q55 configuration)
    val stride = math.max(1L, nVecs / 256).toInt
    val centroids = IvfAnn.fixedCentroids(vecs, stride)
    var ivfTop: Set[(Long, Long)] = Set.empty
    var ivfTopOp: Set[(Long, Long)] = Set.empty
    var tIvfOp = 0.0
    // ivf_assign_search_sec keeps its rounds-1..4 meaning (assign +
    // nProbe=2 search); the op-point search is timed SEPARATELY so the
    // two stage timings stay disjoint and artifact diffs stay apples
    // to apples
    val assigned = IvfAnn.assign(vecs, centroids).persist()
    // everything from here through the IVF-PQ A/B can throw with
    // persisted relations in flight (driver-side sample collects,
    // codebook require()); the finally keeps a failed scale stage
    // from leaking 100k-vector caches into the rest of the session
    var pqCodes: DataFrame = null
    try {
      val (_, tIvf) = time {
        // the index is built once and persisted (its production shape);
        // search reads it for both the query side and the probed cells
        ivfTop = IvfAnn
          .search(assigned, centroids, queryFilter, k = 3, nProbe = 2)
          .collect().map(r => r.getLong(0) -> r.getLong(2)).toSet
      }
      val (topOp, t2) = time(IvfAnn
        .search(assigned, centroids, queryFilter, k = 3, nProbe = IvfAnn.opNProbe)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toSet)
      ivfTopOp = topOp; tIvfOp = t2
      out ++= Seq("ivf_cells" -> math.ceil(nVecs.toDouble / stride),
        "ivf_assign_search_sec" -> tIvf,
        "ivf_recall3" -> recallOf(ivfTop),
        "ivf_nprobe_op" -> IvfAnn.opNProbe.toDouble,
        "ivf_recall3_op" -> recallOf(ivfTopOp),
        "ivf_search_op_sec" -> tIvfOp)

      // ---- hard-negative mining: exact corpus×anchors vs the IVF
      // tier (q199 vs q306). Labels synthesized from vec_id (8
      // classes); anchors = the query stride sample. Recall = fraction
      // of anchors whose probed argmax IS the exact hardest negative;
      // cost = scored candidate rows vs the exact tier's |A|·(7/8)·N.
      {
        import graft.operators.HardNegatives
        val lbl = pmod(col("vec_id"), lit(8)).cast("long")
        val anchors = vecs.where(queryFilter)
          .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
            pmod(col("vec_id"), lit(8)).cast("long").as("a_label"))
        def argmaxOf(scored: DataFrame): Map[Long, Long] = scored
          .groupBy("a_id")
          .agg(org.apache.spark.sql.graftshim.TopKByScore(
            col("cos"), col("neg_id"), 1).as("top"))
          .select(col("a_id"), element_at(col("top"), 1).getField("id"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val (exactNeg, tHnExact) = time(argmaxOf(
          vecs.select(col("vec_id"), col("embedding"), lbl.as("label"))
            .join(broadcast(anchors), col("label") =!= col("a_label"))
            .select(col("a_id"), col("vec_id").as("neg_id"),
              Similarity.cosine(col("a_emb"), col("embedding")).as("cos"))))
        out ++= Seq(
          "hardneg_anchors" -> exactNeg.size.toDouble,
          "hardneg_exact_sec" -> tHnExact)
        // two dials: the cheap q306 default (nProbe=4) and the q55
        // operating point (nProbe=32) — argmax recall is strictly
        // harder than top-k set recall (ONE right answer per anchor),
        // so the recall/cost CURVE is the honest report
        for (nProbe <- Seq(HardNegatives.ivfNegProbe, IvfAnn.opNProbe)) {
          var probedRows = 0L
          val (approxNeg, tHnIvf) = time {
            val routed = anchors
              .crossJoin(broadcast(centroids
                .select(col("cell").cast("long").as("cell"), col("centroid"))))
              .select(col("a_id"),
                Similarity.cosine(col("a_emb"), col("centroid")).as("c_sim"),
                col("cell"))
              .groupBy("a_id")
              .agg(org.apache.spark.sql.graftshim.TopKByScore(
                col("c_sim"), col("cell"), nProbe).as("top"))
              .select(col("a_id"), explode(col("top.id")).as("p_cell"))
            val cands = assigned.withColumn("label", lbl)
              .join(broadcast(routed.join(anchors, "a_id")),
                col("cell") === col("p_cell") && col("label") =!= col("a_label"))
              .select(col("a_id"), col("vec_id").as("neg_id"),
                Similarity.cosine(col("a_emb"), col("embedding")).as("cos"))
              .persist()
            probedRows = cands.count()
            val m = argmaxOf(cands)
            cands.unpersist()
            m
          }
          val hits = exactNeg.count { case (a, n) => approxNeg.get(a).contains(n) }
          out ++= Seq(
            s"hardneg_ivf${nProbe}_sec" -> tHnIvf,
            s"hardneg_ivf${nProbe}_recall" ->
              (if (exactNeg.nonEmpty) hits.toDouble / exactNeg.size else -1.0),
            s"hardneg_ivf${nProbe}_scored_frac" ->
              (probedRows.toDouble /
                math.max(1.0, exactNeg.size.toDouble * nVecs * 7.0 / 8.0)))
        }
      }

      // ---- IVF-PQ composition (q127 shape) ----
      // codes materialized ONCE (the index build — 32x smaller than the
      // vectors); per query: route to opNProbe cells, ADC within them
      // via codebook reconstruction, exact L2 re-rank of the ADC top-50.
      // Recall is measured against exact brute-force L2 top-3 (PQ serves
      // the L2 metric; the cosine recalls above grade the LSH/IVF tiers).
      {
        import graft.operators.PqAnn
        import org.apache.spark.sql.expressions.Window
        // codebook TRAINED on a bounded sample (the production path —
        // the fixed oracle codebook measured recall@3 0.07 here): ~8k
        // vectors collected driver-side, Lloyd per subspace
        val (cb, tTrain) = time {
          val sampleStride = math.max(1L, nVecs / 8192)
          val samples = vecs.where(pmod(col("vec_id"), lit(sampleStride)) === 0)
            .select("embedding").collect()
            .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq).toIndexedSeq
          PqAnn.trainCodebook(samples, numCentroids = 256)
        }
        // the PQ index is L2-served END TO END: cells assigned by min-L2
        // (NearestCentroid's l2 metric), queries routed by min-L2 below —
        // routing an L2 search through the cosine tier's cells measured
        // 0.73-0.77 recall at 100k (replica noise varies norms; the
        // max-cosine cell is not the min-L2 cell once norms differ)
        val (codes, tEnc) = time {
          val c = IvfAnn.assign(vecs, centroids, metric = "l2")
            .select(col("vec_id"), col("cell"),
              org.apache.spark.sql.graftshim.PqEncode(col("embedding"), cb)
                .as("codes")).persist()
          c.count()
          c
        }
        pqCodes = codes // released by the stage finally (also on throw)
        val l2 = (a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =>
          aggregate(zip_with(a, b, (x, y) => {
            val d = x.cast("double") - y.cast("double"); d * d
          }), lit(0.0), _ + _)
        val qside2 = assigned.where(queryFilter)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
        def topkOf(df: DataFrame): Set[(Long, Long)] = df.collect()
          .flatMap(r => r.getSeq[Long](1).map(r.getLong(0) -> _)).toSet
        // DEEP tier (81 s recorded): the exact-L2 all-pairs crossJoin is
        // the recall BASELINE, not a served pipeline — carried forward
        // on default runs; the ADC pipelines below stay timed every run.
        val exactL2Opt: Option[Set[(Long, Long)]] = if (deep) {
          val (exactL2, tExactL2) = time(topkOf(
            vecs.crossJoin(broadcast(qside2))
              .where(col("vec_id") =!= col("query_id"))
              .groupBy("query_id")
              .agg(org.apache.spark.sql.graftshim.TopKByScore(
                -l2(col("embedding"), col("q_emb")), col("vec_id"), 3).as("top"))
              .select(col("query_id"), col("top.id"))))
          out += ("ivfpq_exact_l2_sec" -> tExactL2)
          Some(exactL2)
        } else None
        // ADC top-1000 + exact re-rank, over an arbitrary (query, code)
        // candidate relation — the gated and ungated variants below run
        // THIS same pipeline and differ only in the routing gate. The
        // re-rank pool is sized to the replica structure: ADC distortion
        // among ~200 near-identical replicas re-orders freely, so the
        // exact tier must see enough candidates to absorb it (1000 ≈ 1%
        // of corpus; 400 measured 0.86 recall, 1000 measures 0.95).
        // PqAdcDistLut is the fused codegen ADC q303 serves with
        // (bit-parity-spec'd vs the materialized-LUT composed form; the
        // reconstruct+zip_with form before it allocated per row,
        // evaluated interpreted lambdas, and dominated this stage ~8x)
        def adcPipeline(cands: DataFrame): Set[(Long, Long)] = topkOf(
          cands.where(col("vec_id") =!= col("query_id"))
            .groupBy("query_id")
            .agg(org.apache.spark.sql.graftshim.TopKByScore(
              -org.apache.spark.sql.graftshim.PqAdcDistLut(
                col("codes"), col("q_emb"), cb), col("vec_id"), 1000).as("top"))
            .select(col("query_id"), explode(col("top.id")).as("cand_id"))
            .join(vecs.select(col("vec_id").as("cand_id"),
              col("embedding").as("c_emb")), Seq("cand_id"))
            .join(qside2, Seq("query_id"))
            .groupBy("query_id")
            .agg(org.apache.spark.sql.graftshim.TopKByScore(
              -l2(col("c_emb"), col("q_emb")), col("cand_id"), 3).as("top"))
            .select(col("query_id"), col("top.id")))
        var pqTop: Set[(Long, Long)] = Set.empty
        val (_, tPq) = time {
          // route by MIN L2 to centroid — the served metric. (The q55/q127
          // cosine router is the right tool for the cosine tiers; routing
          // an L2 search by cosine cost 0.73 recall here: replica noise
          // varies vector NORMS, and the max-cosine cell is not the
          // min-L2 cell once norms differ.)
          val routed = qside2.crossJoin(broadcast(centroids))
            .withColumn("c_d2", l2(col("q_emb"), col("centroid")))
            .withColumn("rn", row_number().over(
              Window.partitionBy("query_id").orderBy(col("c_d2"), col("cell"))))
            .where(col("rn") <= IvfAnn.opNProbe)
            .select(col("query_id"), col("q_emb"), col("cell").cast("long").as("cell"))
          pqTop = adcPipeline(routed.join(codes, Seq("cell")))
        }
        val pqRecall = exactL2Opt.map(exactL2 =>
          if (exactL2.nonEmpty) exactL2.intersect(pqTop).size.toDouble / exactL2.size
          else -1.0)
        // the q114 shape on the same index — the IDENTICAL pipeline with
        // the routing gate removed (ADC over every code row) — so the
        // composition's effect is a measured A/B, not an argument. On
        // this in-memory corpus the fused ADC is so cheap that the
        // ungated scan is CPU-trivial; the 100 TB difference is I/O
        // (cell-partition pruning of a codes table that no longer fits
        // in memory), which recall parity here licenses.
        var fullTop: Set[(Long, Long)] = Set.empty
        val (_, tFull) = time {
          fullTop = adcPipeline(codes.crossJoin(broadcast(qside2)))
        }
        val fullRecall = exactL2Opt.map(exactL2 =>
          if (exactL2.nonEmpty) exactL2.intersect(fullTop).size.toDouble / exactL2.size
          else -1.0)
        out ++= Seq(
          "ivfpq_codebook_train_sec" -> tTrain,
          "ivfpq_encode_sec" -> tEnc,
          "ivfpq_fullscan_sec" -> tFull,
          "ivfpq_search_sec" -> tPq)
        out ++= fullRecall.map("ivfpq_fullscan_recall3" -> _)
        out ++= pqRecall.map("ivfpq_recall3" -> _)
      }
    } finally {
      if (pqCodes != null) pqCodes.unpersist()
      assigned.unpersist()
      vecs.unpersist()
    }

    if (budgetCut("bpe-physics")) return out.toSeq
    // ---- BPE trainer driver-round-trip physics ----
    // A/B on one synthetic 20k-word Zipf vocabulary: the sequential
    // loop (topB=1, rounds-1..5 behavior) pays ~2-3 Spark jobs PER
    // MERGE; the batched loop applies a provably-safe prefix per pass
    // (Bpe.safeBatchLen), so jobs per merge drop by the average batch
    // size. The sequential side runs fewer merges (same constant
    // per-merge cost, bounded wall time); jobs-per-merge is the
    // comparable statistic.
    val bpeWf = zipfWordTable(spark, 20000).persist()
    bpeWf.count()
    val seqMerges = 60
    val (seqRes, seqJobs) = countJobs(spark.sparkContext) {
      // topB=1 + ckptEvery=1 IS the rounds-1..5 sequential loop
      Bpe.learnBatched(bpeWf, seqMerges, minFreq = 1L, topB = 1,
        ckptEvery = 1)
    }
    val seqPerMerge = seqJobs.toDouble / math.max(1, seqRes.merges.size)
    out ++= Seq(
      "bpe_seq_merges" -> seqRes.merges.size.toDouble,
      "bpe_seq_jobs" -> seqJobs.toDouble,
      "bpe_jobs_per_merge_seq" -> seqPerMerge)
    // (600-merge point measured once in docs/SCALE.md — ratio grows
    // with depth as merged symbols diversify; 200 keeps bench wall
    // time bounded)
    for (batchMerges <- Seq(200)) {
      val (batRes, batJobs) = countJobs(spark.sparkContext) {
        Bpe.learnBatched(bpeWf, batchMerges, minFreq = 1L,
          ckptEvery = 24)
      }
      val batPerMerge = batJobs.toDouble / math.max(1, batRes.merges.size)
      out ++= Seq(
        s"bpe_batched${batchMerges}_merges" -> batRes.merges.size.toDouble,
        s"bpe_batched${batchMerges}_passes" -> batRes.passes.toDouble,
        s"bpe_batched${batchMerges}_jobs" -> batJobs.toDouble,
        s"bpe_jobs_per_merge_batched$batchMerges" -> batPerMerge,
        s"bpe_job_reduction_ratio$batchMerges" ->
          (if (batPerMerge > 0) seqPerMerge / batPerMerge else -1.0))
    }
    // production entry at 200 merges: the 20k vocabulary fits the
    // driver budget, so learnFromWords routes to the EXACT in-memory
    // trainer — the count + collect are the only cluster jobs, and
    // jobs/merge collapses to ~0.01 (the industrial single-node-train
    // shape; the certified batcher above remains the beyond-budget
    // fallback and keeps its own A/B)
    val (inMemMerges, inMemJobs) = countJobs(spark.sparkContext) {
      Bpe.learnFromWords(bpeWf, 200, minFreq = 1L).size
    }
    out ++= Seq(
      "bpe_inmem200_merges" -> inMemMerges.toDouble,
      "bpe_inmem200_jobs" -> inMemJobs.toDouble,
      "bpe_jobs_per_merge_inmem200" ->
        (inMemJobs.toDouble / math.max(1, inMemMerges)))
    bpeWf.unpersist()

    // ---- 1M-doc / 1M-vector sweep ----
    // One decade is thin evidence for "linear": the 100k exponents
    // above compare quarter-vs-full INSIDE one corpus size. This stage
    // re-measures the load-bearing asymptotics a full decade up and
    // reports the cross-decade growth exponent against the 100k run.
    // Slim by design (the 100k stage owns the full matrix): dedup
    // buckets/pairs/recall/verify, bloom decontamination, and the ANN
    // operating point vs exact — the IVF/PQ/BPE families keep their
    // 100k evidence (their per-query cost is cell/sample-bounded, not
    // corpus-bounded, so the decade adds little). SPARK_GRAFT_SWEEP=0
    // skips; any other value overrides the 1M default.
    val sweepN = sys.env.get("SPARK_GRAFT_SWEEP").map(_.toInt)
      .getOrElse(1000000)
    if (budgetCut("1m-sweep")) return out.toSeq
    if (sweepN > 0 && sweepN > targetDocs)
      out ++= sweepAt(spark, sfDir, sweepN, nDocs, pairsFull, deep,
        deadlineNanos)

    // ---- memory-pressure posture (round-7 verdict #7) ----
    // The "spill, never OOM" claim, measured: SpillProbe runs the full
    // headline suite + the MinHash verify join in its OWN JVM with a
    // small heap and spark.memory.fraction squeezed to 6% (a context-
    // creation conf — unreachable from this session). Completion with
    // spill counters > 0 is the posture proof. SPARK_GRAFT_SPILL=0
    // skips; any other value overrides the synthetic-corpus size.
    // default deep-tier: posture physics (separate-JVM spill completion),
    // not a per-round operator measurement — carried forward when off
    val spillDocs = sys.env.get("SPARK_GRAFT_SPILL").map(_.toInt)
      .getOrElse(if (deep) 300000 else 0)
    if (budgetCut("spill-probe")) return out.toSeq
    if (spillDocs > 0) out ++= spillProbe(sfDir, spillDocs)

    // ---- MV partial-log compaction A/B (q233/q239) ----
    if (budgetCut("mv-log-probe")) return out.toSeq
    out ++= mvLogProbe(spark, sfDir)

    out.toSeq
  }

  /** The streaming small-files effect, measured: serving the q233 MV
    * from a 256-generation partial log vs from its q239-compacted
    * form. Data volume is identical (the fold is exact — asserted);
    * the delta is pure file-open/footer overhead, which is what a
    * per-trigger append store accumulates in production. Generations
    * are replicated from one partial file (same bytes — compaction's
    * serve-equality must hold regardless of content). */
  private[graft] def mvLogProbe(spark: SparkSession,
      sfDir: String): Seq[(String, Double)] = {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val generations = 256
    val dir = graft.operators.Formats.scratchDir("graft_mv_log", sfDir)
    graft.operators.Formats.wipe(dir)
    graft.plans.MvRewrite.mvPartial(graft.sources.Tables.lineitem(spark, sfDir))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val fs = graft.spark.FsOps.fs(spark, dir)
    val conf = spark.sessionState.newHadoopConf()
    val part = fs.listStatus(new Path(dir)).map(_.getPath)
      .find(_.getName.endsWith(".parquet"))
      .getOrElse(sys.error("no partial file written"))
    (1 until generations).foreach { i =>
      FileUtil.copy(fs, part, fs, new Path(dir, f"gen-$i%04d.parquet"),
        false, conf)
    }
    def serve(): String =
      graft.plans.MvRewrite.mvServe(spark.read.parquet(dir))
        .collect().mkString("|")
    val (pre, tLog) = time(serve())
    val (_, tCompact) = time(
      graft.plans.MvRewrite.compactPartials(spark, dir))
    val (post, tCompacted) = time(serve())
    require(pre == post, "compaction changed MV serving results")
    Seq(
      "mv_log_generations" -> generations.toDouble,
      "mv_serve_log_sec" -> tLog,
      "mv_compact_sec" -> tCompact,
      "mv_serve_compacted_sec" -> tCompacted)
  }

  private[graft] def spillProbe(sfDir: String, targetDocs: Int): Seq[(String, Double)] = {
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val addOpens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    val heap = sys.env.getOrElse("SPARK_GRAFT_SPILL_MEM", "2500m")
    val cmd = Seq(javaBin, s"-Xmx$heap",
      "-cp", System.getProperty("java.class.path")) ++ addOpens ++
      Seq("graft.SpillProbe", sfDir, targetDocs.toString)
    val outBuf = new StringBuilder
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(false).start()
    val reader = new java.io.BufferedReader(
      new java.io.InputStreamReader(proc.getInputStream))
    // drain stderr concurrently so the child can't block on a full pipe
    val errDrain = new Thread(() => {
      val e = proc.getErrorStream
      val buf = new Array[Byte](8192)
      while (e.read(buf) >= 0) ()
    })
    errDrain.setDaemon(true)
    errDrain.start()
    var line = reader.readLine()
    var spillLine: Option[String] = None
    while (line != null) {
      if (line.startsWith("SPILL {")) spillLine = Some(line)
      line = reader.readLine()
    }
    val code = proc.waitFor()
    spillLine match {
      case Some(l) if code == 0 =>
        def num(k: String): Double =
          s""""$k":(-?[0-9.]+)""".r.findFirstMatchIn(l)
            .map(_.group(1).toDouble).getOrElse(-1.0)
        Seq(
          "spill_probe_ok" -> 1.0,
          "spill_docs" -> targetDocs.toDouble,
          "spill_mem_mb" -> num("spill_mem_mb"),
          "spill_disk_mb" -> num("spill_disk_mb"),
          "spill_verified_pairs" -> num("verified_pairs"),
          "spill_wall_sec" -> num("wall_sec"))
      case _ =>
        Seq("spill_probe_ok" -> 0.0, "spill_docs" -> targetDocs.toDouble)
    }
  }

  /** The decade-up probe: same operator pipelines, reduced metric set.
    * `baseDocs`/`basePairs` are the 100k stage's corpus size and
    * candidate-pair count — the cross-decade exponent
    * log(pairs_M/pairs_100k)/log(n_M/n_100k) is the headline number. */
  private def sweepAt(spark: SparkSession, sfDir: String, target: Int,
      baseDocs: Long, basePairs: Long, deep: Boolean = true,
      deadlineNanos: Long = Long.MaxValue): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    def budgetCut(stage: String): Boolean = {
      val cut = System.nanoTime() >= deadlineNanos
      if (cut) {
        System.err.println(
          s"[bench] sweep budget exhausted before $stage — degrading")
        out += ("m1_budget_degraded" -> 1.0)
      }
      cut
    }
    spark.catalog.clearCache()

    val (docsWithRep, _) = synthDocs(spark, sfDir, target)
    val docs = docsWithRep.persist()
    val (nDocs, tSynth) = time(docs.count())
    out ++= Seq("m1_docs_n" -> nDocs.toDouble, "m1_docs_synth_sec" -> tSynth)

    val sch = MinHashScheme.default
    val bands = Dedup.docBands(docs, sch).persist()
    val (bucketStats, tBands) = time {
      bands.groupBy("band_id", "band_hash").agg(count(lit(1)).as("bsize"))
        .agg(max(col("bsize")).as("max"),
          expr("percentile(bsize, 0.99)").as("p99"), avg(col("bsize")).as("mean"))
        .first()
    }
    out ++= Seq("m1_minhash_bucket_max" -> bucketStats.getLong(0).toDouble,
      "m1_minhash_bucket_p99" -> bucketStats.getDouble(1),
      "m1_minhash_bucket_mean" -> bucketStats.getDouble(2),
      "m1_minhash_bands_sec" -> tBands)

    val pairs = Dedup.candidatePairsFromBands(bands).persist()
    val (nPairs, tCand) = time(pairs.count())
    val exponent =
      if (basePairs > 0 && nPairs > 0 && nDocs > baseDocs)
        math.log(nPairs.toDouble / basePairs) /
          math.log(nDocs.toDouble / baseDocs)
      else -1.0
    out ++= Seq("m1_cand_pairs" -> nPairs.toDouble,
      "m1_cand_pairs_sec" -> tCand,
      "m1_cand_growth_exponent_decade" -> exponent)

    // planted recall through the full verify pipeline — the join is
    // bounded by the candidate-pair relation (linear per the exponent
    // above), so no cap is needed at 1M; the timing IS the evidence
    val toks = Dedup.shingleSets(docs).persist()
    val verified = Dedup.withJaccardToks(pairs, toks)
      .where(col("jaccard") >= 0.9)
      .select("doc_a", "doc_b").persist()
    val (nVerified, tVerify) = time(verified.count())
    val planted = docs.where(pmod(col("doc_id"), lit(2)) === 1)
      .select((col("doc_id") - 1).as("doc_a"), col("doc_id").as("doc_b"))
    val nPlanted = planted.count()
    val recalled = verified.join(planted, Seq("doc_a", "doc_b"), "left_semi").count()
    out ++= Seq("m1_verified_pairs" -> nVerified.toDouble,
      "m1_planted_recall" ->
        (if (nPlanted > 0) recalled.toDouble / nPlanted else -1.0),
      "m1_verify_sec" -> tVerify)
    verified.unpersist()

    // bloom decontamination at the decade: survivor fraction is the
    // scan-side selectivity claim — it should hold ~constant as the
    // corpus grows (it is a property of the sketch, not the corpus)
    val benchSh = toks.where(pmod(col("doc_id"), lit(1000)) === 0)
      .select(explode(col("toks")).as("sh")).distinct().persist()
    benchSh.count()
    val trainSh = toks.where(pmod(col("doc_id"), lit(1000)) =!= 0)
      .select(col("doc_id"), explode(col("toks")).as("sh"))
    val nTrainSh = trainSh.count()
    val (bloom, tBloomBuild) = time(benchSh
      .agg(org.apache.spark.sql.graftshim.BloomSketch
        .agg(xxhash64(col("sh")), 100000L, 1L << 22).as("bf"))
      .head().getAs[Array[Byte]]("bf"))
    val (nSurvivors, tBloomScan) = time(
      trainSh.where(org.apache.spark.sql.graftshim.BloomSketch
        .mightContain(bloom, xxhash64(col("sh")))).count())
    out ++= Seq(
      "m1_bloom_build_sec" -> tBloomBuild,
      "m1_bloom_scan_sec" -> tBloomScan,
      "m1_bloom_survivor_frac" ->
        (if (nTrainSh > 0) nSurvivors.toDouble / nTrainSh else -1.0))
    benchSh.unpersist()

    // ---- BPE above the driver budget (the forced distributed tier) ----
    // Two questions, answered with numbers: (1) where does the 2^17
    // in-memory word budget actually bind at 1M docs? — report the
    // corpus vocabulary's rows and driver-collect bytes; (2) what is
    // the certified batcher's jobs-per-merge FLOOR when forced past
    // the budget (wordBudget=0 semantics: learnBatched directly) on a
    // beyond-budget vocabulary slice? Bpe.learnFromWords' scaladoc
    // PROVES the count-gap certificate cannot skip conflicted pairs
    // (a skipped pair's count dominates every later candidate's
    // margin), so the per-pass batch is the maximal disjoint prefix
    // and jobs/merge ≈ 1/avg_batch is a structural floor, not a
    // tuning gap — this entry measures that floor honestly.
    {
      val wfFull = graft.operators.Bpe.wordFreq(docs)
      val (wfStats, tWf) = time(wfFull
        .agg(count(lit(1)).as("n"),
          sum(length(col("w")) + lit(24)).as("bytes")).first())
      val wfRows = wfStats.getLong(0)
      out ++= Seq(
        "m1_bpe_vocab_rows" -> wfRows.toDouble,
        "m1_bpe_vocab_collect_mb" -> wfStats.getLong(1).toDouble / 1e6,
        "m1_bpe_vocab_over_budget" ->
          (wfRows.toDouble / (1L << 17).toDouble),
        "m1_bpe_vocab_count_sec" -> tWf)
      // beyond-budget slice (top 2^18 words by frequency — 2x the
      // driver budget) keeps the forced-tier wall time bounded while
      // exercising exactly the path a beyond-budget corpus takes
      val wfBig = wfFull
        .orderBy(col("freq").desc, col("w")).limit(1 << 18)
        .localCheckpoint()
      val (res, jobs) = countJobs(spark.sparkContext) {
        graft.operators.Bpe.learnBatched(wfBig, 200, minFreq = 1L,
          ckptEvery = 24)
      }
      val nM = math.max(1, res.merges.size)
      out ++= Seq(
        "m1_bpe_forced_dist_merges" -> res.merges.size.toDouble,
        "m1_bpe_forced_dist_passes" -> res.passes.toDouble,
        "m1_bpe_forced_dist_jobs" -> jobs.toDouble,
        "m1_bpe_forced_dist_jobs_per_merge" -> jobs.toDouble / nM,
        "m1_bpe_forced_dist_avg_batch" ->
          res.merges.size.toDouble / math.max(1, res.passes))
      org.apache.spark.sql.graftshim.Checkpoints.release(wfBig)
    }
    Seq(toks, pairs, bands, docs).foreach(_.unpersist())
    if (budgetCut("m1-ann")) return out.toSeq

    // ANN at the decade: the q100 operating point vs exact brute force
    // — recall should HOLD as the corpus grows (more tables' candidates
    // per query grow with the data) while the probed fraction shrinks
    val vecs = synthVecs(spark, sfDir, target).persist()
    val nVecs = vecs.count()
    val qStride = math.max(1L, nVecs / 64)
    val queryFilter = pmod(col("vec_id"), lit(qStride)) === 0
    def topkSet(df: DataFrame): Set[(Long, Long)] = df.collect()
      .flatMap(r => r.getSeq[Long](1).map(r.getLong(0) -> _)).toSet
    val (exact, tExact) = time(topkSet(
      Similarity.bruteForceTopK(vecs, queryFilter, 3)
        .groupBy("query_id").agg(collect_list(col("neighbor_id")).as("ids"))
        .select(col("query_id"), col("ids"))))
    var multitable: Set[(Long, Long)] = Set.empty
    val (_, tMt) = time {
      multitable = Similarity
        .multiTableTopK(vecs, queryFilter, 3, Similarity.opTables, Similarity.opRadius)
        .select("query_id", "neighbor_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toSet
    }
    val mtCands = Similarity
      .multiTableCandidates(vecs, queryFilter, Similarity.opTables, Similarity.opRadius)
      .count()
    val nQueries = exact.map(_._1).size
    out ++= Seq("m1_vecs_n" -> nVecs.toDouble,
      "m1_ann_exact_topk_sec" -> tExact,
      "m1_ann_multitable_recall3" ->
        (if (exact.nonEmpty) exact.intersect(multitable).size.toDouble / exact.size
         else -1.0),
      "m1_ann_multitable_topk_sec" -> tMt,
      "m1_ann_multitable_cands_per_q" ->
        (if (nQueries > 0) mtCands.toDouble / nQueries else -1.0),
      "m1_ann_probed_frac" ->
        (if (nQueries > 0 && nVecs > 0) mtCands.toDouble / nQueries / nVecs
         else -1.0))

    // release THIS stage's cached vectors first: the serve probe
    // rebuilds and caches its own copy of the same relation, and two
    // resident 1M-vector caches would fight for memory in the middle
    // of the timings the probe records
    vecs.unpersist()
    if (budgetCut("m1-zorder")) return out.toSeq
    out ++= zorderProbe(spark, sfDir, 4000000, 256)
    if (budgetCut("m1-rank")) return out.toSeq
    out ++= rankProbe(spark, 8000000, deep)
    if (budgetCut("m1-refresh")) return out.toSeq
    out ++= refreshProbe(spark, sfDir, target)

    // the serve probe goes LAST: the driver records only the final
    // 2000 chars of stdout, so the probe order decides which keys the
    // recorded artifact carries — and the citable serving claims
    // (m1_batch_serve_*_trained, *_b257, m1_compact_*,
    // m1_valuegrain_*) are the keys README/SCALE name. With zorder/
    // rank emitted first, everything from the trained headline keys
    // onward fits the tail.
    if (budgetCut("m1-serve")) return out.toSeq
    out ++= ivfServeProbe(spark, sfDir, target)

    out.toSeq
  }

  /** q181's two-level rank vs the naive per-source window, at a scale
    * where the skew bites: 2M rows, 80% in ONE source. The naive
    * window puts the hot source's 1.6M rows on a single task; the
    * two-level form ranks in bounded (source, bin) windows and adds
    * bin-histogram offsets. Both must produce the IDENTICAL global
    * rank sum (exactness check rides along). */
  private[graft] def rankProbe(spark: SparkSession, n: Int,
      deep: Boolean = true): Seq[(String, Double)] = {
    import org.apache.spark.sql.expressions.Window
    val rows = spark.range(n.toLong).select(
      col("id"),
      when(pmod(col("id"), lit(10L)) < 8, lit("s0"))
        .otherwise(concat(lit("s"), pmod(col("id"), lit(10L)) - lit(6L))).as("source"),
      (pmod(col("id") * 2654435761L + 11L, lit(1048576L)).cast("double") / 16)
        .as("logit"))
      .persist()
    rows.count()
    // rank-ASSIGNMENT checksum: Σ r·(id mod p) in DECIMAL(38,0) (a
    // plain Σr is permutation-invariant and would not detect a wrong
    // assignment; longs overflow past ~4M rows)
    def checksum(ranked: DataFrame): String =
      ranked.agg(sum(col("r").cast("decimal(38,0)") *
          pmod(col("id"), lit(1000003L)).cast("decimal(38,0)")))
        .first().getDecimal(0).toPlainString
    def naive(): String = checksum(rows.withColumn("r",
      row_number().over(Window.partitionBy("source").orderBy("logit", "id"))))
    def twoLevel(): String = {
      val binned = rows.withColumn("bin", floor(col("logit") * 16))
      val wOff = Window.partitionBy("source").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = binned.groupBy("source", "bin")
        .agg(count(lit(1)).as("bin_n"))
        .withColumn("offset", coalesce(sum("bin_n").over(wOff), lit(0L)))
        .select("source", "bin", "offset")
      val wLoc = Window.partitionBy("source", "bin").orderBy("logit", "id")
      checksum(binned.withColumn("lr", row_number().over(wLoc))
        .join(broadcast(offsets), Seq("source", "bin"))
        .withColumn("r", col("offset") + col("lr")))
    }
    // warm once, time once: the gap is >2x at 8M — medians would add
    // ~40 s of probe time for no extra signal. The NAIVE side is a
    // deliberately-skewed baseline (~200 s warm+timed at 8M): DEEP tier
    // only — the production two-level form stays measured every run.
    // (The two-level decomposition's exactness is independently pinned
    // by QualityGateSpec's q181 driver-side-sort comparison, so gating
    // the 8M baseline loses no correctness net.)
    val naiveKvs = if (deep) {
      val c1 = naive()
      val tNaive = time(naive())._2
      val c2 = twoLevel() // doubles as the warm run for the timing below
      Seq("rank_naive_sec" -> tNaive,
        "rank_checksums_equal" -> (if (c1 == c2) 1.0 else 0.0))
    } else { twoLevel(); Nil } // warm
    val tTwo = time(twoLevel())._2
    rows.unpersist()
    Seq(
      "rank_rows" -> n.toDouble,
      "rank_twolevel_sec" -> tTwo) ++ naiveKvs
  }

  /** Z-order layout A/B: the same synthetic (user, minute) event rows
    * written time-sorted vs Morton-sorted, then three predicate shapes
    * against each layout, measuring rows SURVIVING the parquet scan
    * (row-group/page statistics pruning) and wall time:
    *  - a time-range box: the 1-d layout's home turf — both prune;
    *  - a user-range box: the 1-d layout's blind spot — it scans
    *    EVERYTHING (user is uncorrelated with time order) while the
    *    Morton layout reads one tile-column (~1/16 at 256 files);
    *  - the 2-d box: both reach a handful of tiles.
    * This is the measured version of q169's claim: Z-order buys
    * pruning on EVERY interleaved dimension, not just the sort
    * prefix. Dims are mixed deterministically from the row id (no
    * Date.now / rand — resumable). */
  private[graft] def zorderProbe(spark: SparkSession, sfDir: String,
      n: Int, files: Int): Seq[(String, Double)] = {
    import graft.operators.ZOrder
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // two independent-ish 16-bit dims from a Weyl/odd-multiplier mix
    val ev = spark.range(n.toLong).select(
      col("id").as("event_id"),
      pmod(col("id") * 2654435761L + 12345L, lit(65536L)).as("ub"),
      pmod(col("id") * 40507L + 7L, lit(65536L)).as("tb"))
    val timePath = graft.operators.Formats.scratchDir("graft_zorder_time", sfDir)
    val zPath = graft.operators.Formats.scratchDir("graft_zorder_z", sfDir)
    val (_, tWriteTime) = time(
      ev.repartitionByRange(files, col("tb"))
        .sortWithinPartitions("tb")
        .write.mode("overwrite").parquet(timePath))
    val (_, tWriteZ) = time(
      ev.withColumn("z", ZOrder.morton(col("ub"), col("tb")))
        .repartitionByRange(files, col("z"))
        .sortWithinPartitions("z")
        .drop("z")
        .write.mode("overwrite").parquet(zPath))

    // rows the scan EMITS (after row-group/page-level statistics
    // pruning, before the residual Filter) — the I/O proxy
    def scanRows(df: DataFrame): Double = {
      df.collect()
      def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
          : org.apache.spark.sql.execution.SparkPlan = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      finalPlan(df.queryExecution.executedPlan).collectLeaves().collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numOutputRows").value.toDouble
      }.sum
    }
    val schema = "event_id BIGINT, ub BIGINT, tb BIGINT"
    def layout(path: String) = spark.read.schema(schema).parquet(path)
    def timeBox(df: DataFrame) = df.where(col("tb").between(2000L, 2255L))
    def userBox(df: DataFrame) = df.where(col("ub").between(1000L, 1255L))
    def box2d(df: DataFrame) = df.where(
      col("ub").between(1000L, 1255L) && col("tb").between(2000L, 2255L))
    def probe(tag: String, shape: DataFrame => DataFrame): Unit = {
      val onTime = shape(layout(timePath))
      val onZ = shape(layout(zPath))
      val rowsTime = scanRows(onTime) // also warms page cache + codegen
      val rowsZ = scanRows(onZ)
      val tTime = (1 to 3).map(_ => time(shape(layout(timePath)).collect())._2).sorted.apply(1)
      val tZ = (1 to 3).map(_ => time(shape(layout(zPath)).collect())._2).sorted.apply(1)
      out ++= Seq(
        s"zorder_${tag}_scan_rows_timesorted" -> rowsTime,
        s"zorder_${tag}_scan_rows_zsorted" -> rowsZ,
        s"zorder_${tag}_sec_timesorted" -> tTime,
        s"zorder_${tag}_sec_zsorted" -> tZ)
    }
    probe("timebox", timeBox)
    probe("userbox", userBox)
    probe("box2d", box2d)
    out ++= Seq(
      "zorder_rows" -> n.toDouble,
      "zorder_files" -> files.toDouble,
      "zorder_write_time_sec" -> tWriteTime,
      "zorder_write_z_sec" -> tWriteZ)
    out.toSeq
  }

  /** The on-disk layout A/B (40M synthetic code rows, nProbe-swept,
    * spreads recorded) plus the q303 batch-serve measurements (fixed
    * and trained codebooks, amortization + candidate-stage profile) —
    * callable standalone: `runMain graft.ScaleBench serve <sfDir>
    * <ignored> <targetVecs>`. */
  /** CENTROID REFRESH A/B (q352's physics, measured at a PLANTED
    * drift): the corpus is the base population plus an arrival wave a
    * THIRD the base size (a quarter of the corpus — comfortably above
    * the 1/5 refresh threshold, so the decision does not sit at exact
    * integer equality where one unmoved arrival would flip it)
    * forming a tight cosine cluster far from the base distribution
    * (all-positive shift → the all-ones direction — a new modality
    * the stale quantizer has no centroid for). The STALE
    * quantizer (stride sample of the base only) crams the whole
    * arrival cloud into its few nearest cells, so an arrival query
    * still FINDS its neighbors (the mega-cells rank first) but scans
    * the entire cloud; the REFRESHED quantizer (same stride over
    * base ∪ arrivals — exactly q352's re-fit sample) splits the cloud
    * over ~64 cells and the probed row count collapses at held
    * recall. Recorded: q352's drift census (reassignment rate + the
    * refresh decision), recall@3 for arrival queries at the fixed
    * operating nProbe, probed rows per query under both quantizers,
    * and their ratio (m1_refresh_scan_x) — the number that says what
    * NOT refreshing costs per query. */
  private[graft] def refreshProbe(spark: SparkSession, sfDir: String,
      target: Int): Seq[(String, Double)] = {
    import graft.operators.{IvfAnn, Similarity}
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    val idOffset = 2000000000L
    val base = synthVecs(spark, sfDir, target)
    val arrivals = base.where(pmod(col("vec_id"), lit(3)) === 0)
      .select((col("vec_id") + idOffset).as("vec_id"),
        transform(col("embedding"),
          x => (abs(x.cast("double")) + 2.0).cast("float")).as("embedding"))
    val corpus = base.unionByName(arrivals).repartition(64).persist()
    val nCorpus = corpus.count()
    val nBase = base.count()
    val nArr = nCorpus - nBase
    out ++= Seq("m1_refresh_corpus_n" -> nCorpus.toDouble,
      "m1_refresh_arrivals_n" -> nArr.toDouble)
    // stale = stride sample of the base only (~256 cells); refit =
    // the stale sample PLUS an equal-rate stride sample of the
    // arrival population taken in the arrivals' OWN id space (q352's
    // rule). Sampling the offset ids directly would make arrival
    // membership depend on (idOffset mod stride) vs the wave's
    // residue class — a number-theory accident that can leave the
    // refit with ZERO arrival centroids (it did, at target 20000)
    val stride = math.max(1L, nBase / 256)
    val stale = base.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))
    val refit = stale.unionByName(
      arrivals.where(
        pmod(col("vec_id") - idOffset, lit(3L * stride)) === 0)
        .select(col("vec_id").as("cell"), col("embedding").as("centroid")))
    // q352's drift census + decision, at scale
    val (policy, tPolicy) = time(
      IvfAnn.centroidRefreshPolicy(corpus, stale, refit).collect())
    val totRows = policy.map(_.getLong(1)).sum
    val totMoved = policy.map(_.getLong(2)).sum
    out ++= Seq(
      "m1_refresh_policy_sec" -> tPolicy,
      "m1_refresh_reassign_rate" ->
        (if (totRows > 0) totMoved.toDouble / totRows else -1.0),
      "m1_refresh_decision" ->
        (if (policy.nonEmpty && policy.head.getBoolean(3)) 1.0 else 0.0))
    // recall + scan cost for ARRIVAL queries at the operating nProbe,
    // stale vs refreshed
    val qStride = math.max(1L, nArr / 64) * 4
    val queryFilter = col("vec_id") >= idOffset &&
      pmod(col("vec_id") - idOffset, lit(qStride)) === 0
    val exact = Similarity.bruteForceTopK(corpus, queryFilter, 3)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val nQ = exact.map(_._1).size
    def variant(tag: String, cents: DataFrame): Unit = {
      val assigned = IvfAnn.assign(corpus, cents).persist()
      assigned.count()
      def searched(): Set[(Long, Long)] =
        IvfAnn.search(assigned, cents, queryFilter, k = 3,
          nProbe = IvfAnn.opNProbe)
          .select("query_id", "neighbor_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = searched() // warm + recall
      val (_, tSearch) = time(searched())
      // probed rows per query: the routed top-nProbe cells' census
      val census = assigned.groupBy("cell").agg(count(lit(1)).as("n_rows"))
      val queries = assigned.where(queryFilter)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val wRank = org.apache.spark.sql.expressions.Window
        .partitionBy("query_id").orderBy(col("c_sim").desc, col("cell"))
      val probedRows = queries.crossJoin(broadcast(cents))
        .withColumn("c_sim", Similarity.cosine(col("q_emb"), col("centroid")))
        .withColumn("c_rank", row_number().over(wRank))
        .where(col("c_rank") <= IvfAnn.opNProbe)
        .join(census, "cell")
        .agg(sum("n_rows")).head.getLong(0)
      assigned.unpersist()
      out ++= Seq(
        s"m1_refresh_recall3_$tag" ->
          (if (exact.nonEmpty) exact.intersect(got).size.toDouble / exact.size
           else -1.0),
        s"m1_refresh_search_sec_$tag" -> tSearch,
        s"m1_refresh_probed_rows_per_q_$tag" ->
          (if (nQ > 0) probedRows.toDouble / nQ else -1.0))
    }
    variant("stale", stale)
    variant("refreshed", refit)
    val probedStale = out.find(_._1 == "m1_refresh_probed_rows_per_q_stale").map(_._2)
    val probedRef = out.find(_._1 == "m1_refresh_probed_rows_per_q_refreshed").map(_._2)
    out += "m1_refresh_scan_x" -> (for {
      s <- probedStale; r <- probedRef if r > 0
    } yield s / r).getOrElse(-1.0)
    // the EXECUTED refresh (q362): re-assign + PQ re-encode + cell-
    // partitioned segment rewrite under the re-fit centroids — the
    // one-off retrain cost that m1_refresh_scan_x's per-query scan
    // savings amortize from the first post-refresh serve on
    val e2ePath = graft.operators.Formats.scratchDir("graft_refresh_e2e", sfDir)
    val (_, tReencode) = time(
      graft.operators.IvfAnn.assign(corpus, refit)
        .select(col("vec_id"),
          org.apache.spark.sql.graftshim.PqEncode(col("embedding"),
            graft.operators.PqAnn.codebook).as("codes"),
          col("cell"))
        .repartition(col("cell"))
        .write.partitionBy("cell").mode("overwrite").parquet(e2ePath))
    out += "m1_refresh_e2e_reencode_sec" -> tReencode
    graft.operators.Formats.wipe(e2ePath)
    corpus.unpersist()
    out.toSeq
  }

  private[graft] def ivfServeProbe(spark: SparkSession, sfDir: String,
      target: Int): Seq[(String, Double)] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
    // synthVecs explodes a ~2k-row base into 1M rows WITHOUT changing
    // the partition count — left alone, every per-row stage downstream
    // (PqEncode at 256 centroids, the re-rank corpus scan) runs on 1-2
    // cores. Repartition once, before the cache.
    val vecs = synthVecs(spark, sfDir, target).repartition(64).persist()
    val nVecs = vecs.count()
    out += "m1_serve_vecs_n" -> nVecs.toDouble

    // ---- on-disk IVF-PQ layout A/B (the q139 physics, measured) ----
    // The SAME codes relation written two ways — flat parquet vs
    // partitionBy(cell) — searched by the SAME ADC top-50 pipeline;
    // the only difference is HOW the probed-cell gate executes: a
    // broadcast semi join that scans every code row vs partition
    // pruning that never lists the unprobed directories. r7/r8 ran
    // this at 1M code rows, where BOTH sides finish under 200 ms and
    // the ratio swung 1.4–2.9× run to run — scheduling noise, not scan
    // physics. It now runs at 40M SYNTHETIC code rows (the gate
    // physics depend only on the codes relation's size and layout,
    // never on how code values were produced — a 40M-vector PqEncode
    // would measure nothing new), swept over nProbe with median-of-15/25
    // timings and the min→max spread recorded per point. The headline
    // m1_ivfpq_disk_* keys carry the nProbe=16 point (3.2% of
    // directories probed).
    {
      import graft.operators.{IvfPq, PqAnn}
      val abRows = 40000000L
      val abCells = 500
      val synthCodes = spark.range(abRows).select(
        col("id").as("vec_id"),
        array((0 until PqAnn.subspaces).map(sub =>
          pmod(hash(col("id"), lit(sub)), lit(PqAnn.nCentroids)).cast("int")): _*)
          .as("codes"),
        pmod(hash(col("id"), lit(-1)), lit(abCells)).cast("long").as("cell"))
        // one shuffle buys the layout: each writer task holds whole
        // cells, so the partitioned tree gets one file per cell
        .repartition(col("cell"))
      val flatPath = graft.operators.Formats.scratchDir("graft_ivfpq_ab_flat", sfDir)
      val partAbPath = graft.operators.Formats.scratchDir("graft_ivfpq_ab_part", sfDir)
      val (_, tWriteFlat) = time(
        synthCodes.write.mode("overwrite").parquet(flatPath))
      val (_, tWritePart) = time(
        synthCodes.write.partitionBy("cell").mode("overwrite").parquet(partAbPath))
      val schema = "vec_id BIGINT, codes ARRAY<INT>, cell BIGINT"
      // the SAME scoring pipeline on both sides, by construction:
      // one shared definition (PqAnn.fixedLutAdcDist), not a copy
      def top50(df: DataFrame): Long =
        df.withColumn("adc_dist", PqAnn.fixedLutAdcDist)
          .orderBy(col("adc_dist"), col("vec_id")).limit(50)
          .collect().length.toLong
      import spark.implicits._
      // median of 15 with TWO spreads: IQR (the steady-state noise) and
      // min→max (which a single GC pause dominates — reported, not
      // hidden, but the <20% stability gate reads the IQR). A System.gc
      // before each point keeps collector debt from the 40M writes out
      // of the samples.
      def medianN(n: Int)(f: () => Long): (Double, Double, Double) = {
        System.gc()
        f(); f() // warm twice (page cache, codegen, JIT)
        val ts = (1 to n).map(_ => time(f())._2).sorted
        (ts(n / 2), (ts(3 * n / 4) - ts(n / 4)) / ts(n / 2),
          (ts.last - ts.head) / ts(n / 2))
      }
      out ++= Seq(
        "m1_ivfpq_ab_rows" -> abRows.toDouble,
        "m1_ivfpq_disk_cells" -> abCells.toDouble,
        "m1_ivfpq_disk_write_flat_sec" -> tWriteFlat,
        "m1_ivfpq_disk_write_part_sec" -> tWritePart)
      Seq(4, 16, 64).foreach { p =>
        val probeIds = (0 until p).map(_.toLong).toIndexedSeq
        val probeDf = probeIds.toDF("cell")
        def semiJoinSearch(): Long = top50(
          spark.read.schema(schema).parquet(flatPath)
            .join(broadcast(probeDf), Seq("cell"), "left_semi"))
        def prunedSearch(): Long = top50(
          IvfPq.probedScan(spark, partAbPath, probeIds)
            .getOrElse(sys.error("no probed cell dir exists")))
        val (tSemi, iqrSemi, spreadSemi) = medianN(15)(semiJoinSearch _)
        // the pruned side is ~5x faster per sample, so scheduling noise
        // is proportionally larger — buy it more samples
        val (tPruned, iqrPruned, spreadPruned) = medianN(25)(prunedSearch _)
        out ++= Seq(
          s"m1_ivfpq_disk_p${p}_semijoin_sec" -> tSemi,
          s"m1_ivfpq_disk_p${p}_semijoin_iqr" -> iqrSemi,
          s"m1_ivfpq_disk_p${p}_semijoin_spread" -> spreadSemi,
          s"m1_ivfpq_disk_p${p}_pruned_sec" -> tPruned,
          s"m1_ivfpq_disk_p${p}_pruned_iqr" -> iqrPruned,
          s"m1_ivfpq_disk_p${p}_pruned_spread" -> spreadPruned,
          s"m1_ivfpq_disk_p${p}_prune_speedup" ->
            (if (tPruned > 0) tSemi / tPruned else -1.0))
        if (p == 16) out ++= Seq(
          "m1_ivfpq_disk_semijoin_sec" -> tSemi,
          "m1_ivfpq_disk_pruned_sec" -> tPruned,
          "m1_ivfpq_disk_prune_speedup" ->
            (if (tPruned > 0) tSemi / tPruned else -1.0))
      }
    }

    // ---- batch-query serving at the decade (q303's physics) ----
    // 64 queries served by ONE distributed plan against the 1M-vector
    // real-pipeline index (probe-union pruned scan, fused-ADC scoring
    // against the broadcast (query_id, cell, q_emb) probe side,
    // distributed exact re-rank). Three measurements:
    //  1. amortization: batch wall-clock vs |Q| independent
    //     single-query pruned ADC searches, plus the candidate-stage /
    //     re-rank split that locates the amortization floor;
    //  2. the FIXED oracle codebook serve (the q303 plan verbatim);
    //  3. the TRAINED PQ8x256 codebook through the SAME plan, L2
    //     end-to-end (L2 cells, L2 routing — routing an L2 index by
    //     cosine measured 0.73–0.77 recall on this replica-noise
    //     corpus), with recall@10 against exact brute force — the
    //     (recall, ms/query) pair a retrieval tier actually ships.
    {
      import graft.operators.{IvfAnn, IvfPq, PqAnn}
      val stride = math.max(1L, nVecs / 500).toInt
      val centroids = IvfAnn.fixedCentroids(vecs, stride)
      // encode AFTER the cell shuffle: repartitioning an exploded
      // relation first means PqEncode runs on the full core count
      val codes = IvfAnn.assign(vecs, centroids)
        .repartition(col("cell"))
        .select(col("vec_id"),
          org.apache.spark.sql.graftshim.PqEncode(col("embedding"), PqAnn.codebook)
            .as("codes"),
          col("cell"))
      val partPath = graft.operators.Formats.scratchDir("graft_ivfpq_bench_part", sfDir)
      codes.write.partitionBy("cell").mode("overwrite").parquet(partPath)
      // single-query pruned ADC search (the q139 shape) — the
      // amortization DENOMINATOR; median of 5
      val probes = IvfPq.probeCells(centroids)
      def prunedSearch(): Long =
        IvfPq.probedScan(spark, partPath, probes)
          .getOrElse(sys.error("no probed cell dir exists"))
          .withColumn("adc_dist", PqAnn.fixedLutAdcDist)
          .orderBy(col("adc_dist"), col("vec_id")).limit(50)
          .collect().length.toLong
      def median5(f: () => Long): Double = {
        f()
        val ts = (1 to 5).map(_ => time(f())._2).sorted
        ts(2)
      }
      val tPruned = median5(prunedSearch _)
      out += "m1_batch_serve_single_pruned_sec" -> tPruned

      val qStride2 = math.max(1L, nVecs / 64)
      val queries = vecs
        .where(pmod(col("vec_id"), lit(qStride2)) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val nQ = queries.count()
      // candidate stage alone (probe routing + pruned scan + ADC heaps)
      // — the profile the round-8 verdict asked for: is the
      // amortization floor in the per-pair work or in the re-rank?
      def candStage(): Long =
        IvfPq.serveCandidates(spark, Seq(partPath), centroids, queries,
          PqAnn.codebook, 100000L, IvfPq.nProbe, IvfPq.adcCand, "cos",
          Some(nQ))
          ._1.count()
      candStage() // warm
      val (_, tCand) = time(candStage())
      def serve(): Long =
        IvfPq.batchServe(spark, Seq(partPath), centroids, queries, vecs,
          queryCountHint = Some(nQ))
          .count()
      def median3(f: () => Long): Double = {
        f() // warm
        (1 to 3).map(_ => time(f())._2).sorted.apply(1)
      }
      val tBatch = median3(serve _)
      // NOTE: the 64-query amortization RATIO is retired (it swung
      // 2.1-2.9x run to run — per-stage scheduling latency dominates a
      // batch this small); the stable amortization claim is the
      // 257-query point, emitted as m1_batch_serve_*_b257 near the END
      // of the scale line so the driver's 2000-char stdout tail always
      // carries it (README/SCALE cite those keys).
      out ++= Seq(
        "m1_batch_serve_queries" -> nQ.toDouble,
        "m1_batch_serve_cand_stage_sec" -> tCand,
        "m1_batch_serve_sec" -> tBatch,
        "m1_batch_serve_ms_per_query" ->
          (if (nQ > 0) tBatch * 1000.0 / nQ else -1.0))

      // trained-codebook production operating point through the SAME
      // distributed serve plan: Lloyd PQ8x256 on a bounded sample, L2
      // cells + L2 routing, recall@10 vs exact L2 top-10 (self
      // included — the q303/q324 convention) at the q303 candidate
      // budget and at 4x that budget (replica-noise ADC distortion
      // needs a deeper exact re-rank pool; both points reported)
      val (cbT, tTrainT) = time {
        val sampleStride = math.max(1L, nVecs / 8192)
        val samples = vecs.where(pmod(col("vec_id"), lit(sampleStride)) === 0)
          .select("embedding").collect()
          .map(_.getSeq[Float](0).map(_.toDouble).toIndexedSeq).toIndexedSeq
        PqAnn.trainCodebook(samples, numCentroids = 256)
      }
      val codesT = IvfAnn.assign(vecs, centroids, metric = "l2")
        .repartition(col("cell"))
        .select(col("vec_id"),
          org.apache.spark.sql.graftshim.PqEncode(col("embedding"), cbT)
            .as("codes"),
          col("cell"))
      val partTPath = graft.operators.Formats.scratchDir("graft_ivfpq_bench_part_trained", sfDir)
      val (_, tEncT) = time(
        codesT.write.partitionBy("cell").mode("overwrite").parquet(partTPath))
      val exactDistE = (0 until PqAnn.dims).map { j =>
        val dd = element_at(col("q_emb"), j + 1).cast("double") -
          element_at(col("embedding"), j + 1).cast("double")
        dd * dd
      }.reduceLeft(_ + _)
      val exact10 = vecs.crossJoin(broadcast(queries))
        .groupBy("query_id")
        .agg(org.apache.spark.sql.graftshim.TopKByScore(
          -exactDistE, col("vec_id"), IvfPq.k).as("top"))
        .select(col("query_id"), explode(col("top.id")).as("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      def recallOf(served: DataFrame): Double = {
        val got = served.select("query_id", "vec_id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        if (exact10.nonEmpty) exact10.intersect(got).size.toDouble / exact10.size
        else -1.0
      }
      // ROUTING CEILING (the q327 reach-rank, computed driver-side on
      // the bounded eval artifacts): the fraction of the exact top-10
      // whose assigned L2 cell sits within each query's top-p routed
      // cells — recall at nProbe=p can never exceed this, whatever
      // the codebook or candidate depth. Diagnoses routing loss vs
      // ADC loss on this replica corpus (a base vector's ~500 noisy
      // replicas straddle cell boundaries).
      val centArr = centroids.select(col("cell").cast("long"), col("centroid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val qArr = queries.collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      def l2d(a: Array[Float], b: Array[Float]): Double = {
        var acc = 0.0; var i = 0
        while (i < a.length) { val d = a(i).toDouble - b(i); acc += d * d; i += 1 }
        acc
      }
      // per query: cells ranked by L2 distance (ties -> lowest cell)
      val cellRank: Map[Long, Map[Long, Int]] = qArr.map { case (qid, q) =>
        qid -> centArr.map { case (c, ce) => (c, l2d(q, ce)) }
          .sortBy { case (c, dd) => (dd, c) }
          .zipWithIndex.map { case ((c, _), i) => c -> (i + 1) }.toMap
      }.toMap
      val exactIds = exact10.map(_._2)
      val cellOf = spark.read.parquet(partTPath)
        .where(col("vec_id").isin(exactIds.toSeq: _*))
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(4, 16, 32).foreach { p =>
        val reached = exact10.count { case (qid, vid) =>
          cellRank(qid)(cellOf(vid)) <= p
        }
        out += s"m1_route_ceiling_p${p}_recall10" ->
          (if (exact10.nonEmpty) reached.toDouble / exact10.size else -1.0)
      }
      // (nProbe, candidate-depth) sweep: this corpus is ~500
      // near-identical replicas per base vector — replicas of the
      // true neighbors straddle cells (routing ceiling above) and ADC
      // distortion cannot rank WITHIN a replica cloud, so recall
      // needs BOTH a wide-enough probe and a deep-enough exact
      // re-rank pool (the 100k-scale block measured the same
      // candidate-depth physics: 400 cands → 0.86, 1000 → 0.95). The
      // headline *_trained keys carry the widest/deepest point — the
      // operating point a tier would ship on THIS corpus.
      val opPoints = Seq(
        (IvfPq.nProbe, IvfPq.adcCand),
        (IvfPq.nProbe, 20 * IvfPq.adcCand),
        (16, 20 * IvfPq.adcCand))
      opPoints.foreach { case (p, ac) =>
        def serveT(): DataFrame =
          IvfPq.batchServe(spark, Seq(partTPath), centroids, queries, vecs,
            codebook = cbT, probes = p, adcCands = ac, metric = "l2",
            queryCountHint = Some(nQ))
        val recallT = recallOf(serveT())
        serveT().count() // warm the timed shape
        val (_, tT) = time(serveT().count())
        out ++= Seq(
          s"m1_batch_serve_sec_trained_p${p}_c$ac" -> tT,
          s"m1_batch_serve_ms_per_query_trained_p${p}_c$ac" ->
            (if (nQ > 0) tT * 1000.0 / nQ else -1.0),
          s"m1_batch_serve_recall10_trained_p${p}_c$ac" -> recallT)
      }

      // FULL production point: TRAIN the coarse quantizer too (the
      // library's spark.ml KMeans path, fit on a 100k sample) — the
      // stride-sample centroids above are the ORACLE-family quantizer,
      // and on this replica corpus they fragment each base vector's
      // ~500-replica cloud across cells (routing ceiling 0.71@p4 /
      // 0.86@p32 measured above caps ANY codebook). A trained
      // quantizer puts whole clouds in cells; this is how faiss builds
      // IVF-PQ: both levels learned from one sample.
      val (idxK, tKmeans) = time(
        IvfAnn.build(vecs.where(pmod(col("vec_id"), lit(10L)) === 0), 500))
      val centroidsK = IvfAnn.centroidDf(spark, idxK.model)
      val codesK = IvfAnn.assign(vecs, centroidsK, metric = "l2")
        .repartition(col("cell"))
        .select(col("vec_id"),
          org.apache.spark.sql.graftshim.PqEncode(col("embedding"), cbT)
            .as("codes"),
          col("cell"))
      val partKPath = graft.operators.Formats.scratchDir("graft_ivfpq_bench_part_kmeans", sfDir)
      codesK.write.partitionBy("cell").mode("overwrite").parquet(partKPath)
      val centKArr = centroidsK.select(col("cell").cast("long"), col("centroid"))
        .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      val cellRankK: Map[Long, Map[Long, Int]] = qArr.map { case (qid, q) =>
        qid -> centKArr.map { case (c, ce) => (c, l2d(q, ce)) }
          .sortBy { case (c, dd) => (dd, c) }
          .zipWithIndex.map { case ((c, _), i) => c -> (i + 1) }.toMap
      }.toMap
      val cellOfK = spark.read.parquet(partKPath)
        .where(col("vec_id").isin(exactIds.toSeq: _*))
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Seq(4, 16, 32).foreach { p =>
        val reached = exact10.count { case (qid, vid) =>
          cellRankK(qid)(cellOfK(vid)) <= p
        }
        out += s"m1_route_ceiling_kmeans_p${p}_recall10" ->
          (if (exact10.nonEmpty) reached.toDouble / exact10.size else -1.0)
      }
      Seq((4, 1000), (16, 1000), (32, 2000)).foreach { case (p, ac) =>
        def serveK(): DataFrame =
          IvfPq.batchServe(spark, Seq(partKPath), centroidsK, queries, vecs,
            codebook = cbT, probes = p, adcCands = ac, metric = "l2",
            queryCountHint = Some(nQ))
        val recallK = recallOf(serveK())
        serveK().count() // warm
        val (_, tK) = time(serveK().count())
        out ++= Seq(
          s"m1_batch_serve_sec_kmeans_p${p}_c$ac" -> tK,
          s"m1_batch_serve_ms_per_query_kmeans_p${p}_c$ac" ->
            (if (nQ > 0) tK * 1000.0 / nQ else -1.0),
          s"m1_batch_serve_recall10_kmeans_p${p}_c$ac" -> recallK)
        // the headline *_trained keys carry the full trained stack's
        // BEST-recall point — the operating point a tier ships here
        if (p == 32) out ++= Seq(
          "m1_batch_serve_sec_trained" -> tK,
          "m1_batch_serve_ms_per_query_trained" ->
            (if (nQ > 0) tK * 1000.0 / nQ else -1.0),
          "m1_batch_serve_recall10_trained" -> recallK)
      }
      out += "m1_ivfpq_coarse_kmeans_fit_sec" -> tKmeans
      out += "m1_ivfpq_codebook_train_sec" -> tTrainT
      out += "m1_ivfpq_trained_encode_write_sec" -> tEncT

      // 257-QUERY AMORTIZATION (the stable batch point; the 64-query
      // ratio is retired as scheduler-noise-dominated). Emitted HERE —
      // near the end of the scale line — so the recorded BENCH tail
      // always carries the keys README/SCALE cite.
      val queries257 = vecs
        .where(pmod(col("vec_id"), lit(math.max(1L, nVecs / 256))) === 0)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
      val nQ257 = queries257.count()
      def serve257(): Long =
        IvfPq.batchServe(spark, Seq(partPath), centroids, queries257, vecs,
          queryCountHint = Some(nQ257)).count()
      val tBatch257 = median3(serve257 _)
      out ++= Seq(
        "m1_batch_serve_queries_b257" -> nQ257.toDouble,
        "m1_batch_serve_sec_b257" -> tBatch257,
        "m1_batch_serve_ms_per_query_b257" ->
          (if (nQ257 > 0) tBatch257 * 1000.0 / nQ257 else -1.0),
        "m1_batch_serve_amortization_x_b257" ->
          (if (tBatch257 > 0 && nQ257 > 0) nQ257 * tPruned / tBatch257
           else -1.0))

      // COMPACTION READ-AMPLIFICATION A/B (the q342 policy's physics,
      // measured at 1M code rows): the SAME codes served from 8 delta
      // segments (8 pruned scans + union per search — the accumulated-
      // deltas state a size-tiered policy exists to bound) vs from the
      // folded single generation (q146's copy-codes rewrite, timed as
      // m1_compact_fold_sec). Same probes, same ADC, same answer —
      // only the layout differs.
      {
        val nSegs = 8
        val codesAll = spark.read.parquet(partPath)
          .select(col("vec_id"), col("codes"), col("cell").cast("long").as("cell"))
        val segPaths = (0 until nSegs).map { j =>
          val p = graft.operators.Formats.scratchDir(
            s"graft_compact_seg$j", sfDir)
          codesAll.where(pmod(col("vec_id"), lit(nSegs)) === j)
            .write.partitionBy("cell").mode("overwrite").parquet(p)
          p
        }
        val foldPath = graft.operators.Formats.scratchDir(
          "graft_compact_folded", sfDir)
        val (_, tFold) = time(
          segPaths.map(p => IvfPq.readSegment(spark, p)).reduce(_ union _)
            .write.partitionBy("cell").mode("overwrite").parquet(foldPath))
        def searchOver(paths: Seq[String])(): Long =
          IvfPq.adcCandidates(spark, paths, probes).collect().length.toLong
        val tMulti = median5(searchOver(segPaths))
        val tFolded = median5(searchOver(Seq(foldPath)))
        out ++= Seq(
          "m1_compact_segments_n" -> nSegs.toDouble,
          "m1_compact_fold_sec" -> tFold,
          "m1_compact_multiseg_search_sec" -> tMulti,
          "m1_compact_folded_search_sec" -> tFolded,
          "m1_compact_read_amp_x" ->
            (if (tFolded > 0) tMulti / tFolded else -1.0))
      }

      // VALUE-GRAIN vs DOC-GRAIN near-miss A/B (the q334/q337 census
      // claim, measured): 100k docs over 2k distinct fingerprints (50
      // docs/value — collision-heavy by construction, every 10th value
      // a planted 1-bit near-miss of its predecessor). The SAME banded
      // operator runs at both grains; the doc grain multiplies every
      // value match by n_a·n_b inside the candidate join (here 20M
      // candidate rows before dedup), while the value grain's join is
      // bounded by hash entropy. The doc-grain pair count must equal
      // Σ n_a·n_b over the value pairs — the grains carry identical
      // information; only the cost differs.
      {
        import graft.operators.BandedHamming
        val nDocsVg = 100000L
        val k = pmod(col("id"), lit(2000L))
        val kBase = when(pmod(k, lit(10L)) === 1L, k - 1).otherwise(k)
        val fp = when(pmod(k, lit(10L)) === 1L,
          expr(s"xxhash64(cast((pmod(id, 2000) - 1) as bigint)) ^ " +
            "shiftleft(cast(1 as bigint), cast(pmod(pmod(id, 2000), 60) as int))"))
          .otherwise(xxhash64(kBase))
        val docsVg = spark.range(nDocsVg)
          .select(col("id").as("doc_id"), fp.as("fp"))
          .localCheckpoint()
        val valsVg = docsVg.groupBy("fp")
          .agg(count(lit(1)).as("n_docs")).localCheckpoint()
        val nValsVg = valsVg.count()
        val bandsVg = BandedHamming.fixedBands(col("fp"), 4, 16)
        def valueGrain(): Long = BandedHamming.nearMissPairs(valsVg,
          idCols = Seq("fp"), fpCols = Seq("fp"), bandExprs = bandsVg,
          carry = Seq("n_docs")).count()
        def docGrain(): Long = BandedHamming.nearMissPairs(docsVg,
          idCols = Seq("doc_id"), fpCols = Seq("fp"),
          bandExprs = bandsVg).count()
        val nValuePairs = valueGrain() // warm + count
        val (_, tValue) = time(valueGrain())
        val nDocPairs = docGrain()
        val (_, tDoc) = time(docGrain())
        val docEquiv = BandedHamming.nearMissPairs(valsVg,
          idCols = Seq("fp"), fpCols = Seq("fp"), bandExprs = bandsVg,
          carry = Seq("n_docs"))
          .agg(sum(col("n_docs_a") * col("n_docs_b")))
          .head().getLong(0)
        require(nDocPairs == docEquiv,
          s"grains must carry identical information: doc-grain $nDocPairs " +
            s"vs value-grain doc-equivalent $docEquiv")
        out ++= Seq(
          "m1_valuegrain_docs_n" -> nDocsVg.toDouble,
          "m1_valuegrain_values_n" -> nValsVg.toDouble,
          "m1_valuegrain_value_pairs" -> nValuePairs.toDouble,
          "m1_valuegrain_doc_equiv_pairs" -> docEquiv.toDouble,
          "m1_valuegrain_sec" -> tValue,
          "m1_docgrain_sec" -> tDoc,
          "m1_valuegrain_speedup_x" -> (if (tValue > 0) tDoc / tValue else -1.0))

        // PERSISTED GUARD-STATS A/B (the round-12 probe-hot-path
        // change, measured): the q345-shape cross-corpus probe run
        // with FRESH per-invocation guard censuses vs with the
        // GuardStats persisted at index-build time. Same banding,
        // same corpus/batch split of the 100k-doc fixture, same
        // answer — the delta is exactly the guard aggregates a
        // repeated probe no longer pays.
        {
          val scheme = BandedHamming.BandScheme(
            idCols = Seq("fp"), fpCols = Seq("fp"), bandExprs = bandsVg)
          def censusWhere(cond: org.apache.spark.sql.Column) =
            docsVg.where(cond).groupBy("fp")
              .agg(count(lit(1)).as("n_docs")).localCheckpoint()
          val corpusVals = censusWhere(pmod(col("doc_id"), lit(10L)) =!= 0L)
          val batchVals = censusWhere(pmod(col("doc_id"), lit(10L)) === 0L)
          val (stats, tBuild) = time(
            (scheme.indexed(corpusVals), scheme.stats(batchVals)))
          def freshProbe(): Long =
            scheme.pairs(batchVals, carry = Seq("n_docs"), hMin = 0,
              rowsB = Some(corpusVals)).count()
          def statedProbe(): Long =
            scheme.pairsIndexed(
              BandedHamming.StatedIndex(batchVals, stats._2),
              carry = Seq("n_docs"), hMin = 0, rowsB = Some(stats._1)).count()
          val nProbePairs = statedProbe() // warm
          require(freshProbe() == nProbePairs,
            "fresh-census and persisted-stats probes must answer identically")
          val tFresh = median3(freshProbe _)
          val tStated = median3(statedProbe _)
          out ++= Seq(
            "m1_gstats_build_sec" -> tBuild,
            "m1_gstats_probe_pairs" -> nProbePairs.toDouble,
            "m1_gstats_probe_fresh_sec" -> tFresh,
            "m1_gstats_probe_stated_sec" -> tStated,
            "m1_gstats_probe_x" -> (if (tStated > 0) tFresh / tStated else -1.0))
        }
      }
    }
    vecs.unpersist()
    out.toSeq
  }
}
