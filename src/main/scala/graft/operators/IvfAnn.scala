package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.graftshim.TopKByScore

/** IVF-style ANN: a coarse quantizer partitions the corpus into cells;
  * search probes only the nProbe nearest cells per query. The
  * complement of the hyperplane-LSH path (Similarity.qSimLshTopK):
  * LSH buckets are data-independent; IVF cells adapt to the data
  * distribution — at 100 TB the index is a one-off batch job and every
  * query touches corpus_size × nProbe / k rows instead of the corpus.
  *
  * Two quantizers over the same search machinery:
  *  - k-means (spark.ml) — the production form; not oracle-paired
  *    (k-means isn't reproducible in DuckDB), covered rows-only + a
  *    recall-vs-brute-force spec.
  *  - fixed corpus-sample centroids (every strideth vector) — fully
  *    deterministic, so routing + cell probe + top-k is hash-checked
  *    against a from-scratch DuckDB rebuild (q55).
  */
object IvfAnn {

  final case class Index(model: KMeansModel, assigned: DataFrame)

  /** Fit the coarse quantizer (seeded → deterministic within Spark)
    * and assign every vector to its cell. */
  def build(emb: DataFrame, numCells: Int, seed: Long = 42): Index = {
    val withFeatures = emb.withColumn("features",
      array_to_vector(col("embedding").cast("array<double>")))
    val model = new KMeans().setK(numCells).setSeed(seed)
      .setFeaturesCol("features").fit(withFeatures)
    val assigned = model.transform(withFeatures)
      .select(col("vec_id"), col("embedding"), col("prediction").as("cell"))
    Index(model, assigned)
  }

  /** Centroids as a small DataFrame (cell, centroid array) — broadcast
    * side of the query-routing join. */
  private[graft] def centroidDf(spark: SparkSession, model: KMeansModel): DataFrame = {
    import spark.implicits._
    model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("cell", "centroid")
  }

  /** Deterministic quantizer: centroids are every `stride`th corpus
    * vector (cell id = that vector's vec_id) — no training pass, and
    * the cell count grows with the corpus as a real IVF's would. */
  def fixedCentroids(emb: DataFrame, stride: Int): DataFrame =
    emb.where(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))

  /** Assign every vector to its max-cosine centroid (ties → lowest
    * cell id). Cross join against the broadcast centroid set, then a
    * k=1 bounded-heap TopKByScore per vector — a TypedImperative
    * aggregate runs as ObjectHashAggregate with map-side partials, so
    * the shuffle carries one tiny row per vector. The declarative
    * alternatives both degrade on the N × C scored relation: a
    * row_number window sorts it through a hash exchange, and
    * max_by/first over array-bearing buffers falls back to
    * SortAggregate (same sort) — both measured ~20x slower at
    * 100k × 256. TopKByScore's (score desc, id asc) tie rule is
    * exactly the window form's (c_sim desc, cell asc). Embeddings
    * don't ride through the aggregate; they re-attach by key. */
  def assign(emb: DataFrame, centroids: DataFrame,
      metric: String = "cos"): DataFrame =
    assignKeeping(emb, centroids, Nil, metric)

  /** [[assign]] with passthrough columns (e.g. `label` for the
    * hard-negative IVF tier) — same fused scan-stage expression. */
  def assignKeeping(emb: DataFrame, centroids: DataFrame,
      keep: Seq[String], metric: String = "cos"): DataFrame = {
    // centroids are bounded (cell count — the one documented driver-
    // side collect); scoring every vector against them is then a
    // single fused expression in the scan stage: no N × C join, no
    // shuffle, no per-pair materialization of two float arrays.
    // metric = "l2" builds an L2-served index (the PQ composition):
    // assignment must match the metric the index serves.
    val cents = centroids.select(col("cell").cast("long"), col("centroid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    emb.select(Seq(col("vec_id"), col("embedding")) ++ keep.map(col) :+
      org.apache.spark.sql.graftshim.NearestCentroid(col("embedding"), cents, metric)
        .as("cell"): _*)
  }

  /** Join+bounded-heap formulation of [[assign]] — kept as the
    * distributed-centroids baseline (what assign degrades to if the
    * centroid set ever outgrew the driver) and as the equivalence
    * check for the expression form. */
  def assignJoined(emb: DataFrame, centroids: DataFrame): DataFrame = {
    val best = emb.crossJoin(broadcast(centroids))
      .withColumn("c_sim", Similarity.cosine(col("embedding"), col("centroid")))
      .select(col("vec_id"), col("cell").cast("long").as("cell"), col("c_sim"))
      .groupBy("vec_id")
      .agg(TopKByScore(col("c_sim"), col("cell"), 1).as("top"))
      .select(col("vec_id"), element_at(col("top"), 1).getField("id").as("cell"))
    emb.join(best, "vec_id").select("vec_id", "embedding", "cell")
  }

  /** Top-k cosine within the nProbe nearest cells per query. */
  def search(assigned: DataFrame, centroids: DataFrame, queryFilter: Column,
      k: Int, nProbe: Int): DataFrame = {
    val queries = assigned.where(queryFilter)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    // route each query to its nProbe closest centroids (tiny cross join:
    // |queries| × numCells rows)
    val routed = queries.crossJoin(broadcast(centroids))
      .withColumn("c_sim", Similarity.cosine(col("q_emb"), col("centroid")))
      .withColumn("c_rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("c_sim").desc, col("cell"))))
      .where(col("c_rank") <= nProbe)
      .select("query_id", "q_emb", "cell")
    // probe only the routed cells
    val corpus = assigned
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"), col("cell"))
    routed.join(corpus, Seq("cell"))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("n_emb")))
      .groupBy("query_id")
      .agg(TopKByScore(col("cos"), col("neighbor_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"))
      .orderBy("query_id", "rank")
  }

  /** IVF index per (session, corpus, numCells) — at 100 TB the
    * quantizer fit + assignment is a one-off batch job whose output
    * every ANN query reuses; modeled here exactly like the dedup
    * family's signature index (bounded: one persisted Index per
    * distinct cell-count configuration per corpus per session). */
  private val ivfIndex =
    new graft.spark.SessionMemo[(String, Int), Index](
      "ivfann.index")(_.assigned.unpersist(): Unit)

  def indexedBuild(spark: SparkSession, sfDir: String, numCells: Int): Index =
    ivfIndex.getOrElseUpdate(spark, (sfDir, numCells))({
      val idx = build(Tables.embeddings(spark, sfDir), numCells)
      idx.copy(assigned = idx.assigned.persist())
    })

  /** Rows-only catalog entry: build a 16-cell k-means index, search
    * top-3 with nProbe=2 for the first 8 vectors. */
  val qIvfTopK: GraftQuery = GraftQuery.noOracle("q50_ivf_topk") { (s, d) =>
    val index = indexedBuild(s, d, numCells = 16)
    search(index.assigned, centroidDf(s, index.model), col("vec_id") < 8,
      k = 3, nProbe = 2)
  }

  val fixedStride = 50

  /** The measured ≥0.9-recall IVF operating point (RecallSweep at 100k
    * vectors / 257 cells, 64 spread queries): nProbe=32 → recall@3
    * 0.944 probing ~12% of the corpus (nProbe=2 measured 0.51,
    * nProbe=16 0.87). Cell count grows with the corpus (fixed stride),
    * so the probed FRACTION shrinks as data grows at constant nProbe. */
  val opNProbe = 32

  private[operators] val cosSql =
    "list_cosine_similarity(CAST(%s AS DOUBLE[]), CAST(%s AS DOUBLE[]))"

  /** Fixed-centroid IVF, oracle-checked end to end: quantizer
    * assignment, query routing, cell probe, and top-k all rebuilt in
    * DuckDB SQL and hash-compared. */
  val qIvfFixedTopK: GraftQuery = GraftQuery(
    "q55_ivf_fixed_topk",
    s"""WITH centroids AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % $fixedStride = 0),
       |scored_assign AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql.format("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN centroids c),
       |cells AS (
       |  SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
       |routed AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql.format("q.embedding", "c.c_emb")} DESC, c.cell) AS c_rank
       |  FROM embeddings q CROSS JOIN centroids c
       |  WHERE q.vec_id < 8),
       |probes AS (
       |  SELECT query_id, q_emb, cell FROM routed WHERE c_rank <= $opNProbe),
       |scored AS (
       |  SELECT p.query_id, m.vec_id AS neighbor_id,
       |    ${cosSql.format("p.q_emb", "m.embedding")} AS cos
       |  FROM probes p JOIN cells m ON m.cell = p.cell AND m.vec_id <> p.query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id
       |FROM ranked WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centroids = fixedCentroids(emb, fixedStride)
    search(assign(emb, centroids), centroids, col("vec_id") < 8, k = 3,
      nProbe = opNProbe)
  }

  /** Recall@3 EVAL of the q55 IVF operating point as a first-class
    * QUERY (not just a bench number): per eval query, how many of the
    * exact brute-force top-3 the probed search returned. The
    * retrieval twin of q167's classifier AUC — the eval a pipeline
    * runs after every index rebuild, with the integer hit count and
    * one final division (engine-identical).
    *
    * 100 TB: the EXACT side is brute force over the corpus by
    * definition — which is why it runs only for the bounded eval
    * sample (8 queries here; a production eval keeps the sample in
    * the hundreds). Recall estimation always pays sample × corpus;
    * it never pays corpus × corpus. The approx side is the indexed
    * q55 path unchanged. */
  val qIvfRecall: GraftQuery = GraftQuery(
    "q172_ivf_recall",
    s"""WITH centroids AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % $fixedStride = 0),
       |scored_assign AS (
       |  SELECT e.vec_id, e.embedding, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql.format("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN centroids c),
       |cells AS (
       |  SELECT vec_id, embedding, cell FROM scored_assign WHERE rn = 1),
       |routed AS (
       |  SELECT q.vec_id AS query_id, q.embedding AS q_emb, c.cell,
       |    row_number() OVER (PARTITION BY q.vec_id
       |      ORDER BY ${cosSql.format("q.embedding", "c.c_emb")} DESC, c.cell) AS c_rank
       |  FROM embeddings q CROSS JOIN centroids c
       |  WHERE q.vec_id < 8),
       |probes AS (
       |  SELECT query_id, q_emb, cell FROM routed WHERE c_rank <= $opNProbe),
       |scored AS (
       |  SELECT p.query_id, m.vec_id AS neighbor_id,
       |    ${cosSql.format("p.q_emb", "m.embedding")} AS cos
       |  FROM probes p JOIN cells m ON m.cell = p.cell AND m.vec_id <> p.query_id),
       |approx AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM scored) WHERE rank <= 3),
       |exact_scored AS (
       |  SELECT q.vec_id AS query_id, m.vec_id AS neighbor_id,
       |    ${cosSql.format("q.embedding", "m.embedding")} AS cos
       |  FROM embeddings q CROSS JOIN embeddings m
       |  WHERE q.vec_id < 8 AND m.vec_id <> q.vec_id),
       |exact3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM exact_scored) WHERE rank <= 3)
       |SELECT e.query_id,
       |  CAST(COUNT(a.neighbor_id) AS INTEGER) AS n_hit,
       |  CAST(COUNT(a.neighbor_id) AS DOUBLE) / 3 AS recall
       |FROM exact3 e LEFT JOIN approx a
       |  ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id
       |GROUP BY e.query_id
       |ORDER BY e.query_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centroids = fixedCentroids(emb, fixedStride)
    val approx = search(assign(emb, centroids), centroids, col("vec_id") < 8,
        k = 3, nProbe = opNProbe)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
    val queries = emb.where(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val exact3 = queries.crossJoin(emb)
      .where(col("vec_id") =!= col("query_id"))
      .withColumn("cos", Similarity.cosine(col("q_emb"), col("embedding")))
      .groupBy("query_id")
      .agg(TopKByScore(col("cos"), col("vec_id"), 3).as("top"))
      .select(col("query_id"), explode(col("top")).as("t"))
      .select(col("query_id"), col("t.id").as("neighbor_id"))
    exact3.join(approx, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(col("hit")).cast("int").as("n_hit"))
      .select(col("query_id"), col("n_hit"),
        (col("n_hit").cast("double") / 3).as("recall"))
      .orderBy("query_id")
  }

  /** Refresh when at least 1/[[refreshDenom]] of the corpus would
    * reassign under the re-fit candidate quantizer. */
  val refreshDenom = 5

  /** The bounded centroid-literal collect (the assignKeeping
    * discipline), in ascending cell id whatever the scan order of the
    * table's files. */
  private[graft] def collectCents(c: DataFrame): Seq[(Long, Array[Float])] =
    c.select(col("cell").cast("long"), col("centroid"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq

  /** The per-cell drift census over a row set: both assignments are
    * fused scan-stage expressions against the two bounded centroid
    * literals — one scan, no N×C join. The census is a MONOID
    * (per-cell row/moved counts ADD), which is what lets q357
    * maintain it per micro-batch and drain to q352's decision. */
  private[graft] def driftCensusPartial(emb: DataFrame,
      pc: Seq[(Long, Array[Float])],
      rc: Seq[(Long, Array[Float])]): DataFrame =
    emb.select(
      org.apache.spark.sql.graftshim.NearestCentroid(col("embedding"), pc, "cos")
        .as("cell_old"),
      org.apache.spark.sql.graftshim.NearestCentroid(col("embedding"), rc, "cos")
        .as("cell_new"))
      .groupBy("cell_old")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("cell_old") =!= col("cell_new"), 1L).otherwise(0L))
          .as("n_moved"))

  /** The refresh decision over a summed (cell_old, n_rows, n_moved)
    * census: an exact integer comparison windowed over the
    * |cells|-row census (no floating thresholds — the q342 rule). */
  private[graft] def refreshDecision(census: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy()
    census
      .select(col("cell_old").as("cell"), col("n_rows"), col("n_moved"),
        (sum(col("n_moved")).over(w) * refreshDenom >=
          sum(col("n_rows")).over(w)).as("refresh"))
      .orderBy("cell")
  }

  /** The drift census + decision over a corpus and two centroid sets
    * — factored so the oracle-paired query (q352), its streaming
    * maintenance (q357), and the spec's planted-drift fixtures share
    * one arithmetic. */
  private[graft] def centroidRefreshPolicy(emb: DataFrame,
      persisted: DataFrame, refit: DataFrame): DataFrame =
    refreshDecision(
      driftCensusPartial(emb, collectCents(persisted), collectCents(refit)))

  /** The q352 re-fit candidate sample: the persisted stride sample
    * plus an equal-stride sample of the arrival population (ids ≡
    * stride−1 (mod stride) are all q140 delta ids). */
  private[graft] def refitSample(emb: DataFrame): DataFrame =
    emb.where(refitFilter)
      .select(col("vec_id").as("cell"), col("embedding").as("centroid"))

  /** [[refitSample]]'s rows: `vec_id % fixedStride ∈ {0, fixedStride −
    * 1}`. Its residue-0 rows are the persisted centroids. */
  private[graft] def refitFilter: Column =
    pmod(col("vec_id"), lit(fixedStride)) === 0 ||
      pmod(col("vec_id"), lit(fixedStride)) === fixedStride - 1

  /** CENTROID REFRESH POLICY — the q342 compaction-policy discipline
    * applied to the trained coarse quantizer: q140/q147 accrete delta
    * segments against the PERSISTED centroids, and this operator
    * decides WHEN to retrain, from per-cell assignment drift. The
    * drift statistic is exact and oracle-expressible: assign the
    * CURRENT corpus under (a) the persisted centroids (the base
    * stride-50 sample) and (b) the RE-FIT candidate sample (the
    * persisted sample plus an equal-stride sample of the arrival
    * population — ids ≡ 49 (mod 50), all of which are q140 delta
    * ids); a vector has DRIFTED when the re-fit
    * sample captures a nearer centroid than the one serving it. The
    * census (per persisted cell: rows, moved) is |cells| rows, and
    * the decision is one exact integer comparison: REFRESH when
    * ≥ 1/[[refreshDenom]] of the corpus would reassign — stale cells
    * past that rate mean the quantizer no longer reflects the data
    * and recall at fixed nProbe decays (ScaleBench measures that
    * decay and the refresh's recovery at a planted drift,
    * m1_refresh_* keys).
    *
    * 100 TB: one corpus scan with two fused assignment expressions —
    * no N × C join, no shuffle beyond the |cells|-row census; the
    * re-fit SAMPLE is the stride discipline the index already uses,
    * so the policy costs one assignment pass, not a k-means. Oracle:
    * both assignments, the census, and the decision rebuilt in SQL —
    * the hash match proves the drift arithmetic end to end. */
  val qCentroidRefreshPolicy: GraftQuery = GraftQuery(
    "q352_centroid_refresh_policy",
    s"""WITH pc AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % $fixedStride = 0),
       |rc AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % $fixedStride = 0
       |     OR vec_id % $fixedStride = ${fixedStride - 1}),
       |old_assign AS (
       |  SELECT e.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql.format("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN pc c),
       |oldc AS (SELECT vec_id, cell AS cell_old FROM old_assign WHERE rn = 1),
       |new_assign AS (
       |  SELECT e.vec_id, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${cosSql.format("e.embedding", "c.c_emb")} DESC, c.cell) AS rn
       |  FROM embeddings e CROSS JOIN rc c),
       |newc AS (SELECT vec_id, cell AS cell_new FROM new_assign WHERE rn = 1),
       |moved AS (
       |  SELECT o.cell_old,
       |    CASE WHEN o.cell_old <> n.cell_new THEN 1 ELSE 0 END AS m
       |  FROM oldc o JOIN newc n ON o.vec_id = n.vec_id),
       |census AS (
       |  SELECT cell_old AS cell, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |    CAST(SUM(m) AS BIGINT) AS n_moved
       |  FROM moved GROUP BY cell_old)
       |SELECT cell, n_rows, n_moved,
       |  SUM(n_moved) OVER () * $refreshDenom >= SUM(n_rows) OVER () AS refresh
       |FROM census
       |ORDER BY cell""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    centroidRefreshPolicy(emb, fixedCentroids(emb, fixedStride),
      refitSample(emb))
  }

  def all: Seq[GraftQuery] =
    Seq(qIvfTopK, qIvfFixedTopK, qIvfRecall, qCentroidRefreshPolicy)
}
