package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.functions._

/** Hard-negative mining for contrastive embedding training: for each
  * anchor vector, the single most-similar corpus vector with a
  * DIFFERENT label — the "hardest" negative, the pair a contrastive
  * loss learns most from (the in-batch-negatives upgrade every
  * dual-encoder recipe ships: DPR, SimCSE's hard negatives).
  *
  * Shape: anchors are a bounded stride sample (`vec_id % 50 = 0`, the
  * q55 centroid convention — 1 anchor per 50 vectors at every SF);
  * candidates are the whole corpus minus the anchor's own label class.
  * The scored relation is corpus × anchors with the ANCHORS broadcast
  * (the q30 brute-force contract), reduced per-anchor by the k=1
  * bounded-heap [[org.apache.spark.sql.graftshim.TopKByScore]] —
  * ObjectHashAggregate with map-side partials, so the exchange carries
  * one candidate row per (anchor, map partition), never the scored
  * relation. The negative's label is re-attached afterwards by
  * broadcasting the |anchors|-row argmax result against the corpus —
  * at no point does the corpus shuffle.
  *
  * 100 TB: corpus × anchors work is the honest cost of EXACT mining; a
  * production run caps anchors per job (as here, by stride) or routes
  * through the IVF tier (q55/q127) for approximate hard negatives.
  * The label-exclusion predicate rides inside the broadcast join, so
  * the filter costs nothing extra.
  *
  * Oracle: the emitted `cos` VALUE crosses engines, and DuckDB's
  * list_cosine_similarity kernel is ~1 ulp off plain arithmetic (the
  * q143 lesson) — so the oracle spells the cosine as the engine's
  * exact op sequence (left-assoc dot/na/nb sums, then dot/√na/√nb,
  * the CosineSimilarity order): bit-equal, not ulp-close.
  */
object HardNegatives {

  /** One anchor per `anchorStride` vectors: the persisted centroid
    * stride, so the embeddings drain samples anchors and centroids in
    * one pass. */
  val anchorStride = IvfAnn.fixedStride

  private val dim = 64

  /** Cosine spelled as CosineSimilarity's exact op sequence (shared
    * with the q211 retrieval-metrics oracle). */
  private[operators] def cosExplicitSql(a: String, b: String): String = {
    def sumOver(term: Int => String): String =
      (1 to dim).map(term).mkString("(", " + ", ")")
    val dot = sumOver(j => s"(CAST($a[$j] AS DOUBLE) * CAST($b[$j] AS DOUBLE))")
    val na = sumOver(j => s"(CAST($a[$j] AS DOUBLE) * CAST($a[$j] AS DOUBLE))")
    val nb = sumOver(j => s"(CAST($b[$j] AS DOUBLE) * CAST($b[$j] AS DOUBLE))")
    s"($dot / sqrt($na) / sqrt($nb))"
  }

  val qHardNegatives: GraftQuery = GraftQuery(
    "q199_hard_negatives",
    s"""WITH anchors AS (
       |  SELECT vec_id AS a_id, embedding AS a_emb, label AS a_label
       |  FROM embeddings WHERE vec_id % $anchorStride = 0),
       |scored AS (
       |  SELECT a.a_id, a.a_label, e.vec_id AS neg_id, e.label AS neg_label,
       |    ${cosExplicitSql("a.a_emb", "e.embedding")} AS cos
       |  FROM anchors a JOIN embeddings e ON e.label <> a.a_label),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY a_id ORDER BY cos DESC, neg_id) AS rn
       |  FROM scored)
       |SELECT a_id, a_label, neg_id, neg_label, cos
       |FROM ranked WHERE rn = 1
       |ORDER BY a_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val anchors = emb.where(pmod(col("vec_id"), lit(anchorStride)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"))
    val scored = emb.join(broadcast(anchors), col("label") =!= col("a_label"))
      .select(col("a_id"), col("a_label"), col("vec_id").as("neg_id"),
        Similarity.cosine(col("a_emb"), col("embedding")).as("cos"))
    // k=1 bounded-heap argmax, (score desc, id asc) — the window form's
    // total order without shuffling the scored relation
    val top = scored.groupBy("a_id", "a_label")
      .agg(org.apache.spark.sql.graftshim.TopKByScore(
        col("cos"), col("neg_id"), 1).as("top"))
      .select(col("a_id"), col("a_label"),
        element_at(col("top"), 1).getField("id").as("neg_id"),
        element_at(col("top"), 1).getField("score").as("cos"))
    // re-attach the winner's label: |anchors| rows broadcast at the
    // corpus, a point lookup
    emb.select(col("vec_id").as("neg_id"), col("label").as("neg_label"))
      .join(broadcast(top), "neg_id")
      .select(col("a_id"), col("a_label"), col("neg_id"),
        col("neg_label"), col("cos"))
      .orderBy("a_id")
  }

  /** Cells probed per anchor by the approximate tier. */
  val ivfNegProbe = 4

  /** APPROXIMATE HARD-NEGATIVE MINING THROUGH THE IVF TIER — the
    * scale path q199's scaladoc promises: instead of scoring each
    * anchor against the WHOLE corpus, route it to its [[ivfNegProbe]]
    * best IVF cells (q55's fixed-stride quantizer) and mine the
    * hardest different-label negative among the probed cells only.
    * The scored relation shrinks from anchors × corpus to
    * anchors × (nProbe/|cells| of the corpus) — and since cell count
    * grows with the corpus at fixed stride, the probed FRACTION
    * falls as data grows.
    *
    * Plan: centroids broadcast for routing (TopKByScore heap per
    * anchor, |anchors|·nProbe rows), corpus assigned by the fused
    * NearestCentroid scan expression, candidates = one equi-join on
    * the cell id with the label-exclusion predicate riding the join;
    * per-anchor argmax by the k=1 bounded heap. No corpus shuffle,
    * no per-anchor driver work. ScaleBench measures the recall of
    * this argmax vs q199's exact answer and the scored-pair fraction
    * at the 100k-vector operating point.
    *
    * Oracle: from-scratch DuckDB rebuild — assignment, routing, probe
    * gating, and the same explicit-cosine spelling as q199 (the
    * emitted value must be bit-equal, not ulp-close). */
  val qHardNegativesIvf: GraftQuery = GraftQuery(
    "q306_hard_negatives_ivf",
    s"""WITH centroids AS (
       |  SELECT vec_id AS cell, embedding AS c_emb FROM embeddings
       |  WHERE vec_id % ${IvfAnn.fixedStride} = 0),
       |scored_assign AS (
       |  SELECT e.vec_id, e.embedding, e.label, c.cell,
       |    row_number() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${IvfAnn.cosSql.format("e.embedding", "c.c_emb")} DESC,
       |        c.cell) AS rn
       |  FROM embeddings e CROSS JOIN centroids c),
       |cells AS (
       |  SELECT vec_id, embedding, label, cell FROM scored_assign WHERE rn = 1),
       |anchors AS (
       |  SELECT vec_id AS a_id, embedding AS a_emb, label AS a_label
       |  FROM embeddings WHERE vec_id % $anchorStride = 0),
       |routed AS (
       |  SELECT a.a_id, a.a_emb, a.a_label, c.cell,
       |    row_number() OVER (PARTITION BY a.a_id
       |      ORDER BY ${IvfAnn.cosSql.format("a.a_emb", "c.c_emb")} DESC,
       |        c.cell) AS c_rank
       |  FROM anchors a CROSS JOIN centroids c),
       |probes AS (
       |  SELECT a_id, a_emb, a_label, cell FROM routed
       |  WHERE c_rank <= $ivfNegProbe),
       |scored AS (
       |  SELECT p.a_id, p.a_label, m.vec_id AS neg_id, m.label AS neg_label,
       |    ${cosExplicitSql("p.a_emb", "m.embedding")} AS cos
       |  FROM probes p JOIN cells m
       |    ON m.cell = p.cell AND m.label <> p.a_label),
       |ranked AS (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY a_id ORDER BY cos DESC, neg_id) AS rn
       |  FROM scored)
       |SELECT a_id, a_label, neg_id, neg_label, cos
       |FROM ranked WHERE rn = 1
       |ORDER BY a_id""".stripMargin) { (s, d) =>
    val emb = Tables.embeddings(s, d)
    val centroids = IvfAnn.fixedCentroids(emb, IvfAnn.fixedStride)
    val assigned = IvfAnn.assignKeeping(emb, centroids, Seq("label"))
    val anchors = emb.where(pmod(col("vec_id"), lit(anchorStride)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"))
    // per-anchor probe cells: bounded heap over anchors × centroids
    val routed = anchors
      .crossJoin(broadcast(centroids
        .select(col("cell").cast("long").as("cell"), col("centroid"))))
      .select(col("a_id"),
        Similarity.cosine(col("a_emb"), col("centroid")).as("c_sim"),
        col("cell"))
      .groupBy("a_id")
      .agg(org.apache.spark.sql.graftshim.TopKByScore(
        col("c_sim"), col("cell"), ivfNegProbe).as("top"))
      .select(col("a_id"), explode(col("top")).as("e"))
      .select(col("a_id"), col("e.id").as("p_cell"))
    val probeSide = routed.join(anchors, "a_id")
    // candidates: ONE equi-join on the cell id; the label exclusion
    // rides the join predicate
    val scored = assigned.join(broadcast(probeSide),
        col("cell") === col("p_cell") && col("label") =!= col("a_label"))
      .select(col("a_id"), col("a_label"), col("vec_id").as("neg_id"),
        Similarity.cosine(col("a_emb"), col("embedding")).as("cos"))
    val top = scored.groupBy("a_id", "a_label")
      .agg(org.apache.spark.sql.graftshim.TopKByScore(
        col("cos"), col("neg_id"), 1).as("top"))
      .select(col("a_id"), col("a_label"),
        element_at(col("top"), 1).getField("id").as("neg_id"),
        element_at(col("top"), 1).getField("score").as("cos"))
    emb.select(col("vec_id").as("neg_id"), col("label").as("neg_label"))
      .join(broadcast(top), "neg_id")
      .select(col("a_id"), col("a_label"), col("neg_id"),
        col("neg_label"), col("cos"))
      .orderBy("a_id")
  }

  /** CONTRASTIVE TRIPLET GENERATION — the training-data export a
    * dual-encoder fine-tune consumes: per anchor, (positive = most
    * similar SAME-label vector, hard negative = most similar
    * DIFFERENT-label vector, random negative = hash-picked
    * different-label vector). The random negative uses a
    * deterministic md5 gate (argmin of the 32-bit hash of
    * "a_id:cand_id") so the sample is reproducible under any
    * partitioning — the q61/q109 hash-sampling discipline applied to
    * negative sampling.
    *
    * Plan: anchors broadcast twice (same-label and different-label
    * relations); the different-label pass computes BOTH negatives in
    * ONE ObjectHashAggregate (two k=1 bounded heaps side by side), so
    * the triple costs two scans of the corpus regardless of anchor
    * count — and the hard-negative side can swap in the q306 IVF tier
    * unchanged when exactness isn't contractual.
    *
    * Oracle: three window argmins/argmaxes with the same explicit
    * cosine spelling and tie rules. */
  val qContrastiveTriplets: GraftQuery = GraftQuery(
    "q319_contrastive_triplets",
    s"""WITH anchors AS (
       |  SELECT vec_id AS a_id, embedding AS a_emb, label AS a_label
       |  FROM embeddings WHERE vec_id % $anchorStride = 0),
       |same_scored AS (
       |  SELECT a.a_id, e.vec_id AS cand,
       |    ${cosExplicitSql("a.a_emb", "e.embedding")} AS cos
       |  FROM anchors a JOIN embeddings e
       |    ON e.label = a.a_label AND e.vec_id <> a.a_id),
       |pos AS (
       |  SELECT a_id, cand AS pos_id, cos AS pos_cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |      ORDER BY cos DESC, cand) AS rn FROM same_scored) WHERE rn = 1),
       |diff_scored AS (
       |  SELECT a.a_id, e.vec_id AS cand,
       |    ${cosExplicitSql("a.a_emb", "e.embedding")} AS cos,
       |    CAST('0x' || substring(md5(CAST(a.a_id AS VARCHAR) || ':'
       |      || CAST(e.vec_id AS VARCHAR)), 1, 8) AS BIGINT) AS gate
       |  FROM anchors a JOIN embeddings e ON e.label <> a.a_label),
       |hard AS (
       |  SELECT a_id, cand AS hardneg_id, cos AS hardneg_cos FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |      ORDER BY cos DESC, cand) AS rn FROM diff_scored) WHERE rn = 1),
       |rnd AS (
       |  SELECT a_id, cand AS randneg_id FROM (
       |    SELECT *, row_number() OVER (PARTITION BY a_id
       |      ORDER BY gate, cand) AS rn FROM diff_scored) WHERE rn = 1)
       |SELECT a.a_id, a.a_label, p.pos_id, p.pos_cos,
       |  h.hardneg_id, h.hardneg_cos, r.randneg_id
       |FROM anchors a
       |JOIN pos p ON p.a_id = a.a_id
       |JOIN hard h ON h.a_id = a.a_id
       |JOIN rnd r ON r.a_id = a.a_id
       |ORDER BY a.a_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.graftshim.TopKByScore
    val emb = Tables.embeddings(s, d)
    val anchors = emb.where(pmod(col("vec_id"), lit(anchorStride)) === 0)
      .select(col("vec_id").as("a_id"), col("embedding").as("a_emb"),
        col("label").as("a_label"))
    val pos = emb.join(broadcast(anchors),
        col("label") === col("a_label") && col("vec_id") =!= col("a_id"))
      .select(col("a_id"), col("vec_id").as("cand"),
        Similarity.cosine(col("a_emb"), col("embedding")).as("cos"))
      .groupBy("a_id")
      .agg(TopKByScore(col("cos"), col("cand"), 1).as("t"))
      .select(col("a_id"),
        element_at(col("t"), 1).getField("id").as("pos_id"),
        element_at(col("t"), 1).getField("score").as("pos_cos"))
    val gate = conv(substring(md5(concat(col("a_id").cast("string"), lit(":"),
      col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long")
    val diff = emb.join(broadcast(anchors), col("label") =!= col("a_label"))
      .select(col("a_id"), col("vec_id").as("cand"),
        Similarity.cosine(col("a_emb"), col("embedding")).as("cos"),
        gate.as("g"))
      .groupBy("a_id")
      .agg(TopKByScore(col("cos"), col("cand"), 1).as("h"),
        TopKByScore(-col("g").cast("double"), col("cand"), 1).as("r"))
      .select(col("a_id"),
        element_at(col("h"), 1).getField("id").as("hardneg_id"),
        element_at(col("h"), 1).getField("score").as("hardneg_cos"),
        element_at(col("r"), 1).getField("id").as("randneg_id"))
    anchors.select(col("a_id"), col("a_label"))
      .join(pos, "a_id").join(diff, "a_id")
      .select(col("a_id"), col("a_label"), col("pos_id"), col("pos_cos"),
        col("hardneg_id"), col("hardneg_cos"), col("randneg_id"))
      .orderBy("a_id")
  }

  def all: Seq[GraftQuery] =
    Seq(qHardNegatives, qHardNegativesIvf, qContrastiveTriplets)
}
