package graft

import graft.operators.PqAnn

class PqAnnSpec extends SparkSpecBase {

  test("codebook/query/lut literals are exact binary fractions (oracle-printable)") {
    val all = PqAnn.codebook.flatten.flatten ++ PqAnn.query ++ PqAnn.lut.flatten
    all.foreach { v =>
      assert(v * 4 == math.rint(v * 4), s"$v is not a quarter")
      assert(v == v.toString.toDouble, s"$v does not round-trip via toString")
    }
    // centroids must not be degenerate: >1 distinct centroid per subspace
    PqAnn.codebook.foreach(cs => assert(cs.distinct.length > 1))
  }

  test("PqEncode matches a naive per-subspace argmin recompute, codegen == interpreted") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.graftshim.PqEncode
    val df = graft.sources.Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"),
        PqEncode(col("embedding"), PqAnn.codebook).as("codes"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.take(50).foreach { r =>
      val vec = r.getSeq[Float](1)
      val codes = r.getSeq[Int](2)
      val expect = (0 until PqAnn.subspaces).map { s =>
        val dists = (0 until PqAnn.nCentroids).map { c =>
          (0 until PqAnn.subDim).map { j =>
            val d = vec(s * PqAnn.subDim + j).toDouble - PqAnn.codebook(s)(c)(j); d * d
          }.reduceLeft(_ + _)
        }
        dists.indexOf(dists.min)
      }
      assert(codes == expect, s"vec ${r.getLong(0)}")
    }
    val interp = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try df.collect().map(_.getSeq[Int](2)).toSeq
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", prev)
      }
    }
    assert(rows.map(_.getSeq[Int](2)).toSeq == interp)
  }

  test("PqAdcDistLut == materialized per-query LUT composed form bit-for-bit, codegen == interpreted") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.graftshim.{PqAdcDistLut, PqEncode}
    val cb = PqAnn.codebook
    val emb = graft.sources.Tables.embeddings(spark, sf001).limit(200)
    val pairs = emb.select(col("vec_id"), col("embedding"),
        PqEncode(col("embedding"), cb).as("codes"))
      .withColumn("q_emb", reverse(col("embedding")))
    // composed reference: the r8 batch-serve form — per-query LUT
    // arrays (lut[s][c] = left-assoc Σ_j (q−c)²) materialized as
    // columns, then Σ_s element_at(lut_s, code_s+1) left-assoc. The
    // fused expression must reproduce those bytes exactly: this is
    // the arithmetic the q303/q309/q314 oracles spell out.
    val lutCols = (0 until PqAnn.subspaces).map { sub =>
      array((0 until PqAnn.nCentroids).map { c =>
        (0 until PqAnn.subDim).map { j =>
          val dd = element_at(col("q_emb"), sub * PqAnn.subDim + j + 1)
            .cast("double") - lit(cb(sub)(c)(j))
          dd * dd
        }.reduceLeft(_ + _)
      }: _*).as(s"lut$sub")
    }
    val withLuts = pairs.select(
      col("vec_id") +: col("codes") +: col("q_emb") +: lutCols: _*)
    val composed = (0 until PqAnn.subspaces).map { i =>
      element_at(col(s"lut$i"), element_at(col("codes"), i + 1) + 1)
    }.reduceLeft(_ + _)
    val df = withLuts.select(col("vec_id"),
      PqAdcDistLut(col("codes"), col("q_emb"), cb).as("fused"),
      composed.as("composed"))
    val rows = df.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2),
      s"vec ${r.getLong(0)}: fused ${r.getDouble(1)} != composed ${r.getDouble(2)}"))
    val interp = {
      val prev = spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK")
      spark.conf.set("spark.sql.codegen.wholeStage", "false")
      spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
      try df.collect().map(_.getDouble(1)).toSeq
      finally {
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.factoryMode", prev)
      }
    }
    assert(rows.map(_.getDouble(1)).toSeq == interp)
    // guards: null query and out-of-range code -> NULL, never throw
    val bad = spark.sql("SELECT 1").select(
      PqAdcDistLut(array(lit(0), lit(1)), lit(null).cast("array<float>"), cb).as("n"))
    assert(bad.head().isNullAt(0))
  }

  test("q114 PQ ADC top-k: codes in range, adc_dist consistent with the lut, deterministic") {
    val rows = SparkEntry.queries("q114_pq_adc_topk")(spark, sf001).collect()
    assert(rows.length == 10)
    rows.foreach { r =>
      val codes = (1 to 8).map(r.getInt)
      codes.foreach(c => assert(c >= 0 && c < PqAnn.nCentroids))
      val adc = r.getDouble(9)
      val fromLut = codes.zipWithIndex.map { case (c, s) => PqAnn.lut(s)(c) }.reduceLeft(_ + _)
      assert(adc == fromLut, s"vec ${r.getLong(0)}: adc=$adc lut=$fromLut")
    }
    // exact re-rank output is sorted by exact_dist then vec_id
    val keys = rows.map(r => (r.getDouble(10), r.getLong(0))).toSeq
    assert(keys == keys.sorted)
    val again = SparkEntry.queries("q114_pq_adc_topk")(spark, sf001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
  }
}
