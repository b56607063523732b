package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Product-quantization ANN: the memory-bound scale path the int8
  * family (q85/q93) doesn't cover. The 64-dim vector is cut into 8
  * subspaces of 8 dims; each subspace is encoded as the id of its
  * nearest codebook centroid (3 bits here, 8 centroids), compressing
  * a 256-byte vector to 8 codes. Search is ADC (asymmetric distance
  * computation): per subspace, the query-to-centroid distances are a
  * PRECOMPUTED 8-entry lookup table, so scanning N vectors costs 8
  * table lookups + 7 adds per vector — no float math against the
  * original vectors — followed by an exact re-rank of the small ADC
  * candidate set. At 100 TB the codes table is ~32× smaller than the
  * raw vectors; the scan is a narrow projection with a bounded top-k
  * (TakeOrderedAndProject), and only the ≤50-row candidate set ever
  * touches full vectors again.
  *
  * Oracle discipline: the codebook is deterministic (fixed LCG) with
  * all components exact binary fractions (multiples of 0.5), and the
  * query vector likewise — so the ADC lookup tables are EXACT decimal
  * literals embedded in the generated SQL, every distance sum is
  * exact in double, and the DuckDB oracle reproduces Spark's bytes.
  * Encoding argmin ties break to the lowest centroid id on both
  * sides (first index of the minimum).
  */
object PqAnn {

  val dims = 64
  val subspaces = 8
  val subDim: Int = dims / subspaces // 8
  val nCentroids = 8

  /** Deterministic LCG → exact-half components in {-1.5 .. 1.5}. */
  private def lcgStream(seed0: Long): Iterator[Double] =
    Iterator.iterate(seed0)(s => (s * 6364136223846793005L + 1442695040888963407L))
      .drop(1)
      .map(s => (((s >>> 33) % 7 + 7) % 7 - 3) * 0.5) // {-1.5,-1,-0.5,0,0.5,1,1.5}

  /** codebook(s)(c) = centroid c of subspace s, subDim components. */
  val codebook: IndexedSeq[IndexedSeq[IndexedSeq[Double]]] = {
    val it = lcgStream(42L)
    IndexedSeq.fill(subspaces)(IndexedSeq.fill(nCentroids)(IndexedSeq.fill(subDim)(it.next())))
  }

  /** Fixed probe query, exact halves like the codebook. */
  val query: IndexedSeq[Double] = {
    val it = lcgStream(7L)
    IndexedSeq.fill(dims)(it.next())
  }

  /** Train per-subspace codebooks with Lloyd's k-means on a bounded
    * vector sample — the PRODUCTION codebook path (faiss-style: the
    * sample is a driver-side bounded transfer like the IVF centroids,
    * the fit is trivial CPU). The fixed LCG codebook above exists for
    * oracle exactness (q114/q127 embed it as exact SQL literals); a
    * data-oblivious codebook quantizes real embedding distributions
    * poorly (ScaleBench measured recall@3 0.07 fixed vs trained at
    * 100k vectors) and 8 centroids/subspace (the oracle operating
    * point, 24 bits/vector) cannot resolve fine-grained top-k either —
    * production PQ is 8 BITS per subspace (PQ8x8, 64 bits/vector),
    * the default here, so any deployment trains. Deterministic: init is
    * the first k distinct subvectors in input order, ties in assignment
    * break to the lowest centroid id. */
  def trainCodebook(samples: IndexedSeq[IndexedSeq[Double]],
      numCentroids: Int = 256,
      iters: Int = 12): IndexedSeq[IndexedSeq[IndexedSeq[Double]]] =
    IndexedSeq.tabulate(subspaces) { s =>
      val sub = samples.map(v => v.slice(s * subDim, (s + 1) * subDim))
      var cents: IndexedSeq[IndexedSeq[Double]] =
        sub.distinct.take(numCentroids)
      require(cents.nonEmpty, "empty codebook training sample")
      // degenerate sample (< numCentroids distinct subvectors): pad by
      // cycling — duplicate centroids are harmless, first-min ties win
      val distinctN = cents.size
      while (cents.size < numCentroids)
        cents = cents :+ cents(cents.size % distinctN)
      for (_ <- 1 to iters) {
        val sums = Array.fill(numCentroids, subDim)(0.0)
        val cnt = Array.fill(numCentroids)(0L)
        sub.foreach { v =>
          var best = 0; var bd = Double.MaxValue
          var c = 0
          while (c < numCentroids) {
            var d = 0.0; var j = 0
            while (j < subDim) { val t = v(j) - cents(c)(j); d += t * t; j += 1 }
            if (d < bd) { bd = d; best = c }
            c += 1
          }
          cnt(best) += 1
          var j = 0
          while (j < subDim) { sums(best)(j) += v(j); j += 1 }
        }
        cents = IndexedSeq.tabulate(numCentroids)(c =>
          if (cnt(c) == 0) cents(c)
          else IndexedSeq.tabulate(subDim)(j => sums(c)(j) / cnt(c)))
      }
      cents
    }

  /** ADC lookup table: lut(s)(c) = ||query_s - codebook(s)(c)||², an
    * exact multiple of 0.25 → prints exactly in decimal. */
  val lut: IndexedSeq[IndexedSeq[Double]] =
    IndexedSeq.tabulate(subspaces) { s =>
      IndexedSeq.tabulate(nCentroids) { c =>
        (0 until subDim).map { j =>
          val d = query(s * subDim + j) - codebook(s)(c)(j); d * d
        }.sum // exact: quarters sum exactly in double
      }
    }

  /** Exact decimal rendering for the SQL literals (all values are
    * multiples of 0.25 with |v| < 100 — plain toString is exact). */
  private[operators] def sqlNum(v: Double): String = {
    val s = v.toString
    assert(v == s.toDouble && v * 4 == math.rint(v * 4), s"non-exact literal $v")
    s
  }

  // ---- generated DuckDB SQL ----

  /** ((CAST(embedding[i] AS DOUBLE) - cᵢ)² + ...) left-assoc sum over
    * one subspace for one centroid; 1-based index into the list. */
  private[operators] def centDistSql(s: Int, c: Int): String =
    (0 until subDim).map { j =>
      val idx = s * subDim + j + 1
      s"((CAST(embedding[$idx] AS DOUBLE) - ${sqlNum(codebook(s)(c)(j))}) * " +
        s"(CAST(embedding[$idx] AS DOUBLE) - ${sqlNum(codebook(s)(c)(j))}))"
    }.mkString("(", " + ", ")")

  private[operators] def codeSql(s: Int): String = {
    val dlist = (0 until nCentroids).map(c => centDistSql(s, c)).mkString("[", ", ", "]")
    // first index of the min → lowest-id tie-break; 0-based code
    s"CAST(list_position($dlist, list_aggregate($dlist, 'min')) - 1 AS INTEGER)"
  }

  private[operators] def exactDistSql: String =
    (0 until dims).map { j =>
      s"((CAST(embedding[${j + 1}] AS DOUBLE) - ${sqlNum(query(j))}) * " +
        s"(CAST(embedding[${j + 1}] AS DOUBLE) - ${sqlNum(query(j))}))"
    }.mkString("(", " + ", ")")

  // ---- Spark side ----
  // Encoding goes through the fused graftshim.PqEncode codegen
  // expression (one tight loop per row over the reference-object
  // codebook); its arithmetic mirrors the generated SQL bit-for-bit.
  // The composed form (unrolled per-centroid distances +
  // array_position argmin) measured 0.4 ms/row — see PqEncode docs.

  private[operators] def emb(i: Int): Column = element_at(col("embedding"), i + 1).cast("double")

  private[operators] def exactDist: Column =
    (0 until dims).map { j =>
      val d = emb(j) - lit(query(j)); d * d
    }.reduceLeft(_ + _)

  /** The fixed-query literal-LUT ADC distance over a `codes` column,
    * Σ_s lut(s)(code_s) left-assoc — ONE definition for q114, q127,
    * q139/q140, q316 and ScaleBench's layout A/B (both sides of which
    * must stay the SAME scoring pipeline). Every LUT entry is a
    * multiple of 0.25, so the sum is exact. */
  private[graft] def fixedLutAdcDist: Column =
    (0 until subspaces).map { i =>
      element_at(array(lut(i).map(lit): _*), element_at(col("codes"), i + 1) + 1)
    }.reduceLeft(_ + _)

  /** PQ encode + ADC scan + exact re-rank: top-10 by exact distance
    * out of the top-50 ADC candidates. */
  val qPqAdcTopK: GraftQuery = {
    // CAST each lookup to DOUBLE: DuckDB types a bare decimal list
    // literal as DECIMAL, and a DECIMAL sum would surface as a
    // Decimal-typed column (the values are exact either way)
    val lutSql = (0 until subspaces).map { s =>
      val l = lut(s).map(sqlNum).mkString("[", ", ", "]")
      s"CAST($l[c$s + 1] AS DOUBLE)"
    }.mkString("(", " + ", ")")
    GraftQuery(
      "q114_pq_adc_topk",
      s"""WITH coded AS (
         |  SELECT vec_id, embedding,
         |    ${(0 until subspaces).map(s => s"${codeSql(s)} AS c$s").mkString(",\n    ")}
         |  FROM embeddings),
         |adc AS (
         |  SELECT vec_id, embedding,
         |    ${(0 until subspaces).map(s => s"c$s").mkString(", ")},
         |    $lutSql AS adc_dist
         |  FROM coded),
         |cand AS (
         |  SELECT * FROM adc ORDER BY adc_dist, vec_id LIMIT 50)
         |SELECT vec_id, ${(0 until subspaces).map(s => s"c$s").mkString(", ")},
         |  adc_dist, $exactDistSql AS exact_dist
         |FROM cand
         |ORDER BY exact_dist, vec_id
         |LIMIT 10""".stripMargin) { (s, d) =>
      val cand = Tables.embeddings(s, d)
        .select(col("vec_id"), col("embedding"),
          org.apache.spark.sql.graftshim.PqEncode(col("embedding"), codebook).as("codes"))
        .select(
          col("vec_id") +: col("embedding") +:
            (0 until subspaces).map(i => element_at(col("codes"), i + 1).as(s"c$i")) :+
            fixedLutAdcDist.as("adc_dist"): _*)
        .orderBy(col("adc_dist"), col("vec_id"))
        .limit(50)
      cand
        .select(
          col("vec_id") +:
            (0 until subspaces).map(i => col(s"c$i")) :+
            col("adc_dist") :+ exactDist.as("exact_dist"): _*)
        .orderBy(col("exact_dist"), col("vec_id"))
        .limit(10)
    }
  }

  val all: Seq[GraftQuery] = Seq(qPqAdcTopK)
}
