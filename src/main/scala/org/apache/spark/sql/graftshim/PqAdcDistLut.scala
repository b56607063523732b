package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** ADC distance with LUT-ORDER accumulation — the batch-serve (q303)
  * inner loop as one fused expression: given a PQ code array (left)
  * and a query vector (right), the squared L2 distance between the
  * query and the codebook reconstruction of the codes, accumulated as
  * PER-SUBSPACE PARTIAL SUMS that are then summed across subspaces.
  *
  * It finishes each subspace's 8-term sum before adding it to the
  * total — EXACTLY the arithmetic of a materialized lookup-table ADC
  * (lut[s][c] = Σ_j (q−c)², then Σ_s lut[s][code_s], both left-assoc),
  * which is what the q303/q309/q314 DuckDB oracles spell out
  * (`IvfPq.adcPairSql`). Swapping the engine's serve path onto this
  * expression therefore changes NO bytes versus the previous
  * materialized-LUT columns (PqAnnSpec pins the bit-parity), while
  * eliminating the 8 per-(query,cell) LUT arrays from the broadcast
  * relation — the probe side shrinks to (query_id, cell, q_emb) and
  * the LUT "materialization" becomes registers inside one tight
  * codegen loop per scored pair.
  *
  * NULL if either side is null, the code array is short, any needed
  * element is null, or a code is outside the codebook — index-validated
  * data never hits these; they guard rather than define behavior. */
case class PqAdcDistLut(left: Expression, right: Expression,
    codebook: Seq[Seq[Seq[Double]]])
    extends BinaryExpression with ExpectsInputTypes {
  require(codebook.nonEmpty && codebook.forall(_.nonEmpty))
  require(codebook.flatten.map(_.length).distinct.size == 1,
    "all centroids must share one sub-dimension")

  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(IntegerType), ArrayType(FloatType))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  @transient private lazy val matrix: Array[Array[Array[Double]]] =
    codebook.map(_.map(_.toArray).toArray).toArray

  override def nullSafeEval(codes: Any, query: Any): Any =
    PqAdcDistLut.dist(codes.asInstanceOf[ArrayData],
      query.asInstanceOf[ArrayData], matrix)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = PqAdcDistLut.getClass.getName.stripSuffix("$") + "$.MODULE$"
    val ref = ctx.addReferenceObj("codebook", matrix, "double[][][]")
    val r = ctx.freshName("adcLutDist")
    nullSafeCodeGen(ctx, ev, (c, q) => s"""
      java.lang.Double $r = $obj.dist($c, $q, $ref);
      if ($r == null) { ${ev.isNull} = true; }
      else { ${ev.value} = $r.doubleValue(); }""")
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): PqAdcDistLut = copy(left = newLeft, right = newRight)
}

object PqAdcDistLut {

  /** Boxed so codegen/eval share one null convention. Accumulation:
    * inner 8-term subspace sum finished first, then added to the
    * running total — the LUT decomposition's exact op order. */
  def dist(codes: ArrayData, query: ArrayData,
      codebook: Array[Array[Array[Double]]]): java.lang.Double = {
    val subspaces = codebook.length
    val subDim = codebook(0)(0).length
    if (codes.numElements() < subspaces) return null
    if (query.numElements() < subspaces * subDim) return null
    var acc = 0.0
    var s = 0
    while (s < subspaces) {
      if (codes.isNullAt(s)) return null
      val c = codes.getInt(s)
      if (c < 0 || c >= codebook(s).length) return null
      val cent = codebook(s)(c)
      var sacc = 0.0
      var j = 0
      while (j < subDim) {
        val qi = s * subDim + j
        if (query.isNullAt(qi)) return null
        val t = query.getFloat(qi).toDouble - cent(j)
        sacc += t * t
        j += 1
      }
      acc += sacc
      s += 1
    }
    acc
  }

  def apply(codes: Column, query: Column,
      codebook: Seq[Seq[Seq[Double]]]): Column =
    ColumnBridge.column(PqAdcDistLut(ColumnBridge.expression(codes),
      ColumnBridge.expression(query), codebook))
}
