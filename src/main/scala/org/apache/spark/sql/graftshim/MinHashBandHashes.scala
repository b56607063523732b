package org.apache.spark.sql.graftshim

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Fused MinHash banding over an ARRAY<STRING> token column: one pass
  * builds each word shingle, digests it, and folds its hash slices
  * into the running minima — emitting the per-band bucket hashes
  * directly as ARRAY<STRING> (length = bands).
  *
  * Byte-identical to the composed pipeline it replaces
  * (shinglesFromToks → transform(md5) → array_min(transform(substring))
  * → md5(concat_ws('|', ...))), including its edges:
  *   - shingle text is concat_ws(" ", slice(toks, i, width)): null
  *     tokens are SKIPPED, the tail window shortens, and fewer than
  *     `width` tokens (even zero) produce exactly one shingle;
  *   - duplicate shingles don't matter (min over a multiset);
  *   - hash i is the i-th 8-hex-char slice of ceil(numHashes/4)
  *     digests (digest j > 0 salts with chr(1)||j — MinHashScheme);
  *   - slice minima compare lexicographically, which on fixed-width
  *     lowercase hex equals numeric order.
  *
  * Why: the composed form materializes the shingle array, a distinct
  * pass, a digest array, and 4 sliced arrays per band per doc — this
  * allocates none of them. Signature building is the dominant cost of
  * corpus dedup; at 100k docs (sf0.1 text, 16 local cores) the fused form
  * measured 2.3 s vs 15.3 s composed.
  */
case class MinHashBandHashes(child: Expression, numHashes: Int, bands: Int,
    shingleWidth: Int)
    extends UnaryExpression with ExpectsInputTypes {
  require(numHashes % bands == 0 && numHashes > 0 && shingleWidth > 0)

  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(StringType))
  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any =
    MinHashBandHashes.bandHashes(input.asInstanceOf[ArrayData],
      numHashes, bands, shingleWidth)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = MinHashBandHashes.getClass.getName.stripSuffix("$") + "$.MODULE$"
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = $obj.bandHashes($c, $numHashes, $bands, $shingleWidth);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBandHashes =
    copy(child = newChild)
}

object MinHashBandHashes {

  private val hexDigits = "0123456789abcdef".getBytes(UTF_8)

  private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private def hexInto(digest: Array[Byte], out: Array[Byte], off: Int): Unit = {
    var i = 0
    while (i < 16) {
      val b = digest(i) & 0xff
      out(off + 2 * i) = hexDigits(b >>> 4)
      out(off + 2 * i + 1) = hexDigits(b & 0xf)
      i += 1
    }
  }

  /** a < b over fixed-width byte slices (lexicographic == hex value). */
  private def less(a: Array[Byte], ao: Int, b: Array[Byte], bo: Int, len: Int): Boolean = {
    var i = 0
    while (i < len) {
      val d = (a(ao + i) & 0xff) - (b(bo + i) & 0xff)
      if (d != 0) return d < 0
      i += 1
    }
    false
  }

  def bandHashes(toks: ArrayData, numHashes: Int, bands: Int,
      width: Int): ArrayData = {
    val md = mdLocal.get()
    val numDigests = (numHashes + 3) / 4
    val rows = numHashes / bands
    val n = toks.numElements()
    val nShingles = math.max(n - (width - 1), 1)
    val hexLen = 32 * numDigests
    val hex = new Array[Byte](hexLen)
    val mins = new Array[Byte](numHashes * 8)
    val sb = new java.lang.StringBuilder(64)

    var s = 0
    while (s < nShingles) {
      sb.setLength(0)
      var appended = false
      var k = s
      val end = math.min(s + width, n)
      while (k < end) {
        if (!toks.isNullAt(k)) { // concat_ws skips nulls, keeps no separator
          if (appended) sb.append(' ')
          sb.append(toks.getUTF8String(k).toString)
          appended = true
        }
        k += 1
      }
      val shingle = sb.toString.getBytes(UTF_8)
      md.reset()
      hexInto(md.digest(shingle), hex, 0)
      var j = 1
      while (j < numDigests) {
        md.reset()
        md.update(shingle)
        md.update(("\u0001" + j).getBytes(UTF_8))
        hexInto(md.digest(), hex, 32 * j)
        j += 1
      }
      var h = 0
      while (h < numHashes) {
        if (s == 0 || less(hex, 8 * h, mins, 8 * h, 8))
          System.arraycopy(hex, 8 * h, mins, 8 * h, 8)
        h += 1
      }
      s += 1
    }

    val out = new Array[AnyRef](bands)
    var b = 0
    while (b < bands) {
      md.reset()
      var r = 0
      while (r < rows) {
        if (r > 0) md.update('|'.toByte)
        md.update(mins, (b * rows + r) * 8, 8)
        r += 1
      }
      val bandHex = new Array[Byte](32)
      hexInto(md.digest(), bandHex, 0)
      out(b) = UTF8String.fromBytes(bandHex)
      b += 1
    }
    new GenericArrayData(out)
  }

  def apply(c: Column, numHashes: Int, bands: Int, shingleWidth: Int): Column =
    ColumnBridge.column(MinHashBandHashes(
      ColumnBridge.expression(c), numHashes, bands, shingleWidth))
}
