package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.reflect.runtime.universe.TypeTag

/** Multimodal columns (north-star): media as opaque `binary` payloads
  * alongside a typed metadata struct, with a partition-batched
  * featurize step.
  *
  * Four decode paths exist:
  *  - [[PngDecoder]] — a REAL image codec (`javax.imageio`, JDK public
  *    API): genuine PNG payloads are synthesized per document
  *    (deterministic pixel pattern → `ImageIO.write`), decoded back
  *    through `ImageIO.read`, and width/height/band-count/per-channel
  *    pixel sums are extracted from the decoded raster. Because the
  *    pixel pattern is an affine function of (x, y, doc_id) mod 256
  *    and PNG is lossless, the t2 oracle recomputes every feature
  *    exactly in SQL (a generated pixel grid) — a byte-true
  *    end-to-end check that real bytes passed through a real codec
  *    (q101).
  *  - [[WavDecoder]] — a REAL audio codec (`javax.sound.sampled`):
  *    RIFF/WAVE payloads written and parsed by `AudioSystem`, with
  *    format-header fields and exact PCM sample statistics oracle-
  *    checked the same way (q105).
  *  - [[GifDecoder]] — a REAL multi-frame container (animated GIF via
  *    the `javax.imageio` sequence writer/reader) standing in for
  *    video: frame-sampled decode (q106) plus the exact resize path
  *    (q107) complete the brief's decode/feature-extract/resize/
  *    frame-sample quartet on genuine codec round trips.
  *  - [[FakeDecoder]] — the original md5-derived stand-in, kept as the
  *    generic plumbing contract (q33/q34): it exercises the
  *    schema/batch/partition shape with an oracle-reproducible
  *    derivation independent of any codec.
  *
  * Scale design: payloads never shuffle. Every codec featurize is one
  * mapPartitions stage, [[DecoderPool.featurize]], that borrows a
  * decoder from a JVM-wide pool for the task (`javax.imageio.
  * ImageReader` instances are non-thread-safe and reusable, exactly
  * the resource shape a pool serves); metadata-only queries prune the
  * binary column at the parquet scan, and derived features are small
  * fixed-width columns safe to aggregate/join downstream.
  */
object Multimodal {

  /** Metadata carried with every media payload. */
  case class MediaMeta(mediaType: String, nBytes: Int, sourceId: Long)

  case class MediaRow(doc_id: Long, meta: MediaMeta, payload: Array[Byte])

  /** Fixed-width feature record a real decoder would emit
    * (e.g. CLIP-style embedding head + dimensions). */
  case class MediaFeatures(doc_id: Long, mediaType: String, width: Int,
      height: Int, nFrames: Int, featNorm: Double)

  /** Deterministic fake decoder: derives pseudo width/height/frames and
    * a feature norm from the md5 digest of the payload — deliberately
    * md5-based (not JVM hashCode) so the derivation is reproducible in
    * any engine and the t2 oracle can hash-check the whole mapPartitions
    * featurize path. A real deployment swaps this one object for an
    * actual codec binding; everything around it is unchanged. */
  object FakeDecoder {
    private val mdLocal = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

    /** Unsigned big-endian 32-bit value at byte offset `off` of digest. */
    private def be32(h: Array[Byte], off: Int): Long =
      ((h(off) & 0xffL) << 24) | ((h(off + 1) & 0xffL) << 16) |
        ((h(off + 2) & 0xffL) << 8) | (h(off + 3) & 0xffL)

    def decode(meta: MediaMeta, payload: Array[Byte]): MediaFeatures = {
      val d = mdLocal.get()
      d.reset()
      val h = d.digest(payload)
      val w = 64 + (be32(h, 0) % 1024)
      val ht = 64 + (be32(h, 4) % 1024)
      val frames = if (meta.mediaType == "video") 1 + (be32(h, 8) % 120) else 1L
      val norm = be32(h, 12).toDouble / 4294967296.0
      MediaFeatures(meta.sourceId, meta.mediaType, w.toInt, ht.toInt, frames.toInt, norm)
    }
  }

  /** Build a media table from `documents`: payload = UTF-8 bytes of the
    * text (an opaque blob as far as the pipeline is concerned),
    * metadata derived per row. */
  def mediaTable(spark: SparkSession, sfDir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, sfDir)
      .select(col("doc_id"),
        col("text").cast("binary").as("payload"),
        // media type assigned round-robin for pipeline-shape coverage
        element_at(lit(Array("image", "audio", "video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"))
      .as[(Long, Array[Byte], String)]
      .map { case (id, payload, mt) =>
        MediaRow(id, MediaMeta(mt, payload.length, id), payload)
      }
  }

  /** Partition-batched featurize: one decoder per partition, payloads
    * consumed locally, only fixed-width features survive. */
  def featurize(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // decoder init happens once per partition here (stubbed: no-op)
      rows.map(r => FakeDecoder.decode(r.meta, r.payload))
    }
  }

  // ------------------------------------------------------------------
  // Real image codec path (q101): synthesize → PNG encode → PNG decode
  // ------------------------------------------------------------------

  /** A real PNG payload column: doc_id plus the encoded image bytes. */
  case class ImageRow(doc_id: Long, png: Array[Byte])

  /** Features extracted from the DECODED raster (not the metadata):
    * dimensions, band count, and exact per-channel pixel sums — all
    * integers, so the oracle comparison is hash-exact. */
  case class ImageFeatures(doc_id: Long, width: Int, height: Int,
      n_channels: Int, sum_r: Long, sum_g: Long, sum_b: Long)

  /** Deterministic fixture geometry/pixels, shared verbatim by the
    * synthesizer (Scala) and the oracle (SQL): images stay small
    * (≤ 32×28) so the SQL pixel-grid recompute is cheap at any SF. */
  def imgWidth(docId: Long): Int  = (16 + docId % 17).toInt
  def imgHeight(docId: Long): Int = (16 + (docId * 7) % 13).toInt
  /** Channel c (0=R,1=G,2=B) value at pixel (x, y). */
  def pixel(docId: Long, x: Int, y: Int, c: Int): Int =
    ((x * 3L + y * 5L + docId * 7L + c * 11L) % 256L).toInt

  /** Encode the fixture pattern for `docId` as a real PNG via the JDK
    * codec. PNG is lossless, so the decoded raster must reproduce
    * [[pixel]] exactly. */
  def synthPng(docId: Long): Array[Byte] = {
    val (w, h) = (imgWidth(docId), imgHeight(docId))
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (pixel(docId, x, y, 0) << 16) |
            (pixel(docId, x, y, 1) << 8) |
            pixel(docId, x, y, 2))
        x += 1
      }
      y += 1
    }
    // encode through an explicit in-memory ImageOutputStream (the
    // synthGif discipline): the ImageIO.write(_, _, OutputStream)
    // convenience wraps the sink in a disk-backed
    // FileCacheImageOutputStream — one temp FILE per image, which
    // serializes parallel encode tasks on tmpfs contention
    val baos = new java.io.ByteArrayOutputStream(w * h * 3 / 2)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  object PngDecoder {
    /** Constructions observed JVM-wide — local-mode specs assert the
      * pool bounds them by task concurrency through this. */
    val inits = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** A real, stateful image decoder: holds one reusable (non-thread-
    * safe) `javax.imageio.ImageReader`, the resource shape that
    * [[PngDecoderPool]] lends to one task at a time. Disk caching is
    * disabled so decode never touches local tmp. */
  final class PngDecoder {
    PngDecoder.inits.incrementAndGet()
    private val reader =
      javax.imageio.ImageIO.getImageReadersByFormatName("png").next()

    def decode(docId: Long, png: Array[Byte]): ImageFeatures = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(png))
      reader.setInput(iis, true, true)
      val img = try reader.read(0) finally iis.close()
      val raster = img.getRaster
      val (w, h, bands) = (img.getWidth, img.getHeight, raster.getNumBands)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          sr += raster.getSample(x, y, 0)
          sg += raster.getSample(x, y, 1)
          sb += raster.getSample(x, y, 2)
          x += 1
        }
        y += 1
      }
      ImageFeatures(docId, w, h, bands, sr, sg, sb)
    }

    /** Decode + RESIZE: 2×2 box downsample with floor-average per
      * channel (odd edges cropped) — integer-exact semantics, unlike
      * AffineTransformOp/getScaledInstance whose resampling rounding
      * is implementation-defined and thus un-oracle-able. Emits the
      * resized geometry and per-channel sums of the RESIZED raster. */
    def decodeResized(docId: Long, png: Array[Byte]): ResizedFeatures = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(png))
      reader.setInput(iis, true, true)
      val img = try reader.read(0) finally iis.close()
      val raster = img.getRaster
      val (w2, h2) = (img.getWidth / 2, img.getHeight / 2)
      var (sr, sg, sb) = (0L, 0L, 0L)
      var by = 0
      while (by < h2) {
        var bx = 0
        while (bx < w2) {
          val (x, y) = (2 * bx, 2 * by)
          var c = 0
          while (c < 3) {
            val v = (raster.getSample(x, y, c) + raster.getSample(x + 1, y, c) +
              raster.getSample(x, y + 1, c) + raster.getSample(x + 1, y + 1, c)) / 4
            c match {
              case 0 => sr += v
              case 1 => sg += v
              case _ => sb += v
            }
            c += 1
          }
          bx += 1
        }
        by += 1
      }
      ResizedFeatures(docId, w2, h2, sr, sg, sb)
    }

    /** Decode + 64-bit AVERAGE HASH (aHash): floor-average gray over
      * an 8×8 block grid (block = (w div 8) × (h div 8), remainder
      * cropped — the q107 integer-exact resize discipline), then one
      * bit per block: blockAvg > floor(mean of the 64 block
      * averages). Every step is integer, so the hash is recomputable
      * analytically from the fixture formulas in SQL. */
    def decodeAHash(docId: Long, png: Array[Byte]): AHashRow = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(png))
      reader.setInput(iis, true, true)
      val img = try reader.read(0) finally iis.close()
      val raster = img.getRaster
      val (w, h) = (img.getWidth, img.getHeight)
      val (bw, bh) = (w / 8, h / 8)
      val bavg = new Array[Long](64)
      var j = 0
      while (j < 8) {
        var i = 0
        while (i < 8) {
          var sum = 0L
          var y = j * bh
          while (y < (j + 1) * bh) {
            var x = i * bw
            while (x < (i + 1) * bw) {
              sum += (raster.getSample(x, y, 0) + raster.getSample(x, y, 1) +
                raster.getSample(x, y, 2)) / 3
              x += 1
            }
            y += 1
          }
          bavg(j * 8 + i) = sum / (bw.toLong * bh)
          i += 1
        }
        j += 1
      }
      val mean = bavg.sum / 64
      var (hi, lo) = (0L, 0L)
      var k = 0
      while (k < 64) {
        if (bavg(k) > mean) {
          if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
        }
        k += 1
      }
      AHashRow(docId, w, h, hi, lo)
    }
  }

  /** Features of the 2×-downsampled image (q107). */
  case class ResizedFeatures(doc_id: Long, r_width: Int, r_height: Int,
      rsum_r: Long, rsum_g: Long, rsum_b: Long)

  /** Decode-and-resize featurize over the PNG fixture table. */
  def resizeImages(images: Dataset[ImageRow]): Dataset[ResizedFeatures] =
    PngDecoderPool.featurize(images)((dec, r) => dec.decodeResized(r.doc_id, r.png))

  /** Spread the compute-bound codec stages across the cluster: the
    * fixture tables read ONLY doc_id (8 B/row), so without this the
    * encode+decode work inherits the scan's split count — one task per
    * parquet file, serial on a single-file input regardless of cores.
    * The round-robin exchange moves ids, never payloads (payloads are
    * born inside their task), and the width is derived from the
    * cluster (4×cores, capped), not a local constant. */
  private[operators] def spreadIds[T](ids: Dataset[T]): Dataset[T] =
    ids.repartition(math.min(4096,
      ids.sparkSession.sparkContext.defaultParallelism * 4))

  /** Distributed fixture table: one real PNG payload per document,
    * ids fanned out by [[spreadIds]] before synthesis. */
  def imageTable(spark: SparkSession, sfDir: String): Dataset[ImageRow] =
    pngRows(spreadIds(Tables.documents(spark, sfDir).select(col("doc_id"))))

  /** doc_id relation → one real PNG payload per document. Synthesis
    * runs inside the partition; only doc_id crosses from the scan. */
  private[graft] def pngRows(docs: DataFrame): Dataset[ImageRow] =
    docs.select(col("doc_id")).as(Encoders.scalaLong)
      .mapPartitions(ids => ids.map(id => ImageRow(id, synthPng(id))))(
        Encoders.product[ImageRow])

  /** The real-codec featurize: payloads consumed locally, only
    * fixed-width integer features survive. Also the document drain's
    * image partial (q131). */
  def decodeImages(images: Dataset[ImageRow]): Dataset[ImageFeatures] =
    PngDecoderPool.featurize(images)((dec, r) => dec.decode(r.doc_id, r.png))

  /** 64-bit average-hash of a decoded raster, split into two unsigned
    * 32-bit halves (a single BIGINT would put bit 63 into the sign —
    * kept positive so both engines compare plain integers). */
  case class AHashRow(doc_id: Long, width: Int, height: Int,
      ahash_hi: Long, ahash_lo: Long)

  def decodeAHashes(images: Dataset[ImageRow]): Dataset[AHashRow] =
    PngDecoderPool.featurize(images)((dec, r) => dec.decodeAHash(r.doc_id, r.png))

  /** A JVM-wide pool of one decoder family, and the ONE featurize
    * stage that touches a decoder. Every query runs its featurize once
    * per partition and every streaming trigger runs it again; building
    * a decoder per task would re-pay decoder init (codec lookup,
    * native buffers, for an NN featurizer the model load — the
    * expensive part this machinery models) each time. [[featurize]]
    * borrows a decoder for the task and returns it on task COMPLETION
    * (not iterator exhaustion: limit/take may abandon the iterator
    * early), so constructions stay bounded by PEAK TASK CONCURRENCY
    * for the JVM's lifetime, independent of query and trigger count —
    * MultimodalSpec pins the init counters across passes and
    * micro-batches. Without a task context (driver-local eval in
    * tests) the decoder is simply not returned, keeping the iterator
    * lazy. Decoders live until JVM exit (the executor-singleton
    * convention; a bounded pool of heavyweight models would add an
    * eviction cap here).
    *
    * Each pool is an `object`, so a task closure that captures it
    * deserializes to the JVM's one instance, never to a copy with an
    * empty queue. */
  abstract class DecoderPool[D](mk: () => D) extends Serializable {
    private val pool = new java.util.concurrent.ConcurrentLinkedQueue[D]()

    def featurize[T, U <: Product : TypeTag](rows: Dataset[T])(
        f: (D, T) => U): Dataset[U] =
      rows.mapPartitions { it =>
        val dec = Option(pool.poll()).getOrElse(mk())
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => pool.offer(dec)))
        it.map(f(dec, _))
      }(Encoders.product[U])
  }

  object PngDecoderPool extends DecoderPool(() => new PngDecoder)
  object WavDecoderPool extends DecoderPool(() => new WavDecoder)
  object GifDecoderPool extends DecoderPool(() => new GifDecoder)

  /** SQL recompute of one channel's RESIZED sum: floor-average of each
    * 2×2 block of the analytic pixel pattern. */
  private def resizedSumSql(c: Int): String = {
    def p(dx: Int, dy: Int) =
      s"((bx * 2 + $dx) * 3 + (by * 2 + $dy) * 5 + doc_id * 7 + $c * 11) % 256"
    s"CAST(SUM((${p(0, 0)} + ${p(1, 0)} + ${p(0, 1)} + ${p(1, 1)}) // 4) AS BIGINT)"
  }

  /** Decode + resize, oracle-checked end to end: the real-codec decode
    * of q101 followed by an exact 2×2 box downsample; DuckDB rebuilds
    * the resized raster's statistics analytically over the block
    * grid. Odd edges crop (w→w//2), so the geometry check also pins
    * the crop rule. */
  val qImageResize: GraftQuery = GraftQuery(
    "q107_image_resize",
    s"""WITH dims AS (
       |  SELECT doc_id,
       |         (16 + doc_id % 17) // 2 AS w2,
       |         (16 + (doc_id * 7) % 13) // 2 AS h2
       |  FROM documents),
       |blocks AS (
       |  SELECT d.doc_id, d.w2, d.h2, xs.bx, ys.by
       |  FROM dims d
       |  JOIN range(0, 16) AS xs(bx) ON xs.bx < d.w2
       |  JOIN range(0, 14) AS ys(by) ON ys.by < d.h2)
       |SELECT doc_id,
       |  CAST(MAX(w2) AS INTEGER) AS r_width,
       |  CAST(MAX(h2) AS INTEGER) AS r_height,
       |  ${resizedSumSql(0)} AS rsum_r,
       |  ${resizedSumSql(1)} AS rsum_g,
       |  ${resizedSumSql(2)} AS rsum_b
       |FROM blocks
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    resizeImages(imageTable(s, d)).toDF().orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Real multi-frame (video-like) codec path (q106): animated GIF
  // through javax.imageio, with FRAME SAMPLING at decode
  // ------------------------------------------------------------------

  /** A real animated-GIF payload column. */
  case class VideoRow(doc_id: Long, gif: Array[Byte])

  /** Features from the decoded frame sequence: container frame count
    * plus exact gray-sums of the SAMPLED frames only (every
    * [[frameStride]]th) — the frame-sample pattern a video pipeline
    * uses to avoid decoding every frame of every clip. */
  case class VideoFeatures(doc_id: Long, width: Int, height: Int,
      n_frames: Int, n_sampled: Int, sum_gray_sampled: Long)

  val frameStride = 3

  /** Fixture geometry/signal shared with the SQL oracle: 2–8 frames of
    * small grayscale images; gray(x,y,f) = (x·3 + y·5 + f·17 +
    * doc_id·7) mod 256. GIF is indexed-color: with a 256-entry
    * grayscale palette the round trip is lossless. */
  def vidFrames(docId: Long): Int = (2 + docId % 7).toInt
  def vidWidth(docId: Long): Int  = (8 + docId % 9).toInt
  def vidHeight(docId: Long): Int = (8 + (docId * 3) % 7).toInt
  def vidGray(docId: Long, x: Int, y: Int, f: Int): Int =
    ((x * 3L + y * 5L + f * 17L + docId * 7L) % 256L).toInt

  private def grayPalette: java.awt.image.IndexColorModel = {
    val g = (0 until 256).map(_.toByte).toArray
    new java.awt.image.IndexColorModel(8, 256, g, g, g)
  }

  /** Encode the fixture frames as a real animated GIF via the JDK
    * sequence writer (`prepareWriteSequence`/`writeToSequence`). */
  def synthGif(docId: Long): Array[Byte] = {
    val (w, h, nf) = (vidWidth(docId), vidHeight(docId), vidFrames(docId))
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nf) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayPalette)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, vidGray(docId, x, y, f))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  object GifDecoder {
    val inits = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** Real multi-frame decoder with frame sampling: the container's
    * frame count comes from `getNumImages`, but only every
    * [[frameStride]]th frame is actually DECODED (`reader.read(f)` is
    * random-access) — the rest are skipped, which is the whole point
    * of frame sampling at 100 TB of video. Gray values are read
    * through getRGB (palette-permutation safe: the gray level is the
    * color, not the index). */
  final class GifDecoder {
    GifDecoder.inits.incrementAndGet()
    private val reader =
      javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()

    def decode(docId: Long, gif: Array[Byte]): VideoFeatures = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      try {
        reader.setInput(iis, false, true)
        val nf = reader.getNumImages(true)
        var (sum, sampled) = (0L, 0)
        var (w, h) = (0, 0)
        var f = 0
        while (f < nf) {
          val img = reader.read(f)
          w = img.getWidth; h = img.getHeight
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              sum += (img.getRGB(x, y) >> 16) & 0xff
              x += 1
            }
            y += 1
          }
          sampled += 1
          f += frameStride
        }
        VideoFeatures(docId, w, h, nf, sampled, sum)
      } finally iis.close()
    }

    /** q329: per-sampled-frame 4×4-block aHash, first [[fpFrames]]
      * hashes packed at 16-bit stride — the arithmetic mirror of the
      * analytic oracle CTEs (floor-average blocks, per-frame
      * floor-mean, strictly-greater bits). Only sampled frames are
      * decoded, exactly like [[decode]]. */
    def decodeFingerprint(docId: Long, gif: Array[Byte]): VideoFpRow = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      try {
        reader.setInput(iis, false, true)
        val nf = reader.getNumImages(true)
        var fp = 0L
        var sampled = 0
        var f = 0
        while (f < nf) {
          val img = reader.read(f)
          val bw = img.getWidth / vidBlocks
          val bh = img.getHeight / vidBlocks
          val sums = new Array[Long](vidBlocks * vidBlocks)
          var y = 0
          while (y < bh * vidBlocks) {
            var x = 0
            while (x < bw * vidBlocks) {
              sums((y / bh) * vidBlocks + (x / bw)) +=
                (img.getRGB(x, y) >> 16) & 0xff
              x += 1
            }
            y += 1
          }
          val bavg = sums.map(_ / (bw.toLong * bh))
          val mean = bavg.sum / (vidBlocks * vidBlocks)
          var fh = 0L
          var k = 0
          while (k < vidBlocks * vidBlocks) {
            if (bavg(k) > mean) fh |= 1L << k
            k += 1
          }
          val si = f / frameStride
          if (si < fpFrames) fp |= fh << (16 * si)
          sampled += 1
          f += frameStride
        }
        VideoFpRow(docId, nf, sampled, fp)
      } finally iis.close()
    }

    /** q336: per-sampled-frame 8×8-block aHash — 64 bits per frame,
      * shipped as two unsigned 32-bit halves (the q192 packing: bit
      * 63 never reaches a sign bit) — the WIDE tier that removes
      * q331's low-entropy caveat: a single-sample clip's sub-bands
      * are 16 bits here, not 4, so bucket occupancy follows hash
      * entropy for every clip length. Same sampled-frames-only decode
      * as [[decodeFingerprint]]; frames are ≥8 px per side by the
      * fixture bound, so the 8×8 grid always has ≥1 px blocks. */
    def decodeFingerprintWide(docId: Long, gif: Array[Byte]): VideoFpWideRow = {
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(gif))
      try {
        reader.setInput(iis, false, true)
        val nf = reader.getNumImages(true)
        val his = new Array[Long](fpFrames)
        val los = new Array[Long](fpFrames)
        var sampled = 0
        var f = 0
        while (f < nf) {
          val img = reader.read(f)
          val bw = img.getWidth / vidBlocksWide
          val bh = img.getHeight / vidBlocksWide
          val sums = new Array[Long](vidBlocksWide * vidBlocksWide)
          var y = 0
          while (y < bh * vidBlocksWide) {
            var x = 0
            while (x < bw * vidBlocksWide) {
              sums((y / bh) * vidBlocksWide + (x / bw)) +=
                (img.getRGB(x, y) >> 16) & 0xff
              x += 1
            }
            y += 1
          }
          val bavg = sums.map(_ / (bw.toLong * bh))
          val mean = bavg.sum / (vidBlocksWide * vidBlocksWide)
          var hi = 0L
          var lo = 0L
          var k = 0
          while (k < vidBlocksWide * vidBlocksWide) {
            if (bavg(k) > mean) {
              if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
            }
            k += 1
          }
          val si = f / frameStride
          if (si < fpFrames) { his(si) = hi; los(si) = lo }
          sampled += 1
          f += frameStride
        }
        VideoFpWideRow(docId, nf, sampled,
          his(0), los(0), his(1), los(1), his(2), los(2))
      } finally iis.close()
    }
  }

  /** Distributed GIF fixture table. */
  def videoTable(spark: SparkSession, sfDir: String): Dataset[VideoRow] = {
    import spark.implicits._
    spreadIds(Tables.documents(spark, sfDir).select(col("doc_id")).as[Long])
      .mapPartitions(ids => ids.map(id => VideoRow(id, synthGif(id))))
  }

  /** Frame-sampled featurize. */
  def decodeVideo(video: Dataset[VideoRow]): Dataset[VideoFeatures] =
    GifDecoderPool.featurize(video)((dec, r) => dec.decode(r.doc_id, r.gif))

  /** Multi-frame round trip with frame sampling, oracle-checked end to
    * end: real animated-GIF bytes through the JDK sequence writer and
    * reader; DuckDB recomputes the sampled-frame gray sums from the
    * fixture formulas (frames f ≡ 0 mod stride only). */
  val qVideoDecode: GraftQuery = GraftQuery(
    "q106_video_frame_sample",
    s"""WITH dims AS (
       |  SELECT doc_id,
       |         8 + doc_id % 9 AS w,
       |         8 + (doc_id * 3) % 7 AS h,
       |         2 + doc_id % 7 AS nf
       |  FROM documents),
       |px AS (
       |  SELECT d.doc_id, d.w, d.h, d.nf, xs.x, ys.y, fs.f
       |  FROM dims d
       |  JOIN range(0, 17) AS xs(x) ON xs.x < d.w
       |  JOIN range(0, 15) AS ys(y) ON ys.y < d.h
       |  JOIN range(0, 8)  AS fs(f) ON fs.f < d.nf AND fs.f % $frameStride = 0)
       |SELECT doc_id,
       |  CAST(MAX(w) AS INTEGER) AS width,
       |  CAST(MAX(h) AS INTEGER) AS height,
       |  CAST(MAX(nf) AS INTEGER) AS n_frames,
       |  CAST(COUNT(DISTINCT f) AS INTEGER) AS n_sampled,
       |  CAST(SUM((x * 3 + y * 5 + f * 17 + doc_id * 7) % 256) AS BIGINT) AS sum_gray_sampled
       |FROM px
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    decodeVideo(videoTable(s, d)).toDF().orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Real audio codec path (q105): synthesize → WAV encode → WAV decode
  // ------------------------------------------------------------------

  /** A real RIFF/WAVE payload column. */
  case class AudioRow(doc_id: Long, wav: Array[Byte])

  /** Features from the DECODED audio stream: format header fields plus
    * exact integer sample statistics. */
  case class AudioFeatures(doc_id: Long, sample_rate: Int, channels: Int,
      bits: Int, n_frames: Long, sum_samples: Long, min_sample: Int,
      max_sample: Int)

  /** Fixture signal, shared verbatim with the SQL oracle: mono 16-bit
    * PCM at 8 kHz, `64 + doc_id % 97` frames, sample i =
    * (doc_id·7 + i·13) mod 4096 − 2048. */
  def audioFrames(docId: Long): Int = (64 + docId % 97).toInt
  def audioSample(docId: Long, i: Int): Int =
    (((docId * 7L + i * 13L) % 4096L) - 2048L).toInt

  /** Encode the fixture signal as a real WAV via the JDK codec
    * (javax.sound.sampled — header layout, chunk sizes, and
    * little-endian PCM packing come from AudioSystem, not hand-rolled
    * bytes). PCM is lossless: decode must reproduce [[audioSample]]. */
  def synthWav(docId: Long): Array[Byte] = {
    val n = audioFrames(docId)
    val pcm = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = audioSample(docId, i)
      pcm(2 * i) = (s & 0xff).toByte          // little-endian 16-bit
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream(44 + pcm.length)
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  object WavDecoder {
    /** Constructions observed JVM-wide (per-partition init check). */
    val inits = new java.util.concurrent.atomic.AtomicLong(0L)
  }

  /** Real audio decoder: parses the RIFF/WAVE container through
    * `AudioSystem.getAudioInputStream` (format negotiation, header
    * validation), then reads the PCM frames back out. Stateless apart
    * from its reusable frame buffer — still pooled, the same resource
    * shape as [[PngDecoder]]. */
  final class WavDecoder {
    WavDecoder.inits.incrementAndGet()
    private var buf = new Array[Byte](1 << 12)

    def decode(docId: Long, wav: Array[Byte]): AudioFeatures = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      try {
        val fmt = ais.getFormat
        val nFrames = ais.getFrameLength
        val nBytes = (nFrames * fmt.getFrameSize).toInt
        if (buf.length < nBytes) buf = new Array[Byte](nBytes)
        var off = 0
        while (off < nBytes) {
          val r = ais.read(buf, off, nBytes - off)
          require(r > 0, s"truncated WAV payload for doc $docId")
          off += r
        }
        var (sum, mn, mx) = (0L, Int.MaxValue, Int.MinValue)
        var i = 0
        while (i < nBytes) {
          // 16-bit little-endian signed
          val s = ((buf(i) & 0xff) | (buf(i + 1) << 8)).toShort.toInt
          sum += s
          if (s < mn) mn = s
          if (s > mx) mx = s
          i += 2
        }
        AudioFeatures(docId, fmt.getSampleRate.toInt, fmt.getChannels,
          fmt.getSampleSizeInBits, nFrames, sum, mn, mx)
      } finally ais.close()
    }

    /** 32-bit ENERGY FINGERPRINT of the decoded PCM (q193): 32
      * windows of (n div 32) frames (remainder cropped), window
      * energy = Σ|sample|, one bit per window: energy > floor-mean
      * of the 32 energies. The audio analog of the q192 aHash —
      * every step integer, analytically recomputable in SQL. */
    def decodeFingerprint(docId: Long, wav: Array[Byte]): AudioFpRow = {
      val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(wav))
      try {
        val fmt = ais.getFormat
        val nFrames = ais.getFrameLength.toInt
        val nBytes = nFrames * fmt.getFrameSize
        if (buf.length < nBytes) buf = new Array[Byte](nBytes)
        var off = 0
        while (off < nBytes) {
          val r = ais.read(buf, off, nBytes - off)
          require(r > 0, s"truncated WAV payload for doc $docId")
          off += r
        }
        val ww = nFrames / 32
        val energy = new Array[Long](32)
        var k = 0
        while (k < 32) {
          var e = 0L
          var i = k * ww
          while (i < (k + 1) * ww) {
            val s = ((buf(2 * i) & 0xff) | (buf(2 * i + 1) << 8)).toShort.toInt
            e += math.abs(s)
            i += 1
          }
          energy(k) = e
          k += 1
        }
        val mean = energy.sum / 32
        var fp = 0L
        k = 0
        while (k < 32) {
          if (energy(k) > mean) fp |= 1L << k
          k += 1
        }
        AudioFpRow(docId, nFrames.toLong, fp)
      } finally ais.close()
    }
  }

  /** q193 row: the 32-bit fingerprint sits in the low half of a
    * BIGINT — always non-negative. */
  case class AudioFpRow(doc_id: Long, n_frames: Long, fingerprint: Long)

  /** Distributed WAV fixture table — one real RIFF/WAVE payload per
    * document, synthesized inside the partition. */
  def audioTable(spark: SparkSession, sfDir: String): Dataset[AudioRow] = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(col("doc_id")).as[Long]
      .mapPartitions(ids => ids.map(id => AudioRow(id, synthWav(id))))
  }

  /** Real-codec audio featurize. */
  def decodeAudio(audio: Dataset[AudioRow]): Dataset[AudioFeatures] =
    WavDecoderPool.featurize(audio)((dec, r) => dec.decode(r.doc_id, r.wav))

  /** Audio round trip, oracle-checked end to end: Spark writes genuine
    * RIFF/WAVE bytes through the JDK codec and decodes them back;
    * DuckDB recomputes every feature analytically from the fixture
    * formulas. PCM is lossless and all stats are exact integers. */
  val qAudioDecode: GraftQuery = GraftQuery(
    "q105_audio_decode",
    """WITH dims AS (
      |  SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
      |samp AS (
      |  -- range() takes no lateral args: enumerate max frames (<=160)
      |  SELECT d.doc_id, d.n,
      |         CAST((d.doc_id * 7 + i.i * 13) % 4096 - 2048 AS INTEGER) AS s
      |  FROM dims d JOIN range(0, 161) AS i(i) ON i.i < d.n)
      |SELECT doc_id,
      |  CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(1 AS INTEGER) AS channels,
      |  CAST(16 AS INTEGER) AS bits,
      |  CAST(MAX(n) AS BIGINT) AS n_frames,
      |  CAST(SUM(s) AS BIGINT) AS sum_samples,
      |  MIN(s) AS min_sample,
      |  MAX(s) AS max_sample
      |FROM samp
      |GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    decodeAudio(audioTable(s, d)).toDF().orderBy("doc_id")
  }

  /** SQL recompute of one channel's pixel sum over the fixture grid. */
  private def channelSumSql(c: Int): String =
    s"CAST(SUM((x * 3 + y * 5 + doc_id * 7 + $c * 11) % 256) AS BIGINT)"

  /** Real-codec round trip, oracle-checked end to end: Spark
    * synthesizes genuine PNG bytes, decodes them through
    * `javax.imageio`, and emits raster-derived features; DuckDB
    * recomputes the same features analytically from the fixture
    * formulas over a generated pixel grid. Any codec, byte, or
    * raster-order defect breaks the hash match. */
  /** Shared by q101 and the streaming form q131 (identical feature
    * contract — only the execution mode differs). */
  private[graft] val imageDecodeOracleSql: String =
    s"""WITH dims AS (
       |  SELECT doc_id,
       |         16 + doc_id % 17 AS w,
       |         16 + (doc_id * 7) % 13 AS h
       |  FROM documents),
       |px AS (
       |  -- range() takes no lateral args in DuckDB: enumerate the max
       |  -- grid (w <= 32, h <= 28 by construction) and filter per image
       |  SELECT d.doc_id, d.w, d.h, xs.x, ys.y
       |  FROM dims d
       |  JOIN range(0, 32) AS xs(x) ON xs.x < d.w
       |  JOIN range(0, 28) AS ys(y) ON ys.y < d.h)
       |SELECT doc_id,
       |  CAST(MAX(w) AS INTEGER) AS width,
       |  CAST(MAX(h) AS INTEGER) AS height,
       |  CAST(3 AS INTEGER) AS n_channels,
       |  ${channelSumSql(0)} AS sum_r,
       |  ${channelSumSql(1)} AS sum_g,
       |  ${channelSumSql(2)} AS sum_b
       |FROM px
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  val qImageDecode: GraftQuery = GraftQuery(
    "q101_image_decode", imageDecodeOracleSql) { (s, d) =>
    decodeImages(imageTable(s, d)).toDF().orderBy("doc_id")
  }

  /** Oracle-paired slice of the plumbing: binary payload length and a
    * content digest — byte-level semantics both engines agree on.
    * (The stubbed decode features are covered rows-only + ScalaTest.) */
  val qBinaryMeta: GraftQuery = GraftQuery(
    "q33_multimodal_meta",
    """SELECT doc_id,
      |  CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |  md5(text) AS payload_md5,
      |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
      |       ELSE 'video' END AS media_type
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d).select(
      col("doc_id"),
      octet_length(col("text").cast("binary")).as("n_bytes"),
      md5(col("text")).as("payload_md5"),
      element_at(lit(Array("image", "audio", "video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"))
      .orderBy("doc_id")
  }

  /** Exact BIGINT value of the 8 hex chars of md5 at 1-based position
    * `start` (32-bit word of the digest) — nibble arithmetic, since
    * DuckDB has no hex-string-to-int cast shared with Spark. */
  private def hexValSql(start: Int): String =
    (0 until 8).map { i =>
      s"CAST(strpos('0123456789abcdef', substring(hx, ${start + i}, 1)) - 1 AS BIGINT) * ${1L << (4 * (7 - i))}"
    }.mkString(" + ")

  /** Decoded features, oracle-checked end to end: the mapPartitions
    * featurize path (typed Dataset, per-partition decoder) against
    * DuckDB's rebuild of the md5-derived fake features. */
  val qMediaFeatures: GraftQuery = GraftQuery(
    "q34_multimodal_features",
    s"""WITH h AS (SELECT doc_id, md5(text) AS hx FROM documents),
       |v AS (SELECT doc_id,
       |  ${hexValSql(1)} AS v1,
       |  ${hexValSql(9)} AS v2,
       |  ${hexValSql(17)} AS v3,
       |  ${hexValSql(25)} AS v4
       |  FROM h)
       |SELECT doc_id,
       |  CASE CAST(doc_id % 3 AS INTEGER) WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
       |       ELSE 'video' END AS "mediaType",
       |  CAST(64 + v1 % 1024 AS INTEGER) AS width,
       |  CAST(64 + v2 % 1024 AS INTEGER) AS height,
       |  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 + v3 % 120 ELSE 1 END AS INTEGER) AS "nFrames",
       |  CAST(v4 AS DOUBLE) / 4294967296.0 AS "featNorm"
       |FROM v
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    featurize(mediaTable(s, d)).toDF().orderBy("doc_id")
  }

  /** IMAGE NEAR-DUP via perceptual AVERAGE HASH — the multimodal twin
    * of the text dedup tier: decode each real PNG (per-partition
    * codec init, payloads never shuffle — only the 64-bit hash
    * leaves the partition), aHash the raster (8×8 floor-average gray
    * blocks vs their floor-mean), and census hash collisions. aHash
    * survives re-encoding and brightness-preserving noise, which is
    * exactly what byte-level dedup (q33's digest) misses.
    *
    * The hash ships as two unsigned 32-bit halves: a single BIGINT
    * would put bit 63 into the sign, and signed-shift semantics are
    * the kind of cross-engine edge this repo avoids on principle.
    * Oracle: the full pipeline recomputed analytically from the
    * fixture pixel formulas (grid → gray → block averages → mean →
    * bits → packed halves) — any codec or raster-order defect breaks
    * the hash match.
    *
    * 100 TB: decode cost is the corpus scan it already pays for
    * featurization; the dedup exchange carries 16 bytes per image;
    * collision census is one hash aggregate. Near-miss (hamming ≤ k)
    * variants bucket on hash prefixes — the SimHash q29 machinery
    * applies unchanged. */
  /** The analytic aHash rebuild (grid → gray → blocks → mean → packed
    * halves) as a CTE chain — shared by the q192 and q194 oracles. */
  private val imageAHashCtes: String =
    """dims AS (
      |  SELECT doc_id,
      |         16 + doc_id % 17 AS w,
      |         16 + (doc_id * 7) % 13 AS h
      |  FROM documents),
      |px AS (
      |  SELECT d.doc_id, d.w, d.h, (d.w // 8) AS bw, (d.h // 8) AS bh,
      |         xs.x, ys.y
      |  FROM dims d
      |  JOIN range(0, 32) AS xs(x) ON xs.x < (d.w // 8) * 8
      |  JOIN range(0, 28) AS ys(y) ON ys.y < (d.h // 8) * 8),
      |gray AS (
      |  SELECT doc_id, bw, bh,
      |    (y // bh) * 8 + (x // bw) AS k,
      |    (((x * 3 + y * 5 + doc_id * 7) % 256)
      |     + ((x * 3 + y * 5 + doc_id * 7 + 11) % 256)
      |     + ((x * 3 + y * 5 + doc_id * 7 + 22) % 256)) // 3 AS g
      |  FROM px),
      |blocks AS (
      |  SELECT doc_id, k,
      |    CAST(SUM(g) // (MAX(bw) * MAX(bh)) AS BIGINT) AS bavg
      |  FROM gray GROUP BY doc_id, k),
      |m AS (
      |  SELECT doc_id, CAST(SUM(bavg) // 64 AS BIGINT) AS mean
      |  FROM blocks GROUP BY doc_id),
      |ah AS (
      |  SELECT b.doc_id,
      |    CAST(SUM(CASE WHEN b.k >= 32 AND b.bavg > m.mean
      |      THEN CAST(1 AS BIGINT) << CAST(b.k - 32 AS INTEGER) ELSE 0 END) AS BIGINT) AS ahash_hi,
      |    CAST(SUM(CASE WHEN b.k < 32 AND b.bavg > m.mean
      |      THEN CAST(1 AS BIGINT) << CAST(b.k AS INTEGER) ELSE 0 END) AS BIGINT) AS ahash_lo
      |  FROM blocks b JOIN m ON b.doc_id = m.doc_id
      |  GROUP BY b.doc_id)""".stripMargin

  val qImageAHash: GraftQuery = GraftQuery(
    "q192_image_ahash",
    s"""WITH $imageAHashCtes
      |SELECT a.doc_id,
      |  CAST(d.w AS INTEGER) AS width, CAST(d.h AS INTEGER) AS height,
      |  a.ahash_hi, a.ahash_lo,
      |  CAST(COUNT(*) OVER (PARTITION BY a.ahash_hi, a.ahash_lo) AS BIGINT) AS n_same
      |FROM ah a JOIN dims d ON a.doc_id = d.doc_id
      |ORDER BY a.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    decodeAHashes(imageTable(s, d)).toDF()
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy("ahash_hi", "ahash_lo")))
      .select(col("doc_id"), col("width"), col("height"),
        col("ahash_hi"), col("ahash_lo"), col("n_same"))
      .orderBy("doc_id")
  }

  /** AUDIO NEAR-DUP via energy fingerprint — q192's discipline on the
    * PCM stream: 32 windows, Σ|sample| energy each, one bit per
    * window vs the floor-mean. Robust to what byte-digest dedup
    * misses (container re-muxing, header metadata churn) while the
    * decode happens through the REAL RIFF/WAVE parser. Oracle:
    * analytic recompute from the fixture signal, grid → |sample| →
    * window energies → mean → packed bits. Same exchange physics as
    * q192: 8 bytes per clip leave the partition. */
  val qAudioFingerprint: GraftQuery = GraftQuery(
    "q193_audio_fingerprint",
    """WITH dims AS (
      |  SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
      |w AS (SELECT doc_id, n, (n // 32) AS ww FROM dims),
      |samp AS (
      |  SELECT d.doc_id, (i.i // d.ww) AS k,
      |    ABS(CAST((d.doc_id * 7 + i.i * 13) % 4096 - 2048 AS BIGINT)) AS a
      |  FROM w d JOIN range(0, 161) AS i(i) ON i.i < d.ww * 32),
      |en AS (
      |  SELECT doc_id, k, CAST(SUM(a) AS BIGINT) AS e
      |  FROM samp GROUP BY doc_id, k),
      |m AS (
      |  SELECT doc_id, CAST(SUM(e) // 32 AS BIGINT) AS mean
      |  FROM en GROUP BY doc_id),
      |fp AS (
      |  SELECT e.doc_id,
      |    CAST(SUM(CASE WHEN e.e > m.mean
      |      THEN CAST(1 AS BIGINT) << CAST(e.k AS INTEGER) ELSE 0 END) AS BIGINT)
      |      AS fingerprint
      |  FROM en e JOIN m ON e.doc_id = m.doc_id
      |  GROUP BY e.doc_id)
      |SELECT f.doc_id, CAST(d.n AS BIGINT) AS n_frames, f.fingerprint,
      |  CAST(COUNT(*) OVER (PARTITION BY f.fingerprint) AS BIGINT) AS n_same
      |FROM fp f JOIN dims d ON f.doc_id = d.doc_id
      |ORDER BY f.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    audioFingerprintsFromDocs(Tables.documents(s, d))
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy("fingerprint")))
      .orderBy("doc_id")
  }

  /** CROSS-MODAL DEDUP CONTINGENCY — the curation question neither
    * single-modality pass answers: how do TEXT duplicates and IMAGE
    * duplicates overlap? The (text_dup × image_dup) 2×2 table
    * surfaces the dangerous quadrant — unique text over a duplicated
    * image (same picture, re-captioned: byte-digest text dedup keeps
    * every copy) — and its dual (same boilerplate text on different
    * images). Text duplication is q26's md5 census; image duplication
    * is q192's aHash census; the join key is the document.
    *
    * 100 TB: both censuses are hash aggregates the pipeline already
    * runs; the contingency is a 4-row rollup over their join. */
  val qCrossModalDedup: GraftQuery = GraftQuery(
    "q194_crossmodal_dedup",
    s"""WITH $imageAHashCtes,
       |img AS (
       |  SELECT doc_id,
       |    COUNT(*) OVER (PARTITION BY ahash_hi, ahash_lo) > 1 AS image_dup
       |  FROM ah),
       |txt AS (
       |  SELECT doc_id,
       |    COUNT(*) OVER (PARTITION BY md5(text)) > 1 AS text_dup
       |  FROM documents)
       |SELECT t.text_dup, i.image_dup,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  MIN(t.doc_id) AS example_doc
       |FROM txt t JOIN img i ON t.doc_id = i.doc_id
       |GROUP BY t.text_dup, i.image_dup
       |ORDER BY t.text_dup, i.image_dup""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val img = decodeAHashes(imageTable(s, d)).toDF()
      .select(col("doc_id"),
        (count(lit(1)).over(Window.partitionBy("ahash_hi", "ahash_lo")) > 1)
          .as("image_dup"))
    val txt = Tables.documents(s, d)
      .select(col("doc_id"),
        (count(lit(1)).over(Window.partitionBy(md5(col("text")))) > 1)
          .as("text_dup"))
    txt.join(img, "doc_id")
      .groupBy("text_dup", "image_dup")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("example_doc"))
      .orderBy("text_dup", "image_dup")
  }

  // ------------------------------------------------------------------
  // Video perceptual dedup (q329): per-sampled-frame aHash sequence
  // ------------------------------------------------------------------

  /** q329 row: the fixed-width video fingerprint — per sampled frame
    * a 16-bit (4×4-block) aHash, the first [[fpFrames]] (= 3) sampled
    * frames' hashes packed little-endian into one BIGINT (bits
    * 16·i .. 16·i+15 for sampled frame i). Stays under 2^48, so the
    * sign bit never matters. */
  case class VideoFpRow(doc_id: Long, n_frames: Int, n_sampled: Int,
      video_fp: Long)

  /** q336 row: the WIDE video fingerprint — per sampled frame a
    * 64-bit (8×8-block) aHash shipped as two unsigned 32-bit halves
    * (the q192 packing), up to [[fpFrames]] slices; absent slices are
    * zero and masked out of banding by the informative-band filter. */
  case class VideoFpWideRow(doc_id: Long, n_frames: Int, n_sampled: Int,
      f0_hi: Long, f0_lo: Long, f1_hi: Long, f1_lo: Long,
      f2_hi: Long, f2_lo: Long)

  /** Per-frame blocks for the WIDE video aHash (q336): 8×8 — valid
    * because the fixture's frames are ≥8 px per side, giving ≥1 px
    * per block. 64 bits/frame is the production answer to q331's
    * low-entropy caveat. */
  val vidBlocksWide = 8

  /** Per-frame blocks for the video aHash: frames here are 8–16 px, so
    * the grid is 4×4 (q192's 8×8 needs ≥8 px per side per block). */
  val vidBlocks = 4

  /** How many sampled-frame hashes the fixed-width fingerprint packs:
    * THREE 16-bit slices = 48 bits, keeping the packed BIGINT strictly
    * positive in both engines (a fourth slice would reach bit 63 and
    * drag sign semantics into every shift/compare; a longer signature
    * would move to two BIGINT halves, the q192 shape). Also the
    * reachable maximum here: nf ≤ 8 at stride 3 samples ≤ 3 frames. */
  val fpFrames = 3

  /** The re-encoded twin of [[synthGif]]: SAME frames (pixel-for-pixel
    * after decode) through an INVERTED palette with complemented
    * indices — a different byte stream, as container re-muxing or
    * re-encoding produces. MultimodalSpec plants this against q329's
    * fingerprint: byte-digest dedup (q33) sees two files; the
    * perceptual fingerprint sees one video. */
  def synthGifRemuxed(docId: Long): Array[Byte] = {
    val (w, h, nf) = (vidWidth(docId), vidHeight(docId), vidFrames(docId))
    val inv = (0 until 256).map(i => (255 - i).toByte).toArray
    val palette = new java.awt.image.IndexColorModel(8, 256, inv, inv, inv)
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < nf) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, palette)
        val raster = img.getRaster
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            raster.setSample(x, y, 0, 255 - vidGray(docId, x, y, f))
            x += 1
          }
          y += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
        f += 1
      }
      writer.endWriteSequence()
    } finally {
      writer.dispose()
      ios.close()
    }
    baos.toByteArray
  }

  /** Distributed fingerprint featurize; payloads never shuffle — 8
    * fingerprint bytes plus two ints per clip leave the partition. */
  def videoFingerprints(video: Dataset[VideoRow]): Dataset[VideoFpRow] =
    GifDecoderPool.featurize(video)((dec, r) => dec.decodeFingerprint(r.doc_id, r.gif))

  /** VIDEO NEAR-DUP via a per-sampled-frame aHash SEQUENCE — the third
    * leg of the perceptual family (q192 images, q193 audio): each
    * sampled frame (every [[frameStride]]th, the q106 pattern — only
    * sampled frames are ever decoded) gets a 4×4-block aHash, and the
    * first [[fpFrames]] sampled hashes pack into ONE fixed-width
    * BIGINT fingerprint; census by fingerprint. Survives what byte
    * dedup misses: a re-muxed/re-encoded copy (different palette,
    * different byte stream, same frames) lands on the same
    * fingerprint — MultimodalSpec plants exactly that copy.
    *
    * Oracle: the full pipeline recomputed analytically from the
    * fixture pixel formulas (sampled frames → 4×4 floor-average
    * blocks → per-frame floor-mean → bits → packed fingerprint) — any
    * codec, raster-order, or packing defect breaks the hash match.
    *
    * 100 TB: decode touches only sampled frames (the q106 point);
    * the dedup exchange carries 8 bytes per clip; the census is one
    * hash aggregate. Hamming-tolerant variants bucket on per-frame
    * 16-bit slices — the q29 SimHash band machinery applies
    * unchanged. */
  /** The analytic fingerprint rebuild (sampled frames → 4×4 blocks →
    * per-frame bits → packed BIGINT) as a CTE chain ending at `vfp` —
    * shared by the q329 and q331 oracles. */
  private val videoFpCtes: String =
    s"""vdims AS (
       |  SELECT doc_id,
       |         8 + doc_id % 9 AS w,
       |         8 + (doc_id * 3) % 7 AS h,
       |         2 + doc_id % 7 AS nf
       |  FROM documents),
       |vpx AS (
       |  SELECT d.doc_id, (d.w // $vidBlocks) AS bw, (d.h // $vidBlocks) AS bh,
       |         fs.f, xs.x, ys.y
       |  FROM vdims d
       |  JOIN range(0, 8) AS fs(f) ON fs.f < d.nf AND fs.f % $frameStride = 0
       |  JOIN range(0, 16) AS xs(x) ON xs.x < (d.w // $vidBlocks) * $vidBlocks
       |  JOIN range(0, 12) AS ys(y) ON ys.y < (d.h // $vidBlocks) * $vidBlocks),
       |vgray AS (
       |  SELECT doc_id, bw, bh, f,
       |    (y // bh) * $vidBlocks + (x // bw) AS k,
       |    (x * 3 + y * 5 + f * 17 + doc_id * 7) % 256 AS g
       |  FROM vpx),
       |vblocks AS (
       |  SELECT doc_id, f, k,
       |    CAST(SUM(g) // (MAX(bw) * MAX(bh)) AS BIGINT) AS bavg
       |  FROM vgray GROUP BY doc_id, f, k),
       |vmean AS (
       |  SELECT doc_id, f, CAST(SUM(bavg) // ${vidBlocks * vidBlocks} AS BIGINT) AS mean
       |  FROM vblocks GROUP BY doc_id, f),
       |vfh AS (
       |  SELECT b.doc_id, b.f,
       |    CAST(SUM(CASE WHEN b.bavg > m.mean
       |      THEN CAST(1 AS BIGINT) << CAST(b.k AS INTEGER) ELSE 0 END) AS BIGINT) AS fh
       |  FROM vblocks b JOIN vmean m ON b.doc_id = m.doc_id AND b.f = m.f
       |  GROUP BY b.doc_id, b.f),
       |vfp AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN (f // $frameStride) < $fpFrames
       |      THEN fh << CAST(16 * (f // $frameStride) AS INTEGER)
       |      ELSE 0 END) AS BIGINT) AS video_fp,
       |    CAST(COUNT(*) AS INTEGER) AS n_sampled
       |  FROM vfh GROUP BY doc_id)""".stripMargin

  val qVideoFingerprint: GraftQuery = GraftQuery(
    "q329_video_fingerprint",
    s"""WITH $videoFpCtes
       |SELECT v.doc_id, CAST(d.nf AS INTEGER) AS n_frames, v.n_sampled,
       |  v.video_fp,
       |  CAST(COUNT(*) OVER (PARTITION BY v.video_fp) AS BIGINT) AS n_same
       |FROM vfp v JOIN vdims d ON v.doc_id = d.doc_id
       |ORDER BY v.doc_id""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    videoFingerprints(videoTable(s, d)).toDF()
      .withColumn("n_same",
        count(lit(1)).over(Window.partitionBy("video_fp")))
      .select(col("doc_id"), col("n_frames"), col("n_sampled"),
        col("video_fp"), col("n_same"))
      .orderBy("doc_id")
  }

  /** Hamming tolerance of the q331 near-miss matcher. The candidate
    * join cuts the INFORMATIVE fingerprint prefix (n_sampled × 16
    * bits) into FOUR equal-width sub-bands, so pigeonhole makes
    * banding lossless at h ≤ 3 for every clip length: ≤3 flipped bits
    * cannot touch all four sub-bands. */
  val videoHammingMax = 3

  /** VIDEO NEAR-MISS PAIRS — the tolerant tier above q329's exact
    * census (the q192→q194 progression, on video): pairs of
    * SAME-SAMPLE-COUNT clips whose fingerprints differ in
    * 1–[[videoHammingMax]] bits (one slightly different frame region —
    * a logo burn-in, a timestamp overlay — that exact fingerprint
    * equality misses). Equal n_sampled is part of the semantics, not
    * an optimization: a zero-padded upper band encodes "no such
    * frame", and counting hamming against padding would call a 1-frame
    * clip a near-dup of an unrelated 2-frame clip.
    *
    * Engine physics: each clip's INFORMATIVE prefix (n_sampled·16
    * bits) is cut into four equal-width (n_sampled·4-bit) sub-bands;
    * candidates equi-join on (n_sampled, sub-band index, sub-band
    * value) — the q28/q29 banding shape, never all-pairs — then verify
    * exactly with `bit_count(fp_a XOR fp_b)`. Banding only informative
    * bits matters: banding the fixed 16-bit frame slices would make
    * every zero-padded upper slice a degenerate bucket joining ALL
    * short clips pairwise — the N² the banding exists to avoid. The
    * pigeonhole bound (≤3 flipped bits over 4 disjoint sub-bands
    * covering every informative bit) makes the banding LOSSLESS, and
    * the ORACLE states the semantics as the plain all-pairs join — the
    * hash match therefore PROVES the banded candidate generation is
    * complete, not just fast (the q28 discipline).
    *
    * 100 TB: the exchange carries (sub-band, 8-byte fingerprint) rows;
    * candidate count follows bucket occupancy. Known limit of THIS
    * width: a single-sample clip has a 16-bit fingerprint, so its
    * 4-bit sub-band buckets hold ~N/16 of the single-sample
    * population — low-entropy signatures bucket coarsely no matter
    * the scheme. The WIDE tier (q336, 8×8 blocks = 64-bit slices)
    * is the production answer: there a single-sample clip's
    * sub-bands are 16 bits, and bucket occupancy follows hash
    * entropy for every clip length. */
  /** The q331 doc-grain banding layout: four variable-width sub-bands
    * of the packed per-clip fingerprint (slice width follows the
    * sampled-frame count, which rides as the eqKey). */
  private val videoDocScheme = BandedHamming.BandScheme(
    idCols = Seq("doc_id"), fpCols = Seq("video_fp"),
    bandExprs = (0 until 4).map(j => expr(
      s"shiftright(video_fp, $j * n_sampled * 4) & " +
        "(shiftleft(CAST(1 AS BIGINT), n_sampled * 4) - 1)")),
    eqKeys = Seq("n_sampled"), hMax = videoHammingMax)

  /** The q331 doc-grain video fingerprint index, decoded once per
    * (session, corpus) with its build-time guard statistics;
    * checkpoint blocks released on eviction. */
  private val videoFpIndex =
    new graft.spark.SessionMemo[String, BandedHamming.StatedIndex](
      "multimodal.videoFpIndex")(i =>
      org.apache.spark.sql.graftshim.Checkpoints.release(i.rows))

  val qVideoNearDup: GraftQuery = GraftQuery(
    "q331_video_neardup_pairs",
    s"""WITH $videoFpCtes
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.n_sampled,
       |  a.video_fp AS fp_a, b.video_fp AS fp_b,
       |  CAST(bit_count(xor(a.video_fp, b.video_fp)) AS INTEGER) AS hamming
       |FROM vfp a JOIN vfp b
       |  ON a.doc_id < b.doc_id AND a.n_sampled = b.n_sampled
       |WHERE bit_count(xor(a.video_fp, b.video_fp))
       |  BETWEEN 1 AND $videoHammingMax
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    // materialize the 16-byte/clip fingerprint relation ONCE per
    // (session, corpus): the band self-join otherwise re-runs the
    // whole decode pipeline on each side (the broadcast build side
    // cannot reuse the streamed side's exchange) — a production
    // pipeline persists this relation anyway, it IS the video index
    val fp = videoFpIndex.getOrElseUpdate(s, d)(
      videoDocScheme.indexed(
        videoFingerprints(videoTable(s, d)).toDF()
          .select("doc_id", "n_sampled", "video_fp")
          .localCheckpoint()))
    videoDocScheme.pairsIndexed(fp)
      .select(col("doc_id_a").as("doc_a"), col("doc_id_b").as("doc_b"),
        col("n_sampled"), col("video_fp_a").as("fp_a"),
        col("video_fp_b").as("fp_b"), col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** IMAGE NEAR-MISS PAIRS AT THE VALUE GRAIN — q331's tolerant tier
    * for q192's aHash, with the scale lesson this fixture teaches
    * baked in: perceptual hashes COLLIDE heavily (92 docs share one
    * aHash at 500 docs here), so doc-grain near-miss pairs multiply
    * every value match by n_a·n_b — quadratic in cluster size, by
    * construction. The operator therefore works on DISTINCT
    * fingerprint VALUES (a relation bounded by fingerprint entropy,
    * never corpus size) carrying their census counts: banding,
    * candidate join, and hamming verify all run at the value grain,
    * and the doc-level expansion stays virtual (a curator reads
    * "value A's 92 docs near-match value B's 7" — materializing the
    * 644 doc pairs adds nothing).
    *
    * Banding: the 64-bit hash's eight 8-bit sub-bands (4 per packed
    * half) — pigeonhole makes h ≤ 3 lossless with room to spare; the
    * oracle is the plain all-pairs value join, so the hash match
    * proves candidate completeness (the q28/q331 discipline). */
  /** The image-aHash value tier: eight 8-bit sub-bands (four per packed
    * 32-bit half) shared by q334's pairs, q346's cluster edges, the
    * q349/q356 probes and every index build's guard statistics. Two
    * hash words cannot pack into one oracle-expressible BIGINT, so the
    * node key is MIN(doc_id). */
  private[graft] val imageTier = ValueTier(
    name = "image",
    scheme = BandedHamming.BandScheme(
      idCols = Seq("ahash_hi", "ahash_lo"),
      fpCols = Seq("ahash_hi", "ahash_lo"),
      bandExprs = BandedHamming.fixedBands(col("ahash_lo"), 4, 8) ++
        BandedHamming.fixedBands(col("ahash_hi"), 4, 8),
      hMax = videoHammingMax),
    groupCols = Seq("ahash_hi", "ahash_lo"),
    partialSchema = "ahash_hi BIGINT, ahash_lo BIGINT, n_partial BIGINT",
    featurize = imageAHashesFromDocs,
    nodeKey = min("doc_id"))

  val qImageNearDup: GraftQuery = GraftQuery(
    "q334_image_neardup_values",
    s"""WITH $imageAHashCtes,
       |vals AS (
       |  SELECT ahash_hi, ahash_lo, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM ah GROUP BY ahash_hi, ahash_lo)
       |SELECT a.ahash_hi AS hi_a, a.ahash_lo AS lo_a,
       |  b.ahash_hi AS hi_b, b.ahash_lo AS lo_b,
       |  CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) +
       |       bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INTEGER) AS hamming,
       |  a.n_docs AS n_docs_a, b.n_docs AS n_docs_b
       |FROM vals a JOIN vals b
       |  ON (a.ahash_hi < b.ahash_hi OR
       |      (a.ahash_hi = b.ahash_hi AND a.ahash_lo < b.ahash_lo))
       |WHERE bit_count(xor(a.ahash_hi, b.ahash_hi)) +
       |      bit_count(xor(a.ahash_lo, b.ahash_lo))
       |  BETWEEN 1 AND $videoHammingMax
       |ORDER BY hi_a, lo_a, hi_b, lo_b""".stripMargin) { (s, d) =>
    imageTier.pairs(s, d)
      .select(col("ahash_hi_a").as("hi_a"), col("ahash_lo_a").as("lo_a"),
        col("ahash_hi_b").as("hi_b"), col("ahash_lo_b").as("lo_b"),
        col("hamming"), col("n_docs_a"), col("n_docs_b"))
      .orderBy("hi_a", "lo_a", "hi_b", "lo_b")
  }

  /** AUDIO NEAR-MISS PAIRS AT THE VALUE GRAIN — the q334 pattern on
    * q193's 32-bit energy fingerprint (this fixture's strongest case
    * for the value grain: one fingerprint value covers 158 of 500
    * clips, so doc-grain banding would materialize that cluster's
    * 12k self-pairs before filtering). Four 8-bit sub-bands;
    * pigeonhole-lossless at h ≤ 3; oracle = all-pairs value join. */
  /** The analytic audio fingerprint rebuild (q193's per-window energy
    * bit-vector) as a CTE chain ending at `fp` — the front half of the
    * q335/q347 oracles. */
  private val audioFpCtes: String =
    """dims AS (
      |  SELECT doc_id, 64 + doc_id % 97 AS n FROM documents),
      |w AS (SELECT doc_id, n, (n // 32) AS ww FROM dims),
      |samp AS (
      |  SELECT d.doc_id, (i.i // d.ww) AS k,
      |    ABS(CAST((d.doc_id * 7 + i.i * 13) % 4096 - 2048 AS BIGINT)) AS a
      |  FROM w d JOIN range(0, 161) AS i(i) ON i.i < d.ww * 32),
      |en AS (
      |  SELECT doc_id, k, CAST(SUM(a) AS BIGINT) AS e
      |  FROM samp GROUP BY doc_id, k),
      |m AS (
      |  SELECT doc_id, CAST(SUM(e) // 32 AS BIGINT) AS mean
      |  FROM en GROUP BY doc_id),
      |fp AS (
      |  SELECT e.doc_id,
      |    CAST(SUM(CASE WHEN e.e > m.mean
      |      THEN CAST(1 AS BIGINT) << CAST(e.k AS INTEGER) ELSE 0 END) AS BIGINT)
      |      AS fingerprint
      |  FROM en e JOIN m ON e.doc_id = m.doc_id
      |  GROUP BY e.doc_id)""".stripMargin

  /** The ONE oracle statement of the q335/q347 value-pair semantics:
    * the fingerprint value census, then ALL-PAIRS near-miss value
    * pairs at hamming 1..3 — q335 selects it directly; q347 closes it
    * transitively. One string, so the pair definition cannot silently
    * diverge between the two oracles (the q337/q343 discipline). */
  private val audioValuePairsCtes: String =
    s"""avals AS (
       |  SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM fp GROUP BY fingerprint),
       |apairs AS (
       |  SELECT a.fingerprint AS fp_a, b.fingerprint AS fp_b,
       |    CAST(bit_count(xor(a.fingerprint, b.fingerprint)) AS INTEGER)
       |      AS hamming,
       |    a.n_docs AS n_docs_a, b.n_docs AS n_docs_b
       |  FROM avals a JOIN avals b ON a.fingerprint < b.fingerprint
       |  WHERE bit_count(xor(a.fingerprint, b.fingerprint))
       |    BETWEEN 1 AND $videoHammingMax)""".stripMargin

  /** The audio value tier: four 8-bit sub-bands of the 32-bit energy
    * fingerprint, shared by q335/q347's pairs, the q353/q359 probes and
    * every index build's guard statistics. The fingerprint is one
    * BIGINT, so it is its own cluster node key. */
  private[graft] val audioTier = ValueTier(
    name = "audio",
    scheme = BandedHamming.BandScheme(
      idCols = Seq("fingerprint"), fpCols = Seq("fingerprint"),
      bandExprs = BandedHamming.fixedBands(col("fingerprint"), 4, 8),
      hMax = videoHammingMax),
    groupCols = Seq("fingerprint"),
    partialSchema = "fingerprint BIGINT, n_partial BIGINT",
    featurize = audioFingerprintsFromDocs,
    nodeKey = min("fingerprint"))

  val qAudioNearDup: GraftQuery = GraftQuery(
    "q335_audio_neardup_values",
    s"""WITH $audioFpCtes,
       |$audioValuePairsCtes
       |SELECT fp_a, fp_b, hamming, n_docs_a, n_docs_b
       |FROM apairs
       |ORDER BY fp_a, fp_b""".stripMargin) { (s, d) =>
    audioTier.pairs(s, d)
      .select(col("fingerprint_a").as("fp_a"), col("fingerprint_b").as("fp_b"),
        col("hamming"), col("n_docs_a"), col("n_docs_b"))
      .orderBy("fp_a", "fp_b")
  }

  /** INCREMENTAL AUDIO NEAR-MISS — the q345/q349 batch-vs-corpus
    * posture on the audio tier: an arriving batch's distinct 32-bit
    * energy fingerprints probe the PERSISTED corpus value index
    * through the cross-corpus banding at hamming 0–3 (exact index
    * hits plus the tolerant tier). This is the tier where incremental
    * matters most at the value grain — one fingerprint value covers
    * 158 of 500 clips in the fixture, so the probe's cost follows
    * bucket occupancy over an entropy-bounded index, never corpus
    * size, and the corpus is never re-decoded or re-paired. Oracle:
    * the plain all-pairs batch×corpus value join. */
  val qAudioNearDupBatch: GraftQuery = GraftQuery(
    "q353_audio_neardup_batch",
    s"""WITH $audioFpCtes,
       |bavals AS (
       |  SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM fp WHERE doc_id % 5 = 4 GROUP BY fingerprint),
       |cavals AS (
       |  SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM fp WHERE doc_id % 5 <> 4 GROUP BY fingerprint)
       |SELECT b.fingerprint AS fp_batch, c.fingerprint AS fp_corpus,
       |  CAST(bit_count(xor(b.fingerprint, c.fingerprint)) AS INTEGER)
       |    AS hamming,
       |  b.n_docs AS n_docs_batch, c.n_docs AS n_docs_corpus
       |FROM bavals b JOIN cavals c
       |  ON bit_count(xor(b.fingerprint, c.fingerprint))
       |     <= $videoHammingMax
       |ORDER BY fp_batch, fp_corpus""".stripMargin) { (s, d) =>
    audioProbeOut(audioTier.batchProbe(s, d, audioTier.corpusIndex(s, d)))
  }

  /** q353's output contract over an audio batch probe — shared with
    * q359, which probes the stream-maintained index instead. */
  private[graft] def audioProbeOut(
      probe: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    probe.select(col("fingerprint_a").as("fp_batch"),
        col("fingerprint_b").as("fp_corpus"), col("hamming"),
        col("n_docs_a").as("n_docs_batch"),
        col("n_docs_b").as("n_docs_corpus"))
      .orderBy("fp_batch", "fp_corpus")

  /** Oracle SQL for the corpus half of the q353 split — also the
    * oracle of the streaming census maintenance (q358). */
  private[graft] def audioCorpusCensusSql: String =
    s"""WITH $audioFpCtes
       |SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM fp WHERE doc_id % 5 <> 4
       |GROUP BY fingerprint
       |ORDER BY fingerprint""".stripMargin

  /** doc_id relation → audio fingerprints (synthesize + decode inside
    * the partition) — q193's featurize and the featurize half of the
    * audio census, shared by the batch splits and the streaming
    * maintainer. */
  private[graft] def audioFingerprintsFromDocs(docs: DataFrame): DataFrame =
    WavDecoderPool.featurize(docs.select(col("doc_id")).as(Encoders.scalaLong))(
      (dec, id) => dec.decodeFingerprint(id, synthWav(id))).toDF()

  /** AUDIO NEAR-MISS CLUSTERS AT THE VALUE GRAIN — the q343
    * composition on q335's output, completing the audio progression
    * (census q193 → tolerant pairs q335 → transitive clusters): a
    * re-encoded copy of a re-encoded copy drifts a bit per hop, so
    * curation budgets against the CLUSTER, not the pair. Nodes are
    * distinct 32-bit fingerprint VALUES (one BIGINT — directly
    * oracle-expressible, no MIN-key indirection needed); edges the
    * q335 banded pairs; labels from the shared min-label propagation;
    * census counts ride along so the output reads as doc mass per
    * cluster and re-sums to the corpus.
    *
    * Oracle: recursive-CTE transitive closure over the all-pairs
    * value edges (the q77/q343 discipline). 100 TB: the CC loop runs
    * over near-miss VALUES only — bounded by fingerprint entropy,
    * here further capped by the 32-bit space itself. */
  val qAudioNearDupClusters: GraftQuery = GraftQuery(
    "q347_audio_neardup_clusters",
    s"""WITH RECURSIVE $audioFpCtes,
       |$audioValuePairsCtes,
       |aedges AS (
       |  SELECT fp_a AS a, fp_b AS b FROM apairs
       |  UNION ALL SELECT fp_b, fp_a FROM apairs),
       |areach(n, m) AS (
       |  SELECT a, b FROM aedges
       |  UNION
       |  SELECT r.n, e.b FROM areach r JOIN aedges e ON r.m = e.a),
       |albl AS (
       |  SELECT n AS fingerprint, least(n, MIN(m)) AS cluster_id
       |  FROM areach GROUP BY n),
       |afull AS (
       |  SELECT v.fingerprint,
       |    COALESCE(l.cluster_id, v.fingerprint) AS cluster_id, v.n_docs
       |  FROM avals v LEFT JOIN albl l ON l.fingerprint = v.fingerprint)
       |SELECT fingerprint, cluster_id,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS n_values,
       |  CAST(SUM(n_docs) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_docs
       |FROM afull
       |ORDER BY fingerprint""".stripMargin) { (s, d) =>
    audioTier.clusters(s, d)
      .select("fingerprint", "cluster_id", "n_values", "cluster_docs")
      .orderBy("fingerprint")
  }

  /** The six wide-fingerprint words, lexicographic-identity order. */
  private val wideFpCols =
    Seq("f0_hi", "f0_lo", "f1_hi", "f1_lo", "f2_hi", "f2_lo")

  /** The analytic WIDE fingerprint rebuild (sampled frames → 8×8
    * blocks → per-frame 64-bit hash as two unsigned 32-bit halves →
    * per-slot pivot) as a CTE chain ending at `wfp` — the q336
    * oracle's front half. */
  private val videoFpWideCtes: String =
    s"""wdims AS (
       |  SELECT doc_id,
       |         8 + doc_id % 9 AS w,
       |         8 + (doc_id * 3) % 7 AS h,
       |         2 + doc_id % 7 AS nf
       |  FROM documents),
       |wpx AS (
       |  SELECT d.doc_id, (d.w // $vidBlocksWide) AS bw,
       |         (d.h // $vidBlocksWide) AS bh,
       |         fs.f, xs.x, ys.y
       |  FROM wdims d
       |  JOIN range(0, 8) AS fs(f) ON fs.f < d.nf AND fs.f % $frameStride = 0
       |  JOIN range(0, 16) AS xs(x)
       |    ON xs.x < (d.w // $vidBlocksWide) * $vidBlocksWide
       |  JOIN range(0, 8) AS ys(y)
       |    ON ys.y < (d.h // $vidBlocksWide) * $vidBlocksWide),
       |wgray AS (
       |  SELECT doc_id, bw, bh, f,
       |    (y // bh) * $vidBlocksWide + (x // bw) AS k,
       |    (x * 3 + y * 5 + f * 17 + doc_id * 7) % 256 AS g
       |  FROM wpx),
       |wblocks AS (
       |  SELECT doc_id, f, k,
       |    CAST(SUM(g) // (MAX(bw) * MAX(bh)) AS BIGINT) AS bavg
       |  FROM wgray GROUP BY doc_id, f, k),
       |wmean AS (
       |  SELECT doc_id, f,
       |    CAST(SUM(bavg) // ${vidBlocksWide * vidBlocksWide} AS BIGINT) AS mean
       |  FROM wblocks GROUP BY doc_id, f),
       |wfh AS (
       |  SELECT b.doc_id, b.f,
       |    CAST(SUM(CASE WHEN b.k >= 32 AND b.bavg > m.mean
       |      THEN CAST(1 AS BIGINT) << CAST(b.k - 32 AS INTEGER) ELSE 0 END) AS BIGINT) AS fh_hi,
       |    CAST(SUM(CASE WHEN b.k < 32 AND b.bavg > m.mean
       |      THEN CAST(1 AS BIGINT) << CAST(b.k AS INTEGER) ELSE 0 END) AS BIGINT) AS fh_lo
       |  FROM wblocks b JOIN wmean m ON b.doc_id = m.doc_id AND b.f = m.f
       |  GROUP BY b.doc_id, b.f),
       |wfp AS (
       |  SELECT doc_id,
       |    CAST(COUNT(*) AS INTEGER) AS n_sampled,
       |${wideFpCols.map { c =>
        val slot = c.substring(1, 2).toInt
        val half = if (c.endsWith("hi")) "fh_hi" else "fh_lo"
        s"    CAST(MAX(CASE WHEN f // $frameStride = $slot THEN $half ELSE 0 END) AS BIGINT) AS $c"
      }.mkString(",\n")}
       |  FROM wfh GROUP BY doc_id)""".stripMargin

  /** VIDEO NEAR-MISS AT THE WIDE WIDTH AND THE VALUE GRAIN — the
    * q331-successor that retires its low-entropy caveat, composing
    * both round-9 lessons through the ONE parameterized
    * [[BandedHamming]] operator:
    *
    *   - WIDE per-frame hash: 8×8 blocks = 64 bits/frame (two
    *     unsigned 32-bit halves, the q192 packing), so a one-sample
    *     clip's informative prefix is 64 bits, not 16 — its four
    *     16-bit sub-bands bucket by content, never ~N/16 of the
    *     subpopulation;
    *   - VALUE grain with census counts (the q334/q335 lesson):
    *     perceptual hashes collide heavily, so pairs are emitted
    *     between distinct fingerprint VALUES carrying n_docs — the
    *     doc-level expansion stays virtual.
    *
    * Banding: per PRESENT frame slice, four 16-bit sub-bands (two per
    * 32-bit half) — 4·n_sampled disjoint bands covering every
    * informative bit, so pigeonhole keeps h ≤ 3 lossless for every
    * clip length; padding slices of short clips are masked out by the
    * informative-band filter (banding zeros would make every short
    * clip a candidate of every other — the degenerate bucket q331's
    * design note warns about). Equal n_sampled is part of the pair
    * semantics, as in q331. The ORACLE states the semantics as the
    * plain all-pairs value join over the analytically rebuilt wide
    * fingerprints — the hash match proves the banded candidate
    * generation is complete at the wide width (the q28 discipline).
    *
    * 100 TB: the exchange carries (band, 48-byte fingerprint) rows at
    * the VALUE grain — bounded by fingerprint entropy, never corpus
    * size; candidate count follows bucket occupancy at every clip
    * length, which is the whole point of the width. */
  /** The ONE oracle statement of the q336/q348 value-pair semantics:
    * the wide-fingerprint value census (with the MIN(doc_id) node
    * key), then ALL-PAIRS near-miss value pairs at hamming 1..3 under
    * equal n_sampled — q336 selects it directly; q348 closes it
    * transitively. One string, so the pair definition cannot silently
    * diverge between the two oracles (the q337/q343 discipline). */
  private val videoWideValuePairsCtes: String =
    s"""wvals AS (
       |  SELECT n_sampled, ${wideFpCols.mkString(", ")},
       |    CAST(COUNT(*) AS BIGINT) AS n_docs, MIN(doc_id) AS vid
       |  FROM wfp GROUP BY n_sampled, ${wideFpCols.mkString(", ")}),
       |wpairs AS (
       |  SELECT a.n_sampled,
       |${wideFpCols.map(c => s"    a.$c AS ${c}_a").mkString(",\n")},
       |${wideFpCols.map(c => s"    b.$c AS ${c}_b").mkString(",\n")},
       |    CAST(${wideFpCols.map(c => s"CAST(bit_count(xor(a.$c, b.$c)) AS INTEGER)").mkString(" + ")} AS INTEGER) AS hamming,
       |    a.n_docs AS n_docs_a, b.n_docs AS n_docs_b,
       |    a.vid AS vid_a, b.vid AS vid_b
       |  FROM wvals a JOIN wvals b
       |    ON a.n_sampled = b.n_sampled AND (${wideFpCols.indices.map { i =>
          (wideFpCols.take(i).map(c => s"a.$c = b.$c") :+
            s"a.${wideFpCols(i)} < b.${wideFpCols(i)}").mkString(" AND ")
        }.mkString("(", ") OR (", ")")})
       |  WHERE ${wideFpCols.map(c => s"CAST(bit_count(xor(a.$c, b.$c)) AS INTEGER)").mkString(" + ")}
       |    BETWEEN 1 AND $videoHammingMax)""".stripMargin

  /** The wide-video value tier: per present frame slice, four 16-bit
    * sub-bands under the width eqKey and the informative-band mask,
    * shared by q336's pairs, q348's cluster edges, the q354/q361
    * probes and every index build's guard statistics. Six hash words
    * cannot pack into one oracle-expressible BIGINT, so the node key
    * is MIN(doc_id). n_sampled is pinned INTEGER in the partial schema
    * so the drained census matches its oracle's types. */
  private[graft] val videoWideTier = ValueTier(
    name = "videoWide",
    scheme = BandedHamming.BandScheme(
      idCols = wideFpCols, fpCols = wideFpCols,
      bandExprs = (0 until fpFrames).flatMap(i =>
        BandedHamming.fixedBands(col(s"f${i}_lo"), 2, 16) ++
          BandedHamming.fixedBands(col(s"f${i}_hi"), 2, 16)),
      eqKeys = Seq("n_sampled"),
      informativeBand = Some(col("band_idx") < col("n_sampled") * 4),
      hMax = videoHammingMax),
    groupCols = "n_sampled" +: wideFpCols,
    partialSchema = ("n_sampled INT" +: wideFpCols.map(c => s"$c BIGINT"))
      .mkString(", ") + ", n_partial BIGINT",
    featurize = videoWideFromDocs,
    nodeKey = min("doc_id"))

  val qVideoNearDupWide: GraftQuery = GraftQuery(
    "q336_video_neardup_wide",
    s"""WITH $videoFpWideCtes,
       |$videoWideValuePairsCtes
       |SELECT n_sampled,
       |  ${wideFpCols.map(c => s"${c}_a").mkString(", ")},
       |  ${wideFpCols.map(c => s"${c}_b").mkString(", ")},
       |  hamming, n_docs_a, n_docs_b
       |FROM wpairs
       |ORDER BY n_sampled, ${wideFpCols.map(c => s"${c}_a").mkString(", ")},
       |  ${wideFpCols.map(c => s"${c}_b").mkString(", ")}""".stripMargin) { (s, d) =>
    videoWideTier.pairs(s, d)
      .select((col("n_sampled") +:
        (wideFpCols.map(c => col(s"${c}_a")) ++
          wideFpCols.map(c => col(s"${c}_b")) ++
          Seq(col("hamming"), col("n_docs_a"), col("n_docs_b")))): _*)
      .orderBy(("n_sampled" +: (wideFpCols.map(c => s"${c}_a") ++
        wideFpCols.map(c => s"${c}_b"))).map(col): _*)
  }

  /** WIDE-VIDEO NEAR-MISS CLUSTERS AT THE VALUE GRAIN — the q343
    * composition on q336's output, completing the video progression
    * (census q329 → tolerant pairs q331/q336 → transitive clusters).
    * Nodes are distinct (n_sampled, 6-word fingerprint) VALUES;
    * because six hash words cannot pack into one oracle-expressible
    * BIGINT, each value's node key is the census-stable MIN(doc_id)
    * — the q346 technique, unique per value and directly actionable
    * (the id IS a representative clip). Edges are the q336 banded
    * pairs (equal n_sampled is part of the pair semantics, so
    * clusters never straddle clip widths); labels from the shared
    * min-label propagation; census counts ride along so the output
    * reads as doc mass per cluster and re-sums to the corpus.
    *
    * Oracle: recursive-CTE transitive closure over the all-pairs
    * value edges (the q77/q343 discipline). 100 TB: the CC loop runs
    * over near-miss VALUES only; the min-doc node key is one exact
    * aggregate the census pass already pays for. */
  val qVideoNearDupWideClusters: GraftQuery = GraftQuery(
    "q348_video_neardup_wide_clusters",
    s"""WITH RECURSIVE $videoFpWideCtes,
       |$videoWideValuePairsCtes,
       |wedges AS (
       |  SELECT vid_a AS a, vid_b AS b FROM wpairs
       |  UNION ALL SELECT vid_b, vid_a FROM wpairs),
       |wreach(n, m) AS (
       |  SELECT a, b FROM wedges
       |  UNION
       |  SELECT r.n, e.b FROM wreach r JOIN wedges e ON r.m = e.a),
       |wlbl AS (
       |  SELECT n AS vid, least(n, MIN(m)) AS cluster_id
       |  FROM wreach GROUP BY n),
       |wfull AS (
       |  SELECT v.vid, v.n_sampled,
       |    COALESCE(l.cluster_id, v.vid) AS cluster_id, v.n_docs
       |  FROM wvals v LEFT JOIN wlbl l ON l.vid = v.vid)
       |SELECT vid, n_sampled, cluster_id,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS n_values,
       |  CAST(SUM(n_docs) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_docs
       |FROM wfull
       |ORDER BY vid""".stripMargin) { (s, d) =>
    videoWideTier.clusters(s, d)
      .select(col("node").as("vid"), col("n_sampled"), col("cluster_id"),
        col("n_values"), col("cluster_docs"))
      .orderBy("vid")
  }

  /** INCREMENTAL WIDE-VIDEO NEAR-MISS — the q345/q349/q353 posture on
    * the wide-video tier, completing the incremental matrix across
    * all four perceptual families. This is also the only caller that
    * composes the CROSS-CORPUS form with VARIABLE-WIDTH fingerprints:
    * equal n_sampled rides as the eqKey on both universes and the
    * informative-band mask keeps short clips' padding bands out of
    * the probe on BOTH sides (and the occupancy guard's per-row
    * informative minimum is checked per side — a value present in
    * both universes must not mask a lossy escalation). hMin = 0:
    * exact index hits plus the 1–3-bit tolerant tier. The corpus is
    * never re-decoded or re-paired; the probe costs O(batch values ×
    * bucket occupancy). Oracle: the plain all-pairs batch×corpus
    * value join over the analytically rebuilt wide fingerprints. */
  val qVideoNearDupWideBatch: GraftQuery = GraftQuery(
    "q354_video_neardup_wide_batch",
    s"""WITH $videoFpWideCtes,
       |bwv AS (
       |  SELECT n_sampled, ${wideFpCols.mkString(", ")},
       |    CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM wfp WHERE doc_id % 5 = 4
       |  GROUP BY n_sampled, ${wideFpCols.mkString(", ")}),
       |cwv AS (
       |  SELECT n_sampled, ${wideFpCols.mkString(", ")},
       |    CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM wfp WHERE doc_id % 5 <> 4
       |  GROUP BY n_sampled, ${wideFpCols.mkString(", ")})
       |SELECT b.n_sampled,
       |${wideFpCols.map(c => s"  b.$c AS ${c}_batch").mkString(",\n")},
       |${wideFpCols.map(c => s"  c.$c AS ${c}_corpus").mkString(",\n")},
       |  CAST(${wideFpCols.map(c => s"CAST(bit_count(xor(b.$c, c.$c)) AS INTEGER)").mkString(" + ")} AS INTEGER) AS hamming,
       |  b.n_docs AS n_docs_batch, c.n_docs AS n_docs_corpus
       |FROM bwv b JOIN cwv c
       |  ON b.n_sampled = c.n_sampled
       | AND ${wideFpCols.map(c => s"CAST(bit_count(xor(b.$c, c.$c)) AS INTEGER)").mkString(" + ")}
       |     <= $videoHammingMax
       |ORDER BY b.n_sampled, ${wideFpCols.map(c => s"${c}_batch").mkString(", ")},
       |  ${wideFpCols.map(c => s"${c}_corpus").mkString(", ")}""".stripMargin) {
    (s, d) =>
    videoWideProbeOut(
      videoWideTier.batchProbe(s, d, videoWideTier.corpusIndex(s, d)))
  }

  /** q354's output contract over a wide-video batch probe — shared
    * with q361, which probes the stream-maintained index instead. */
  private[graft] def videoWideProbeOut(
      probe: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    probe.select((col("n_sampled") +:
        (wideFpCols.map(c => col(s"${c}_a").as(s"${c}_batch")) ++
          wideFpCols.map(c => col(s"${c}_b").as(s"${c}_corpus")) ++
          Seq(col("hamming"), col("n_docs_a").as("n_docs_batch"),
            col("n_docs_b").as("n_docs_corpus")))): _*)
      .orderBy(("n_sampled" +: (wideFpCols.map(c => s"${c}_batch") ++
        wideFpCols.map(c => s"${c}_corpus"))).map(col): _*)

  /** Oracle SQL for the corpus half of the q354 split — also the
    * oracle of the streaming census maintenance (q360). */
  private[graft] def videoWideCorpusCensusSql: String =
    s"""WITH $videoFpWideCtes
       |SELECT n_sampled, ${wideFpCols.mkString(", ")},
       |  CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM wfp WHERE doc_id % 5 <> 4
       |GROUP BY n_sampled, ${wideFpCols.mkString(", ")}
       |ORDER BY n_sampled, ${wideFpCols.mkString(", ")}""".stripMargin

  /** doc_id relation → wide video fingerprints (synthesize + decode
    * inside the partition) — the featurize half of the wide-video
    * census, shared by the batch splits and the streaming maintainer. */
  private[graft] def videoWideFromDocs(docs: DataFrame): DataFrame =
    GifDecoderPool.featurize(docs.select(col("doc_id")).as(Encoders.scalaLong))(
      (dec, id) => dec.decodeFingerprintWide(id, synthGif(id))).toDF()

  /** IMAGE NEAR-MISS CLUSTERS AT THE VALUE GRAIN — q343's composition
    * on q334's output, closing the perceptual progression for images
    * (census q192 → tolerant pairs q334 → transitive clusters): a
    * re-encoded copy of a re-encoded copy drifts 1 bit per hop, so
    * curation budgets against the CLUSTER, not the pair. Nodes are
    * distinct aHash VALUES; because the hash is two 32-bit words and
    * packing them into one BIGINT would overflow DuckDB's signed
    * arithmetic, each value's NODE KEY is the census-stable
    * MIN(doc_id) over its documents — unique per value, oracle-
    * expressible, and it makes cluster ids directly actionable (the
    * id IS a representative document). Edges are the q334 banded
    * pairs; labels from the shared min-label propagation; census
    * counts ride along so the output reads as doc mass per cluster
    * and re-sums to the corpus.
    *
    * Oracle: recursive-CTE transitive closure over the all-pairs
    * value edges (the q77/q343 discipline). 100 TB: the CC loop runs
    * over near-miss VALUES only; the min-doc node key is one exact
    * aggregate the census pass already pays for. */
  val qImageNearDupClusters: GraftQuery = GraftQuery(
    "q346_image_neardup_clusters",
    s"""WITH RECURSIVE $imageAHashCtes,
       |ivals AS (
       |  SELECT ahash_hi, ahash_lo, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |    MIN(doc_id) AS vid
       |  FROM ah GROUP BY ahash_hi, ahash_lo),
       |ipairs AS (
       |  SELECT a.vid AS vid_a, b.vid AS vid_b
       |  FROM ivals a JOIN ivals b
       |    ON (a.ahash_hi < b.ahash_hi OR
       |        (a.ahash_hi = b.ahash_hi AND a.ahash_lo < b.ahash_lo))
       |  WHERE CAST(bit_count(xor(a.ahash_hi, b.ahash_hi)) AS INTEGER) +
       |        CAST(bit_count(xor(a.ahash_lo, b.ahash_lo)) AS INTEGER)
       |    BETWEEN 1 AND $videoHammingMax),
       |iedges AS (
       |  SELECT vid_a AS a, vid_b AS b FROM ipairs
       |  UNION ALL SELECT vid_b, vid_a FROM ipairs),
       |ireach(n, m) AS (
       |  SELECT a, b FROM iedges
       |  UNION
       |  SELECT r.n, e.b FROM ireach r JOIN iedges e ON r.m = e.a),
       |ilbl AS (
       |  SELECT n AS vid, least(n, MIN(m)) AS cluster_id
       |  FROM ireach GROUP BY n),
       |ifull AS (
       |  SELECT v.vid, v.ahash_hi, v.ahash_lo,
       |    COALESCE(l.cluster_id, v.vid) AS cluster_id, v.n_docs
       |  FROM ivals v LEFT JOIN ilbl l ON l.vid = v.vid)
       |SELECT vid, ahash_hi, ahash_lo, cluster_id,
       |  CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS INTEGER) AS n_values,
       |  CAST(SUM(n_docs) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_docs
       |FROM ifull
       |ORDER BY vid""".stripMargin) { (s, d) =>
    imageTier.clusters(s, d)
      .select(col("node").as("vid"), col("ahash_hi"), col("ahash_lo"),
        col("cluster_id"), col("n_values"), col("cluster_docs"))
      .orderBy("vid")
  }

  /** INCREMENTAL IMAGE NEAR-MISS — q345's batch-vs-corpus posture on
    * the image tier: an arriving batch's distinct aHash values are
    * probed against the PERSISTED corpus value index through the same
    * [[BandedHamming]] cross-corpus banding (batch `_a` side, corpus
    * `_b` side, no lexicographic dedup — distinct universes).
    * hMin = 0: an exact value hit against the index is the strongest
    * admission signal, and the tolerant tier (1–3 flipped bits)
    * catches the re-encoded copies exact hashing misses. The cost is
    * O(batch values × bucket occupancy) — the corpus is never
    * re-decoded and never re-paired against itself, which is the
    * entire point of incremental dedup. Oracle: the plain all-pairs
    * batch×corpus value join, so the hash match proves the banded
    * cross-corpus candidates are complete. */
  val qImageNearDupBatch: GraftQuery = GraftQuery(
    "q349_image_neardup_batch",
    s"""WITH $imageAHashCtes,
       |bvals AS (
       |  SELECT ahash_hi, ahash_lo, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM ah WHERE doc_id % 5 = 4 GROUP BY ahash_hi, ahash_lo),
       |cvals AS (
       |  SELECT ahash_hi, ahash_lo, CAST(COUNT(*) AS BIGINT) AS n_docs
       |  FROM ah WHERE doc_id % 5 <> 4 GROUP BY ahash_hi, ahash_lo)
       |SELECT b.ahash_hi AS hi_batch, b.ahash_lo AS lo_batch,
       |  c.ahash_hi AS hi_corpus, c.ahash_lo AS lo_corpus,
       |  CAST(CAST(bit_count(xor(b.ahash_hi, c.ahash_hi)) AS INTEGER) +
       |       CAST(bit_count(xor(b.ahash_lo, c.ahash_lo)) AS INTEGER)
       |    AS INTEGER) AS hamming,
       |  b.n_docs AS n_docs_batch, c.n_docs AS n_docs_corpus
       |FROM bvals b JOIN cvals c
       |  ON CAST(bit_count(xor(b.ahash_hi, c.ahash_hi)) AS INTEGER) +
       |     CAST(bit_count(xor(b.ahash_lo, c.ahash_lo)) AS INTEGER)
       |     <= $videoHammingMax
       |ORDER BY hi_batch, lo_batch, hi_corpus, lo_corpus""".stripMargin) {
    (s, d) =>
    imageProbeOut(imageTier.batchProbe(s, d, imageTier.corpusIndex(s, d)))
  }

  /** q349's output contract over an image batch probe — shared with
    * q356, which probes the stream-maintained index instead. */
  private[graft] def imageProbeOut(
      probe: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    probe.select(col("ahash_hi_a").as("hi_batch"),
        col("ahash_lo_a").as("lo_batch"),
        col("ahash_hi_b").as("hi_corpus"),
        col("ahash_lo_b").as("lo_corpus"), col("hamming"),
        col("n_docs_a").as("n_docs_batch"),
        col("n_docs_b").as("n_docs_corpus"))
      .orderBy("hi_batch", "lo_batch", "hi_corpus", "lo_corpus")

  /** doc_id relation → aHash rows — the featurize half of the image
    * census, shared by the batch splits and the streaming maintainer. */
  private[graft] def imageAHashesFromDocs(docs: DataFrame): DataFrame =
    decodeAHashes(pngRows(docs)).toDF()

  /** Oracle SQL for the corpus half of the q349 split — also the
    * oracle of the STREAMING census maintenance (q355), which must
    * drain to this exact relation under any arrival slicing. */
  private[graft] def imageCorpusCensusSql: String =
    s"""WITH $imageAHashCtes
       |SELECT ahash_hi, ahash_lo, CAST(COUNT(*) AS BIGINT) AS n_docs
       |FROM ah WHERE doc_id % 5 <> 4
       |GROUP BY ahash_hi, ahash_lo
       |ORDER BY ahash_hi, ahash_lo""".stripMargin

  def all: Seq[GraftQuery] =
    Seq(qBinaryMeta, qMediaFeatures, qImageDecode, qImageResize, qAudioDecode,
      qVideoDecode, qImageAHash, qAudioFingerprint, qCrossModalDedup,
      qVideoFingerprint, qVideoNearDup, qImageNearDup, qAudioNearDup,
      qVideoNearDupWide, qImageNearDupClusters, qAudioNearDupClusters,
      qVideoNearDupWideClusters, qImageNearDupBatch, qAudioNearDupBatch,
      qVideoNearDupWideBatch)
}
