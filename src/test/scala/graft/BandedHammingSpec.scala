package graft

import graft.operators.BandedHamming
import org.apache.spark.sql.functions._

/** Pins the ONE parameterized banded-hamming operator behind the
  * q331/q334/q335/q336/q337 near-miss tiers: pigeonhole losslessness
  * under ADVERSARIAL flip placement (all flips inside a single
  * sub-band — the worst case for banding), exact hMin/hMax
  * boundaries, multi-word fingerprints, and the informative-band
  * masking contract for variable-width fingerprints. */
class BandedHammingSpec extends SparkSpecBase {

  private def brute(vals: Seq[Long], hMax: Int): Set[(Long, Long, Int)] =
    (for {
      a <- vals; b <- vals if a < b
      h = java.lang.Long.bitCount(a ^ b)
      if h >= 1 && h <= hMax
    } yield (a, b, h)).toSet

  private def run64(vals: Seq[Long], hMax: Int): Set[(Long, Long, Int)] = {
    import spark.implicits._
    val df = vals.toDF("fp")
    BandedHamming.nearMissPairs(df,
      idCols = Seq("fp"), fpCols = Seq("fp"),
      bandExprs = BandedHamming.fixedBands(col("fp"), 4, 16),
      hMax = hMax)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  test("pigeonhole at the WIDE width: adversarial flips inside one 16-bit band are lossless at h <= 3") {
    // the worst case for banding is every flipped bit inside ONE
    // sub-band: the other three bands must still collide. Build, for
    // each h in 1..3 and each of the four bands, a planted pair whose
    // h flips all land in that band.
    val rnd = new scala.util.Random(42)
    val bases = Seq.fill(6)(rnd.nextLong())
    val planted = scala.collection.mutable.ArrayBuffer[Long]()
    planted ++= bases
    for (base <- bases.take(3); band <- 0 until 4; h <- 1 to 3) {
      val positions = rnd.shuffle((0 until 16).toList).take(h)
        .map(p => band * 16 + p)
      planted += positions.foldLeft(base)((v, p) => v ^ (1L << p))
    }
    // spread case: h flips across h DIFFERENT bands
    for (base <- bases.drop(3); h <- 1 to 3) {
      val positions = rnd.shuffle((0 until 4).toList).take(h)
        .map(band => band * 16 + rnd.nextInt(16))
      planted += positions.foldLeft(base)((v, p) => v ^ (1L << p))
    }
    val vals = planted.distinct.toSeq
    val got = run64(vals, hMax = 3)
    val want = brute(vals, hMax = 3)
    assert(got == want,
      s"missed ${(want -- got).size} pairs / ${(got -- want).size} extra")
    assert(want.size >= 30, "the planted fixture must be non-trivial")
  }

  test("hMin/hMax boundaries are exact: h = hMax kept, h = hMax + 1 dropped, h = 0 never emitted") {
    val base = 0x0123456789abcdefL
    val at3 = base ^ 7L            // 3 flips, all in band 0
    val at4 = base ^ 15L           // 4 flips, all in band 0
    val got = run64(Seq(base, at3, at4), hMax = 3)
    assert(got.contains((math.min(base, at3), math.max(base, at3), 3)))
    assert(!got.exists(p => Set(p._1, p._2) == Set(base, at4)))
    // at3 vs at4 differ in 1 bit — included; and no self-pairs at h=0
    assert(got.contains((math.min(at3, at4), math.max(at3, at4), 1)))
    assert(got.forall(p => p._3 >= 1 && p._3 <= 3))
  }

  test("multi-word fingerprints: hamming sums across words, lex order over idCols emits each pair once") {
    import spark.implicits._
    // (hi, lo) pairs; flips split across the two words
    val a = (0x5555L, 0xaaaaL)
    val b = (0x5554L, 0xaaabL) // 1 flip in hi + 1 in lo = hamming 2
    val c = (0x5555L, 0xaaaaL ^ 0xfL) // 4 flips in lo — over the bound
    val df = Seq(a, b, c).toDF("hi", "lo")
    val got = BandedHamming.nearMissPairs(df,
      idCols = Seq("hi", "lo"), fpCols = Seq("hi", "lo"),
      bandExprs = BandedHamming.fixedBands(col("hi"), 2, 16) ++
        BandedHamming.fixedBands(col("lo"), 2, 16),
      hMax = 3)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(2)), (r.getLong(1), r.getLong(3)),
        r.getInt(4)))
    assert(got.length == 1)
    val (pa, pb, h) = got.head
    assert(Set(pa, pb) == Set(a, b) && h == 2)
    // lex order: the _a side is strictly smaller under (hi, lo)
    assert(pa._1 < pb._1 || (pa._1 == pb._1 && pa._2 < pb._2))
  }

  test("variable-width fingerprints: eqKeys partition the space and informativeBand masks padding losslessly") {
    import spark.implicits._
    // the q336 shape in miniature: (n, w0, w1) where n = 1 rows carry
    // w1 = 0 padding. Banding: two 16-bit bands per word, band_idx
    // 0..1 from w0, 2..3 from w1; informative iff band_idx < 2n.
    val rows = Seq(
      (1, 0x00001111L, 0L), // A
      (1, 0x00001110L, 0L), // B: hamming 1 from A — must be found
      (1, 0x7fff1111L, 0L), // C: far from A in w0, padding w1 equal
      (2, 0x00001111L, 0x22220000L), // D: same w0 as A but n differs
      (2, 0x00001111L, 0x22220001L)  // E: hamming 1 from D at n = 2
    ).toDF("n", "w0", "w1")
    val got = BandedHamming.nearMissPairs(rows,
      idCols = Seq("w0", "w1"), fpCols = Seq("w0", "w1"),
      bandExprs = BandedHamming.fixedBands(col("w0"), 2, 16) ++
        BandedHamming.fixedBands(col("w1"), 2, 16),
      eqKeys = Seq("n"),
      informativeBand = Some(col("band_idx") < col("n") * 2),
      hMax = 3)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getInt(5))).toSet
    // found: A-B (padding bands masked, yet the w0 bands carry them)
    // and D-E; NOT A-D/A-E (different n — never compared even though
    // w0 matches), NOT A-C (verified hamming 15 in w0 — and their
    // shared all-zero w1 PADDING bands are masked, so the only
    // candidate route is the genuinely matching w0 band)
    assert(got == Set(
      (1, 0x00001110L, 0x00001111L, 0L, 0L, 1),
      (2, 0x00001111L, 0x00001111L, 0x22220000L, 0x22220001L, 1)))
  }

  test("operator refuses a band count that cannot be lossless") {
    import spark.implicits._
    val df = Seq(1L, 2L).toDF("fp")
    intercept[IllegalArgumentException] {
      BandedHamming.nearMissPairs(df, Seq("fp"), Seq("fp"),
        BandedHamming.fixedBands(col("fp"), 3, 16), hMax = 3)
    }
  }

  // ---- the band-bucket occupancy guard ------------------------------

  /** Adversarially LOW-ENTROPY fixture: 8 bands × 8 bits where band 0
    * (the low byte) is CONSTANT across every value — its single bucket
    * holds the whole relation, the silent-quadratic shape the guard
    * exists for. Planted near pairs put flips in single bands
    * (including the saturated one) so losslessness is non-trivial. */
  private def lowEntropyVals(n: Int): Seq[Long] = {
    val rnd = new scala.util.Random(7)
    val bases = Seq.fill(n)((rnd.nextLong() & ~0xffL) | 0xaaL)
    val planted = scala.collection.mutable.ArrayBuffer[Long]()
    planted ++= bases
    for (base <- bases.take(6); band <- 0 until 8; h <- 1 to 3) {
      val positions = rnd.shuffle((0 until 8).toList).take(h)
        .map(p => band * 8 + p)
      planted += positions.foldLeft(base)((v, p) => v ^ (1L << p))
    }
    planted.distinct.toSeq
  }

  private def run8x8(vals: Seq[Long], maxBucketRows: Long,
      onScheme: BandedHamming.Scheme => Unit): Set[(Long, Long, Int)] = {
    import spark.implicits._
    BandedHamming.nearMissPairs(vals.toDF("fp"),
      idCols = Seq("fp"), fpCols = Seq("fp"),
      bandExprs = BandedHamming.fixedBands(col("fp"), 8, 8),
      hMax = 3, maxBucketRows = maxBucketRows, onScheme = onScheme)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
  }

  test("occupancy guard escalates a saturated band to two-band conjunction, losslessly") {
    val vals = lowEntropyVals(24)
    val want = brute(vals, hMax = 3)
    assert(want.size >= 40, "the planted fixture must be non-trivial")
    var schemes = List.empty[BandedHamming.Scheme]
    // default threshold: band 0's bucket (~everything) stays under
    // 8192, so the plain single-band scheme runs — and is lossless
    val single = run8x8(vals, 8192L, s => schemes ::= s)
    assert(schemes == List(BandedHamming.SingleBand))
    assert(single == want)
    // tight threshold: band 0's bucket (~150 rows) trips the census;
    // the conjunction buckets (pairs of band values, ≤ ~40 rows) fit —
    // the operator must escalate and STILL find every pair
    schemes = Nil
    val conj = run8x8(vals, 64L, s => schemes ::= s)
    assert(schemes == List(BandedHamming.TwoBandConjunction),
      s"expected conjunction escalation, got $schemes")
    assert(conj == want,
      s"conjunction missed ${(want -- conj).size} pairs / " +
        s"${(conj -- want).size} extra")
  }

  test("occupancy guard refuses loudly when too few bands for conjunction") {
    import spark.implicits._
    // 4 bands at hMax 3: single-band pigeonhole holds, but conjunction
    // needs hMax+2 = 5 — a tripped census must refuse, never go lossy
    val vals = lowEntropyVals(24).toDF("fp")
    val e = intercept[IllegalArgumentException] {
      BandedHamming.nearMissPairs(vals, Seq("fp"), Seq("fp"),
        BandedHamming.fixedBands(col("fp"), 4, 16),
        hMax = 3, maxBucketRows = 8L)
    }
    assert(e.getMessage.contains("cannot escalate"))
  }

  test("occupancy guard refuses loudly when conjunction buckets are still saturated") {
    import spark.implicits._
    // bands 0 AND 1 both constant: the (0,1) conjunction bucket holds
    // the whole relation too — banding cannot index this space
    val rnd = new scala.util.Random(11)
    val vals = Seq.fill(24)((rnd.nextLong() & ~0xffffL) | 0xaaaaL)
      .distinct.toDF("fp")
    val e = intercept[IllegalArgumentException] {
      BandedHamming.nearMissPairs(vals, Seq("fp"), Seq("fp"),
        BandedHamming.fixedBands(col("fp"), 8, 8),
        hMax = 3, maxBucketRows = 8L)
    }
    assert(e.getMessage.contains("still exceeds"))
  }

  test("occupancy guard refuses escalation when a row has too few informative bands") {
    import spark.implicits._
    // one row's informative prefix is only 4 bands (= hMax+1): single
    // is lossless for it, conjunction would be LOSSY — refuse
    val rnd = new scala.util.Random(13)
    val rows = (Seq.fill(15)(((rnd.nextLong() & ~0xffL) | 0xaaL, 8)) :+
      (0xaaL, 4)).toDF("fp", "k")
    val e = intercept[IllegalArgumentException] {
      BandedHamming.nearMissPairs(rows, Seq("fp"), Seq("fp"),
        BandedHamming.fixedBands(col("fp"), 8, 8),
        informativeBand = Some(col("band_idx") < col("k")),
        hMax = 3, maxBucketRows = 4L)
    }
    assert(e.getMessage.contains("LOSSY"))
  }

  test("cross-corpus form stays complete under conjunction escalation") {
    import spark.implicits._
    val all = lowEntropyVals(24)
    val (batch, corpus) = all.splitAt(8)
    val want = (for {
      a <- batch; b <- corpus
      h = java.lang.Long.bitCount(a ^ b)
      if h <= 3
    } yield (a, b, h)).toSet
    assert(want.nonEmpty)
    var schemes = List.empty[BandedHamming.Scheme]
    val got = BandedHamming.nearMissPairs(batch.toDF("fp"),
      idCols = Seq("fp"), fpCols = Seq("fp"),
      bandExprs = BandedHamming.fixedBands(col("fp"), 8, 8),
      hMin = 0, hMax = 3, rowsB = Some(corpus.toDF("fp")),
      maxBucketRows = 64L, onScheme = s => schemes ::= s)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(schemes == List(BandedHamming.TwoBandConjunction))
    assert(got == want,
      s"missed ${(want -- got).size} pairs / ${(got -- want).size} extra")
  }

  test("row contract: duplicate idCols rows are refused loudly") {
    import spark.implicits._
    val dup = Seq((1L, 10L), (1L, 20L), (2L, 30L)).toDF("fp", "n_docs")
    val e = intercept[IllegalArgumentException] {
      BandedHamming.nearMissPairs(dup, Seq("fp"), Seq("fp"),
        BandedHamming.fixedBands(col("fp"), 4, 16),
        carry = Seq("n_docs"), hMax = 3)
    }
    assert(e.getMessage.contains("row contract"))
  }

  // ---- persisted guard statistics ------------------------------------

  /** The 8×8-band scheme every guard fixture uses, as a [[BandScheme]]
    * so the stats tests exercise the production entry points. */
  private def scheme8x8 = BandedHamming.BandScheme(
    idCols = Seq("fp"), fpCols = Seq("fp"),
    bandExprs = BandedHamming.fixedBands(col("fp"), 8, 8), hMax = 3)

  test("persisted stats reproduce fresh-census decisions and results on the adversarial fixtures") {
    import spark.implicits._
    val vals = lowEntropyVals(24)
    val df = vals.toDF("fp")
    val stats = scheme8x8.stats(df)
    // the stats ARE the decision inputs: both thresholds of the
    // escalation fixture must select the same scheme and the same
    // pair set as the fresh censuses
    for (threshold <- Seq(8192L, 64L)) {
      var freshSchemes = List.empty[BandedHamming.Scheme]
      var preSchemes = List.empty[BandedHamming.Scheme]
      val fresh = run8x8(vals, threshold, s => freshSchemes ::= s)
      val pre = BandedHamming.nearMissPairs(df,
        idCols = Seq("fp"), fpCols = Seq("fp"),
        bandExprs = BandedHamming.fixedBands(col("fp"), 8, 8),
        hMax = 3, maxBucketRows = threshold, onScheme = s => preSchemes ::= s,
        rowsStats = Some(stats))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(preSchemes == freshSchemes,
        s"threshold $threshold: fresh chose $freshSchemes, stats chose $preSchemes")
      assert(pre == fresh)
    }
    // the still-saturated refusal fires identically from persisted
    // stats (bands 0 and 1 constant — conjunction cannot help)
    val rnd = new scala.util.Random(11)
    val sat = Seq.fill(24)((rnd.nextLong() & ~0xffffL) | 0xaaaaL)
      .distinct.toDF("fp")
    val satStats = scheme8x8.stats(sat)
    val e = intercept[IllegalArgumentException] {
      scheme8x8.pairs(sat, rowsStats = Some(satStats), maxBucketRows = 8L)
    }
    assert(e.getMessage.contains("still exceeds"))
  }

  test("layout-mismatched persisted stats are refused, not silently trusted") {
    import spark.implicits._
    val df = lowEntropyVals(24).toDF("fp")
    val stats = scheme8x8.stats(df)
    // same relation, different banding (16x4): the stats no longer
    // describe these buckets — trusting them would silently disable
    // the occupancy guard, so the call must refuse
    val e = intercept[IllegalArgumentException] {
      BandedHamming.nearMissPairs(df, idCols = Seq("fp"), fpCols = Seq("fp"),
        bandExprs = BandedHamming.fixedBands(col("fp"), 16, 4),
        hMax = 3, rowsStats = Some(stats))
    }
    assert(e.getMessage.contains("layout"))
  }

  test("cross-corpus probe with a persisted corpus-side census schedules no corpus aggregates") {
    import spark.implicits._
    val all = lowEntropyVals(24)
    val (batchVals, corpusVals) = all.splitAt(8)
    val corpus = corpusVals.toDF("fp").localCheckpoint()
    val batch = batchVals.toDF("fp").localCheckpoint()
    // index-build time: corpus stats computed once, persisted with it
    val corpusStats = scheme8x8.stats(corpus)
    val batchStats = scheme8x8.stats(batch)
    // probe time: with BOTH sides' stats supplied, construction is
    // fully lazy — zero Spark jobs until the pair relation is acted on
    val (probe, jobs) = org.apache.spark.sql.graftshim.ListenerSync
      .countJobs(spark.sparkContext) {
        scheme8x8.pairs(batch, hMin = 0, rowsB = Some(corpus),
          rowsStats = Some(batchStats), rowsBStats = Some(corpusStats))
      }
    assert(jobs == 0, s"probe construction with persisted stats ran $jobs jobs")
    // and the probe answer equals the fresh-census cross-corpus run
    val want = (for {
      a <- batchVals; b <- corpusVals
      h = java.lang.Long.bitCount(a ^ b)
      if h <= 3
    } yield (a, b, h)).toSet
    val got = probe.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got == want)
  }

  test("empty batch side against a saturating corpus returns the empty pair set, not an NPE") {
    import spark.implicits._
    val corpus = lowEntropyVals(24).toDF("fp")
    val batch = Seq.empty[Long].toDF("fp")
    // threshold 64 trips the corpus census → escalation consults the
    // per-row informative minimum of the EMPTY batch side (MIN over
    // zero groups — the round-11 NPE shape); vacuously lossless, so
    // conjunction runs and finds nothing
    var schemes = List.empty[BandedHamming.Scheme]
    val got = BandedHamming.nearMissPairs(batch,
      idCols = Seq("fp"), fpCols = Seq("fp"),
      bandExprs = BandedHamming.fixedBands(col("fp"), 8, 8),
      hMin = 0, hMax = 3, rowsB = Some(corpus),
      maxBucketRows = 64L, onScheme = s => schemes ::= s)
    assert(schemes == List(BandedHamming.TwoBandConjunction))
    assert(got.count() == 0L)
  }
}
