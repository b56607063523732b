package graft

import graft.operators.{Dedup, MinHashScheme, StarComponents}
import graft.functions.TextFunctions
import graft.models.TaxiModels
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class DedupSpec extends SparkSpecBase {
  import spark.implicits._

  /** Deterministic property driver (no scalatestplus bridge offline):
    * evaluate `gen` across fixed seeds. */
  private def forAllSeeded[A](gen: Gen[A], n: Int = 20)(check: A => Unit): Unit =
    (0 until n).foreach { i =>
      gen.apply(Gen.Parameters.default, Seed(i.toLong)).foreach(check)
    }

  test("identical shingle sequences collide in LSH bands; unrelated docs don't") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"), // exact sequence dup
      (2L, "zeta eta theta iota kappa"),
      (3L, "epsilon delta gamma beta alpha")) // same WORDS, different order
      .toDF("doc_id", "text")
    val pairs = Dedup.candidatePairs(docs).collect()
    // shingle-based: word-reorder (doc 3) is NOT a near-dup
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet === Set((0L, 1L)))
  }

  test("shingles: 3-gram sequences, short docs collapse to one shingle") {
    val got = Seq(("a b c d", "x y")).toDF("t", "short")
      .select(Dedup.shingles(col("t")), Dedup.shingles(col("short"))).first()
    assert(got.getSeq[String](0) === Seq("a b c", "b c d"))
    assert(got.getSeq[String](1) === Seq("x y"))
  }

  test("jaccard verification over shingle sets") {
    val docs = Seq(
      (0L, "a b c d e"),       // shingles: abc,bcd,cde
      (1L, "a b c d e"),       // identical → 1.0
      (2L, "a b c x y"))       // shingles: abc,bcx,cxy → inter 1, union 5
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    val j = Dedup.withJaccard(pairs, docs).orderBy("doc_b").collect()
    assert(j(0).getAs[Double]("jaccard") === 1.0)
    assert(j(1).getAs[Double]("jaccard") === 0.2)
  }

  test("q201: containment catches the short-inside-long pair that jaccard rejects") {
    // doc 0's text is fully quoted inside doc 1's much longer page:
    // every shingle of 0 appears in 1, but jaccard is far below 0.9
    val short = "a b c d e f g h"
    val long = s"$short " + (1 to 30).map(i => s"z$i").mkString(" ")
    val docs = Seq((0L, short), (1L, long), (2L, "p q r s t"))
      .toDF("doc_id", "text")
    val pairs = Seq((0L, 1L), (0L, 2L)).toDF("doc_a", "doc_b")
    val scored = Dedup.containmentScored(pairs, Dedup.shingleSets(docs))
      .withColumn("cont_small",
        col("n_inter").cast("double") / least(col("n_a"), col("n_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getInt(2), r.getInt(3), r.getInt(4), r.getDouble(5)))).toMap
    val (nInter, nA, nB, contSmall) = scored((0L, 1L))
    assert(nInter === nA, "every short-side shingle must be covered")
    assert(contSmall === 1.0)
    // symmetric jaccard on the same pair is n_inter / n_union < 0.9
    assert(nInter.toDouble / (nA + nB - nInter) < 0.9,
      "the planted pair must be one q28's jaccard rule rejects")
    // unrelated pair: zero containment
    assert(scored((0L, 2L))._1 === 0)
  }

  test("simhash: near-identical token sets have small hamming distance, disjoint large") {
    val df = Seq(
      (0L, Seq("spark", "join", "merge", "stream", "batch", "row", "col", "scan")),
      (1L, Seq("spark", "join", "merge", "stream", "batch", "row", "col", "sort")),
      (2L, Seq("zebra", "yak", "xerus", "wombat", "vole", "uakari", "tapir", "sloth")))
      .toDF("doc_id", "toks")
      .select(col("doc_id"), Dedup.simhash64(col("toks")).as("h"))
    val h = df.orderBy("doc_id").collect().map(_.getLong(1))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(h(0), h(1)) < ham(h(0), h(2)))
    assert(ham(h(0), h(1)) <= 16)
  }

  test("simhash_md5 native expression matches the composed built-ins form exactly") {
    val df = Seq(
      (0L, Seq("spark", "join", "merge", "stream", "batch", "row", "col", "scan")),
      (1L, Seq("alpha")),
      (2L, Seq("a", "b", "a", "")), // dup + empty tokens
      (3L, Seq[String]()))          // empty set → all votes -1 → 0
      .toDF("doc_id", "toks")
    val got = df.select(
      col("doc_id"),
      org.apache.spark.sql.graftshim.SimHashMd5(col("toks")).as("native"),
      Dedup.simhash64Composed(col("toks")).as("composed"))
      .orderBy("doc_id").collect()
    got.foreach(r => assert(r.getLong(1) === r.getLong(2), s"doc ${r.getLong(0)}"))
    assert(got(3).getLong(1) === 0L)
  }

  test("simhash_md5: single token equals its own 60-bit md5 value") {
    // one token → every set bit of hash60 wins its vote 1:0
    val tok = "hello"
    val expected = java.lang.Long.parseLong(
      java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes("UTF-8")).take(8)
        .map(b => f"${b & 0xff}%02x").mkString.take(15), 16)
    val got = Seq(Seq(tok)).toDF("toks")
      .select(org.apache.spark.sql.graftshim.SimHashMd5(col("toks"))).first().getLong(0)
    assert(got === expected)
  }

  test("connected components: chains collapse to min label, disjoint clusters stay apart") {
    // chain 1-2-3-4 (via consecutive pairs) + separate pair 10-11
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val (labels, _) = StarComponents.connectedComponentsStar(pairs)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    labels.unpersist()
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("property: components equal brute-force union-find on random graphs") {
    val rnd = new scala.util.Random(11)
    (0 until 5).foreach { _ =>
      val edges = (0 until 12).map(_ => (rnd.nextInt(16).toLong, rnd.nextInt(16).toLong))
        .filter { case (a, b) => a != b }
        .map { case (a, b) => (math.min(a, b), math.max(a, b)) }.distinct
      val parent = scala.collection.mutable.Map((0L to 15L).map(n => n -> n): _*)
      def find(x: Long): Long = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // canonical label = min node id in the component
      val expected = nodes.map { n =>
        val root = find(n)
        n -> nodes.filter(m => find(m) == root).min
      }.toMap
      val (labels, _) = StarComponents.connectedComponentsStar(edges.toDF("doc_a", "doc_b"))
      val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      labels.unpersist()
      assert(got === expected)
    }
  }

  test("fused shingle set equals the composed form element-for-element") {
    forAllSeeded(Gen.listOf(Gen.oneOf(Gen.const(null: String),
        Gen.oneOf("a", "bb", "ccc", "d", ""))), n = 20) { toksList =>
      val df = Seq(Tuple1(toksList)).toDF("__toks")
      val got = df.select(
        Dedup.shinglesFromToks(col("__toks")).as("fused"),
        Dedup.shinglesFromToksComposed(col("__toks")).as("composed")).first()
      assert(got.getSeq[String](0) === got.getSeq[String](1), s"toks=$toksList")
    }
  }

  test("fused banding expression equals the composed pipeline on edge-case corpora") {
    val docs = Seq(
      (0L, "alpha beta gamma delta epsilon"),
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta"),   // exactly width tokens → one shingle
      (3L, "one two"),          // fewer than width → one short shingle
      (4L, "solo"),             // single token
      (5L, ""),                 // empty text → [""] token
      (6L, "x y x y x y"),      // duplicate shingles
      (7L, "Mixed CASE text Mixed CASE text here"))
      .toDF("doc_id", "text")
    for (sch <- Seq(MinHashScheme.default, MinHashScheme(8, 4), MinHashScheme(12, 3))) {
      val fused = Dedup.docBands(docs, sch).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val composed = Dedup.docBandsComposed(docs, sch).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      assert(fused === composed, s"scheme $sch")
    }
    // property: random token multisets (with nulls) agree too
    forAllSeeded(Gen.listOf(Gen.oneOf(Gen.const(null: String),
        Gen.oneOf("a", "bb", "ccc", "dd d", ""))), n = 15) { toksList =>
      val df = Seq(Tuple1(toksList)).toDF("__toks")
        .select(lit(1L).as("doc_id"), col("__toks"))
      val fused = df.select(org.apache.spark.sql.graftshim.MinHashBandHashes(
        col("__toks"), 4, 2, 3)).first().getSeq[String](0)
      val composed = df.select(
          Dedup.shinglesFromToks(col("__toks")).as("sh"))
        .select(transform(col("sh"), w => md5(w)).as("m"))
        .select((0 until 2).map(b =>
          md5(concat_ws("|",
            array_min(transform(col("m"), x => substring(x, 8 * (b * 2) + 1, 8))),
            array_min(transform(col("m"), x => substring(x, 8 * (b * 2 + 1) + 1, 8)))))
            .as(s"b$b")): _*)
        .first()
      assert(fused === Seq(composed.getString(0), composed.getString(1)))
    }
  }

  test("parameterized schemes: 8x4 bands produce 4 band rows per doc, default unchanged") {
    val docs = Seq((0L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val def4 = Dedup.docBands(docs).collect()
    assert(def4.map(_.getInt(1)).sorted.toSeq === Seq(0, 1))
    val got8 = Dedup.docBands(docs, MinHashScheme(8, 4)).collect()
    assert(got8.map(_.getInt(1)).sorted.toSeq === Seq(0, 1, 2, 3))
    // band 0 of the 8x4 scheme uses the same two hash slices as band 0
    // of the default scheme (digest 0, slices 0-1) → identical hash
    val d0 = def4.find(_.getInt(1) == 0).get.getString(2)
    val g0 = got8.find(_.getInt(1) == 0).get.getString(2)
    assert(d0 === g0)
  }

  /** Measured LSH recall matches the S-curve P(candidate) = 1-(1-j^r)^b.
    * Plants pairs across the jaccard range by perturbing a controlled
    * number of tokens, computes each pair's TRUE shingle jaccard, and
    * checks the observed candidate frequency in high-j and mid-j bands
    * against the scheme's predicted mean ± 4σ (binomial). Also: the
    * steeper 8x4 scheme must recall at least as much as 4x2 minus
    * sampling noise on the same corpus. */
  test("property: LSH candidate recall tracks the banding S-curve for both schemes") {
    val rnd = new scala.util.Random(7)
    val vocab = Array.tabulate(4000)(i => s"w$i")
    val nPairs = 120
    val docLen = 24
    val docs = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val pairIds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    (0 until nPairs).foreach { p =>
      val base = Seq.fill(docLen)(vocab(rnd.nextInt(vocab.length)))
      // perturb 0..6 token positions → jaccard from 1.0 down to ~0.4
      val nEdits = rnd.nextInt(7)
      val editPos = rnd.shuffle((0 until docLen).toList).take(nEdits).toSet
      val dup = base.zipWithIndex.map { case (t, i) =>
        if (editPos(i)) vocab(rnd.nextInt(vocab.length)) else t
      }
      val (ida, idb) = (2L * p, 2L * p + 1)
      docs += ((ida, base.mkString(" "))); docs += ((idb, dup.mkString(" ")))
      pairIds += ((ida, idb))
    }
    val df = docs.toSeq.toDF("doc_id", "text")
    // true shingle jaccard per planted pair, computed exactly in Scala
    def shingleSet(s: String): Set[String] =
      s.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val textOf = docs.toMap
    val trueJ = pairIds.map { case (a, b) =>
      val (sa, sb) = (shingleSet(textOf(a)), shingleSet(textOf(b)))
      (a, b) -> sa.intersect(sb).size.toDouble / sa.union(sb).size
    }.toMap

    def recallCheck(sch: MinHashScheme): Double = {
      val cand = Dedup.candidatePairs(df, sch).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      for (band <- Seq(("high", 0.85, 1.01), ("mid", 0.45, 0.75))) {
        val (label, lo, hi) = band
        val inBand = trueJ.filter { case (_, j) => j >= lo && j < hi }.toSeq
        val ps = inBand.map { case (_, j) => sch.candidateProb(j) }
        val n = inBand.size
        assert(n >= 10, s"degenerate fixture: only $n pairs in $label band")
        val expected = ps.sum / n
        val sigma = math.sqrt(ps.map(p => p * (1 - p)).sum) / n
        val got = inBand.count { case (pair, _) => cand(pair) }.toDouble / n
        assert(math.abs(got - expected) <= 4 * sigma + 0.02,
          s"$sch $label-j recall $got vs S-curve $expected (sigma $sigma, n=$n)")
      }
      trueJ.count { case (pair, j) => j >= 0.85 && cand(pair) }.toDouble /
        math.max(1, trueJ.count { case (_, j) => j >= 0.85 })
    }
    val recall4x2 = recallCheck(MinHashScheme.default)
    val recall8x4 = recallCheck(MinHashScheme(8, 4))
    assert(recall8x4 >= recall4x2 - 0.05,
      s"8x4 high-j recall $recall8x4 should not trail 4x2 $recall4x2")
  }

  test("agg-form dedup keeps a REAL row when the order column is all-NULL for a key") {
    val df = Seq(("k", null: java.lang.Long, "a"), ("k", null: java.lang.Long, "b"),
      ("m", 5L: java.lang.Long, "c"), ("m", null: java.lang.Long, "d"))
      .toDF("unique_id", "ord", "payload")
    val out = TaxiModels.dedupNewestAggForm(df, "unique_id", "ord")
      .collect().map(r => r.getString(0) -> Option(r.getString(2))).toMap
    assert(out("k").isDefined, "all-NULL order key must still keep a real row")
    assert(out("m") === Some("c")) // non-null order value wins over null
  }

  test("property: agg-form dedup always yields unique keys and preserves key set") {
    forAllSeeded(Gen.nonEmptyListOf(Gen.chooseNum(0, 9)), n = 10) { ks =>
      val df = ks.zipWithIndex.map { case (k, i) => (k.toString, i.toLong) }
        .toDF("unique_id", "ord")
      val out = TaxiModels.dedupNewestAggForm(df, "unique_id", "ord")
      val outKeys = out.select("unique_id").as[String].collect().toSeq
      assert(outKeys.distinct.size === outKeys.size)
      assert(outKeys.toSet === ks.map(_.toString).toSet)
    }
  }

  test("property: md5 surrogate key is deterministic, 32-hex, null-stable") {
    forAllSeeded(Gen.zip(Gen.option(Gen.alphaNumStr), Gen.option(Gen.alphaNumStr)), n = 10) {
      case (a, b) =>
        val df = Seq((a.orNull, b.orNull)).toDF("x", "y")
        val cols = Seq(col("x"), col("y"))
        val k1 = df.select(TaxiModels.uniqueId(cols)).first().getString(0)
        val k2 = df.select(TaxiModels.uniqueId(cols)).first().getString(0)
        assert(k1 === k2)
        assert(k1.length === 32)
        assert(k1.forall(c => c.isDigit || ('a' to 'f').contains(c)))
    }
  }

  test("bucket guard: degenerate boilerplate corpus yields bounded pair counts") {
    import spark.implicits._
    // 400 identical boilerplate docs (one shingle set → one bucket per
    // band) + 20 normal docs: unguarded pair volume is quadratic
    val boiler = (0 until 400).map(i => (i.toLong, "lorem ipsum dolor sit amet " * 3))
    val normal = (400 until 420).map(i => (i.toLong, s"unique document number $i with words ${i * 7} ${i * 13}"))
    val docs = (boiler ++ normal).toDF("doc_id", "text")
    val bands = Dedup.docBands(docs)
    val cap = 50
    val guarded = Dedup.candidatePairsFromBands(bands, cap).count()
    val unguarded = Dedup.candidatePairsFromBands(bands, Int.MaxValue).count()
    assert(unguarded >= 400L * 399 / 2) // the quadratic flood is real
    // each oversize bucket contributes at most ~size·cap/2 pairs
    assert(guarded <= 400L * cap / 2 + 100,
      s"guarded=$guarded not bounded by size*cap/2")
    assert(guarded < unguarded / 3)
    // the report surfaces exactly the flooded buckets
    val report = Dedup.oversizeBucketReport(bands, cap).collect()
    assert(report.nonEmpty)
    assert(report.forall(_.getAs[Long]("bsize") === 400L))
  }

  test("bucket guard is a no-op on normal data (guarded == unguarded pair set)") {
    val docs = graft.sources.Tables.documents(spark, sf001)
    val bands = Dedup.docBands(docs)
    def pairSet(cap: Int) = Dedup.candidatePairsFromBands(bands, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet(Dedup.defaultBucketCap) === pairSet(Int.MaxValue))
    assert(Dedup.oversizeBucketReport(bands).count() === 0)
  }

  test("cross-corpus bucket guard: an arriving flood against an already-flooded corpus stays linear, and is a no-op on normal data") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the q94 ingest shape under attack: the corpus already holds 300
    // copies of one boilerplate doc, and today's batch delivers 100
    // more — one band bucket, 100×300 candidates unguarded
    val boilerCorpus = (0 until 300).map(i =>
      (i.toLong, "lorem ipsum dolor sit amet " * 3))
    val boilerBatch = (1000 until 1100).map(i =>
      (i.toLong, "lorem ipsum dolor sit amet " * 3))
    val corpusBands = Dedup.docBands(boilerCorpus.toDF("doc_id", "text"))
    val batchBands = Dedup.docBands(boilerBatch.toDF("doc_id", "text"))
    val cap = 50
    val guarded =
      Dedup.crossCorpusCandidates(batchBands, corpusBands, cap).count()
    val unguarded =
      Dedup.crossCorpusCandidates(batchBands, corpusBands, Int.MaxValue).count()
    assert(unguarded === 100L * 300, "the cross-corpus flood is quadratic")
    // min side 100 > cap → ⌈100/50⌉ = 2 salt groups and the yield is
    // EXACTLY Σ_g batch_g·corpus_g under the operator's own salt rule
    // (murmur3 doc-id hash mod 2). The idealized even-split bound
    // cap·max_side does NOT hold: uneven hash splits exceed it by the
    // imbalance product (the round-12 deterministic failure — 15024 >
    // 15000 here), so the spec computes the exact expectation from the
    // planted ids instead of asserting a constant
    val nGroups = 2L
    def saltCensus(ids: Seq[Long]): Map[Long, Long] = ids.toDF("doc_id")
      .select(pmod(hash(col("doc_id")).cast("long"), lit(nGroups)).as("g"))
      .groupBy("g").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bG = saltCensus(boilerBatch.map(_._1))
    val cG = saltCensus(boilerCorpus.map(_._1))
    val expected = (0L until nGroups)
      .map(g => bG.getOrElse(g, 0L) * cG.getOrElse(g, 0L)).sum
    assert(guarded === expected,
      s"guarded=$guarded != exact per-salt-group yield $expected")
    // linearity with hash-split slack: each group is a binomial split,
    // so the yield stays O(cap·max_side) — assert with 2x headroom
    assert(guarded <= 2L * 300L * cap,
      s"guarded=$guarded has left the linear regime")
    assert(guarded < unguarded,
      "the two-sided flood must actually be capped")
    // observability (the r12 advice): the flooded bucket is visible,
    // with both side counts and the forfeited-pair estimate
    val xReport = Dedup.crossOversizeBucketReport(batchBands, corpusBands, cap)
      .collect()
    assert(xReport.nonEmpty, "the flooded cross bucket must be reported")
    assert(xReport.forall(r => r.getAs[Long]("n_batch") === 100L &&
      r.getAs[Long]("n_corpus") === 300L &&
      r.getAs[Long]("pairs_forfeited") === (100L * 300L - expected)))
    // ONE-SIDED bucket: a few batch docs probing a big corpus cluster
    // is already linear — the guard must NOT salt (min side ≤ cap),
    // or a batch doc's only true near-dup could land in another salt
    // group (the round-12 review's finding)
    val tinyBatch = Dedup.docBands(
      (5000 until 5005).map(i =>
        (i.toLong, "lorem ipsum dolor sit amet " * 3)).toDF("doc_id", "text"))
    val oneSided =
      Dedup.crossCorpusCandidates(tinyBatch, corpusBands, cap).count()
    assert(oneSided === 5L * 300,
      "a one-sided oversize bucket must keep every cross pair")
    // normal data: guarded == unguarded pair set (every salt is 0) —
    // the regime the q94/q364 oracles exercise
    val docs = graft.sources.Tables.documents(spark, sf001)
    val bands = Dedup.docBands(docs)
    val batch = bands.where(pmod(col("doc_id"), lit(2)) === 1)
    val corpus = bands.where(pmod(col("doc_id"), lit(2)) === 0)
    def xSet(cap: Int) = Dedup.crossCorpusCandidates(batch, corpus, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(xSet(Dedup.defaultBucketCap) === xSet(Int.MaxValue))
    // the STATED form (persisted per-bucket census, r13) is identical
    // to the window-census form in EVERY regime: same min-side
    // numbers, same salt rule — flood, one-sided, and normal
    def statedSet(b: org.apache.spark.sql.DataFrame,
        c: org.apache.spark.sql.DataFrame, cap: Int) =
      Dedup.crossCorpusCandidates(b,
        Dedup.BandIndex(c, Dedup.bandBucketCounts(c)), cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val floodWindow = Dedup.crossCorpusCandidates(batchBands, corpusBands, cap)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(statedSet(batchBands, corpusBands, cap) === floodWindow)
    assert(statedSet(tinyBatch, corpusBands, cap).size === 5 * 300)
    assert(statedSet(batch, corpus, Dedup.defaultBucketCap) ===
      xSet(Dedup.defaultBucketCap))
  }

  test("q161: the kept member really is the cluster's max-logit doc") {
    import org.apache.spark.sql.functions.col
    val reps = SparkEntry.queries("q161_cluster_representatives")(spark, sf001)
      .collect()
    assert(reps.nonEmpty)
    val members = SparkEntry.queries("q77_dedup_components")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    val logits = graft.sources.Tables.documents(spark, sf001)
      .select(col("doc_id"),
        graft.operators.QualityGate.logitOf(
          org.apache.spark.sql.graftshim.CharGramVector(
            col("text"), graft.operators.TextVector.dim)).as("logit"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val byCluster = members.groupBy(_._2)
    reps.foreach { r =>
      val (cid, kept, n) = (r.getLong(0), r.getLong(1), r.getInt(2))
      val mem = byCluster(cid).map(_._1)
      assert(mem.length === n)
      assert(mem.contains(kept))
      // argmax with (logit desc, doc_id asc) tie rule
      val best = mem.map(m => (-logits(m), m)).min._2
      assert(kept === best, s"cluster $cid kept $kept, argmax is $best")
      assert(r.getDouble(3) === logits(kept))
    }
  }

  test("q154: overlap matrix accounts for every verified pair, symmetric-normalized") {
    val matrix = SparkEntry.queries("q154_source_overlap")(spark, sf001).collect()
    val nPairs = SparkEntry.queries("q28_dedup_minhash_pairs")(spark, sf001).count()
    assert(matrix.map(_.getLong(2)).sum === nPairs,
      "matrix cells must partition the q28 pair set")
    matrix.foreach { r =>
      assert(r.getString(0) <= r.getString(1),
        s"cell (${r.getString(0)}, ${r.getString(1)}) not normalized")
      assert(r.getDouble(3) >= 0.9 && r.getDouble(4) <= 1.0)
    }
  }

  test("q168: levenshtein verify matches a driver-side DP and honors the bound") {
    val rows = SparkEntry.queries("q168_editdist_pairs")(spark, sf001).collect()
    assert(rows.nonEmpty, "sf0.001 must surface edit-near pairs")

    // independent reference DP (full O(n²) table, no banding)
    def lev(a: String, b: String): Int = {
      val prev = Array.tabulate(b.length + 1)(identity)
      val cur = new Array[Int](b.length + 1)
      for (i <- 1 to a.length) {
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        Array.copy(cur, 0, prev, 0, cur.length)
      }
      prev(b.length)
    }
    val texts = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.take(10).foreach { r =>
      val expected = lev(texts(r.getLong(0)), texts(r.getLong(1)))
      assert(r.getInt(4) === expected,
        s"banded lev ${r.getInt(4)} != reference DP $expected " +
          s"for pair (${r.getLong(0)}, ${r.getLong(1)})")
    }
    rows.foreach { r =>
      val bound = math.min(
        math.floor(Dedup.editDistRel * math.max(r.getInt(2), r.getInt(3))).toInt,
        Dedup.editDistCap)
      assert(r.getInt(4) <= bound, "pair escapes the relative bound")
      assert(r.getInt(4) >= 0, "the -1 banding sentinel escaped")
    }
  }

  test("q178: planner S-curve matches candidateProb; monotone; inflection exact") {
    val rows = SparkEntry.queries("q178_lsh_planner")(spark, sf001).collect()
    assert(rows.length === Dedup.plannerSchemes.length * 19)
    rows.foreach { r =>
      val sch = MinHashScheme(r.getInt(0), r.getInt(1))
      // the chain form vs math.pow: same values within fp slack
      val expected = sch.candidateProb(r.getDouble(3))
      assert(math.abs(r.getDouble(4) - expected) < 1e-12,
        s"$sch at j=${r.getDouble(3)}")
      // inflection^r recovers 1/b (sqrt chains are IEEE-exact)
      val inflect = r.getDouble(5)
      val back = math.pow(inflect, sch.rowsPerBand.toDouble)
      assert(math.abs(back - 1.0 / sch.bands) < 1e-12)
    }
    rows.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case (_, rs) =>
      val ps = rs.sortBy(_.getDouble(3)).map(_.getDouble(4)).toSeq
      assert(ps.zip(ps.tail).forall { case (a, b) => a <= b },
        "S-curve must be monotone in j")
    }
  }

  test("q189: pair geometry recomputes from the raw texts") {
    val rows = SparkEntry.queries("q189_dup_explain")(spark, sf001).collect()
    assert(rows.nonEmpty)
    val texts = graft.sources.Tables.documents(spark, sf001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    rows.foreach { r =>
      val (a, b) = (texts(r.getLong(0)), texts(r.getLong(1)))
      val lcpRef = a.zip(b).takeWhile { case (x, y) => x == y }.length.toLong
      val lcsRaw = a.reverse.zip(b.reverse)
        .takeWhile { case (x, y) => x == y }.length.toLong
      val lcsRef = math.min(lcsRaw, math.min(a.length, b.length) - lcpRef)
      assert(r.getLong(2) === a.length.toLong && r.getLong(3) === b.length.toLong)
      assert(r.getLong(4) === lcpRef, s"lcp pair (${r.getLong(0)}, ${r.getLong(1)})")
      assert(r.getLong(5) === lcsRef, s"lcs pair (${r.getLong(0)}, ${r.getLong(1)})")
      // spans reconstruct the lengths and never go negative
      assert(r.getLong(6) === a.length - lcpRef - lcsRef && r.getLong(6) >= 0)
      assert(r.getLong(7) === b.length - lcpRef - lcsRef && r.getLong(7) >= 0)
    }
  }

  test("q212: delete propagation equals a from-scratch rebuild and reads the persisted index") {
    // independent rebuild: band the PURGED corpus from scratch
    val purged = graft.sources.Tables.documents(spark, sf001)
      .where(pmod(col("doc_id"), lit(Dedup.deleteModulus)) =!= 0L)
    val rebuilt = Dedup.docBands(purged, MinHashScheme.default)
      .groupBy("band_id", "band_hash")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("min_doc"))
      .where(col("n_docs") > 1)
      .collect().map(_.toSeq).toSet
    val df = SparkEntry.queries("q212_delete_propagation")(spark, sf001)
    assert(df.collect().map(_.toSeq).toSet === rebuilt,
      "filter-the-index must equal rebuild-from-purged-corpus")
    // the engine path serves from the persisted index, no re-shingling
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryTableScan"), plan.take(2000))
    // and the deletes actually removed something at this SF
    val full = SparkEntry.queries("q27_dedup_minhash_buckets")(spark, sf001)
      .count()
    assert(df.count() <= full)
  }

  test("q305: 20:1 length-skewed contained pair — q201 misses it, chunk banding catches it") {
    // the short doc is EXACTLY one q122 chunk of the long doc: the long
    // text places it at chunk offset 151 (pad1 = 149 cp + ' '), so the
    // k=1 window is byte-identical to the short text and ALL bands
    // collide deterministically. Long ≈ 4000 cp vs short 200 cp (20:1).
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => f"$prefix$i%03d").mkString(" ")
    val shortText = {
      // 7-cp words ("quot" + 3 digits): 25 words = 25*7 + 24 = 199 cp
      val w = words("quot", 25)
      assert(w.length == 199, w.length.toString)
      w + "z" // last word becomes quot024z — 200 cp exactly
    }
    // pad1: exactly 150 cp ending in a space, so the short text starts
    // at 1-based position 151 = chunk k=1's start
    val pad1 = {
      val base = words("prew", 17) // 17*7 + 16 = 135 cp
      base + " " + "k" * (150 - base.length - 2) + " "
    }
    assert(pad1.length == 150 && pad1.endsWith(" "))
    val pad2 = words("tail", 460) // 460*7 + 459 = 3679 cp of unrelated mass
    val longText = pad1 + shortText + " " + pad2
    assert(longText.substring(150, 350) == shortText,
      "chunk k=1 (1-based 151..350) must equal the short text")
    assert(longText.length >= 20 * shortText.length,
      s"skew ${longText.length}/${shortText.length} must be >= 20:1")
    val docs = Seq((1L, shortText), (2L, longText),
      (3L, words("other", 60))).toDF("doc_id", "text")
    val toks = Dedup.shingleSets(docs)
    // q201's doc×doc band candidates MISS the pair (jaccard ~ 0.05)
    val q201Pairs = Dedup.candidatePairsFromBands(Dedup.docBands(docs))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!q201Pairs.contains((1L, 2L)),
      s"planted pair unexpectedly collides in whole-doc bands: $q201Pairs")
    // q305's whole-doc × chunk bands CATCH it, and verification scores
    // the short side fully contained
    val caught = Dedup.skewCandidatePairs(
      Dedup.docBands(docs), Dedup.chunkBandsOf(docs))
    val verified = Dedup.containmentScored(caught, toks)
      .where(col("n_inter") * 10 >= least(col("n_a"), col("n_b")) * 9)
      .collect().map(r => ((r.getLong(0), r.getLong(1)),
        (r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    assert(verified.contains((1L, 2L)),
      s"skew banding must surface the planted pair, got ${verified.keySet}")
    val (nInter, nA, _) = verified((1L, 2L))
    assert(nInter == nA, "the short side must be 100% contained")
  }

  test("q337: simhash value-grain banding is complete vs an in-JVM brute force") {
    // second implementation next to the DuckDB oracle: collect the
    // q29 fingerprints, census, brute-force all value pairs
    val vals = SparkEntry.queries("q29_dedup_simhash")(spark, sf001)
      .collect().map(_.getLong(1))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }.toSeq
    val want = (for {
      (fa, na) <- vals; (fb, nb) <- vals if fa < fb
      h = java.lang.Long.bitCount(fa ^ fb)
      if h >= 1 && h <= Dedup.simhashHammingMax
    } yield (fa, fb, h, na, nb)).toSet
    val got = SparkEntry.queries("q337_simhash_neardup_values")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want,
      s"banding missed ${(want -- got).size} / ${(got -- want).size} extra")
    assert(want.nonEmpty, "the fixture must contain simhash near-miss pairs")
    // the value grain matters here for the same reason as q335: the
    // corpus has multi-doc simhash values (exact-dup text clusters)
    assert(vals.map(_._2).max > 1)
  }

  test("q345: cross-corpus banded candidates are complete, include exact hits, and never pair the corpus with itself") {
    val hashes = SparkEntry.queries("q29_dedup_simhash")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def census(p: Long => Boolean) = hashes.filter(t => p(t._1))
      .groupBy(_._2).map { case (k, v) => (k, v.size.toLong) }
    val bv = census(_ % 5 == 4)
    val cv = census(_ % 5 != 4)
    val want = (for {
      (fb, nb) <- bv; (fc, nc) <- cv
      h = java.lang.Long.bitCount(fb ^ fc)
      if h <= Dedup.simhashHammingMax
    } yield (fb, fc, h, nb, nc)).toSet
    val got = SparkEntry.queries("q345_simhash_neardup_batch")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == want,
      s"cross banding missed ${(want -- got).size} / ${(got -- want).size} extra")
    // hMin = 0 admits exact index hits — the fixture's exact-dup text
    // clusters must straddle the split for the tier to mean anything
    assert(got.exists(_._3 == 0), "exact value hits must surface")
    assert(got.exists(_._3 > 0), "tolerant hits must surface")
  }

  test("q343: value-grain clusters equal a driver-side union-find; doc mass conserves") {
    val pairs = SparkEntry.queries("q337_simhash_neardup_values")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val census = SparkEntry.queries("q29_dedup_simhash")(spark, sf001)
      .collect().map(_.getLong(1))
      .groupBy(identity).map { case (k, v) => (k, v.size.toLong) }
    // independent union-find over the pair set
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val wantLabel = census.keys.map(v => v -> find(v)).toMap
    // min-label canonicalization: the cluster id is the min member
    val canon = wantLabel.groupBy(_._2).flatMap { case (_, m) =>
      val minV = m.keys.min; m.keys.map(_ -> minV)
    }
    val got = SparkEntry.queries("q343_simhash_neardup_clusters")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2),
        r.getLong(3)))
    assert(got.map(g => g._1 -> g._2).toMap == canon,
      "distributed labels must equal brute-force reachability")
    // doc mass conserves: per-value census rides into cluster_docs,
    // and summing one row per cluster re-totals the corpus
    val docsN = census.values.sum
    assert(got.map(_._1).distinct.length == got.length)
    assert(got.groupBy(_._2).map(_._2.head._4).sum == docsN)
    // a genuine multi-value cluster exists (near-miss is transitive
    // in effect — that is what the cluster tier is FOR)
    assert(got.exists(_._3 > 1))
  }
}
