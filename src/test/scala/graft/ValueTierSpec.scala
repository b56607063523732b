package graft

import graft.operators.{Dedup, Multimodal, ValueTier}
import graft.spark.SessionMemo
import org.apache.spark.sql.Row
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.{Seconds, Span}

/** The one value tier, pinned per family at sf0.01: its clusters are
  * the transitive closure of its own pairs, and its memos give back
  * every block they hold on eviction. */
class ValueTierSpec extends SparkSpecBase {
  // the sf0.01 fixture, next to the shared sf0.001 one
  private val sf01 = new java.io.File(sf001).getParent + "/sf0.01"
  private val tiers: Seq[ValueTier] = Seq(Dedup.simhashTier,
    Multimodal.imageTier, Multimodal.audioTier, Multimodal.videoWideTier)

  /** A value's identity: eqKeys ∪ fingerprint words. */
  private def key(t: ValueTier, r: Row, suffix: String = ""): Seq[Any] =
    t.scheme.eqKeys.map(r.getAs[Any]) ++
      t.scheme.idCols.map(c => r.getAs[Any](c + suffix))

  test("every tier's clusters equal a driver-side union-find over its pairs; cluster_docs re-sums to the census") {
    val s = spark.newSession()
    try tiers.foreach { t =>
      val census = t.census(s, sf01).rows.collect()
      val node = census.map(r => key(t, r) -> r.getAs[Long]("node")).toMap
      val docs = census.map(r => key(t, r) -> r.getAs[Long]("n_docs")).toMap
      val parent = scala.collection.mutable.Map.empty[Seq[Any], Seq[Any]]
      def find(v: Seq[Any]): Seq[Any] = {
        val p = parent.getOrElse(v, v)
        if (p == v) v else { val r = find(p); parent(v) = r; r }
      }
      val pairs = t.pairs(s, sf01).collect()
      assert(pairs.nonEmpty, s"${t.name}: the fixture must yield near-miss pairs")
      pairs.foreach { r =>
        val (a, b) = (find(key(t, r, "_a")), find(key(t, r, "_b")))
        if (a != b) parent(a) = b
      }
      val members = node.keys.groupBy(find)
      val want = members.values.flatMap { vs =>
        val id = vs.map(node).min
        val mass = vs.toSeq.map(docs).sum
        vs.map(v => v -> (id, vs.size, mass))
      }.toMap
      val got = t.clusters(s, sf01).collect().map { r =>
        key(t, r) -> ((r.getAs[Long]("cluster_id"), r.getAs[Int]("n_values"),
          r.getAs[Long]("cluster_docs")))
      }.toMap
      assert(got === want, s"${t.name}: clusters diverge from the union-find")
      assert(members.exists(_._2.size > 1), s"${t.name}: no multi-value cluster")
      val clusterMass = got.values.map { case (id, _, mass) => id -> mass }.toMap
      val nDocs = graft.sources.Tables.documents(s, sf01).count()
      assert(clusterMass.values.sum === nDocs && docs.values.sum === nDocs,
        s"${t.name}: cluster_docs must re-sum to the census total")
    } finally SessionMemo.evictAll(s)
  }

  test("evictAll gives back every block the tiers' pairs, clusters and batch probes held") {
    val sc = spark.sparkContext
    // storage of RDDs created after `mark`: this run's blocks only
    def held(mark: Int): (Int, Long) = {
      val infos = sc.getRDDStorageInfo
        .filter(i => i.id > mark && i.numCachedPartitions > 0)
      (infos.length, infos.map(i => i.memSize + i.diskSize).sum)
    }
    val s = spark.newSession()
    val mark = sc.emptyRDD[Int].id
    val before = held(mark)
    tiers.foreach { t =>
      t.pairs(s, sf01).count()
      t.clusters(s, sf01).count()
      t.batchProbe(s, sf01, t.corpusIndex(s, sf01)).count()
    }
    val during = held(mark)
    assert(during._1 > before._1, "the tiers must hold their memoized indexes")
    SessionMemo.evictAll(s)
    // checkpoint blocks are released without blocking
    eventually(timeout(Span(60, Seconds))) {
      assert(held(mark) === before,
        s"blocks still held after eviction (while warm: $during)")
    }
  }
}
