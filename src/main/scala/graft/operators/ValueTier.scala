package graft.operators

import graft.operators.BandedHamming.{BandScheme, StatedIndex}
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.Checkpoints

/** THE value-grain near-dup tier behind the four perceptual families
  * (simhash [[Dedup.simhashTier]], image aHash, audio and wide video
  * [[Multimodal.imageTier]]/[[Multimodal.audioTier]]/
  * [[Multimodal.videoWideTier]]). Perceptual hashes collide heavily,
  * so every family works on DISTINCT fingerprint VALUES carrying their
  * census counts — a relation bounded by fingerprint entropy, never
  * corpus size — through the one [[BandedHamming]] operator. A family
  * declares only data; the pipeline below is written once:
  *
  *   - `census`: the whole-corpus value census, memoized per (session,
  *     corpus) with its build-time guard statistics, so re-invocations
  *     schedule no guard aggregates;
  *   - `pairs`: banded value pairs at hamming 1..hMax, each side
  *     carrying its census count;
  *   - `clusters`: value-node components over those pairs (q77's star
  *     contraction, over near-miss VALUES only), with each
  *     cluster's value count and doc mass; singleton values are their
  *     own clusters, so `cluster_docs` re-sums to the corpus;
  *   - `batchProbe`: an arriving batch's value census probed against a
  *     corpus value index through the cross-corpus banding at hamming
  *     0..hMax (an exact value hit is the strongest admission signal) —
  *     the corpus is never re-featurized or re-paired. The corpus index
  *     is a parameter, so the stream-maintained census (the document
  *     multi-drain's `partial`/`sumPartials`) and the batch-built
  *     `corpusIndex` serve the same probe plan;
  *   - `partial`/`sumPartials`: the streaming census (`summed` reads a
  *     partial directory into `sumPartials`). A drain writes each
  *     trigger's partial to a batchId-keyed sink it OVERWRITES (a
  *     retried trigger rewrites, never double-counts). Counts add —
  *     every value census is a monoid — so the summed partials are the
  *     batch-built corpus index verbatim under any arrival slicing, and
  *     at any trigger boundary the census of the prefix corpus.
  *     Band-bucket occupancy counts DISTINCT values, which is not
  *     additive, so a maintainer derives guard statistics from the
  *     summed census, never from partials.
  *
  * Release rule, one per storage kind: the corpus index and the cluster
  * labels are persisted (`unpersist`); the census and the batch index
  * are localCheckpoint-backed plan barriers
  * with no CacheManager entry, so they go through
  * [[Checkpoints.release]] — plain unpersist is a silent no-op there
  * and repeated builds would strand checkpoint blocks.
  *
  * @param name          memo key and scratch-directory stem
  * @param scheme        the family's ONE banding layout — pairs, cluster
  *                      edges, probes and every index build's guard
  *                      statistics share it, so band geometry cannot
  *                      diverge between them
  * @param groupCols     the value key (eqKeys ∪ fingerprint words)
  * @param partialSchema the streaming partial's read-back schema, which
  *                      pins the drained census to its oracle's types
  * @param featurize     documents (doc_id, text, …) → fingerprint rows;
  *                      synthesis and decode stay inside the partition
  * @param nodeKey       aggregate over one value's documents that names
  *                      its cluster node: the fingerprint itself where it
  *                      is one oracle-expressible BIGINT, else the
  *                      census-stable MIN(doc_id) (unique per value, and a
  *                      representative document)
  */
final case class ValueTier(
    name: String,
    scheme: BandScheme,
    groupCols: Seq[String],
    partialSchema: String,
    featurize: DataFrame => DataFrame,
    nodeKey: Column) {
  import ValueTier._

  /** featurize → group → (n_docs, node) over a document relation. The
    * ids fan out first: the codec families read only doc_id, so without
    * it decode inherits the scan's split count (one task per file). */
  private def censusOf(docs: DataFrame): DataFrame =
    featurize(Multimodal.spreadIds(docs))
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_docs"), nodeKey.as("node"))

  def census(s: SparkSession, d: String): StatedIndex =
    censusMemo.getOrElseUpdate(s, (name, d))(
      scheme.indexed(censusOf(Tables.documents(s, d)).localCheckpoint()))

  /** Near-miss value pairs over the whole corpus: `_a`/`_b` per value
    * key, `n_docs_a`/`n_docs_b`, `hamming`; unordered. */
  def pairs(s: SparkSession, d: String): DataFrame =
    scheme.pairsIndexed(census(s, d), carry = Seq("n_docs"))

  /** One row per census value: its columns, `cluster_id` (the least
    * node key in its component), `n_values`, `cluster_docs`. */
  def clusters(s: SparkSession, d: String): DataFrame = {
    val vals = census(s, d)
    val labels = labelsMemo.getOrElseUpdate(s, (name, d))(
      StarComponents.connectedComponentsStar(
        scheme.pairsIndexed(vals, carry = Seq("node"))
          .select(col("node_a").as("doc_a"), col("node_b").as("doc_b")))._1)
    val w = Window.partitionBy("cluster_id")
    vals.rows.join(labels, Seq("node"), "left")
      .withColumn("cluster_id", coalesce(col("label"), col("node")))
      .drop("label")
      .withColumn("n_values", count(lit(1)).over(w).cast("int"))
      .withColumn("cluster_docs", sum(col("n_docs")).over(w).cast("long"))
  }

  /** The corpus side of the fixture split, persisted once per (session,
    * corpus) with its guard statistics. */
  def corpusIndex(s: SparkSession, d: String): StatedIndex =
    corpusMemo.getOrElseUpdate(s, (name, d))(
      scheme.indexed(
        censusOf(Tables.documents(s, d).where(fixtureCorpusFilter)).persist()))

  /** The arriving batch's values probed against `corpus`: batch `_a`
    * side, corpus `_b` side, hamming 0..hMax; unordered. The batch
    * census is deterministic per corpus in this fixture (a production
    * caller would key it by batch id). */
  def batchProbe(s: SparkSession, d: String, corpus: StatedIndex): DataFrame = {
    val batch = batchMemo.getOrElseUpdate(s, (name, d))(
      scheme.indexed(
        censusOf(Tables.documents(s, d).where(!fixtureCorpusFilter))
          .localCheckpoint()))
    scheme.pairsIndexed(batch, carry = Seq("n_docs"), hMin = 0,
      rowsB = Some(corpus))
  }

  /** One trigger's census partial: featurize → group → n_partial. */
  def partial(docs: DataFrame): DataFrame =
    featurize(docs)
      .groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n_partial"))

  /** The census summed over `partials`, a relation of partial rows. */
  def sumPartials(partials: DataFrame): DataFrame =
    partials.groupBy(groupCols.map(col): _*)
      .agg(sum("n_partial").as("n_docs"))

  /** The census summed over every partial under `dir`. The explicit
    * schema reads a drain that wrote no partial (every trigger filtered
    * empty) as an empty census, not a missing path. */
  def summed(spark: SparkSession, dir: String): DataFrame =
    sumPartials(spark.read.schema(partialSchema).parquet(dir))
}

object ValueTier {
  /** The incremental-dedup fixtures' batch/corpus split: doc_id % 5 == 4
    * is the arriving batch, everything else the maintained corpus. The
    * batch probes, the document drain's curation gate and the
    * batch-vs-corpus operators (APSS, n-gram first-seen, CDC chunk
    * hits) all apply it; each oracle spells it in its SQL. */
  private[graft] def fixtureCorpusFilter: Column =
    pmod(col("doc_id"), lit(5)) =!= 4

  private type Key = (String, String)
  private val censusMemo =
    new graft.spark.SessionMemo[Key, StatedIndex]("valueTier.census")(i =>
      Checkpoints.release(i.rows))
  private val corpusMemo =
    new graft.spark.SessionMemo[Key, StatedIndex]("valueTier.corpusIndex")(
      _.rows.unpersist(): Unit)
  private val batchMemo =
    new graft.spark.SessionMemo[Key, StatedIndex]("valueTier.batchIndex")(i =>
      Checkpoints.release(i.rows))
  private val labelsMemo =
    new graft.spark.SessionMemo[Key, DataFrame]("valueTier.labels")(
      _.unpersist(): Unit)
}
