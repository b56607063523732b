package graft.model

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** dbt-style model framework: named models, `ref()` dependencies,
  * topological materialization — re-expressed as lazy DataFrame
  * composition (reference: dbt DAG semantics,
  * /root/reference/dbt_project_old/dbt_postgres/models/raw_texi.sql:3-6,
  * core_texi.sql:2-5,52; execution lifecycle SURVEY.md §3.1).
  *
  * A [[Model]] is a name, a list of upstream model/source names, and a
  * build function from resolved upstream DataFrames to this model's
  * DataFrame. "Compilation" is just lazy logical-plan construction —
  * Catalyst sees the fully composed plan of the whole DAG and can
  * optimize across model boundaries (predicate pushdown through a
  * ref() chain, which dbt/Postgres can only do within one model).
  *
  * Materialization (`run`) writes each model as parquet in topo order,
  * mirroring dbt's `materialized='table'` full-refresh semantics
  * (SaveMode.Overwrite). At 100 TB, pass `partitionBy` columns so the
  * materialized tables are partition-pruned by downstream readers.
  */
/** How a model's output table is (re)built on `run`:
  *  - [[Materialization.Table]]: full refresh (CREATE TABLE AS /
  *    SaveMode.Overwrite) — the reference's only mode
  *    (raw_texi.sql:3, core_texi.sql:3).
  *  - [[Materialization.Incremental]]: dbt's incremental contract —
  *    first run is a full build; later runs upsert by `uniqueKey`
  *    (new rows replace existing rows with the same key, everything
  *    else is preserved). The build function may inspect the existing
  *    output (passed as dep "this" when present) to pre-filter its
  *    input, mirroring dbt's is_incremental() idiom.
  *
  *    Unpartitioned, the upsert is existing ANTI-JOIN new ∪ new,
  *    rewritten whole — O(table) per run. WITH `partitionBy`, the run
  *    is partition-pruned (dbt's insert_overwrite shape, upsert
  *    semantics kept): only partitions that appear in the new batch
  *    are re-merged and physically replaced; every other partition's
  *    files are left byte-identical — O(touched partitions) per run,
  *    the plain-parquet analogue of a table format's MERGE. Contract
  *    caveat (same as dbt insert_overwrite): a key must not MOVE
  *    across partitions between runs — the stale copy in the old,
  *    untouched partition would survive. Partition by a stable
  *    function of the key (date, bucket) and this cannot arise.
  */
sealed trait Materialization
object Materialization {
  case object Table extends Materialization
  final case class Incremental(uniqueKey: String) extends Materialization
}

final case class Model(
    name: String,
    deps: Seq[String],
    partitionBy: Seq[String] = Nil,
    materialization: Materialization = Materialization.Table)(
    val build: Map[String, DataFrame] => DataFrame)

final class ModelRegistry(sources: Map[String, DataFrame]) {
  private val models = mutable.LinkedHashMap.empty[String, Model]

  def register(m: Model): this.type = {
    require(!models.contains(m.name) && !sources.contains(m.name),
      s"duplicate model name: ${m.name}")
    models += (m.name -> m); this
  }

  /** Kahn topo order over registered models; cycles are a config error
    * (same contract as dbt: a ref() cycle fails the parse). */
  def topoOrder: Seq[String] = {
    val inDeg = mutable.Map.empty[String, Int]
    val out = mutable.Map.empty[String, List[String]].withDefaultValue(Nil)
    models.values.foreach { m =>
      val modelDeps = m.deps.filter(models.contains)
      m.deps.foreach { d =>
        require(models.contains(d) || sources.contains(d),
          s"model ${m.name} refs unknown dep $d")
      }
      inDeg(m.name) = modelDeps.size
      modelDeps.foreach(d => out(d) = m.name :: out(d))
    }
    val queue = mutable.Queue(models.keys.filter(inDeg(_) == 0).toSeq: _*)
    val order = mutable.ArrayBuffer.empty[String]
    while (queue.nonEmpty) {
      val n = queue.dequeue(); order += n
      out(n).foreach { m => inDeg(m) -= 1; if (inDeg(m) == 0) queue += m }
    }
    require(order.size == models.size,
      s"cycle among models: ${models.keys.toSet -- order}")
    order.toSeq
  }

  /** Resolve a model to its (lazy, unmaterialized) DataFrame — the
    * whole upstream DAG composes into one Catalyst plan. */
  def resolve(name: String): DataFrame = {
    val cache = mutable.Map.empty[String, DataFrame]
    def go(n: String): DataFrame = cache.getOrElseUpdate(n,
      sources.getOrElse(n,
        models.getOrElse(n, sys.error(s"unknown model/source $n")) match {
          case m => m.build(m.deps.map(d => d -> go(d)).toMap)
        }))
    go(name)
  }

  /** Materialize every model in topo order (dbt run). Each model reads
    * its deps' *materialized* output, matching dbt's node-at-a-time
    * execution; returns the written DataFrames. An unpartitioned model
    * is read back with the schema it was just written with, so no
    * parquet schema-inference job runs (the read-back schema equals the
    * inferred one, spec-pinned). A partitioned model keeps the inferred
    * read: its partition columns move to the end and their types come
    * from the directory names. */
  def run(spark: SparkSession, outDir: String): Map[String, DataFrame] = {
    val done = mutable.Map.empty[String, DataFrame] ++ sources
    topoOrder.map { n =>
      val m = models(n)
      val path = s"$outDir/$n"
      // scheme-aware existence check (local Files.exists would report
      // false for every hdfs:// path, silently degrading incremental
      // runs to batch-only overwrites)
      val existing: Option[DataFrame] =
        if (graft.spark.FsOps.fs(spark, path)
            .exists(new org.apache.hadoop.fs.Path(path)))
          scala.util.Try(spark.read.parquet(path)).toOption
        else None
      val depMap = m.deps.map(d => d -> done(d)).toMap ++
        existing.map("this" -> _)
      val built = m.build(depMap)

      val written = (m.materialization, existing) match {
        case (Materialization.Incremental(key), Some(cur)) if m.partitionBy.nonEmpty =>
          Upsert.partitionPruned(spark, built, cur, path, key, m.partitionBy)
        case (Materialization.Incremental(key), Some(cur)) =>
          Upsert.fullRewrite(spark, built, cur, path, key)
        case _ =>
          write(built, m, path)
      }
      val back =
        if (m.partitionBy.isEmpty) spark.read.schema(written).parquet(path)
        else spark.read.parquet(path)
      done += (n -> back)
      n -> back
    }.toMap
  }

  private def write(df: DataFrame, m: Model, path: String): StructType = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (m.partitionBy.nonEmpty) w.partitionBy(m.partitionBy: _*) else w)
      .parquet(path)
    df.schema
  }
}
