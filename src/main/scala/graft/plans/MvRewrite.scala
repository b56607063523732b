package graft.plans

import graft.GraftQuery
import graft.operators.Formats
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, Cast, Expression, Literal, NamedExpression
}
import org.apache.spark.sql.catalyst.expressions.aggregate.{
  AggregateExpression, Count, Max, Min, Sum
}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DecimalType, LongType}

/** MATERIALIZED-VIEW AGGREGATE REWRITE — the engine's first optimizer
  * `Rule[LogicalPlan]`: aggregates over the `lineitem` fact table are
  * transparently re-targeted at a pre-built partial-aggregate summary
  * when (and only when) they are provably derivable from it.
  *
  * This is the classic summary-table rewrite every warehouse engine
  * ships (Oracle query rewrite, Calcite's `MaterializedViewRule`,
  * BigQuery MV smart-tuning): the optimizer — not the query author —
  * decides whether a scan of the 100 TB fact table can be answered
  * from a KB-sized rollup. The reference delegates all such rewrites
  * to Postgres (SURVEY §4.1); here it is a first-class
  * `SparkSessionExtensions`-style rule injected via
  * `spark.experimental.extraOptimizations`.
  *
  * Soundness (why the rewrite is exact, not best-effort):
  *  - The MV stores DISTRIBUTIVE partials at the (l_returnflag,
  *    l_linestatus) grain: row count `n`, exact DECIMAL sums of the
  *    house-cast measures, and min/max of `l_shipdate`. Any aggregate
  *    at a COARSER grain recombines them losslessly: count = Σn,
  *    sum = Σ(partial sums) (decimal addition is associative — exact
  *    under any regrouping), min = min(mins), max = max(maxes).
  *  - Only grouped aggregates are rewritten. An UNGROUPED aggregate
  *    over an empty filter result yields one row directly (count=0)
  *    but zero rows from an empty MV rollup — the classic MV
  *    empty-group pitfall, excluded by construction.
  *  - DISTINCT aggregates, FILTER clauses, and any aggregate function
  *    outside the registered partial set refuse the rewrite — the
  *    plan falls back to the fact scan unchanged. A wrong fallback is
  *    impossible: the rule either proves derivability or does nothing.
  *  - Output attributes keep the original `exprId`s (re-aliased, cast
  *    back to the original types where partial re-aggregation widens
  *    decimal precision), so every downstream reference — sorts,
  *    projections, parent operators — resolves untouched.
  *
  * Scale: the MV grain is bounded by the group-key cardinality
  * (|flags|×|status| ≈ 6 rows at ANY corpus size), so the rewritten
  * plan reads KBs instead of the fact table: the scan-cost ratio
  * GROWS linearly with corpus size — measured in the
  * `MvRewriteSpec` A/B and visible in the q214 plan audit
  * (FileScan over the `graft_mv` path, not `lineitem.parquet`).
  *
  * Session note: `extraOptimizations` is session-global mutable state
  * (like q133's shuffle-partition override) — [[withRule]] installs
  * and restores it around a body, and q214 eagerly materializes its
  * tiny result (`localCheckpoint`) while the rule is active, so the
  * returned frame stays valid after restore and NO other catalog
  * query ever sees a rewritten plan.
  */
object MvRewrite {

  /** Group-key columns of the lineitem summary. */
  val mvGroupCols: Seq[String] = Seq("l_returnflag", "l_linestatus")

  /** Registered sum partials: (measure column, cast precision, cast
    * scale) → MV partial column. Precisions stay ≥ 9 so Catalyst's
    * DecimalAggregates rewrite (which converts narrow decimal sums to
    * unscaled-long form BEFORE user rules run) never changes the
    * shape this rule matches; narrower casts simply fall back. */
  val sumPartials: Map[(String, Int, Int), String] = Map(
    ("l_quantity", 12, 1) -> "s_qty",
    ("l_extendedprice", 12, 2) -> "s_price")

  val minPartials: Map[String, String] = Map("l_shipdate" -> "mn_ship")
  val maxPartials: Map[String, String] = Map("l_shipdate" -> "mx_ship")

  private val mvMemo =
    new graft.spark.SessionMemo[String, (String, DataFrame)]("plans.mv")(_ => ())

  /** Build (once per session+corpus) the on-disk summary table and
    * return (path, reader). The MV is REAL storage — a parquet table
    * the rewritten plan scans — not an in-memory cache. */
  def mvFor(spark: SparkSession, d: String): (String, DataFrame) =
    mvMemo.getOrElseUpdate(spark, d) {
      val path = Formats.scratchDir("graft_mv", d)
      Tables.lineitem(spark, d)
        .groupBy(mvGroupCols.map(col): _*)
        .agg(
          count(lit(1)).as("n"),
          sum(col("l_quantity").cast("decimal(12,1)")).as("s_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).as("s_price"),
          min(col("l_shipdate")).as("mn_ship"),
          max(col("l_shipdate")).as("mx_ship"))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
      (path, Tables.parquet(spark, path))
    }

  /** Install the rewrite rule for `spark`, run `body`, restore the
    * previous optimizer set (even on failure). */
  def withRule[T](spark: SparkSession, d: String)(body: => T): T = {
    val (_, mv) = mvFor(spark, d) // build BEFORE installing (the build itself aggregates lineitem)
    val exp = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].experimental
    val prev = exp.extraOptimizations
    exp.extraOptimizations = prev :+ new LineitemMvRule(mv)
    try body
    finally exp.extraOptimizations = prev
  }

  /** The rule proper. Matches
    * `Aggregate(g ⊆ mvGroupCols, derivable aggs, [Filter on g]* [Project]* lineitem-scan)`
    * and replaces it with the equivalent rollup over the MV relation. */
  final class LineitemMvRule(mv: DataFrame) extends Rule[LogicalPlan] {

    override def apply(plan: LogicalPlan): LogicalPlan = plan.transformDown {
      case agg: Aggregate =>
        tryRewrite(agg).getOrElse(agg)
    }

    /** Unwraps attribute-only Projects and group-col-only Filters down
      * to a lineitem parquet scan; returns the collected filter
      * conditions. */
    private def baseScan(p: LogicalPlan): Option[Seq[Expression]] = p match {
      case Filter(cond, rest) if refNames(cond).subsetOf(mvGroupCols.toSet) =>
        baseScan(rest).map(cond +: _)
      case Project(pl, rest) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        baseScan(rest)
      case lr: LogicalRelation =>
        lr.relation match {
          case h: HadoopFsRelation
              if h.location.rootPaths.exists(_.getName == "lineitem.parquet") =>
            Some(Nil)
          case _ => None
        }
      case _ => None
    }

    private def refNames(e: Expression): Set[String] =
      e.references.map(_.name).toSet

    /** MV-side aggregation Column recombining one fact-side aggregate
      * function, or None if not derivable. */
    private def partialFor(ag: AggregateExpression): Option[Column] = {
      if (ag.isDistinct || ag.filter.isDefined) return None
      ag.aggregateFunction match {
        case c: Count =>
          c.children match {
            case scala.collection.immutable.Seq(Literal(v, _)) if v != null =>
              Some(sum(col("n")))
            case _ => None
          }
        case s: Sum =>
          s.child match {
            case cst: Cast =>
              (cst.child, cst.dataType) match {
                case (a: AttributeReference, dt: DecimalType) =>
                  sumPartials.get((a.name, dt.precision, dt.scale)).map(c => sum(col(c)))
                case _ => None
              }
            case _ => None
          }
        case m: Min =>
          m.child match {
            case a: AttributeReference => minPartials.get(a.name).map(c => min(col(c)))
            case _ => None
          }
        case m: Max =>
          m.child match {
            case a: AttributeReference => maxPartials.get(a.name).map(c => max(col(c)))
            case _ => None
          }
        case _ => None
      }
    }

    private def tryRewrite(agg: Aggregate): Option[LogicalPlan] = {
      val ge = agg.groupingExpressions
      // grouped aggregates only (ungrouped-over-empty diverges), keys ⊆ MV grain
      if (ge.isEmpty) return None
      val groupAttrs = ge.collect { case a: AttributeReference => a }
      if (groupAttrs.size != ge.size ||
        !groupAttrs.map(_.name).toSet.subsetOf(mvGroupCols.toSet)) return None

      val filters = baseScan(agg.child).getOrElse(return None)

      // every aggregate function below the output expressions must recombine
      val aggExprs = agg.aggregateExpressions
        .flatMap(_.collect { case ae: AggregateExpression => ae })
        .distinct
      val partials = aggExprs.map(ae => ae -> partialFor(ae)).toMap
      if (partials.values.exists(_.isEmpty)) return None
      // non-aggregate leaves must be grouping attrs (checked during rebuild)

      // --- inner rollup over the MV ---
      var m = mv
      filters.foreach { f =>
        val byName = f.transform { case a: AttributeReference => UnresolvedAttribute(a.name) }
        m = m.where(ColumnBridge.column(byName))
      }
      val ordered = aggExprs.zipWithIndex
      val aggCols = ordered.map { case (ae, i) => partials(ae).get.as(s"p_$i") }
      val inner = m
        .groupBy(groupAttrs.map(a => col(a.name)): _*)
        .agg(aggCols.head, aggCols.tail: _*)
      val innerPlan = inner.queryExecution.optimizedPlan
      val innerAttr: Map[String, Attribute] =
        innerPlan.output.map(a => a.name -> a).toMap
      val aggAttr: Map[AggregateExpression, Attribute] =
        ordered.map { case (ae, i) => ae -> innerAttr(s"p_$i") }.toMap

      // --- outer expressions: original trees with aggregate functions
      //     and group refs swapped for MV-rollup attributes ---
      def rebuild(e: Expression): Option[Expression] = e match {
        case ae: AggregateExpression =>
          val a = aggAttr(ae)
          Some(if (a.dataType == ae.dataType) a else Cast(a, ae.dataType))
        case a: AttributeReference =>
          innerAttr.get(a.name) // grouping passthrough; unknown name → refuse
        case other =>
          val kids = other.children.map(rebuild)
          if (kids.exists(_.isEmpty)) None
          else Some(other.withNewChildren(kids.map(_.get)))
      }

      val outs = agg.aggregateExpressions.map {
        case al: Alias =>
          rebuild(al.child).map(c => Alias(c, al.name)(exprId = al.exprId))
        case a: AttributeReference =>
          innerAttr.get(a.name).map(c => Alias(c, a.name)(exprId = a.exprId))
        case _ => None
      }
      if (outs.exists(_.isEmpty)) return None
      Some(Project(outs.map(_.get.asInstanceOf[NamedExpression]), innerPlan))
    }
  }

  /** q214: revenue/quantity/shipdate rollup by return flag, restricted
    * to finished-status lines — every piece (filter on a group col,
    * COARSER grouping than the MV grain, count + two decimal sums +
    * min/max recombination, scalar casts above the aggs) exercises the
    * rewrite, and the DuckDB oracle computes the same query straight
    * from the fact table: the hash match IS the soundness proof. The
    * result is materialized (localCheckpoint — output bounded by
    * |flags| ≤ 3 rows) while the rule is installed. */
  val qMvRewrite: GraftQuery = GraftQuery(
    "q214_mv_rewrite",
    """SELECT l_returnflag,
      |  CAST(COUNT(*) AS BIGINT) AS n_rows,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,1))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  MIN(l_shipdate) AS min_ship,
      |  MAX(l_shipdate) AS max_ship
      |FROM lineitem
      |WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    withRule(s, d) {
      Tables.lineitem(s, d)
        .where(col("l_linestatus") === "F")
        .groupBy("l_returnflag")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("decimal(12,1)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(12,2)")).cast("double").as("sum_price"),
          min(col("l_shipdate")).as("min_ship"),
          max(col("l_shipdate")).as("max_ship"))
        .orderBy("l_returnflag")
        .localCheckpoint()
    }
  }

  private val baseMvMemo =
    new graft.spark.SessionMemo[String, String]("plans.mvbase")(_ => ())

  /** One batch/trigger's DISTRIBUTIVE partials at the MV grain — the
    * canonical partial schema every MV store shares (base build, q226
    * delta, q233 per-trigger append, q239 compaction all speak it):
    * `n BIGINT, s_qty DECIMAL(22,1), s_price DECIMAL(22,2),
    * mn_ship DATE, mx_ship DATE`. */
  def mvPartial(df: DataFrame): DataFrame =
    df.groupBy(mvGroupCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,1)")).as("s_qty"),
        sum(col("l_extendedprice").cast("decimal(12,2)")).as("s_price"),
        min(col("l_shipdate")).as("mn_ship"),
        max(col("l_shipdate")).as("mx_ship"))

  /** Serving fold: any union of partial generations → the final MV
    * answer (count = Σn, sums = Σ partials — decimal addition is
    * associative, so any generation slicing reconstructs the exact
    * from-scratch aggregate; min/max re-extremize). */
  def mvServe(partials: DataFrame): DataFrame =
    partials.groupBy(mvGroupCols.map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("s_qty")).cast("double").as("sum_qty"),
        sum(col("s_price")).cast("double").as("sum_price"),
        min(col("mn_ship")).as("mn_ship"),
        max(col("mx_ship")).as("mx_ship"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Fold partial generations back INTO the canonical partial schema
    * (same merge algebra as [[mvServe]], minus the final casts). The
    * re-narrowing decimal casts are exact until a grain cell's sum
    * exceeds DECIMAL(22,_) — ~10²¹ quantity units — and ANSI mode
    * makes that overflow loud, not silent. */
  def mvCompact(partials: DataFrame): DataFrame =
    partials.groupBy(mvGroupCols.map(col): _*)
      .agg(
        sum(col("n")).as("n"),
        sum(col("s_qty")).cast("decimal(22,1)").as("s_qty"),
        sum(col("s_price")).cast("decimal(22,2)").as("s_price"),
        min(col("mn_ship")).as("mn_ship"),
        max(col("mx_ship")).as("mx_ship"))

  /** COMPACT a partial-generation store in place: fold every
    * generation into one (one file per grain shard), stage, and
    * rename-swap via [[graft.spark.FsOps.swapInto]] — readers see
    * either the old log or the compacted one, never a half state.
    * Serving results are IDENTICAL before and after (the fold is the
    * same merge algebra serving applies); what changes is the file
    * count the serving read must open. */
  def compactPartials(spark: SparkSession, dir: String): Unit = {
    val staging = dir + "__compacting"
    mvCompact(spark.read.parquet(dir))
      .coalesce(1)
      .write.mode("overwrite").parquet(staging)
    graft.spark.FsOps.swapInto(spark, staging, dir)
  }

  /** Base-corpus MV (rows with l_orderkey % 5 != 4 — the q130 batch
    * convention) persisted to parquet once per (session, corpus). */
  def baseMvFor(spark: SparkSession, d: String): String =
    baseMvMemo.getOrElseUpdate(spark, d) {
      val path = Formats.scratchDir("graft_mv_base", d)
      mvPartial(Tables.lineitem(spark, d)
        .where(pmod(col("l_orderkey"), lit(5)) =!= 4))
        .coalesce(1)
        .write.mode("overwrite").parquet(path)
      path
    }

  /** q226: INCREMENTAL MV MAINTENANCE — the q183 partial-merge proof
    * applied to the summary table the q214 rewrite rule serves. An
    * arriving batch (l_orderkey % 5 = 4, the q130 convention) is
    * folded into the PERSISTED base MV by merging distributive
    * partials: count and decimal sums ADD, min/max RE-MIN/MAX — the
    * base fact rows are never rescanned (the only lineitem scan in the
    * plan carries the batch predicate; MvRewriteSpec pins it). The
    * oracle recomputes the full-corpus MV from scratch: the hash
    * match proves merge ≡ recompute, so the rewrite rule keeps
    * serving EXACT answers as the fact table grows — the full MV
    * lifecycle (build → serve → maintain) without ever re-aggregating
    * 100 TB. */
  val qMvIncrement: GraftQuery = GraftQuery(
    "q226_mv_increment",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,1))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price,
      |  MIN(l_shipdate) AS mn_ship,
      |  MAX(l_shipdate) AS mx_ship
      |FROM lineitem
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    val base = s.read.parquet(baseMvFor(s, d))
    val delta = mvPartial(Tables.lineitem(s, d)
      .where(pmod(col("l_orderkey"), lit(5)) === 4))
    mvServe(base.unionByName(delta))
  }

  /** q239: PARTIAL-LOG COMPACTION — the missing quarter of the MV
    * lifecycle (build q214 → serve → maintain q226/q233 → COMPACT).
    * q233's append-per-trigger store grows one generation per trigger;
    * left alone, the serving read's cost becomes file-open overhead,
    * not data (the classic streaming small-files problem). Compaction
    * folds the log back to one generation with the SAME merge algebra
    * serving applies and swaps it in atomically (rename-aside — the
    * FsOps discipline Ingest/Snapshot/Upsert already follow), so
    * serving results are bit-identical
    * before and after — proven here by serving the COMPACTED store
    * against the full-recompute oracle, and by the ScaleBench A/B
    * that times a 256-generation log against its compacted form.
    * The two-generation split below stands in for two arrived
    * triggers (deterministic by orderkey parity). */
  val qMvCompact: GraftQuery = GraftQuery(
    "q239_mv_compact",
    qMvIncrement.oracle.get) { (s, d) =>
    val dir = Formats.scratchDir("graft_mv_compact", d)
    Formats.wipe(dir)
    Seq(0, 1).foreach { r =>
      mvPartial(Tables.lineitem(s, d)
        .where(pmod(col("l_orderkey"), lit(2)) === r))
        .coalesce(1)
        .write.mode("append").parquet(dir)
    }
    compactPartials(s, dir)
    mvServe(s.read.parquet(dir))
  }

  def all: Seq[GraftQuery] = Seq(qMvRewrite, qMvIncrement, qMvCompact)
}
