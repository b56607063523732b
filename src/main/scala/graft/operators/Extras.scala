package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Remaining scalar/shape coverage: pivot, explode, math functions,
  * and the spark.sql text-SQL surface. */
object Extras {

  /** Pivot (wide conditional aggregation). Spark's .pivot with an
    * explicit value list ⇒ deterministic column set; the oracle spells
    * the same thing as CASE aggregation. */
  val qPivot: GraftQuery = GraftQuery(
    "q44_pivot",
    """SELECT user_id,
      |  COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS click,
      |  COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS view,
      |  COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
      |  COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
      |  COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS error
      |FROM events
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy("user_id")
  }

  /** explode/unnest + re-aggregate: per-token document frequency. */
  val qExplodeTokens: GraftQuery = GraftQuery(
    "q45_explode_tokens",
    """SELECT token, COUNT(DISTINCT doc_id) AS doc_freq, COUNT(*) AS total_freq
      |FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY token""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), explode(split(lower(col("text")), " ")).as("token"))
      .groupBy("token")
      .agg(countDistinct(col("doc_id")).as("doc_freq"), count(lit(1)).as("total_freq"))
      .orderBy("token")
  }

  /** Exactly-specified math functions (abs/sign/ceil/floor/round/mod/
    * sqrt are IEEE-determined; transcendentals like log/exp are NOT
    * bit-specified across libm implementations and stay out of
    * hash-compared outputs). */
  val qMathFuncs: GraftQuery = GraftQuery(
    "q46_math_funcs",
    """SELECT l_orderkey, l_linenumber,
      |  abs(l_extendedprice - 50000) AS abs_delta,
      |  CAST(sign(l_extendedprice - 50000) AS INTEGER) AS delta_sign,
      |  CAST(ceil(l_quantity / 7) AS BIGINT) AS qty_ceil7,
      |  CAST(floor(l_extendedprice / 1000) AS BIGINT) AS price_kbucket,
      |  CAST(round(CAST(l_extendedprice AS DECIMAL(12,2)) * CAST(l_discount AS DECIMAL(4,2)), 2) AS DOUBLE) AS discount_amount,
      |  CAST(l_orderkey % 97 AS BIGINT) AS key_mod97,
      |  sqrt(l_quantity) AS qty_sqrt,
      |  greatest(l_quantity, 25.0) AS qty_floor25,
      |  least(l_quantity, 25.0) AS qty_cap25
      |FROM lineitem
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).select(
      col("l_orderkey"), col("l_linenumber"),
      abs(col("l_extendedprice") - 50000).as("abs_delta"),
      signum(col("l_extendedprice") - 50000).cast("int").as("delta_sign"),
      ceil(col("l_quantity") / 7).as("qty_ceil7"),
      floor(col("l_extendedprice") / 1000).as("price_kbucket"),
      // round() over an EXACT decimal product: double round() tie-breaks
      // differ across engines near .xx5; decimal ties are exact and both
      // engines round them away-from-zero
      round(col("l_extendedprice").cast("decimal(12,2)") * col("l_discount").cast("decimal(4,2)"), 2)
        .cast("double").as("discount_amount"),
      (col("l_orderkey") % 97).as("key_mod97"),
      sqrt(col("l_quantity")).as("qty_sqrt"),
      greatest(col("l_quantity"), lit(25.0)).as("qty_floor25"),
      least(col("l_quantity"), lit(25.0)).as("qty_cap25"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** The text-SQL surface: the engine accepts SQL strings over
    * registered views (spark.sql), not just the DataFrame DSL. Same
    * pricing-summary semantics as q01, entered as SQL. */
  val qSqlApi: GraftQuery = GraftQuery(
    "q47_sql_api",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
    // register only the table the SQL touches (registerAll would
    // re-open all ten parquet footers on every invocation)
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem")
    s.sql(
      """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
        |  SUM(l_quantity) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate > TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin)
  }

  /** T2 reference parity (Application.py:207): case-insensitive regex
    * routing — classify free text by alternation patterns. */
  val qRegexRoute: GraftQuery = GraftQuery(
    "q51_regex_route",
    """SELECT doc_id,
      |  regexp_matches(text, '(?i)spark.*join|merge.*sort') AS is_join_topic,
      |  regexp_matches(text, '(?i)stream|window|batch') AS is_stream_topic,
      |  CASE WHEN regexp_matches(text, '(?i)spark.*join|merge.*sort') THEN 'join'
      |       WHEN regexp_matches(text, '(?i)stream|window|batch') THEN 'stream'
      |       ELSE 'other' END AS route
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val joinTopic = col("text").rlike("(?i)spark.*join|merge.*sort")
    val streamTopic = col("text").rlike("(?i)stream|window|batch")
    Tables.documents(s, d).select(
      col("doc_id"),
      joinTopic.as("is_join_topic"),
      streamTopic.as("is_stream_topic"),
      when(joinTopic, "join").when(streamTopic, "stream").otherwise("other").as("route"))
      .orderBy("doc_id")
  }

  /** Approximate distinct counting (HLL++) — the sketch differs from
    * DuckDB's, so this is rows-only; its error bound vs the exact
    * count is asserted in ApproxSpec. */
  val qApproxDistinct: GraftQuery = GraftQuery.noOracle("q52_approx_distinct") { (s, d) =>
    Tables.lineitem(s, d).groupBy("l_returnflag").agg(
      approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"),
      countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy("l_returnflag")
  }

  /** Exact percentiles (linear interpolation between closest ranks) —
    * Spark percentile() and DuckDB quantile_cont share the definition,
    * and interpolating between parquet-exact doubles is IEEE-stable. */
  val qPercentiles: GraftQuery = GraftQuery(
    "q53_percentiles",
    """SELECT l_returnflag,
      |  quantile_cont(l_quantity, 0.5) AS median_qty,
      |  quantile_cont(l_quantity, 0.9) AS p90_qty,
      |  quantile_cont(l_extendedprice, 0.5) AS median_price,
      |  quantile_cont(l_extendedprice, 0.99) AS p99_price
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).groupBy("l_returnflag").agg(
      expr("percentile(l_quantity, 0.5)").as("median_qty"),
      expr("percentile(l_quantity, 0.9)").as("p90_qty"),
      expr("percentile(l_extendedprice, 0.5)").as("median_price"),
      expr("percentile(l_extendedprice, 0.99)").as("p99_price"))
      .orderBy("l_returnflag")
  }

  /** CUBE grouping sets (all four grouping combinations). */
  val qCube: GraftQuery = GraftQuery(
    "q54_cube",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,1))) AS DOUBLE) AS sum_qty
      |FROM lineitem
      |GROUP BY CUBE (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(col("l_quantity").cast("decimal(12,1)")).cast("double").as("sum_qty"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Ranking/distribution window functions beyond q19: ntile,
    * percent_rank, cume_dist, first/last/nth value over a fully
    * deterministic order (orderdate, orderkey). percent_rank and
    * cume_dist are single divisions of exact ranks — engine-stable. */
  val qWindowExtras: GraftQuery = GraftQuery(
    "q68_window_extras",
    """SELECT o_orderkey, o_custkey,
      |  CAST(ntile(4) OVER w AS INTEGER) AS spend_quartile,
      |  percent_rank() OVER w AS pct_rank,
      |  cume_dist() OVER w AS cum_dist,
      |  first_value(o_orderkey) OVER w AS first_key,
      |  last_value(o_orderkey) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_key,
      |  nth_value(o_orderkey, 2) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS second_key
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"),
      ntile(4).over(w).as("spend_quartile"),
      percent_rank().over(w).as("pct_rank"),
      cume_dist().over(w).as("cum_dist"),
      first(col("o_orderkey")).over(w).as("first_key"),
      last(col("o_orderkey")).over(wFull).as("last_key"),
      nth_value(col("o_orderkey"), 2).over(wFull).as("second_key"))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** Array function surface over per-order collected lists. Collection
    * order is nondeterministic, so every emitted value is order-
    * insensitive (size/max/min/contains) or explicitly sorted first. */
  val qArrayFuncs: GraftQuery = GraftQuery(
    "q69_array_funcs",
    """SELECT l_orderkey,
      |  CAST(len(dl) AS INTEGER) AS n_lines,
      |  list_max(dl) AS max_qty,
      |  list_min(dl) AS min_qty,
      |  list_contains(dl, 25.0) AS has_qty25,
      |  array_to_string(list_slice(list_sort(sl), 1, 3), ',') AS first3_qty
      |FROM (SELECT l_orderkey, list(l_quantity) AS dl,
      |             list(CAST(l_quantity AS VARCHAR)) AS sl
      |      FROM lineitem GROUP BY l_orderkey)
      |ORDER BY l_orderkey""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .groupBy("l_orderkey")
      .agg(collect_list(col("l_quantity")).as("dl"),
        collect_list(col("l_quantity").cast("string")).as("sl"))
      .select(
        col("l_orderkey"),
        size(col("dl")).as("n_lines"),
        array_max(col("dl")).as("max_qty"),
        array_min(col("dl")).as("min_qty"),
        array_contains(col("dl"), 25.0).as("has_qty25"),
        array_join(slice(sort_array(col("sl")), 1, 3), ",").as("first3_qty"))
      .orderBy("l_orderkey")
  }

  /** Remaining string-function surface: pad/translate/reverse/repeat/
    * prefix-extract/position. */
  val qStringFuncs2: GraftQuery = GraftQuery(
    "q70_string_funcs2",
    """SELECT p_partkey,
      |  lpad(p_brand, 12, '*') AS brand_lpad,
      |  rpad(p_brand, 12, '.') AS brand_rpad,
      |  translate(p_type, 'aeiou', 'AEIOU') AS type_tr,
      |  reverse(p_name) AS name_rev,
      |  repeat(p_brand, 2) AS brand_x2,
      |  split_part(p_type, ' ', 1) AS type_word1,
      |  CAST(strpos(p_name, 'a') AS INTEGER) AS first_a_pos
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      lpad(col("p_brand"), 12, "*").as("brand_lpad"),
      rpad(col("p_brand"), 12, ".").as("brand_rpad"),
      translate(col("p_type"), "aeiou", "AEIOU").as("type_tr"),
      reverse(col("p_name")).as("name_rev"),
      repeat(col("p_brand"), 2).as("brand_x2"),
      substring_index(col("p_type"), " ", 1).as("type_word1"),
      instr(col("p_name"), "a").as("first_a_pos"))
      .orderBy("p_partkey")
  }

  /** Schema-evolution union: unionByName with missing columns null-
    * filled (DuckDB UNION ALL BY NAME) — the shape of appending a new
    * source whose schema lags the table's. */
  val qUnionByName: GraftQuery = GraftQuery(
    "q71_union_by_name",
    """SELECT * FROM (
      |  SELECT c_custkey AS entity_key, c_name AS name, c_acctbal AS acctbal,
      |         'customer' AS kind
      |  FROM customer
      |  UNION ALL BY NAME
      |  SELECT s_suppkey + 1000000 AS entity_key, s_name AS name, 'supplier' AS kind
      |  FROM supplier)
      |ORDER BY entity_key""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d).select(
      col("c_custkey").as("entity_key"), col("c_name").as("name"),
      col("c_acctbal").as("acctbal"), lit("customer").as("kind"))
    val sup = Tables.supplier(s, d).select(
      (col("s_suppkey") + 1000000L).as("entity_key"), col("s_name").as("name"),
      lit("supplier").as("kind"))
    c.unionByName(sup, allowMissingColumns = true)
      .orderBy("entity_key")
  }

  /** Boolean/conditional aggregate surface: bool_and/bool_or/count_if
    * (all order-insensitive, engine-exact). */
  val qBoolAggs: GraftQuery = GraftQuery(
    "q79_bool_aggs",
    """SELECT event_type,
      |  bool_and(value > 0) AS all_positive,
      |  bool_or(value > 900) AS any_huge,
      |  CAST(count_if(value > 500) AS BIGINT) AS n_large,
      |  bool_and(user_id IS NOT NULL) AS users_complete
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d).groupBy("event_type").agg(
      bool_and(col("value") > 0).as("all_positive"),
      bool_or(col("value") > 900).as("any_huge"),
      count_if(col("value") > 500).as("n_large"),
      bool_and(col("user_id").isNotNull).as("users_complete"))
      .orderBy("event_type")
  }

  /** String aggregation (listagg shape): collection order is engine-
    * arbitrary, so the list is SORTED before joining — the only
    * deterministic form of string_agg. */
  val qStringAgg: GraftQuery = GraftQuery(
    "q80_string_agg",
    """SELECT l_returnflag,
      |  string_agg(DISTINCT l_linestatus, ',' ORDER BY l_linestatus) AS statuses,
      |  CAST(COUNT(DISTINCT l_linestatus) AS INTEGER) AS n_statuses
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).groupBy("l_returnflag").agg(
      array_join(array_sort(collect_set(col("l_linestatus"))), ",").as("statuses"),
      size(collect_set(col("l_linestatus"))).as("n_statuses"))
      .orderBy("l_returnflag")
  }

  /** DISCRETE quantiles (percentile_disc semantics: smallest value
    * whose cumulative distribution reaches p) — composed identically
    * on both sides from cume_dist, so the definition is pinned rather
    * than trusting two engines' quantile_disc to agree on ties. */
  val qQuantileDisc: GraftQuery = GraftQuery(
    "q98_quantile_disc",
    """WITH cd AS (
      |  SELECT l_returnflag, l_quantity,
      |    cume_dist() OVER (PARTITION BY l_returnflag ORDER BY l_quantity) AS cd
      |  FROM lineitem)
      |SELECT l_returnflag,
      |  MIN(CASE WHEN cd >= 0.5 THEN l_quantity END) AS p50_disc,
      |  MIN(CASE WHEN cd >= 0.9 THEN l_quantity END) AS p90_disc,
      |  MIN(CASE WHEN cd >= 0.99 THEN l_quantity END) AS p99_disc
      |FROM cd
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    Tables.lineitem(s, d)
      .select(col("l_returnflag"), col("l_quantity"),
        cume_dist().over(w).as("cd"))
      .groupBy("l_returnflag")
      .agg(
        min(when(col("cd") >= 0.5, col("l_quantity"))).as("p50_disc"),
        min(when(col("cd") >= 0.9, col("l_quantity"))).as("p90_disc"),
        min(when(col("cd") >= 0.99, col("l_quantity"))).as("p99_disc"))
      .orderBy("l_returnflag")
  }

  /** Mode (most frequent value) per group with a DETERMINISTIC tie
    * rule (ties → smallest value) — composed as count + rank instead
    * of the engines' mode(), whose tie choice is implementation-
    * defined. Two hash aggregates + a tiny window over per-group
    * value counts. */
  val qModeDeterministic: GraftQuery = GraftQuery(
    "q99_mode",
    """WITH counts AS (
      |  SELECT l_returnflag, l_quantity, COUNT(*) AS n
      |  FROM lineitem GROUP BY l_returnflag, l_quantity),
      |ranked AS (
      |  SELECT l_returnflag, l_quantity, n,
      |    row_number() OVER (PARTITION BY l_returnflag
      |      ORDER BY n DESC, l_quantity) AS rn
      |  FROM counts)
      |SELECT l_returnflag, l_quantity AS mode_qty, n AS mode_n
      |FROM ranked WHERE rn = 1
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.lineitem(s, d)
      .groupBy("l_returnflag", "l_quantity").agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("l_returnflag")
      .orderBy(col("n").desc, col("l_quantity"))
    counts.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("n").as("mode_n"))
      .orderBy("l_returnflag")
  }

  /** WINSORIZED robust aggregates: per event_type, clip values to the
    * exact [p05, p95] ORDER STATISTICS (q98's cume_dist selection —
    * discrete quantiles are actual data values, engine-identical;
    * interpolated quantiles are not) and report the clipped mean with
    * clip counts. The standard outlier-robust rollup for metrics
    * pipelines where a few bad rows (sensor spikes, test events)
    * would otherwise own the mean.
    *
    * Exactness: bound selection compares raw doubles (IEEE-stable),
    * clipped values aggregate as DECIMAL (exact in any order), and
    * the mean is one final double division. Plan: one per-type window
    * for cume_dist, a bounds broadcast back onto the scan, one hash
    * aggregate. Per-type windows put a whole type on one task — fine
    * for bounded type alphabets; a high-cardinality flavor would use
    * q181's two-level decomposition. */
  val qWinsorize: GraftQuery = GraftQuery(
    "q184_winsorize",
    """WITH cd AS (
      |  SELECT event_type, value,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
      |  FROM events),
      |bounds AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cd >= 0.05 THEN value END) AS lo,
      |    MIN(CASE WHEN cd >= 0.95 THEN value END) AS hi
      |  FROM cd GROUP BY event_type),
      |clipped AS (
      |  SELECT e.event_type, b.lo, b.hi,
      |    CAST(CASE WHEN e.value < b.lo THEN b.lo
      |              WHEN e.value > b.hi THEN b.hi
      |              ELSE e.value END AS DECIMAL(14,2)) AS cv,
      |    CAST(e.value < b.lo AS BIGINT) AS is_lo,
      |    CAST(e.value > b.hi AS BIGINT) AS is_hi
      |  FROM events e JOIN bounds b USING (event_type))
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n,
      |  MAX(lo) AS p05, MAX(hi) AS p95,
      |  CAST(SUM(is_lo) AS BIGINT) AS clipped_lo,
      |  CAST(SUM(is_hi) AS BIGINT) AS clipped_hi,
      |  CAST(SUM(cv) AS DOUBLE) / COUNT(*) AS winsor_mean
      |FROM clipped
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("value")
    val bounds = Tables.events(s, d)
      .select(col("event_type"), col("value"), cume_dist().over(w).as("cd"))
      .groupBy("event_type")
      .agg(min(when(col("cd") >= 0.05, col("value"))).as("lo"),
        min(when(col("cd") >= 0.95, col("value"))).as("hi"))
    Tables.events(s, d)
      .join(broadcast(bounds), Seq("event_type"))
      .select(col("event_type"), col("lo"), col("hi"),
        when(col("value") < col("lo"), col("lo"))
          .when(col("value") > col("hi"), col("hi"))
          .otherwise(col("value")).cast("decimal(14,2)").as("cv"),
        (col("value") < col("lo")).cast("bigint").as("is_lo"),
        (col("value") > col("hi")).cast("bigint").as("is_hi"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max("lo").as("p05"), max("hi").as("p95"),
        sum("is_lo").as("clipped_lo"), sum("is_hi").as("clipped_hi"),
        (sum("cv").cast("double") / count(lit(1))).as("winsor_mean"))
      .orderBy("event_type")
  }

  /** HALF-LIFE DECAYED COUNTS — the trending/recency rollup: each
    * event contributes 2^(30−age_days), so yesterday counts half of
    * today and anything older than 30 days contributes 0. The decay
    * weight is a BIT SHIFT on a BIGINT — Q30 fixed-point, no pow(),
    * no doubles anywhere — so the "exponentially decayed counter"
    * every trending dashboard runs is bit-exact and
    * partitioning-independent.
    *
    * Plan: one map-side-combined groupBy to (type, day) — bounded by
    * the type alphabet × day span — then the reference day via an
    * unpartitioned window over THAT tiny relation (never the fact
    * table) and a second tiny aggregate. */
  val qDecayedCounts: GraftQuery = GraftQuery(
    "q186_decayed_counts",
    """WITH per_day AS (
      |  SELECT event_type, CAST(ts AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
      |w AS (
      |  SELECT event_type, day, n, MAX(day) OVER () AS max_day FROM per_day),
      |wt AS (
      |  SELECT event_type, n, CAST(max_day - day AS BIGINT) AS age,
      |    CASE WHEN max_day - day <= 30
      |         THEN (CAST(1 AS BIGINT) << CAST(30 - (max_day - day) AS INTEGER))
      |         ELSE CAST(0 AS BIGINT) END AS wgt
      |  FROM w)
      |SELECT event_type,
      |  CAST(SUM(n) AS BIGINT) AS n_total,
      |  CAST(SUM(n * wgt) AS BIGINT) AS decayed_q30,
      |  CAST(MIN(age) AS INTEGER) AS newest_age,
      |  CAST(MAX(age) AS INTEGER) AS oldest_age
      |FROM wt
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    decayedQ30(Tables.events(s, d)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))
  }

  /** q186's tail over a per-(event_type, day) count census `n`: the
    * Q30 fixed-point decay weighting — shared with q188, which serves
    * it over the streamed daily partials. */
  private[graft] def decayedQ30(perDay: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    perDay
      .withColumn("max_day", max("day").over(Window.partitionBy()))
      .withColumn("age", datediff(col("max_day"), col("day")).cast("long"))
      .withColumn("wgt",
        when(col("age") <= 30,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - age AS INT))"))
          .otherwise(lit(0L)))
      .groupBy("event_type")
      .agg(sum("n").as("n_total"),
        sum(col("n") * col("wgt")).as("decayed_q30"),
        min("age").cast("int").as("newest_age"),
        max("age").cast("int").as("oldest_age"))
      .orderBy("event_type")
  }

  /** REFERENTIAL-INTEGRITY SWEEP — the FK half of the dq family
    * (q09/q10 cover unique/not-null): every foreign-key edge of the
    * star schema checked in one report, each as a single left join +
    * conditional count (orphans = child rows whose parent key is
    * missing). The generator's star schema is referentially clean at
    * every SF (verified — all five edges report 0 orphans), so the
    * oracle pins the clean path; the violating path is pinned by the
    * spec's planted-orphan check instead.
    *
    * 100 TB: dimension parents broadcast; the one fact-fact edge
    * (lineitem→orders) is a keyed shuffle join — exactly the join
    * the warehouse already pays, reused as a data contract. ppm is
    * the q170 integer cross-multiplication. */
  val qReferentialIntegrity: GraftQuery = GraftQuery(
    "q187_referential_integrity", {
      def fkSql(name: String, child: String, ck: String,
          parent: String, pk: String): String =
        s"""SELECT '$name' AS fk,
           |  CAST(COUNT(*) AS BIGINT) AS n_child,
           |  CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans,
           |  CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) * 1000000
           |    // COUNT(*) AS BIGINT) AS orphan_ppm
           |FROM $child c LEFT JOIN $parent p ON c.$ck = p.$pk""".stripMargin
      Seq(
        fkSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        fkSql("events->customer", "events", "user_id", "customer", "c_custkey"),
        fkSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        fkSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        fkSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY fk")
    }) { (s, d) =>
    Seq(
      fkCheck("customer->nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey", broadcastParent = true),
      fkCheck("events->customer", Tables.events(s, d), "user_id",
        Tables.customer(s, d), "c_custkey", broadcastParent = true),
      fkCheck("lineitem->orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey", broadcastParent = false),
      fkCheck("lineitem->part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey", broadcastParent = true),
      fkCheck("orders->customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", broadcastParent = true))
      .reduce(_ unionByName _)
      .orderBy("fk")
  }

  /** One FK edge of the q187 report: left-join the child's key column
    * against the (distinct) parent key; orphan = NULL parent side. */
  def fkCheck(name: String, child: DataFrame, ck: String,
      parent: DataFrame, pk: String, broadcastParent: Boolean): DataFrame = {
    val p = parent.select(col(pk)).distinct()
    child.select(col(ck))
      .join(if (broadcastParent) broadcast(p) else p,
        col(ck) === col(pk), "left")
      .agg(count(lit(1)).as("n_child"),
        sum(when(col(pk).isNull, 1L).otherwise(0L)).as("n_orphans"))
      .select(lit(name).as("fk"), col("n_child"), col("n_orphans"),
        expr("n_orphans * 1000000 div n_child").as("orphan_ppm"))
  }

  /** DATA-CONTRACT DASHBOARD — every check class in ONE report (the
    * page an on-call reads): row-level value contracts over the fact
    * table (uniqueness, not-null, the reference's positive /
    * speed-limit macro semantics) plus the five q187 FK edges, each
    * normalized to (check, n_checked, n_violations, violation_ppm).
    *
    * Each value check is one conditional aggregate over a SHARED
    * single scan pass (one job, map-side combined — the q10 fused
    * discipline); uniqueness rides the same pass as a distinct-count
    * delta. FK rows reuse [[fkCheck]] verbatim. ppm is the exact
    * cross-multiplied integer everywhere. */
  val qContractDashboard: GraftQuery = GraftQuery(
    "q196_contract_dashboard", {
      def fkSql(name: String, child: String, ck: String,
          parent: String, pk: String): String =
        s"""SELECT 'fk_$name' AS chk,
           |  CAST(COUNT(*) AS BIGINT) AS n_checked,
           |  CAST(SUM(CASE WHEN p.$pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_violations
           |FROM $child c LEFT JOIN $parent p ON c.$ck = p.$pk""".stripMargin
      s"""WITH vals AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(COUNT(*) - COUNT(DISTINCT event_id) AS BIGINT) AS dup_ids,
         |    CAST(SUM(CASE WHEN user_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_users,
         |    CAST(SUM(CASE WHEN value <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS non_positive,
         |    CAST(SUM(CASE WHEN value > 300 THEN 1 ELSE 0 END) AS BIGINT) AS over_limit
         |  FROM events),
         |checks AS (
         |  SELECT 'unique_event_id' AS chk, n AS n_checked, dup_ids AS n_violations FROM vals
         |  UNION ALL SELECT 'not_null_user_id', n, null_users FROM vals
         |  UNION ALL SELECT 'positive_value', n, non_positive FROM vals
         |  UNION ALL SELECT 'value_limit_300', n, over_limit FROM vals
         |  UNION ALL ${fkSql("customer_nation", "customer", "c_nationkey", "nation", "n_nationkey")}
         |  UNION ALL ${fkSql("events_customer", "events", "user_id", "customer", "c_custkey")}
         |  UNION ALL ${fkSql("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")}
         |  UNION ALL ${fkSql("lineitem_part", "lineitem", "l_partkey", "part", "p_partkey")}
         |  UNION ALL ${fkSql("orders_customer", "orders", "o_custkey", "customer", "c_custkey")})
         |SELECT chk, n_checked, n_violations,
         |  CAST(n_violations * 1000000 // n_checked AS BIGINT) AS violation_ppm
         |FROM checks
         |ORDER BY chk""".stripMargin
    }) { (s, d) =>
    val vals = Tables.events(s, d).agg(
      count(lit(1)).as("n"),
      (count(lit(1)) - countDistinct(col("event_id"))).as("dup_ids"),
      sum(when(col("user_id").isNull, 1L).otherwise(0L)).as("null_users"),
      sum(when(col("value") <= 0, 1L).otherwise(0L)).as("non_positive"),
      sum(when(col("value") > 300, 1L).otherwise(0L)).as("over_limit"))
    // ONE aggregate row unpivoted via stack — the four value checks
    // share a single scan (referencing `vals` four times would plan
    // four separate aggregations over the fact table)
    val valChecks = vals.select(col("n").as("n_checked"),
      expr("""stack(4,
        'unique_event_id', dup_ids,
        'not_null_user_id', null_users,
        'positive_value', non_positive,
        'value_limit_300', over_limit) AS (chk, n_violations)"""))
      .select("chk", "n_checked", "n_violations")
    def fkRow(name: String, child: DataFrame, ck: String,
        parent: DataFrame, pk: String, bc: Boolean): DataFrame =
      fkCheck(s"fk_$name", child, ck, parent, pk, bc)
        .select(col("fk").as("chk"), col("n_child").as("n_checked"),
          col("n_orphans").as("n_violations"))
    Seq(
      valChecks,
      fkRow("customer_nation", Tables.customer(s, d), "c_nationkey",
        Tables.nation(s, d), "n_nationkey", bc = true),
      fkRow("events_customer", Tables.events(s, d), "user_id",
        Tables.customer(s, d), "c_custkey", bc = true),
      fkRow("lineitem_orders", Tables.lineitem(s, d), "l_orderkey",
        Tables.orders(s, d), "o_orderkey", bc = false),
      fkRow("lineitem_part", Tables.lineitem(s, d), "l_partkey",
        Tables.part(s, d), "p_partkey", bc = true),
      fkRow("orders_customer", Tables.orders(s, d), "o_custkey",
        Tables.customer(s, d), "c_custkey", bc = true))
      .reduce(_ unionByName _)
      .select(col("chk"), col("n_checked"), col("n_violations"),
        expr("n_violations * 1000000 div n_checked").as("violation_ppm"))
      .orderBy("chk")
  }

  /** q208's histogram sketch: per (event_type, unit-width integer
    * bin) counts over a batch or streaming events relation. */
  private[graft] def sketchBins(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"), floor(col("value")).cast("long").as("bin"))
      .agg(count(lit(1)).as("n"))

  /** The sketch read as a CDF: per event_type the occupied bins, the
    * event count and the p50/p90/p99 bin estimates — shared by q208
    * and q210, which reads them off the streamed state. */
  private[graft] def sketchEstimates(bins: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wCum = Window.partitionBy("event_type").orderBy("bin")
    val wTot = Window.partitionBy("event_type")
    bins
      .withColumn("cum", sum("n").over(wCum))
      .withColumn("total", sum("n").over(wTot))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n_bins"),
        max("total").as("n_events"),
        min(when(col("cum") * 100 >= col("total") * 50, col("bin"))).as("p50_est"),
        min(when(col("cum") * 100 >= col("total") * 90, col("bin"))).as("p90_est"),
        min(when(col("cum") * 100 >= col("total") * 99, col("bin"))).as("p99_est"))
  }

  /** HISTOGRAM-SKETCH QUANTILES WITH A PROVEN ERROR BOUND — the
    * bounded-state substitute for exact order statistics at 100 TB:
    * per event_type, values collapse to unit-width integer bins
    * (`floor(value)` — exact on doubles in both engines), the
    * histogram is read as a CDF for p50/p90/p99 ESTIMATES, and each
    * estimate is emitted NEXT TO the exact q98 discrete quantile with
    * their difference. The estimate can only sit at or below the
    * exact order statistic's bin floor, so `0 ≤ exact − est < 1` (one
    * bin width) — emitted per row and spec-asserted, the q151/q172
    * estimator-vs-oracle discipline.
    *
    * Why it matters at scale: the exact side needs a per-type SORT of
    * every value (q98's window); the sketch side is one map-side-
    * combinable hash aggregate to ≤ |types|·|bins| rows that MERGES BY
    * ADDITION — partition-order-free, streamable, unionable across
    * days. This query carries both so the correctness gate re-proves
    * the error bound on every run.
    *
    * All CDF selection is integer arithmetic on counts (cum·20 ≥ p·n
    * style cross-multiplies, no double cume_dist). */
  val qQuantileSketch: GraftQuery = GraftQuery(
    "q208_quantile_sketch",
    """WITH bins AS (
      |  SELECT event_type, CAST(floor(value) AS BIGINT) AS bin,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM events GROUP BY event_type, CAST(floor(value) AS BIGINT)),
      |cdf AS (
      |  SELECT event_type, bin, n,
      |    CAST(SUM(n) OVER (PARTITION BY event_type ORDER BY bin) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER (PARTITION BY event_type) AS BIGINT) AS total
      |  FROM bins),
      |est AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cum * 100 >= 50 * total THEN bin END) AS p50_est,
      |    MIN(CASE WHEN cum * 100 >= 90 * total THEN bin END) AS p90_est,
      |    MIN(CASE WHEN cum * 100 >= 99 * total THEN bin END) AS p99_est
      |  FROM cdf GROUP BY event_type),
      |cd AS (
      |  SELECT event_type, value,
      |    cume_dist() OVER (PARTITION BY event_type ORDER BY value) AS cd
      |  FROM events),
      |exact AS (
      |  SELECT event_type,
      |    MIN(CASE WHEN cd >= 0.5 THEN value END) AS p50_exact,
      |    MIN(CASE WHEN cd >= 0.9 THEN value END) AS p90_exact,
      |    MIN(CASE WHEN cd >= 0.99 THEN value END) AS p99_exact
      |  FROM cd GROUP BY event_type)
      |SELECT e.event_type,
      |  x.p50_exact, e.p50_est, x.p50_exact - CAST(e.p50_est AS DOUBLE) AS p50_err,
      |  x.p90_exact, e.p90_est, x.p90_exact - CAST(e.p90_est AS DOUBLE) AS p90_err,
      |  x.p99_exact, e.p99_est, x.p99_exact - CAST(e.p99_est AS DOUBLE) AS p99_err
      |FROM est e JOIN exact x USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val est = sketchEstimates(sketchBins(Tables.events(s, d)))
    val wCd = Window.partitionBy("event_type").orderBy("value")
    val exact = Tables.events(s, d)
      .select(col("event_type"), col("value"), cume_dist().over(wCd).as("cd"))
      .groupBy("event_type").agg(
        min(when(col("cd") >= 0.5, col("value"))).as("p50_exact"),
        min(when(col("cd") >= 0.9, col("value"))).as("p90_exact"),
        min(when(col("cd") >= 0.99, col("value"))).as("p99_exact"))
    est.join(exact, "event_type")
      .select(col("event_type"),
        col("p50_exact"), col("p50_est"),
        (col("p50_exact") - col("p50_est").cast("double")).as("p50_err"),
        col("p90_exact"), col("p90_est"),
        (col("p90_exact") - col("p90_est").cast("double")).as("p90_err"),
        col("p99_exact"), col("p99_est"),
        (col("p99_exact") - col("p99_est").cast("double")).as("p99_err"))
      .orderBy("event_type")
  }

  /** BENFORD FIRST-DIGIT AUDIT: the leading-significant-digit census
    * of order totals against the Benford expectation — the forensic
    * data-quality screen for fabricated or mis-scaled numeric columns
    * (genuine multi-decade financial data follows log10(1+1/d);
    * synthetic or clipped generators don't, and THIS generator's
    * uniform-by-magnitude totals are exactly the kind of distribution
    * the audit is built to flag). Joins the q196 contract dashboard as
    * a distributional check next to its row-level checks.
    *
    * Exactness: the first digit comes from the BIGINT integer part
    * rendered as a string (integer→varchar is identical across
    * engines; no log10/pow round-trips, whose rounding at decade
    * boundaries is not bit-specified). Expected shares are the fixed
    * integer-ppm Benford table (floor(log10(1+1/d)·10⁶) precomputed
    * once, same literals both sides); observed shares are integer ppm
    * by cross-multiplication. Totals < 1 would have no leading digit
    * in this scheme and are counted out explicitly (none in this
    * corpus — the oracle proves it by matching).
    *
    * Scale: one map-side-combinable 9-group census over the corpus;
    * the expected table is a 9-row literal relation. */
  val qBenford: GraftQuery = GraftQuery(
    "q238_benford_audit",
    """WITH digits AS (
      |  SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |      AS VARCHAR), 1, 1) AS BIGINT) AS digit
      |  FROM orders WHERE o_totalprice >= 1),
      |obs AS (
      |  SELECT digit, CAST(count(*) AS BIGINT) AS n,
      |    CAST(SUM(count(*)) OVER () AS BIGINT) AS total
      |  FROM digits GROUP BY digit),
      |exp AS (
      |  SELECT * FROM (VALUES (1, 301029), (2, 176091), (3, 124938),
      |    (4, 96910), (5, 79181), (6, 66946), (7, 57991), (8, 51152),
      |    (9, 45757)) AS t(digit, exp_ppm))
      |SELECT CAST(exp.digit AS BIGINT) AS digit,
      |  CAST(COALESCE(obs.n, 0) AS BIGINT) AS n,
      |  CAST(COALESCE((obs.n * 1000000) // obs.total, 0) AS BIGINT)
      |    AS obs_ppm,
      |  CAST(exp.exp_ppm AS BIGINT) AS exp_ppm,
      |  CAST(COALESCE((obs.n * 1000000) // obs.total, 0) - exp.exp_ppm
      |    AS BIGINT) AS dev_ppm
      |FROM exp LEFT JOIN obs ON exp.digit = obs.digit
      |ORDER BY exp.digit""".stripMargin) { (s, d) =>
    import s.implicits._
    val benford = Seq((1L, 301029L), (2L, 176091L), (3L, 124938L),
      (4L, 96910L), (5L, 79181L), (6L, 66946L), (7L, 57991L),
      (8L, 51152L), (9L, 45757L)).toDF("digit", "exp_ppm")
    val obs = Tables.orders(s, d)
      .where(col("o_totalprice") >= 1)
      .select(substring(floor(col("o_totalprice")).cast("long")
        .cast("string"), 1, 1).cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
      .select(col("digit"), col("n"),
        sum("n").over(org.apache.spark.sql.expressions.Window.partitionBy())
          .as("total"))
    benford.join(obs, Seq("digit"), "left")
      .select(col("digit"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(expr("(n * 1000000) div total"), lit(0L)).as("obs_ppm"),
        col("exp_ppm"),
        (coalesce(expr("(n * 1000000) div total"), lit(0L)) - col("exp_ppm"))
          .as("dev_ppm"))
      .orderBy("digit")
  }

  /** UNPIVOT (melt): q44's wide pivot turned back to long form with
    * `Dataset.unpivot`, zero-filled cells dropped. The oracle is the
    * ORIGINAL long-form aggregate — pivot then unpivot is the
    * identity on the non-empty cells, and this query proves it.
    * Scale: unpivot is a per-row Expand (narrow, no shuffle); the one
    * exchange is q44's own groupBy. */
  val qUnpivot: GraftQuery = GraftQuery(
    "q249_unpivot",
    """SELECT user_id, event_type, COUNT(*) AS n
      |FROM events
      |WHERE event_type IN ('click', 'view', 'purchase', 'signup', 'error')
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    val types = Seq("click", "view", "purchase", "signup", "error")
    val wide = Tables.events(s, d)
      .groupBy("user_id")
      .pivot("event_type", types)
      .agg(count(lit(1)))
      .na.fill(0L)
    wide.unpivot(Array(col("user_id")), types.map(col).toArray, "event_type", "n")
      .where(col("n") > 0)
      .orderBy("user_id", "event_type")
  }

  /** MapType plumbing: per-user map event_type -> exact value total
    * (map_from_entries over the grouped sums — keys unique by
    * construction, so ANSI map building cannot throw), introspected
    * with map_keys / try_element_at (ANSI element_at THROWS on a
    * missing key; the try_ form gives SQL's NULL). Outputs are
    * extracted scalars — map iteration order never surfaces (keys
    * sorted before joining). Scale: one (user, type) hash aggregate,
    * then a user-keyed regroup; the map lives inside a row, bounded by
    * the event-type alphabet. */
  val qMapProps: GraftQuery = GraftQuery(
    "q250_map_funcs",
    """SELECT user_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_types,
      |  string_agg(event_type, ',' ORDER BY event_type) AS types_csv,
      |  CAST(COALESCE(MAX(CASE WHEN event_type = 'click' THEN v END), 0) AS DOUBLE) AS click_total
      |FROM (SELECT user_id, event_type,
      |        SUM(CAST(value AS DECIMAL(20,6))) AS v
      |      FROM events GROUP BY user_id, event_type)
      |GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val perType = Tables.events(s, d)
      .groupBy("user_id", "event_type")
      .agg(sum(col("value").cast("decimal(20,6)")).as("v"))
    perType
      .groupBy("user_id")
      .agg(map_from_entries(collect_list(struct(col("event_type"), col("v"))))
        .as("m"))
      .select(
        col("user_id"),
        size(map_keys(col("m"))).cast("bigint").as("n_types"),
        array_join(array_sort(map_keys(col("m"))), ",").as("types_csv"),
        coalesce(try_element_at(col("m"), lit("click")), lit(0).cast("decimal(20,6)"))
          .cast("double").as("click_total"))
      .orderBy("user_id")
  }

  /** HIGHER-ORDER-FUNCTION surface: transform / filter / aggregate /
    * zip_with composed per row — token-length statistics computed
    * entirely INSIDE the array column (no explode, no shuffle until
    * the final lang census). The zip_with pairs each token length
    * with its successor (two aligned slices — equal lengths, so the
    * null-padding hazard never fires), giving per-doc length
    * volatility; everything is integer-exact through the lang rollup.
    *
    * Scale (100 TB): all four HOFs are per-row codegen expressions —
    * the array never leaves its row and the only exchange is the
    * |langs|-row aggregate. The lambda binds the SPLIT ARRAY to a
    * real column first (the q64 lesson: Spark does not CSE inside HOF
    * lambdas — a raw split in the lambda re-tokenizes per element). */
  val qHofTokens: GraftQuery = GraftQuery(
    "q279_hof_tokens",
    """WITH lens AS (
      |  SELECT lang,
      |    list_transform(string_split(text, ' '), t -> CAST(length(t) AS BIGINT)) AS l
      |  FROM documents),
      |per_doc AS (
      |  SELECT lang,
      |    COALESCE(list_aggregate(l, 'sum'), 0) AS total_chars,
      |    CAST(len(list_filter(l, x -> x > 3)) AS BIGINT) AS long_tokens,
      |    CAST(len(l) AS BIGINT) AS n_tokens,
      |    COALESCE(list_aggregate(list_transform(
      |      list_zip(l[1:len(l)-1], l[2:len(l)]),
      |      z -> abs(z[2] - z[1])), 'sum'), 0) AS volatility
      |  FROM lens)
      |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(n_tokens) AS BIGINT) AS tokens,
      |  CAST(SUM(total_chars) AS BIGINT) AS token_chars,
      |  CAST(SUM(long_tokens) AS BIGINT) AS long_tokens,
      |  CAST(SUM(volatility) AS BIGINT) AS volatility
      |FROM per_doc GROUP BY lang ORDER BY lang""".stripMargin) { (s, d) =>
    val lens = Tables.documents(s, d).select(col("lang"),
      transform(split(col("text"), " "), t => length(t).cast("long")).as("l"))
    val perDoc = lens.select(col("lang"),
      coalesce(aggregate(col("l"), lit(0L), (acc, x) => acc + x), lit(0L))
        .as("total_chars"),
      size(filter(col("l"), _ > 3)).cast("long").as("long_tokens"),
      size(col("l")).cast("long").as("n_tokens"),
      coalesce(aggregate(
        zip_with(
          slice(col("l"), lit(1), size(col("l")) - 1),
          slice(col("l"), lit(2), size(col("l")) - 1),
          (a, b) => abs(b - a)),
        lit(0L), (acc, x) => acc + x), lit(0L)).as("volatility"))
    perDoc.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_tokens").as("tokens"),
      sum("total_chars").as("token_chars"),
      sum("long_tokens").as("long_tokens"),
      sum("volatility").as("volatility"))
      .orderBy("lang")
  }

  /** dbt SOURCE FRESHNESS: max loaded-at per source vs an injected
    * "now" (E4's fixed-date discipline — the check is a pure function
    * of data + configured clock), with warn/error thresholds applied
    * in EXACT integer seconds. The report a scheduler gates runs on:
    * age, status, and the thresholds that produced it.
    *
    * Scale (100 TB): per source ONE max aggregate — the parquet
    * footer max statistic makes this metadata-only on a real
    * lakehouse table; everything else is a constant-width census. */
  val qSourceFreshness: GraftQuery = GraftQuery(
    "q286_source_freshness",
    """WITH loads AS (
      |  SELECT 'events' AS source, max(ts) AS max_loaded_at FROM events
      |  UNION ALL
      |  SELECT 'orders', max(o_orderdate) FROM orders),
      |aged AS (
      |  SELECT source, max_loaded_at,
      |    CAST(floor(epoch(TIMESTAMP '2024-02-05 00:00:00')) AS BIGINT)
      |      - CAST(floor(epoch(max_loaded_at)) AS BIGINT) AS age_s
      |  FROM loads)
      |SELECT source, max_loaded_at, age_s,
      |  CASE WHEN age_s > 1209600 THEN 'error'
      |       WHEN age_s > 345600 THEN 'warn'
      |       ELSE 'pass' END AS status
      |FROM aged ORDER BY source""".stripMargin) { (s, d) =>
    val now = to_timestamp(lit("2024-02-05 00:00:00"))
    val loads = Tables.events(s, d)
      .agg(max(col("ts")).as("max_loaded_at"))
      .select(lit("events").as("source"), col("max_loaded_at"))
      .unionByName(Tables.orders(s, d)
        .agg(max(col("o_orderdate")).as("max_loaded_at"))
        .select(lit("orders").as("source"), col("max_loaded_at")))
    loads
      .withColumn("age_s",
        unix_timestamp(now).cast("long")
          - unix_timestamp(col("max_loaded_at")).cast("long"))
      .select(col("source"), col("max_loaded_at"), col("age_s"),
        when(col("age_s") > 1209600L, "error")
          .when(col("age_s") > 345600L, "warn")
          .otherwise("pass").as("status"))
      .orderBy("source")
  }

  /** dbt ACCEPTED_VALUES tests: the last reference-family test form
    * not yet in the q196 dashboard — set-membership contracts on a
    * closed categorical domain. Three checks: event_type against its
    * five known values (the PASSING state — zero violations is the
    * contract holding), o_orderpriority against the TPC-H domain, and
    * the props.k extract against the configured 0..49 window (REAL
    * violations — the alerting state). Exact integer ppm everywhere.
    *
    * Scale (100 TB): each check is one conditional aggregate fused
    * into a single scan of its table — the q10/q196 physics. */
  val qAcceptedValues: GraftQuery = GraftQuery(
    "q287_accepted_values",
    """WITH ev AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type NOT IN
      |      ('click', 'view', 'purchase', 'signup', 'error')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS bad_type,
      |    CAST(SUM(CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT)
      |      NOT BETWEEN 0 AND 49 THEN 1 ELSE 0 END) AS BIGINT) AS bad_k
      |  FROM events),
      |op AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN o_orderpriority NOT IN
      |      ('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW')
      |      THEN 1 ELSE 0 END) AS BIGINT) AS bad
      |  FROM orders),
      |checks AS (
      |  SELECT 'accepted_event_type' AS chk, n AS n_checked, bad_type AS n_violations FROM ev
      |  UNION ALL SELECT 'accepted_props_k', n, bad_k FROM ev
      |  UNION ALL SELECT 'accepted_orderpriority', n, bad FROM op)
      |SELECT chk, n_checked, n_violations,
      |  CAST((n_violations * 1000000) // n_checked AS BIGINT) AS violation_ppm
      |FROM checks ORDER BY chk""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).agg(
      count(lit(1)).as("n"),
      sum(when(!col("event_type").isin(
        "click", "view", "purchase", "signup", "error"), 1L).otherwise(0L))
        .as("bad_type"),
      sum(when(!get_json_object(col("props"), "$.k").cast("long")
        .between(0, 49), 1L).otherwise(0L)).as("bad_k"))
    val op = Tables.orders(s, d).agg(
      count(lit(1)).as("n"),
      sum(when(!col("o_orderpriority").isin(
        "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 1L)
        .otherwise(0L)).as("bad"))
    val checks = ev.select(lit("accepted_event_type").as("chk"),
        col("n").as("n_checked"), col("bad_type").as("n_violations"))
      .unionByName(ev.select(lit("accepted_props_k").as("chk"),
        col("n").as("n_checked"), col("bad_k").as("n_violations")))
      .unionByName(op.select(lit("accepted_orderpriority").as("chk"),
        col("n").as("n_checked"), col("bad").as("n_violations")))
    checks
      .withColumn("violation_ppm", expr("(n_violations * 1000000) div n_checked"))
      .orderBy("chk")
  }

  def all: Seq[GraftQuery] = Seq(qHofTokens, qSourceFreshness, qAcceptedValues,
    qPivot, qExplodeTokens, qMathFuncs, qSqlApi,
    qRegexRoute, qApproxDistinct, qPercentiles, qCube,
    qWindowExtras, qArrayFuncs, qStringFuncs2, qUnionByName,
    qBoolAggs, qStringAgg, qQuantileDisc, qModeDeterministic, qWinsorize,
    qDecayedCounts, qReferentialIntegrity, qContractDashboard, qQuantileSketch,
    qBenford, qUnpivot, qMapProps)
}
