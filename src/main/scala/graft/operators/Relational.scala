package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Relational operator catalog: the reference's query surface
  * (SURVEY §2 — scans S*, projections P*, filters F*, aggregations A*,
  * window W1, dedup §2.6, sorts/limits §2.7, set ops §2.8, scalar
  * expressions E*) re-expressed over the driver testdata star schema,
  * plus the joins/aggregations a real deployment of this engine needs
  * (the reference itself is single-table; SURVEY §2.3).
  *
  * Scale design notes (100 TB):
  *  - Dimension joins broadcast (region/nation/customer-side);
  *    fact-fact joins shuffle on their keys and rely on AQE for
  *    skew splitting.
  *  - All aggregations are partial-aggregatable (hash aggregate with
  *    map-side combine) — no `collect`-and-loop anywhere.
  *  - Top-k is `ORDER BY ... LIMIT k` → Spark plans
  *    TakeOrderedAndProject (per-partition heap + driver merge), never
  *    a global sort.
  *  - Decimal-sum-then-double pattern keeps aggregates exact and
  *    order-insensitive, which is ALSO the right call at scale: the
  *    result doesn't drift as partitioning changes.
  */
object Relational {

  private def dec(c: Column, p: Int, s: Int): Column = c.cast(s"decimal($p,$s)")
  private val one = lit(1).cast("decimal(3,2)")

  /** TPC-H Q1-shaped pricing summary (agg A1-family + E6 arithmetic). */
  val q01PricingSummary: GraftQuery = GraftQuery(
    "q01_pricing_summary",
    """SELECT l_returnflag, l_linestatus,
      |  SUM(l_quantity) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS sum_disc_price,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))) * (CAST(1 AS DECIMAL(3,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE) AS sum_charge,
      |  AVG(l_quantity) AS avg_qty,
      |  COUNT(*) AS count_order
      |FROM lineitem
      |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
      |GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    headline = true) { (s, d) =>
    val price = dec(col("l_extendedprice"), 12, 2)
    val disc = dec(col("l_discount"), 4, 2)
    val tax = dec(col("l_tax"), 4, 2)
    Tables.lineitem(s, d)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        // l_quantity is integral-valued double: exact under fp sum
        sum(col("l_quantity")).as("sum_qty"),
        sum(price).cast("double").as("sum_base_price"),
        sum(price * (one - disc)).cast("double").as("sum_disc_price"),
        sum(price * (one - disc) * (one + tax)).cast("double").as("sum_charge"),
        avg(col("l_quantity")).as("avg_qty"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** Projection + conjunctive filters pushed to the scan (P2/P3, F2;
    * per-row double arithmetic — IEEE-deterministic, no decimal needed). */
  val q02FilterProject: GraftQuery = GraftQuery(
    "q02_filter_project",
    """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
      |  l_extendedprice * (1 - l_discount) AS revenue,
      |  CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
      |  AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
      |  AND l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .where(col("l_shipdate") >= to_timestamp(lit("1996-01-01 00:00:00")) &&
        col("l_shipdate") < to_timestamp(lit("1998-01-01 00:00:00")) &&
        col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
        col("l_extendedprice"), col("l_discount"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"),
        col("l_shipdate").cast("date").as("ship_date"))
      .orderBy("l_orderkey", "l_linenumber")
  }

  /** 3-way join + aggregation + top-k (customer is the broadcast side
    * here; at 100 TB customer is still ~1000× smaller than lineitem —
    * broadcast remains right up to the broadcast threshold, beyond
    * which AQE falls back to shuffle join). */
  val q03TopCustomers: GraftQuery = GraftQuery(
    "q03_top_customers",
    """SELECT c.c_custkey, c.c_name,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(DISTINCT o.o_orderkey) AS n_orders
      |FROM customer c
      |JOIN orders o ON c.c_custkey = o.o_custkey
      |JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |WHERE o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
      |GROUP BY c.c_custkey, c.c_name
      |ORDER BY revenue DESC, c_custkey
      |LIMIT 10""".stripMargin,
    headline = true) { (s, d) =>
    // Pre-aggregate lineitem to one row per order BEFORE the join:
    // partial aggregation combines map-side, so the orderkey shuffle
    // carries ~|orders| rows instead of ~|lineitem|, and the per-
    // customer COUNT(DISTINCT o_orderkey) degenerates to a plain
    // count of per-order rows — no expand/two-phase distinct.
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") < to_timestamp(lit("1998-01-01 00:00:00")))
    val perOrder = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice"), 12, 2) * (one - dec(col("l_discount"), 4, 2)))
        .as("order_rev"))
    perOrder.join(o, col("l_orderkey") === o("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("order_rev")).as("rev_dec"), count(lit(1)).as("n_orders"))
      .join(broadcast(c), col("o_custkey") === c("c_custkey"))
      .select(col("c_custkey"), col("c_name"),
        col("rev_dec").cast("double").as("revenue"), col("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(10)
  }

  /** Star-schema join through two broadcast dims (TPC-H Q5 shape). */
  val q04RegionalRevenue: GraftQuery = GraftQuery(
    "q04_regional_revenue",
    """SELECT n.n_name,
      |  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2)) * (CAST(1 AS DECIMAL(3,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_lines
      |FROM lineitem l
      |JOIN orders o ON l.l_orderkey = o.o_orderkey
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |JOIN region r ON n.n_regionkey = r.r_regionkey
      |WHERE r.r_name IN ('ASIA', 'EUROPE')
      |  AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      |GROUP BY n.n_name
      |ORDER BY revenue DESC, n_name""".stripMargin,
    headline = true) { (s, d) =>
    // Same pre-aggregation as q03: collapse lineitem to one row per
    // order (map-side combine) before the fact-fact join, then carry
    // (sum, count) through the broadcast-dim chain.
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= to_timestamp(lit("1996-01-01 00:00:00")))
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d).where(col("r_name").isin("ASIA", "EUROPE"))
    val perOrder = Tables.lineitem(s, d)
      .groupBy(col("l_orderkey"))
      .agg(sum(dec(col("l_extendedprice"), 12, 2) * (one - dec(col("l_discount"), 4, 2)))
        .as("order_rev"), count(lit(1)).as("order_lines"))
    perOrder.join(o, col("l_orderkey") === o("o_orderkey"))
      .join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("n_name")
      .agg(
        sum(col("order_rev")).cast("double").as("revenue"),
        sum(col("order_lines")).as("n_lines"))
      .orderBy(col("revenue").desc, col("n_name"))
  }

  /** Left-semi join (EXISTS): orders having a high-quantity line. */
  val q05OrderPriority: GraftQuery = GraftQuery(
    "q05_order_priority",
    """SELECT o_orderpriority, COUNT(*) AS n
      |FROM orders o
      |WHERE EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
    val o = Tables.orders(s, d)
    val l = Tables.lineitem(s, d).where(col("l_quantity") > 45)
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** Left-anti join (NOT EXISTS): customers with no recent order. */
  val q06InactiveCustomers: GraftQuery = GraftQuery(
    "q06_inactive_customers",
    """SELECT c_custkey, c_name, c_mktsegment, c_acctbal
      |FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
      .where(col("o_orderdate") >= to_timestamp(lit("2000-01-01 00:00:00")))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")
      .orderBy("c_custkey")
  }

  /** The reference's dedup composite (W1 + F2, core_texi.sql:57-62,99):
    * md5 surrogate key, row_number partition, keep rank 1. Order key is
    * (value DESC, event_id DESC) — fully deterministic, unlike the
    * reference's all-tied ingestion_date (SURVEY §2.6). */
  val q07WindowDedup: GraftQuery = GraftQuery(
    "q07_window_dedup",
    """WITH keyed AS (
      |  SELECT md5(concat_ws('-', CAST(user_id AS VARCHAR), event_type)) AS unique_key, *
      |  FROM events),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY unique_key
      |                               ORDER BY value DESC, event_id DESC) AS rn
      |  FROM keyed)
      |SELECT unique_key, event_id, user_id, event_type, value
      |FROM ranked WHERE rn = 1
      |ORDER BY unique_key""".stripMargin,
    headline = true) { (s, d) =>
    val keyed = Tables.events(s, d).withColumn("unique_key",
      md5(concat_ws("-", col("user_id").cast("string"), col("event_type"))))
    val w = Window.partitionBy("unique_key")
      .orderBy(col("value").desc, col("event_id").desc)
    keyed.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select("unique_key", "event_id", "user_id", "event_type", "value")
      .orderBy("unique_key")
  }

  /** Full core_texi pipeline shape (SURVEY §7.2) on `events`:
    * not-null filter (F1) → typed projection + JSON field extract
    * (P2/E3/T3) → PG-concat-semantics md5 key (E1/E2) → window dedup →
    * guarded derived columns (E7) + boolean CASE flag (E8) → bound
    * filters (F2). Fixed ingestion_date injected (E4, SURVEY §5.2). */
  val q08CoreEventsModel: GraftQuery = GraftQuery(
    "q08_core_events_model",
    """WITH filtered AS (
      |  SELECT * FROM events WHERE ts IS NOT NULL AND value IS NOT NULL),
      |typed AS (
      |  SELECT
      |    md5(COALESCE(CAST(event_id AS VARCHAR), '') || '-' ||
      |        COALESCE(CAST(user_id AS VARCHAR), '') || '-' ||
      |        COALESCE(event_type, '')) AS unique_id,
      |    DATE '2026-01-01' AS ingestion_date,
      |    CAST(event_id AS BIGINT) AS event_id,
      |    CAST(user_id AS BIGINT) AS user_id,
      |    event_type,
      |    CAST(value AS DOUBLE) AS value,
      |    CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_val
      |  FROM filtered),
      |ranked AS (
      |  SELECT *, row_number() OVER (PARTITION BY unique_id
      |                               ORDER BY ingestion_date DESC) AS rn
      |  FROM typed)
      |SELECT unique_id, ingestion_date, event_id, user_id, event_type, value, k_val,
      |  CASE WHEN k_val > 0 AND value > 0 THEN value / k_val ELSE NULL END AS value_per_k,
      |  CASE WHEN value > 100 THEN true ELSE false END AS is_big
      |FROM ranked
      |WHERE rn = 1 AND value > 0 AND k_val >= 0
      |ORDER BY unique_id""".stripMargin,
    headline = true) { (s, d) =>
    import graft.models.TaxiModels.uniqueId
    val typed = Tables.events(s, d)
      .where(col("ts").isNotNull && col("value").isNotNull)
      .select(
        uniqueId(Seq(col("event_id"), col("user_id"), col("event_type"))).as("unique_id"),
        lit("2026-01-01").cast("date").as("ingestion_date"),
        col("event_id").cast("long").as("event_id"),
        col("user_id").cast("long").as("user_id"),
        col("event_type"),
        col("value").cast("double").as("value"),
        get_json_object(col("props"), "$.k").cast("int").as("k_val"))
    val w = Window.partitionBy("unique_id").orderBy(col("ingestion_date").desc)
    typed.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("value") > 0 && col("k_val") >= 0)
      .withColumn("value_per_k",
        when(col("k_val") > 0 && col("value") > 0,
          col("value") / col("k_val")).otherwise(lit(null)))
      .withColumn("is_big", when(col("value") > 100, true).otherwise(false))
      .drop("rn")
      .orderBy("unique_id")
  }

  /** dbt `unique` test compiled form (A1, schema.yml:18): group-by-
    * having over the violating key. */
  val q09DqUniqueViolations: GraftQuery = GraftQuery(
    "q09_dq_unique_violations",
    """SELECT user_id, event_type, COUNT(*) AS n
      |FROM events GROUP BY user_id, event_type HAVING COUNT(*) > 1
      |ORDER BY user_id, event_type""".stripMargin) { (s, d) =>
    Tables.events(s, d)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .where(col("n") > 1)
      .orderBy("user_id", "event_type")
  }

  /** Fused data-quality pass (A2/A3 at scale): ALL violation counts in
    * one scan via conditional aggregation — the row-test half of
    * DataQuality.runAll's one-action suite, in SQL. */
  val q10DqFusedCounts: GraftQuery = GraftQuery(
    "q10_dq_fused_counts",
    """SELECT
      |  COUNT(CASE WHEN l_orderkey IS NULL THEN 1 END) AS orderkey_nulls,
      |  COUNT(CASE WHEN l_quantity <= 0 THEN 1 END) AS qty_nonpositive,
      |  COUNT(CASE WHEN l_discount < 0 OR l_discount > 0.5 THEN 1 END) AS discount_oob,
      |  COUNT(CASE WHEN l_shipdate IS NULL THEN 1 END) AS shipdate_nulls,
      |  COUNT(*) AS total_rows
      |FROM lineitem""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).agg(
      count(when(col("l_orderkey").isNull, 1)).as("orderkey_nulls"),
      count(when(col("l_quantity") <= 0, 1)).as("qty_nonpositive"),
      count(when(col("l_discount") < 0 || col("l_discount") > 0.5, 1)).as("discount_oob"),
      count(when(col("l_shipdate").isNull, 1)).as("shipdate_nulls"),
      count(lit(1)).as("total_rows"))
  }

  /** Ordered top-k (L1 + sort): Spark plans TakeOrderedAndProject —
    * per-partition heaps, no global sort, scales to any input size. */
  val q11TopkOrders: GraftQuery = GraftQuery(
    "q11_topk_orders",
    """SELECT o_orderkey, o_custkey, o_totalprice, CAST(o_orderdate AS DATE) AS order_date
      |FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey
      |LIMIT 100""".stripMargin,
    headline = true) { (s, d) =>
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
        col("o_orderdate").cast("date").as("order_date"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Conditional aggregation + distinct-count + exact-decimal avg. */
  val q12ConditionalAgg: GraftQuery = GraftQuery(
    "q12_conditional_agg",
    """SELECT event_type,
      |  COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value,
      |  COUNT(CASE WHEN value > 100 THEN 1 END) AS n_big,
      |  COUNT(DISTINCT date_trunc('day', ts)) AS n_days,
      |  CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) / COUNT(*) AS avg_value
      |FROM events
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val sumDec = sum(dec(col("value"), 14, 2)).cast("double")
    Tables.events(s, d).groupBy("event_type").agg(
      count(lit(1)).as("n"),
      sumDec.as("sum_value"),
      count(when(col("value") > 100, 1)).as("n_big"),
      countDistinct(date_trunc("day", col("ts"))).as("n_days"),
      (sumDec / count(lit(1))).as("avg_value"))
      .orderBy("event_type")
  }

  /** ROLLUP grouping sets (beyond-reference capability, §2.4 note). */
  val q13RollupRevenue: GraftQuery = GraftQuery(
    "q13_rollup_revenue",
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM lineitem
      |GROUP BY ROLLUP (l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"),
        sum(dec(col("l_extendedprice"), 12, 2)).cast("double").as("sum_price"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Set operations: INTERSECT / UNION(distinct) / EXCEPT (§2.8). */
  val q14SetOps: GraftQuery = GraftQuery(
    "q14_set_ops",
    """SELECT custkey FROM (
      |  SELECT custkey FROM (
      |    SELECT c_custkey AS custkey FROM customer WHERE c_mktsegment = 'BUILDING'
      |    INTERSECT
      |    SELECT o_custkey AS custkey FROM orders WHERE o_totalprice > 150000
      |  ) UNION
      |  SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
      |) EXCEPT
      |SELECT o_custkey AS custkey FROM orders
      |WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
      |ORDER BY custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    val building = c.where(col("c_mktsegment") === "BUILDING")
      .select(col("c_custkey").as("custkey"))
    val bigOrders = o.where(col("o_totalprice") > 150000)
      .select(col("o_custkey").as("custkey"))
    val negBal = c.where(col("c_acctbal") < 0).select(col("c_custkey").as("custkey"))
    val early = o.where(col("o_orderdate") < to_timestamp(lit("1996-01-01 00:00:00")))
      .select(col("o_custkey").as("custkey"))
    building.intersect(bigOrders).union(negBal).distinct()
      .except(early)
      .orderBy("custkey")
  }

  /** String scalar-function surface (E-series + T-series analogs). */
  val q15StringFuncs: GraftQuery = GraftQuery(
    "q15_string_funcs",
    """SELECT p_partkey,
      |  upper(p_name) AS name_upper,
      |  lower(p_brand) AS brand_lower,
      |  substring(p_type, 1, 5) AS type_prefix,
      |  CAST(length(p_name) AS INTEGER) AS name_len,
      |  replace(p_name, ' ', '_') AS name_snake,
      |  concat_ws('|', p_brand, p_type) AS brand_type,
      |  p_name LIKE '%a%' AS has_a,
      |  trim(p_name) AS name_trim
      |FROM part
      |ORDER BY p_partkey""".stripMargin) { (s, d) =>
    Tables.part(s, d).select(
      col("p_partkey"),
      upper(col("p_name")).as("name_upper"),
      lower(col("p_brand")).as("brand_lower"),
      substring(col("p_type"), 1, 5).as("type_prefix"),
      length(col("p_name")).as("name_len"),
      regexp_replace(col("p_name"), " ", "_").as("name_snake"),
      concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
      col("p_name").like("%a%").as("has_a"),
      trim(col("p_name")).as("name_trim"))
      .orderBy("p_partkey")
  }

  /** Date/time scalar-function surface (E4/E5-family). DuckDB
    * year()/etc return BIGINT and dayofweek is 0-based — the oracle
    * side casts/shifts to match Spark's INT / 1-based-Sunday. */
  val q16DateFuncs: GraftQuery = GraftQuery(
    "q16_date_funcs",
    """SELECT o_orderkey,
      |  CAST(year(o_orderdate) AS INTEGER) AS yr,
      |  CAST(month(o_orderdate) AS INTEGER) AS mo,
      |  CAST(day(o_orderdate) AS INTEGER) AS dd,
      |  CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
      |  CAST(dayofweek(o_orderdate) AS INTEGER) + 1 AS dow,
      |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
      |  CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS plus_30d,
      |  CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2000-01-01') AS INTEGER) AS days_to_y2k,
      |  CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start
      |FROM orders
      |ORDER BY o_orderkey""".stripMargin) { (s, d) =>
    Tables.orders(s, d).select(
      col("o_orderkey"),
      year(col("o_orderdate")).as("yr"),
      month(col("o_orderdate")).as("mo"),
      dayofmonth(col("o_orderdate")).as("dd"),
      quarter(col("o_orderdate")).as("qtr"),
      dayofweek(col("o_orderdate")).as("dow"),
      last_day(col("o_orderdate")).as("month_end"),
      date_add(col("o_orderdate"), 30).as("plus_30d"),
      datediff(lit("2000-01-01").cast("date"), col("o_orderdate")).as("days_to_y2k"),
      date_trunc("month", col("o_orderdate")).as("month_start"))
      .orderBy("o_orderkey")
  }

  /** Min/max/count stats — raw-double min/max are order-insensitive
    * and exact; no decimal detour needed. */
  val q17AggStats: GraftQuery = GraftQuery(
    "q17_agg_stats",
    """SELECT l_returnflag,
      |  MIN(l_quantity) AS min_qty, MAX(l_quantity) AS max_qty,
      |  MIN(l_extendedprice) AS min_price, MAX(l_extendedprice) AS max_price,
      |  COUNT(DISTINCT l_partkey) AS n_parts,
      |  COUNT(DISTINCT l_suppkey) AS n_supps,
      |  MIN(CAST(l_shipdate AS DATE)) AS first_ship,
      |  MAX(CAST(l_shipdate AS DATE)) AS last_ship
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin) { (s, d) =>
    Tables.lineitem(s, d).groupBy("l_returnflag").agg(
      min(col("l_quantity")).as("min_qty"), max(col("l_quantity")).as("max_qty"),
      min(col("l_extendedprice")).as("min_price"), max(col("l_extendedprice")).as("max_price"),
      countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"),
      min(col("l_shipdate").cast("date")).as("first_ship"),
      max(col("l_shipdate").cast("date")).as("last_ship"))
      .orderBy("l_returnflag")
  }

  /** Left outer join with COUNT(col) null-skipping semantics. */
  val q18CustomerOrderCounts: GraftQuery = GraftQuery(
    "q18_customer_order_counts",
    """SELECT c.c_custkey, c.c_name, COUNT(o.o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(COALESCE(o.o_totalprice, 0) AS DECIMAL(14,2))) AS DOUBLE) AS total_spend
      |FROM customer c
      |LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY c.c_custkey, c.c_name
      |ORDER BY c_custkey""".stripMargin) { (s, d) =>
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d)
    c.join(o, c("c_custkey") === o("o_custkey"), "left")
      .groupBy("c_custkey", "c_name")
      .agg(count(col("o_orderkey")).as("n_orders"),
        sum(dec(coalesce(col("o_totalprice"), lit(0)), 14, 2)).cast("double").as("total_spend"))
      .orderBy("c_custkey")
  }

  /** Window analytics beyond row_number: rank / lag / running frames
    * (W-family extension; orderdate+orderkey is a deterministic order). */
  val q19WindowAnalytics: GraftQuery = GraftQuery(
    "q19_window_analytics",
    """SELECT o_orderkey, o_custkey, o_totalprice,
      |  row_number() OVER w AS rn,
      |  rank() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS price_rank,
      |  lag(o_totalprice) OVER w AS prev_price,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(14,2))) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRank = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc)
    Tables.orders(s, d).select(
      col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
      row_number().over(w).as("rn"),
      rank().over(wRank).as("price_rank"),
      lag(col("o_totalprice"), 1).over(w).as("prev_price"),
      sum(dec(col("o_totalprice"), 14, 2))
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .cast("double").as("running_spend"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Sessionization via lag-gap analysis (streaming-adjacent batch
    * pattern; epoch seconds sidestep the ns-vs-µs hazard). */
  val q20Sessionize: GraftQuery = GraftQuery(
    "q20_sessionize",
    """WITH ordered AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |    lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_sec
      |  FROM events),
      |flagged AS (
      |  SELECT *, CASE WHEN prev_sec IS NULL OR ts_sec - prev_sec > 3600
      |                 THEN 1 ELSE 0 END AS new_session
      |  FROM ordered)
      |SELECT user_id, COUNT(*) AS n_events,
      |  CAST(SUM(new_session) AS BIGINT) AS n_sessions
      |FROM flagged GROUP BY user_id
      |ORDER BY user_id""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_id"),
        unix_timestamp(col("ts")).as("ts_sec"), col("ts"))
      .withColumn("prev_sec", lag(col("ts_sec"), 1).over(w))
      .withColumn("new_session",
        when(col("prev_sec").isNull || col("ts_sec") - col("prev_sec") > 3600, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), sum(col("new_session")).as("n_sessions"))
      .orderBy("user_id")
  }

  def all: Seq[GraftQuery] = Seq(
    q01PricingSummary, q02FilterProject, q03TopCustomers, q04RegionalRevenue,
    q05OrderPriority, q06InactiveCustomers, q07WindowDedup, q08CoreEventsModel,
    q09DqUniqueViolations, q10DqFusedCounts, q11TopkOrders, q12ConditionalAgg,
    q13RollupRevenue, q14SetOps, q15StringFuncs, q16DateFuncs, q17AggStats,
    q18CustomerOrderCounts, q19WindowAnalytics, q20Sessionize)
}
