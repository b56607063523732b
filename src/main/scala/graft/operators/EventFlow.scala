package graft.operators

import graft.GraftQuery
import graft.sources.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-flow analytics: the first-order Markov TRANSITION MATRIX of
  * event types within per-user streams — which action follows which,
  * and with what conditional probability. The behavioral twin of
  * q175's attribution (same per-user (ts, event_id) ordering, same
  * single user_id exchange): funnels ask "did the user reach step
  * k?", the transition matrix asks "where does traffic FLOW?" — the
  * input to next-action prediction and anomaly detection on event
  * streams.
  *
  * Conditional probabilities are exact integer ppm
  * ((n·1_000_000) div from_total — the q163/q181 convention): no
  * doubles near comparisons, partition-independent, engine-stable.
  *
  * Scale (100 TB): ONE exchange on user_id; lead() evaluates inside
  * the sorted partition; the (from, to) aggregate is map-side
  * combinable with at most |types|² = 25 groups — the output relation
  * is O(1) in corpus size. A trillion events yield the same 25-row
  * matrix through partial aggregation; nothing downstream of the
  * window ever shuffles more than the type-pair census.
  */
object EventFlow {

  val qTransitions: GraftQuery = GraftQuery(
    "q221_event_transitions",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lead(event_type) OVER (
      |      PARTITION BY user_id ORDER BY ts, event_id) AS next_type
      |  FROM events),
      |pairs AS (
      |  SELECT event_type AS from_type, next_type AS to_type,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE next_type IS NOT NULL
      |  GROUP BY event_type, next_type),
      |totals AS (
      |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS from_total
      |  FROM pairs GROUP BY from_type)
      |SELECT p.from_type, p.to_type, p.n, t.from_total,
      |  CAST((p.n * 1000000) // t.from_total AS BIGINT) AS p_ppm
      |FROM pairs p JOIN totals t USING (from_type)
      |ORDER BY from_type, to_type""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val pairs = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lead(col("event_type"), 1).over(w).as("next_type"))
      .where(col("next_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("next_type").as("to_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy("from_type").agg(sum("n").as("from_total"))
    pairs.join(totals, "from_type")
      .select(col("from_type"), col("to_type"), col("n"), col("from_total"),
        expr("(n * 1000000) div from_total").as("p_ppm"))
      .orderBy("from_type", "to_type")
  }

  /** THEIL–SEN ROBUST TREND per event type: the median of all
    * pairwise day-over-day slopes of the daily event counts — the
    * estimator that shrugs off the outlier days a least-squares slope
    * chases (up to ~29% contamination). The volume-trend monitor next
    * to q204's MAD outlier gate: MAD asks "which days are weird",
    * Theil–Sen asks "is the series actually growing".
    *
    * Exactness: slopes are RATIONALS (Δcount, Δdays) — never divided
    * before ranking is settled. The rank order uses the IEEE double
    * quotient (one correctly-rounded division, identical in both
    * engines) with a (den, num) tie-break so equal-valued rationals
    * order deterministically; the reported median is the exact
    * integer pair plus its quotient. Lower median at even counts
    * (rank = (n+1) div 2).
    *
    * Scale: the pairwise stage squares the DAY COUNT (time-span
    * bounded — 365 days is 66k pairs), not the event count; daily
    * counts are one map-side-combinable aggregate over the corpus.
    * Per-type windows are bounded by the same day-pair count. */
  val qTheilSen: GraftQuery = GraftQuery(
    "q232_theilsen_trend",
    """WITH daily AS (
      |  SELECT event_type,
      |    CAST(CAST(date_trunc('day', ts) AS DATE) - DATE '2024-01-01' AS INTEGER) AS d,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |slopes AS (
      |  SELECT a.event_type,
      |    b.n - a.n AS num, CAST(b.d - a.d AS BIGINT) AS den,
      |    CAST(b.n - a.n AS DOUBLE) / (b.d - a.d) AS v
      |  FROM daily a JOIN daily b
      |    ON a.event_type = b.event_type AND a.d < b.d),
      |ranked AS (
      |  SELECT event_type, num, den, v,
      |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY v, den, num) AS rn,
      |    COUNT(*) OVER (PARTITION BY event_type) AS cnt
      |  FROM slopes),
      |med AS (
      |  SELECT event_type, num, den, v, cnt FROM ranked
      |  WHERE rn = (cnt + 1) // 2),
      |days AS (
      |  SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days FROM daily GROUP BY 1)
      |SELECT m.event_type, d.n_days, CAST(m.cnt AS BIGINT) AS n_pairs,
      |  CAST(m.num AS BIGINT) AS slope_num, m.den AS slope_den, m.v AS slope
      |FROM med m JOIN days d USING (event_type)
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        datediff(date_trunc("day", col("ts")).cast("date"),
          lit("2024-01-01").cast("date")).as("d"))
      .agg(count(lit(1)).as("n"))
    val slopes = daily.as("a").join(daily.as("b"),
        col("a.event_type") === col("b.event_type") && col("a.d") < col("b.d"))
      .select(col("a.event_type").as("event_type"),
        (col("b.n") - col("a.n")).as("num"),
        (col("b.d") - col("a.d")).cast("long").as("den"))
      .withColumn("v", col("num").cast("double") / col("den"))
    val w = Window.partitionBy("event_type")
    val ranked = slopes
      .withColumn("rn", row_number().over(w.orderBy(col("v"), col("den"), col("num"))))
      .withColumn("cnt", count(lit(1)).over(w))
    val med = ranked.where(col("rn") === expr("(cnt + 1) div 2"))
    val days = daily.groupBy("event_type").agg(count(lit(1)).as("n_days"))
    med.join(days, "event_type")
      .select(col("event_type"), col("n_days"), col("cnt").as("n_pairs"),
        col("num").as("slope_num"), col("den").as("slope_den"), col("v").as("slope"))
      .orderBy("event_type")
  }

  /** The distinct-delay census of first-view → first-purchase delays
    * with its cumulative window, `(delay_us, cum, total)` — shared by
    * q234 (percentile_disc) and q272 (percentile_cont). The census
    * holds unique keys, so the window's RANGE frame equals ROWS and
    * the sum is unambiguous. */
  private def delayCdf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val ev = Tables.events(s, d).select(col("user_id"),
      col("event_type"), unix_micros(col("ts")).as("ts_us"))
    val v = ev.where(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts_us").as("first_view_us"))
    val p = ev.where(col("event_type") === "purchase")
      .join(v, Seq("user_id"))
      .where(col("ts_us") >= col("first_view_us"))
      .groupBy("user_id").agg(min("ts_us").as("first_purchase_us"))
    val delays = v.join(p, "user_id")
      .select((col("first_purchase_us") - col("first_view_us")).as("delay_us"))
    delays.groupBy("delay_us").agg(count(lit(1)).as("n"))
      .select(col("delay_us"),
        sum("n").over(Window.orderBy("delay_us")).as("cum"),
        sum("n").over(Window.partitionBy()).as("total"))
  }

  /** CONVERSION-DELAY QUANTILES: how long users take from their first
    * `view` to their first subsequent `purchase` — the time-to-convert
    * distribution behind funnel SLAs and attribution windows (q175
    * answers WHICH touch converts, this answers HOW FAST). Delays are
    * exact integer microseconds (unix_micros both engines — events.ts
    * is µs-truncated on read, QueryDef ground rules) and the reported
    * p50/p90/p99 are percentile_disc — ACTUAL observed delays, not
    * interpolated values, selected with pure integer rank arithmetic
    * (cum·k ≥ total·q, the q163 no-doubles-near-comparisons rule).
    *
    * Scale (100 TB): the per-user first-view / first-purchase mins are
    * map-side-combinable aggregates with ONE exchange on user_id (the
    * view⋈purchase join reuses that partitioning); everything after is
    * O(converted users), then collapsed to the DISTINCT-DELAY census
    * before any global window — the unpartitioned cumulative sum runs
    * over that compact histogram, never over events (and degrades
    * gracefully: a µs-grain worst case is still one row per distinct
    * observed latency; bucket the delay to ms at ingest if even that
    * is too wide, or swap in the q208 mergeable histogram sketch). */
  val qConversionDelay: GraftQuery = GraftQuery(
    "q234_conversion_delay",
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS first_view_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |    AND epoch_us(e.ts) >= v.first_view_us
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY e.user_id),
      |d AS (
      |  SELECT p.first_purchase_us - v.first_view_us AS delay_us
      |  FROM v JOIN p ON v.user_id = p.user_id),
      |h AS (
      |  SELECT delay_us, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM d GROUP BY delay_us),
      |c AS (
      |  SELECT delay_us,
      |    CAST(SUM(n) OVER (ORDER BY delay_us) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER () AS BIGINT) AS total
      |  FROM h)
      |SELECT CAST(MAX(total) AS BIGINT) AS n_converted,
      |  MIN(CASE WHEN cum * 2 >= total THEN delay_us END) AS p50_us,
      |  MIN(CASE WHEN cum * 10 >= total * 9 THEN delay_us END) AS p90_us,
      |  MIN(CASE WHEN cum * 100 >= total * 99 THEN delay_us END) AS p99_us
      |FROM c""".stripMargin) { (s, d) =>
    delayCdf(s, d).agg(max("total").as("n_converted"),
      min(when(col("cum") * 2 >= col("total"), col("delay_us"))).as("p50_us"),
      min(when(col("cum") * 10 >= col("total") * 9, col("delay_us"))).as("p90_us"),
      min(when(col("cum") * 100 >= col("total") * 99, col("delay_us"))).as("p99_us"))
  }

  /** CUSUM CHANGEPOINT per event type: the day where the cumulative
    * deviation of daily counts from the series mean peaks — the
    * classic offline single-changepoint estimator (Page's CUSUM,
    * argmax form). Completes the volume-monitoring triptych: q204's
    * MAD flags WHICH days are outliers, q232's Theil–Sen asks IS the
    * series trending, CUSUM asks WHEN the level shifted.
    *
    * Exactness: deviations are kept in integer units scaled by the
    * day count — `S_d = Σ_{i≤d} (c_i·D − T)` where T is the total and
    * D the number of observed days, so S_d = D·(classic CUSUM) with
    * zero rounding anywhere. The changepoint is argmax |S_d| with an
    * earliest-day tie-break; `direction` is the sign of S at the
    * argmax (+1 = level DROPPED after the changepoint: early days sat
    * above the mean).
    *
    * Scale (100 TB): daily counts are one map-side-combinable
    * aggregate over the corpus; everything after runs on the
    * O(types × days) census — the cumulative window and the argmax
    * rank both touch ≤ |types|·|days| rows at any event volume. */
  val qCusum: GraftQuery = GraftQuery(
    "q237_cusum_changepoint",
    """WITH daily AS (
      |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM events GROUP BY 1, 2),
      |tot AS (
      |  SELECT event_type, CAST(sum(c) AS BIGINT) AS t,
      |    CAST(count(*) AS BIGINT) AS d_days
      |  FROM daily GROUP BY event_type),
      |cum AS (
      |  SELECT daily.event_type, daily.day, tot.d_days, tot.t,
      |    CAST(SUM(daily.c * tot.d_days - tot.t) OVER (
      |      PARTITION BY daily.event_type ORDER BY daily.day) AS BIGINT) AS s
      |  FROM daily JOIN tot ON daily.event_type = tot.event_type),
      |ranked AS (
      |  SELECT event_type, day, d_days, t, s,
      |    row_number() OVER (PARTITION BY event_type
      |                       ORDER BY abs(s) DESC, day) AS rk
      |  FROM cum)
      |SELECT event_type, day AS cp_day, abs(s) AS s_abs,
      |  CAST(CASE WHEN s > 0 THEN 1 WHEN s < 0 THEN -1 ELSE 0 END AS BIGINT)
      |    AS direction,
      |  d_days, t AS n_events
      |FROM ranked WHERE rk = 1
      |ORDER BY event_type""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(col("event_type"),
        date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("c"))
    val tot = daily.groupBy("event_type")
      .agg(sum("c").as("t"), count(lit(1)).as("d_days"))
    val wCum = Window.partitionBy("event_type").orderBy("day")
    val cum = daily.join(tot, "event_type")
      .select(col("event_type"), col("day"), col("d_days"), col("t"),
        sum(col("c") * col("d_days") - col("t")).over(wCum).as("s"))
    val wRank = Window.partitionBy("event_type")
      .orderBy(abs(col("s")).desc, col("day"))
    cum.select(col("event_type"), col("day"), col("d_days"), col("t"),
      col("s"), row_number().over(wRank).as("rk"))
      .where(col("rk") === 1)
      .select(col("event_type"), col("day").as("cp_day"),
        abs(col("s")).as("s_abs"),
        when(col("s") > 0, 1L).when(col("s") < 0, -1L).otherwise(0L)
          .as("direction"),
        col("d_days"), col("t").as("n_events"))
      .orderBy("event_type")
  }

  /** SECOND-ORDER transition matrix: given the last TWO actions, what
    * comes next — q221's first-order Markov chain extended one step of
    * memory (the "top user journeys" path census). Conditional
    * probability is relative to the (e1, e2) CONTEXT total, exact
    * integer ppm (the q221 convention).
    *
    * Scale: the same single user_id exchange as q221 — both lags
    * evaluate inside one sorted partition pass; the trigram census is
    * map-side combinable with ≤ |types|³ = 125 groups, O(1) in corpus
    * size. Memory order k raises only the output alphabet (|types|^k
    * rows), never the shuffle count — the window stays one pass. */
  val qTrigrams: GraftQuery = GraftQuery(
    "q253_event_trigrams",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type, 1) OVER w AS prev1,
      |    lag(event_type, 2) OVER w AS prev2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |tri AS (
      |  SELECT prev2 AS e1, prev1 AS e2, event_type AS e3,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE prev2 IS NOT NULL
      |  GROUP BY prev2, prev1, event_type),
      |ctx AS (
      |  SELECT e1, e2, CAST(SUM(n) AS BIGINT) AS ctx_total
      |  FROM tri GROUP BY e1, e2)
      |SELECT t.e1, t.e2, t.e3, t.n, c.ctx_total,
      |  CAST((t.n * 1000000) // c.ctx_total AS BIGINT) AS p_ppm
      |FROM tri t JOIN ctx c USING (e1, e2)
      |ORDER BY e1, e2, e3""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tri = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev1"),
        lag(col("event_type"), 2).over(w).as("prev2"))
      .where(col("prev2").isNotNull)
      .groupBy(col("prev2").as("e1"), col("prev1").as("e2"),
        col("event_type").as("e3"))
      .agg(count(lit(1)).as("n"))
    val ctx = tri.groupBy("e1", "e2").agg(sum("n").as("ctx_total"))
    tri.join(ctx, Seq("e1", "e2"))
      .select(col("e1"), col("e2"), col("e3"), col("n"), col("ctx_total"),
        expr("(n * 1000000) div ctx_total").as("p_ppm"))
      .orderBy("e1", "e2", "e3")
  }

  /** CONTEXT PREDICTABILITY: Gini impurity of the next-action
    * distribution per (e1, e2) context — 1 − Σp² in exact integer ppm
    * (1e6 − Σn²·1e6 div total², no logs, no doubles: unlike entropy,
    * the Gini score is a RATIONAL of the counts, so it stays
    * engine-identical). gini_ppm = 0 means the two-step context fully
    * determines the next action (a deterministic flow edge worth
    * caching/prefetching); high values mark contexts where q253's
    * second-order memory buys nothing.
    *
    * Scale: reuses the q253 trigram census shape — one user_id
    * exchange, ≤ |types|³ groups; the squares go through DECIMAL(38,0)
    * so the statistic survives counts past 2³¹ without overflow
    * (DuckDB's SUM is HUGEINT — same 128-bit headroom). */
  val qContextGini: GraftQuery = GraftQuery(
    "q254_context_predictability",
    """WITH seq AS (
      |  SELECT user_id, event_type,
      |    lag(event_type, 1) OVER w AS prev1,
      |    lag(event_type, 2) OVER w AS prev2
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
      |tri AS (
      |  SELECT prev2 AS e1, prev1 AS e2, event_type AS e3,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM seq WHERE prev2 IS NOT NULL
      |  GROUP BY prev2, prev1, event_type)
      |SELECT e1, e2,
      |  CAST(SUM(n) AS BIGINT) AS n_ctx,
      |  CAST(COUNT(*) AS BIGINT) AS n_next,
      |  CAST(1000000 - (SUM(n * n) * 1000000) // (SUM(n) * SUM(n))
      |    AS BIGINT) AS gini_ppm
      |FROM tri
      |GROUP BY e1, e2
      |ORDER BY e1, e2""".stripMargin) { (s, d) =>
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
        lag(col("event_type"), 1).over(w).as("prev1"),
        lag(col("event_type"), 2).over(w).as("prev2"))
      .where(col("prev2").isNotNull)
      .groupBy(col("prev2").as("e1"), col("prev1").as("e2"),
        col("event_type").as("e3"))
      .agg(count(lit(1)).as("n"))
      .groupBy("e1", "e2")
      .agg(
        sum(col("n")).as("n_ctx"),
        count(lit(1)).as("n_next"),
        sum((col("n") * col("n")).cast("decimal(38,0)")).as("sumsq"))
      .select(col("e1"), col("e2"), col("n_ctx"), col("n_next"),
        (lit(1000000L) - expr(
          "(sumsq * 1000000) div (cast(n_ctx as decimal(38,0)) * cast(n_ctx as decimal(38,0)))"))
          .as("gini_ppm"))
      .orderBy("e1", "e2")
  }

  /** INTERPOLATED QUANTILES (percentile_cont) of the q234 conversion
    * delays — the SLA form that interpolates between observations
    * instead of picking one (q234 is percentile_disc). Neither
    * engine's builtin percentile_cont is used: the interpolation
    * position (n−1)·q/100 is an exact integer RATIONAL (pos div 100,
    * pos mod 100), both bracketing values are selected by pure
    * integer rank over the distinct-delay census, and the one double
    * operation — lo + (hi−lo)·frac — is mirrored verbatim, so the
    * output is engine-identical (builtin implementations disagree on
    * the position convention AND accumulate differently).
    *
    * Scale (100 TB): the q234 physics — per-user mins with one
    * user_id exchange, then everything runs on the distinct-delay
    * census; the quantile dimension is a narrow 2× explode on the
    * census, not a join. */
  val qInterpQuantiles: GraftQuery = GraftQuery(
    "q272_interp_quantiles",
    """WITH v AS (
      |  SELECT user_id, min(epoch_us(ts)) AS first_view_us
      |  FROM events WHERE event_type = 'view' GROUP BY user_id),
      |p AS (
      |  SELECT e.user_id, min(epoch_us(e.ts)) AS first_purchase_us
      |  FROM events e JOIN v ON e.user_id = v.user_id
      |    AND epoch_us(e.ts) >= v.first_view_us
      |  WHERE e.event_type = 'purchase'
      |  GROUP BY e.user_id),
      |d AS (
      |  SELECT p.first_purchase_us - v.first_view_us AS delay_us
      |  FROM v JOIN p ON v.user_id = p.user_id),
      |h AS (
      |  SELECT delay_us, CAST(COUNT(*) AS BIGINT) AS n
      |  FROM d GROUP BY delay_us),
      |c AS (
      |  SELECT delay_us,
      |    CAST(SUM(n) OVER (ORDER BY delay_us) AS BIGINT) AS cum,
      |    CAST(SUM(n) OVER () AS BIGINT) AS total
      |  FROM h),
      |expanded AS (
      |  SELECT c.delay_us, c.cum, c.total, q.qk,
      |    (c.total - 1) * q.qk AS pos_num
      |  FROM c CROSS JOIN (SELECT unnest([50, 90]) AS qk) q),
      |picked AS (
      |  SELECT CAST(qk AS INTEGER) AS qk, MAX(total) AS n_converted,
      |    MAX(pos_num // 100 + 1) AS lo_rank,
      |    MIN(CASE WHEN cum >= pos_num // 100 + 1 THEN delay_us END) AS v_lo,
      |    MIN(CASE WHEN cum >= least(total, pos_num // 100 + 2) THEN delay_us END) AS v_hi,
      |    MAX(pos_num % 100) AS frac_pct
      |  FROM expanded GROUP BY qk)
      |SELECT qk, CAST(n_converted AS BIGINT) AS n_converted,
      |  CAST(lo_rank AS BIGINT) AS lo_rank, v_lo, v_hi,
      |  CAST(frac_pct AS BIGINT) AS frac_pct,
      |  CAST(v_lo AS DOUBLE)
      |    + (CAST(v_hi AS DOUBLE) - CAST(v_lo AS DOUBLE)) * frac_pct / 100.0
      |    AS p_interp_us
      |FROM picked ORDER BY qk""".stripMargin) { (s, d) =>
    val expanded = delayCdf(s, d)
      .withColumn("qk", explode(array(lit(50L), lit(90L))))
      .withColumn("pos_num", (col("total") - 1) * col("qk"))
    val picked = expanded.groupBy(col("qk").cast("int").as("qk")).agg(
      max("total").as("n_converted"),
      max(expr("pos_num div 100 + 1")).as("lo_rank"),
      min(when(col("cum") >= expr("pos_num div 100 + 1"), col("delay_us"))).as("v_lo"),
      min(when(col("cum") >= least(col("total"), expr("pos_num div 100 + 2")),
        col("delay_us"))).as("v_hi"),
      max(expr("pos_num % 100")).as("frac_pct"))
    picked.select(col("qk"), col("n_converted"), col("lo_rank"),
      col("v_lo"), col("v_hi"), col("frac_pct"),
      (col("v_lo").cast("double")
        + (col("v_hi").cast("double") - col("v_lo").cast("double"))
          * col("frac_pct") / lit(100.0)).as("p_interp_us"))
      .orderBy("qk")
  }

  /** SLO BURN-RATE ALERT (the Google-SRE multiwindow rule): error
    * share per day against a 200,000-ppm error budget, paged only
    * when BOTH the fast window (1 day > 1.05× budget) and the slow
    * window (trailing 7 days > 1.0× budget) burn — the two-window
    * AND that kills both flappy pages (slow window vetoes blips) and
    * slow leaks going unnoticed (fast window catches spikes). Every
    * decision is an integer cross-multiplication (err·10⁶ > n·thr);
    * the ppm columns are exact. Daily grain keeps the rolling ROWS
    * frame aligned with real time on this corpus's dense calendar (a
    * sparse-grain deployment gap-fills from the q75 spine first).
    *
    * Scale (100 TB): one conditional count-by-day aggregate; the
    * rolling sums run over the O(days) census. */
  val qSloBurn: GraftQuery = GraftQuery(
    "q292_slo_burn",
    """WITH daily AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS err
      |  FROM events GROUP BY 1),
      |rolled AS (
      |  SELECT day, n, err,
      |    CAST(SUM(n) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS n7,
      |    CAST(SUM(err) OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS BIGINT) AS err7
      |  FROM daily)
      |SELECT day, n, err,
      |  CAST((err * 1000000) // n AS BIGINT) AS err_ppm,
      |  n7, err7,
      |  CAST((err7 * 1000000) // n7 AS BIGINT) AS err7_ppm,
      |  (err * 1000000 > n * 210000 AND err7 * 1000000 > n7 * 200000) AS page
      |FROM rolled ORDER BY day""".stripMargin) { (s, d) =>
    val daily = Tables.events(s, d)
      .groupBy(date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("err"))
    val w7 = Window.orderBy("day").rowsBetween(-6, Window.currentRow)
    val rolled = daily
      .withColumn("n7", sum("n").over(w7))
      .withColumn("err7", sum("err").over(w7))
    rolled.select(col("day"), col("n"), col("err"),
      expr("(err * 1000000) div n").as("err_ppm"),
      col("n7"), col("err7"),
      expr("(err7 * 1000000) div n7").as("err7_ppm"),
      (col("err") * 1000000L > col("n") * 210000L &&
        col("err7") * 1000000L > col("n7") * 200000L).as("page"))
      .orderBy("day")
  }

  /** RATE-LIMIT AUDIT (abuse detection): user-days whose event count
    * reaches the corpus-wide p99 of user-day activity — the
    * bot/scraper shortlist an abuse team reviews. The p99 threshold
    * is percentile_disc by pure integer rank over the DISTINCT-COUNT
    * census (cum·100 ≥ tot·99 — q234's rule), so the flag is
    * deterministic and partitioning-independent; each offender row
    * carries the threshold that flagged it plus its exact multiple of
    * the median user-day (cross-multiplied ppm).
    *
    * Scale (100 TB): one (user, day) count aggregate; the threshold
    * comes from the distinct-count census (bounded by the max
    * user-day activity, not user count); flagging is a scan filter
    * against one broadcast scalar census row. */
  val qRateLimitAudit: GraftQuery = GraftQuery(
    "q293_rate_limit_audit",
    """WITH ud AS (
      |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
      |    CAST(COUNT(*) AS BIGINT) AS n
      |  FROM events GROUP BY 1, 2),
      |census AS (
      |  SELECT n, CAST(COUNT(*) AS BIGINT) AS c FROM ud GROUP BY n),
      |cum AS (
      |  SELECT n, SUM(c) OVER (ORDER BY n ROWS UNBOUNDED PRECEDING) AS cw,
      |    SUM(c) OVER () AS tot
      |  FROM census),
      |thr AS (
      |  SELECT MIN(CASE WHEN cw * 100 >= tot * 99 THEN n END) AS p99,
      |    MIN(CASE WHEN cw * 2 >= tot THEN n END) AS p50
      |  FROM cum)
      |SELECT u.user_id, u.day, u.n, t.p99, t.p50,
      |  CAST((u.n * 1000000) // t.p50 AS BIGINT) AS x_median_ppm
      |FROM ud u CROSS JOIN thr t
      |WHERE u.n >= t.p99
      |ORDER BY u.day, u.user_id""".stripMargin) { (s, d) =>
    val ud = Tables.events(s, d)
      .groupBy(col("user_id"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("n"))
    val census = ud.groupBy("n").agg(count(lit(1)).as("c"))
    val cum = census
      .withColumn("cw", sum("c").over(Window.orderBy("n")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("tot", sum("c").over(Window.partitionBy()))
    val thr = cum.agg(
      min(when(col("cw") * 100 >= col("tot") * 99, col("n"))).as("p99"),
      min(when(col("cw") * 2 >= col("tot"), col("n"))).as("p50"))
      .withColumn("one", lit(1))
    ud.withColumn("one", lit(1))
      .join(broadcast(thr), "one")
      .where(col("n") >= col("p99"))
      .select(col("user_id"), col("day"), col("n"), col("p99"), col("p50"),
        expr("(n * 1000000) div p50").as("x_median_ppm"))
      .orderBy("day", "user_id")
  }

  def all: Seq[GraftQuery] =
    Seq(qTransitions, qTheilSen, qConversionDelay, qCusum, qTrigrams,
      qContextGini, qInterpQuantiles, qSloBurn, qRateLimitAudit)
}
