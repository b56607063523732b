package graft.operators

import graft.GraftQuery
import graft.model.{Materialization, Model, ModelRegistry}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-checked model-framework queries: the dbt-style materialization
  * contracts exercised end to end THROUGH the registry (not just
  * spec-level), with the final table contents hash-compared.
  *
  * Batch composition is chosen so every contract branch produces rows
  * at every scale factor (user_id mod 3 partitions the key space):
  *   - users ≡ 0: in both runs with DIFFERENT stats (run 2 sees only
  *     post-cut events) → upsert-overwrite / SCD2 close-and-reopen
  *   - users ≡ 1: only in run 2 → new-key insert / first-open at T2
  *   - users ≡ 2: only in run 1 → preserve-untouched / stays open at T1
  *
  * Results are memoized per (session, corpus): the lambdas materialize
  * real tables (two registry runs), which plan-only consumers must not
  * re-execute; temp dirs are registered for JVM-exit deletion.
  */
object ModelQueries {

  private val cut = "2024-01-20 00:00:00"

  private val resultCache =
    new graft.spark.SessionMemo[(String, String), DataFrame](
      "modelqueries.results")(_.unpersist(): Unit)

  private def cached(s: SparkSession, d: String, tag: String)(f: => DataFrame): DataFrame =
    resultCache.getOrElseUpdate(s, (d, tag))(f)

  private def tmpDir(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    // deleteOnExit can't remove non-empty dirs — recursive-delete hook
    sys.addShutdownHook {
      def del(f: java.io.File): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(del))
        f.delete()
      }
      del(p.toFile)
    }
    p.toString
  }

  private def userStatsOf(df: DataFrame): DataFrame =
    df.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      sum(col("value").cast("decimal(14,2)")).cast("double").as("sum_value"))

  private def run1Input(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).where(pmod(col("user_id"), lit(3)) =!= 1)

  private def run2Input(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
    ev.where(pmod(col("user_id"), lit(3)) === 1 ||
      (pmod(col("user_id"), lit(3)) === 0 && col("ts") >= to_timestamp(lit(cut))))
  }

  // Shared oracle CTEs: full-history stats and post-cut stats per user.
  private val statsCtes =
    s"""fullstats AS (
       |  SELECT user_id, COUNT(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
       |  FROM events GROUP BY user_id),
       |post AS (
       |  SELECT user_id, COUNT(*) AS n_events,
       |    CAST(SUM(CAST(value AS DECIMAL(14,2))) AS DOUBLE) AS sum_value
       |  FROM events WHERE ts >= TIMESTAMP '$cut' GROUP BY user_id)""".stripMargin

  /** Incremental (upsert-by-key) materialization across two runs.
    * Final table: run-2 stats for every key in the run-2 batch, run-1
    * stats preserved for everyone else. */
  val qIncrementalModel: GraftQuery = GraftQuery(
    "q87_incremental_model",
    s"""WITH $statsCtes
       |SELECT f.user_id,
       |  CASE WHEN f.user_id % 3 = 0 AND p.user_id IS NOT NULL
       |       THEN p.n_events ELSE f.n_events END AS n_events,
       |  CASE WHEN f.user_id % 3 = 0 AND p.user_id IS NOT NULL
       |       THEN p.sum_value ELSE f.sum_value END AS sum_value
       |FROM fullstats f LEFT JOIN post p ON f.user_id = p.user_id
       |ORDER BY f.user_id""".stripMargin) { (s, d) =>
    cached(s, d, "incremental") {
      val out = tmpDir("graft_inc")
      def userStats = Model("user_stats", Seq("events"),
        materialization = Materialization.Incremental("user_id")) { deps =>
        userStatsOf(deps("events"))
      }
      new ModelRegistry(Map("events" -> run1Input(s, d)))
        .register(userStats).run(s, out)
      val run2 = new ModelRegistry(Map("events" -> run2Input(s, d)))
        .register(userStats).run(s, out)
      run2("user_stats").orderBy("user_id")
    }
  }

  /** SCD2 snapshot (dbt snapshot `check` strategy) across two runs
    * with INJECTED run timestamps. Users ≡ 0 mod 3 get a closed
    * history row plus a reopened current row; ≡ 1 first appear at T2;
    * ≡ 2 keep their single open T1 row. The oracle restates the
    * close/reopen contract from scratch (NULL-safe via IS NOT
    * DISTINCT FROM, matching the engine's sentinel hash). scd_id is
    * excluded: it hashes string-rendered doubles, whose text form is
    * engine-specific. */
  /** The q88 snapshot restated from scratch as a subquery body —
    * shared by the q88 oracle and q190's point-in-time lookup. */
  private val scd2BodySql: String =
    s"""  -- users only in run 1 (u%3=2), or in run 2 with UNCHANGED stats:
       |  -- single open row from T1
       |  SELECT f.user_id, f.n_events, f.sum_value,
       |    TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
       |    CAST(NULL AS TIMESTAMP) AS valid_to
       |  FROM fullstats f LEFT JOIN post p ON f.user_id = p.user_id
       |  WHERE f.user_id % 3 = 2
       |     OR (f.user_id % 3 = 0 AND p.user_id IS NULL) -- vanished from run 2
       |     OR (f.user_id % 3 = 0 AND p.user_id IS NOT NULL
       |         AND p.n_events IS NOT DISTINCT FROM f.n_events
       |         AND p.sum_value IS NOT DISTINCT FROM f.sum_value)
       |  UNION ALL
       |  -- changed users (u%3=0, stats differ): run-1 row closed at T2
       |  SELECT f.user_id, f.n_events, f.sum_value,
       |    TIMESTAMP '2026-01-01 00:00:00', TIMESTAMP '2026-01-02 00:00:00'
       |  FROM fullstats f JOIN post p ON f.user_id = p.user_id
       |  WHERE f.user_id % 3 = 0
       |    AND (p.n_events IS DISTINCT FROM f.n_events
       |         OR p.sum_value IS DISTINCT FROM f.sum_value)
       |  UNION ALL
       |  -- changed users: reopened run-2 row at T2
       |  SELECT f.user_id, p.n_events, p.sum_value,
       |    TIMESTAMP '2026-01-02 00:00:00', CAST(NULL AS TIMESTAMP)
       |  FROM fullstats f JOIN post p ON f.user_id = p.user_id
       |  WHERE f.user_id % 3 = 0
       |    AND (p.n_events IS DISTINCT FROM f.n_events
       |         OR p.sum_value IS DISTINCT FROM f.sum_value)
       |  UNION ALL
       |  -- users first seen in run 2 (u%3=1): open at T2 with full stats
       |  SELECT f.user_id, f.n_events, f.sum_value,
       |    TIMESTAMP '2026-01-02 00:00:00', CAST(NULL AS TIMESTAMP)
       |  FROM fullstats f WHERE f.user_id % 3 = 1""".stripMargin

  val qScd2Snapshot: GraftQuery = GraftQuery(
    "q88_scd2_snapshot",
    s"""WITH $statsCtes
       |SELECT user_id, n_events, sum_value, valid_from, valid_to FROM (
       |$scd2BodySql)
       |ORDER BY user_id, valid_from""".stripMargin) { (s, d) =>
    cached(s, d, "scd2") {
      val path = tmpDir("graft_scd") + "/snap"
      graft.model.Snapshot.run(s, userStatsOf(run1Input(s, d)),
        path, "user_id", to_timestamp(lit("2026-01-01 00:00:00")))
      graft.model.Snapshot.run(s, userStatsOf(run2Input(s, d)),
        path, "user_id", to_timestamp(lit("2026-01-02 00:00:00")))
        .select("user_id", "n_events", "sum_value", "valid_from", "valid_to")
        .orderBy("user_id", "valid_from")
    }
  }

  /** PARTIAL-AGGREGATE BACKFILL — the incremental-ETL pattern for
    * time rollups: a standing daily aggregate table absorbs a late
    * batch (event_id % 5 = 4, the q130 convention) by MERGING
    * partials — count and decimal-sum are decomposable, so touched
    * days need base_agg(day) ⊕ late_agg(day), never a rescan of the
    * base events. q87 refreshes an incremental MODEL by key; this is
    * the same contract for additive rollups, where merge beats
    * upsert: no day is recomputed from raw data at all.
    *
    * The oracle is the FULL recompute over all events — the hash
    * match is the proof that merge-of-partials ≡ recompute, exactly
    * (decimal addition is exact under any merge order). PlanAuditSpec
    * pins that the returned plan scans events.parquet ONCE (the late
    * slice; the base side reads the materialized aggregate table).
    *
    * 100 TB: the standing agg table is |days| rows; the merge join is
    * agg-sized; backfill I/O is the late batch plus the agg table —
    * independent of the base corpus size. */
  val qAggBackfill: GraftQuery = GraftQuery(
    "q183_agg_backfill",
    """WITH ev AS (
      |  SELECT CAST(ts AS DATE) AS day, event_id,
      |    CAST(value AS DECIMAL(14,2)) AS v
      |  FROM events),
      |full_agg AS (
      |  SELECT day, CAST(COUNT(*) AS BIGINT) AS n_events,
      |    CAST(SUM(v) AS DOUBLE) AS sum_value
      |  FROM ev GROUP BY day),
      |late_days AS (SELECT DISTINCT day FROM ev WHERE event_id % 5 = 4)
      |SELECT f.day, f.n_events, f.sum_value,
      |  CAST(l.day IS NOT NULL AS BOOLEAN) AS touched
      |FROM full_agg f LEFT JOIN late_days l ON f.day = l.day
      |ORDER BY f.day""".stripMargin) { (s, d) =>
    val ev = Tables.events(s, d).select(
      to_date(col("ts")).as("day"), col("event_id"),
      col("value").cast("decimal(14,2)").as("v"))
    // the standing aggregate table: materialized once from the base
    // slice (a real backfill reads it from storage, so write + read it)
    val aggPath = Formats.scratchDir("graft_agg_backfill", d)
    ev.where(pmod(col("event_id"), lit(5L)) =!= 4L)
      .groupBy("day")
      .agg(count(lit(1)).as("n"), sum("v").as("sv"))
      .write.mode("overwrite").parquet(aggPath)
    val base = s.read.schema("day DATE, n BIGINT, sv DECIMAL(24,2)")
      .parquet(aggPath)
    val late = ev.where(pmod(col("event_id"), lit(5L)) === 4L)
      .groupBy("day")
      .agg(count(lit(1)).as("l_n"), sum("v").as("l_sv"))
    base.join(late, Seq("day"), "full_outer")
      .select(col("day"),
        (coalesce(col("n"), lit(0L)) + coalesce(col("l_n"), lit(0L))).as("n_events"),
        (coalesce(col("sv"), lit(BigDecimal(0)).cast("decimal(24,2)")) +
          coalesce(col("l_sv"), lit(BigDecimal(0)).cast("decimal(24,2)")))
          .cast("double").as("sum_value"),
        col("l_n").isNotNull.as("touched"))
      .orderBy("day")
  }

  /** The probe instants q190 reads the dimension "as of": before any
    * history, between the two snapshot runs, and after both. */
  private val pitProbes = Seq(
    "2025-12-31 00:00:00", "2026-01-01 12:00:00", "2026-01-03 00:00:00")

  /** POINT-IN-TIME LOOKUP against the SCD2 dimension — the
    * feature-store correctness primitive: reading the dimension "as
    * of" a time must return the version whose [valid_from, valid_to)
    * interval contains it, and nothing before history began. Training
    * pipelines that join features any other way leak the future into
    * the past; this query IS the no-leakage contract, stated over
    * q88's snapshot (pre-history probe → no row; mid probe → the T1
    * version even for users later rewritten; post probe → current
    * rows only).
    *
    * Plan: NO join at all for a fixed probe set — each snapshot row
    * explodes to |probes| candidates and the validity filter runs in
    * the same stage (snapshot × 3, then filter). Per-EVENT probe
    * times use the q37/q84 as-of machinery instead; this is the
    * audit-grain form. */
  val qPitLookup: GraftQuery = GraftQuery(
    "q190_pit_lookup",
    s"""WITH $statsCtes,
       |snap AS (
       |  SELECT user_id, n_events, sum_value, valid_from, valid_to FROM (
       |$scd2BodySql)),
       |probes AS (SELECT * FROM (VALUES
       |  ${pitProbes.map(p => s"(TIMESTAMP '$p')").mkString(", ")}) AS p(probe_ts))
       |SELECT s.user_id, p.probe_ts, s.n_events, s.sum_value, s.valid_from
       |FROM snap s CROSS JOIN probes p
       |WHERE s.valid_from <= p.probe_ts
       |  AND (s.valid_to IS NULL OR p.probe_ts < s.valid_to)
       |ORDER BY user_id, probe_ts""".stripMargin) { (s, d) =>
    qScd2Snapshot.fn(s, d)
      .withColumn("probe_ts", explode(array(
        pitProbes.map(p => to_timestamp(lit(p))): _*)))
      .where(col("valid_from") <= col("probe_ts") &&
        (col("valid_to").isNull || col("probe_ts") < col("valid_to")))
      .select(col("user_id"), col("probe_ts"), col("n_events"),
        col("sum_value"), col("valid_from"))
      .orderBy("user_id", "probe_ts")
  }

  /** CORPUS SNAPSHOT DIFF — the dataset-versioning audit (what an
    * Iceberg/Delta table diff reports) between a corpus and its
    * re-crawl: per-document classification into added / removed /
    * changed, emitted at the DELTA grain (the unchanged bulk is the
    * whole point of not re-shipping a corpus). The v2 snapshot is
    * derived deterministically from v1 so both engines build the same
    * re-crawl: `doc_id % 13 = 5` vanished, `% 13 = 3` was revised,
    * `% 13 = 7` additionally appeared under a new id.
    *
    * 100 TB: the diff joins the two FINGERPRINT relations (doc_id,
    * md5) — 48-byte rows hash-partitioned on doc_id — never the
    * payloads; the full-outer join is one shuffle per side and the
    * unchanged mass is dropped by the post-join filter before anything
    * wide materializes. Fingerprints are computed at the scan (narrow
    * projection), so a re-crawl diff over 100 TB moves ~0.05% of the
    * bytes. Classification is null-pattern + hash inequality — exact. */
  val qSnapshotDiff: GraftQuery = GraftQuery(
    "q202_snapshot_diff",
    """WITH v1 AS (
      |  SELECT doc_id, md5(text) AS fp_v1 FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 3 THEN md5(text || ' rev2')
      |         ELSE md5(text) END AS fp_v2
      |  FROM documents WHERE doc_id % 13 <> 5
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text || ' new') AS fp_v2
      |  FROM documents WHERE doc_id % 13 = 7),
      |diff AS (
      |  SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, fp_v1, fp_v2,
      |    CASE WHEN fp_v2 IS NULL THEN 'removed'
      |         WHEN fp_v1 IS NULL THEN 'added'
      |         WHEN fp_v1 <> fp_v2 THEN 'changed'
      |         ELSE 'unchanged' END AS change_kind
      |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
      |SELECT doc_id, change_kind, fp_v1, fp_v2
      |FROM diff WHERE change_kind <> 'unchanged'
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val docs = graft.sources.Tables.documents(s, d)
    val v1 = docs.select(col("doc_id"), md5(col("text")).as("fp_v1"))
    val v2 = docs.where(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 3, md5(concat(col("text"), lit(" rev2"))))
          .otherwise(md5(col("text"))).as("fp_v2"))
      .unionByName(docs.where(col("doc_id") % 13 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(concat(col("text"), lit(" new"))).as("fp_v2")))
    v1.join(v2, Seq("doc_id"), "full_outer")
      .withColumn("change_kind",
        when(col("fp_v2").isNull, "removed")
          .when(col("fp_v1").isNull, "added")
          .when(col("fp_v1") =!= col("fp_v2"), "changed")
          .otherwise("unchanged"))
      .where(col("change_kind") =!= "unchanged")
      .select(col("doc_id"), col("change_kind"), col("fp_v1"), col("fp_v2"))
      .orderBy("doc_id")
  }

  /** MERKLE TABLE DIFF — q202's versioning audit restructured for the
    * CROSS-DATACENTER case: instead of joining two full fingerprint
    * relations (one shuffle per side, O(rows) exchanged), each side
    * reduces to an ADDITIVE bucket fingerprint — per doc a 48-bit
    * keyed hash of (doc_id, row fingerprint), summed per bucket
    * (doc_id % 256) — and only the O(buckets) summaries are compared.
    * Sums are commutative/associative, so the fingerprint is
    * partitioning-independent; a level-1 rollup (bucket div 16)
    * demonstrates the Merkle drill-down: parents that match prove all
    * 16 children match without looking at them. The same v2 re-crawl
    * derivation as q202, so the two audits corroborate (every bucket
    * this query flags contains a q202 delta row and vice versa — the
    * spec checks exactly that).
    *
    * 100 TB: each side's summary is one narrow scan + map-side-
    * combinable sum into 256 cells; comparing two tables costs
    * exchanging ~16 KB of fingerprints, then re-shipping only the
    * differing buckets' rows. Sums are DECIMAL(38,0) INTERNALLY:
    * 2⁴⁸-scale leaf hashes stay exact past 10²³ docs per bucket. The
    * EMITTED fingerprints are fixed-width lowercase hex strings of
    * the sum reduced mod 2⁶² — a representation both engines render
    * byte-identically (raw decimal128 output proved fragile under the
    * driver's hash canonicalization in round 7, the only red rows of
    * the round; the diff predicate still compares the full exact
    * sums). */
  val qMerkleDiff: GraftQuery = GraftQuery(
    "q266_merkle_diff",
    """WITH v1 AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents),
      |v2 AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 3 THEN md5(text || ' rev2')
      |         ELSE md5(text) END AS fp
      |  FROM documents WHERE doc_id % 13 <> 5
      |  UNION ALL
      |  SELECT doc_id + 1000000 AS doc_id, md5(text || ' new') AS fp
      |  FROM documents WHERE doc_id % 13 = 7),
      |l1 AS (
      |  SELECT doc_id % 256 AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_a,
      |    CAST(SUM(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || fp), 1, 12) AS BIGINT))
      |      AS DECIMAL(38,0)) AS f_a
      |  FROM v1 GROUP BY 1),
      |l2 AS (
      |  SELECT doc_id % 256 AS bucket,
      |    CAST(count(*) AS BIGINT) AS n_b,
      |    CAST(SUM(CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR) || ':' || fp), 1, 12) AS BIGINT))
      |      AS DECIMAL(38,0)) AS f_b
      |  FROM v2 GROUP BY 1),
      |buckets AS (
      |  SELECT COALESCE(l1.bucket, l2.bucket) AS bucket,
      |    COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b,
      |    COALESCE(f_a, 0) AS f_a, COALESCE(f_b, 0) AS f_b
      |  FROM l1 FULL OUTER JOIN l2 ON l1.bucket = l2.bucket)
      |SELECT CAST(bucket // 16 AS BIGINT) AS node1, bucket, n_a, n_b,
      |  printf('%016x', CAST(f_a % 4611686018427387904 AS BIGINT)) AS f_a,
      |  printf('%016x', CAST(f_b % 4611686018427387904 AS BIGINT)) AS f_b
      |FROM buckets
      |WHERE f_a <> f_b OR n_a <> n_b
      |ORDER BY bucket""".stripMargin) { (s, d) =>
    val docs = graft.sources.Tables.documents(s, d)
    merkleDiff(
      merkleLeaf(docs.select(col("doc_id"), md5(col("text")).as("fp")), "n_a", "f_a"),
      docs)
  }

  /** q266's diff of a v1 bucket summary `(bucket, n_a, f_a)` against
    * the deterministic v2 re-crawl of `docs` — shared with q288, which
    * folds its v1 summary from the streamed partials. */
  private[graft] def merkleDiff(leafA: DataFrame, docs: DataFrame): DataFrame =
    leafA.join(merkleLeaf(merkleV2(docs), "n_b", "f_b"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("n_a"), lit(0L)).as("n_a"),
        coalesce(col("n_b"), lit(0L)).as("n_b"),
        coalesce(col("f_a"), lit(0L).cast("decimal(38,0)")).as("f_a"),
        coalesce(col("f_b"), lit(0L).cast("decimal(38,0)")).as("f_b"))
      .where(col("f_a") =!= col("f_b") || col("n_a") =!= col("n_b"))
      .select(expr("bucket div 16").as("node1"), col("bucket"),
        col("n_a"), col("n_b"),
        merkleHex(col("f_a")).as("f_a"), merkleHex(col("f_b")).as("f_b"))
      .orderBy("bucket")

  /** Driver-stable fingerprint surface: the exact DECIMAL(38,0) sum
    * reduced mod 2⁶² (fits BIGINT with headroom) and rendered as a
    * fixed-width lowercase hex string — byte-identical across Spark
    * and DuckDB, immune to decimal128 canonicalization drift. */
  private[graft] def merkleHex(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lpad(lower(hex(pmod(c, lit("4611686018427387904").cast("decimal(38,0)"))
      .cast("long"))), 16, "0")

  /** The deterministic v2 re-crawl derivation shared by q202/q266/q288. */
  private[graft] def merkleV2(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.where(col("doc_id") % 13 =!= 5)
      .select(col("doc_id"),
        when(col("doc_id") % 13 === 3, md5(concat(col("text"), lit(" rev2"))))
          .otherwise(md5(col("text"))).as("fp"))
      .unionByName(docs.where(col("doc_id") % 13 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          md5(concat(col("text"), lit(" new"))).as("fp")))

  /** Additive per-bucket fingerprint (sum of 48-bit keyed leaf
    * hashes) — a MONOID: per-slice partials re-sum to the whole. */
  private[graft] def merkleLeaf(df: org.apache.spark.sql.DataFrame,
      nNm: String, fNm: String): org.apache.spark.sql.DataFrame =
    df.groupBy((col("doc_id") % 256).as("bucket"))
      .agg(count(lit(1)).as(nNm),
        sum(conv(substring(md5(concat(col("doc_id").cast("string"), lit(":"),
          col("fp"))), 1, 12), 16, 10).cast("long").cast("decimal(38,0)"))
          .cast("decimal(38,0)").as(fNm))

  /** CDC MERGE APPLY — the type-1 upsert/delete semantics of
    * `MERGE INTO` (q190's SCD2 keeps history; this keeps only the
    * LATEST state, the change-data-capture consumer every lakehouse
    * table runs). The change log is derived deterministically (insert
    * for every doc, an update for doc_id%5=2, a tombstone for
    * doc_id%11=7); apply = latest version wins, tombstone removes.
    * The winner is picked by max_by AGGREGATES (arg_max in the
    * oracle), not a row_number window — the q07/q08 scale form:
    * map-side combinable, no per-key sort, and versions are unique
    * per key so the pick is deterministic.
    *
    * Scale (100 TB): ONE exchange on the merge key; a billion-row
    * change log folds to per-key partials inside the scan. Periodic
    * log compaction is this same query written back (the q239
    * partial-log posture). */
  val qCdcMerge: GraftQuery = GraftQuery(
    "q281_cdc_merge",
    """WITH log AS (
      |  SELECT doc_id AS k, 1 AS version, 'I' AS op, md5(text) AS payload
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2, 'U', md5(text || ' u2')
      |  FROM documents WHERE doc_id % 5 = 2
      |  UNION ALL
      |  SELECT doc_id, 3, 'D', NULL
      |  FROM documents WHERE doc_id % 11 = 7),
      |latest AS (
      |  SELECT k,
      |    CAST(max(version) AS INTEGER) AS final_version,
      |    arg_max(op, version) AS op,
      |    arg_max(payload, version) AS payload
      |  FROM log GROUP BY k)
      |SELECT k AS doc_id, final_version, payload
      |FROM latest WHERE op <> 'D'
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    cdcFold(cdcLatest(cdcLog(graft.sources.Tables.documents(s, d))))
      .where(col("op") =!= "D")
      .select(col("k").as("doc_id"), col("final_version"), col("payload"))
      .orderBy("doc_id")
  }

  /** The deterministic change log derived from a documents slice. */
  private[graft] def cdcLog(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs.select(col("doc_id").as("k"), lit(1).as("version"),
        lit("I").as("op"), md5(col("text")).as("payload"))
      .unionByName(docs.where(col("doc_id") % 5 === 2)
        .select(col("doc_id").as("k"), lit(2).as("version"), lit("U").as("op"),
          md5(concat(col("text"), lit(" u2"))).as("payload")))
      .unionByName(docs.where(col("doc_id") % 11 === 7)
        .select(col("doc_id").as("k"), lit(3).as("version"), lit("D").as("op"),
          lit(null).cast("string").as("payload")))

  /** Per-key latest version — arg_max is a monoid on the version
    * order, so folding partials re-folds with the SAME operator. */
  private[graft] def cdcLatest(log: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    log.groupBy("k")
      .agg(max("version").as("final_version"),
        max_by(col("op"), col("version")).as("op"),
        max_by(col("payload"), col("version")).as("payload"))

  private[graft] def cdcFold(partials: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    partials.groupBy("k")
      .agg(max("final_version").as("final_version"),
        max_by(col("op"), col("final_version")).as("op"),
        max_by(col("payload"), col("final_version")).as("payload"))

  def all: Seq[GraftQuery] =
    Seq(qIncrementalModel, qScd2Snapshot, qAggBackfill, qPitLookup,
      qSnapshotDiff, qMerkleDiff, qCdcMerge)
}
