package graft.dq

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** dbt-style declarative data-quality tests: a test is a SQL query
  * returning VIOLATING rows; it passes iff the result is empty
  * (reference contract: SURVEY §5.1;
  * /root/reference/dbt_project_old/dbt_postgres/models/schema.yml:10-27,
  * macros/custom_positive_test.sql:1-5, macros/custom_speed_limit.sql:1-5).
  *
  * A test is one of two shapes: a row predicate (`notNull`, `positive`,
  * `speedLimit`) or a grouped key check (`unique`). Each test's
  * `apply(df)` returns its violating rows in the dbt compiled form, for
  * specs and ad-hoc inspection. The runner never runs those queries one
  * by one: `runAll` computes every count of a suite in ONE action —
  * a single grouped pass over the table when the suite checks a key,
  * a single conditional aggregate otherwise (SURVEY §4.3: no Catalyst
  * extension needed).
  */
object DataQuality {

  sealed trait DqTest {
    /** The violating rows (dbt compiled form). */
    def apply(df: DataFrame): DataFrame
  }

  /** Row-local test: a row violates iff `violated` is TRUE (a NULL
    * predicate passes, as in the SQL WHERE it compiles to). */
  final case class RowTest(violated: Column) extends DqTest {
    def apply(df: DataFrame): DataFrame = df.where(violated)
  }

  /** dbt built-in `unique` (schema.yml:18), compiled form:
    * WHERE key IS NOT NULL GROUP BY key HAVING count(*) > 1 (operator
    * A1). The null pre-filter matches dbt exactly — duplicate NULLs
    * are not uniqueness violations (that's `not_null`'s job). */
  final case class Unique(key: Column) extends DqTest {
    def apply(df: DataFrame): DataFrame =
      df.where(key.isNotNull)
        .groupBy(key).agg(count(lit(1)).as("n")).where(col("n") > 1)
  }

  /** dbt built-in `not_null` (schema.yml:17,22): rows where col IS NULL. */
  def notNull(c: Column): DqTest = RowTest(c.isNull)

  def unique(c: Column): DqTest = Unique(c)

  /** custom_positive_test.sql:1-5: rows where col <= 0. */
  def positive(c: Column): DqTest = RowTest(c <= 0)

  /** custom_speed_limit.sql:1-5: rows where col > 300. NULLs pass by
    * design (NULL > 300 is not true) — the column is nullable by
    * construction (core_texi.sql:88-92). */
  def speedLimit(c: Column, limit: Double = 300.0): DqTest = RowTest(c > limit)

  final case class DqResult(name: String, violations: Long) {
    def passed: Boolean = violations == 0
  }

  private val Key = "__dq_key"
  private val N = "__dq_n"

  /** Every violation count of `tests`, in order, from ONE action.
    *
    * Row tests are conditional counts. With a `unique` test in the
    * suite the pass is grouped by its key: each group carries its row
    * count and a partial count per row test; a global sum of the
    * partials gives every row test's count (the NULL key is one group,
    * so no row is lost) and `count(key IS NOT NULL AND n > 1)` gives the
    * unique test's. Each further distinct key is one more grouped pass,
    * cross-joined into the same single-row result. Counts equal
    * `t(df).count()` for every test. */
  def runAll(df: DataFrame, tests: Seq[(String, DqTest)]): Seq[DqResult] = {
    if (tests.isEmpty) return Nil
    // result columns: r<i> for the i-th test if a row test, u<j> for the j-th distinct key
    val rowTests = tests.map(_._2).zipWithIndex.collect { case (RowTest(v), i) => s"r$i" -> v }
    val keys = tests.collect { case (_, Unique(k)) => k }.distinct
    def violations(v: Column) = sum(when(v, 1L).otherwise(0L))
    def duplicatedKeys(j: Int) =
      sum(when(col(Key).isNotNull && col(N) > 1, 1L).otherwise(0L)).as(s"u$j")
    val rowCounts = rowTests.map { case (c, v) => violations(v).as(c) }
    val passes: Seq[DataFrame] = keys match {
      case Seq() => Seq(df.agg(rowCounts.head, rowCounts.tail: _*))
      case first +: rest =>
        df.groupBy(first.as(Key)).agg(count(lit(1)).as(N), rowCounts: _*)
          .agg(duplicatedKeys(0), rowTests.map { case (c, _) => sum(col(c)).as(c) }: _*) +:
          rest.zipWithIndex.map { case (k, j) =>
            df.groupBy(k.as(Key)).agg(count(lit(1)).as(N)).agg(duplicatedKeys(j + 1))
          }
    }
    val row: Row = passes.reduce(_ crossJoin _).collect()(0)
    def countOf(c: String): Long = Option(row.getAs[java.lang.Long](c)).fold(0L)(_.longValue)
    tests.zipWithIndex.map {
      case ((n, RowTest(_)), i) => DqResult(n, countOf(s"r$i"))
      case ((n, Unique(k)), _) => DqResult(n, countOf(s"u${keys.indexOf(k)}"))
    }
  }

  /** The reference's five declared assertions over the core model
    * (schema.yml:17-27), ready to run against coreTexi output. */
  def coreTexiSuite: Seq[(String, DqTest)] = Seq(
    "unique_id_not_null" -> notNull(col("unique_id")),
    "unique_id_unique" -> unique(col("unique_id")),
    "trip_duration_not_null" -> notNull(col("trip_duration_minutes")),
    "trip_duration_positive" -> positive(col("trip_duration_minutes")),
    "avg_speed_limit" -> speedLimit(col("avg_speed_mph")))
}
