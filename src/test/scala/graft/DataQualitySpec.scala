package graft

import graft.dq.DataQuality
import graft.dq.DataQuality.{DqResult, DqTest, notNull, runAll, speedLimit, unique}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

class DataQualitySpec extends SparkSpecBase {
  import spark.implicits._

  private lazy val df = Seq(
    (1L, Some(5.0), "a"), (2L, Some(-1.0), "b"), (3L, None, "c"),
    (4L, Some(500.0), "d"), (4L, Some(2.0), "e"))
    .toDF("id", "speed", "tag")

  test("notNull returns the null rows") {
    assert(notNull(col("speed"))(df).count() === 1)
  }

  test("unique returns keys with count > 1 (dbt compiled form)") {
    val v = unique(col("id"))(df).collect()
    assert(v.length === 1 && v(0).getLong(0) === 4L)
  }

  test("unique ignores NULL keys like dbt (duplicate NULLs are not_null's job)") {
    val withNulls = Seq(Some(1L), None, None, Some(2L))
      .toDF("id")
    assert(unique(col("id"))(withNulls).count() === 0)
  }

  test("positive flags <= 0 (custom_positive_test.sql:1-5)") {
    assert(DataQuality.positive(col("speed"))(df).count() === 1)
  }

  test("speedLimit flags > 300, NULL passes (custom_speed_limit.sql:1-5)") {
    assert(speedLimit(col("speed"))(df).count() === 1)
  }

  test("runAll reports per-test violation counts (A3 contract)") {
    val res = runAll(df, Seq(
      "speed_not_null" -> notNull(col("speed")),
      "id_unique" -> unique(col("id"))))
    assert(res.map(r => r.name -> r.violations).toMap ===
      Map("speed_not_null" -> 1L, "id_unique" -> 1L))
    assert(res.forall(!_.passed))
  }

  private type KeyedRow = (Option[Int], Option[Int], Option[Double])

  /** Small key domains, so generated frames carry duplicate non-null
    * keys and, at the default list sizes, duplicate NULL keys; values
    * hit null, non-positive, in-range and over-limit. */
  private val rowGen: Gen[KeyedRow] = for {
    k <- Gen.option(Gen.chooseNum(0, 6))
    k2 <- Gen.option(Gen.chooseNum(0, 2))
    v <- Gen.option(Gen.oneOf(-1.0, 0.0, 5.0, 300.0, 300.5, 1000.0))
  } yield (k, k2, v)

  private val suites: Seq[Seq[(String, DqTest)]] = {
    val rowTests = Seq(
      "v_not_null" -> notNull(col("v")),
      "v_positive" -> DataQuality.positive(col("v")),
      "v_limit" -> speedLimit(col("v")))
    Seq(
      rowTests,
      Seq("k_unique" -> unique(col("k"))),
      // two distinct keys, one of them checked twice, between row tests
      Seq("k_not_null" -> notNull(col("k")), "k_unique" -> unique(col("k"))) ++
        rowTests ++ Seq("k2_unique" -> unique(col("k2")), "k_unique_again" -> unique(col("k"))))
  }

  private def assertOneRunnerEqualsPerTest(df: DataFrame, label: String): Unit =
    suites.foreach { suite =>
      val want = suite.map { case (n, t) => DqResult(n, t(df).count()) }
      assert(runAll(df, suite) === want, label)
    }

  test("runAll equals t(df).count() for every test (property)") {
    val frames = (0 until 12).flatMap(i =>
      Gen.listOf(rowGen).apply(Gen.Parameters.default, Seed(i.toLong)).map(i -> _))
    // the generated frames reach every edge the runner must get right
    def some(p: Seq[KeyedRow] => Boolean) = frames.exists { case (_, rows) => p(rows) }
    assert(some(_.count(_._1.isEmpty) >= 2), "duplicate NULL keys")
    assert(some(rows => rows.flatMap(_._1).distinct.size < rows.count(_._1.nonEmpty)),
      "duplicate non-null keys")
    assert(some(_.exists(_._3.isEmpty)) && some(_.exists(_._3.exists(_ < 0))) &&
      some(_.exists(_._3.exists(_ > 300))), "null, negative and over-limit values")
    frames.foreach { case (i, rows) =>
      assertOneRunnerEqualsPerTest(rows.toDF("k", "k2", "v"), s"seed $i: $rows")
    }
    assertOneRunnerEqualsPerTest(Seq.empty[KeyedRow].toDF("k", "k2", "v"), "empty frame")
  }
}
