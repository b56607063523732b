package graft

import graft.model.{Model, ModelRegistry}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ModelRegistrySpec extends SparkSpecBase {
  import spark.implicits._

  private def sources = Map("src" -> Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))

  /** Every DataFrame `run` returned has the schema a fresh inferred
    * read of its directory has — the known-schema read-back is exact. */
  private def assertInferredSchemas(out: Map[String, DataFrame], dir: String): Unit =
    out.foreach { case (n, df) =>
      assert(df.schema === spark.read.parquet(s"$dir/$n").schema, n)
    }

  test("topo order respects ref() edges") {
    val reg = new ModelRegistry(sources)
    reg.register(Model("core", Seq("staging"))(m => m("staging")))
    reg.register(Model("staging", Seq("src"))(m => m("src")))
    reg.register(Model("mart", Seq("core", "staging"))(m => m("core")))
    assert(reg.topoOrder === Seq("staging", "core", "mart"))
  }

  test("cycles are a config error (dbt parse-fail parity)") {
    val reg = new ModelRegistry(sources)
    reg.register(Model("a", Seq("b"))(m => m("b")))
    reg.register(Model("b", Seq("a"))(m => m("a")))
    assertThrows[IllegalArgumentException](reg.topoOrder)
  }

  test("unknown refs fail fast") {
    val reg = new ModelRegistry(sources)
    reg.register(Model("x", Seq("nope"))(m => m("nope")))
    assertThrows[IllegalArgumentException](reg.topoOrder)
  }

  test("resolve composes the whole DAG into one lazy plan") {
    val reg = new ModelRegistry(sources)
    reg.register(Model("staging", Seq("src"))(m => m("src").where(col("id") > 1)))
    reg.register(Model("core", Seq("staging"))(m =>
      m("staging").withColumn("vv", upper(col("v")))))
    val out = reg.resolve("core")
    assert(out.collect().map(_.getString(2)).sorted.toSeq === Seq("B", "C"))
  }

  test("partitioned materialization produces partition directories (pruning-ready)") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val reg = new ModelRegistry(sources)
    reg.register(Model("bykey", Seq("src"), partitionBy = Seq("v"))(m => m("src")))
    assertInferredSchemas(reg.run(spark, dir), dir)
    val parts = new java.io.File(s"$dir/bykey").list().filter(_.startsWith("v="))
    assert(parts.toSet === Set("v=a", "v=b", "v=c"))
    // partition filter prunes to a single directory scan
    val pruned = spark.read.parquet(s"$dir/bykey").where(col("v") === "b")
    assert(pruned.count() === 1)
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters: [isnotnull(v"))
  }

  test("incremental materialization upserts by unique key and preserves history") {
    import graft.model.Materialization
    val dir = java.nio.file.Files.createTempDirectory("graft_incr").toString
    def regFor(rows: Seq[(Int, String)]) = {
      val reg = new ModelRegistry(Map("src" -> rows.toDF("id", "v")))
      reg.register(Model("inc", Seq("src"),
        materialization = Materialization.Incremental("id"))(m => m("src")))
      reg
    }
    // first run: full build
    val r1 = regFor(Seq((1, "a"), (2, "b"))).run(spark, dir)
    assert(r1("inc").count() === 2)
    assertInferredSchemas(r1, dir)
    // second run: id=2 updated, id=3 new, id=1 untouched → preserved
    val r2 = regFor(Seq((2, "B!"), (3, "c"))).run(spark, dir)
    assertInferredSchemas(r2, dir)
    val got = r2("inc").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "a", 2 -> "B!", 3 -> "c"))
  }

  test("incremental build can see its existing output as dep \"this\"") {
    import graft.model.Materialization
    import org.apache.spark.sql.functions.max
    val dir = java.nio.file.Files.createTempDirectory("graft_incr2").toString
    def regFor(rows: Seq[(Int, String)]) = {
      val reg = new ModelRegistry(Map("src" -> rows.toDF("id", "v")))
      reg.register(Model("inc", Seq("src"),
        materialization = Materialization.Incremental("id")) { m =>
        // is_incremental() idiom: only take src rows newer than what's built
        m.get("this") match {
          case Some(cur) =>
            val hi = cur.agg(max(col("id"))).head().getInt(0)
            m("src").where(col("id") > hi)
          case None => m("src")
        }
      })
      reg
    }
    regFor(Seq((1, "a"), (2, "b"))).run(spark, dir)
    val r2 = regFor(Seq((1, "STALE"), (2, "STALE"), (3, "c"))).run(spark, dir)
    val got = r2("inc").collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    assert(got === Map(1 -> "a", 2 -> "b", 3 -> "c")) // stale rows filtered out
  }

  test("partitioned incremental rewrites ONLY touched partitions, byte-identically elsewhere") {
    import graft.model.Materialization
    val dir = java.nio.file.Files.createTempDirectory("graft_incp").toString
    def regFor(rows: Seq[(Int, String, String)]) = {
      val reg = new ModelRegistry(Map("src" -> rows.toDF("id", "v", "day")))
      reg.register(Model("inc", Seq("src"), partitionBy = Seq("day"),
        materialization = Materialization.Incremental("id"))(m => m("src")))
      reg
    }
    regFor(Seq((1, "a", "d1"), (2, "b", "d1"), (3, "c", "d2"))).run(spark, dir)
    def partFiles(day: String): Map[String, (Long, Long)] =
      new java.io.File(s"$dir/inc/day=$day").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> (f.length(), f.lastModified())).toMap
    val d2Before = partFiles("d2")
    assert(d2Before.nonEmpty)
    // run 2 touches only d1: id=2 updated in place, id=4 new
    val r2 = regFor(Seq((2, "B!", "d1"), (4, "e", "d1"))).run(spark, dir)
    assertInferredSchemas(r2, dir)
    val got = r2("inc").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got === Map(1 -> ("a", "d1"), 2 -> ("B!", "d1"),
      3 -> ("c", "d2"), 4 -> ("e", "d1")))
    // the untouched d2 partition was not rewritten: same files, same
    // bytes, same mtimes
    assert(partFiles("d2") === d2Before)
    // and no staging/aside residue is left behind
    val residue = new java.io.File(dir).listFiles()
      .map(_.getName).filter(n => n.contains("__staging") || n.contains("__old"))
    assert(residue.isEmpty)
  }

  test("partitioned incremental preserves existing rows in the NULL partition") {
    import graft.model.Materialization
    val dir = java.nio.file.Files.createTempDirectory("graft_incnull").toString
    def regFor(rows: Seq[(Int, String, String)]) = {
      val reg = new ModelRegistry(Map("src" -> rows.toDF("id", "v", "day")))
      reg.register(Model("inc", Seq("src"), partitionBy = Seq("day"),
        materialization = Materialization.Incremental("id"))(m => m("src")))
      reg
    }
    regFor(Seq((1, "a", null), (2, "b", null), (3, "c", "d1"))).run(spark, dir)
    // batch touches the NULL partition: id=2 updated, id=4 new — a
    // null-unsafe semi-join would drop ids 1 and 2 while still
    // swapping the __HIVE_DEFAULT_PARTITION__ directory
    val r2 = regFor(Seq((2, "B!", null), (4, "e", null))).run(spark, dir)
    val got = r2("inc").collect()
      .map(r => r.getInt(0) -> (r.getString(1), Option(r.getString(2)))).toMap
    assert(got === Map(1 -> ("a", None), 2 -> ("B!", None),
      3 -> ("c", Some("d1")), 4 -> ("e", None)))
  }

  test("partitioned incremental handles multi-level partitioning (nested leaf swap)") {
    import graft.model.Materialization
    val dir = java.nio.file.Files.createTempDirectory("graft_incp2").toString
    def regFor(rows: Seq[(Int, String, String, String)]) = {
      val reg = new ModelRegistry(Map("src" -> rows.toDF("id", "v", "region", "day")))
      reg.register(Model("inc", Seq("src"), partitionBy = Seq("region", "day"),
        materialization = Materialization.Incremental("id"))(m => m("src")))
      reg
    }
    regFor(Seq((1, "a", "eu", "d1"), (2, "b", "eu", "d2"),
      (3, "c", "us", "d1"))).run(spark, dir)
    def leafFiles(rel: String): Map[String, Long] =
      new java.io.File(s"$dir/inc/$rel").listFiles()
        .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
        .map(f => f.getName -> f.lastModified()).toMap
    val euD2 = leafFiles("region=eu/day=d2")
    val usD1 = leafFiles("region=us/day=d1")
    // run 2 touches only (eu, d1): update id=1, insert id=4
    val r2 = regFor(Seq((1, "A!", "eu", "d1"), (4, "d", "eu", "d1"))).run(spark, dir)
    val got = r2("inc").collect()
      .map(r => r.getInt(0) -> (r.getString(1), r.getString(2), r.getString(3))).toMap
    assert(got === Map(1 -> ("A!", "eu", "d1"), 2 -> ("b", "eu", "d2"),
      3 -> ("c", "us", "d1"), 4 -> ("d", "eu", "d1")))
    assert(leafFiles("region=eu/day=d2") === euD2)
    assert(leafFiles("region=us/day=d1") === usD1)
  }

  test("run materializes in topo order with overwrite semantics") {
    val dir = java.nio.file.Files.createTempDirectory("graft_models").toString
    val reg = new ModelRegistry(sources)
    reg.register(Model("staging", Seq("src"))(m => m("src")))
    reg.register(Model("core", Seq("staging"))(m => m("staging").where(col("id") =!= 2)))
    val out1 = reg.run(spark, dir)
    assert(out1("core").count() === 2)
    assertInferredSchemas(out1, dir)
    // second run = full refresh, not append (materialized='table' parity)
    val out2 = reg.run(spark, dir)
    assert(out2("core").count() === 2)
    assert(spark.read.parquet(s"$dir/staging").count() === 3)
  }

  test("table read-back schema equals the inferred one across column types") {
    val dir = java.nio.file.Files.createTempDirectory("graft_types").toString
    val reg = new ModelRegistry(sources)
    reg.register(Model("typed", Seq("src"))(m => m("src").select(
      col("id"), // non-nullable int
      col("v").as("v", new org.apache.spark.sql.types.MetadataBuilder()
        .putString("comment", "kept in the footer").build()),
      lit(null).cast("string").as("nul"),
      to_date(lit("2026-01-01")).as("d"),
      to_timestamp(lit("2026-01-01 10:00:00")).as("ts"),
      lit(1.5).cast("decimal(12,3)").as("dec"),
      array(col("id"), lit(null).cast("int")).as("arr"),
      map(col("v"), col("id")).as("mp"),
      struct(col("id").as("i"), col("v").as("s")).as("st"),
      (col("id") > 1).as("flag"))))
    val out = reg.run(spark, dir)
    assertInferredSchemas(out, dir)
    assert(out("typed").orderBy("id").collect().map(_.getInt(0)).toSeq === Seq(1, 2, 3))
  }
}
