package graft

import org.apache.spark.sql.graftshim.ListenerSync

/** Spark's generated-class cache holds a serving round: once the
  * `catalog_serving` serves have run, running them again compiles no
  * class. At Spark's default of 100 entries the cache evicts a round's
  * classes before they are reused, and every serve compiles again. */
class CodegenCacheSpec extends SparkSpecBase {

  private val serves = Seq(
    "q01_pricing_summary", "q244_cube_lineitem", "q37_asof_join", "q40_range_join",
    "q38_json_parse", "q83_salted_join", "q230_join_elim_left", "q214_mv_rewrite",
    "q30_sim_topk", "q26_dedup_exact", "q113_bm25_score", "q158_novelty_scores")
    .map(n => SparkEntry.catalog.find(_.name == n).getOrElse(sys.error(s"no query $n")))

  test("the session's generated-class cache holds Sessions.codegenCacheEntries, one loader for all sessions") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ==
      graft.spark.Sessions.codegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.artifact.isolation.enabled") == "false")
  }

  test("a second pass of the twelve catalog_serving serves compiles no class") {
    def pass(): Long = ListenerSync.countCompiles {
      serves.foreach(q => q.fn(spark, sf001).write.format("noop").mode("overwrite").save())
    }._2
    val first = pass()
    val second = pass()
    info(s"first pass: $first classes compiled, second pass: $second")
    assert(second == 0, s"the second pass compiled $second classes (the first $first)")
  }
}
