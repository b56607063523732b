package graft.spark

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine. Every engine JVM builds
  * its session here: `Verify`, `Bench`, `TimeSubset`, the benchmark
  * program under `perfbench/` and the test JVM.
  *
  * Centralizes the configs that matter both for local runs (one
  * `local[cores]` JVM; cores from `SPARK_GRAFT_CPUS`, default 4; heap
  * from `SPARK_DRIVER_MEM` in the build) and for the 100 TB design
  * target:
  *   - AQE on (runtime shuffle-partition coalescing, skew-join splitting)
  *   - UTC session time zone (oracle parity with DuckDB)
  *   - shuffle partitions sized to the local core count; on a real
  *     cluster this is overridden per-deploy (AQE coalesces anyway)
  *   - a generated-class cache that holds a serving round
  *     (`codegenCacheEntries`) and one class loader for every session's
  *     tasks, so a class compiled once is reused by every query and
  *     stream of the JVM
  */
object Sessions {
  def local(appName: String = "graft", cores: Int = defaultCores): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // iterative operators (connected components, BPE) can build
      // deeply-nested plans; an uncapped explain/event-log rendering
      // of such a plan OOMs the driver before the query itself would.
      // 1 MB is plenty for any legitimate diagnostic read.
      .config("spark.sql.maxPlanStringLength", (1 << 20).toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", codegenCacheEntries.toString)
      // The generated-class cache is keyed by class loader as well as by
      // source. With artifact isolation on, executors run each session's
      // tasks under a class loader of that session's own, and every
      // stream runs in a fresh clone of the session: each start of the
      // `catalog_serving` embeddings refresh compiled the same 37 classes
      // again. With one loader a timed round compiles 4 (seed 7, 4 cores).
      // The engine adds no jars or files to a session, so isolation
      // guards nothing here.
      .config("spark.sql.artifact.isolation.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`; Spark's default is 100).
    *
    * Spark compiles every distinct piece of generated code (whole-stage
    * code, projections, predicates, orderings) with janino, on the task
    * threads a query waits on, and keeps the class in an LRU cache keyed
    * by the exact source and class loader. At 100 entries a serving
    * round evicts its own classes before it reuses them. Measured on the
    * `catalog_serving` benchmark workload (seed 7, 4 cores, the
    * driver's metrics CSV sink and a traced round):
    *   - the warm-up round compiles about 250 classes at any size;
    *   - at 100 every later round compiles about 290 again (one traced
    *     round: 98 in the refresh, 196 in the serves); at 200 two timed
    *     rounds compiled 411;
    *   - from 300 up the whole run (warm-up and two timed rounds)
    *     compiles 326 distinct classes and none twice, so a round's
    *     working set is under 300;
    *   - metaspace used at the end of that run: 50.5 MB at 100,
    *     51.4 MB at 500 (47.5 MB with the shared class loader below,
    *     which stops the refresh compiling its classes anew).
    * 500 holds a round with headroom for Guava's segmented LRU (four
    * segments of a quarter of the entries each). It does not hold the
    * whole catalog: `graft.Verify` at sf0.01 compiles thousands of
    * classes and ended at 223 MB of metaspace used at 500.
    *
    * A static conf: Spark reads it once, when its code generator first
    * initialises, so the first session of a JVM fixes it for the JVM. */
  val codegenCacheEntries: Int = 500

  def defaultCores: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  /** Run `body` (an iterative loop over a tiny relation) with
    * `spark.sql.shuffle.partitions` sized to the LOOP's data rather
    * than the core count — the q180 discipline, shared by every graph
    * loop. The width derives from the relation's row count (~64k rows
    * per partition, floor 8, capped at 16× the session parallelism),
    * never a local constant, and the previous value is restored on
    * exit. Only the jobs launched INSIDE `body` (the per-round
    * aggregates/joins/checkpoints) see the loop width. */
  def withLoopPartitions[A](spark: SparkSession, rows: Long)(body: => A): A = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.get(key)
    val parts = math.min(
      math.max(8L, rows / 65536L),
      16L * spark.sparkContext.defaultParallelism)
    spark.conf.set(key, parts.toString)
    try body finally spark.conf.set(key, prev)
  }
}
