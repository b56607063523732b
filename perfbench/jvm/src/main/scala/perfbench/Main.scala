package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side: one process, one session on every core,
  * one closed-loop client.
  *
  *   perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *     --warm K --data DIR --work DIR --out FILE --t0 EPOCH_MS
  *   perfbench.Main --train DIR
  *
  * Order of events: session, K untimed warm-up cycles, the first of
  * which checks every op's full output, then timed cycles until S
  * seconds have passed (a started cycle runs to its end). `--t0` is when the
  * benchmark process started, so set-up time covers input generation,
  * the JVM, the session and the warm-up. Results go to `--out` as one
  * JSON object; the caller compares the written outputs with their
  * oracles and prints the verdict.
  */
object Main {

  /** Oracle-paired analyst queries `catalog_serving` serves, one per
    * family, family name first. */
  val analyst: Seq[(String, String)] = Seq(
    "operators.Relational" -> "q01_pricing_summary",
    "operators.OlapGrouping" -> "q244_cube_lineitem",
    "operators.AsOfJoin" -> "q37_asof_join",
    "operators.RangeJoin" -> "q40_range_join",
    "operators.JsonQueries" -> "q38_json_parse",
    "operators.Skew" -> "q83_salted_join",
    "plans.JoinElim" -> "q230_join_elim_left",
    "plans.MvRewrite" -> "q214_mv_rewrite")

  /** Oracle-paired corpus serves over documents and embeddings. */
  val corpus: Seq[(String, String)] = Seq(
    "operators.Similarity" -> "q30_sim_topk",
    "operators.Dedup" -> "q26_dedup_exact",
    "operators.TextAdvanced" -> "q113_bm25_score",
    "operators.NgramStats" -> "q158_novelty_scores")

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    args.get("train") match {
      case Some(root) => train(root)
      case None => run(args)
    }
  }

  def workloadFor(spark: SparkSession, name: String, data: String, work: String,
      seed: Long): Workload = name match {
    case "dbt_pipeline" =>
      val manifest = new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$data/manifest.json")).get("planted")
      val planted = manifest.fieldNames.asScala.map(k => k -> manifest.get(k).asLong).toMap
      new DbtPipeline(spark, s"$data/taxi.csv", work, planted)
    case "catalog_serving" =>
      new CatalogServing(spark, data, s"$data/embeddings_arrivals", seed, analyst, corpus)
    case other => sys.error(s"unknown workload $other")
  }

  /** One traced warm-up cycle of every workload, over the inputs under
    * `root/<workload>/data`: run once after a build with the JVM
    * recording the classes it loads, so later runs start from that
    * class archive. */
  private def train(root: String): Unit = {
    val spark = graft.spark.Sessions.local("perfbench-train",
      Runtime.getRuntime.availableProcessors)
    val rec = new Recorder(spark, tracing = true)
    Seq("dbt_pipeline", "catalog_serving").foreach { name =>
      val w = workloadFor(spark, name, s"$root/$name/data", s"$root/$name", 0L)
      rec.startCycle(0, traced = true)
      w.cycle(rec, Some(new CheckSink(s"$root/$name/check")))
    }
    spark.stop()
  }

  private def run(args: Map[String, String]): Unit = {
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val tracing = args("trace") == "1"
    val work = args("work")
    val t0 = args("t0").toLong
    val cores = Runtime.getRuntime.availableProcessors

    val spark = graft.spark.Sessions.local("perfbench", cores)
    val tSession = System.currentTimeMillis()
    val rec = new Recorder(spark, tracing)
    val w = workloadFor(spark, workload, args("data"), work, seed)

    // warm-up: untimed cycles, the first of which checks every op's output
    val sink = new CheckSink(s"$work/check")
    rec.startCycle(0, traced = false)
    val warmS = (0 until args("warm").toInt).map { i =>
      val t = System.nanoTime()
      w.cycle(rec, if (i == 0) Some(sink) else None)
      (System.nanoTime() - t) / 1e9
    }
    val warm = rec.done.toList
    rec.done.clear()

    // timed closed loop
    val tFirst = System.currentTimeMillis()
    val steal0 = Steal.read()
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var c = 0
    // a traced run alternates untraced and traced cycles, at least
    // untraced-traced-untraced, so the tracing overhead is measured
    // inside the run without favouring either side's position
    while (System.nanoTime() < deadline || (tracing && c < 3)) {
      c += 1
      rec.startCycle(c, traced = !tracing || c % 2 == 0)
      w.cycle(rec, None)
    }
    val measuredS = (System.currentTimeMillis() - tFirst) / 1000.0
    val stealPct = Steal.pct(steal0, Steal.read())
    rec.settle()
    val held = Held.now(spark)
    val memoAtEnd = w match {
      case _: CatalogServing => -1
      case _ => graft.spark.SessionMemo.evictAll(spark)
    }

    val m = new Metrics(rec, cores, w, tracing)
    val out = new StringBuilder("{")
    def kv(k: String, v: String, last: Boolean = false): Unit =
      out ++= Json.str(k) ++= ":" ++= v ++= (if (last) "" else ",")
    kv("workload", Json.str(workload))
    kv("setup_s", Json.num((tFirst - t0) / 1000.0))
    kv("measured_s", Json.num(measuredS))
    kv("cycles", c.toString)
    kv("session_s", Json.num((tSession - t0) / 1000.0))
    kv("warm_cycle_s", Json.arr(warmS.map(Json.num)))
    kv("cores", cores.toString)
    kv("steal_pct", Json.num(stealPct))
    kv("attempted", (m.timed.size + warm.size).toString)
    kv("failed", (m.timed.count(_.failed) + warm.count(_.failed)).toString)
    kv("warm_failed", Json.arr(warm.filter(_.failed).map(o => Json.str(o.name))))
    kv("asserted", sink.asserted.toString)
    kv("assert_failures", Json.arr(sink.failures.toSeq.map(Json.str)))
    kv("oracle_checks", Json.arr(sink.oracleChecks.toSeq.map(ch =>
      s"{${Json.str("op")}:${Json.str(ch.op)},${Json.str("path")}:${Json.str(ch.path)}," +
        s"${Json.str("sql")}:${Json.str(ch.oracle)}}")))
    kv("e2e", Json.obj(m.endToEnd))
    kv("cycle_times", Json.arr(m.cycleTimes.map(Json.num)))
    kv("samples", Json.obj(m.samples.map { case (k, v) => k -> v.toString }))
    if (tracing) {
      kv("per_layer", Json.obj(m.perLayer(held, memoAtEnd, stealPct)))
      Files.writeString(Paths.get(s"$work/spans.jsonl"), rec.allSpans.map(s =>
        s"""{"id":${s.id},"parent":${s.parent},"op":${s.opId},"kind":${Json.str(s.kind)},""" +
          s""""name":${Json.str(s.name)},"start":${s.start},"end":${s.end}}""").mkString("\n"))
    }
    kv("held_at_end_mb", Json.num(held._2 / 1e6), last = true)
    out ++= "}"
    Files.writeString(Paths.get(args("out")), out.toString)
    spark.stop()
  }
}

/** Host CPU steal from /proc/stat (zeros where it does not exist). */
object Steal {
  def read(): (Long, Long) = try {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  } catch { case _: Exception => (0L, 0L) }
  def pct(a: (Long, Long), b: (Long, Long)): Double =
    if (b._2 > a._2) 100.0 * (b._1 - a._1) / (b._2 - a._2) else 0.0
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "0" else d.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
