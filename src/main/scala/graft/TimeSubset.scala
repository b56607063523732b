package graft
/** Dev tool: warm per-query timing of a SPARK_GRAFT_ONLY subset (same
  * contract as Verify's filter); falls back to the full catalog. The
  * session takes its core count from SPARK_GRAFT_CPUS, as Verify's
  * does. Each query runs one warm-up pass, then three timed passes;
  * the line reports their median (a single warm pass spread up to 2.5×
  * between JVMs). */
object TimeSubset {
  def main(args: Array[String]): Unit = {
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val spark = graft.spark.Sessions.local("timing")
    SparkEntry.catalog.filter(q => only.forall(_.contains(q.name))).foreach { q =>
      try {
        q.fn(spark, d).count() // warm
        val passes = Seq.fill(3) {
          val t0 = System.nanoTime()
          val n = q.fn(spark, d).count()
          ((System.nanoTime() - t0) / 1e9, n)
        }
        val n = passes.last._2
        val median = passes.map(_._1).sorted.apply(1)
        println(f"TIMING ${q.name}%-28s $median%8.3f s  $n%9d rows")
      } catch { case e: Throwable =>
        println(s"TIMING ${q.name} FAILED ${e.getMessage.take(80)}")
      }
    }
    spark.stop()
  }
}
