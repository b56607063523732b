package org.apache.spark.sql.graftshim

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Deterministic listener-bus drain for job-count assertions.
  *
  * Specs that assert "this construction scheduled no Spark jobs"
  * observe the ASYNC listener bus; a fixed `Thread.sleep` after the
  * construction is a race — on a loaded box a job-start event arriving
  * after the sleep yields a false PASS (the r12 advice on
  * BandedHammingSpec). `listenerBus.waitUntilEmpty` is the precise
  * barrier but is `private[spark]`, hence this shim.
  */
object ListenerSync {

  /** Block until every queued listener event has been delivered (or
    * the timeout elapses — then TimeoutException, failing the spec
    * loudly instead of passing vacuously). */
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** `f`'s result and the number of Spark jobs it launched. Every job
    * `f` submits carries a job tag unique to this call (threads it
    * spawns inherit the tag), and only tagged jobs count: a straggler
    * job of earlier work still queued on the session-global bus cannot
    * inflate the count. The bus is drained before the count is read. */
  def countJobs[T](sc: SparkContext)(f: => T): (T, Int) = {
    val tag = s"graft-count-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties)
          .flatMap(p => Option(p.getProperty(SparkContext.SPARK_JOB_TAGS)))
        if (tags.exists(_.split(SparkContext.SPARK_JOB_TAGS_SEP).contains(tag)))
          jobs.incrementAndGet()
      }
    }
    sc.addSparkListener(l)
    try {
      sc.addJobTag(tag)
      val r = try f finally sc.removeJobTag(tag)
      waitUntilEmpty(sc, 30000L)
      (r, jobs.get())
    } finally sc.removeSparkListener(l)
  }

  /** `f`'s result and the number of classes Spark's code generator
    * compiled while it ran: a lookup that hits the generated-class cache
    * compiles nothing. The count is JVM-wide (every compile, driver or
    * task thread, bumps one histogram), so run `f` with no other work in
    * the JVM. Compiles happen inside the jobs `f` waits on; no drain is
    * needed. */
  def countCompiles[T](f: => T): (T, Long) = {
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val r = f
    (r, compiles.getCount - before)
  }
}
