package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** A span: one op, or one job or stage an op caused. Times are epoch
  * milliseconds; `parent` is the causing span (0 for an op). */
final case class Span(id: Long, parent: Long, opId: Long, kind: String,
    name: String, start: Long, end: Long)

/** Everything measured about one timed op. The counters are filled by
  * the listeners from outside the engine; the op's own wall time comes
  * from the closed-loop client, and the block storage it leaves held
  * is read when it returns. */
final class OpRecord(val id: Long, val name: String, val family: String,
    val phase: String, val cycle: Int, val traced: Boolean) {
  var start = 0L
  var end = 0L
  var durNs = 0L
  var failed = false
  /** Bytes in Spark block storage right after the op returned. */
  var heldBytes = 0L
  @volatile var jobs = 0
  @volatile var stages = 0
  @volatile var tasks = 0
  @volatile var runTimeMs = 0L
  @volatile var cpuNs = 0L
  @volatile var shuffleWrite = 0L
  @volatile var shuffleRead = 0L
  @volatile var spill = 0L
  @volatile var inputBytes = 0L
  @volatile var inputRows = 0L
  @volatile var outputBytes = 0L
  @volatile var planningMs = 0L
  @volatile var actions = 0
  var gcMs = 0L
  /** Job intervals by the engine layer whose code submitted the job. */
  val jobSpans = ArrayBuffer.empty[(String, Long, Long)]
  /** Input and output bytes by engine layer. */
  val layerBytes = scala.collection.mutable.Map.empty[String, Array[Long]]
  def wallMs: Double = durNs / 1e6
}

/** The benchmark's tracer. It registers a SparkListener, a
  * QueryExecutionListener and a StreamingQueryListener, and attributes
  * what they see to the op running when the work was submitted: the
  * op id travels as a Spark local property, which the threads a
  * stream starts inherit. Spans and counters stay in memory until the
  * run ends. With tracing off nothing is registered and ops are only
  * timed. */
final class Recorder(spark: SparkSession, val tracing: Boolean) {
  private val OpKey = "perfbench.op"
  private val ops = new ConcurrentHashMap[Long, OpRecord]()
  private val spans = java.util.Collections.synchronizedList(new java.util.ArrayList[Span]())
  private val stageOp = new ConcurrentHashMap[Int, OpRecord]()
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Long]()
  private val jobStart = new ConcurrentHashMap[Int, (OpRecord, String, Long, Long)]()
  private val execOp = new ConcurrentHashMap[Long, OpRecord]()
  /** Layer of each SQL execution. Adaptive execution submits most of a
    * query's jobs from its own threads, whose call sites hold no engine
    * frame, so a job takes the layer of the execution it belongs to. */
  private val execLayer = new ConcurrentHashMap[Long, String]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  @volatile private var current: Option[OpRecord] = None
  /** Streaming counters per cycle: queries started, triggers, rows in,
    * trigger execution ms. */
  val streamCounts = new ConcurrentHashMap[Int, Array[Long]]()
  @volatile private var cycle = 0
  @volatile var traceOn = false
  val done = ArrayBuffer.empty[OpRecord]

  private def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** The engine layer whose code started a job or SQL execution: the
    * innermost `graft.` frame of the call site Spark records for it. */
  private def layerOf(details: String): String = {
    val frame = details.linesIterator.map(_.trim).find(_.startsWith("graft."))
    frame.map(_.stripPrefix("graft.").takeWhile(c => c != '.' && c != '$'))
      .map { case "model" => "models"; case l => l }
      .getOrElse("other")
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey)))
        .flatMap(id => Option(ops.get(id.toLong)))
      op.foreach { o =>
        o.jobs += 1
        val layer = Option(e.properties.getProperty("spark.sql.execution.id"))
          .flatMap(x => Option(execLayer.get(x.toLong)))
          .getOrElse(e.stageInfos.lastOption.map(s => layerOf(s.details)).getOrElse("other"))
        val jid = nextId.getAndIncrement()
        jobStart.put(e.jobId, (o, layer, e.time, jid))
        e.stageIds.foreach { s => stageOp.put(s, o); stageLayer.put(s, layer); stageJob.put(s, jid) }
        Option(e.properties.getProperty("spark.sql.execution.id"))
          .foreach(x => execOp.put(x.toLong, o))
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
        val own = layerOf(s.details)
        val layer = if (own != "other") own
          else s.rootExecutionId.flatMap(r => Option(execLayer.get(r))).getOrElse(own)
        execLayer.put(s.executionId, layer)
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (o, layer, t0, jid) =>
        o.synchronized { o.jobSpans += ((layer, t0, e.time)) }
        spans.add(Span(jid, o.id, o.id, "job", s"job ${e.jobId} $layer", t0, e.time))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      Option(stageOp.get(s.stageId)).foreach { o =>
        o.stages += 1
        spans.add(Span(nextId.getAndIncrement(), stageJob.getOrDefault(s.stageId, 0L), o.id,
          "stage", s"stage ${s.stageId} ${s.name}", s.submissionTime.getOrElse(0L),
          s.completionTime.getOrElse(0L)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOp.get(e.stageId)).foreach { o =>
        val m = e.taskMetrics
        o.synchronized {
          o.tasks += 1
          if (m != null) {
            o.runTimeMs += m.executorRunTime
            o.cpuNs += m.executorCpuTime
            o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            o.inputBytes += m.inputMetrics.bytesRead
            o.inputRows += m.inputMetrics.recordsRead
            o.outputBytes += m.outputMetrics.bytesWritten
            val lb = o.layerBytes.getOrElseUpdate(
              stageLayer.getOrDefault(e.stageId, "other"), new Array[Long](2))
            lb(0) += m.inputMetrics.bytesRead
            lb(1) += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = credit(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = credit(qe)
    private def credit(qe: QueryExecution): Unit =
      Option(execOp.get(qe.id)).orElse(current).foreach { o =>
        o.actions += 1
        o.planningMs += qe.tracker.phases.values.map(_.durationMs).sum
      }
  }

  private val streamListener = new StreamingQueryListener {
    private def bump(i: Int, v: Long): Unit = if (traceOn)
      streamCounts.computeIfAbsent(cycle, _ => new Array[Long](4))(i) += v
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = bump(0, 1)
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      bump(1, 1)
      bump(2, e.progress.numInputRows)
      bump(3, Option(e.progress.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L))
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (tracing) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def startCycle(c: Int, traced: Boolean): Unit = { cycle = c; traceOn = tracing && traced }

  /** Run one op through the closed loop: time it, attribute the work
    * it causes, record it. A throw marks it failed and is reported to
    * stderr. */
  def op(name: String, family: String, phase: String)(body: => Unit): Unit = {
    val o = new OpRecord(nextId.getAndIncrement(), name, family, phase, cycle, traceOn)
    val sc = spark.sparkContext
    if (traceOn) {
      ops.put(o.id, o)
      sc.setLocalProperty(OpKey, o.id.toString)
      current = Some(o)
    }
    val gc0 = if (traceOn) gcMs else 0L
    o.start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body catch {
      case e: Throwable =>
        o.failed = true
        System.err.println(s"[perfbench] op $name failed: $e")
    }
    o.durNs = System.nanoTime() - t0
    o.end = o.start + o.durNs / 1000000L
    if (traceOn) {
      o.gcMs = gcMs - gc0
      sc.setLocalProperty(OpKey, null)
      current = None
      spans.add(Span(o.id, 0L, o.id, "op", name, o.start, o.end))
    }
    o.heldBytes = Held.now(spark)._2
    done += o
  }

  /** Wait until every listener event so far has been delivered. */
  def settle(): Unit = if (tracing)
    org.apache.spark.sql.graftshim.ListenerSync.waitUntilEmpty(spark.sparkContext, 30000L)

  def allSpans: Seq[Span] = spans.asScala.toSeq
}
