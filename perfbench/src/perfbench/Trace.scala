package perfbench

import scala.collection.mutable

import com.codahale.metrics.Histogram
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.SparkListenerDriverAccumUpdates
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with nanoTime resolution, on the same
  * axis as the timestamps Spark puts on its listener events.
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** One interval of the span tree. Spans of one op share `op`. */
final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
    start: Double, end: Double)

/** What the listeners saw during one op. */
final class OpCounters {
  var jobs, stages, tasks = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Double, Double)]
  var taskMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill, peakMem, resultBytes = 0L
  var rowsRead, bytesRead, bytesWritten, filesWritten = 0L
  var analysisMs, optimizationMs, planningMs, actions = 0L
  var batches, inputRows, stateRows, batchMs = 0L
  var compiles, compileMs, sourceBytes = 0L
}

/** Records spans and per-op counters. With tracing off every method is a
  * pass-through and no listener is registered.
  */
final class Tracer(val enabled: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)
  val spans = mutable.ArrayBuffer.empty[Span]
  private val counters = mutable.HashMap.empty[Long, OpCounters]
  @volatile private var currentOp = 0L
  @volatile private var currentOpSpan = 0L
  private var spark: SparkSession = _

  def newId(): Long = nextId.getAndIncrement()

  private def add(s: Span): Unit = spans.synchronized { spans += s }

  def countersOf(op: Long): OpCounters = counters.synchronized {
    counters.getOrElseUpdate(op, new OpCounters)
  }

  /** A child span of the running op around `f`. */
  def span[T](layer: String, name: String)(f: => T): T =
    if (!enabled) f
    else {
      val start = Clock.nowMs
      try f
      finally add(Span(newId(), currentOpSpan, currentOp, layer, name, start, Clock.nowMs))
    }

  /** Marks the start of op `op`; Spark jobs it runs carry the id as a
    * local property.
    */
  def beginOp(op: Long): Unit = if (enabled) {
    currentOp = op
    currentOpSpan = newId()
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, op.toString)
    codegenBefore = Tracer.codegenState()
  }
  private var codegenBefore: (Long, Long, Long) = (0L, 0L, 0L)

  /** Ends the op: drains the listener bus so the op's events are counted
    * before the next op starts, and records the op span.
    */
  def endOp(op: Long, name: String, start: Double, end: Double): OpCounters = {
    if (!enabled) return new OpCounters
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    val c = countersOf(op)
    val after = Tracer.codegenState()
    c.compiles = after._1 - codegenBefore._1
    c.compileMs = after._2 - codegenBefore._2
    c.sourceBytes = after._3 - codegenBefore._3
    add(Span(currentOpSpan, 0L, op, "op", name, start, end))
    spark.sparkContext.setLocalProperty(Tracer.OpProperty, null)
    currentOp = 0L
    c
  }

  private def opOf(props: java.util.Properties): Long =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.OpProperty)))
      .map(_.toLong).getOrElse(currentOp)

  def install(session: SparkSession): Unit = {
    spark = session
    if (!enabled) return
    val jobSpan = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, Double)]()
    val stageOp = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]()
    session.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val op = opOf(e.properties)
        val id = newId()
        jobSpan.put(e.jobId, (op, id, e.time.toDouble))
        e.stageIds.foreach(s => stageOp.put(s, (op, id)))
        countersOf(op).jobs += 1
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobSpan.remove(e.jobId)
        if (j != null) {
          val (op, id, start) = j
          countersOf(op).jobIntervals += ((start, e.time.toDouble))
          add(Span(id, if (op == currentOp) currentOpSpan else 0L, op, "exec", s"job ${e.jobId}",
            start, e.time.toDouble))
        }
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val info = e.stageInfo
        val so = stageOp.get(info.stageId)
        if (so != null) {
          countersOf(so._1).stages += 1
          for (s <- info.submissionTime; t <- info.completionTime)
            add(Span(newId(), so._2, so._1, "exec", s"stage ${info.stageId}", s.toDouble, t.toDouble))
        }
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val so = stageOp.get(e.stageId)
        val c = countersOf(if (so != null) so._1 else currentOp)
        c.tasks += 1
        val m = e.taskMetrics
        if (m != null) {
          c.taskMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
          c.resultBytes += m.resultSize
          c.rowsRead += m.inputMetrics.recordsRead
          c.bytesRead += m.inputMetrics.bytesRead
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
      }
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case u: SparkListenerDriverAccumUpdates =>
          val files = u.accumUpdates.collect {
            case (id, v) if org.apache.spark.perfbench.Bus.accumulatorName(id)
                .contains("number of written files") => v
          }.sum
          if (files > 0) countersOf(currentOp).filesWritten += files
        case _ =>
      }
    })
    session.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        val c = countersOf(currentOp)
        c.actions += 1
        val phases = qe.tracker.phases
        def phase(key: String, layerName: String): Long = phases.get(key).map { p =>
          add(Span(newId(), currentOpSpan, currentOp, "plans", layerName,
            p.startTimeMs.toDouble, p.endTimeMs.toDouble))
          p.durationMs
        }.getOrElse(0L)
        c.analysisMs += phase("analysis", "analysis")
        c.optimizationMs += phase("optimization", "optimization")
        c.planningMs += phase("planning", "planning")
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
        countersOf(currentOp).actions += 1
    })
    session.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val c = countersOf(currentOp)
        c.batches += 1
        c.inputRows += p.numInputRows
        c.stateRows += p.stateOperators.map(_.numRowsTotal).sum
        val ms = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        c.batchMs += ms
        val end = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble + ms
        add(Span(newId(), currentOpSpan, currentOp, "streaming", s"batch ${p.batchId}",
          end - ms, end))
      }
    })
  }
}

object Tracer {
  val OpProperty = "perfbench.op"

  private val Reservoir = 1028

  /** (compiles, compile ms, generated source bytes) so far in this JVM,
    * from Spark's CodegenMetrics. Its histograms keep every sample until
    * they hold 1028; past that the sums are estimated as count × mean of
    * the retained samples.
    */
  def codegenState(): (Long, Long, Long) = {
    def sum(h: Histogram): Long = {
      val snap = h.getSnapshot
      if (h.getCount <= Reservoir) snap.getValues.sum
      else math.round(snap.getMean * h.getCount)
    }
    (CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      sum(CodegenMetrics.METRIC_COMPILATION_TIME),
      sum(CodegenMetrics.METRIC_SOURCE_CODE_SIZE))
  }
}
