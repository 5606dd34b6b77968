package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates, SparkListenerSQLExecutionStart}
import org.apache.spark.storage.{RDDBlockId, StorageLevel}

/** One timed interval of the traced run. `parent` is 0 for an op span.
  * Engine job spans take their parent from the job-local property
  * [[Trace.SpanProp]], which holds the innermost open span when the job
  * was submitted.
  */
final case class Span(id: Long, parent: Long, op: Int, layer: String, name: String,
    t0Us: Long, var t1Us: Long = -1L)

/** Per-op engine counters, summed over the tasks, stages and jobs that the
  * op caused. Times are seconds, sizes bytes.
  */
final class OpCounters {
  val c: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def add(k: String, v: Double): Unit = c(k) = c.getOrElse(k, 0.0) + v
  def max(k: String, v: Double): Unit = c(k) = math.max(c.getOrElse(k, 0.0), v)
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  val sqlExecutions = mutable.ArrayBuffer.empty[Long]
  val materialized = mutable.Set.empty[Int]
}

/** The benchmark's tracer: spans opened by the harness around each call
  * into the library, plus a SparkListener that links jobs, stages and
  * tasks to the op that caused them. It is only installed in the traced
  * run; in the timed run [[span]] is a plain call.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) extends SparkListener {
  private val ids = new AtomicLong(0)
  private val t0Nanos = System.nanoTime()
  private val t0EpochUs = System.currentTimeMillis() * 1000L

  /** Epoch microseconds on the monotonic clock, comparable with the
    * listener's millisecond event times.
    */
  def nowUs(): Long = t0EpochUs + (System.nanoTime() - t0Nanos) / 1000L

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  @volatile private var currentOp: Int = -1
  private val counters = mutable.Map.empty[Int, OpCounters]
  private val spanOp = mutable.Map.empty[Long, Int]
  private val stageOp = mutable.Map.empty[Int, Int]
  private val jobSpan = mutable.Map.empty[Int, Span]
  private val accums = mutable.Map.empty[Long, Long]
  private val rddBlocks = mutable.Map.empty[String, Long]
  private var rddBytes = 0L

  def opCounters(op: Int): OpCounters = synchronized(counters.getOrElseUpdate(op, new OpCounters))
  def accumulated(id: Long): Long = synchronized(accums.getOrElse(id, 0L))

  /** Opens the span for one op; every job submitted until [[endOp]] is
    * charged to it.
    */
  def beginOp(op: Int, kind: String): Unit = if (enabled) {
    synchronized { currentOp = op; opCounters(op) }
    open("op", kind, op)
  }

  def endOp(): Unit = if (enabled) close()

  /** Called once the listener bus has drained after [[endOp]]: events that
    * arrive from here on (an untraced op's) are charged to no op.
    */
  def idle(): Unit = synchronized { currentOp = -1 }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      open(layer, name, currentOp)
      try body finally close()
    }

  private def open(layer: String, name: String, op: Int): Unit = synchronized {
    val s = Span(ids.incrementAndGet(), stack.headOption.map(_.id).getOrElse(0L), op,
      layer, name, nowUs())
    spans += s
    spanOp(s.id) = op
    stack = s :: stack
    sc.setLocalProperty(Trace.SpanProp, s.id.toString)
  }

  private def close(): Unit = synchronized {
    val s = stack.head
    s.t1Us = nowUs()
    stack = stack.tail
    sc.setLocalProperty(Trace.SpanProp, stack.headOption.map(_.id.toString).orNull)
  }

  private def opOfJob(props: java.util.Properties): (Int, Long) = {
    val sid = Option(props).flatMap(p => Option(p.getProperty(Trace.SpanProp))).map(_.toLong)
    sid.flatMap(id => spanOp.get(id).map(op => (op, id))).getOrElse((currentOp, 0L))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val (op, parent) = opOfJob(e.properties)
    if (op >= 0) {
      val s = Span(ids.incrementAndGet(), parent, op, "engine", "job", e.time * 1000L)
      spans += s
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageOp(_) = op)
      opCounters(op).add("jobs", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(_.t1Us = e.time * 1000L)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val op = stageOp.getOrElse(e.stageInfo.stageId, currentOp)
    val c = opCounters(op)
    c.add("stages", 1)
    e.stageInfo.rddInfos.filter(_.storageLevel != StorageLevel.NONE)
      .foreach(r => c.materialized += r.id)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = opCounters(stageOp.getOrElse(e.stageId, currentOp))
    val ti = e.taskInfo
    c.add("tasks", 1)
    if (ti.attemptNumber > 0 || ti.failed || ti.killed) c.add("task_retries", 1)
    c.taskIntervals += ((ti.launchTime, ti.finishTime))
    ti.accumulables.foreach { a =>
      a.update match {
        case Some(v: Long) => accums(a.id) = accums.getOrElse(a.id, 0L) + v
        case _ =>
      }
    }
    val m = e.taskMetrics
    if (m != null) {
      val dur = ti.finishTime - ti.launchTime
      c.add("sched_delay_s", math.max(0L, dur - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - ti.gettingResultTime) / 1e3)
      c.add("task_s", m.executorRunTime / 1e3)
      c.add("task_cpu_s", m.executorCpuTime / 1e9)
      c.add("gc_s", m.jvmGCTime / 1e3)
      c.add("input_rows", m.inputMetrics.recordsRead.toDouble)
      c.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
      c.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
      c.add("shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      c.add("shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      c.add("shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      c.add("fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
      c.add("spill_memory_bytes", m.memoryBytesSpilled.toDouble)
      c.add("spill_disk_bytes", m.diskBytesSpilled.toDouble)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.blockId.isInstanceOf[RDDBlockId]) {
      val k = s"${b.blockManagerId.executorId}/${b.blockId.name}"
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      rddBytes += now - rddBlocks.getOrElse(k, 0L)
      if (now == 0L) rddBlocks.remove(k) else rddBlocks(k) = now
      opCounters(currentOp).max("materialize_peak_bytes", rddBytes.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized(opCounters(currentOp).sqlExecutions += s.executionId)
    case d: SparkListenerDriverAccumUpdates => synchronized {
      d.accumUpdates.foreach { case (id, v) => accums(id) = accums.getOrElse(id, 0L) + v }
    }
    case _ =>
  }
}

object Trace {
  val SpanProp = "perfbench.span"
}
