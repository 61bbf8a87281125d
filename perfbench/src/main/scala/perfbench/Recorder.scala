package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

final case class SpanRec(id: Int, parent: Int, name: String,
    startUs: Long, endUs: Long, attrs: Map[String, Any])

/** A root span's result, wall and process CPU seconds, and shuffle bytes written. */
final case class Timed[T](value: T, wallS: Double, cpuS: Double, shuffleWritten: Long)

final class JobRec(val id: Int, val span: Int, val startMs: Long) {
  var endMs: Long = -1L
}

final class StageRec(val id: Int, val attempt: Int, val span: Int) {
  val tasksMs = mutable.ArrayBuffer.empty[Long]
  var runMs, gcMs, srBytes, srRecords, swBytes, swRecords, spillDisk, spillMem = 0L

  def add(durationMs: Long, m: TaskMetrics): Unit = {
    tasksMs += durationMs
    runMs += m.executorRunTime
    gcMs += m.jvmGCTime
    srBytes += m.shuffleReadMetrics.totalBytesRead
    srRecords += m.shuffleReadMetrics.recordsRead
    swBytes += m.shuffleWriteMetrics.bytesWritten
    swRecords += m.shuffleWriteMetrics.recordsWritten
    spillDisk += m.diskBytesSpilled
    spillMem += m.memoryBytesSpilled
  }
}

/** Everything the benchmark measures from outside the library.
  *
  * Always on: a task-end counter of shuffle bytes written (the end-to-end
  * `shuffle_write_mb`). While a traced root span is open it also keeps, in
  * memory, the spans the benchmark opens around its calls into the library
  * (root → layer call), every job and stage those calls start (attributed
  * to the innermost open span through a thread-local job property) with
  * their task metrics, and the Catalyst phase times of every query. The
  * arithmetic over these records lives in `perfbench/metrics.py`. */
final class Recorder(spark: SparkSession) extends SparkListener {
  private val sc: SparkContext = spark.sparkContext
  private val SpanKey = "perfbench.span"

  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val shuffleWritten = new java.util.concurrent.atomic.AtomicLong
  @volatile private var capture = false
  @volatile private var rootId = 0

  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
  private val catalyst = mutable.ArrayBuffer.empty[(Int, Long)]

  // One clock for spans: epoch microseconds advanced by the monotonic clock,
  // comparable with the listener's epoch-millisecond job times.
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  private def nowUs: Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L

  private var nextId = 1
  private var open: List[(Int, Long, mutable.Map[String, Any])] = Nil

  sc.addSparkListener(this)
  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (capture) Recorder.this.synchronized {
        catalyst += rootId -> qe.tracker.phases.values.map(_.durationMs).sum
      }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  })

  private def spanOf(props: java.util.Properties): Int =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt).getOrElse(rootId)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (capture) synchronized { jobs(e.jobId) = new JobRec(e.jobId, spanOf(e.properties), e.time) }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (capture) synchronized { jobs.get(e.jobId).foreach(_.endMs = e.time) }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    if (capture) synchronized {
      val s = e.stageInfo
      stages((s.stageId, s.attemptNumber())) =
        new StageRec(s.stageId, s.attemptNumber(), spanOf(e.properties))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      shuffleWritten.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      if (capture) synchronized {
        stages.get((e.stageId, e.stageAttemptId)).foreach(_.add(e.taskInfo.duration, m))
      }
    }
  }

  /** Runs `body` as one root span (a pass or a probe). Untraced, no span or
    * event is kept. A full collection runs first, outside the timing, so
    * that no root span pays for the garbage of the one before, nor for the
    * shuffle-file clean-up that collection triggers. */
  def root[T](name: String, traced: Boolean)(body: => T): Timed[T] = {
    System.gc()
    ListenerBus.drain(sc)
    val written0 = shuffleWritten.get()
    if (traced) { capture = true; rootId = nextId }
    val cpu0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    try {
      val out = if (traced) span(name)(body) else body
      val wall = (System.nanoTime() - t0) / 1e9
      val cpu = (os.getProcessCpuTime - cpu0) / 1e9
      ListenerBus.drain(sc)
      Timed(out, wall, cpu, shuffleWritten.get() - written0)
    } finally { capture = false; rootId = 0 }
  }

  /** A span around a call into one layer. Outside a traced root it only runs `body`. */
  def span[T](name: String, attrs: (String, Any)*)(body: => T): T =
    if (!capture) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, nowUs, mutable.Map[String, Any](attrs: _*)) :: open
      sc.setLocalProperty(SpanKey, id.toString)
      try body
      finally {
        val (_, startUs, a) = open.head
        open = open.tail
        synchronized { spans += SpanRec(id, parent, name, startUs, nowUs, a.toMap) }
        sc.setLocalProperty(SpanKey, if (parent == 0) null else parent.toString)
      }
    }

  /** Adds an attribute to the innermost open span, if any. */
  def note(key: String, value: Any): Unit = open.headOption.foreach(_._3(key) = value)

  /** Everything captured so far, as JSON-renderable values. */
  def records: Map[String, Any] = synchronized {
    Map(
      "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)),
      "jobs" -> jobs.values.map(j => Map("id" -> j.id, "span" -> j.span,
        "start_ms" -> j.startMs, "end_ms" -> j.endMs)),
      "stages" -> stages.values.map(s => Map("id" -> s.id, "attempt" -> s.attempt,
        "span" -> s.span, "tasks_ms" -> s.tasksMs, "run_ms" -> s.runMs, "gc_ms" -> s.gcMs,
        "sr_bytes" -> s.srBytes, "sr_records" -> s.srRecords, "sw_bytes" -> s.swBytes,
        "sw_records" -> s.swRecords, "spill_disk" -> s.spillDisk, "spill_mem" -> s.spillMem)),
      "catalyst" -> catalyst.map { case (r, ms) => Map("root" -> r, "ms" -> ms) })
  }
}
