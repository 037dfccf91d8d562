package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call into a layer, or a whole op. Times are
  * epoch-aligned nanoseconds so they compare with the millisecond
  * timestamps Spark puts on job and query-phase events. */
final class Span(val id: Int, val parent: Int, val op: Int, val kind: String,
    val layer: String, val table: String, val start: Long) {
  var end: Long = -1L
  /** Counter deltas over the span: graft `PhaseStats` (`phase.<label>.ms`),
    * Hadoop local-FS statistics (`fs.*`) and what the caller adds. */
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(k: String, v: Double): Unit = counters(k) = counters.getOrElse(k, 0.0) + v
  def add(k: String, v: Long): Unit = add(k, v.toDouble)
}

/** Spans recorded from the benchmark's own code around calls into
  * graft's layers, plus Spark job, task and Catalyst-phase records
  * gathered by public listeners. Everything stays in memory until
  * [[json]] writes the sidecar at the end of the run.
  *
  * Jobs are tied to the span that was active when they started through
  * the `perfbench.span` local property, which `span` sets on the bench
  * thread; a job started from a thread that did not inherit it falls
  * back to the innermost span covering its start time. Catalyst phases
  * carry only wall-clock timestamps and are attributed the same way. */
final class Tracer(spark: SparkSession) {
  private val SpanProp = "perfbench.span"
  private val sc: SparkContext = spark.sparkContext
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  def now(): Long = System.nanoTime() + epochOffsetNs

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  var enabled = false

  /** Runs `f` inside a span when tracing is on; `layer` names the repo
    * module the call enters and `table` the root of the table it writes,
    * if any. */
  def span[T](kind: String, layer: String, op: Int, table: String = null)(f: Span => T): T = {
    if (!enabled) return f(null)
    val parent = stack.headOption
    val s = new Span(spans.size, parent.map(_.id).getOrElse(-1), op, kind, layer, table, now())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(SpanProp, s.id.toString)
    val ph0 = phaseMs()
    val fs0 = fsStats()
    try f(s) finally {
      val ph1 = phaseMs()
      val fs1 = fsStats()
      s.end = now()
      ph1.foreach { case (k, v) =>
        val d = v - ph0.getOrElse(k, 0.0)
        if (d != 0.0) s.add(s"phase.$k.ms", d)
      }
      fs1.foreach { case (k, v) => s.add(k, v - fs0.getOrElse(k, 0L)) }
      stack = stack.tail
      sc.setLocalProperty(SpanProp, stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** graft's process-wide phase totals in ms (invocations are dropped). */
  def phaseMs(): Map[String, Double] =
    graft.store.PhaseStats.snapshot().map { case (k, (_, s)) => k -> s * 1000.0 }

  @annotation.nowarn("cat=deprecation")
  private def fsStats(): Map[String, Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Map(
      "fs.read_ops" -> CountingLocalFileSystem.reads.sum,
      "fs.write_ops" -> CountingLocalFileSystem.writes.sum,
      "fs.bytes_read" -> st.map(_.getBytesRead).sum,
      "fs.bytes_written" -> st.map(_.getBytesWritten).sum)
  }

  // ---- listener side (listener-bus thread) ----

  import Tracer._

  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val tasks = new ConcurrentLinkedQueue[TaskRec]()
  private val phases = new ConcurrentLinkedQueue[PhaseRec]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val prop = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      jobs.put(e.jobId, JobRec(e.jobId, prop, e.time * 1000000L, -1L, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time * 1000000L)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m == null) return
      val info = e.taskInfo
      val sched = math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
      tasks.add(TaskRec(e.stageId, m.executorRunTime, m.executorCpuTime / 1e6,
        m.jvmGCTime, sched,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.outputMetrics.bytesWritten))
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit =
      qe.tracker.phases.foreach { case (name, p) =>
        phases.add(PhaseRec(name, p.startTimeMs * 1000000L, (p.endTimeMs - p.startTimeMs).toDouble))
      }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  def install(): Unit = {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(queryListener)
  }

  /** Delivers every queued listener event, so the records are complete. */
  def drainEvents(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  // ---- attribution ----

  private def innermostAt(t: Long): Int = {
    var best: Span = null
    spans.foreach { s =>
      if (s.start <= t && t <= s.end && (best == null || s.start >= best.start)) best = s
    }
    if (best == null) -1 else best.id
  }

  /** Adds the Spark and Catalyst records to the span each belongs to and
    * the job-free time to each op span. Call once, after [[drainEvents]]. */
  def attribute(cores: Int): Unit = {
    val byId = spans.map(s => s.id -> s).toMap
    val js = jobs.values.asScala.toSeq
      .map(j => j.copy(spanProp = if (byId.contains(j.spanProp)) j.spanProp else innermostAt(j.start)))
      .filter(_.spanProp >= 0)
    val stageSpan = mutable.Map.empty[Int, Int]
    js.sortBy(_.id).foreach { j =>
      val s = byId(j.spanProp)
      s.add("spark.jobs", 1)
      s.add("spark.stages", j.stages.size)
      j.stages.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = j.spanProp)
    }
    tasks.asScala.foreach { t =>
      stageSpan.get(t.stage).map(byId).foreach { s =>
        s.add("spark.tasks", 1)
        s.add("spark.task_run.ms", t.runMs)
        s.add("spark.task_cpu.ms", t.cpuMs)
        s.add("spark.gc.ms", t.gcMs)
        s.add("spark.sched_delay.ms", t.schedMs)
        s.add("spark.shuffle_read.bytes", t.shuffleRead)
        s.add("spark.shuffle_write.bytes", t.shuffleWrite)
        s.add("spark.spill.bytes", t.spill)
        s.add("spark.input.bytes", t.inputBytes)
        s.add("spark.input.records", t.inputRecords)
        s.add("spark.output.bytes", t.outputBytes)
      }
    }
    phases.asScala.foreach { p =>
      val id = innermostAt(p.start)
      if (id >= 0) {
        byId(id).add(s"catalyst.${p.phase}.ms", p.ms)
        if (p.phase == "analysis") byId(id).add("catalyst.queries", 1)
      }
    }
    // driver-only time: the part of each op span no job was running in
    val intervals = js.filter(_.end > 0).map(j => (j.start, j.end)).sortBy(_._1)
    spans.filter(_.parent < 0).foreach { s =>
      var covered = 0L
      var curS = -1L; var curE = -1L
      intervals.foreach { case (a0, b0) =>
        val a = math.max(a0, s.start); val b = math.min(b0, s.end)
        if (a < b) {
          if (a > curE) { if (curE > curS) covered += curE - curS; curS = a; curE = b }
          else curE = math.max(curE, b)
        }
      }
      if (curE > curS) covered += curE - curS
      s.add("spark.driver_only.ms", (s.end - s.start - covered) / 1e6)
      s.add("spark.core_slots.ms", (s.end - s.start) / 1e6 * cores)
    }
  }

  def json(): String = Json.arr(spans.toSeq.map { s =>
    Json.Raw(Json.obj(
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind,
      "layer" -> s.layer, "table" -> s.table, "start_ns" -> s.start, "end_ns" -> s.end,
      "counters" -> s.counters.toMap))
  })
}

object Tracer {
  final case class JobRec(id: Int, spanProp: Int, start: Long, var end: Long,
      stages: Seq[Int])
  final case class TaskRec(stage: Int, runMs: Long, cpuMs: Double, gcMs: Long,
      schedMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
      inputBytes: Long, inputRecords: Long, outputBytes: Long)
  final case class PhaseRec(phase: String, start: Long, ms: Double)
}
