package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the traced run: workload → op → phase/module call → Spark job. */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double)

/** The traced run's recorder. Everything is a no-op while `on` is false, so
  * the untraced half of a traced run (and every untraced run, which never
  * installs the listeners) pays only a volatile read per module call.
  *
  * Counters are read as deltas around each op (see [[Harness]]), after the
  * listener bus has been drained, so an op's numbers hold exactly the jobs,
  * tasks, query executions and stream progress events that op caused. */
object Trace {
  @volatile var on = false
  private val t0 = System.nanoTime()
  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = List(0)
  private var nextId = 1
  private var spark: SparkSession = _

  /** Per-op values reported by the benchmark's own code (module call time,
    * pruning reports, pair counts …), reset by the harness before each op. */
  val values = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit =
    if (on) values(name) = values.getOrElse(name, 0.0) + v

  // Spark-side counters: cumulative, read as deltas around each op.
  val counters: Map[String, AtomicLong] = Seq("spark.jobs", "spark.stages",
    "spark.tasks", "spark.task_ms", "spark.task_cpu_ns", "spark.input_bytes",
    "spark.shuffle_read_bytes", "spark.shuffle_write_bytes", "spark.spill_bytes",
    "spark.actions", "spark.plan.analysis_us", "spark.plan.optimization_us",
    "spark.plan.planning_us", "streaming.batches", "streaming.add_batch_ms",
    "streaming.query_planning_ms", "streaming.latest_offset_ms",
    "streaming.wal_commit_ms").map(_ -> new AtomicLong(0L)).toMap
  private def inc(name: String, by: Long): Unit = { counters(name).addAndGet(by); () }
  /** Wall time of each streaming trigger, for the batch-time median. */
  val batchMs = mutable.ArrayBuffer.empty[Double]
  /** (start, end) of every finished job, in epoch ms, for the idle time. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val jobStarts = new ConcurrentHashMap[Int, (Long, Int, Double)]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
      val parent = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(0)
      jobStarts.put(e.jobId, (e.time, parent, nowMs))
      inc("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (on && s != null) Trace.synchronized {
        jobIntervals += ((s._1, e.time))
        spans += Span(-e.jobId - 1, s._2, s"spark.job", s._3, nowMs)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (on) inc("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (on && e.taskMetrics != null) {
        val m = e.taskMetrics
        inc("spark.tasks", 1)
        inc("spark.task_ms", m.executorRunTime)
        inc("spark.task_cpu_ns", m.executorCpuTime)
        inc("spark.input_bytes", m.inputMetrics.bytesRead)
        inc("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        inc("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        inc("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
  }

  private object QueryListener extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = if (on) {
      inc("spark.actions", 1)
      val ph = qe.tracker.phases
      for ((phase, key) <- Seq("analysis" -> "spark.plan.analysis_us",
          "optimization" -> "spark.plan.optimization_us",
          "planning" -> "spark.plan.planning_us"))
        ph.get(phase).foreach(p => inc(key, p.durationMs * 1000))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private object StreamListener extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = if (on) {
      val d = e.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      inc("streaming.batches", 1)
      inc("streaming.add_batch_ms", ms("addBatch"))
      inc("streaming.query_planning_ms", ms("queryPlanning"))
      inc("streaming.latest_offset_ms", ms("latestOffset"))
      inc("streaming.wal_commit_ms", ms("walCommit"))
      Trace.synchronized { batchMs += ms("triggerExecution").toDouble }
    }
  }

  private val SpanProp = "perfbench.span"

  /** Register the listeners (traced runs only). */
  def install(s: SparkSession): Unit = {
    spark = s
    s.sparkContext.addSparkListener(Listener)
    s.listenerManager.register(QueryListener)
    s.streams.addListener(StreamListener)
  }

  /** Deliver every listener event posted so far. */
  def drain(): Unit = if (spark != null) org.apache.spark.perfbench.Bus.drain(spark.sparkContext)

  /** Run `body` as a child span of the current one; Spark jobs it starts
    * are attributed to it through a job-group-style local property. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.head
      val prev = spark.sparkContext.getLocalProperty(SpanProp)
      stack = id :: stack
      spark.sparkContext.setLocalProperty(SpanProp, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        spark.sparkContext.setLocalProperty(SpanProp, prev)
        Trace.synchronized { spans += Span(id, parent, name, start, end) }
      }
    }

  /** A call into one of the engine's modules: a span named
    * `layer:function`, and its wall time added to `<layer>.call_ms`. */
  def call[T](layer: String, fn: String)(body: => T): T =
    if (!on) body
    else {
      val t = System.nanoTime()
      try span(s"$layer:$fn")(body)
      finally add(s"$layer.call_ms", (System.nanoTime() - t) / 1e6)
    }

  def spanCount: Int = Trace.synchronized(spans.length)

  /** Write the recorded spans as JSON lines (`id parent name start end`),
    * under a root span (id 0) for the workload; Spark jobs have negative ids. */
  def writeSpans(path: java.io.File, workload: String): Unit = Trace.synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    val root = Span(0, -1, s"workload:$workload", spans.map(_.startMs).minOption.getOrElse(0.0),
      spans.map(_.endMs).maxOption.getOrElse(0.0))
    try (root +: spans.toSeq).foreach { s =>
      w.println(f"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}
