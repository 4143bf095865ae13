package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation, all of it outside the program:
  * spans the harness records around each call into a public function of
  * the program, plus Spark's public listeners and a log appender. With
  * `on = false` nothing is installed and `span` only runs its body, so
  * measured runs carry no tracing cost.
  *
  * Spans are kept in memory and summarized when the run ends. A layer's
  * self time is the time of its spans minus the part their child spans
  * cover.
  */
final class Tracer(val on: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]

  /** Time `body` as one span of `layer`, nested under the innermost open
    * span. Spans are recorded from the harness thread only.
    */
  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val id = spans.size
      spans += Span(layer, name, open.headOption.getOrElse(-1), System.nanoTime(), -1L)
      open = id :: open
      try body
      finally { spans(id).end = System.nanoTime(); open = open.tail }
    }

  /** Seconds spent in spans called `name` (all layers). */
  def spanSeconds(name: String): Double =
    spans.iterator.filter(s => s.name == name && s.end > 0)
      .map(s => (s.end - s.start) / 1e9).sum

  /** Self seconds per span layer. */
  def selfSeconds: Map[String, Double] = {
    val child = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0 && s.end > 0) child(s.parent) += s.end - s.start)
    spans.indices.filter(i => spans(i).end > 0)
      .groupMapReduce(i => spans(i).layer)(i => (spans(i).end - spans(i).start - child(i)) / 1e9)(_ + _)
  }

  // ---- streaming progress (StreamingQueryListener) ----
  private val names = new ConcurrentHashMap[java.util.UUID, String]()
  private val progress = new ConcurrentHashMap[String, mutable.ArrayBuffer[StreamingQueryProgress]]()
  private val lastSeen = new ConcurrentHashMap[java.util.UUID, java.lang.Long]()

  /** Record `q`'s progress under `name` (bronze, silver, gold, spread). */
  def name(q: StreamingQuery, n: String): StreamingQuery = { names.put(q.runId, n); q }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      Option(names.get(p.runId)).foreach { n =>
        progress.computeIfAbsent(n, _ => mutable.ArrayBuffer.empty).synchronized {
          progress.get(n) += p
        }
      }
      lastSeen.put(p.runId, p.batchId)
    }
  }

  /** Wait (bounded) until the listener has seen each query's last batch. */
  def awaitProgress(qs: Seq[StreamingQuery]): Unit = if (on) {
    val deadline = System.nanoTime() + 5000000000L
    def done = qs.forall { q =>
      Option(q.lastProgress).forall(lp => Option(lastSeen.get(q.runId)).exists(_ >= lp.batchId))
    }
    while (!done && System.nanoTime() < deadline) Thread.sleep(20)
  }

  // ---- driver phases (QueryExecutionListener) ----
  private val phaseMs = new ConcurrentHashMap[String, DoubleAdder]()
  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
      qe.tracker.phases.foreach { case (ph, s) =>
        phaseMs.computeIfAbsent(ph, _ => new DoubleAdder).add((s.endTimeMs - s.startTimeMs).toDouble)
      }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- jobs, tasks, shuffle (SparkListener) ----
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit = c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
  def counter(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)
  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = add("jobs", 1)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = add("jobs_ended", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("tasks", 1)
      e.reason match {
        // a task killed because its query stopped is not a failure
        case r: org.apache.spark.TaskFailedReason if r.countTowardsTaskFailures => add("task_failures", 1)
        case _ =>
      }
      if (e.taskInfo != null && e.taskInfo.attemptNumber > 0) add("task_retries", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("cpu_ns", m.executorCpuTime); add("run_ms", m.executorRunTime)
        add("gc_ms", m.jvmGCTime); add("deser_ms", m.executorDeserializeTime)
        add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private var codegenNs0 = 0L
  private val compileFailures = new AtomicLong
  private var installed = false

  /** Install the listeners on `spark` and start counting (once). */
  def install(spark: SparkSession): Unit = if (on && !installed) {
    installed = true
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(qeListener)
    spark.sparkContext.addSparkListener(sparkListener)
    codegenNs0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    CompileFailureAppender.attach(compileFailures)
  }

  /** Wait (bounded) for the listener bus to deliver every job's end. */
  def drain(): Unit = if (on) {
    val deadline = System.nanoTime() + 3000000000L
    while (counter("jobs_ended") < counter("jobs") && System.nanoTime() < deadline) Thread.sleep(20)
  }

  /** Per-query streaming metrics (for the queries the workload ran),
    * state-store metrics, driver and executor metrics, as per-layer
    * metric values.
    */
  def layerMetrics(): Map[String, Any] = {
    drain()
    val out = mutable.LinkedHashMap.empty[String, Any]
    for (q <- streamQueries if progress.containsKey(q)) {
      val buf = progress.get(q)
      val ps = if (buf == null) Nil else buf.synchronized(buf.toList)
      def ms(p: StreamingQueryProgress, k: String) = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      out(s"streaming.$q.batches") = ps.size
      out(s"streaming.$q.batch_ms") = Dist(ps.map(ms(_, "triggerExecution")))
      out(s"streaming.$q.input_rows") = ps.map(_.numInputRows).sum
      for (k <- phases) out(s"streaming.$q.${k}_ms") = ps.map(ms(_, k)).sum
      if (q != "bronze") {
        val st = ps.flatMap(_.stateOperators.toList)
        out(s"state.$q.rows") = ps.lastOption.map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
        out(s"state.$q.memory_bytes") = ps.lastOption.map(_.stateOperators.map(_.memoryUsedBytes).sum).getOrElse(0L)
        out(s"state.$q.dropped_by_watermark") = st.map(_.numRowsDroppedByWatermark).sum
        out(s"state.$q.commit_ms") = st.map(_.commitTimeMs).sum
      }
    }
    val ph = phaseMs.asScala.map { case (k, v) => k -> v.sum }
    out("driver.analysis_ms") = ph.getOrElse("analysis", 0.0)
    out("driver.optimization_ms") = ph.getOrElse("optimization", 0.0)
    out("driver.planning_ms") = ph.getOrElse("planning", 0.0)
    out("driver.codegen_compile_ms") =
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - codegenNs0) / 1e6
    out("driver.jobs") = counter("jobs")
    out("driver.codegen_fallbacks") = compileFailures.get
    out("executor.cpu_s") = counter("cpu_ns") / 1e9
    out("executor.run_s") = counter("run_ms") / 1e3
    out("executor.gc_s") = counter("gc_ms") / 1e3
    out("executor.tasks") = counter("tasks")
    out("executor.deser_ms") = counter("deser_ms")
    out("executor.task_failures") = counter("task_failures")
    out("executor.task_retries") = counter("task_retries")
    out("executor.spill_bytes") = counter("spill")
    out("shuffle.read_bytes") = counter("shuffle_read")
    out("shuffle.write_bytes") = counter("shuffle_write")
    val self = selfSeconds
    for (l <- spanLayers) out(s"self.${l}_s") = self.getOrElse(l, 0.0)
    out("self.driver_s") = (ph.values.sum + (org.apache.spark.sql.catalyst.expressions.codegen
      .CodeGenerator.compileTime - codegenNs0) / 1e6) / 1e3
    out("self.executor_s") = counter("run_ms") / 1e3
    out.toMap
  }

}

object Tracer {
  private final case class Span(layer: String, name: String, parent: Int,
                                start: Long, var end: Long)
  val streamQueries: Seq[String] = Seq("bronze", "silver", "gold", "spread")
  val phases: Seq[String] = Seq("latestOffset", "getBatch", "queryPlanning",
    "addBatch", "walCommit", "commitOffsets")
  val spanLayers: Seq[String] = Seq("streaming", "operators", "functions", "util", "plans")
}

/** A sample distribution; the report turns it into its median (and the
  * highest percentile its sample count supports, where asked for).
  */
final case class Dist(values: Seq[Double])

/** Counts whole-stage codegen compile failures: Spark logs each one as an
  * ERROR "Failed to compile" from its code generator, then falls back to
  * interpreted execution without failing the query.
  */
object CompileFailureAppender {
  import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
  import org.apache.logging.log4j.core.appender.AbstractAppender
  import org.apache.logging.log4j.core.config.Property

  def attach(n: AtomicLong): Unit = {
    val ctx = org.apache.logging.log4j.LogManager.getContext(false).asInstanceOf[LoggerContext]
    val app = new AbstractAppender("perfbench-compile-failures", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit =
        if (e.getMessage != null && e.getMessage.getFormattedMessage.contains("Failed to compile"))
          n.incrementAndGet()
    }
    app.start()
    ctx.getConfiguration.getRootLogger.addAppender(app, org.apache.logging.log4j.Level.ERROR, null)
    ctx.updateLoggers()
  }
}
