package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the benchmark's span tree.  Times are epoch milliseconds
  * (fractional), the clock Spark's listener events use.  `kind` is one
  * of op, build, action, job, stage, phase, batch; `attrs` holds the
  * numbers the per-layer metrics are computed from. */
final case class Span(id: String, parent: String, kind: String, name: String,
                      start: Double, end: Double, attrs: Map[String, Double])

/** Spans recorded from the benchmark's side of graft's public API.
  *
  * Detached (always, in an untraced run) it records nothing and
  * registers nothing.  [[attach]] adds one SparkListener (jobs and
  * stages) and one QueryExecutionListener (Catalyst phases from
  * `QueryExecution.tracker`), and from then on [[span]] tags every job
  * through the SparkContext local property [[SpanProperty]]: a property
  * the benchmark owns, so operators that set their own job group or
  * description do not break attribution.  [[detach]] waits for the
  * listener bus and removes both listeners again.  Spans stay in memory
  * until [[spans]] is called at the end of the run. */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  private val t0Nanos = System.nanoTime()
  private val t0Millis = System.currentTimeMillis().toDouble
  def nowMs(): Double = t0Millis + (System.nanoTime() - t0Nanos) / 1e6

  private val ids = new AtomicLong()
  private val local = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Span]()
  private val phases = new ConcurrentLinkedQueue[(Double, Double, String)]()
  @volatile private var markerSeen = false
  private var attached = false

  private final class JobRec(val id: Int, val span: String, val start: Double,
                             val stageIds: Seq[Int]) {
    @volatile var end: Double = start
    val ran = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, span, e.time.toDouble, e.stageIds))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time.toDouble
        if (j.span == MarkerSpan) markerSeen = true
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val job = stageJob.getOrDefault(i.stageId, -1)
      Option(jobs.get(job)).foreach(_.ran.add(i.stageId))
      val m = i.taskMetrics
      val attrs =
        if (m == null) Map("tasks" -> i.numTasks.toDouble)
        else Map(
          "tasks" -> i.numTasks.toDouble,
          "run_ms" -> m.executorRunTime.toDouble,
          "cpu_ns" -> m.executorCpuTime.toDouble,
          "gc_ms" -> m.jvmGCTime.toDouble,
          "deserialize_ms" -> m.executorDeserializeTime.toDouble,
          "input_bytes" -> m.inputMetrics.bytesRead.toDouble,
          "input_rows" -> m.inputMetrics.recordsRead.toDouble,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten.toDouble,
          "shuffle_read_bytes" -> (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble,
          "fetch_wait_ms" -> m.shuffleReadMetrics.fetchWaitTime.toDouble,
          "spill_memory_bytes" -> m.memoryBytesSpilled.toDouble,
          "spill_disk_bytes" -> m.diskBytesSpilled.toDouble)
      val start = i.submissionTime.map(_.toDouble).getOrElse(0.0)
      val end = i.completionTime.map(_.toDouble).getOrElse(start)
      stages.add(Span(s"s${i.stageId}.${i.attemptNumber()}", s"j$job", "stage",
        i.name, start, end, attrs))
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
  }

  /** Each Catalyst phase of each QueryExecution, recorded once. */
  private val recorded = new java.util.IdentityHashMap[QueryExecution, Set[String]]()
  private def record(qe: QueryExecution): Unit = recorded.synchronized {
    val seen = Option(recorded.get(qe)).getOrElse(Set.empty[String])
    val fresh = qe.tracker.phases.filter { case (phase, _) => !seen(phase) }
    fresh.foreach { case (phase, s) =>
      phases.add((s.startTimeMs.toDouble, s.endTimeMs.toDouble, phase))
    }
    recorded.put(qe, seen ++ fresh.keys)
  }

  /** Record the phases the frame an operator returned has run so far
    * (its analysis, done while the operator built it).  The listener
    * sees only the action's QueryExecution, and a write action wraps
    * the frame in a new one, so without this the frame's analysis would
    * count only as operator build time.  A no-op when detached. */
  def phasesOf(df: DataFrame): Unit = if (attached) record(df.queryExecution)

  /** Start recording (a no-op in an untraced run). */
  def attach(): Unit = if (on && !attached) {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Stop recording, once the listener bus has delivered every earlier
    * event: a marker job is run and awaited, as the bus delivers in
    * order. */
  def detach(): Unit = if (attached) {
    val sc = spark.sparkContext
    markerSeen = false
    sc.setLocalProperty(SpanProperty, MarkerSpan)
    spark.range(1).write.format("noop").mode("overwrite").save()
    sc.setLocalProperty(SpanProperty, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!markerSeen && System.nanoTime() < deadline) Thread.sleep(20)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    recorded.synchronized(recorded.clear())
    attached = false
  }

  /** Record a span run by `body` on the client thread; jobs it launches
    * carry the span's id.  Detached, it only runs `body`. */
  def span[T](parent: String, kind: String, name: String)(body: String => T): T = {
    if (!attached) return body("")
    val id = s"${kind.head}${ids.incrementAndGet()}"
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SpanProperty)
    sc.setLocalProperty(SpanProperty, id)
    val start = nowMs()
    try body(id)
    finally {
      val end = nowMs()
      sc.setLocalProperty(SpanProperty, prev)
      local.add(Span(id, parent, kind, name, start, end, Map.empty))
    }
  }

  /** Record a span whose times are already known (a streaming batch). */
  def add(parent: String, kind: String, name: String, start: Double, end: Double,
          attrs: Map[String, Double]): Unit =
    if (on) local.add(Span(s"${kind.head}${ids.incrementAndGet()}", parent, kind,
      name, start, end, attrs))

  /** Every span of the run. */
  def spans(): Seq[Span] = {
    detach()
    val jobSpans = jobs.values().asScala.toSeq.filter(_.span != MarkerSpan).map { j =>
      Span(s"j${j.id}", j.span, "job", s"job ${j.id}", j.start, j.end, Map(
        "stages" -> j.stageIds.size.toDouble,
        "stages_skipped" -> j.stageIds.count(s => !j.ran.contains(s)).toDouble))
    }
    val kept = jobSpans.map(_.id).toSet
    val phaseSpans = phases.asScala.toSeq.map { case (s, e, name) =>
      Span("", "", "phase", name, s, e, Map.empty)
    }
    local.asScala.toSeq ++ jobSpans ++ stages.asScala.filter(s => kept(s.parent)) ++
      phaseSpans
  }
}

object Trace {
  /** The SparkContext local property that tags jobs with their span. */
  val SpanProperty = "graftbench.span"
  private val MarkerSpan = "graftbench.marker"
}
