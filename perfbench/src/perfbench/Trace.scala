package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed interval at a layer boundary; `parent` is the span that caused
  * it (0 for none). Times are nanoseconds since the tracer started. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long,
                      endNs: Long, attrs: Map[String, Any])

/** Exec-layer work, summed over the jobs and tasks of one tag. */
final case class ExecCounts(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                            taskRunMs: Long = 0, taskCpuNs: Long = 0,
                            taskGcMs: Long = 0, shuffleReadBytes: Long = 0,
                            shuffleWriteBytes: Long = 0, spillBytes: Long = 0,
                            inputBytes: Long = 0) {
  def +(o: ExecCounts): ExecCounts = ExecCounts(jobs + o.jobs,
    stages + o.stages, tasks + o.tasks, taskRunMs + o.taskRunMs,
    taskCpuNs + o.taskCpuNs, taskGcMs + o.taskGcMs,
    shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes,
    inputBytes + o.inputBytes)
}

/** Catalyst phase time of the executed queries, from their
  * QueryPlanningTracker. */
final case class PlanCounts(queries: Long = 0, analysisMs: Long = 0,
                            optimizationMs: Long = 0, planningMs: Long = 0)

/** The traced run's instruments. Spans come from the benchmark's own call
  * sites ([[span]]) and from Spark's public listeners (jobs, micro-batch
  * progress, executed queries). Everything stays in memory until [[write]].
  * With tracing off, [[span]] only runs its body and nothing is attached. */
final class Tracer(val on: Boolean) {
  val origin: Long = System.nanoTime()
  private val wallOriginMs = System.currentTimeMillis()
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def now: Long = System.nanoTime() - origin
  private def fromWallMs(ms: Long): Long = (ms - wallOriginMs) * 1000000L

  def add(name: String, parent: Long, startNs: Long, endNs: Long,
          attrs: Map[String, Any] = Map.empty): Long =
    if (!on) 0L
    else {
      val id = ids.incrementAndGet()
      spans.add(Span(id, parent, name, startNs, endNs, attrs))
      id
    }

  /** Times `body` as a span; the body gets the span's id so that the spans
    * it causes can name it as their parent. */
  def span[T](name: String, parent: Long = 0L,
              attrs: Map[String, Any] = Map.empty)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = now
      try body(id)
      finally spans.add(Span(id, parent, name, t0, now, attrs))
    }

  // ---- listener state (written on the listener bus, read after drain) ----
  private val queryNames = new ConcurrentHashMap[String, String]()
  private val querySpans = new ConcurrentHashMap[String, java.lang.Long]()
  private val stageTag = new ConcurrentHashMap[Int, String]()
  private val jobInfo =
    new ConcurrentHashMap[Int, (Long, Long, Map[String, Any])]()
  private val exec = mutable.Map.empty[String, ExecCounts]
  private var plans = PlanCounts()
  private val planLock = new Object
  private val progress = new ConcurrentLinkedQueue[(String, StreamingQueryProgress)]()

  /** Tag of a job: the statement (streaming query name) that ran it, else
    * the benchmark operation set as a local property, else "". */
  private def tagOf(props: java.util.Properties): (String, Map[String, Any]) =
    if (props == null) ("", Map.empty)
    else {
      val qid = props.getProperty("sql.streaming.queryId")
      if (qid != null) {
        val batch = Option(props.getProperty("streaming.sql.batchId"))
        (queryNames.getOrDefault(qid, qid),
          Map("query_id" -> qid) ++ batch.map("batch_id" -> _))
      } else (Option(props.getProperty(Tracer.OpProperty)).getOrElse(""),
        Map.empty)
    }

  private def bump(tag: String, c: ExecCounts): Unit = exec.synchronized {
    exec(tag) = exec.getOrElse(tag, ExecCounts()) + c
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val (tag, attrs) = tagOf(e.properties)
      e.stageIds.foreach(s => stageTag.put(s, tag))
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Tracer.SpanProperty))).map(_.toLong)
        .orElse(Option(querySpans.get(tag)).map(_.longValue)).getOrElse(0L)
      jobInfo.put(e.jobId, (fromWallMs(e.time), parent, attrs + ("tag" -> tag)))
      bump(tag, ExecCounts(jobs = 1))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobInfo.remove(e.jobId)).foreach { case (start, parent, attrs) =>
        add("exec.job", parent, start, fromWallMs(e.time),
          attrs + ("job_id" -> e.jobId))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      bump(stageTag.getOrDefault(e.stageInfo.stageId, ""),
        ExecCounts(stages = 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val c = if (m == null) ExecCounts(tasks = 1) else ExecCounts(
        tasks = 1, taskRunMs = m.executorRunTime, taskCpuNs = m.executorCpuTime,
        taskGcMs = m.jvmGCTime,
        shuffleReadBytes = m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.memoryBytesSpilled + m.diskBytesSpilled,
        inputBytes = m.inputMetrics.bytesRead)
      bump(stageTag.getOrDefault(e.stageId, ""), c)
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      queryNames.put(e.id.toString, Option(e.name).getOrElse(e.id.toString))
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add((Option(p.name).getOrElse(p.id.toString), p))
      val start = fromWallMs(java.time.Instant.parse(p.timestamp).toEpochMilli)
      val dur = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      add("streaming.batch",
        Option(querySpans.get(p.name)).map(_.longValue).getOrElse(0L),
        start, start + dur.getOrElse("triggerExecution", 0L) * 1000000L,
        Map("statement" -> p.name, "batch_id" -> p.batchId,
          "input_rows" -> p.numInputRows) ++ dur.map { case (k, v) =>
          s"${k}_ms" -> v })
    }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Long = ph.get(p).map(s => s.durationMs).getOrElse(0L)
      planLock.synchronized {
        plans = PlanCounts(plans.queries + 1,
          plans.analysisMs + ms("analysis"),
          plans.optimizationMs + ms("optimization"),
          plans.planningMs + ms("planning"))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Attaches the listeners to a session (no-op with tracing off). */
  def attach(spark: SparkSession): Unit = if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.streams.addListener(streamListener)
    spark.listenerManager.register(planListener)
  }

  /** Names a statement's span so its jobs and micro-batches hang under it. */
  def statementSpan(statement: String, id: Long): Unit =
    if (on) querySpans.put(statement, id)

  /** Waits until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def execByTag: Map[String, ExecCounts] = exec.synchronized(exec.toMap)
  def execTotal: ExecCounts = execByTag.values.foldLeft(ExecCounts())(_ + _)
  def planTotal: PlanCounts = planLock.synchronized(plans)
  def progressEvents: Seq[(String, StreamingQueryProgress)] =
    progress.asScala.toSeq

  /** Forgets listener counts and progress (not spans): called when the
    * measured window starts, after draining. */
  def resetCounts(): Unit = {
    exec.synchronized(exec.clear())
    planLock.synchronized { plans = PlanCounts() }
    progress.clear()
  }

  /** Writes the spans as JSON lines after one metadata line. */
  def write(path: String, meta: Map[String, Any]): Unit = if (on) {
    val w = java.nio.file.Files.newBufferedWriter(java.nio.file.Paths.get(path))
    try {
      w.write(Json(meta)); w.newLine()
      spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
        w.write(Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "start_ns" -> s.startNs, "end_ns" -> s.endNs, "attrs" -> s.attrs)))
        w.newLine()
      }
    } finally w.close()
  }
}

object Tracer {
  /** Local property naming the benchmark operation a job belongs to. */
  val OpProperty = "perfbench.op"
  /** Local property carrying the span id of the operation's span. */
  val SpanProperty = "perfbench.span"
}
