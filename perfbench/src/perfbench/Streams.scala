package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.api.{Phase, Statement, Statements}
import graft.changelog.{Changelog, ChangelogRecord, Op, RawRecord, ResultTable}

/** One statement as the dashboard consumes it: its `results()` cursor,
  * drained without blocking, folded into a [[ResultTable]] with
  * `ResultTable.update`. Keeps the raw records so that the end of the run
  * can time `Changelog.collapse` over the whole history. */
final class Consumer(val stmt: Statement, tracer: Tracer, parent: Long) {
  private val cursor = stmt.results(heartbeatMs = 0L)
  val table = new ResultTable(stmt.columns)
  val raw = mutable.ArrayBuffer.empty[RawRecord]
  var polls = 0L
  var emptyPolls = 0L
  var pollNs = 0L
  var updateNs = 0L
  var updates = 0L

  /** Reads every record available now and applies them; returns how many. */
  def drain(): Int = {
    val t0 = System.nanoTime()
    val got = mutable.ArrayBuffer.empty[RawRecord]
    var more = true
    while (more) cursor.next() match {
      case Some(r) => got += r
      case None => more = false
    }
    val t1 = System.nanoTime()
    polls += 1; pollNs += t1 - t0
    if (got.isEmpty) emptyPolls += 1
    else {
      raw ++= got
      tracer.add("api.poll", parent, t0 - tracer.origin, t1 - tracer.origin,
        Map("records" -> got.size))
      val recs = got.map(r => ChangelogRecord(r.op.flatMap(Op.fromCode), r.row.toVector))
      val u0 = System.nanoTime()
      table.update(recs)
      val u1 = System.nanoTime()
      updateNs += u1 - u0; updates += 1
      tracer.add("changelog.update", parent, u0 - tracer.origin, u1 - tracer.origin,
        Map("records" -> got.size))
    }
    got.size
  }

  /** Forgets the poll and update counts (at the start of the window). */
  def resetCounts(): Unit = {
    polls = 0; emptyPolls = 0; pollNs = 0; updateNs = 0; updates = 0
  }

  /** Time `Changelog.collapse` takes to replay the consumed history, ns. */
  def collapseNs(): Long = {
    val cl = new Changelog(stmt.columns, raw.iterator.map(Some(_)))
    cl.consume(raw.size)
    val t0 = System.nanoTime()
    cl.collapse()
    System.nanoTime() - t0
  }
}

/** Set-up and per-layer measurement shared by the two stream workloads. */
object Streams {
  /** Creates statements one at a time (each after `bind` re-points the
    * views its SQL reads at that statement's own sources), waits until all
    * are RUNNING and opens a consumer on each; records per-statement create
    * and wait times. */
  def start(stmts: Statements, sqls: Seq[String], bind: Int => Unit,
            tracer: Tracer, createMs: mutable.Buffer[Double],
            waitMs: mutable.Buffer[Double]): Seq[Consumer] = {
    val created = sqls.zipWithIndex.map { case (sql, i) =>
      bind(i)
      val t0 = System.nanoTime()
      val s = tracer.span("api.create", attrs = Map("sql" -> sql)) { _ =>
        stmts.create(sql) }
      createMs += Stats.ms(System.nanoTime() - t0)
      s
    }
    created.map { s =>
      val t0 = System.nanoTime()
      val ok = tracer.span("api.wait_running", attrs = Map("statement" -> s.name)) { _ =>
        stmts.waitForStatus(s, Set(Phase.Running), timeoutMs = 60000L) }
      waitMs += Stats.ms(System.nanoTime() - t0)
      if (ok.isEmpty)
        throw new IllegalStateException(s"statement ${s.name} did not reach RUNNING (phase ${s.phase})")
      val id = tracer.add("statement", 0L, tracer.now, tracer.now,
        Map("statement" -> s.name, "sql" -> s.sql))
      tracer.statementSpan(s.name, id)
      new Consumer(s, tracer, id)
    }
  }

  /** CPU time of the stream-execution threads (micro-batch planning, the
    * driver side of sinks and the IVM fold). */
  def streamThreadCpuNs(): Long = {
    val tmx = ManagementFactory.getThreadMXBean
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(_.getName.startsWith("stream execution thread"))
      .map(t => tmx.getThreadCpuTime(t.getId)).filter(_ > 0).sum
  }

  /** Streaming, exec and api layer metrics over the measured window. */
  def layers(spark: SparkSession, tracer: Tracer, consumers: Seq[Consumer],
             events: Long, driverCpuNs: Long, windowS: Double)
      : Map[String, Double] = {
    tracer.drain(spark)
    val names = consumers.map(_.stmt.name).toSet
    val progress = tracer.progressEvents.filter { case (n, p) =>
      names(n) && p.numInputRows > 0 }.map(_._2)
    val batches = progress.size.toDouble
    def dur(k: String) = Stats.median(progress.map(p =>
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
    val lastByStmt = tracer.progressEvents.filter(e => names(e._1))
      .groupBy(_._1).values.map(_.last._2)
    val exec = tracer.execByTag.filter(e => names(e._1)).values
      .foldLeft(ExecCounts())(_ + _)
    val all = tracer.execTotal
    val plans = tracer.planTotal
    val perEvent = 1.0 / math.max(1L, events)
    Map(
      "streaming.trigger_ms" -> dur("triggerExecution"),
      "streaming.add_batch_ms" -> dur("addBatch"),
      "streaming.query_planning_ms" -> dur("queryPlanning"),
      "streaming.wal_commit_ms" -> dur("walCommit"),
      "streaming.commit_offsets_ms" -> dur("commitOffsets"),
      "streaming.latest_offset_ms" -> dur("latestOffset"),
      "streaming.rows_per_batch" -> Stats.median(progress.map(_.numInputRows.toDouble)),
      "streaming.driver_cpu_ms" -> Stats.ms(driverCpuNs) / math.max(1.0, batches),
      "streaming.state_rows" -> lastByStmt.map(_.stateOperators.map(_.numRowsTotal).sum).sum.toDouble,
      "streaming.state_bytes" -> lastByStmt.map(_.stateOperators.map(_.memoryUsedBytes).sum).sum.toDouble,
      "streaming.state_commit_ms" -> Stats.median(progress.map(_.stateOperators.map(_.commitTimeMs).sum.toDouble)),
      "exec.jobs_per_batch" -> exec.jobs / math.max(1.0, batches),
      "exec.tasks_per_batch" -> exec.tasks / math.max(1.0, batches),
      "exec.jobs" -> all.jobs * perEvent,
      "exec.stages" -> all.stages * perEvent,
      "exec.tasks" -> all.tasks * perEvent,
      "exec.task_run_ms" -> all.taskRunMs * perEvent,
      "exec.task_cpu_ms" -> Stats.ms(all.taskCpuNs) * perEvent,
      "exec.gc_ms" -> all.taskGcMs * perEvent,
      "exec.cpu_util" -> Stats.ms(all.taskCpuNs) / 1000.0 /
        (windowS * Runtime.getRuntime.availableProcessors()),
      "exec.shuffle_read_bytes" -> all.shuffleReadBytes * perEvent,
      "exec.shuffle_write_bytes" -> all.shuffleWriteBytes * perEvent,
      "exec.spill_bytes" -> all.spillBytes * perEvent,
      "catalyst.analysis_ms" -> plans.analysisMs * perEvent,
      "catalyst.optimization_ms" -> plans.optimizationMs * perEvent,
      "catalyst.planning_ms" -> plans.planningMs * perEvent,
      "api.poll_ms" -> Stats.ms(consumers.map(_.pollNs).sum) /
        math.max(1L, consumers.map(_.polls).sum),
      "api.empty_poll_share" -> consumers.map(_.emptyPolls).sum.toDouble /
        math.max(1L, consumers.map(_.polls).sum),
      "changelog.update_ms" -> Stats.ms(consumers.map(_.updateNs).sum) /
        math.max(1L, consumers.map(_.updates).sum),
    )
  }

  /** Stops every statement and the session; waits for the queries. */
  def stop(spark: SparkSession, stmts: Statements): Unit = {
    stmts.stopAll()
    spark.streams.active.foreach(q => q.stop())
    spark.stop()
  }
}
