package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.api.{Phase, Statements}

/** Workload `feeds-ivm`: two changelog feeds (`seq, key, id, value,
  * delete`) over 1,000 keys and 20,000 ids each, 20 % deletes, read by a
  * grouped aggregate with SUM and MAX and by a join grouped into 100
  * buckets. Closed loop: append 10,000 events (5,000 per feed), wait until
  * both consumer tables equal the expected views, repeat. Per-event work
  * dominates: upsert and join state, the driver fold with its MAX
  * multiset, and retractions; the fixed cost of a micro-batch is spread
  * over thousands of rows.
  *
  * Each id keeps one key for its whole life: the join identifies rows by
  * (key, id) while the single-feed route uses id alone, and a re-keying
  * upsert would make the two disagree. Values are integers written as
  * strings, so SUM over CAST(value AS DOUBLE) is exact in any order. */
object Feeds {
  type Feed = (Long, Long, Long, String, Boolean)
  val FeedCols: Seq[String] = Seq("seq", "key", "id", "value", "delete")
  val Keys = 1000
  val Ids = 20000
  val DeleteShare = 0.2
  val StepPerFeed = 5000
  /** The set-up's warm-up step: enough to plan and compile every stage. */
  val WarmupPerFeed = 1000
  val SetupRepeats = 3
  val StepTimeoutMs = 30000L

  val Stmt1: String =
    "SELECT key, count(*) AS cnt, sum(CAST(value AS DOUBLE)) AS sv, " +
      "max(value) AS mx FROM fa GROUP BY key"
  val Stmt2: String =
    "SELECT a.key % 100 AS bucket, count(*) AS pairs, max(b.value) AS mx " +
      "FROM fa a JOIN fb b ON a.key = b.key GROUP BY a.key % 100"

  /** Seeded event source for one feed, tracking its live rows. */
  final class Gen(seed: Long) {
    private val rng = new scala.util.Random(seed)
    val keyOf: Array[Long] = Array.fill(Ids)(rng.nextInt(Keys).toLong)
    val value: Array[String] = new Array[String](Ids)
    private val liveIds = new Array[Int](Ids)
    private val slot = Array.fill(Ids)(-1)
    private var live = 0
    private var seq = 0L

    private def kill(id: Int): Unit = {
      val s = slot(id); val last = liveIds(live - 1)
      liveIds(s) = last; slot(last) = s; slot(id) = -1; live -= 1
      value(id) = null
    }

    def next(): Feed = {
      seq += 1
      if (live > 0 && rng.nextDouble() < DeleteShare) {
        val id = liveIds(rng.nextInt(live))
        val v = value(id)
        kill(id)
        (seq, keyOf(id), id.toLong, v, true)
      } else {
        val id = rng.nextInt(Ids)
        if (slot(id) < 0) { liveIds(live) = id; slot(id) = live; live += 1 }
        value(id) = rng.nextInt(100000).toString
        (seq, keyOf(id), id.toLong, value(id), false)
      }
    }

    def liveRows: Seq[Feed] = (0 until live).map { s =>
      val id = liveIds(s); (0L, keyOf(id), id.toLong, value(id), false) }
  }

  /** Expected statement-1 view: per key, count, exact sum and string max. */
  def expected1(a: Gen): Set[Vector[Any]] =
    a.liveRows.groupBy(_._2).map { case (k, rs) =>
      Vector[Any](k, rs.size.toLong, rs.map(_._4.toDouble).sum, rs.map(_._4).max)
    }.toSet

  /** Expected statement-2 view: per bucket, the join's pair count and the
    * max right-side value over joining keys. */
  def expected2(a: Gen, b: Gen): Set[Vector[Any]] = {
    val la = a.liveRows.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val rb = b.liveRows.groupBy(_._2)
    la.toSeq.flatMap { case (k, n) => rb.get(k).map(rs =>
      (k % 100, n * rs.size, rs.map(_._4).max)) }
      .groupBy(_._1).map { case (bucket, xs) =>
        Vector[Any](bucket, xs.map(_._2).sum, xs.map(_._3).max) }.toSet
  }

  def matches(c: Consumer, want: Set[Vector[Any]]): Boolean =
    c.table.size == want.size && c.table.rows.forall(want.contains)

  /** One set-up's live state: statement 1 reads its own copy of feed a;
    * statement 2 its own copies of a and b. */
  final class Live(val spark: SparkSession, val stmts: Statements,
                   a1: MemoryStream[Feed], a2: MemoryStream[Feed],
                   b2: MemoryStream[Feed], val consumers: Seq[Consumer],
                   val a: Gen, val b: Gen, tracer: Tracer) {
    val appendNs = mutable.Buffer.empty[Long]

    /** Generates and sends one step; returns the expected views after it. */
    def send(perFeed: Int): (Set[Vector[Any]], Set[Vector[Any]], Long) = {
      val ea = Seq.fill(perFeed)(a.next()); val eb = Seq.fill(perFeed)(b.next())
      val want = (expected1(a), expected2(a, b))
      val t0 = System.nanoTime()
      Seq(a1 -> ea, a2 -> ea, b2 -> eb).foreach { case (m, es) =>
        val s0 = System.nanoTime()
        tracer.span("sources.append", attrs = Map("events" -> es.size)) { _ =>
          m.addData(es) }
        appendNs += System.nanoTime() - s0
      }
      (want._1, want._2, t0)
    }

    def running: Boolean = consumers.forall(_.stmt.phase == Phase.Running)

    /** Polls until both tables equal the expected views; the time they
      * did, or None at the deadline or when a statement stops. */
    def waitFor(w1: Set[Vector[Any]], w2: Set[Vector[Any]],
                deadlineNs: Long): Option[Long] = {
      var ok = matches(consumers(0), w1) && matches(consumers(1), w2)
      while (!ok && System.nanoTime() < deadlineNs && running) {
        if (consumers.map(_.drain()).sum > 0)
          ok = matches(consumers(0), w1) && matches(consumers(1), w2)
        else Thread.sleep(1)
      }
      if (ok) Some(System.nanoTime()) else None
    }
  }

  def setUp(seed: Long, tracer: Tracer, createMs: mutable.Buffer[Double],
            waitMs: mutable.Buffer[Double]): Live = {
    val spark = Main.session()
    tracer.attach(spark)
    val stmts = new Statements(spark)
    val enc = org.apache.spark.sql.Encoders.product[Feed]
    val Seq(a1, a2, b2) = Seq.fill(3)(MemoryStream[Feed](enc, spark))
    def view(m: MemoryStream[Feed], name: String): Unit =
      m.toDF().toDF(FeedCols: _*).createOrReplaceTempView(name)
    val consumers = Streams.start(stmts, Seq(Stmt1, Stmt2), {
      case 0 => view(a1, "fa")
      case _ => view(a2, "fa"); view(b2, "fb")
    }, tracer, createMs, waitMs)
    val live = new Live(spark, stmts, a1, a2, b2, consumers,
      new Gen(seed * 2 + 1), new Gen(seed * 2 + 2), tracer)
    val (w1, w2, _) = live.send(WarmupPerFeed)
    if (live.waitFor(w1, w2, System.nanoTime() + 60000000000L).isEmpty)
      throw new IllegalStateException("warm-up step never became visible")
    live
  }

  def run(a: Args, tracer: Tracer): Result = {
    val createMs = mutable.Buffer.empty[Double]
    val waitMs = mutable.Buffer.empty[Double]
    val setupS = mutable.Buffer.empty[Double]
    val problems = mutable.Buffer.empty[String]
    val jit0 = Jvm.jitMs
    val cg0 = CodeGen.compileMs

    var live: Live = null
    (0 until SetupRepeats).foreach { rep =>
      if (live != null) Streams.stop(live.spark, live.stmts)
      val t0 = System.nanoTime()
      live = tracer.span("setup", attrs = Map("repeat" -> rep)) { _ =>
        setUp(a.seed, tracer, createMs, waitMs) }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val setupJitMs = (Jvm.jitMs - jit0).toDouble / SetupRepeats
    val setupCodegenMs = (CodeGen.compileMs - cg0) / SetupRepeats

    // ---- measured window: closed loop on this thread
    tracer.drain(live.spark)
    tracer.resetCounts()
    live.appendNs.clear()
    live.consumers.foreach(_.resetCounts())
    val records0 = live.consumers.map(_.raw.size).sum
    val gc0 = Jvm.gcMs
    val cpu0 = Streams.streamThreadCpuNs()
    val start = System.nanoTime()
    val windowNs = a.seconds * 1000000000L
    val stepFresh = mutable.Buffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    var broken = false
    while (!broken && System.nanoTime() - start < windowNs) {
      val (w1, w2, t0) = live.send(StepPerFeed)
      attempted += 2L * StepPerFeed
      tracer.span("step", attrs = Map("events" -> 2 * StepPerFeed)) { _ =>
        live.waitFor(w1, w2, t0 + StepTimeoutMs * 1000000L) } match {
        case Some(t) => stepFresh += (t - t0) / 1e6
        case None =>
          failed += 2L * StepPerFeed
          problems += s"step ${stepFresh.size + 1} never became visible"
          broken = true
      }
    }
    val end = System.nanoTime()
    val windowS = (end - start) / 1e9
    val cpuNs = Streams.streamThreadCpuNs() - cpu0
    val gcMs = Jvm.gcMs - gc0
    val heapMb = Jvm.liveHeapMb()
    val visibleEvents = attempted - failed
    // a step's events over the median step time: one slow step (a host
    // stall) moves the rate by one sample, not by its whole delay
    val opsPerS = 2.0 * StepPerFeed / (Stats.median(stepFresh) / 1000.0).max(1e-9)
    // every event of a step shares the step's freshness
    val fresh = stepFresh.toSeq

    val layers = if (!tracer.on) Map.empty[String, Double] else {
      val collapse = live.consumers.map(_.collapseNs()).sum
      Streams.layers(live.spark, tracer, live.consumers, visibleEvents, cpuNs, windowS) ++ Map(
        "api.create_ms" -> Stats.median(createMs),
        "api.wait_running_ms" -> Stats.median(waitMs),
        "sources.append_ms" -> Stats.mean(live.appendNs.map(Stats.ms)),
        "changelog.records_per_event" ->
          (live.consumers.map(_.raw.size).sum - records0).toDouble / math.max(1L, visibleEvents),
        "changelog.log_records" -> live.consumers.map(_.raw.size).max.toDouble,
        "changelog.collapse_ms" -> Stats.ms(collapse),
        "catalyst.codegen_compile_ms" -> setupCodegenMs,
        "jvm.jit_ms" -> setupJitMs,
        "jvm.gc_ms" -> gcMs.toDouble)
    }

    problems ++= check(live)
    Streams.stop(live.spark, live.stmts)
    Result(
      correct = problems.isEmpty, attempted = attempted, failed = failed,
      endToEnd = Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("freshness_p50_ms", Stats.quantile(fresh, 0.5), "ms"),
        Metric("freshness_p90_ms", Stats.quantile(fresh, 0.9), "ms"),
        Metric("ops_per_s", opsPerS, "1/s"),
        Metric("driver_live_heap_mb", heapMb, "MB")),
      layers = layers,
      problems = problems.toSeq,
      meta = Map(
        "loop" -> "closed", "keys" -> Keys, "ids_per_feed" -> Ids,
        "delete_share" -> DeleteShare, "step_events" -> 2 * StepPerFeed,
        "steps" -> stepFresh.size, "step_ms" -> stepFresh.toSeq,
        "setup_repeats" -> SetupRepeats, "setup_s_all" -> setupS.toSeq,
        "statements" -> Seq(Stmt1, Stmt2), "generator_late_ms_max" -> 0.0,
        "window_s" -> windowS))
  }

  /** Final tables against the same SQL run as a batch over the final live
    * rows of each feed. */
  def check(live: Live): Seq[String] = {
    val problems = mutable.Buffer.empty[String]
    live.consumers.foreach { c =>
      if (c.stmt.phase != Phase.Running)
        problems += s"statement ${c.stmt.name} is ${c.stmt.phase}"
      if (c.table.missedRetractions != 0)
        problems += s"statement ${c.stmt.name}: ${c.table.missedRetractions} missed retractions"
    }
    val spark = live.spark
    spark.createDataFrame(live.a.liveRows).toDF(FeedCols: _*).createOrReplaceTempView("fa")
    spark.createDataFrame(live.b.liveRows).toDF(FeedCols: _*).createOrReplaceTempView("fb")
    Seq(Stmt1, Stmt2).zip(live.consumers).zipWithIndex.foreach { case ((sql, c), i) =>
      val want = spark.sql(sql).collect().map(r => r.toSeq.toVector: Vector[Any]).toSet
      if (!matches(c, want))
        problems += s"statement ${i + 1}: table differs from the batch answer"
    }
    problems.toSeq
  }
}
