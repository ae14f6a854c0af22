package perfbench

import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.api.{Phase, Statements}

/** A `user` event as the reference's JR generator produces it (the four
  * fields its queries read). */
final case class User(guid: String, eyeColor: String, age: Int, balance: String)

/** Workload `dashboard-20eps`: the reference's three statements, verbatim,
  * over a seeded `user` stream sent open loop in bursts of 10 events every
  * 500 ms (JR's `-n 10 -f 0.5s`, about 20 events/s). One consumer thread
  * polls the three `results()` cursors and folds them with
  * `ResultTable.update`, as the dashboard does. Each micro-batch carries
  * about ten rows, so freshness is set by the fixed cost of a micro-batch.
  *
  * An event's freshness runs from its scheduled send until every
  * statement's consumer table reflects it. */
object Dashboard {
  val Demo1: String =
    """SELECT `user`.guid,
      |  37.7 + (RAND() * (37.77 - 37.7)) AS latitude,
      |  -122.50 + (RAND() * (-122.39 - (-122.50))) AS longitude
      |FROM `user`""".stripMargin
  val Demo2: String =
    "SELECT eyeColor, count(*) AS eye_color_count FROM `user` GROUP BY eyeColor"
  val Demo3: String =
    """WITH users_with_age_groups AS (
      |  SELECT CAST(substring(balance FROM 2) AS DOUBLE) AS balance_double,
      |    CASE
      |      WHEN age BETWEEN 20 AND 29 THEN '20s'
      |      WHEN age BETWEEN 30 AND 39 THEN '30s'
      |      WHEN age BETWEEN 40 AND 49 THEN '40s'
      |      WHEN age BETWEEN 50 AND 59 THEN '50s'
      |      ELSE 'other'
      |    END AS age_group
      |  FROM `user`)
      |SELECT age_group, AVG(balance_double) AS avg_balance
      |FROM users_with_age_groups
      |GROUP BY age_group""".stripMargin
  val Sqls: Seq[String] = Seq(Demo1, Demo2, Demo3)

  val BurstSize = 10
  val PeriodMs = 500L
  val SetupRepeats = 3
  /** How long events may stay invisible after the last send before they
    * count as failed. */
  val GraceMs = 20000L
  val Colors: IndexedSeq[String] =
    IndexedSeq("amber", "blue", "brown", "gray", "green", "hazel")
  val AgeGroups: IndexedSeq[String] = IndexedSeq("20s", "30s", "40s", "50s", "other")

  def ageGroup(age: Int): Int =
    if (age >= 20 && age <= 59) (age - 20) / 10 else 4

  def users(seed: Long, n: Int): IndexedSeq[User] = {
    val rng = new scala.util.Random(seed)
    (0 until n).map { _ =>
      val guid = new java.util.UUID(rng.nextLong(), rng.nextLong()).toString
      val cents = 100000 + rng.nextInt(300000)
      User(guid, Colors(rng.nextInt(Colors.size)), 18 + rng.nextInt(50),
        f"$$${cents / 100}.${cents % 100}%02d")
    }
  }

  /** Longest prefix of the event sequence each statement's table reflects.
    * A micro-batch covers a prefix of each source and its records reach the
    * log in one append, so a table always shows some prefix. */
  final class Prefixes(events: IndexedSeq[User]) {
    private val n = events.size
    private val pos = events.map(_.guid).zipWithIndex.toMap
    private val seen = new Array[Boolean](n)
    private var p1 = 0
    // cumulative per-colour counts and per-age-group count and balance sums
    private val colorCum = Array.ofDim[Long](Colors.size, n + 1)
    private val groupCnt = Array.ofDim[Long](AgeGroups.size, n + 1)
    private val groupSum = Array.ofDim[Double](AgeGroups.size, n + 1)
    events.zipWithIndex.foreach { case (u, i) =>
      Colors.indices.foreach(c => colorCum(c)(i + 1) = colorCum(c)(i))
      AgeGroups.indices.foreach { g =>
        groupCnt(g)(i + 1) = groupCnt(g)(i); groupSum(g)(i + 1) = groupSum(g)(i) }
      colorCum(Colors.indexOf(u.eyeColor))(i + 1) += 1
      val g = ageGroup(u.age)
      groupCnt(g)(i + 1) += 1
      groupSum(g)(i + 1) += u.balance.substring(1).toDouble
    }
    private var p2 = 0
    private var p3 = 0

    private var seenRaw = 0

    /** demo1 is append-only: an event is in once its guid has arrived. */
    def demo1(c: Consumer): Int = {
      c.raw.iterator.drop(seenRaw).foreach(r =>
        pos.get(r.row.head.toString).foreach(seen(_) = true))
      seenRaw = c.raw.size
      while (p1 < n && seen(p1)) p1 += 1
      p1
    }

    def demo2(c: Consumer): Int = {
      val counts = c.table.rows.map(r => r(0).toString -> r(1).asInstanceOf[Long]).toMap
      val total = counts.values.sum.toInt
      if (total > p2 && total <= n &&
          Colors.indices.forall(ci => counts.getOrElse(Colors(ci), 0L) == colorCum(ci)(total)))
        p2 = total
      p2
    }

    def demo3(c: Consumer, upTo: Int): Int = {
      val avgs = c.table.rows.map(r => r(0).toString -> r(1).asInstanceOf[Double]).toMap
      def matches(k: Int): Boolean = AgeGroups.indices.forall { g =>
        val cnt = groupCnt(g)(k)
        avgs.get(AgeGroups(g)) match {
          case None => cnt == 0
          case Some(a) => cnt > 0 && {
            val want = groupSum(g)(k) / cnt
            math.abs(a - want) <= 1e-9 * math.max(1.0, math.abs(want))
          }
        }
      }
      var k = math.min(upTo, n)
      while (k > p3 && !matches(k)) k -= 1
      p3 = k
      p3
    }
  }

  /** One set-up's live state: a session, the three statements, each over
    * its own MemoryStream copy of the `user` stream (independent consumers,
    * like Kafka consumer groups), and their consumer tables. */
  final class Live(val spark: SparkSession, val stmts: Statements,
                   mems: Seq[MemoryStream[User]], val consumers: Seq[Consumer],
                   events: IndexedSeq[User], tracer: Tracer) {
    private val prefixes = new Prefixes(events)
    private val appended = new AtomicInteger(0)
    val visibleAt: Array[Long] = Array.fill(events.size)(-1L)
    @volatile var visible = 0

    /** Folds every available record and stamps newly visible events. */
    def poll(): Boolean = {
      val got = consumers.map(_.drain()).sum
      val p = Seq(prefixes.demo1(consumers(0)), prefixes.demo2(consumers(1)),
        prefixes.demo3(consumers(2), appended.get)).min
      if (p > visible) {
        val t = System.nanoTime()
        (visible until p).foreach(visibleAt(_) = t)
        visible = p
      }
      got > 0
    }

    /** Sends events [from, until) to every statement's stream; returns the
      * time each append took. */
    def append(from: Int, until: Int): Seq[Long] = {
      appended.set(until)
      val burst = events.slice(from, until)
      mems.map { m =>
        val t0 = System.nanoTime()
        tracer.span("sources.append", attrs = Map("events" -> burst.size)) { _ =>
          m.addData(burst) }
        System.nanoTime() - t0
      }
    }

    def running: Boolean = consumers.forall(_.stmt.phase == Phase.Running)

    def waitVisible(upTo: Int, deadlineNs: Long): Boolean = {
      while (visible < upTo && System.nanoTime() < deadlineNs && running)
        if (!poll()) Thread.sleep(1)
      visible >= upTo
    }
  }

  def setUp(events: IndexedSeq[User], tracer: Tracer,
            createMs: mutable.Buffer[Double],
            waitMs: mutable.Buffer[Double]): Live = {
    val spark = Main.session()
    tracer.attach(spark)
    val stmts = new Statements(spark)
    val enc = org.apache.spark.sql.Encoders.product[User]
    val mems = Sqls.map(_ => MemoryStream[User](enc, spark))
    val consumers = Streams.start(stmts, Sqls,
      i => mems(i).toDF().createOrReplaceTempView("user"),
      tracer, createMs, waitMs)
    val live = new Live(spark, stmts, mems, consumers, events, tracer)
    live.append(0, BurstSize)
    if (!live.waitVisible(BurstSize, System.nanoTime() + 60000000000L))
      throw new IllegalStateException("warm-up burst never became visible")
    live
  }

  def run(a: Args, tracer: Tracer): Result = {
    val bursts = (a.seconds * 1000L / PeriodMs).toInt.max(1)
    // burst 0 is the set-up's warm-up; bursts 1..bursts are measured
    val events = users(a.seed, (bursts + 1) * BurstSize)
    val n = events.size
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
        setUp(events, tracer, createMs, waitMs) }
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val setupJitMs = (Jvm.jitMs - jit0).toDouble / SetupRepeats
    val setupCodegenMs = (CodeGen.compileMs - cg0) / SetupRepeats

    // ---- measured window: open-loop generator thread, consumer here
    tracer.drain(live.spark)
    tracer.resetCounts()
    live.consumers.foreach(_.resetCounts())
    val gc0 = Jvm.gcMs
    val cpu0 = Streams.streamThreadCpuNs()
    val start = System.nanoTime() + PeriodMs * 1000000L
    val due = Array.tabulate(n)(i => start + (i / BurstSize - 1) * PeriodMs * 1000000L)
    val lateNs = mutable.Buffer.empty[Long]
    val appendNs = mutable.Buffer.empty[Long]
    val generator = new Thread(() => {
      (1 to bursts).foreach { b =>
        val at = due(b * BurstSize)
        val wait = at - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        lateNs += math.max(0L, System.nanoTime() - at)
        appendNs ++= live.append(b * BurstSize, (b + 1) * BurstSize)
      }
    }, "perfbench-generator")
    generator.start()
    val lastDue = due(n - 1)
    live.waitVisible(n, lastDue + GraceMs * 1000000L)
    generator.join()
    val end = System.nanoTime()
    val windowS = (end - start) / 1e9
    val cpuNs = Streams.streamThreadCpuNs() - cpu0
    val gcMs = Jvm.gcMs - gc0
    val heapMb = Jvm.liveHeapMb()

    // ---- results: freshness of the measured events
    val measured = BurstSize until n
    val fresh = measured.filter(live.visibleAt(_) > 0)
      .map(i => (live.visibleAt(i) - due(i)) / 1e6)
    val failed = measured.size - fresh.size
    if (failed > 0) problems += s"$failed of ${measured.size} events never became visible"
    val lastVisible = measured.map(live.visibleAt).max
    val opsPerS = if (lastVisible > 0) fresh.size / ((lastVisible - start) / 1e9) else 0.0

    val layers = if (!tracer.on) Map.empty[String, Double] else {
      val collapse = live.consumers.map(_.collapseNs()).sum
      Streams.layers(live.spark, tracer, live.consumers, measured.size, cpuNs, windowS) ++ Map(
        "api.create_ms" -> Stats.median(createMs),
        "api.wait_running_ms" -> Stats.median(waitMs),
        "sources.append_ms" -> Stats.mean(appendNs.map(Stats.ms)),
        "sources.generator_late_ms" -> lateNs.map(Stats.ms).maxOption.getOrElse(0.0),
        "changelog.records_per_event" -> live.consumers.map(_.raw.size).sum.toDouble / n,
        "changelog.log_records" -> live.consumers.map(_.raw.size).max.toDouble,
        "changelog.collapse_ms" -> Stats.ms(collapse),
        "catalyst.codegen_compile_ms" -> setupCodegenMs,
        "jvm.jit_ms" -> setupJitMs,
        "jvm.gc_ms" -> gcMs.toDouble)
    }

    problems ++= check(live, events)
    Streams.stop(live.spark, live.stmts)
    Result(
      correct = problems.isEmpty,
      attempted = measured.size, failed = failed,
      endToEnd = Seq(
        Metric("setup_s", Stats.median(setupS), "s"),
        Metric("freshness_p50_ms", Stats.quantile(fresh, 0.5), "ms"),
        Metric("freshness_p90_ms", Stats.quantile(fresh, 0.9), "ms"),
        Metric("ops_per_s", opsPerS, "1/s"),
        Metric("driver_live_heap_mb", heapMb, "MB")),
      layers = layers,
      problems = problems.toSeq,
      meta = Map(
        "loop" -> "open", "burst_events" -> BurstSize, "period_ms" -> PeriodMs,
        "measured_events" -> measured.size, "setup_repeats" -> SetupRepeats,
        "setup_s_all" -> setupS.toSeq, "statements" -> Sqls,
        "generator_late_ms_max" -> lateNs.map(Stats.ms).maxOption.getOrElse(0.0),
        "generator_late_ms_p50" -> Stats.median(lateNs.map(Stats.ms)),
        "freshness_samples" -> fresh.size, "window_s" -> windowS))
  }

  /** Final tables against the same SQL run as a batch over every appended
    * event; demo1 by guid multiset and coordinate bounds, since RAND()
    * differs between runs. */
  def check(live: Live, events: IndexedSeq[User]): Seq[String] = {
    val problems = mutable.Buffer.empty[String]
    live.consumers.foreach { c =>
      if (c.stmt.phase != Phase.Running)
        problems += s"statement ${c.stmt.name} is ${c.stmt.phase}"
      if (c.table.missedRetractions != 0)
        problems += s"statement ${c.stmt.name}: ${c.table.missedRetractions} missed retractions"
    }
    val sent = events.take(live.visible)
    val t1 = live.consumers(0).table.rows
    if (t1.map(_(0).toString).sorted != sent.map(_.guid).sorted)
      problems += "demo1: guid multiset differs from the appended events"
    if (!t1.forall { r =>
          val lat = r(1).asInstanceOf[Double]; val lon = r(2).asInstanceOf[Double]
          lat >= 37.7 && lat <= 37.77 && lon >= -122.50 && lon <= -122.39 })
      problems += "demo1: a coordinate is out of bounds"
    val spark = live.spark
    spark.createDataFrame(sent).createOrReplaceTempView("user")
    val want2 = spark.sql(Demo2).collect().map(r => Vector[Any](r.get(0), r.get(1))).toSet
    if (live.consumers(1).table.rows.toSet != want2 || live.consumers(1).table.size != want2.size)
      problems += "demo2: table differs from the batch answer"
    val want3 = spark.sql(Demo3).collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val got3 = live.consumers(2).table.rows.map(r => r(0).toString -> r(1).asInstanceOf[Double])
    if (got3.size != want3.size || got3.exists { case (g, v) =>
          want3.get(g).forall(w => math.abs(v - w) > 1e-9 * math.max(1.0, math.abs(w))) })
      problems += "demo3: table differs from the batch answer"
    problems.toSeq
  }
}
