package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Workload `registry-sf0.1`: a fixed list of registry queries over the
  * sf0.1 fixture, each built through its registry function and written to
  * the `noop` sink. All Catalyst, AQE jobs and executors; no streaming.
  *
  * The list (perfbench/registry.json) is every twentieth name of the
  * sorted registry plus the two reference demo aggregates, so every family
  * is covered. Set-up starts a session and runs the list once cold, in a
  * seed-permuted order, computing each query's row count and
  * order-insensitive digest and checking them against its golden. The
  * measured window then times warm passes to the noop sink, each in a
  * fresh seeded order: two, and more while they fit in the window. */
object Registry {
  val SpecPath = "perfbench/registry.json"
  /** One warm execution after a cold one still swings up to 2x per query
    * (late JIT, GC); the fastest of two is steady. */
  val MinWarmPasses = 2

  val Scale = "sf0.1"

  final case class Golden(name: String, rows: Long, digest: Option[String])

  def goldens(): Seq[Golden] =
    new ObjectMapper().readTree(new java.io.File(SpecPath)).get("queries")
      .elements().asScala.toSeq.map { q =>
        Golden(q.get("name").asText(), q.get("rows").asLong(),
          Option(q.get("digest")).filterNot(_.isNull).map(_.asText()))
      }

  /** The fixture directory of the [[Scale]] rung: a sibling of the rung
    * the engine's own entry point (`SparkEntry.entry`) reads. */
  def fixtureDir(spark: SparkSession): String = {
    val probe = new org.apache.hadoop.fs.Path(SparkEntry.entry(spark).inputFiles.head)
    val dir = new org.apache.hadoop.fs.Path(probe.getParent.getParent, Scale).toUri.getPath
    require(new java.io.File(dir).isDirectory, s"fixture directory $dir is missing")
    dir
  }

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case a: ArrayType => hasMap(a.elementType)
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case _ => false
  }

  /** Row count and the sum of per-row 64-bit hashes (as an exact decimal):
    * equal for equal row multisets in any order. Maps are hashed through
    * their JSON form, since Spark does not hash map values. */
  def digest(df: DataFrame): (Long, String) = {
    val p = df.toDF(df.columns.indices.map(i => s"p$i"): _*)
    val cols = p.schema.fields.toSeq.map(f =>
      if (hasMap(f.dataType)) to_json(col(f.name)) else col(f.name))
    val r = p.select(xxhash64(cols: _*).as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  /** Runs one query to the noop sink: (build ns, run ns, GC ms inside
    * them). Jobs carry the phase and query as a local property so the trace
    * can attribute them. The collection before the query stays outside. */
  def execute(spark: SparkSession, fn: (SparkSession, String) => DataFrame,
              name: String, dir: String, tracer: Tracer,
              pass: String): (Long, Long, Long) = {
    spark.catalog.clearCache()
    System.gc()
    val sc = spark.sparkContext
    tracer.span("query", attrs = Map("query" -> name, "pass" -> pass)) { qid =>
      sc.setLocalProperty(Tracer.SpanProperty, qid.toString)
      sc.setLocalProperty(Tracer.OpProperty, s"build:$name")
      val gc0 = Jvm.gcMs
      val t0 = System.nanoTime()
      val df = tracer.span("operators.build", qid)(_ => fn(spark, dir))
      sc.setLocalProperty(Tracer.OpProperty, s"run:$name")
      val t1 = System.nanoTime()
      tracer.span("exec.run", qid) { _ =>
        df.write.format("noop").mode("overwrite").save() }
      val t2 = System.nanoTime()
      sc.setLocalProperty(Tracer.OpProperty, null)
      sc.setLocalProperty(Tracer.SpanProperty, null)
      (t1 - t0, t2 - t1, Jvm.gcMs - gc0)
    }
  }

  def run(a: Args, tracer: Tracer): Result = {
    val listed = goldens()
    val registry = SparkEntry.queries
    val problems = mutable.Buffer.empty[String]
    val bad = mutable.Set.empty[String]
    val rng = new scala.util.Random(a.seed)
    val order = rng.shuffle(listed)
    def attempt[T](name: String)(body: => T): Option[T] =
      try Some(body) catch { case e: Throwable =>
        problems += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        bad += name
        None
      }
    order.filterNot(q => registry.contains(q.name)).foreach { q =>
      problems += s"${q.name}: not in the registry"; bad += q.name }
    val runnable = order.filter(q => registry.contains(q.name))

    // ---- set-up: session start plus the cold pass, which is also the
    // correctness check (untimed by the window): each query's row count and
    // digest against its golden
    val jit0 = Jvm.jitMs
    val cg0 = CodeGen.compileMs
    val t0 = System.nanoTime()
    var sfDir = ""
    val spark = tracer.span("setup") { _ =>
      val s = Main.session()
      tracer.attach(s)
      sfDir = fixtureDir(s)
      runnable.foreach { q =>
        attempt(q.name) {
          s.catalog.clearCache()
          val (rows, dig) = tracer.span("query", attrs = Map("query" -> q.name,
            "pass" -> "cold")) { _ => digest(registry(q.name)(s, sfDir)) }
          if (rows != q.rows) {
            problems += s"${q.name}: $rows rows, golden ${q.rows}"; bad += q.name
          } else if (q.digest.exists(_ != dig)) {
            problems += s"${q.name}: digest $dig, golden ${q.digest.get}"; bad += q.name
          }
        }
      }
      s
    }
    val setupS = (System.nanoTime() - t0) / 1e9
    val setupJitMs = (Jvm.jitMs - jit0).toDouble
    val setupCodegenMs = CodeGen.compileMs - cg0

    // ---- measured window: warm passes, each in a fresh seeded order
    tracer.drain(spark)
    tracer.resetCounts()
    var gcMs = 0L
    val start = System.nanoTime()
    val build = mutable.Map.empty[String, mutable.Buffer[Double]]
    val exec = mutable.Map.empty[String, mutable.Buffer[Double]]
    var passes = 0
    var passNs = 0L
    do {
      val p0 = System.nanoTime()
      rng.shuffle(runnable).filterNot(q => bad(q.name)).foreach { q =>
        attempt(q.name)(execute(spark, registry(q.name), q.name, sfDir, tracer,
          s"warm${passes + 1}")).foreach { case (b, r, gc) =>
          gcMs += gc
          build.getOrElseUpdate(q.name, mutable.Buffer.empty) += Stats.ms(b)
          exec.getOrElseUpdate(q.name, mutable.Buffer.empty) += Stats.ms(r)
        }
      }
      passes += 1
      passNs = System.nanoTime() - p0
    } while (passes < MinWarmPasses ||
      System.nanoTime() - start + passNs <= a.seconds * 1000000000L)
    spark.catalog.clearCache()
    val heapMb = Jvm.liveHeapMb()

    val ok = runnable.map(_.name).filterNot(bad).filter(exec.contains)
    // a query's warm time is its fastest pass (build + run): first-touch
    // costs and host drift only ever add time
    val warmMs = ok.map(n => n -> build(n).zip(exec(n)).map {
      case (b, r) => b + r }.min).toMap
    val warmTotalS = warmMs.values.sum / 1000.0
    // the batch's freshness: time until every result of the list is
    // visible, per warm pass. Per-query times are not used here: within one
    // JVM a query stays fast or slow across passes (JIT outcome), so their
    // quantiles swing about 20 % between runs while pass totals do not.
    val passMs = (0 until passes).map(i => ok.map(n => build(n)(i) + exec(n)(i)).sum)

    val layers = if (!tracer.on) Map.empty[String, Double] else {
      tracer.drain(spark)
      val byTag = tracer.execByTag
      val all = tracer.execTotal
      val plans = tracer.planTotal
      val runs = math.max(1, ok.map(exec(_).size).sum).toDouble
      val wallMs = ok.map(n => build(n).sum + exec(n).sum).sum
      Map(
        "operators.build_ms" -> ok.map(build(_).sum).sum / runs,
        "operators.build_jobs" -> byTag.collect { case (t, c) if t.startsWith("build:") => c.jobs }.sum / runs,
        "exec.run_ms" -> ok.map(exec(_).sum).sum / runs,
        "exec.jobs" -> all.jobs / runs,
        "exec.stages" -> all.stages / runs,
        "exec.tasks" -> all.tasks / runs,
        "exec.task_run_ms" -> all.taskRunMs / runs,
        "exec.task_cpu_ms" -> Stats.ms(all.taskCpuNs) / runs,
        "exec.gc_ms" -> all.taskGcMs / runs,
        "exec.cpu_util" -> Stats.ms(all.taskCpuNs) /
          (wallMs * Runtime.getRuntime.availableProcessors()).max(1e-9),
        "exec.shuffle_read_bytes" -> all.shuffleReadBytes / runs,
        "exec.shuffle_write_bytes" -> all.shuffleWriteBytes / runs,
        "exec.spill_bytes" -> all.spillBytes / runs,
        "sources.input_bytes" -> all.inputBytes / runs,
        "catalyst.analysis_ms" -> plans.analysisMs / runs,
        "catalyst.optimization_ms" -> plans.optimizationMs / runs,
        "catalyst.planning_ms" -> plans.planningMs / runs,
        "catalyst.codegen_compile_ms" -> setupCodegenMs,
        "jvm.jit_ms" -> setupJitMs,
        "jvm.gc_ms" -> gcMs.toDouble)
    }
    spark.stop()

    Result(
      correct = problems.isEmpty,
      attempted = order.size, failed = bad.size,
      endToEnd = Seq(
        Metric("setup_s", setupS, "s"),
        Metric("freshness_p50_ms", Stats.quantile(passMs, 0.5), "ms"),
        Metric("freshness_p90_ms", Stats.quantile(passMs, 0.9), "ms"),
        Metric("ops_per_s", ok.size / warmTotalS.max(1e-9), "1/s"),
        Metric("driver_live_heap_mb", heapMb, "MB")),
      layers = layers,
      problems = problems.toSeq,
      meta = Map(
        "sf_dir" -> sfDir, "queries" -> order.map(_.name),
        "digest_unchecked" -> listed.filter(_.digest.isEmpty).map(_.name),
        "warm_passes" -> passes, "batch_warm_s" -> warmTotalS,
        "batch_cold_s" -> setupS, "warm_ms" -> warmMs, "pass_ms" -> passMs))
  }
}
