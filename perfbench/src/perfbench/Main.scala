package perfbench

import org.apache.spark.sql.SparkSession

import graft.EngineSession

/** Parsed command line: `--workload W --seed N --seconds S --trace 0|1
  * --out DIR`. */
final case class Args(workload: String, seed: Long, seconds: Int,
                      trace: Boolean, out: String)

/** Benchmark JVM entry. Runs one workload, prints every metric by name and
  * unit, writes a self-describing artifact (and the spans of a traced run)
  * under `--out`, and ends with the one-line JSON result. */
object Main {
  val Workloads: Map[String, (Args, Tracer) => Result] = Map(
    "dashboard-20eps" -> Dashboard.run,
    "feeds-ivm" -> Feeds.run,
    "registry-sf0.1" -> Registry.run)

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = kv.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong,
      need("--seconds").toInt, need("--trace") == "1", need("--out"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  /** The engine's own session factory, at local[nproc]. */
  def session(): SparkSession =
    EngineSession.create(Runtime.getRuntime.availableProcessors(), "perfbench")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val tracer = new Tracer(a.trace)
    val r = Workloads(a.workload)(a, tracer)
    Layers.checkEndToEnd(r.endToEnd)
    val layers = if (a.trace) Layers.fill(r.layers) else Nil
    val meta = Map(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace,
      "nproc" -> Runtime.getRuntime.availableProcessors(),
      "spark_version" -> org.apache.spark.SPARK_VERSION,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Jvm.maxHeapMb) ++ r.meta
    val shown = if (a.trace) layers else r.endToEnd
    val failedShare = r.failed.toDouble / math.max(1L, r.attempted)
    val base = s"${a.out}/${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
    java.nio.file.Files.writeString(java.nio.file.Paths.get(base + ".json"),
      Json(Map("meta" -> meta, "correct" -> r.correct,
        "attempted" -> r.attempted, "failed" -> r.failed,
        "failed_share" -> failedShare, "problems" -> r.problems,
        "end_to_end" -> r.endToEnd.map(m => m.name -> Map("value" -> m.value,
          "unit" -> m.unit)).toMap,
        "per_layer" -> layers.map(m => m.name -> Map("value" -> m.value,
          "unit" -> m.unit)).toMap)) + "\n")
    tracer.write(base + ".spans.jsonl", meta)

    println("# meta " + Json(meta))
    r.problems.foreach(p => println("# problem " + p))
    (r.endToEnd ++ layers).foreach(m =>
      println(f"# ${m.name}%-32s ${m.value}%14.4f ${m.unit}"))
    println(f"# failed_share ${failedShare}%.4f (${r.failed}/${r.attempted})")
    println(Json(Map(
      "correct" -> r.correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> shown.map(m =>
        m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap)))
    System.out.flush()
    // stopped sessions can leave non-daemon pool threads behind
    sys.exit(0)
  }
}
