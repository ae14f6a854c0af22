package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** One reported number: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload run hands back to [[Main]]: the correctness verdict,
  * operation counts, the end-to-end metrics, the per-layer values by name
  * (empty when tracing is off), the failures that explain `correct =
  * false`, and the workload's self-description for the artifact. */
final case class Result(correct: Boolean, attempted: Long, failed: Long,
                        endToEnd: Seq[Metric], layers: Map[String, Double],
                        problems: Seq[String], meta: Map[String, Any])

object Json {
  private val mapper =
    new ObjectMapper().registerModule(DefaultScalaModule)

  /** Scala maps, sequences, options and numbers as one line of JSON. */
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]; 0 for no samples. */
  def quantile(xs: Iterable[Double], q: Double): Double = {
    val s = xs.toArray.sorted
    if (s.isEmpty) 0.0
    else {
      val pos = q * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ms(ns: Long): Double = ns / 1e6
}

object Jvm {
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val jit = ManagementFactory.getCompilationMXBean

  def gcMs: Long = gcs.map(g => math.max(0L, g.getCollectionTime)).sum
  def jitMs: Long = jit.getTotalCompilationTime

  /** Heap in use after a full collection, in MiB: the live set the driver
    * keeps (statement logs, fold state, cached plans and blocks). Collected
    * repeatedly with pauses, so that what Spark's cleaner releases after one
    * collection is gone by the next; the least of the readings, since
    * threads still running allocate between them. */
  def liveHeapMb(): Double = (1 to 4).map { _ =>
    System.gc()
    Thread.sleep(200)
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }.min

  def maxHeapMb: Double = Runtime.getRuntime.maxMemory / 1048576.0
}
