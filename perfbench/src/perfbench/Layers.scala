package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper

/** The metric catalog is BENCHMARK.json at the root of the checkout: every
  * run reports each end-to-end metric it lists and, when traced, each
  * per-layer metric. A layer a workload does not exercise reads 0. */
object Layers {
  private lazy val spec =
    new ObjectMapper().readTree(new java.io.File("BENCHMARK.json"))

  private def names(key: String): Seq[(String, String)] =
    spec.get(key).elements().asScala.toSeq
      .map(m => m.get("name").asText() -> m.get("unit").asText())

  lazy val endToEnd: Seq[(String, String)] = names("end_to_end")
  lazy val perLayer: Seq[(String, String)] = names("per_layer")

  def fill(values: Map[String, Double]): Seq[Metric] = {
    val unknown = values.keySet -- perLayer.map(_._1)
    require(unknown.isEmpty, s"metrics missing from BENCHMARK.json: $unknown")
    perLayer.map { case (n, u) => Metric(n, values.getOrElse(n, 0.0), u) }
  }

  /** Checks a workload's end-to-end metrics against the catalog. */
  def checkEndToEnd(ms: Seq[Metric]): Unit =
    require(ms.map(m => m.name -> m.unit).toSet == endToEnd.toSet,
      s"end-to-end metrics ${ms.map(_.name)} differ from BENCHMARK.json")
}

object CodeGen {
  /** Time Janino spent compiling generated code in this JVM, in ms. */
  def compileMs: Double =
    org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime / 1e6
}
