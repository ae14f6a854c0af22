package perfbench

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import graft.SparkEntry

/** Writes perfbench/registry.json, the registry workload's query list and
  * goldens: every twentieth name of the sorted registry plus the two reference
  * demo aggregates, each with its row count and digest on the sf0.1
  * fixture. Run it from the checkout root after a build (same JVM flags and
  * classpath as perfbench/run.py), as many times as wanted:
  *
  *   java ... perfbench.Goldens
  *
  * Each run computes every digest twice, in two orders; a digest that ever
  * differs, within a run or from the file's current value, is dropped and
  * its query is checked by row count only. */
object Goldens {
  val Extra = Seq("demo2_eye_colors", "demo3_age_groups")

  def main(argv: Array[String]): Unit = {
    val file = new java.io.File(Registry.SpecPath)
    val old: Map[String, Registry.Golden] =
      if (file.exists()) Registry.goldens().map(g => g.name -> g).toMap
      else Map.empty
    val sorted = SparkEntry.queries.keys.toSeq.sorted
    val names = (sorted.zipWithIndex.collect { case (n, i) if i % 20 == 0 => n } ++
      Extra).distinct
    val spark = Main.session()
    val sfDir = Registry.fixtureDir(spark)
    val runs = Seq(names, names.reverse).map { order =>
      order.map { n =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val d = Registry.digest(SparkEntry.queries(n)(spark, sfDir))
        System.err.println(f"[goldens] $n%-40s ${(System.nanoTime() - t0) / 1e9}%.2f s")
        n -> d
      }.toMap
    }
    spark.stop()
    val goldens = names.map { n =>
      val (rows, dig) = runs.head(n)
      require(runs.forall(_(n)._1 == rows), s"$n: row count differs between runs")
      val stable = runs.forall(_(n)._2 == dig) &&
        old.get(n).forall(g => g.rows == rows && g.digest.contains(dig))
      require(old.get(n).forall(_.rows == rows), s"$n: row count differs from the file")
      Map("name" -> n, "rows" -> rows, "digest" -> (if (stable) Some(dig) else None))
    }
    val out = Map(
      "selection" -> "every twentieth name of the sorted registry, plus demo2_eye_colors and demo3_age_groups",
      "queries" -> goldens)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writerWithDefaultPrettyPrinter().writeValue(file, out)
    System.out.flush()
    sys.exit(0)
  }
}
