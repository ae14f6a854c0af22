package graft.sources

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

class TablesSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  // reliable checkpoint files are deleted only when the context cleans
  // checkpoints; without that, every staged round would leak a directory
  test("stage() refuses reliable checkpoints without checkpoint cleaning") {
    val sc = spark.sparkContext
    assert(!sc.getConf.getBoolean(
      "spark.cleaner.referenceTracking.cleanCheckpoints", false))
    val df = spark.range(10).toDF("id")
    assert(Tables.stage(df).count() == 10, "local checkpoint path")
    val dir = java.nio.file.Files.createTempDirectory("stage-checkpoints")
    sc.setCheckpointDir(dir.toString)
    try {
      val ex = intercept[IllegalArgumentException](Tables.stage(df))
      assert(ex.getMessage.contains(
        "spark.cleaner.referenceTracking.cleanCheckpoints=true"), ex.getMessage)
    } finally {
      sc.setCheckpointDir(null)
      org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
    }
    assert(sc.getCheckpointDir.isEmpty)
  }
}
