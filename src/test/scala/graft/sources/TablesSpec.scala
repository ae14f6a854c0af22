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

  // the spread rule: a narrow scan of a table past the size floor fans out
  // to the session's parallelism (local[4] here); anything below the floor,
  // or already that wide, passes through untouched
  test("spreadNarrow spreads only narrow inputs past the size floor") {
    val p = spark.sparkContext.defaultParallelism
    assert(p == 4)
    val narrow = spark.range(10).toDF().coalesce(1)
    assert(Tables.spreadNarrow(spark, 64 * 1024, narrow)
      .rdd.getNumPartitions == p)
    assert(Tables.spreadNarrow(spark, Tables.MinSpreadBytes - 1, narrow)
      .rdd.getNumPartitions == 1)
    val wide = spark.range(10).toDF().repartition(p)
    assert(Tables.spreadNarrow(spark, 64 * 1024, wide) eq wide)
  }
}
