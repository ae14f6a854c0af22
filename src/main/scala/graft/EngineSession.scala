package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.plans.{DotProduct, MinHashSig, ShingleHashes, SimHash64}

/** Registers graft's custom Catalyst expressions as SQL functions so they
  * are first-class from SQL text (the engine's statement facade accepts raw
  * SQL like the reference's endpoint did):
  *
  *   SELECT dot_product(a.v, b.v), minhash_sig(shingles, 32),
  *          simhash64(toks), shingle_hashes(text, 3)
  *
  * Injected via SparkSessionExtensions — usable with
  * `--conf spark.sql.extensions=graft.GraftExtensions` on a real cluster,
  * or `EngineSession.create()` locally.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("dot_product"),
      new ExpressionInfo(classOf[DotProduct].getName, "dot_product"),
      (args: Seq[Expression]) => DotProduct(args(0), args(1))))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (args: Seq[Expression]) => MinHashSig(args(0),
        args(1).eval().asInstanceOf[Int])))
    e.injectFunction((
      new FunctionIdentifier("simhash64"),
      new ExpressionInfo(classOf[SimHash64].getName, "simhash64"),
      (args: Seq[Expression]) => SimHash64(args(0))))
    e.injectFunction((
      new FunctionIdentifier("shingle_hashes"),
      new ExpressionInfo(classOf[ShingleHashes].getName, "shingle_hashes"),
      (args: Seq[Expression]) => ShingleHashes(args(0),
        args(1).eval().asInstanceOf[Int])))
  }
}

/** One place to build a correctly-configured engine session: UTC (oracle
  * parity), shuffle parallelism = core count (not the 200 default — wrong
  * for local mode and re-planned by AQE on a cluster), AQE on (runtime
  * skew-join + partition coalescing at scale), the streaming checkpoint
  * settings in [[StreamingConfs]], and graft's SQL functions registered.
  *
  * Streaming checkpoints go through [[graft.streaming.LocalCheckpointFileManager]].
  * Every micro-batch of a statement writes an offset WAL entry, a commit log
  * entry and state store delta files, each with a `.crc`. Without
  * `libhadoop`, Hadoop's local filesystem forks one `chmod` per file and
  * directory it creates and Spark's default manager forks one `readlink` per
  * rename; at 20 events/s those forks, not compute, set statement freshness.
  * The manager sets permissions with `java.nio` instead. To check that it is
  * in use, `jstack` the JVM while statements run: no thread should show
  * `org.apache.hadoop.util.Shell` frames. */
object EngineSession {

  /** Streaming settings of every engine session. They are engine constants,
    * not user options:
    *  - `checkpointFileManagerClass`: checkpoints on `file:` paths are written
    *    without forking a process per file (see above); other schemes keep
    *    Spark's default manager.
    *  - `forceDeleteTempCheckpointLocation`: Spark deletes a query's
    *    temporary checkpoint on stop only if the query did not fail. A
    *    statement checkpoints to a temporary directory, which has no
    *    recovery path (a failed statement is evicted and re-created from
    *    scratch), so keeping it after a failure only leaks one
    *    offsets/commits/state directory per failure. */
  val StreamingConfs: Map[String, String] = Map(
    "spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[graft.streaming.LocalCheckpointFileManager].getName,
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true")

  def create(cores: Int = Runtime.getRuntime.availableProcessors(),
             appName: String = "graft"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(StreamingConfs)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // getOrCreate may return a pre-existing session where extensions never
    // ran — (re-)register directly; idempotent either way.
    registerFunctions(spark)
    spark
  }

  /** Register graft's SQL functions on an already-built session. */
  def registerFunctions(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("dot_product",
      args => DotProduct(args(0), args(1)), "built-in")
    reg.createOrReplaceTempFunction("minhash_sig",
      args => MinHashSig(args(0), args(1).eval().asInstanceOf[Int]), "built-in")
    reg.createOrReplaceTempFunction("simhash64",
      args => SimHash64(args(0)), "built-in")
    reg.createOrReplaceTempFunction("shingle_hashes",
      args => ShingleHashes(args(0), args(1).eval().asInstanceOf[Int]),
      "built-in")
  }
}
