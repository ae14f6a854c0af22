package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession
import graft.changelog.{ChangelogRecord, Op}

/** The `user` fixture type — the four fields the reference's queries
  * contractually require (FIXTURES.md §1). */
case class User(guid: String, eyeColor: String, age: Int, balance: String)

class ChangelogStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private val users = Seq(
    User("u1", "brown", 42, "$100.00"),
    User("u2", "blue", 25, "$200.50"),
    User("u3", "brown", 55, "$300.25"),
    User("u4", "green", 33, "$50.75"),
    User("u5", "brown", 47, "$812.10"),
    User("u6", "blue", 61, "$999.99"))

  test("synthesizer emits +I then adjacent -U/+U pairs") {
    val s = new ChangelogSynthesizer(Seq("color", "n"), Seq("color"))
    assert(s.onUpsert(Seq(Vector("brown", 1L))) ==
      Seq(ChangelogRecord(Some(Op.Insert), Vector("brown", 1L))))
    assert(s.onUpsert(Seq(Vector("brown", 2L))) == Seq(
      ChangelogRecord(Some(Op.UpdateBefore), Vector("brown", 1L)),
      ChangelogRecord(Some(Op.UpdateAfter), Vector("brown", 2L))))
    // unchanged value → nothing (no spurious retractions)
    assert(s.onUpsert(Seq(Vector("brown", 2L))).isEmpty)
  }

  test("eviction skips null event-time values instead of crashing") {
    val s = new ChangelogSynthesizer(Seq("color", "end_ts", "n"),
      Seq("color"), evictIdx = Some(1))
    val t = (ms: Long) => new java.sql.Timestamp(ms)
    s.onUpsert(Seq(
      Vector("brown", t(1000L), 1L),
      Vector("blue", null, 2L), // open-ended group: no eviction bound yet
      Vector("green", t(5000L), 3L)))
    val evicted = s.evictBefore(2000L)
    assert(evicted == Seq(
      ChangelogRecord(Some(Op.Delete), Vector("brown", t(1000L), 1L))),
      s"only the watermark-passed group may evict: $evicted")
    // the null-bound group is still live and can still update
    assert(s.onUpsert(Seq(Vector("blue", t(9000L), 4L))).head.op
      .contains(Op.UpdateBefore))
  }

  test("eviction understands TIMESTAMP_NTZ (LocalDateTime) bounds") {
    val s = new ChangelogSynthesizer(Seq("color", "end_ts", "n"),
      Seq("color"), evictIdx = Some(1))
    val ntz = java.time.LocalDateTime.ofEpochSecond(1L, 0,
      java.time.ZoneOffset.UTC) // 1000 ms as an NTZ (UTC-pinned session)
    s.onUpsert(Seq(Vector("brown", ntz, 1L)))
    assert(s.evictBefore(2000L) ==
      Seq(ChangelogRecord(Some(Op.Delete), Vector("brown", ntz, 1L))))
    assert(s.evictBefore(2000L).isEmpty, "evicted group must be forgotten")
  }

  test("snapshot diff emits -D for dropped groups") {
    val s = new ChangelogSynthesizer(Seq("color", "n"), Seq("color"))
    s.onSnapshot(Seq(Vector("brown", 1L), Vector("blue", 2L)))
    val out = s.onSnapshot(Seq(Vector("brown", 3L)))
    assert(out == Seq(
      ChangelogRecord(Some(Op.UpdateBefore), Vector("brown", 1L)),
      ChangelogRecord(Some(Op.UpdateAfter), Vector("brown", 3L)),
      ChangelogRecord(Some(Op.Delete), Vector("blue", 2L))))
  }

  // SURVEY §7 M3: the eye-color demo query (reference dashboard.py:83) end
  // to end — MemoryStream → groupBy.count → changelog sink → collapse()
  // equals the batch answer after every micro-batch.
  test("streaming eye-color changelog collapses to the batch answer") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val counts = mem.toDF()
      .groupBy($"eyeColor")
      .agg(count(lit(1)).as("eye_color_count"))
    val handle = ChangelogStream.updating(counts, "eye-colors-test", Seq("eyeColor"))
    val changelog = handle.changelog()
    val table = new graft.changelog.ResultTable(handle.schema)
    try {
      users.grouped(2).foreach { batch =>
        mem.addData(batch)
        handle.processAllAvailable()
        table.update(changelog.consume())
        val fedSoFar = users.take(users.indexOf(batch.last) + 1)
        val batchAnswer = fedSoFar.groupBy(_.eyeColor)
          .map { case (c, us) => Vector[Any](c, us.size.toLong) }.toSet
        assert(table.rows.toSet == batchAnswer)
      }
      // -U must immediately precede its +U in the history
      val hist = changelog.history
      hist.zipWithIndex.foreach { case (rec, i) =>
        if (rec.op.contains(Op.UpdateBefore))
          assert(hist(i + 1).op.contains(Op.UpdateAfter))
      }
      assert(changelog.opsReceived.contains(Op.UpdateBefore))
    } finally handle.stop()
  }

  // demo query 3 (CTE + substring/CAST + CASE WHEN + AVG) as a stream:
  // the full scalar surface must work under incremental execution too.
  test("streaming age-groups query collapses to the batch answer") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val agg = mem.toDF()
      .select(
        substring($"balance", 2, Int.MaxValue).cast("double").as("bal"),
        when($"age".between(20, 29), "20s")
          .when($"age".between(30, 39), "30s")
          .when($"age".between(40, 49), "40s")
          .when($"age".between(50, 59), "50s")
          .otherwise("other").as("age_group"))
      .groupBy($"age_group")
      .agg(count(lit(1)).as("n"), round(sum($"bal"), 2).as("total_bal"))
    val handle = ChangelogStream.updating(agg, "age-groups-test", Seq("age_group"))
    val changelog = handle.changelog()
    val table = new graft.changelog.ResultTable(handle.schema)
    try {
      users.grouped(3).foreach { batch =>
        mem.addData(batch)
        handle.processAllAvailable()
        table.update(changelog.consume())
      }
      val expected = users.groupBy(u => u.age / 10 match {
        case 2 => "20s"; case 3 => "30s"; case 4 => "40s"; case 5 => "50s"
        case _ => "other"
      }).map { case (g, us) =>
        Vector[Any](g, us.size.toLong,
          BigDecimal(us.map(_.balance.drop(1).toDouble).sum)
            .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.toSet
      assert(table.rows.toSet == expected)
    } finally handle.stop()
  }

  // live -D: a group crossing a HAVING-style threshold must leave the
  // materialized result via a delete record (complete-mode snapshot diff)
  test("snapshotting query emits -D when a group exits the result") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val smallGroups = mem.toDF()
      .groupBy($"eyeColor")
      .agg(count(lit(1)).as("n"))
      .filter($"n" <= 2)
    val handle = ChangelogStream.snapshotting(
      smallGroups, "having-test", Seq("eyeColor"))
    val changelog = handle.changelog()
    val table = new graft.changelog.ResultTable(handle.schema)
    try {
      mem.addData(users.filter(_.eyeColor == "brown").take(2)) // brown=2: in
      handle.processAllAvailable()
      table.update(changelog.consume())
      assert(table.rows == Seq(Vector("brown", 2L)))
      mem.addData(users.filter(_.eyeColor == "brown").drop(2)) // brown=3: out
      handle.processAllAvailable()
      table.update(changelog.consume())
      assert(table.rows.isEmpty, "group must be deleted once over threshold")
      assert(changelog.opsReceived.contains(Op.Delete))
    } finally handle.stop()
  }

  // cursors must not steal from each other: each changelog() call replays
  // from record 0 (the reference's results() also re-pages from the start)
  test("two cursors over one handle each see the full history") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val counts = mem.toDF().groupBy($"eyeColor").agg(count(lit(1)).as("n"))
    val handle = ChangelogStream.updating(counts, "cursors-test", Seq("eyeColor"))
    try {
      val first = handle.changelog()
      mem.addData(users.take(4))
      handle.processAllAvailable()
      first.consume()
      assert(first.history.nonEmpty)
      // a cursor created AFTER consumption still replays everything, and
      // records emitted later are visible to both
      val second = handle.changelog()
      mem.addData(users.drop(4))
      handle.processAllAvailable()
      first.consume(); second.consume()
      assert(second.history == first.history,
        "late cursor must see the identical full history")
    } finally handle.stop()
  }

  // the driver-retention guardrail: a query that outgrows the buffer fails
  // fast with a clear error instead of silently exhausting driver memory
  test("append sink over the record budget fails fast") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val handle = ChangelogStream.appending(
      mem.toDF().select($"guid"), "cap-test", maxBufferedRecords = 4)
    try {
      mem.addData(users) // 6 rows > cap of 4
      val ex = intercept[Exception](handle.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("maxBufferedRecords")),
        s"error must name the budget: ${messages(ex)}")
    } finally handle.stop()
  }

  // a statement checkpoints to a temporary directory with no recovery path,
  // and a failed statement is evicted and re-created from scratch: the
  // engine's sessions delete that directory on stop even after a failure,
  // where Spark alone keeps it
  test("a failed updating query leaves no temporary checkpoint behind") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val counts = mem.toDF().groupBy($"guid").agg(count(lit(1)).as("n"))
    val handle = ChangelogStream.updating(counts, "ckpt-cleanup-test",
      Seq("guid"), maxBufferedRecords = 4)
    val root = new java.io.File(new org.apache.hadoop.fs.Path(
      handle.query.asInstanceOf[StreamingQueryWrapper].streamingQuery
        .resolvedCheckpointRoot).toUri.getPath)
    try {
      mem.addData(users.take(1)) // 1 group: +I fits the cap of 4
      handle.processAllAvailable()
      assert(root.isDirectory, s"no checkpoint written at $root")
      mem.addData(users) // 6 groups: over the cap, the query fails
      intercept[Exception](handle.processAllAvailable())
      // termination is signalled after the stream thread's cleanup
      intercept[StreamingQueryException](handle.query.awaitTermination())
    } finally handle.stop()
    assert(!root.exists(), s"failed query left its checkpoint at $root")
  }

  // the cap must protect the driver BEFORE the transfer, not only after:
  // the sink's one bounded collect is `limit(cap + 1)`, so a catch-up
  // micro-batch far larger than the budget still fails via the log's
  // documented error while only ~cap+1 rows ever flow toward the driver.
  // An accumulator in the projection feeding the collect counts executor-
  // side row evaluations: executeTake pulls the projection at most
  // limit times per scanned partition, so the count stays orders of
  // magnitude below the batch size.
  test("oversized micro-batch fails via the cap with a bounded collect") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Int]
    val evals = s.sparkContext.longAccumulator("cap-bound-evals")
    val touched = udf { (i: Int) => evals.add(1L); i }
    val cap = 50
    val total = 100000
    val handle = ChangelogStream.appending(
      mem.toDF().select(touched($"value").as("v")), "cap-bound-test",
      maxBufferedRecords = cap)
    try {
      mem.addData(1 to total)
      val ex = intercept[Exception](handle.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("maxBufferedRecords")),
        s"error must name the budget: ${messages(ex)}")
      assert(evals.value > 0, "instrumented projection never ran")
      assert(evals.value < total / 10,
        s"collect not bounded by the cap: ${evals.value} row evaluations " +
          s"for a $total-row batch against cap=$cap")
    } finally handle.stop()
  }

  // the synthesizer sinks (updating/snapshotting/foldingSnapshot) use the
  // same single `limit(cap + 1).collect()` and fail fast when it returns
  // more than cap rows, before the synthesizer folds anything — so a
  // truncated batch never reaches synthesizer state (where dropped groups
  // would later read as deletions). The nondeterministic instrumented
  // projection (pruning-proof) counts row evaluations: the bounded collect
  // evaluates ≤ partitions×(cap+1) rows, while a full collect would
  // evaluate all R, so evals < R proves the oversized transfer never
  // happened.
  test("over-cap grouped micro-batch fails via the cap before collecting") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[Int]
    val evals = s.sparkContext.longAccumulator("group-cap-evals")
    val touched = udf { (i: Int) => evals.add(1L); i }.asNondeterministic()
    val cap = 50
    val groups = 20000 // distinct keys ⇒ update-mode batch of 20000 rows
    val counts = mem.toDF().groupBy($"value").agg(count(lit(1)).as("n"))
      .select(touched($"value").as("k"), $"n")
    val handle = ChangelogStream.updating(counts, "group-cap-test", Seq("k"),
      maxBufferedRecords = cap)
    try {
      mem.addData(1 to groups)
      val ex = intercept[Exception](handle.processAllAvailable())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("maxBufferedRecords")),
        s"error must name the budget: ${messages(ex)}")
      assert(messages(ex).exists(_.contains("before collect")),
        s"error must come from the pre-collect guard: ${messages(ex)}")
      assert(evals.value > 0, "instrumented projection never ran")
      assert(evals.value < groups,
        s"collect was not prevented: ${evals.value} row evaluations for a " +
          s"$groups-group batch against cap=$cap (count-only pass must " +
          "evaluate well under one full scan)")
      // nothing may have been emitted: the batch failed atomically
      assert(handle.changelog().consume().isEmpty,
        "failed batch must not leave partial records in the log")
    } finally handle.stop()
  }

  // a foreachBatch sink receives its micro-batch as a lineage over the
  // incremental plan, so every action it runs re-executes the whole batch,
  // stateful operators included. An accumulator UDF above the stateful
  // operator counts plan executions, not time: one micro-batch of N
  // groups, well under the cap, must evaluate it exactly N times.
  test("synthesizer sinks execute each micro-batch exactly once") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val groups = 200
    def executions(name: String)(start: (DataFrame, UserDefinedFunction) =>
        ChangelogStream.Handle): Long = {
      val mem = MemoryStream[Int]
      val evals = s.sparkContext.longAccumulator(s"$name-evals")
      val touched = udf { (i: Int) => evals.add(1L); i }.asNondeterministic()
      val handle = start(mem.toDF(), touched)
      try {
        mem.addData(1 to groups)
        handle.processAllAvailable()
        assert(handle.changelog().consume().size == groups,
          s"$name: one +I per group expected")
        evals.value
      } finally handle.stop()
    }
    def counted(in: DataFrame, touched: UserDefinedFunction): DataFrame =
      in.groupBy($"value").agg(count(lit(1)).as("n"))
        .select(touched($"value").as("k"), $"n")
    val perSink = Map(
      "updating" -> executions("exec-once-updating") { (in, touched) =>
        ChangelogStream.updating(counted(in, touched), "exec-once-updating",
          Seq("k"))
      },
      "snapshotting" -> executions("exec-once-snapshotting") { (in, touched) =>
        ChangelogStream.snapshotting(counted(in, touched),
          "exec-once-snapshotting", Seq("k"))
      },
      // foldingSnapshot takes an append-mode delta stream: the stateful
      // operator there is a streaming deduplication
      "foldingSnapshot" -> executions("exec-once-folding") { (in, touched) =>
        ChangelogStream.foldingSnapshot(
          in.dropDuplicates("value").select(touched($"value").as("k")),
          "exec-once-folding", Seq("k"), Seq("k"), deltas => Seq(deltas))
      })
    assert(perSink.forall(_._2 == groups),
      s"each sink must execute its $groups-group micro-batch once: " +
        s"row evaluations per sink $perSink")
  }

  test("append-only streaming query passes rows through as +I") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val mem = MemoryStream[User]
    val proj = mem.toDF().select($"guid", $"eyeColor")
    val handle = ChangelogStream.appending(proj, "locations-test")
    val changelog = handle.changelog()
    try {
      mem.addData(users.take(3))
      handle.processAllAvailable()
      val got = changelog.consume()
      assert(got.map(_.op).forall(_.contains(Op.Insert)))
      assert(got.map(_.values).toSet ==
        users.take(3).map(u => Vector[Any](u.guid, u.eyeColor)).toSet)
    } finally handle.stop()
  }
}
