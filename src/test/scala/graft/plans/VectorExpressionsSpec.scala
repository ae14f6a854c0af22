package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DoubleType}
import org.scalatest.funsuite.AnyFunSuite

import graft.SparkTestSession

/** Direct checks on the native Catalyst expressions that the plan-level
  * specs exercise only indirectly. */
class VectorExpressionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("two DotProducts in one codegen scope declare disjoint locals " +
      "(a collision would silently fall the whole stage back to " +
      "interpreted execution)") {
    val ref = BoundReference(0, ArrayType(DoubleType), nullable = false)
    val ctx = new CodegenContext
    val c1 = DotProduct(ref, ref).genCode(ctx)
    val c2 = DotProduct(ref, ref).genCode(ctx)
    val decls = """(?:int|double) (\w+)""".r
    val names = (decls.findAllMatchIn(c1.code.toString) ++
      decls.findAllMatchIn(c2.code.toString)).map(_.group(1)).toSeq
    assert(names.distinct.size == names.size,
      s"duplicate local declarations across two instances: $names " +
        "(janino rejects the stage, Spark logs WARN and runs interpreted)")
  }

  test("cosine over a 3-dot projection executes inside one stage and " +
      "matches the interpreted value") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // cosine(a, b) = dot/(sqrt(dot)·sqrt(dot)) — THREE DotProducts in one
    // projection, the composition that used to collide
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(3.0, 2.0, 1.0)))
      .toDF("a", "b")
      .select(graft.functions.VectorFunctions.cosine(col("a"), col("b"))
        .as("c"))
    val got = df.head.getDouble(0)
    val expect = 10.0 / (math.sqrt(14.0) * math.sqrt(14.0))
    assert(got == expect, s"$got != $expect")
  }

  test("AdcScore equals the aggregate-HOF ADC sum bit-for-bit on random " +
      "LUTs/codes, and two instances in one codegen scope declare " +
      "disjoint locals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val M = 8; val K = 16
    val rows = (0 until 200).map { i =>
      val lut = Seq.fill(M, K)(rnd.nextDouble() * 2 - 1)
      val codes = Seq.fill(M)(rnd.nextInt(K).toByte)
      (i.toLong, lut, codes)
    }
    val df = rows.toDF("id", "lut", "codes")
    val got = df.select($"id",
      VectorExpressions.adcScore($"lut", $"codes").as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val hof = df.select($"id",
      aggregate(sequence(lit(0), lit(M - 1)), lit(0.0), (acc, m) =>
        acc + element_at(element_at($"lut", m + 1),
          element_at($"codes", m + 1).cast("int") + 1)).as("s"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == hof, "native ADC sum must equal the HOF left-fold " +
      "bit-for-bit (same sequential order)")
    // the DotProduct redefinition lesson, applied to the new expression
    val lutRef = BoundReference(0,
      ArrayType(ArrayType(DoubleType)), nullable = false)
    val codeRef = BoundReference(1,
      ArrayType(org.apache.spark.sql.types.ByteType), nullable = false)
    val ctx = new CodegenContext
    val c1 = AdcScore(lutRef, codeRef).genCode(ctx)
    val c2 = AdcScore(lutRef, codeRef).genCode(ctx)
    val decls = """(?:int|double) (\w+)""".r
    val names = (decls.findAllMatchIn(c1.code.toString) ++
      decls.findAllMatchIn(c2.code.toString)).map(_.group(1)).toSeq
    assert(names.distinct.size == names.size,
      s"duplicate local declarations across two instances: $names")
  }

  test("PlaneSignBits equals the per-plane sign of the masked sum; " +
      "ElementSignBits equals the per-dimension sign") {
    val v = Array(0.5, -1.5, 2.0, -0.25)
    val arr = Literal.create(ArrayData.toArrayData(v),
      ArrayType(DoubleType))
    // plane 0: all +1 → sum 0.75 ≥ 0 → bit set
    // plane 1: mask 0b0010 (+v1, others −) → -1.5-0.5-2.0+0.25 < 0 → clear
    val masks = IndexedSeq(0xfL, 0x2L)
    val sig = PlaneSignBits(arr, masks).eval(null).asInstanceOf[Long]
    assert(sig == 1L, s"sig $sig")
    // masks are a value-equal Seq (not an Array): two semantically
    // identical expressions must compare equal or Catalyst
    // canonicalization / CSE can never unify them
    assert(PlaneSignBits(arr, IndexedSeq(0xfL, 0x2L)) ==
      PlaneSignBits(arr, Vector(0xfL, 0x2L)))
    val esig = ElementSignBits(arr).eval(null).asInstanceOf[Long]
    // bits where v_i > 0: dims 0 and 2
    assert(esig == ((1L << 0) | (1L << 2)), s"esig $esig")
  }

  test("Md5SpanHashes equals the conv(substring(md5(concat_ws))) HOF " +
      "formulation on real fixture documents") {
    import org.apache.spark.sql.functions.{col, expr}
    val docs = graft.sources.Tables
      .load(spark, graft.SparkTestSession.sf0001, "documents")
      .limit(200)
    val both = docs.select(
      graft.plans.VectorExpressions.md5SpanHashes(col("text"), 3).as("fast"),
      expr("CASE WHEN size(split(text, ' ')) >= 3 THEN " +
        "transform(sequence(1, size(split(text, ' ')) - 2), i -> " +
        "CAST(conv(substring(md5(concat_ws(' ', slice(split(text, ' '), i, 3)" +
        ")), 1, 8), 16, 10) AS BIGINT)) ELSE array() END").as("slow"))
      .collect()
    // empty docs and whitespace runs included — the span walk must agree
    // with split()'s empty-token semantics everywhere
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1),
        s"fast=${r.getSeq[Long](0).take(5)} slow=${r.getSeq[Long](1).take(5)}")
    }
  }

  test("Md5SimHashPair equals the exploded 64-sum SQL vote formulation " +
      "on real fixture documents") {
    import org.apache.spark.sql.functions.{col, explode, shiftright, sum, when, lit}
    import spark.implicits._
    val docs = graft.sources.Tables
      .load(spark, graft.SparkTestSession.sf0001, "documents")
      .limit(200)
    val fast = docs.select(col("doc_id"),
        graft.plans.VectorExpressions.md5SimHashPair(col("text")).as("s"))
      .select(col("doc_id"), col("s.hi"), col("s.lo"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val hashed = docs
      .select(col("doc_id"),
        explode(org.apache.spark.sql.functions.split(col("text"), " ")).as("tok"))
      .selectExpr("doc_id",
        "CAST(conv(substring(md5(tok), 1, 8), 16, 10) AS BIGINT) AS thi",
        "CAST(conv(substring(md5(tok), 9, 8), 16, 10) AS BIGINT) AS tlo")
    def votes(c: String, pre: String) = (0 until 32).map(b =>
      sum(shiftright(col(c), b).bitwiseAND(lit(1L)) * lit(2L) - lit(1L))
        .as(s"$pre$b"))
    val aggs = votes("thi", "vh") ++ votes("tlo", "vl")
    val voted = hashed.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    def pack(pre: String) = (0 until 32).map(b =>
      when(col(s"$pre$b") > 0, lit(1L << b)).otherwise(lit(0L))).reduce(_ + _)
    val slow = voted.select(col("doc_id"), pack("vh").as("hi"), pack("vl").as("lo"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(fast.keySet == slow.keySet)
    fast.foreach { case (id, sig) =>
      assert(sig == slow(id), s"doc $id: native $sig != sql ${slow(id)}")
    }
  }

  test("JlProject: signed sums match a scalar recompute; dims past 64 " +
      "are ignored; empty input projects to zeros") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val masks = IndexedSeq(0xAAAAAAAAAAAAAAAAL, 0x5555555555555555L, -1L, 0L)
    def run(v: Array[Long]): Seq[Long] =
      JlProject(Literal.create(new GenericArrayData(v),
        ArrayType(org.apache.spark.sql.types.LongType)), masks)
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    val v = Array.tabulate(64)(i => (i * 37 - 1000).toLong)
    val expected = masks.map { m =>
      v.zipWithIndex.map { case (x, i) =>
        if (((m >>> i) & 1L) == 1L) x else -x
      }.sum
    }
    assert(run(v) == expected)
    // a 70-element vector must project exactly like its first 64 dims
    assert(run(v ++ Array.fill(6)(999999L)) == expected,
      "dimensions past 64 leaked into the projection")
    assert(run(Array.empty[Long]) == Seq(0L, 0L, 0L, 0L))
  }

  test("JlProject: non-long element types fail at analysis; null slots " +
      "contribute nothing") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    val masks = IndexedSeq(-1L)
    // array<double> must be rejected by the type check — the eval loop
    // reads raw longs and would otherwise reinterpret UnsafeArrayData
    // bytes into wrong projections
    val wrong = JlProject(Literal.create(new GenericArrayData(
      Array(1.5, 2.5)), ArrayType(org.apache.spark.sql.types.DoubleType)),
      masks)
    assert(!wrong.checkInputDataTypes().isSuccess,
      "jl_project must reject non-bigint array elements at analysis")
    // a null slot is absent, not garbage: [1, null, 3] under mask -1 sums 4
    val withNull = JlProject(Literal.create(new GenericArrayData(
      Array[Any](1L, null, 3L)),
      ArrayType(org.apache.spark.sql.types.LongType, containsNull = true)),
      masks)
    assert(withNull.checkInputDataTypes().isSuccess)
    assert(withNull.eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
      == Seq(4L))
  }

  test("FilterPositions: drops exactly the listed 1-based positions, " +
      "preserves order, tolerates out-of-range and duplicate cuts") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val toks = new GenericArrayData(
      Array("a", "b", "c", "d", "e").map(UTF8String.fromString))
    def run(cut: Array[Long]): Seq[String] =
      FilterPositions(
        Literal.create(toks,
          ArrayType(org.apache.spark.sql.types.StringType)),
        Literal.create(new GenericArrayData(cut),
          ArrayType(org.apache.spark.sql.types.LongType)))
        .eval(null).asInstanceOf[ArrayData]
        .toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
    assert(run(Array(2L, 4L)) == Seq("a", "c", "e"))
    assert(run(Array.empty[Long]) == Seq("a", "b", "c", "d", "e"))
    assert(run(Array(1L, 2L, 3L, 4L, 5L)) == Seq.empty,
      "a fully-cut document must clean to the empty token list")
    // out-of-range (0, 6, -3) and duplicate cuts are ignored, not errors
    assert(run(Array(0L, 6L, -3L, 2L, 2L)) == Seq("a", "c", "d", "e"))
  }

  test("IntDot equals the zip_with/aggregate HOF bit-for-bit on random " +
      "tinyint arrays (v7's hot loop), rejects non-byte arrays at " +
      "analysis, and two instances declare disjoint codegen locals") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val rows = (0 until 300).map { i =>
      val a = Seq.fill(64)((rnd.nextInt(255) - 127).toByte)
      val b = Seq.fill(64)((rnd.nextInt(255) - 127).toByte)
      (i.toLong, a, b)
    }
    val df = rows.toDF("id", "a", "b")
    val got = df.select($"id", VectorExpressions.intDot($"a", $"b").as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the exact HOF formulation v7 shipped with through r9
    val hof = df.select($"id",
      aggregate(zip_with($"a", $"b", (x, y) =>
        (x.cast("int") * y.cast("int")).cast("long")),
        lit(0L), (acc, p) => acc + p).as("d"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == hof,
      "native integer dot must equal the HOF path (exact sums, any order)")
    // NULL semantics match the HOF exactly (r10 review finding): a null
    // slot poisons the sum and a length mismatch null-pads — both yield
    // NULL, never a silently different score over a prefix
    def optByte(xs: Option[Byte]*): Seq[Option[Byte]] = xs
    val nullRows = Seq(
      (0L, optByte(Some(1), None, Some(3)), optByte(Some(1), Some(2), Some(3))),
      (1L, optByte(Some(1), Some(2)), optByte(Some(1), Some(2), Some(3))),
      (2L, optByte(Some(2), Some(3)), optByte(Some(4), Some(5))))
      .toDF("id", "a", "b")
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Option[Long]] =
      df.collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val gotN = asMap(nullRows.select($"id",
      VectorExpressions.intDot($"a", $"b").as("d")))
    val hofN = asMap(nullRows.select($"id",
      aggregate(zip_with($"a", $"b", (x, y) =>
        (x.cast("int") * y.cast("int")).cast("long")),
        lit(0L), (acc, p) => acc + p).as("d")))
    assert(gotN == hofN, s"null semantics diverged: $gotN vs $hofN")
    assert(gotN == Map(0L -> None, 1L -> None, 2L -> Some(23L)))
    // a non-byte array must die at analysis, never reinterpret bytes
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq((Seq(1.0, 2.0), Seq(1.toByte, 2.toByte))).toDF("a", "b")
        .select(VectorExpressions.intDot($"a", $"b")).collect()
    }
    // the DotProduct redefinition lesson, applied to the new expression
    val ref = BoundReference(0,
      ArrayType(org.apache.spark.sql.types.ByteType), nullable = false)
    val ctx = new CodegenContext
    val c1 = IntDot(ref, ref).genCode(ctx)
    val c2 = IntDot(ref, ref).genCode(ctx)
    val decls = """(?:int|long) (\w+)""".r
    val names = (decls.findAllMatchIn(c1.code.toString) ++
      decls.findAllMatchIn(c2.code.toString)).map(_.group(1)).toSeq
    assert(names.distinct.size == names.size,
      s"duplicate local declarations across two instances: $names")
  }

  test("BloomBitsProbe: a negative key probes in range and agrees between " +
      "the interpreted and codegen paths; non-negative keys are unchanged") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.LongType
    val rnd = new scala.util.Random(11)
    val m = 1024L; val k = 4
    val bits = IndexedSeq.fill((m / 64).toInt)(rnd.nextLong())
    val probe = BloomBitsProbe(BoundReference(0, LongType, nullable = false),
      bits, m, k)
    // no fallback: a codegen compile failure fails the test
    val compiled = GenerateUnsafeProjection.generate(Seq(probe))
    def interpreted(s: Long): Boolean =
      probe.eval(InternalRow(s)).asInstanceOf[Boolean]
    def codegen(s: Long): Boolean = compiled(InternalRow(s)).getBoolean(0)
    // the column formulation the probe replaces, with plain `%`
    def columnForm(s: Long): Boolean = (0 until k).forall { j =>
      val step = (s.toDouble / 1048576.0d).toLong * 2L + 1L
      val p = (s % m + step * j) % m
      ((bits((p / 64L).toInt) >> (p % 64L).toInt) & 1L) == 1L
    }
    val nonNegative = (0L until 2048L) ++
      Seq.fill(500)(rnd.nextLong() & 0xffffffffL) // md5 keys are 32-bit
    nonNegative.foreach { s =>
      assert(interpreted(s) == columnForm(s), s"interpreted, key $s")
      assert(codegen(s) == columnForm(s), s"codegen, key $s")
    }
    val negative = (-2048L until 0L) ++ Seq(Long.MinValue, -(1L << 40)) ++
      Seq.fill(500)(-(rnd.nextLong() & 0xffffffffL) - 1L)
    negative.foreach { s =>
      assert(interpreted(s) == codegen(s), s"paths disagree on key $s")
    }
  }
}
