package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Focused spec for the r15 LONG-path exact sums
  * ([[graft.plans.DoubleToScaledLong]] / [[graft.plans.Int128ProductSum]] /
  * [[graft.plans.PairMomentsAgg]]) that replaced the DECIMAL accumulators
  * in NumFns.exactSum/exactAvg and Relational.correlationMatrix. What must
  * hold (the optimization's equality contract):
  *
  *  1. exactSum == the old `sum(cast(x as decimal(28,s))).cast(double)`
  *     bit-for-bit on adversarial doubles (ties, negatives, full-mantissa
  *     values), including across repartitionings (order independence);
  *  2. null semantics unchanged: all-null/empty groups give NULL, null
  *     rows are skipped;
  *  3. correlationMatrix == the old decimal formulation on data WITH nulls
  *     (pairwise deletion) — r values bit-identical;
  *  4. overflow poisons to NULL (the decimal path's overflow-to-NULL
  *     class), never a silently wrapped wrong value;
  *  5. the domain is finite |v| < 1e(18-s); anything else, NaN and ±Inf
  *     included, fails LOUDLY with an ArithmeticException, and the largest
  *     double below the bound is still summed;
  *  6. the per-row rounding's double-arithmetic fast path returns what the
  *     BigDecimal route returns, interpreted and in generated code.
  */
class ExactSum128Spec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  import spark.implicits._

  private def oldExactSum(x: org.apache.spark.sql.Column, scale: Int) =
    sum(x.cast(org.apache.spark.sql.types.DecimalType(28, scale))).cast("double")

  test("exactSum equals the decimal path bit-for-bit on adversarial doubles, any partitioning") {
    val rnd = new scala.util.Random(7)
    val vals: Seq[(Int, java.lang.Double)] =
      Seq[(Int, java.lang.Double)]((0, 0.125), (0, -0.125), (0, 2.675), (0, -2.675),
        (1, 0.005), (1, -0.005), (1, 99999.995), (2, null)) ++
        (1 to 5000).map(i => (i % 4, java.lang.Double.valueOf((rnd.nextLong() % 10000000L) / 100.0 + rnd.nextInt(3) * 0.005))) ++
        (1 to 2000).map(i => (i % 4, java.lang.Double.valueOf((rnd.nextDouble() - 0.5) * 2e13)))
    for (parts <- Seq(1, 3, 17)) {
      val df = vals.toDF("g", "x").repartition(parts)
      val got = df.groupBy($"g")
        .agg(graft.functions.NumFns.exactSum($"x", 2).as("s"),
          oldExactSum($"x", 2).as("o"))
        .collect()
      got.foreach { r =>
        assert(r.isNullAt(1) == r.isNullAt(2),
          s"null disagreement at g=${r.getInt(0)}, parts=$parts")
        if (!r.isNullAt(1))
          assert(r.getDouble(1) == r.getDouble(2),
            s"g=${r.getInt(0)} parts=$parts: long-path ${r.getDouble(1)} != decimal ${r.getDouble(2)}")
      }
    }
  }

  test("empty and all-null groups are NULL; exactAvg of an empty slice is NULL") {
    val df = Seq((1, Some(2.5)), (1, Some(3.0)), (2, None: Option[Double]))
      .toDF("g", "x")
    val got = df.groupBy($"g")
      .agg(graft.functions.NumFns.exactSum($"x", 2).as("s"),
        graft.functions.NumFns.exactAvg(when($"x" > 100.0, $"x"), 2).as("a"))
      .orderBy($"g").collect()
    assert(got(0).getDouble(1) == 5.5)
    assert(got(0).isNullAt(2), "no x > 100: exactAvg must be NULL, not NaN/0")
    assert(got(1).isNullAt(1), "all-null group must sum to NULL")
  }

  test("correlationMatrix equals the old decimal formulation on null-bearing data") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 20000).map { i =>
      (if (i % 7 == 0) null else java.lang.Double.valueOf((i % 5000) / 100.0 + rnd.nextInt(3) * 0.005),
        if (i % 5 == 0) null else java.lang.Double.valueOf((i % 997) / 100.0),
        java.lang.Double.valueOf(rnd.nextInt(1000) / 100.0))
    }
    val df = rows.toDF("a", "b", "c").repartition(5)
    val cols = Seq("a" -> $"a", "b" -> $"b", "c" -> $"c")
    val neu = graft.operators.Relational.correlationMatrix(df, cols)
      .orderBy("x_col", "y_col").collect()
    // the r14 decimal formulation, inlined
    val dt = org.apache.spark.sql.types.DecimalType(18, 2)
    val pairs = for { i <- cols.indices; j <- cols.indices if i < j } yield (cols(i), cols(j))
    val aggs = pairs.zipWithIndex.flatMap { case (((_, xc), (_, yc)), i) =>
      val both = xc.isNotNull && yc.isNotNull
      val dx = when(both, xc.cast("double")).cast(dt)
      val dy = when(both, yc.cast("double")).cast(dt)
      Seq(count(when(both, lit(1))).as(s"_n_$i"),
        sum(dx).cast("double").as(s"_sx_$i"), sum(dy).cast("double").as(s"_sy_$i"),
        sum(dx * dy).cast("double").as(s"_sxy_$i"),
        sum(dx * dx).cast("double").as(s"_sxx_$i"),
        sum(dy * dy).cast("double").as(s"_syy_$i"))
    }
    val o = df.agg(aggs.head, aggs.tail: _*).head()
    pairs.zipWithIndex.foreach { case (((xn, _), (yn, _)), i) =>
      val n = o.getLong(i * 6).toDouble
      val (sx, sy, sxy, sxx, syy) = (o.getDouble(i * 6 + 1), o.getDouble(i * 6 + 2),
        o.getDouble(i * 6 + 3), o.getDouble(i * 6 + 4), o.getDouble(i * 6 + 5))
      val den2 = (n * sxx - sx * sx) * (n * syy - sy * sy)
      val expected: Option[Double] =
        if (den2 > 0) Some(math.floor((n * sxy - sx * sy) / math.sqrt(den2) * 10000.0 + 0.5) / 10000.0)
        else None
      val r = neu(i)
      assert(r.getString(0) == xn && r.getString(1) == yn)
      assert(r.getLong(2) == o.getLong(i * 6), s"n mismatch for $xn-$yn")
      (expected, if (r.isNullAt(3)) None else Some(r.getDouble(3))) match {
        case (Some(e), Some(g)) => assert(e == g, s"$xn-$yn: corr $g != decimal-path $e")
        case (None, None) =>
        case (e, g) => fail(s"$xn-$yn: null disagreement new=$g old=$e")
      }
    }
  }

  test("128-bit overflow poisons the moment sums to NULL, never a wrapped value") {
    // v = 9.9e15 passes the |v| < 1e16 guard; lx = 9.9e17, lx² ≈ 9.8e35 —
    // 400 such rows push Σx² past 2^127 ≈ 1.7e38, latching the poison flag.
    // The old decimal path overflowed its 38-digit buffer on the same input
    // (to NULL, non-ANSI); the contract is null-not-wrong either way.
    val df = (1 to 400).map(_ => (9.9e15, 1.0)).toDF("a", "b").repartition(3)
    val got = graft.operators.Relational.correlationMatrix(
      df, Seq("a" -> $"a", "b" -> $"b")).collect()
    assert(got.length == 1)
    assert(got(0).getLong(2) == 400L, "n must still count")
    assert(got(0).isNullAt(3), "overflowed moments must yield NULL corr")
  }

  /** Merges two aggregation buffers of `agg` with its merge expressions,
    * interpreted and through generated code; returns both output rows.
    */
  private def merged(agg: org.apache.spark.sql.catalyst.expressions.aggregate.DeclarativeAggregate,
                     left: Seq[Any], right: Seq[Any]): Seq[org.apache.spark.sql.catalyst.InternalRow] = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BindReferences
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    val bound = agg.mergeExpressions.map(
      BindReferences.bindReference(_, agg.aggBufferAttributes ++ agg.inputAggBufferAttributes))
    val row = InternalRow.fromSeq(left ++ right)
    Seq(InternalRow.fromSeq(bound.map(_.eval(row))), GenerateUnsafeProjection.generate(bound)(row))
  }

  test("merging partials at the 2^127 edge: a carry into Long.MaxValue poisons, in-range carries do not") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    // low words -1 and 1 sum to 0 and carry 1 into the high word
    // (aHi, bHi, the high word the merge must give, overflow)
    val cases = Seq(
      (0L, Long.MaxValue, None, true),
      (-1L, Long.MaxValue, Some(Long.MaxValue), false),
      (Long.MinValue, -1L, Some(Long.MinValue), false))
    val sum = graft.plans.Int128ProductSum(Literal(1L), Literal(1L), 0)
    val moments = graft.plans.PairMomentsAgg(Literal(1L), Literal(1L), 0)
    for ((aHi, bHi, hi, overflow) <- cases) {
      // Int128ProductSum buffer: (hi, lo, seen, ovf)
      merged(sum, Seq(aHi, -1L, true, false), Seq(bHi, 1L, true, false)).foreach { r =>
        assert(r.getBoolean(3) == overflow, s"sum ($aHi, $bHi): ovf")
        hi.foreach(h => assert(r.getLong(0) == h, s"sum ($aHi, $bHi): hi"))
      }
      // PairMomentsAgg buffer: (n, sxHi, sxLo, 4 more (hi, lo) pairs, ovf)
      def buf(sxHi: Long, sxLo: Long) = Seq[Any](1L, sxHi, sxLo) ++ Seq.fill(8)(0L) :+ false
      merged(moments, buf(aHi, -1L), buf(bHi, 1L)).foreach { r =>
        assert(r.getBoolean(11) == overflow, s"moments ($aHi, $bHi): ovf")
        hi.foreach(h => assert(r.getLong(1) == h, s"moments ($aHi, $bHi): sx hi"))
      }
    }
  }

  test("q02 and q18 keep their exact-sum aggregates inside whole-stage codegen") {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    // (aggregates inside codegen, aggregates outside it)
    def exactAggs(p: SparkPlan, inCodegen: Boolean): (Int, Int) = {
      val (children, nested) = p match {
        case a: AdaptiveSparkPlanExec => (Seq(a.executedPlan), false)
        case s: QueryStageExec => (Seq(s.plan), false)
        case w: WholeStageCodegenExec => (Seq(w.child), true)
        case i: InputAdapter => (Seq(i.child), false)
        case other => (other.children, inCodegen)
      }
      val here = p match {
        case h: HashAggregateExec if h.toString.contains("graft_int128_product_sum") =>
          if (inCodegen) (1, 0) else (0, 1)
        case _ => (0, 0)
      }
      children.map(exactAggs(_, nested)).foldLeft(here) { case ((a, b), (c, d)) => (a + c, b + d) }
    }
    for (name <- Seq("q02_group_agg", "q18_revenue_join")) {
      val df = SparkEntry.queries(name)(spark, SparkTestBase.Sf)
      df.collect()
      val (inside, outside) = exactAggs(df.queryExecution.executedPlan, inCodegen = false)
      assert(inside > 0 && outside == 0,
        s"$name: $inside exact-sum aggregates in codegen, $outside outside\n${df.queryExecution.executedPlan}")
    }
  }

  test("at scale 2, NaN and 1e17 throw and nextDown(1e16) is summed") {
    def messages(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ messages(t.getCause)
    for (bad <- Seq(1.0e17, Double.NaN)) {
      val e = intercept[Exception] {
        Seq(1.0, bad).toDF("x").agg(graft.functions.NumFns.exactSum($"x", 2)).collect()
      }
      assert(messages(e).exists(_.contains("graft_double_to_scaled_long")),
        s"$bad: want the scaled-long range message in the failure chain, got: ${messages(e)}")
    }
    // the largest double below the scale-2 bound 1e16 is inside the domain
    val edge = Math.nextDown(1.0e16)
    val got = Seq(1.0, edge).toDF("x")
      .agg(graft.functions.NumFns.exactSum($"x", 2)).head().getDouble(0)
    assert(got == 1.0 + edge, s"sum at the domain edge: $got")
  }

  test("the double-arithmetic rounding equals the BigDecimal route at scales 0-6, interpreted and generated") {
    import graft.plans.DoubleToScaledLong
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.BoundReference
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.types.DoubleType
    val rnd = new scala.util.Random(20261019)
    def around(v: Double, n: Int): Seq[Double] =
      Iterator.iterate(v)(Math.nextUp).take(n).toSeq ++ Iterator.iterate(v)(Math.nextDown).take(n).toSeq
    for (s <- 0 to 6) {
      val p = math.pow(10, s)
      val maxAbs = math.pow(10, 18 - s)
      // cent-grained prices × (1 − discount), and × (1 + tax)
      val priced = Seq.fill(20000) {
        val price = (1 + rnd.nextInt(10000000)) / 100.0
        val disc = rnd.nextInt(11) / 100.0
        if (rnd.nextBoolean()) price * (1 - disc) else price * (1 - disc) * (1 + rnd.nextInt(9) / 100.0)
      }
      // (k + 0.5) / 10^s ties, decimal ties whose binary product misses .5
      // by an ulp or so (1.005 at scale 2), and their neighbours
      val ties = (Seq.fill(3000)((rnd.nextInt(1 << 24) + 0.5) / p) ++
        Seq.fill(3000)((rnd.nextInt(1 << 20) * 10L + 5) / (p * 10)) ++
        Seq(0.125, 1.005, 2.675, 0.045, 1.0005, 4.35)).flatMap(around(_, 3))
      val tiny = Seq(0.0, -0.0, Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
        Math.nextDown(java.lang.Double.MIN_NORMAL), 1e-300, 0.5 / p, 0.49999999999 / p)
      // |v·10^s| next to 2^52, where the fast path ends, and next to maxAbs
      val edges = around(4503599627370496d / p, 40) ++ around(4503599627370495.5 / p, 5) ++
        around(Math.nextDown(maxAbs), 20)
      // random bit patterns: any exponent, and exponents inside the domain
      val bits = Seq.fill(20000)(java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
        Seq.fill(20000) {
          val e = 1023L - 60 + rnd.nextInt(60 + 60 - s * 4)
          java.lang.Double.longBitsToDouble((e << 52) | (rnd.nextLong() & ((1L << 52) - 1)))
        }
      val values = (priced ++ ties ++ tiny ++ edges ++ bits).flatMap(v => Seq(v, -v))
      val expr = DoubleToScaledLong(BoundReference(0, DoubleType, nullable = false), s)
      val generated = GenerateUnsafeProjection.generate(Seq(expr))
      values.foreach { v =>
        val row = InternalRow(v)
        if (!java.lang.Double.isNaN(v) && math.abs(v) < maxAbs) {
          val want = DoubleToScaledLong.viaBigDecimal(v, s)
          assert(expr.eval(row) == want, s"interpreted, scale $s, v=$v")
          assert(generated(row).getLong(0) == want, s"generated, scale $s, v=$v")
        } else {
          intercept[ArithmeticException](expr.eval(row))
          intercept[ArithmeticException](generated(row))
        }
      }
    }
  }
}
