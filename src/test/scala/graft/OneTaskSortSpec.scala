package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec, ShuffleQueryStageExec}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.functions._

/** [[graft.plans.OneTaskSort]]: a global sort over a one-task input sorts in
  * place, everything else keeps its range exchange, and the rows come out
  * in the order that sorting the collected rows gives.
  */
class OneTaskSortSpec extends GraftSuite {

  /** Every node of the final post-AQE plan, query stages opened. */
  private def finalNodes(df: DataFrame): Seq[SparkPlan] = {
    def open(p: SparkPlan): Seq[SparkPlan] =
      p.collect { case n => n } ++ p.collect { case q: QueryStageExec => open(q.plan) }.flatten
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => open(a.executedPlan)
      case p => open(p)
    }
  }

  private def isRange(e: ShuffleExchangeLike): Boolean =
    e.outputPartitioning.isInstanceOf[RangePartitioning]

  private def rangeExchanges(nodes: Seq[SparkPlan]): Seq[ShuffleExchangeLike] =
    nodes.collect { case e: ShuffleExchangeLike if isRange(e) => e }

  /** The global sorts whose input is `Coalesce 1` (codegen's InputAdapter stripped). */
  private def inPlaceSorts(nodes: Seq[SparkPlan]): Seq[SortExec] = nodes.collect {
    case s: SortExec if s.global && (s.child match {
      case InputAdapter(c: CoalesceExec) => c.numPartitions == 1
      case c: CoalesceExec => c.numPartitions == 1
      case _ => false
    }) => s
  }

  private def withConf[A](k: String, v: String)(body: => A): A = {
    val old = spark.conf.getOption(k)
    spark.conf.set(k, v)
    try body finally old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("q02, q13, q15 and q18 sort in place: no range exchange, one Coalesce 1 under the sort") {
    for (name <- Seq("q02_group_agg", "q13_running_window", "q15_asof_join", "q18_revenue_join")) {
      val df = SparkEntry.queries(name)(spark, sf)
      df.collect()
      val nodes = finalNodes(df)
      assert(rangeExchanges(nodes).isEmpty, s"$name keeps a range exchange:\n${df.queryExecution.executedPlan}")
      assert(inPlaceSorts(nodes).size == 1, s"$name: want one sort over Coalesce 1:\n${df.queryExecution.executedPlan}")
    }
  }

  test("a sort over map output above the one-partition target keeps its range exchange") {
    val wide = spark.range(0, 300000, 1, 4)
      .select((col("id") * 7919 % 300000).as("k"), rand(1).as("r"))
      .groupBy("k").agg(sum("r").as("s")).orderBy("k")
    val rows = wide.collect()
    assert(rows.length == 300000)
    val nodes = finalNodes(wide)
    val mapBytes = nodes.collect { case q: ShuffleQueryStageExec if !isRange(q.shuffle) =>
      q.mapStats.map(_.bytesByPartitionId.sum).getOrElse(0L) }.sum
    assert(mapBytes > (1L << 20), s"the aggregate's map output is only $mapBytes bytes")
    assert(rangeExchanges(nodes).size == 1 && inPlaceSorts(nodes).isEmpty,
      s"range exchange lost:\n${wide.queryExecution.executedPlan}")
  }

  test("with shuffle-partition coalescing off, q02 keeps its range exchange") {
    withConf("spark.sql.adaptive.coalescePartitions.enabled", "false") {
      val df = SparkEntry.queries("q02_group_agg")(spark, sf)
      df.collect()
      val nodes = finalNodes(df)
      assert(rangeExchanges(nodes).size == 1 && inPlaceSorts(nodes).isEmpty,
        s"range exchange lost:\n${df.queryExecution.executedPlan}")
    }
  }

  test("repartitionByRange keeps its exchange under a global sort") {
    val df = spark.range(0, 100, 1, 1).toDF("id").repartitionByRange(3, col("id")).orderBy("id")
    assert(df.collect().map(_.getLong(0)).toSeq == (0L until 100L))
    val nodes = finalNodes(df)
    assert(nodes.exists {
      case e: ShuffleExchangeLike => isRange(e) && e.shuffleOrigin == REPARTITION_BY_NUM
      case _ => false
    } && inPlaceSorts(nodes).isEmpty, s"user range exchange lost:\n${df.queryExecution.executedPlan}")
  }

  // ids 0..2999; k repeats with NULLs, d repeats with NULLs and NaNs
  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-one-task-sort").resolve("t").toString
    import spark.implicits._
    (0 until 3000).map { i =>
      (i.toLong, if (i % 17 == 0) None else Some(i % 50),
        if (i % 13 == 0) None else if (i % 11 == 0) Some(Double.NaN) else Some((i % 7) * 0.5 - 1))
    }.toDF("id", "k", "d").coalesce(1).write.parquet(dir)
    dir
  }

  // Spark's orders: ascending puts NULL first, descending puts it last;
  // NaN is above every other double
  private def nullsFirst[A](o: Ordering[A]): Ordering[Option[A]] = Ordering.Option(o)
  private def nullsLast[A](o: Ordering[A]): Ordering[Option[A]] = new Ordering[Option[A]] {
    def compare(a: Option[A], b: Option[A]): Int = (a, b) match {
      case (None, None) => 0
      case (None, _) => 1
      case (_, None) => -1
      case (Some(x), Some(y)) => o.compare(x, y)
    }
  }
  private val nanHigh: Ordering[Double] = (x: Double, y: Double) => java.lang.Double.compare(x, y)
  private def opt[A](r: Row, i: Int): Option[A] = if (r.isNullAt(i)) None else Some(r.getAs[A](i))

  test("in-place sorts return the order of sorting the collected rows: duplicates, NULL and NaN keys") {
    val scan = spark.read.parquet(table)
    val all = scan.collect().toSeq

    // a scan-fed sort on a total order: the sequences must be equal
    val byKdId = scan.orderBy(col("k").asc, col("d").desc, col("id").asc)
    val got = byKdId.collect().toSeq
    assert(inPlaceSorts(finalNodes(byKdId)).size == 1, s"not in place:\n${byKdId.queryExecution.executedPlan}")
    val kOrd = nullsFirst(Ordering.Int)
    val dDesc = nullsLast(nanHigh.reverse)
    val want = all.sortWith { (a, b) =>
      val c1 = kOrd.compare(opt[Int](a, 1), opt[Int](b, 1))
      lazy val c2 = dDesc.compare(opt[Double](a, 2), opt[Double](b, 2))
      if (c1 != 0) c1 < 0 else if (c2 != 0) c2 < 0 else a.getLong(0) < b.getLong(0)
    }
    assert(got.map(_.toString) == want.map(_.toString))

    // duplicate keys only: the key sequence is fixed, the rows are a permutation
    val byD = scan.orderBy(col("d").asc)
    val gotD = byD.collect().toSeq
    assert(inPlaceSorts(finalNodes(byD)).size == 1)
    val dAsc = nullsFirst(nanHigh)
    // compared as bits: NaN == NaN is false even boxed
    val boxed = (o: Option[Double]) => o.map(java.lang.Double.doubleToLongBits)
    assert(gotD.map(r => boxed(opt[Double](r, 2))) ==
      all.map(opt[Double](_, 2)).sorted(dAsc).map(boxed))
    assert(gotD.map(_.toString).sorted == all.map(_.toString).sorted)

    // a shuffle-fed sort: an aggregate whose map output is read as one
    // partition, keyed on the NULL and NaN bearing columns
    val agg = scan.groupBy("k", "d").agg(count(lit(1)).as("n"))
      .orderBy(col("d").desc, col("k").asc)
    val gotAgg = agg.collect().toSeq
    assert(inPlaceSorts(finalNodes(agg)).size == 1 && rangeExchanges(finalNodes(agg)).isEmpty,
      s"not in place:\n${agg.queryExecution.executedPlan}")
    val wantAgg = all.groupBy(r => (opt[Int](r, 1), boxed(opt[Double](r, 2)))).toSeq
      .map { case ((k, d), rs) => (k, d, rs.size.toLong) }
      .sortWith { (a, b) =>
        val c1 = dDesc.compare(a._2.map(java.lang.Double.longBitsToDouble),
          b._2.map(java.lang.Double.longBitsToDouble))
        if (c1 != 0) c1 < 0 else kOrd.compare(a._1, b._1) < 0
      }
    assert(gotAgg.map(r => (opt[Int](r, 0), boxed(opt[Double](r, 1)), r.getLong(2))) == wantAgg)
  }
}
