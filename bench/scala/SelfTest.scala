package graftbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Checks of the JVM-side helpers, run by `python3 bench/run.py --selftest`:
  * the digest ignores row and partition order but sees a changed, dropped or
  * duplicated row, and a null moved between columns.
  */
object SelfTest {
  def run(): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    try {
      val base = Seq((1L, "a", Option(1.5)), (2L, "b", None), (3L, "c", Option(2.5))).toDF("k", "s", "v")
      val d = Digest.of(base)
      def check(what: String, ok: Boolean): Unit = {
        println(s"${if (ok) "ok  " else "FAIL"} $what")
        if (!ok) sys.exit(1)
      }
      check("row count", d._1 == 3L)
      check("order-insensitive", Digest.of(base.orderBy(col("k").desc).repartition(3)) == d)
      check("changed row", Digest.of(base.withColumn("s", when(col("k") === 2, "x").otherwise(col("s")))) != d)
      check("dropped row", Digest.of(base.filter(col("k") =!= 3)) != d)
      check("duplicated row", Digest.of(base.union(base.filter(col("k") === 1)))._2 !=
        Digest.of(base.union(base.filter(col("k") === 3)))._2)
      val nulls = Seq((Option(1L), Option.empty[Long]), (Option.empty[Long], Option(1L))).toDF("a", "b")
      check("null position", Digest.of(nulls.filter(col("a").isNull)) != Digest.of(nulls.filter(col("b").isNull)))
    } finally spark.stop()
  }
}
