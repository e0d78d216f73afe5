package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.sources.Readers
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `Readers.table` resolves a table once per session and table version:
  * a repeat open starts no Spark job, the cached schema is the one a fresh
  * inference gives, any change to the leaf files is seen, and sessions never
  * share an entry. The fan-out copy is keyed on the same leaf signature, so
  * a part file rewritten in place is read anew.
  */
class ReadersSpec extends GraftSuite {

  private def tableDir(): Path = Files.createTempDirectory("graft-readers")

  /** The bytes of `df` written as one parquet part file. */
  private def partBytes(df: DataFrame): Array[Byte] = {
    val out = Files.createTempDirectory("graft-readers-part")
    df.coalesce(1).write.mode("overwrite").parquet(out.toString)
    val part = Files.list(out).iterator.asScala
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.readAllBytes(part)
  }

  /** What a fresh inference of `src` gives, with the nanos `ts` rewrite. */
  private def inferredSchema(src: String): StructType =
    StructType(spark.read.parquet(src).schema.map {
      case f if f.name == "ts" && f.dataType == LongType => f.copy(dataType = TimestampType)
      case f => f
    })

  test("a second open of an unchanged table starts no Spark job") {
    val dir = tableDir()
    Files.copy(Paths.get(sf, "lineitem.parquet"), dir.resolve("lineitem.parquet"))
    val (_, first) = jobsStartedBy(Readers.table(spark, dir.toString, "lineitem"))
    assert(first > 0, "the first open infers the schema with a Spark job")
    val (again, jobs) = jobsStartedBy(Readers.table(spark, dir.toString, "lineitem"))
    assert(jobs == 0, s"a repeat open started $jobs Spark jobs")
    assert(again.count() == spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("the cached schema and rows equal a fresh inference for every testdata table") {
    val tables = new java.io.File(sf).list().filter(_.endsWith(".parquet")).sorted
      .map(_.stripSuffix(".parquet"))
    assert(tables.contains("events") && tables.length >= 10)
    tables.foreach { name =>
      val src = s"$sf/$name.parquet"
      Readers.table(spark, sf, name)
      val (df, jobs) = jobsStartedBy(Readers.table(spark, sf, name))
      assert(jobs == 0, s"$name: a repeat open started $jobs Spark jobs")
      assert(df.schema == inferredSchema(src), s"$name: cached schema differs")
      val fresh = spark.read.parquet(src)
      assert(df.count() == fresh.count() && df.exceptAll(fresh).isEmpty, s"$name: rows differ")
    }
  }

  test("a TIMESTAMP(NANOS) ts is cached as long and read back as microsecond timestamps") {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.INT64
    val dir = tableDir()
    val schema = Types.buildMessage()
      .required(INT64).named("event_id")
      .required(INT64).as(LogicalTypeAnnotation.timestampType(false,
        LogicalTypeAnnotation.TimeUnit.NANOS)).named("ts")
      .named("events")
    val nanos = Seq(1700000000123456789L, 1700000060000000999L, 1700003600999999000L)
    val writer = ExampleParquetWriter
      .builder(new org.apache.hadoop.fs.Path(dir.resolve("events.parquet").toString))
      .withType(schema).build()
    val groups = new SimpleGroupFactory(schema)
    try nanos.zipWithIndex.foreach { case (ns, i) =>
      writer.write(groups.newGroup().append("event_id", i.toLong).append("ts", ns))
    } finally writer.close()

    val src = dir.resolve("events.parquet").toString
    Readers.table(spark, dir.toString, "events")
    assert(spark.read.parquet(src).schema("ts").dataType == LongType,
      "fixture ts must infer as nanos-as-long")
    val (df, jobs) = jobsStartedBy(Readers.table(spark, dir.toString, "events"))
    assert(jobs == 0, s"a repeat open started $jobs Spark jobs")
    assert(df.schema == inferredSchema(src))
    val micros = df.orderBy("event_id").select(unix_micros(col("ts"))).collect().map(_.getLong(0))
    assert(micros.toSeq == nanos.map(_ / 1000))
  }

  test("a part file rewritten with another schema, an added and a removed file are re-inferred") {
    val t = tableDir().resolve("t.parquet")
    Files.createDirectories(t)
    Files.write(t.resolve("part-0.parquet"), partBytes(spark.range(10).toDF("a")))
    def open(): (DataFrame, Int) = jobsStartedBy(Readers.table(spark, t.getParent.toString, "t"))
    open()
    assert(open()._2 == 0)

    Files.write(t.resolve("part-0.parquet"),
      partBytes(spark.range(10).select(col("id").as("a"), lit("x").as("b"))))
    val (rewritten, j1) = open()
    assert(j1 > 0 && rewritten.columns.toSeq == Seq("a", "b"), "rewrite in place not re-inferred")

    Files.write(t.resolve("part-1.parquet"),
      partBytes(spark.range(10, 15).select(col("id").as("a"), lit("y").as("b"))))
    val (added, j2) = open()
    assert(j2 > 0 && added.count() == 15, "added part file not seen")

    Files.delete(t.resolve("part-1.parquet"))
    val (removed, j3) = open()
    assert(j3 > 0 && removed.count() == 10, "removed part file still read")
  }

  test("a part file rewritten in place is read anew through the fan-out copy") {
    assert(spark.sparkContext.isLocal && spark.sparkContext.defaultParallelism > 2,
      "needs a local session wide enough to fan a one-row-group table out")
    val t = tableDir().resolve("t.parquet")
    Files.createDirectories(t)
    val part = t.resolve("part-0.parquet")
    def table(): DataFrame = {
      val df = Readers.table(spark, t.getParent.toString, "t")
      assert(df.inputFiles.forall(_.contains("graft-scan-cache")), "fan-out copy not taken")
      df
    }
    def ids(): Seq[Long] = table().collect().map(_.getLong(0)).toSeq.sorted
    Files.write(part, partBytes(spark.range(10).toDF("a")))
    assert(ids() == (0L until 10L))
    // same file, same directory entry: the directory's own length and mtime
    // do not change, only the part file's
    Files.write(part, partBytes(spark.range(100, 130).toDF("a")))
    assert(ids() == (100L until 130L))
    // building the new version's copy deleted the one it superseded: one
    // copy (named <table>-<path digest>-<version digest>-p<cores>) remains
    val copy = new java.io.File(new java.net.URI(table().inputFiles.head)).getParentFile
    val pathPrefix = s"t-${java.util.UUID.nameUUIDFromBytes(t.toString.getBytes("UTF-8"))}-"
    val copies = copy.getParentFile.list().filter(_.startsWith(pathPrefix)).toSeq
    assert(copies == Seq(copy.getName), s"copies of the table: $copies")
  }

  test("two sessions never share an entry") {
    Readers.table(spark, sf, "nation")
    val other = spark.newSession()
    val (_, first) = jobsStartedBy(Readers.table(other, sf, "nation"))
    assert(first > 0, "the other session reused this session's entry")
    assert(other.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(jobsStartedBy(Readers.table(other, sf, "nation"))._2 == 0)
  }
}
