package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Ingest surfaces mirroring the reference's extract layer:
  * - schema-explicit CSV with date parsing and zip-as-string semantics
  *   (reference README.md "Fixing the zip data_type issue":
  *   `pd.read_csv(..., parse_dates=date_cols, dtype={'zip': str})`)
  * - stations.json-shaped nested JSON → flat table
  *   (reference "Stations-Flat", citibike-tracker Kernel.php flatten)
  * - parquet table loading for the testdata star schema.
  */
object Readers {

  /** Load a testdata table. Parquet TIMESTAMP(NANOS) (the events feed) is not
    * directly readable by Spark; read nanos as long and truncate to
    * microseconds (integer division — same truncation DuckDB applies), so
    * both engines see identical timestamp values.
    *
    * Each table is resolved once per session and table version: the first
    * open infers the parquet schema (a Spark job) and, in local mode, counts
    * the row groups from the footers; both are cached, and every later open
    * is `spark.read.schema(cached).parquet(src)` — a file listing, no Spark
    * job, no footer read, so building a query over opened tables starts no
    * job. The cache key is (session id, path); an entry holds the leaf-file
    * signature (name, length, mtime of every non-hidden entry of one
    * listStatus of `src`) it was resolved from, and an open whose listing
    * no longer matches it re-infers and replaces the entry. So a rewrite in
    * place (new length or mtime), an added or a removed part file all
    * invalidate it, and the map holds one small entry per (session, path).
    * No DataFrame or plan is cached; sessions never share an entry.
    *
    * NOTE: sets `spark.sql.legacy.parquet.nanosAsLong` on the session as a
    * side effect — after the first call, plain `spark.read.parquet` on other
    * nanos-timestamp files returns LongType instead of erroring. Scoped
    * per-read isn't possible (the conf is consulted at scan planning time).
    */
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val src = s"$dir/$name.parquet"
    val t = open(spark, src)
    val raw = spark.read.schema(t.schema).parquet(src)
    val df = raw.schema.fields.find(f => f.name == "ts" && f.dataType == LongType) match {
      case Some(_) => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case None => raw
    }
    t.rowGroups match {
      case Some(n) => fanOutLocal(spark, df, src, name, t.leaves, n)
      case None => df
    }
  }

  /** A resolved table version: the leaf signature it was resolved from, the
    * inferred schema, and (local mode only) its parquet row-group count.
    */
  private final case class Opened(leaves: Seq[(String, Long, Long)], schema: StructType,
                                  rowGroups: Option[Int])
  private val opened =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Opened]()

  /** The cached resolution of `src` for this session, re-inferred when the
    * leaf signature changed. Inference runs outside any map lock (it is a
    * Spark job, and `graft.Bench` opens tables from many threads); two
    * racing first opens each infer once and the later `put` wins.
    */
  private def open(spark: SparkSession, src: String): Opened = {
    val conf = spark.sessionState.newHadoopConf()
    val path = new org.apache.hadoop.fs.Path(src)
    val fs = path.getFileSystem(conf)
    val root = fs.getFileStatus(path)
    val entries =
      if (root.isDirectory)
        fs.listStatus(path).filter { s =>
          val n = s.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        }.sortBy(_.getPath.getName).toSeq
      else Seq(root)
    val leaves = entries.map(s => (s.getPath.getName, s.getLen, s.getModificationTime))
    val key = (graft.Sessions.id(spark), src)
    Option(opened.get(key)).filter(_.leaves == leaves).getOrElse {
      val inferred = spark.read.parquet(src)
      val rowGroups =
        if (!spark.sparkContext.isLocal) None
        else Some(rowGroupCount(conf, entries.filter(_.isFile))
          .getOrElse(inferred.rdd.getNumPartitions))
      val fresh = Opened(leaves, inferred.schema, rowGroups)
      opened.put(key, fresh)
      fresh
    }
  }

  /** Local-mode-only leaf fan-out. The local testdata tables are one parquet
    * file with ONE row group each, so every scan stage planned from them is a
    * single task: parquet cannot split below a row group, and on local[32]
    * that serializes all map-side work above the scan (shingling, minhash,
    * tokenization — observed as one task grinding 31 idle cores). A real
    * cluster never sees this — 100 TB arrives as thousands of row groups and
    * leaf parallelism comes from file splits.
    *
    * The fan-out therefore reproduces the cluster layout rather than patching
    * the plan: the table is rewritten ONCE per (table version, core count)
    * into a `cores`-file parquet copy under java.io.tmpdir, and every query
    * scans the copy. A per-query `repartition(cores)` would instead inject a
    * round-robin Exchange above every scan — full scan output shuffled BEFORE
    * any partial aggregation can collapse it (measured: q02 0.5 s → 2.4 s) —
    * and that Exchange is exactly the shape a 1000-executor plan must not
    * have. With the multi-file copy, leaf parallelism comes from file splits
    * as on a real cluster, pushdown/pruning hit the scan unchanged, and
    * map-side combine stays below the first shuffle. A no-op whenever the
    * source already holds at least half the session's cores in ROW GROUPS
    * (`rowGroups`, read from the parquet footers at the table's first open —
    * the true splittability bound; planned byte-range splits over-report it
    * for a large single-row-group file, where only the range containing the
    * row group yields rows and every other task is a no-op, which is exactly
    * the pathology being gated against). Any cache-build failure falls back
    * to the untouched scan. The copy is read with `df`'s schema, so reading
    * it runs no inference job either.
    *
    * NOTE: taking the copy path sets `spark.sql.files.openCostInBytes` on
    * the session as a side effect (see inline comment) — like table()'s
    * nanosAsLong, a per-read scope isn't possible because split planning
    * consults the session conf at execution time. Worst case for OTHER
    * reads in the same local session: a many-small-files dataset plans one
    * file per split instead of bin-packing — more tasks, same results.
    */
  private def fanOutLocal(spark: SparkSession, df: DataFrame, src: String, name: String,
                          leaves: Seq[(String, Long, Long)], rowGroups: Int): DataFrame = {
    val cores = spark.sparkContext.defaultParallelism
    if (rowGroups * 2 >= cores) df
    else {
      // One file per split when reading the copy: the default 4 MiB
      // openCostInBytes bin-packs the copy's small files back into ~2
      // splits, silently undoing the fan-out. openCost = maxPartitionBytes
      // closes every pack after one file. Local-only (like the copy
      // itself); on a cluster the defaults are the right economics.
      spark.conf.set("spark.sql.files.openCostInBytes",
        spark.conf.get("spark.sql.files.maxPartitionBytes"))
      try spark.read.schema(df.schema).parquet(fanOutCopy(df, src, name, leaves, cores))
      catch { case scala.util.control.NonFatal(_) => df }
    }
  }

  /** Total parquet row groups across the leaf part files — footer reads
    * only, no data scan. None on any failure; the caller then falls back to
    * the planned-split count.
    */
  private def rowGroupCount(conf: org.apache.hadoop.conf.Configuration,
                            files: Seq[org.apache.hadoop.fs.FileStatus]): Option[Int] =
    scala.util.Try {
      files.map { s =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(s, conf)
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
        try r.getRowGroups.size finally r.close()
      }.sum
    }.toOption

  /** Build (once) and return the `cores`-file copy of `df` for source `src`.
    * The copy's name is `<name>-<path digest>-<version digest>-p<cores>`:
    * the version digest covers the leaf signature (the same one the open
    * cache checks: a part file rewritten in place, added or removed gives a
    * new name, so a stale copy of regenerated testdata is never reused) and
    * the core count keeps an 8-way copy from defeating the fan-out for a
    * 32-core session. Thread-safe within a JVM via a per-key build lock
    * (bench warms 16 queries concurrently); safe across JVMs via
    * write-to-temp + atomic rename, first writer wins and losers read the
    * winner's copy. The writer whose rename lands then deletes the completed
    * copies of the same path and core count that the new one supersedes, so
    * the cache holds one copy per (path, core count). The copy carries the ts
    * rewrite, so reads need no nanosAsLong handling.
    */
  private val fanOutLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def fanOutCopy(df: DataFrame, src: String, name: String,
                         leaves: Seq[(String, Long, Long)], cores: Int): String = {
    def digest(s: String) = java.util.UUID.nameUUIDFromBytes(s.getBytes("UTF-8"))
    val prefix = s"$name-${digest(src)}-"
    val suffix = s"-p$cores"
    val key = prefix + digest(leaves.mkString("\n")) + suffix
    val cache = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-scan-cache")
    val dest = new java.io.File(cache, key)
    val lock = fanOutLocks.computeIfAbsent(key, _ => new Object)
    lock.synchronized {
      if (!new java.io.File(dest, "_SUCCESS").isFile) {
        val tmp = new java.io.File(cache, s"$key.tmp-${ProcessHandle.current.pid}")
        df.repartition(cores).write.mode("overwrite").parquet(tmp.getPath)
        try {
          java.nio.file.Files.move(tmp.toPath, dest.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          Option(cache.listFiles()).toSeq.flatten.filter { old =>
            val n = old.getName
            n != key && n.startsWith(prefix) && n.endsWith(suffix) &&
              new java.io.File(old, "_SUCCESS").isFile
          }.foreach(org.apache.commons.io.FileUtils.deleteQuietly)
        } catch { // another JVM built it between our check and move: use theirs
          case _: java.nio.file.FileSystemException =>
            org.apache.commons.io.FileUtils.deleteDirectory(tmp)
        }
      }
    }
    dest.getPath
  }

  /** CSV with an explicit schema — never inferSchema at scale (a full extra
    * pass over 100 TB). Keeps zip-like codes as strings so leading zeros
    * survive, parses timestamp columns on read.
    */
  def csvWithSchema(spark: SparkSession, path: String, schema: StructType,
                    timestampFormat: String = "yyyy-MM-dd HH:mm:ss"): DataFrame =
    spark.read
      .schema(schema)
      .option("header", "true")
      .option("timestampFormat", timestampFormat)
      .csv(path)

  /** The reference's availability CSV schema, zip as string by construction. */
  val availabilitySchema: StructType = StructType(Seq(
    StructField("station_id", LongType),
    StructField("station_name", StringType),
    StructField("station_status", StringType),
    StructField("latitude", DoubleType),
    StructField("longitude", DoubleType),
    StructField("zip", StringType),
    StructField("borough", StringType),
    StructField("hood", StringType),
    StructField("available_bikes", LongType),
    StructField("available_docks", LongType),
    StructField("time_interval", TimestampType),
    StructField("created_at", TimestampType),
    StructField("weather_summary", StringType),
    StructField("precip_intensity", DoubleType),
    StructField("temperature", DoubleType),
    StructField("humidity", DoubleType),
    StructField("wind_speed", DoubleType),
    StructField("wind_gust", DoubleType),
    StructField("cloud_cover", DoubleType),
    StructField("weather_status", StringType),
    StructField("updated_at", TimestampType)))

  /** Flatten a stations-feed-shaped document: one JSON string column holding
    * `{"executionTime": ..., "stationBeanList": [...]}` → one row per
    * station per poll (reference "Stations-Raw" → "Stations-Flat").
    */
  def flattenStationsJson(raw: DataFrame, jsonCol: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("executionTime", StringType),
      StructField("stationBeanList", ArrayType(StructType(Seq(
        StructField("id", LongType),
        StructField("stationName", StringType),
        StructField("availableDocks", LongType),
        StructField("totalDocks", LongType),
        StructField("latitude", DoubleType),
        StructField("longitude", DoubleType),
        StructField("statusValue", StringType),
        StructField("availableBikes", LongType),
        StructField("lastCommunicationTime", StringType)))))))
    raw
      .withColumn("doc", from_json(col(jsonCol), schema))
      .select(col("doc.executionTime").as("execution_time"),
        explode(col("doc.stationBeanList")).as("s"))
      .select(
        to_timestamp(col("execution_time"), "yyyy-MM-dd hh:mm:ss a").as("poll_time"),
        col("s.id").as("station_id"),
        col("s.stationName").as("station_name"),
        col("s.availableBikes").as("available_bikes"),
        col("s.availableDocks").as("available_docks"),
        col("s.totalDocks").as("total_docks"),
        col("s.latitude").as("latitude"),
        col("s.longitude").as("longitude"),
        col("s.statusValue").as("station_status"),
        to_timestamp(col("s.lastCommunicationTime"), "yyyy-MM-dd hh:mm:ss a")
          .as("last_communication_time"))
  }
}
