package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import graft.{BoxLock, GraftExtensions, SparkEntry}
import graft.plans.NativeFns
import graft.sources.{AnnIndex, Readers, Writers}
import graft.streaming.EventsStream
import org.apache.spark.SparkAccess
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark: one Spark session that executes commands read
  * line by line from stdin and answers each with one `@@{json}` line on
  * stdout. The Python driver (`bench/run.py`) decides what to run and when
  * (warm-up, timed passes, check pass); this side only runs it and measures.
  *
  * Usage: Harness <dataDir> <workDir> <cores>
  */
object Harness {
  private var spark: SparkSession = _
  private var dataDir: String = _
  private var workDir: String = _
  private var ops: Seq[String] = Nil
  private var tracer: Tracer = _

  private def nowMs: Double = System.nanoTime() / 1e6 - nanoOffsetMs
  // op spans share the clock of Spark's listener events (epoch milliseconds)
  private val nanoOffsetMs = System.nanoTime() / 1e6 - System.currentTimeMillis()

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("selftest")) { SelfTest.run(); return }
    val Array(dir, work, cores) = args
    dataDir = dir; workDir = work
    val lock = BoxLock.acquire("graftbench")
    spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(s"$work/checkpoints")
    reply(s"""{"ready":true,"lock_wait_s":${lock.waitedSeconds},"lock_acquired":${lock.acquired}}""")
    try {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
      var line = in.readLine()
      while (line != null && line.trim != "quit") {
        val words = line.trim.split("\\s+").toSeq
        reply(try command(words.head, words.tail) catch {
          case NonFatal(e) => s"""{"error":${Json.str(e.toString)}}"""
        })
        line = in.readLine()
      }
    } finally {
      spark.stop()
      lock.release()
    }
  }

  private def reply(json: String): Unit = { println("@@" + json); System.out.flush() }

  private def command(cmd: String, args: Seq[String]): String = cmd match {
    case "ops" =>
      val unknown = args.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown ops: ${unknown.mkString(",")}")
      ops = args
      val oracle = ops.flatMap(o => SparkEntry.oracleSql.get(o).map(sql => s"${Json.str(o)}:${Json.str(sql)}"))
      s"""{"oracle":${oracle.mkString("{", ",", "}")}}"""
    case "pass" => runPass(traced = args.headOption.contains("1"))
    case "check" => checkPass(args.head)
    case "heap" => s"""{"live_heap_mb":${liveHeapMb()}}"""
    case "canary" => Canary.json(spark.sparkContext.defaultParallelism)
    case "probe" => Probes.run(spark, dataDir, workDir)
    case other => throw new IllegalArgumentException(s"unknown command $other")
  }

  private def resetSession(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
  }

  /** One sequential pass over the op list into the noop sink. Each op gets
    * its own job group, so the traced run can parent every Spark job on the
    * op that caused it. An op's span is split at the moment its builder
    * returns the DataFrame (construction) and ends when the sink finishes.
    */
  private def runPass(traced: Boolean): String = {
    if (traced) {
      tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    val sc = spark.sparkContext
    val gcMs = () => ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val gc0 = gcMs()
    val passStart = nowMs
    val spans = ops.map { name =>
      sc.setJobGroup(name, name)
      val t0 = nowMs
      var t1 = t0
      var analysis = ""
      val err = try {
        val df = SparkEntry.queries(name)(spark, dataDir)
        t1 = nowMs
        // the returned plan was analyzed eagerly, inside the builder call
        if (traced) df.queryExecution.tracker.phases.get("analysis").foreach { p =>
          analysis = s""","analysis":[${p.startTimeMs},${p.endTimeMs}]"""
        }
        df.write.mode("overwrite").format("noop").save()
        ""
      } catch { case NonFatal(e) => e.toString }
      val t2 = nowMs
      sc.clearJobGroup()
      resetSession()
      s"""{"op":${Json.str(name)},"start":$t0,"built":$t1,"end":$t2,"error":${Json.str(err)}$analysis}"""
    }
    val passEnd = nowMs
    // every pass, traced or not, leaves Spark's listener bus empty, so the
    // next pass does not pay for this one's event backlog
    SparkAccess.drainListenerBus(sc)
    val trace = if (!traced) "null" else {
      spark.listenerManager.unregister(tracer)
      sc.removeSparkListener(tracer)
      tracer.drain(jvmGcMs = gcMs() - gc0)
    }
    s"""{"start":$passStart,"end":$passEnd,"ops":${spans.mkString("[", ",", "]")},"trace":$trace}"""
  }

  /** Untimed output check: every op's result is written to parquet under
    * `outDir/<op>` (for the oracle compare) and reduced to its row count and
    * order-insensitive digest.
    */
  private def checkPass(outDir: String): String = {
    val rows = ops.map { name =>
      try {
        val path = s"$outDir/$name"
        SparkEntry.queries(name)(spark, dataDir).write.mode("overwrite").parquet(path)
        val (n, d) = Digest.of(spark.read.parquet(path))
        resetSession()
        s"""{"op":${Json.str(name)},"rows":$n,"digest":${Json.str(d)},"path":${Json.str(path)}}"""
      } catch {
        case NonFatal(e) => s"""{"op":${Json.str(name)},"error":${Json.str(e.toString)}}"""
      }
    }
    rows.mkString("""{"ops":[""", ",", "]}")
  }

  /** Live heap after full collections: at least three rounds, 300 ms apart,
    * until two readings agree within 1 % (at most eight rounds); reports the
    * smallest reading. The pauses let Spark's context cleaner drop the blocks
    * of broadcasts and shuffles the previous collection found unreachable.
    */
  private def liveHeapMb(): Double = {
    resetSession()
    val mem = ManagementFactory.getMemoryMXBean
    var readings = List.empty[Long]
    def settled = readings match {
      case a :: b :: _ => readings.size >= 3 && math.abs(a - b) <= 0.01 * math.max(a, b)
      case _ => false
    }
    while (readings.size < 8 && !settled) {
      System.gc()
      Thread.sleep(300)
      readings ::= mem.getHeapMemoryUsage.getUsed
    }
    readings.min / 1048576.0
  }
}

/** Order-insensitive content digest of a DataFrame: the row count, and the
  * sum (mod 2^64) of a 64-bit hash of each row's values and null flags. A
  * sum of row hashes does not depend on row or partition order, while a
  * changed, missing or duplicated row changes it.
  */
object Digest {
  def of(df: DataFrame): (Long, String) = {
    val cols = df.columns.toSeq.map(c => col(s"`$c`"))
    val rowHash = xxhash64(cols ++ cols.map(isnull): _*)
    val r = df.agg(count(lit(1)), sum(rowHash.cast("decimal(38,0)"))).head()
    val total = Option(r.getDecimal(1)).map(d => BigInt(d.toBigInteger)).getOrElse(BigInt(0))
    (r.getLong(0), (total mod (BigInt(1) << 64)).toString(16))
  }
}

/** Box-speed probes: a fixed xorshift loop on one thread, then on every core
  * at once (wall of the slowest, minimum of two). The same work on every
  * run, so the seconds read how fast this box is right now.
  */
object Canary {
  @volatile private var sink = 0L
  private def spin(iters: Long, seed: Long): Long = {
    var x = seed; var i = 0L
    while (i < iters) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; x += i; i += 1 }
    x
  }
  private val Iters = 100000000L

  def json(threads: Int): String = {
    sink = spin(20000000L, 1L)
    val t0 = System.nanoTime()
    sink = spin(Iters, 2L)
    val single = (System.nanoTime() - t0) / 1e9
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      def all(): Double = {
        val t = System.nanoTime()
        (0 until threads).map(k => pool.submit(new Runnable {
          def run(): Unit = sink += spin(Iters, 3L + k)
        })).foreach(_.get())
        (System.nanoTime() - t) / 1e9
      }
      val par = Seq.fill(2)(all()).min
      s"""{"single_s":$single,"par_s":$par}"""
    } finally pool.shutdown()
  }
}

/** Direct timed calls into the layers the op list reaches only indirectly:
  * table opening, writers, the ANN index lifecycle, the public native
  * kernels, and a closed-loop streaming feed. Run once, after the traced
  * passes, on the workload's own generated tables.
  */
object Probes {
  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
  private def du(root: File): (Int, Long) =
    if (root.isFile) (if (root.getName.endsWith(".parquet")) 1 else 0, root.length)
    else Option(root.listFiles).getOrElse(Array.empty[File]).map(du)
      .foldLeft((0, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }

  def run(spark: SparkSession, dataDir: String, workDir: String): String = {
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    val probeDir = s"$workDir/probe"

    // table open: a fresh copy of one input (its fan-out copy is built on the
    // first call), then the steady call on the same path
    val src = new File(s"$dataDir/events.parquet")
    val copy = new File(s"$probeDir/tables/events.parquet")
    org.apache.commons.io.FileUtils.copyDirectory(src, copy, false) // new mtime: a new fan-out key
    m("sources.table_open_first_s") = timed(Readers.table(spark, copy.getParent, "events"))._2
    m("sources.table_open_s") = median(Seq.fill(5)(timed(Readers.table(spark, copy.getParent, "events"))._2))
    val events = Readers.table(spark, dataDir, "events")
    val docs = Readers.table(spark, dataDir, "documents")
    val embs = Readers.table(spark, dataDir, "embeddings")

    // writers: each half of the events upserted into a plain and into a
    // partitioned keyed table
    val out = s"$probeDir/upsert"
    val version = Seq(col("ts"), col("event_id"))
    val ev = events.select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val half = pmod(col("event_id"), lit(2))
    val (_, w1) = timed {
      Writers.upsert(spark, s"$out/plain", ev.filter(half === 0), Seq("user_id"), version)
      Writers.upsert(spark, s"$out/plain", ev.filter(half === 1), Seq("user_id"), version)
      Writers.upsertPartitioned(spark, s"$out/by_type", ev.filter(half === 0), Seq("user_id"),
        version, "event_type")
      Writers.upsertPartitioned(spark, s"$out/by_type", ev.filter(half === 1), Seq("user_id"),
        version, "event_type")
    }
    val (files, bytes) = du(new File(out))
    m("sources.write_s") = w1
    m("sources.files_written") = files
    m("sources.output_mb") = bytes / 1048576.0

    // ANN index lifecycle: build -> write -> append x2 -> compact -> read -> search
    val idx = s"$probeDir/ann_index"
    val third = pmod(col("vec_id"), lit(3))
    val (model, b) = timed(AnnIndex.build(embs.filter(third === 0), "vec_id", "embedding",
      numCells = 4, kmeansIters = 1))
    val (_, wr) = timed(AnnIndex.write(model, idx, "0001"))
    m("sources.annindex_build_s") = b + wr
    m("sources.annindex_append_s") = timed {
      AnnIndex.append(spark, idx, "0001", embs.filter(third === 1))
      AnnIndex.append(spark, idx, "0001", embs.filter(third === 2))
    }._2
    m("sources.annindex_compact_s") = timed(AnnIndex.compact(spark, idx, "0001"))._2
    m("sources.annindex_search_s") = timed {
      val read = AnnIndex.read(spark, idx, Some("0001"))
      AnnIndex.searchIvf(read, embs.filter(col("vec_id") < 10), k = 5, nProbe = 4)
        .write.mode("overwrite").format("noop").save()
    }._2

    // public native kernels projected over the documents and embeddings
    val probe = embs.filter(col("vec_id") === 0).select(col("embedding").as("q"))
    val centroids = embs.filter(col("vec_id") < 16).agg(collect_list(col("embedding")).as("c"))
    m("plans.kernel_s") = median(Seq.fill(3)(timed {
      docs.select(NativeFns.minhashText(col("text"), 3, 64), NativeFns.shingleHashes(col("text"), 3),
          NativeFns.charGramHashes(col("text"), 5), NativeFns.fingerprint(col("text")))
        .write.mode("overwrite").format("noop").save()
      embs.crossJoin(probe).crossJoin(centroids)
        .select(NativeFns.cosineSim(col("embedding"), col("q")),
          NativeFns.nearestIndex(col("embedding"), col("c"), "cosine"))
        .write.mode("overwrite").format("noop").save()
    }._2))

    // closed-loop streaming feed: one client writes the next batch file only
    // after the previous trigger has completed
    val feed = s"$probeDir/feed"
    new File(feed).mkdirs()
    val query = EventsStream.windowedCounts(
        spark.readStream.schema(EventsStream.eventSchema).parquet(feed), "1 hour", "2 hours")
      .writeStream.outputMode("update").format("noop")
      .option("checkpointLocation", s"$probeDir/feed_checkpoint").start()
    val batches = 4
    val progress = try {
      (0 until batches).map { k =>
        val staging = s"$probeDir/feed_staging/$k"
        events.filter(pmod(col("event_id"), lit(batches.toLong)) === k).coalesce(1)
          .write.parquet(staging)
        val part = new File(staging).listFiles().find(_.getName.endsWith(".parquet")).get
        val (_, s) = timed {
          java.nio.file.Files.move(part.toPath, new File(feed, s"batch-$k.parquet").toPath)
          query.processAllAvailable()
        }
        (s, query.lastProgress)
      }
    } finally query.stop()
    def dur(key: String): Seq[Double] =
      progress.map(p => Option(p._2.durationMs.get(key)).map(_.doubleValue / 1000).getOrElse(0.0))
    m("streaming.batch_latency_s") = median(progress.map(_._1))
    m("streaming.trigger_s") = median(dur("triggerExecution"))
    m("streaming.add_batch_s") = median(dur("addBatch"))
    m("streaming.wal_commit_s") = median(dur("walCommit"))
    val last = progress.last._2.stateOperators
    m("streaming.state_rows") = last.map(_.numRowsTotal).sum.toDouble
    m("streaming.state_mb") = last.map(_.memoryUsedBytes).sum / 1048576.0
    m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
  }
}
