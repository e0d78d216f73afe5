package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}

/** Per-query measurement harness: per query and rep, the wall time, each
  * Spark job's wall time and inter-job driver gap (wall minus job sum =
  * driver/planning time), and per-job input and shuffle read/write bytes
  * from task metrics with the largest per-task shuffle read, so "shuffle
  * fewer bytes" changes have a before/after number and skew claims can cite
  * max-vs-sum task shuffle volumes. The SF dir comes from
  * `SPARK_GRAFT_SF_DIR`: sf0.1 is overhead-dominated, so profile at sf1.
  * Run: `SPARK_GRAFT_SF_DIR=/tmp/sf1 sbt "Test/runMain graft.ProfileR15 q52_dedup_jaccard_capped 3"`.
  */
object ProfileR15 {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").toSeq
    val reps = if (args.length > 1) args(1).toInt else 3
    // the Bench session shape (NOT SparkTestBase's local[4]): profiles at
    // sf1 need the bench's parallelism or the job anatomy is distorted
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = org.apache.spark.sql.SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    val sfd = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String)]()
    // jobId -> (shuffle read bytes, shuffle write bytes, input bytes, peak task shuffle-read)
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, Array[Long]]()
    val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
    s.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.put(j.jobId, (j.time, Option(j.properties.getProperty("spark.job.description")).getOrElse("")))
        bytes.putIfAbsent(j.jobId, Array.fill(4)(0L))
        j.stageIds.foreach(sid => stageToJob.put(sid, j.jobId))
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val jid = stageToJob.getOrDefault(t.stageId, -1)
        if (jid >= 0 && t.taskMetrics != null) {
          val arr = bytes.get(jid)
          val sr = t.taskMetrics.shuffleReadMetrics.totalBytesRead
          arr.synchronized {
            arr(0) += sr
            arr(1) += t.taskMetrics.shuffleWriteMetrics.bytesWritten
            arr(2) += t.taskMetrics.inputMetrics.bytesRead
            if (sr > arr(3)) arr(3) = sr
          }
        }
      }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = {
        Option(jobs.get(j.jobId)).foreach { case (t0, d) =>
          done.add((j.jobId, t0, j.time, d))
        }
      }
    })
    for (name <- names; r <- 1 to reps) {
      val fn = SparkEntry.queries(name)
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      done.clear(); bytes.clear(); stageToJob.clear()
      val t0 = System.nanoTime()
      fn(s, sfd).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300)
      val ds = done.toArray(Array.empty[(Int, Long, Long, String)]).sortBy(_._2)
      var prevEnd = 0L
      var jobSum = 0.0
      var srTot = 0L; var swTot = 0L; var inTot = 0L
      println(f"== $name rep $r wall $wall%.3f s, ${ds.length} jobs  [$sfd]")
      ds.foreach { case (id, st, en, desc) =>
        val gap = if (prevEnd == 0) 0.0 else (st - prevEnd) / 1e3
        prevEnd = en
        jobSum += (en - st) / 1e3
        val b = bytes.getOrDefault(id, Array.fill(4)(0L))
        srTot += b(0); swTot += b(1); inTot += b(2)
        println(f"  job $id%3d ${(en - st) / 1e3}%7.3f s  gap ${gap}%6.3f s  " +
          f"in ${b(2) / 1e6}%8.1f MB  sr ${b(0) / 1e6}%8.1f MB  sw ${b(1) / 1e6}%8.1f MB  " +
          f"maxTaskSr ${b(3) / 1e6}%7.1f MB  ${desc.take(70)}")
      }
      println(f"  job sum $jobSum%.3f s (wall - jobs = driver/planning); " +
        f"totals: input ${inTot / 1e6}%.1f MB, shuffle read ${srTot / 1e6}%.1f MB, shuffle write ${swTot / 1e6}%.1f MB")
    }
    s.stop()
  }
}
