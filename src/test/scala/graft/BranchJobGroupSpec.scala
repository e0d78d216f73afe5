package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import graft.sources.AnnIndex
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Work that a query or an index runs on concurrent driver threads still
  * belongs to the caller's job group, call after call. A job carrying a
  * stale group escapes the caller's group cancel and is miscounted by
  * everything that attributes jobs by group.
  */
class BranchJobGroupSpec extends GraftSuite {

  /** The job group of every job started while `body` runs under `group`,
    * counted once the listener bus has delivered every event.
    */
  private def groupsOfJobsRunUnder(group: String)(body: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val groups = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse("<none>"))
    }
    org.apache.spark.ListenerBusAccess.drain(sc)
    sc.addSparkListener(listener)
    sc.setJobGroup(group, group)
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    groups.asScala.toSeq
  }

  test("q80's and the ANN index's concurrent jobs carry the job group they ran under") {
    val sc = spark.sparkContext
    val embs = graft.sources.Readers.table(spark, sf, "embeddings")
    val persisted = sc.getPersistentRDDs.keySet
    try {
      for (run <- Seq("a", "b")) {
        val group = s"branch-job-group-$run-${java.util.UUID.randomUUID}"
        val groups = groupsOfJobsRunUnder(group) {
          SparkEntry.queries("q80_curation_pipeline")(spark, sf).queryExecution.toRdd.count()
          val dir = java.nio.file.Files.createTempDirectory("graft-branch-group")
          AnnIndex.write(AnnIndex.build(embs, "vec_id", "embedding", numCells = 4),
            dir.resolve("ann_index").toString, "v0001")
        }
        assert(groups.nonEmpty)
        val stray = groups.filterNot(_ == group)
        assert(stray.isEmpty, s"run $run: ${stray.size} of ${groups.size} jobs carried " +
          s"another group: ${stray.distinct}")
      }
    } finally
      sc.getPersistentRDDs.foreach { case (id, rdd) =>
        if (!persisted(id)) rdd.unpersist(blocking = false) }
  }
}
