package graft

import java.util.UUID

import org.apache.spark.sql.SparkSession

/** Job counting for the specs that pin how many Spark jobs a face runs. */
object SparkJobs {

  /** Spark jobs `body` launches on this thread. The status store is fed
    * in event order, so once a marker job run afterwards is visible, every
    * job of `body` is too. */
  def jobsOf(spark: SparkSession)(body: => Unit): Int = {
    val sc = spark.sparkContext
    def inGroup(g: String)(f: => Unit): Unit = {
      sc.setJobGroup(g, g)
      try f finally sc.clearJobGroup()
    }
    val group = s"jobs-${UUID.randomUUID}"
    val marker = s"marker-${UUID.randomUUID}"
    inGroup(group)(body)
    inGroup(marker)(sc.parallelize(Seq(1), 1).count(): Unit)
    val deadline = System.nanoTime() + 10000000000L
    while (sc.statusTracker.getJobIdsForGroup(marker).isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(10L)
    assert(sc.statusTracker.getJobIdsForGroup(marker).nonEmpty, "marker job never reported")
    sc.statusTracker.getJobIdsForGroup(group).length
  }
}
