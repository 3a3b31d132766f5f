package graft

import java.util.UUID
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Prints every physical plan a query executes: the jobs an operator runs
  * while it is called (a fuzzy request's hits and records steps, an ANN
  * request's shortlist) as well as the collect of the frame it returns.
  * `runMain graft.PlanAudit [query ...]` over sf0.01. */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.mainSession()
    val dir = "/root/testdata/sf0.01"
    val targets = if (args.nonEmpty) args.toSeq else Seq(
      "fuzzy_search", "geo_radius_search", "ann_ivf_topk", "ev_asof_orders", "q3_revenue_topk")
    targets.foreach { name =>
      val plans = executed(spark)(SparkEntry.queries(name)(spark, dir).collect())._2
      plans.zipWithIndex.foreach { case (qe, i) =>
        println(s"===== $name: plan ${i + 1} of ${plans.size} =====")
        println(qe.explainString(FormattedMode))
      }
    }
    spark.stop()
  }

  /** `body`'s value and the query executions `spark` completed while it
    * ran, in completion order. Executions are reported through the
    * listener bus after they end; a marker query run after `body` is
    * reported after all of them, so its arrival closes the capture. Every
    * thread's queries on `spark` are captured. */
  def executed[T](spark: SparkSession)(body: => T): (T, Seq[QueryExecution]) = {
    val seen = new ConcurrentLinkedQueue[QueryExecution]
    val listener = new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = seen.add(qe)
    }
    val marker = s"marker_${UUID.randomUUID.toString.replace("-", "")}"
    def isMarker(qe: QueryExecution) = qe.analyzed.output.map(_.name) == Seq(marker)
    spark.listenerManager.register(listener)
    try {
      val out = body
      spark.range(1).toDF(marker).collect()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.asScala.exists(isMarker) && System.nanoTime() < deadline) Thread.sleep(10L)
      require(seen.asScala.exists(isMarker), "marker query never reported")
      (out, seen.asScala.filterNot(isMarker).toSeq)
    } finally spark.listenerManager.unregister(listener)
  }
}
