package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = SparkEntry.mainSession()
    val dir = "/root/testdata/sf0.01"
    val targets = if (args.nonEmpty) args.toSeq else Seq(
      "fuzzy_search", "geo_radius_search", "ann_ivf_topk", "ev_asof_orders", "q3_revenue_topk")
    targets.foreach { name =>
      println(s"===== $name =====")
      println(SparkEntry.queries(name)(spark, dir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
