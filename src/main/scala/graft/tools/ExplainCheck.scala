package graft.tools

/** Dev tool: prints scan/filter details of key plans (pushdown audit). */
object ExplainCheck {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.Graft.localSession("graft-explain", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val d = "/root/testdata/sf0.001"
    for (q <- Seq("q01_pricing_summary", "q06_revenue_delta", "q03_shipping_priority")) {
      println(s"===== $q =====")
      val df = graft.SparkEntry.queries(q)(spark, d)
      val s = df.queryExecution.executedPlan.toString
      s.split("\n").filter(l => l.contains("FileScan") || l.contains("PushedFilters") || l.contains("ReadSchema"))
        .foreach(l => println(l.trim.take(400)))
    }
    spark.stop()
  }
}
