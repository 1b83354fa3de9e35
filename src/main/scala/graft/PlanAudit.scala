package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.local(GraftSession.cpus, "plan-audit")
    val d = "/root/testdata/sf0.001"
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        val plan = fn(spark, d).queryExecution.executedPlan.toString
        def n(s: String) = plan.sliding(s.length).count(_ == s)
        val flags = Seq(
          "Exchange" -> n("Exchange "), // trailing space: not ReusedExchange
          "ExchangeHash" -> n("Exchange hashpartitioning"),
          "SMJ" -> n("SortMergeJoin"),
          "BHJ" -> n("BroadcastHashJoin"),
          "BNLJ" -> n("BroadcastNestedLoopJoin"),
          "CART" -> n("CartesianProduct"),
          "Sort" -> n("Sort ["))
          .filter(_._2 > 0).map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(s"AUDIT $name: $flags")
      } catch { case e: Throwable => println(s"AUDIT $name: ERROR ${e.getMessage.take(80)}") }
    }
    spark.stop()
  }
}
