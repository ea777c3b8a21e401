package graft.testutil

/** Local helper main: print executedPlan operator counts for queries, the
  * same strings PlansSpec pins count — used when authoring new pins. */
object PlanCount {
  def main(args: Array[String]): Unit = {
    val sf = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.GraftSession.create(4, "graft-plan-count")
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- args.drop(1)) {
      val p = graft.SparkEntry.queries(n)(spark, sf)
        .queryExecution.executedPlan.toString()
      def c(s: String) = s.r.findAllIn(p).length
      println(s"PLANCOUNT $n BNLJ=${c("BroadcastNestedLoopJoin")} " +
        s"BHJ=${c("BroadcastHashJoin")} SMJ=${c("SortMergeJoin")} " +
        s"Cart=${c("CartesianProduct")} Window=${c("Window")} " +
        s"ExHash=${c("Exchange hashpartitioning")} " +
        s"ExSingle=${c("Exchange SinglePartition")} " +
        s"TakeOrdered=${c("TakeOrderedAndProject")}")
    }
    spark.stop()
  }
}
