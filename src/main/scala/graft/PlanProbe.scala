package graft


/** Dev tool: dump the executed plan of any `SparkEntry.queries` entry.
  *
  *   sbt "runMain graft.PlanProbe q24_range_join t10_bigram_freq"
  *
  * No args → dumps every query. Use it after touching an operator: the
  * plan you want (pushdown reaching the scan, broadcast on the small
  * side, WindowGroupLimit for top-k windows, one shuffle per
  * aggregation) is part of the operator's contract, not an accident.
  */
object PlanProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    for (n <- names) {
      println(s"===== $n =====")
      println(SparkEntry.queries(n)(spark, d).queryExecution.executedPlan.toString.take(4000))
    }
    spark.stop()
  }
}
