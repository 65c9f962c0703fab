package graft.tools

import graft.LocalSpark

/** Dev tool: dump formatted plans for the headline queries so shuffle
  * count / broadcast usage / pushdown can be audited (SURVEY.md §4).
  * Usage: runMain graft.tools.ExplainAudit <sfDir> [name ...]
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("v1_knn_cosine", "v4_similarity_join", "q1_pricing_summary",
        "q3_cust_order_revenue", "q5_region_nation_rollup", "d2_minhash_lsh",
        "v8_semantic_search")
    val spark = LocalSpark.builder(8).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      graft.SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
