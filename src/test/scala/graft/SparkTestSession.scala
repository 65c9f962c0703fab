package graft

import org.apache.spark.sql.SparkSession

object SparkTestSession {
  lazy val spark: SparkSession = {
    val s = LocalSpark.builder(4).appName("graft-test").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val Sf = "/root/testdata/sf0.001"
}
