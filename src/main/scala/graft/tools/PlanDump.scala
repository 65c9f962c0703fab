package graft.tools

import graft.LocalSpark

/** Write `.explain("formatted")` output for named queries to files —
  * the r16 optimization round's plan-evidence artifacts.
  *
  *   sbt "runMain graft.tools.PlanDump plans/r16 _after q33_global_decile ..."
  *
  * Writes <outDir>/<query><suffix>.txt for each query.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanDump <outDir> <suffix> <query>...")
    val (outDir, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { n =>
      val df = graft.SparkEntry.queries(n)(spark, d)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$n$suffix.txt"),
        txt.getBytes("UTF-8")): Unit
      println(s"wrote $outDir/$n$suffix.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
