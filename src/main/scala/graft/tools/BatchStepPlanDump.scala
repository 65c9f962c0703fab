package graft.tools

import graft.LocalSpark

/** r16 plan evidence for the batch graph/hierarchy serves: their
  * outputs are eager checkpoints (the top-level plan is a scan), so
  * the walk-step / hop scoring plans are captured from the operators'
  * spec hooks after one run.
  *
  *   sbt "runMain graft.tools.BatchStepPlanDump plans/r16 _after"
  */
object BatchStepPlanDump {
  def main(args: Array[String]): Unit = {
    val Array(outDir, suffix) = args
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    def write(name: String, txt: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/$name$suffix.txt"),
        txt.getBytes("UTF-8")): Unit
      println(s"wrote $outDir/$name$suffix.txt (${txt.length} chars)")
    }
    graft.SparkEntry.queries("v33_hnsw_batch")(spark, d).count(): Unit
    write("v33_hnsw_batch_step", graft.operators.Hnsw.lastStepPlan)
    write("v33_hnsw_batch_hop", graft.operators.Hnsw.lastHopPlan)
    spark.stop()
  }
}
