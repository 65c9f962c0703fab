package graft.tools

import graft.LocalSpark
import graft.obs.Trace

/** Ad-hoc per-query timer for perf A/B work: runs the named
  * SparkEntry queries (args, or SPARK_GRAFT_QBENCH comma list) at
  * SPARK_GRAFT_SF_DIR, one untimed warmup pass then `passes` timed
  * passes, printing per-query min — the same steady-state
  * methodology as graft.Bench, scoped to a handful of queries so an
  * isolated regression check doesn't need the full 114-query run.
  * Each min is printed with the trace of the pass it came from
  * (graft.obs.Trace: jobs, job time, driver gap, planning, codegen,
  * stage IO, memo hits). */
object QBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val names =
      if (args.nonEmpty) args.toSeq
      else sys.env.getOrElse("SPARK_GRAFT_QBENCH", "")
        .split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val bad = names.filterNot(graft.SparkEntry.queries.contains)
    require(bad.isEmpty, s"unknown queries: ${bad.mkString(",")}")
    val passes = sys.env.getOrElse("SPARK_GRAFT_QBENCH_PASSES", "3").toInt
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val trace = Trace(spark)
    def one(n: String): Trace.Record = trace.span(graft.SparkEntry.queries(n)(spark, sfDir).count())._2
    names.foreach(one) // warmup: codegen, lazy builds, file index
    val timed = names.map(n => n -> (1 to passes).map(_ => one(n)).minBy(_.wallMs))
    timed.foreach { case (n, r) => println(f"$n%-32s ${r.wallMs / 1e3}%.3f s  ${r.json}") }
    spark.stop()
  }
}
