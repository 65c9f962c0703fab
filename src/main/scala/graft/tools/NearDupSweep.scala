package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.sources.SigStore

/** Batch-size sweep of the incremental near-dup serve
  * ([[SigStore.incrementalNearDup]]): the measurement behind its
  * local/joined crossover. The store is d13's (the `doc_id % 3 != 0`
  * slice of the testdata dir given as the argument); each batch is
  * the first n docs of the `% 3 == 0` slice as a local relation (the
  * gateway's and a stream micro-batch's shape), plus d13's own
  * parquet-backed batch. Every
  * shape is served on the default plan and with `probeCollectMax = 0`
  * (the joined plan), one untimed warmup then
  * SPARK_GRAFT_SWEEP_PASSES timed serves, each timed from the call to
  * the end of `collect()`. Prints one line per (batch, plan): median
  * wall ms, median process CPU ms (driver and executor threads: one
  * JVM), the output row count and the probe/text shape the serve took.
  *
  * {{{
  *   SPARK_GRAFT_CPUS=4 SPARK_DRIVER_MEM=2g sbt -batch "runMain graft.tools.NearDupSweep <dir>/sf0.1"
  * }}}
  */
object NearDupSweep {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.error("usage: NearDupSweep <testdata dir, e.g. sf0.1>"))
    val sizes = sys.env.getOrElse("SPARK_GRAFT_SWEEP_SIZES", "1,16,64,256,512,1024")
      .split(",").map(_.trim.toInt).toSeq
    val passes = sys.env.getOrElse("SPARK_GRAFT_SWEEP_PASSES", "5").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = LocalSpark.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val store = SigStore.storeFor(spark, sfDir)
    val slice = graft.Tables.documents(spark, sfDir)
      .filter(col("doc_id") % SigStore.BatchMod === 0)
      .select(col("doc_id"), col("text"))
    val sliceRows = slice.orderBy(col("doc_id")).collect()
    val schema = slice.schema
    val shapes = sizes.filter(_ <= sliceRows.length).map { n =>
      s"local_$n" -> (() => spark.createDataFrame(
        java.util.Arrays.asList(sliceRows.take(n): _*), schema))
    } :+ (s"d13_${sliceRows.length}" -> (() => slice))

    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    for ((name, batch) <- shapes; (plan, pcm) <- Seq("default" -> SigStore.ProbeCollectMax,
                                                     "joined" -> 0L)) {
      def one(): (Double, Double, Int) = {
        val c0 = os.getProcessCpuTime
        val t0 = System.nanoTime()
        val rows: Array[Row] = SigStore.incrementalNearDup(spark, store, batch(), pcm).collect()
        ((System.nanoTime() - t0) / 1e6, (os.getProcessCpuTime - c0) / 1e6, rows.length)
      }
      one()
      val runs = (1 to passes).map(_ => one())
      println(f"$name%-12s $plan%-8s wall_ms ${median(runs.map(_._1))}%9.1f " +
        f"cpu_ms ${median(runs.map(_._2))}%9.1f rows ${runs.head._3}%5d " +
        s"shape ${SigStore.lastProbeSource}/${SigStore.lastTextSource}")
    }
    spark.stop()
  }
}
