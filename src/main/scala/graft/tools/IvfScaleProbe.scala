package graft.tools

import graft.LocalSpark

/** Scale-decade evidence for the batched IVF-PQ serve (v29) with the
  * index parameter a production deployment would actually turn.
  *
  * The oracle-gated v29 pins `nlists=16` (the DuckDB CTE twin bakes
  * the same model), which is right for correctness at test SFs but
  * makes candidates-per-query = nprobe/nlists · N — LINEAR in corpus
  * size, so the 1000×-decade pass cost grows ~100× per decade
  * (10× queries × 10× candidates each). IVF's published scaling rule
  * is nlists ∝ √N (so probed candidates per query stay ~constant);
  * `nlists` is already a fit parameter, so this probe measures the
  * SAME serve plan ([[graft.sources.IvfPqStore.searchResidualBatch]])
  * over a store built at a √N-scaled list count:
  *
  *   - corpus: SPARK_GRAFT_SCALE_DIR (the ScaleBench replica corpus)
  *   - nlists: SPARK_GRAFT_IVF_NLISTS, defaulting to the
  *     institutional policy width [[graft.operators.IvfIndex.nlistsFor]]
  *     (√N-scaled; 160 at the 1000× / 2M-row corpus — the width this
  *     probe hand-picked before the policy existed, keeping
  *     candidates/query equal to the 100×-decade run it's compared
  *     against)
  *
  * Prints one JSON line with build (model fit + store write) and
  * warm serve timings plus ms/query, matching ScaleBench's shape. */
object IvfScaleProbe {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_1000")
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val rows = graft.Tables.embeddings(spark, dir).count()
    // the institutional policy width for this corpus (√N-scaled,
    // IvfIndex.nlistsFor) — what a deployment would build at; the env
    // override remains for sensitivity sweeps
    val nlists = sys.env.get("SPARK_GRAFT_IVF_NLISTS").map(_.toInt)
      .getOrElse(graft.operators.IvfIndex.nlistsFor(rows))
    System.err.println(s"[ivfprobe] fit nlists=$nlists over $rows rows ...")
    val (model, fitS) =
      time(graft.operators.IvfPqResidual.fitCached(spark, dir, nlists = nlists))
    System.err.println(f"[ivfprobe] fit done $fitS%.1f s; store write ...")
    val store = java.nio.file.Files.createTempDirectory("ivfscale").toString
    val (_, writeS) = time(graft.sources.IvfPqStore.writeResidual(
      spark, graft.Tables.embeddings(spark, dir), "embedding", "vec_id",
      model, store))
    System.err.println(f"[ivfprobe] store done $writeS%.1f s; serve ...")
    def serve(): Long = graft.sources.IvfPqStore.searchResidualBatch(
      spark, store, dir, queryMod = graft.SparkEntry.JoinQueryFilter).count()
    val (_, coldS) = time(serve()) // codegen + file-index warmup
    val (n, warmS) = time(serve())
    val nq = graft.Tables.embeddings(spark, dir)
      .filter(org.apache.spark.sql.functions.col("vec_id")
        % graft.SparkEntry.JoinQueryFilter === 0).count()
    println(s"""{"metric":"ivfpq_scale_probe","rows":$rows,"nlists":$nlists,"queries":$nq,"result_rows":$n,"fit_s":${f"$fitS%.3f"},"store_s":${f"$writeS%.3f"},"cold_s":${f"$coldS%.3f"},"warm_s":${f"$warmS%.3f"},"ms_per_query":${f"${warmS * 1000.0 / math.max(nq, 1)}%.3f"}}""")
    spark.stop()
  }
}
