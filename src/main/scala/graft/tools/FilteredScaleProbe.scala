package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.SrpBanded
import graft.sources.{EdgeStore, FilteredServe, SrpStore, Versioned}

/** Decade evidence for the v39/v40 filtered serve — all three planner
  * tiers measured against corpus size.
  *
  *  - '''exact tier''' (selective predicate): the claim is the scan
  *    reads ONLY the matching byval partitions — partitions-read is
  *    asserted from the executed plan, and per-query time should track
  *    the MATCHING row count (1% of the corpus here), never the corpus.
  *  - '''code tier''' (broad predicate, the r13 default for
  *    mid-selectivity): the claim is recall holds across decades at
  *    (or above) the unfiltered walk's, because the Hamming shortlist
  *    is keyed to the matching count and every candidate matches by
  *    construction — the r12 weakness (walk recall 0.52 vs unfiltered
  *    0.675 at 1000×) this tier exists to close.
  *  - '''walk tier''' (forced): the selectivity-keyed walk + bounded
  *    byid post-filter — the very-broad-predicate plan, measured for
  *    cost flatness and for how much the selectivity keying recovers
  *    over r12's fixed ×1 start.
  *
  * Corpus: sf0.1 embeddings replicated by the ScaleBench sign-flip
  * construction; metadata assigned deterministically by id into
  * 5 langs × 20 sources (each (lang, source) ≈ 1% of the corpus; one
  * lang ≈ 20%). Usage:
  *   SPARK_GRAFT_SCALE=10|100 runMain graft.tools.FilteredScaleProbe
  */
object FilteredScaleProbe {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  /** per-run stage-metric aggregation — the attribution the 10000×
    * batch-variance question needs (executor time vs IO vs spill in
    * the JSON, not guessed after the fact) */
  private final class StageAgg extends org.apache.spark.scheduler.SparkListener {
    val runTimeMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val inputB = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufReadB = new java.util.concurrent.atomic.AtomicLong(0L)
    val shufWriteB = new java.util.concurrent.atomic.AtomicLong(0L)
    val spillB = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        runTimeMs.addAndGet(m.executorRunTime): Unit
        inputB.addAndGet(m.inputMetrics.bytesRead): Unit
        shufReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead): Unit
        shufWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
        spillB.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled): Unit
      }
    }
  }

  /** run `f` under a fresh [[StageAgg]], draining the async listener
    * bus before reading the aggregates */
  private def withStageMetrics[A](spark: SparkSession)(f: => A)
      : (A, Double, StageAgg) = {
    val agg = new StageAgg
    spark.sparkContext.addSparkListener(agg)
    val (a, s) = time(f)
    org.apache.spark.sql.GraftBridge.drainListenerBus(spark)
    spark.sparkContext.removeSparkListener(agg)
    (a, s, agg)
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    // code-only mode (SPARK_GRAFT_FILTERED_CODE_ONLY=1): build ONLY the
    // meta artifacts and measure the exact/code/batch tiers — the walk
    // and unfiltered comparators need the SRP+edge stores, whose build
    // cost caps the measurable decade; the code tier alone reaches a
    // 4th decade (20M rows) on the same box
    val codeOnly = sys.env.get("SPARK_GRAFT_FILTERED_CODE_ONLY").contains("1")
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", s"/tmp/graft_filtered_scale_$copies")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def complete(p: String): Boolean = new java.io.File(s"$p/_SUCCESS").exists()
    val embPath = s"$dir/embeddings.parquet"
    val docPath = s"$dir/documents.parquet"
    if (!complete(embPath))
      graft.ScaleCorpus.replicateEmbeddings(spark, src, copies, embPath,
        withLabel = false)
    if (!complete(docPath)) {
      // deterministic metadata: 5 langs × 20 sources by id hash —
      // each (lang, source) ≈ 1% of the corpus, each lang ≈ 20%
      spark.read.parquet(embPath).select(
          col("vec_id").as("doc_id"),
          concat(lit("l"), pmod(xxhash64(col("vec_id"), lit(1)), lit(5))).as("lang"),
          concat(lit("s"), pmod(xxhash64(col("vec_id"), lit(2)), lit(20))).as("source"))
        .repartition(32)
        .write.mode("overwrite").parquet(docPath)
    }
    val n = spark.read.parquet(embPath).count()

    // stores at the policy key width (the corpus-scaled keyspace)
    val rpb = SrpBanded.rowsPerBandFor(n)
    val srpDir = s"$dir/srpstore"
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // reuse gate keyed to the CURRENT layout: a pre-r14 store (v1,
    // embeddings in every band's rows) in a reused scale dir must
    // rebuild, not serve — the v2 write overwrites it in place
    def v2Store(p: String): Boolean = {
      val kd = new java.io.File(s"$p/_keyspace")
      kd.exists() && Option(kd.listFiles()).exists(_.exists(_.getName.startsWith("eg=")))
    }
    if (!codeOnly && !v2Store(srpDir)) {
      val (_, s) = time(SrpStore.write(spark, dir, srpDir, rpb))
      builds += "srp_store" -> s
    }
    val edgeDir = s"$dir/edgestore"
    if (!codeOnly && Versioned.live(spark, EdgeStore.chain(edgeDir)).isEmpty) {
      val (_, s) = time(EdgeStore.write(spark,
        SrpBanded.materializedGraph(spark, dir, 5), edgeDir))
      builds += "edge_store" -> s
    }
    // rebuild when missing OR when a pre-r13 meta (no keys column)
    // survives in the reused scale dir — same guard ensureMeta applies
    if (!new java.io.File(s"$srpDir/meta/stats/_SUCCESS").exists() ||
        !spark.read.parquet(s"$srpDir/meta/byval").columns.contains("keys")) {
      val (_, s) = time(FilteredServe.writeMeta(spark, dir, srpDir))
      builds += "meta" -> s
    }

    // queries: corpus rows (deterministic ids), perturbation-free —
    // the serve cost is what's under test, not recall (RecallProbe's
    // job)
    val nQ = 20
    val qIds = (0 until nQ).map(i => (n / nQ) * i)
    val qVecs = spark.read.parquet(embPath)
      .filter(col("vec_id").isin(qIds: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getSeq[Float](1).toArray)
    // every derived id must exist, or the ms/query division silently
    // deflates (ids here are contiguous 0-based by construction)
    require(qVecs.length == nQ,
      s"only ${qVecs.length} of $nQ query ids found in the corpus")

    val selPred = Seq("lang" -> "l2", "source" -> "s7")   // ~1%
    val broadPred = Seq("lang" -> "l1")                   // ~20%
    val selMatching = FilteredServe.matchCount(spark, srpDir, selPred)

    def runPath(pred: Seq[(String, String)], exactMax: Long,
                codeMax: Long): (Double, String) = {
      // warm once, then time
      FilteredServe.searchFiltered(spark, dir, srpDir, edgeDir, qVecs.head,
        pred, k = 10, probeRadius = 2, exactScanMax = exactMax,
        codeScanMax = codeMax).count()
      val (_, s) = time(qVecs.foreach { v =>
        FilteredServe.searchFiltered(spark, dir, srpDir, edgeDir, v,
          pred, k = 10, probeRadius = 2, exactScanMax = exactMax,
          codeScanMax = codeMax).count()
      })
      (s / qVecs.length * 1000.0, FilteredServe.lastFilteredPath)
    }
    val (exactMsQ, exactPath) = runPath(selPred,
      FilteredServe.ExactScanMax, FilteredServe.CodeScanMax)
    // partitions read by the selective scan (of the total value count)
    val pruned = FilteredServe.byValPruned(spark, srpDir, selPred)
    val scan = pruned.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }.get
    val partsRead = scan.selectedPartitions.partitionCount
    // the r13 default for the broad predicate: the per-value code tier
    val (codeMsQ, codePath) = runPath(broadPred, 0L, FilteredServe.CodeScanMax)
    // the very-broad tier, forced: selectivity-keyed walk + post-filter
    val (walkMsQ, walkPath) =
      if (codeOnly) (-1.0, "skipped") else runPath(broadPred, 0L, 0L)

    // recall@10 vs the exact filtered ranking (the byval pruned scan IS
    // the ground truth — same rows the exact branch would serve),
    // measured at corpus scale rather than argued from the sf0.001 spec
    val exactBase = FilteredServe.byValPruned(spark, srpDir, broadPred)
    def filteredTruth(v: Array[Float]): Set[Long] = exactBase
      .select(col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), typedLit(v)).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
      .collect().map(_.getLong(0)).toSet
    def recallOf(codeMax: Long): Double = {
      val rs = qVecs.map { v =>
        val got = FilteredServe.searchFiltered(spark, dir, srpDir, edgeDir, v,
          broadPred, k = 10, probeRadius = 2, exactScanMax = 0L,
          codeScanMax = codeMax).collect().map(_.getLong(0)).toSet
        val truth = filteredTruth(v)
        got.count(truth).toDouble / truth.size
      }
      rs.sum / rs.length
    }
    val codeRecall = recallOf(FilteredServe.CodeScanMax) // code tier
    // W-sweep attribution (the r13 100×-dip question): the same code
    // tier at 2× and 4× the policy width — if recall climbs, the dip
    // is the W/matching ratio; if it doesn't, it's corpus structure
    val broadMatching = FilteredServe.matchCount(spark, srpDir, broadPred)
    def codeRecallAtW(w: Int): Double = {
      val rs = qVecs.map { v =>
        val got = FilteredServe.codeFilteredTerms(spark, srpDir, v,
            graft.sources.MetaTerm.ofPairs(broadPred), k = 10,
            matching = broadMatching, wOverride = Some(w))
          .collect().map(_.getLong(0)).toSet
        val truth = filteredTruth(v)
        got.count(truth).toDouble / truth.size
      }
      rs.sum / rs.length
    }
    val wPolicy = FilteredServe.shortlistWidth(broadMatching)
    val codeRecallW2 = codeRecallAtW(wPolicy * 2)
    val codeRecallW4 = codeRecallAtW(wPolicy * 4)
    val walkRecall = if (codeOnly) -1.0 else recallOf(0L) // forced walk tier
    // the attribution baseline: the UNFILTERED walk's recall@10 vs the
    // unfiltered exact top-10 at the identical budget — the bar the
    // code tier must meet ("filtered within noise of unfiltered"); on
    // this unstructured replica corpus the unfiltered fixed-budget walk
    // itself decays with N (the r11 HardRecallProbe analysis), which is
    // exactly why the code tier's matching-keyed shortlist wins
    val emb = spark.read.parquet(embPath)
    val meanUnfiltered =
      if (codeOnly) -1.0
      else {
        val rs = qVecs.map { v =>
          val walk = SrpStore.graphSearchCold(spark, srpDir, edgeDir, v, k = 10)
            .collect().map(_.getLong(0)).toSet
          val truth = emb
            .select(col("vec_id"),
              graft.functions.vectors.cosine_sim(col("embedding"), typedLit(v)).as("sim"))
            .orderBy(col("sim").desc, col("vec_id")).limit(10)
            .collect().map(_.getLong(0)).toSet
          walk.count(truth).toDouble / truth.size
        }
        rs.sum / rs.length
      }

    // the BATCHED filtered serve (v41) at the decade: ~500 queries in
    // one set-based plan; recall against the exact filtered per-query
    // top-10, both sides computed batched (one TopKPairs job each)
    val batchMod = math.max(40L, n / 500L)
    val (batchGot, batchS, batchM) = withStageMetrics(spark) {
      FilteredServe.searchFilteredBatch(spark, dir, srpDir,
        batchMod.toInt, broadPred, k = 10).collect()
    }
    // a SECOND timed run of the identical plan: within-process rerun
    // variance, separating box noise from plan cost (the r14 10000×
    // row spread 115–501 ms/q across three runs — attribution needs
    // both the per-stage IO and a same-process repeat)
    val (_, batchS2, batchM2) = withStageMetrics(spark) {
      FilteredServe.searchFilteredBatch(spark, dir, srpDir,
        batchMod.toInt, broadPred, k = 10).collect()
    }
    val nBatchQ = batchGot.map(_.getLong(0)).distinct.length
    val batchTruth = exactBase
      .crossJoin(broadcast(
        spark.read.parquet(embPath)
          .filter(col("vec_id") % batchMod === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))))
      .select(col("query_id"), col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), col("q_vec")).as("sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(col("vec_id"), col("sim"), 10).as("__tk"))
      .select(col("query_id"), explode(col("__tk").getField("neighbor_id")).as("nid"))
      .collect().groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val batchRecall = batchGot.groupBy(_.getLong(0)).map { case (qid, rs) =>
      rs.map(_.getLong(1)).count(batchTruth(qid)).toDouble / batchTruth(qid).size
    }.sum / nBatchQ

    // fixed-cap A/B at the decade where the matching-keyed batch
    // policy exceeds the old cap (r15b): the same batch replayed at
    // wOverride = MaxShortlist IS the r14/r15a fixed-cap serve — the
    // recall delta is the floor the per-query histogram path removes,
    // and the ms/q delta is its two-scan price
    val batchW = FilteredServe.shortlistWidthBatch(broadMatching)
    val (cappedMsQ, cappedRecall) =
      if (batchW <= FilteredServe.MaxShortlist) (-1.0, -1.0)
      else {
        val qdf = spark.read.parquet(embPath)
          .filter(col("vec_id") % batchMod === 0)
          .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
        val (got, s) = time {
          FilteredServe.searchFilteredBatchFrom(spark, srpDir, qdf,
            graft.sources.MetaTerm.ofPairs(broadPred), k = 10,
            wOverride = Some(FilteredServe.MaxShortlist)).collect()
        }
        val rec = got.groupBy(_.getLong(0)).map { case (qid, rs) =>
          rs.map(_.getLong(1)).count(batchTruth(qid)).toDouble / batchTruth(qid).size
        }.sum / nBatchQ
        (s / nBatchQ * 1000, rec)
      }

    // the HETEROGENEOUS-predicate batch (r14): the same ~500-query
    // slice, each query carrying its own doc's lang as its predicate
    // (5 groups ≈ 20% matching each) — grouped-by-predicate union of
    // per-group pruned batch plans; ms/q is the amortized-cost claim
    val mixedQueries = spark.read.parquet(embPath)
      .filter(col("vec_id") % batchMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .join(spark.read.parquet(docPath)
        .select(col("doc_id").as("query_id"), col("lang")), Seq("query_id"))
    val (mixedGot, mixedS) = time {
      FilteredServe.searchFilteredBatchMixed(spark, srpDir, mixedQueries,
        Seq("lang"), k = 10).collect()
    }
    val nMixedQ = math.max(1, mixedGot.map(_.getLong(0)).distinct.length)
    val mixedPath = FilteredServe.lastMixedBatchPath

    // the RANGE mixed batch (r15): every query carries its own
    // comparison threshold — grouped per (value combo) into typed
    // MetaTerm.Cmp batch plans (searchFilteredBatchMixedOps). The
    // threshold here rides a partition-class column (the probe store
    // declares no range column), which exercises the same grouping +
    // per-group Cmp planning the range-class shape uses; ~15 groups
    // (5 langs × 3 thresholds) stays under MaxMixedGroups.
    val rangeQueries = spark.read.parquet(embPath)
      .filter(col("vec_id") % batchMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .join(spark.read.parquet(docPath)
        .select(col("doc_id").as("query_id"), col("lang"),
          concat(lit("s1"), pmod(col("doc_id"), lit(3))).as("source")),
        Seq("query_id"))
    val (rangeGot, rangeS) = time {
      FilteredServe.searchFilteredBatchMixedOps(spark, srpDir, rangeQueries,
        Seq("lang" -> "=", "source" -> ">="), k = 10).collect()
    }
    val nRangeQ = math.max(1, rangeGot.map(_.getLong(0)).distinct.length)
    val rangePath = FilteredServe.lastMixedBatchPath

    println(s"""{"metric":"filtered_scale","copies":$copies,"rows":$n,"rpb":$rpb,""" +
      s""""sel_matching":$selMatching,"sel_ms_per_q":${f"$exactMsQ%.1f"},"sel_path":"$exactPath",""" +
      s""""byval_partitions_read":$partsRead,"byval_partitions_total":100,""" +
      s""""code_ms_per_q":${f"$codeMsQ%.1f"},"code_path":"$codePath",""" +
      s""""code_recall_at_10":${f"$codeRecall%.3f"},""" +
      s""""code_w_policy":$wPolicy,"code_recall_w2":${f"$codeRecallW2%.3f"},""" +
      s""""code_recall_w4":${f"$codeRecallW4%.3f"},""" +
      s""""walk_ms_per_q":${f"$walkMsQ%.1f"},"walk_path":"$walkPath",""" +
      s""""walk_recall_at_10":${f"$walkRecall%.3f"},"unfiltered_recall_at_10":${f"$meanUnfiltered%.3f"},""" +
      s""""batch_queries":$nBatchQ,"batch_ms_per_q":${f"${batchS / nBatchQ * 1000}%.1f"},""" +
      s""""batch_ms_per_q_rerun":${f"${batchS2 / nBatchQ * 1000}%.1f"},""" +
      s""""batch_recall_at_10":${f"$batchRecall%.3f"},"batch_w_policy":$batchW,""" +
      s""""batch_capped_ms_per_q":${f"$cappedMsQ%.1f"},""" +
      s""""batch_capped_recall_at_10":${f"$cappedRecall%.3f"},""" +
      s""""batch_stage_metrics":{"exec_run_s":${f"${batchM.runTimeMs.get / 1000.0}%.1f"},""" +
      s""""input_mb":${batchM.inputB.get / 1048576L},"shuffle_read_mb":${batchM.shufReadB.get / 1048576L},""" +
      s""""shuffle_write_mb":${batchM.shufWriteB.get / 1048576L},"spill_mb":${batchM.spillB.get / 1048576L}},""" +
      s""""batch_stage_metrics_rerun":{"exec_run_s":${f"${batchM2.runTimeMs.get / 1000.0}%.1f"},""" +
      s""""input_mb":${batchM2.inputB.get / 1048576L},"shuffle_read_mb":${batchM2.shufReadB.get / 1048576L},""" +
      s""""shuffle_write_mb":${batchM2.shufWriteB.get / 1048576L},"spill_mb":${batchM2.spillB.get / 1048576L}},""" +
      s""""mixed_batch_queries":$nMixedQ,"mixed_batch_path":"$mixedPath",""" +
      s""""mixed_batch_ms_per_q":${f"${mixedS / nMixedQ * 1000}%.1f"},""" +
      s""""range_batch_queries":$nRangeQ,"range_batch_path":"$rangePath",""" +
      s""""range_batch_ms_per_q":${f"${rangeS / nRangeQ * 1000}%.1f"},""" +
      s""""builds":{${builds.map { case (k, v) => s""""$k":${f"$v%.1f"}""" }.mkString(",")}}}""")
    spark.stop()
  }
}
