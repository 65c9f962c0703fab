package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.sources.FilteredServe

/** Filtered recall on the HARD planted-neighbor corpus (r13, closing
  * the r12 caveat that the filtered decade table was replica-corpus
  * only): [[HardCorpus]]'s Gaussian background + exact-cosine-tier
  * planted neighbors, now WITH metadata, so filtered recall is
  * attributed on a corpus where the true neighbors are genuinely hard
  * to find AND the filter genuinely excludes top-ranked rows.
  *
  * Metadata plant (pred = lang 'l1', ≈20% of the background):
  *  - background rows: hash-assigned lang l0..l4 × source s0..s19
  *    (the FilteredScaleProbe construction);
  *  - planted neighbors: per query, plants p ∈ {0,2} forced MATCHING
  *    (lang l1) and p ∈ {1,3} forced NON-matching (lang l0) — so at
  *    every tier the two best matching rows must be found, and the
  *    two equally-similar non-matching rows must be EXCLUDED (at
  *    tier 0.95 they out-rank every matching background row — the
  *    exclusion is adversarial, not incidental);
  *  - query rows: a never-matching lang, so the query's own corpus
  *    copy doesn't pad recall.
  *
  * Measured per tier, against the brute-force FILTERED top-k:
  *  - recall@5 of the filtered serve (the planner's code tier at this
  *    selectivity, forced past the exact tier like any corpus too big
  *    to scan exactly);
  *  - plant recall (fraction of the 2 matching plants found);
  *  - leaked non-matching rows (must be 0 — the code tier draws
  *    candidates from matching partitions only, asserted end-to-end).
  *
  * env: SPARK_GRAFT_HARD_N (background rows, default 200000),
  * SPARK_GRAFT_HARD_DIR (default /tmp/graft_hard_filtered_<N>),
  * SPARK_GRAFT_CPUS. Prints one JSON line.
  */
object FilteredHardRecallProbe {
  private val Tiers = HardCorpus.Tiers
  private val QueriesPerTier = 25
  private val K = 5
  private val Mod = HardCorpus.Mod
  private val Pred = Seq("lang" -> "l1")

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nBg = sys.env.getOrElse("SPARK_GRAFT_HARD_N", "200000").toLong
    val dir = sys.env.getOrElse("SPARK_GRAFT_HARD_DIR", s"/tmp/graft_hard_filtered_$nBg")
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val nQ = Tiers.size * QueriesPerTier
    HardCorpus.writeEmbeddings(spark, dir, nBg, nQ, QueriesPerTier)

    // metadata over the embedding ids — deterministic, recomputable
    val docPath = s"$dir/documents.parquet"
    if (!new java.io.File(s"$docPath/_SUCCESS").exists()) {
      // planted ids sit past the background id range; p parity from
      // the inverse of HardCorpus.nonQueryId
      val maxBgId = HardCorpus.nonQueryId(nBg - 1)
      val xOf = (col("vec_id") / Mod).cast("long") * (Mod - 1) +
        pmod(col("vec_id"), lit(Mod.toLong)) - 1
      spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id").as("doc_id"),
          when(pmod(col("vec_id"), lit(Mod.toLong)) === 0, lit("lq"))
            .when(col("vec_id") > maxBgId,
              when(pmod(xOf - nBg, lit(2L)) === 0, lit("l1")).otherwise(lit("l0")))
            .otherwise(concat(lit("l"), pmod(xxhash64(col("vec_id"), lit(1)), lit(5))))
            .as("lang"),
          concat(lit("s"), pmod(xxhash64(col("vec_id"), lit(2)), lit(20))).as("source"))
        .repartition(32)
        .write.mode("overwrite").parquet(docPath)
    }

    val srpDir = s"$dir/srpstore"
    val (_, metaS) = time(FilteredServe.ensureMeta(spark, dir, srpDir))
    val matching = FilteredServe.matchCount(spark, srpDir, Pred)

    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val rows = emb.count()
    val docs = spark.read.parquet(docPath)
    val matchIds = docs.filter(col("lang") === "l1").select(col("doc_id").as("vec_id"))

    import spark.implicits._
    val queries = HardCorpus.queryVecs(nQ)
    val queryDf = spark.createDataFrame(queries)
      .toDF("query_id", "q_vec")
      .select(col("query_id"), col("q_vec").cast("array<float>").as("q_vec"))

    // brute-force FILTERED truth: exact top-K over matching rows only
    val truth = emb.join(matchIds, Seq("vec_id"), "left_semi")
      .crossJoin(broadcast(queryDf))
      .select(col("query_id"), col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), col("q_vec")).as("sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(col("vec_id"), col("sim"), K).as("__tk"))
      .select(col("query_id"),
        explode(col("__tk").getField("neighbor_id")).as("neighbor_id"))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap

    // matching plants per query (p ∈ {0,2}) — the planted-tier truths
    val matchingPlants: Map[Long, Set[Long]] = (0 until nQ).map { qi =>
      (queries(qi)._1,
        Set(0, 2).map(p => HardCorpus.nonQueryId(nBg + qi.toLong * HardCorpus.PlantedPerQuery + p)))
    }.toMap
    val matchSet = matchIds.collect().map(_.getLong(0)).toSet

    // the filtered serve, forced past the exact tier (a 100 TB corpus
    // can't exact-scan 20% of itself) → the code tier at this
    // selectivity; edge dir intentionally nonexistent — the tier must
    // never open a graph
    var leaked = 0L
    val perTierRecall = Array.fill(Tiers.size)(0.0)
    val perTierPlant = Array.fill(Tiers.size)(0.0)
    val (_, serveS) = time {
      (0 until nQ).foreach { qi =>
        val (qid, qv) = queries(qi)
        val got = FilteredServe.searchFiltered(spark, dir, srpDir,
          "/nonexistent/edge-store", qv, Pred, k = K, exactScanMax = 0L)
          .collect().map(_.getLong(0)).toSet
        leaked += got.count(id => !matchSet(id))
        val tier = qi / QueriesPerTier
        perTierRecall(tier) += got.intersect(truth(qid)).size.toDouble / K
        perTierPlant(tier) += got.intersect(matchingPlants(qid)).size.toDouble /
          matchingPlants(qid).size
      }
    }
    val singlePath = FilteredServe.lastFilteredPath

    // BATCH serves over the same hard corpus (late r15): the whole
    // query table in one set-based plan — once at the policy W (the
    // TopKPairs fast path at this matching count) and once forced
    // just past the fast-path bound (wOverride = MaxShortlist + 1),
    // so the per-query HISTOGRAM-THRESHOLD stage itself carries the
    // planted-tier contract: zero predicate leaks (candidates come
    // from matching partitions by construction on both stages) and
    // the matching plants found. The forced-W run is a machinery
    // check, not a W-comparison — its W differs from the policy's.
    val terms = Seq(graft.sources.MetaTerm.Eq("lang", "l1"))
    def batchRun(wOv: Option[Int]) = {
      val (got, s) = time {
        FilteredServe.searchFilteredBatchFrom(spark, srpDir, queryDf, terms,
          K, wOverride = wOv).collect()
      }
      val byQ = got.groupBy(_.getLong(0)).view
        .mapValues(_.map(_.getLong(1)).toSet).toMap
      val rec = Array.fill(Tiers.size)(0.0)
      val plant = Array.fill(Tiers.size)(0.0)
      var leak = 0L
      (0 until nQ).foreach { qi =>
        val qid = queries(qi)._1
        val g = byQ.getOrElse(qid, Set.empty[Long])
        leak += g.count(id => !matchSet(id))
        val tier = qi / QueriesPerTier
        rec(tier) += g.intersect(truth(qid)).size.toDouble / K
        plant(tier) += g.intersect(matchingPlants(qid)).size.toDouble /
          matchingPlants(qid).size
      }
      (rec, plant, leak, s, FilteredServe.lastFilteredPath)
    }
    val (bRec, bPlant, bLeak, bS, bPath) = batchRun(None)
    val (hRec, hPlant, hLeak, hS, hPath) =
      batchRun(Some(FilteredServe.MaxShortlist + 1))

    def js(a: Array[Double]): String =
      Tiers.indices.map(i =>
        f""""${Tiers(i)}%.2f":${a(i) / QueriesPerTier}%.4f""").mkString("{", ",", "}")
    println(s"""{"metric":"hard_recall_filtered_at_$K","rows":$rows,"matching":$matching,""" +
      s""""queries":$nQ,"tiers_q":$QueriesPerTier,"pred":"lang=l1",""" +
      s""""path":"$singlePath",""" +
      s""""recall":${js(perTierRecall)},"plant_recall":${js(perTierPlant)},""" +
      s""""leaked_nonmatching":$leaked,"serve_s":${f"$serveS%.1f"},""" +
      s""""ms_per_q":${f"${serveS / nQ * 1000}%.1f"},"meta_build_s":${f"$metaS%.1f"},""" +
      s""""batch_path":"$bPath","batch_recall":${js(bRec)},""" +
      s""""batch_plant_recall":${js(bPlant)},"batch_leaked":$bLeak,""" +
      s""""batch_ms_per_q":${f"${bS / nQ * 1000}%.1f"},""" +
      s""""hist_path":"$hPath","hist_recall":${js(hRec)},""" +
      s""""hist_plant_recall":${js(hPlant)},"hist_leaked":$hLeak,""" +
      s""""hist_ms_per_q":${f"${hS / nQ * 1000}%.1f"}}""")
    spark.stop()
  }
}
