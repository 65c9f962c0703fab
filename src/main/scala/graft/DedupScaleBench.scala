package graft

import org.apache.spark.sql.functions._

/** Scale-step benchmark for the DEDUP/TEXT family — the second half
  * of the 100 TB posture (ScaleBench covers the ANN serves). Times
  * the d/t `queries()` entries on a corpus `SPARK_GRAFT_SCALE` times
  * the sf0.1 documents table and reports per-1k-docs amortized cost:
  * the claim under test is that every pipeline is LINEAR in the
  * corpus (bucketed candidate generation, never all-pairs), so the
  * per-doc cost must hold flat-to-falling across decades — a
  * quadratic term would show up as ~copies× per-doc growth.
  *
  * Corpus construction: copy i shifts doc_id by i·(maxId+1) and
  * prefixes EVERY whitespace token with "c<i>_" — token sets of
  * different copies are DISJOINT, so cross-copy Jaccard/MinHash/
  * SimHash similarity is ~0 and the within-copy duplicate structure
  * replicates exactly. Result: dup density (dups per 1k docs) is
  * scale-invariant while the corpus grows — the right construction
  * for measuring throughput scaling, since a near-dup replica corpus
  * (ScaleBench's, correct for ANN recall) would instead grow the
  * TRUE output quadratically and measure answer size, not engine
  * cost. Deterministic: pure function of (copy, text) — no RNG. */
object DedupScaleBench {

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SRC_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", s"/tmp/graft_dedup_scale_$copies")
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // reuse gates check the write's completion marker (_SUCCESS), not
    // bare directory existence — a run that crashed mid-write leaves a
    // partial parquet dir that a bare-existence gate would silently
    // measure decades against (the SigStore commit-marker discipline)
    def complete(p: String): Boolean = new java.io.File(s"$p/_SUCCESS").exists()
    val docPath = s"$dir/documents.parquet"
    if (!complete(docPath)) {
      val base = Tables.documents(spark, src)
        .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
      val maxId = base.agg(max(col("doc_id"))).first().getLong(0) + 1
      // one crossJoin plan, not a `copies`-way union (ScaleBench's
      // r10 rationale: analysis cost of the union form grows with the
      // copy count; this stays a 2-leaf plan at the 1000x decade).
      // Token prefix `c<i>_` is the same string for the same copy.
      val copiesDf = base.crossJoin(
          spark.range(copies).select(col("id").as("__copy")))
        .select(
          (col("doc_id") + col("__copy") * lit(maxId)).as("doc_id"),
          array_join(transform(split(col("text"), " "),
            t => concat(lit("c"), col("__copy").cast("string"), lit("_"), t)), " ").as("text"),
          col("lang"), col("source"), col("n_chars"))
      copiesDf.repartition(math.max(32, copies / 4))
        .write.mode("overwrite").parquet(docPath)
    }
    val rows = spark.read.parquet(docPath).count()

    // Order matters for cost attribution: d4 materializes the shared
    // pair graph, so d6/d8/d12/p1 measure their OWN marginal work on
    // top of it — the one-materialization pipeline contract, not a
    // benchmark artifact.
    val allNames = Seq("d1_exact_dedup", "d2_minhash_lsh", "d3_simhash",
      "d4_ngram_jaccard", "d6_dup_components", "d7_contamination",
      "d8_canonical_docs", "d10_chunk_dedup", "d12_dup_weight",
      "p1_curation_pipeline", "p2_curation_summary",
      "t3_token_count", "t7_tfidf_top_terms",
      "d5_embedding_neardup", "d11_semdedup", "d11_semdedup_scaled",
      "d13_incremental_neardup", "d13_incremental_neardup_joined", "d13_one_doc",
      "m8_frame_dedup")
    val names = sys.env.get("SPARK_GRAFT_SCALE_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(allNames)
    val unknown = names.filterNot(allNames.contains)
    require(unknown.isEmpty,
      s"SPARK_GRAFT_SCALE_QUERIES names not in DedupScaleBench set: ${unknown.mkString(",")}" +
        s" (valid: ${allNames.mkString(",")})")

    // Embedding-family decades (d5/d11) read an embeddings table the
    // documents copies can't provide; synthesize it with the
    // SIGN-FLIP construction: copy i multiplies component j by
    // s(i,j) = ±1 from an integer hash — within-copy inner products
    // (and so the dup structure) replicate EXACTLY, cross-copy
    // cosines are ~N(0, 1/Dim) noise. Labels are made copy-DISJOINT
    // (label + copy·1000): d5's blocking key partitions the corpus
    // into bounded groups at any scale, which is its production
    // posture — per-group quadratic cost, group size scale-invariant.
    val embPath = s"$dir/embeddings.parquet"
    val needEmb = names.exists(n =>
      n.startsWith("d5_") || n.startsWith("d11_"))
    if (needEmb && !complete(embPath))
      ScaleCorpus.replicateEmbeddings(spark, src, copies, embPath, withLabel = true)
    val nEmb = if (needEmb) spark.read.parquet(embPath).count() else 0L

    // d13 serves a batch against a PREBUILT store — the store build
    // is the one-time O(corpus) cost (timed separately below), the
    // serve is the recurring O(batch) one the decade table measures
    val sigDir = s"$dir/sigstore"
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    if (names.exists(_.startsWith("d13_"))) {
      val corpus = spark.read.parquet(docPath)
        .filter(col("doc_id") % graft.sources.SigStore.BatchMod =!= 0)
        .select(col("doc_id"), col("text"))
      if (graft.sources.Versioned.live(spark, graft.sources.SigStore.chain(sigDir)).isEmpty) {
        val (_, s) = time(graft.sources.SigStore.write(spark, corpus, sigDir))
        builds += "sig_store" -> s
      }
    }
    def d13Batch() = spark.read.parquet(docPath)
      .filter(col("doc_id") % graft.sources.SigStore.BatchMod === 0)
      .select(col("doc_id"), col("text"))

    // SemDeDup's production posture holds CLUSTER SIZE ~constant
    // (k ∝ N/target) so the within-cluster quadratic stays bounded
    // per doc; the pinned k=16 gate posture is also measured so the
    // divergence between the two is visible in the same table
    val scaledK = math.max(16, (nEmb / 4096L).toInt)

    val special: Map[String, () => org.apache.spark.sql.DataFrame] = Map(
      "d11_semdedup_scaled" -> (() =>
        graft.operators.Dedup.semDedup(spark, dir, k = scaledK)),
      "d13_incremental_neardup" -> (() =>
        graft.sources.SigStore.incrementalNearDup(spark, sigDir, d13Batch())),
      // the SATURATED-batch shapes forced (probeCollectMax = 0): the
      // bucket probe and the verify-text fetch both take their joined
      // fallback — the decade row that measures the no-O(corpus)
      // claim of the crossover's far side instead of arguing it
      "d13_incremental_neardup_joined" -> (() =>
        graft.sources.SigStore.incrementalNearDup(spark, sigDir, d13Batch(),
          probeCollectMax = 0L)),
      // a gateway's one-document check: the batch's first doc, served
      // on the driver from the store's images where they fit
      "d13_one_doc" -> (() =>
        graft.sources.SigStore.incrementalNearDup(spark, sigDir,
          d13Batch().orderBy(col("doc_id")).limit(1))))
    // which probe/text shape the last d13 serve actually took — the
    // joined-path decade row must SAY it ran joined
    val shapeOf = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def pass(): Seq[(String, Double, Long)] = names.map { n =>
      val ok = try {
        // construction is timed too: d13's driver-local plan does all
        // its work inside the call, the shuffle plan inside count()
        val t = time(special.get(n).map(_())
          .getOrElse(SparkEntry.queries(n)(spark, dir)).count())
        if (n.startsWith("d13_")) shapeOf(n) =
          s"${graft.sources.SigStore.lastProbeSource}/${graft.sources.SigStore.lastTextSource}"
        Some(t)
      } catch { case _: Throwable => None }
      (n, ok.map(_._2).getOrElse(-1.0), ok.map(_._1).getOrElse(-1L))
    }
    pass() // warmup: codegen, session caches (d6 caches its component map)
    graft.Tables.invalidate(dir) // drop caches so the timed pass is honest
    val warm = pass()

    val qj = warm.map { case (k, v, _) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
    val oj = warm.map { case (k, _, c) => s""""$k":$c""" }.mkString(",")
    // embedding-family entries amortize over the embeddings rows,
    // document entries over the documents rows (d13 over its batch
    // slice — the serve's own unit; the one-document check over its
    // one doc)
    def unitRows(k: String): Double =
      if (k == "d13_one_doc") 1 / 1000.0
      else if (k.startsWith("d5_") || k.startsWith("d11_")) nEmb / 1000.0
      else if (k.startsWith("d13_")) rows / 3.0 / 1000.0
      else rows / 1000.0
    val aj = warm.collect { case (k, v, _) if v >= 0 =>
      s""""$k":${f"${v * 1000.0 / unitRows(k)}%.3f"}""" }.mkString(",")
    val bj = builds.map { case (k, v) => s""""$k":${f"$v%.3f"}""" }.mkString(",")
    val sj = shapeOf.map { case (k, v) => s""""$k":"$v"""" }.mkString(",")
    val total = warm.map(_._2).filter(_ >= 0).sum
    println(s"""{"metric":"dedup_scale_total","value":${f"$total%.3f"},"unit":"sec","sf_copies":$copies,"rows":$rows,"emb_rows":$nEmb,"scaled_k":$scaledK,"queries":{$qj},"out_rows":{$oj},"ms_per_1k_docs":{$aj},"builds":{$bj},"d13_shapes":{$sj}}""")
    spark.stop()
  }
}
