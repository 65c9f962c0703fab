package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{HammingIndex, SrpBanded}
import graft.functions.{bound, vectors}

/** Persisted binary-code store — the on-disk artifact for the
  * compact-code scan family ([[graft.operators.HammingIndex]], v36):
  * a FRESH session answers queries from this store with zero coding
  * work and ZERO corpus access at query time (the v28/v32 contract,
  * extended to the code-scan family).
  *
  * Layout — a merge-on-read [[Versioned]] chain rooted at `codes/`
  * (markers and crash contract there):
  * {{{
  *   <dir>/codes/data/__ver=N/pb=<p>/   (vec_id, keys, embedding)
  * }}}
  * `pb = pmod(vec_id, Partitions)`. The latest live version of a
  * vec_id wins, and a null-keys tombstone masks a removed id.
  * [[upsert]] APPENDS an O(update) delta (codes are a pure map of the
  * pinned hyperplanes over the updated embeddings — no neighborhood
  * to rebuild, the simplest upsert in the store family) and never
  * rewrites committed data. [[compact]] folds the chain back to one
  * full copy after [[Versioned.CompactAfter]] commits.
  *
  * One artifact serves BOTH stages of the serve path, each reading
  * only what it needs:
  *
  *  - the SHORTLIST stage selects (vec_id, keys) — parquet's column
  *    projection never reads the embedding column, so the linear
  *    scan is the 8-byte-per-row scan the family exists for;
  *  - the RERANK stage point-fetches (vec_id, embedding) for the
  *    ≤ shortlist winners with a pb-pruned read (PartitionFilters
  *    decided in the file index before any IO) — the embeddings
  *    live in the SAME rows, so no stage joins the corpus table.
  */
object CodeStore {

  /** pb buckets — matches [[EdgeStore.EdgePartitions]] so a fetch of
    * `shortlist` ids prunes to at most that many partitions */
  val Partitions = 64

  private[graft] def chain(dir: String): Versioned.Chain =
    Versioned.Chain(dir, s"$dir/codes", v => Seq(s"$dir/codes/data/__ver=$v"))

  /** write one version's rows (vec_id, keys, embedding, pb) */
  private def writeVer(rows: DataFrame, dir: String, v: Int): Unit =
    rows.withColumn("__ver", lit(v))
      .repartition(col("pb"))
      .write.mode(SaveMode.Append)
      .partitionBy("__ver", "pb")
      .parquet(s"$dir/codes/data")

  /** Full build: code the corpus (one map-only scan), written as
    * version 0 of the chain. */
  def write(spark: SparkSession, d: String, dir: String): Unit =
    Versioned.create(spark, chain(dir), s"$dir/codes") {
      writeVer(HammingIndex.coded(spark, d)
        .withColumn("pb", pmod(col("vec_id"), lit(Partitions.toLong))), dir, 0)
    }

  private val frameCache = new graft.SessionCache[String, DataFrame](8, identity)

  /** Merge-on-read view ([[Versioned.latest]] per (pb, vec_id), so
    * the rerank point-fetch stays pb-pruned while deltas exist),
    * null-keys tombstones dropped. The resolve reads ONLY (vec_id, pb,
    * __ver) beyond the consumer's projection, so the shortlist scan
    * stays narrow. */
  private[graft] def resolvedFrame(spark: SparkSession, dir: String): DataFrame =
    frameCache.getOrElseUpdate(spark, dir) {
      val vers = Versioned.live(spark, chain(dir))
      require(vers.nonEmpty, s"no committed code versions under $dir/codes")
      Versioned.latest(spark.read.parquet(s"$dir/codes/data")
        .select(col("vec_id"), col("keys"), col("embedding"),
          col("pb").cast("long").as("pb"), col("__ver").cast("int").as("__ver")),
        vers, "pb", "vec_id")
        .filter(col("keys").isNotNull)
    }

  /** The code columns only — the embedding column is projected away
    * here so the shortlist scan never reads it (ReadSchema is the
    * spec hook). */
  private def codesFrame(spark: SparkSession, dir: String): DataFrame =
    resolvedFrame(spark, dir).select(col("vec_id"), col("keys"), col("pb"))

  /** Full-column handle for the rerank point-fetch — memoized via
    * [[resolvedFrame]]: a fresh `spark.read.parquet` per query
    * re-lists the store and re-reads footers (~0.7 s/serve measured
    * at r8); the analyzed handle is lazy and partition pruning still
    * happens per-query at planning time. */
  private def fullFrame(spark: SparkSession, dir: String): DataFrame =
    resolvedFrame(spark, dir)

  /** executed plans of the last serve — spec hooks */
  @volatile var lastScanPlanThunk: () => String = () => ""
  def lastScanPlan: String = lastScanPlanThunk()
  @volatile var lastFetchPlanThunk: () => String = () => ""
  def lastFetchPlan: String = lastFetchPlanThunk()

  /** v37: v36 served entirely from the store — code scan over the
    * 8-byte rows, pb-pruned embedding point-fetch for the shortlist,
    * exact rerank. No corpus dir in the signature. Identical rows to
    * [[HammingIndex.search]] (same keys, same IEEE cosine), so it
    * shares v36's oracle. */
  def search(spark: SparkSession, dir: String, queryVec: Array[Float],
             k: Int = 10, shortlist: Int = HammingIndex.Shortlist): DataFrame = {
    val qk = SrpBanded.queryBandKeys(queryVec).map(_._2)
    val scan = codesFrame(spark, dir)
      .select(col("vec_id"), HammingIndex.hammingCol(qk).as("ham"))
    lastScanPlanThunk = () => scan.queryExecution.executedPlan.toString
    // bounded driver state: the shortlist ids (≤ shortlist rows) —
    // the same O(k) license every single-query serve here documents
    val ids = scan.orderBy(col("ham").asc, col("vec_id").asc)
      .limit(shortlist).collect().map(_.getLong(0)).toSeq
    val pbs = ids.map(Math.floorMod(_, Partitions.toLong)).distinct
    val fetch = fullFrame(spark, dir)
      .filter(bound.isin(col("pb"), pbs) && bound.isin(col("vec_id"), ids))
      .select(col("vec_id"), col("embedding"))
    lastFetchPlanThunk = () => fetch.queryExecution.executedPlan.toString
    HammingIndex.rerank(fetch, queryVec, k)
  }

  /** Metadata-filtered serve for the code-scan family — v39's
    * cardinality-planned strategy applied to the Hamming shortlist
    * (the reference's filtered find_similar over this family's
    * 8-byte-per-row scan). Shares [[FilteredServe]]'s meta artifacts
    * (`metaDir` is any dir [[FilteredServe.writeMeta]] populated —
    * the SRP store dir in the default wiring):
    *
    *  - selective predicate → [[FilteredServe.exactFiltered]]'s
    *    partition-pruned exact ranking (recall 1.0, the code scan is
    *    not even opened);
    *  - broad predicate → the UNFILTERED Hamming shortlist (the scan
    *    reads every row's 8 bytes regardless — filtering cannot make
    *    it cheaper, only the shortlist membership matters), then the
    *    shortlist ids post-filter through the pruned byid point read;
    *    too few matches ESCALATE the shortlist width on
    *    [[FilteredServe.EscalateFactors]] before the exact fallback.
    *    The exact-cosine rerank runs over the MATCHING shortlist ids
    *    only (pb-pruned in-row embedding fetch, never the corpus). */
  def searchFiltered(spark: SparkSession, dir: String, metaDir: String,
                     queryVec: Array[Float], pred: Seq[(String, String)],
                     k: Int = 10, shortlist: Int = HammingIndex.Shortlist,
                     exactScanMax: Long = FilteredServe.ExactScanMax,
                     codeScanMax: Long = FilteredServe.CodeScanMax): DataFrame =
    searchFilteredTerms(spark, dir, metaDir, queryVec,
      MetaTerm.ofPairs(pred), k, shortlist, exactScanMax, codeScanMax)

  /** [[searchFiltered]] for typed-term conjunctions (the reference's
    * `num_claims >= N AND country = 'EN'` class): the tier decision
    * rides [[FilteredServe.plannerCount]]'s histogram estimate when
    * range-class comparisons participate, and the very-broad scan's
    * post-filter evaluates the full comparison conjunction through
    * the pruned byid point read. */
  def searchFilteredTerms(spark: SparkSession, dir: String, metaDir: String,
                     queryVec: Array[Float], terms: Seq[MetaTerm],
                     k: Int = 10, shortlist: Int = HammingIndex.Shortlist,
                     exactScanMax: Long = FilteredServe.ExactScanMax,
                     codeScanMax: Long = FilteredServe.CodeScanMax): DataFrame = {
    val matching = FilteredServe.plannerCount(spark, metaDir, terms)
    if (matching <= exactScanMax) {
      FilteredServe.lastFilteredPath = "exact"
      FilteredServe.recordCoverage("exact", matching, matching)
      FilteredServe.exactFilteredTerms(spark, metaDir, queryVec, terms, k)
    } else if (matching <= codeScanMax) {
      // mid-selectivity: the shared per-value code tier — a
      // partition-pruned scan of only the MATCHING rows' codes beats
      // this store's full-corpus scan + post-filter at any sub-unit
      // selectivity (fewer code bytes, zero post-filter loss)
      FilteredServe.codeFilteredTerms(spark, metaDir, queryVec, terms, k, matching)
    } else {
      val f0 = FilteredServe.walkStartFactor(matching,
        FilteredServe.totalCount(spark, metaDir))
      val qk = SrpBanded.queryBandKeys(queryVec).map(_._2)
      val scan = codesFrame(spark, dir)
        .select(col("vec_id"), HammingIndex.hammingCol(qk).as("ham"))
      val hit = FilteredServe.EscalateFactors.iterator.map { e =>
        val f = math.min(e * f0, 64)
        val ids = scan.orderBy(col("ham").asc, col("vec_id").asc)
          .limit(shortlist * f).collect().map(_.getLong(0)).toSeq
        val ok = FilteredServe.matchingIdsTerms(spark, metaDir, terms, ids)
        (f, ids.length, ids.filter(ok))
      }.find(_._3.size >= k)
      hit match {
        case Some((f, scanned, okIds)) =>
          FilteredServe.lastFilteredPath = s"scan:$f"
          FilteredServe.recordCoverage(s"scan:$f", matching, scanned.toLong)
          val pbs = okIds.map(Math.floorMod(_, Partitions.toLong)).distinct
          val fetch = fullFrame(spark, dir)
            .filter(bound.isin(col("pb"), pbs) && bound.isin(col("vec_id"), okIds))
            .select(col("vec_id"), col("embedding"))
          HammingIndex.rerank(fetch, queryVec, k)
        case None =>
          FilteredServe.lastFilteredPath = "fallback"
          FilteredServe.recordCoverage("fallback", matching, matching)
          FilteredServe.exactFilteredTerms(spark, metaDir, queryVec, terms, k)
      }
    }
  }

  /** v38: BATCHED compact-code serve — the whole query table answered
    * by ONE 8-byte-per-row code scan (the batch-matrix member of this
    * family, closing the 4-family × batch grid: graph v26/v27,
    * quantization v29, hierarchy v33/v34, codes here).
    *
    *  - the query CODES (8 longs each — a code-sized broadcast, the
    *    v29 model-broadcast license, NOT the query-embedding
    *    broadcast the v26 contract forbids) ride to every scan
    *    partition; each partition scores its code rows against all
    *    queries — integer XOR/popcount, codegen'd, zero extra IO;
    *  - the per-query shortlist is a rank window, which Spark 4
    *    splits into partial (map-side, inside the scan stage) +
    *    final WindowGroupLimit — the shuffle carries at most
    *    partitions·|Q|·shortlist rows of 20 bytes, never the full
    *    |Q|·N cross product;
    *  - the rerank reads embeddings from the STORE's own rows
    *    (pb-pruned in the single-query path; the batch's shortlist
    *    union is corpus-wide, so here it is the plain store read) and
    *    joins the query embeddings via SHUFFLE_HASH on query_id.
    *
    * Deterministic end to end (integer hamming, (ham, vec_id) then
    * (sim DESC, vec_id) total orders) → oracle-checked via
    * [[HammingIndex.searchBatchSql]]. */
  def searchBatch(spark: SparkSession, dir: String, d: String,
                  queryMod: Int, k: Int = 5,
                  shortlist: Int = HammingIndex.Shortlist,
                  kExpr: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = graft.Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val qCodes = queries.select(col("query_id"),
      SrpBanded.bandKeysCol(col("q_vec")).as("q_keys"))
    // band keys flattened to Bands primitive LONG columns on BOTH
    // sides BEFORE the cross product: element_at on ArrayData inside
    // the |Q|·N pair stream was the dominant per-pair cost (generic
    // array access + null branch, 16× per pair); flat columns are
    // fixed-offset row reads and the hamming sum stays whole-stage-
    // codegen'd integer ops. element_at now runs N + |Q| times
    // instead of 2·Bands·|Q|·N. Same integers, same rows.
    val qFlat = qCodes.select(col("query_id") +:
      (0 until SrpBanded.Bands).map(b =>
        element_at(col("q_keys"), b + 1).as(s"q$b")): _*)
    val cFlat = codesFrame(spark, dir).select(col("vec_id") +:
      (0 until SrpBanded.Bands).map(b =>
        element_at(col("keys"), b + 1).as(s"c$b")): _*)
    val ham = (0 until SrpBanded.Bands).map { b =>
      bit_count(col(s"c$b").bitwiseXOR(col(s"q$b")))
    }.reduce(_ + _).cast("int")
    val pairs = cFlat.crossJoin(broadcast(qFlat))
      .select(col("query_id"), col("vec_id"), ham.as("ham"))
    // shortlist cut as a bounded top-k AGGREGATE (r10, the IvfPqStore
    // batch-cut rationale): the window's group-limit sorts the full
    // |Q|·N hamming-pair stream; the aggregate's partial stage caps
    // per (query, partition) map-side and nothing sorts pairs. Ids
    // are unique per query (one code row per vec_id), ordering
    // (ham ASC, vec_id) is the window's, and integer hamming casts
    // exactly to the buffer's double score.
    val short = pairs.groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        col("vec_id"), col("ham"), shortlist, asc = true).as("__tk"))
      .select(col("query_id"),
        explode(col("__tk").getField("neighbor_id")).as("vec_id"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    short
      .join(fullFrame(spark, dir).select(col("vec_id"), col("embedding")),
        Seq("vec_id"))
      .join(queries.hint("shuffle_hash"), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosine_sim(col("embedding"), col("q_vec")).as("sim"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      // PER-QUERY k (r16): `kExpr` is each caller's own limit as an
      // expression over query_id (tools.yaml:19-21's per-call `limit`
      // on the set-based serve). The LITERAL cut at `k` stays first so
      // Catalyst still rewrites the rank filter to WindowGroupLimit
      // (k is the batch ceiling); the per-query bound then trims the
      // ≤ |Q|·k survivors map-side — same two-stage shape as the
      // filtered batch's kCol (FilteredServe.rerankTopK).
      .filter(kExpr.map(col("rk") <= _).getOrElse(lit(true)))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), round(col("sim"), 6).as("sim"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** Incremental maintenance — codes are a PURE MAP of the pinned
    * hyperplanes over the updated embeddings (no neighborhood, no
    * retraining), so the delta is exactly the updated rows: recoded
    * valid rows plus null-keys tombstones for ids whose embedding
    * went null/invalid. Appended as one [[Versioned.append]] O(update)
    * version — committed data is never rewritten. Returns the delta's
    * pb partitions for minimality assertions. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame): Seq[Long] = {
    val upd = updates.select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
    val valid = upd
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), SrpBanded.bandKeysCol(col("embedding")).as("keys"),
        col("embedding"))
    val tomb = upd.join(valid.select(col("vec_id")), Seq("vec_id"), "left_anti")
      .select(col("vec_id"),
        lit(null).cast("array<long>").as("keys"),
        lit(null).cast("array<float>").as("embedding"))
    val delta = valid.unionByName(tomb)
      .withColumn("pb", pmod(col("vec_id"), lit(Partitions.toLong)))
      .localCheckpoint(true)
    try {
      Versioned.append(spark, chain(dir), compact(spark, dir))(writeVer(delta, dir, _))
      delta.select(col("pb")).distinct().collect().map(_.getLong(0)).sorted.toSeq
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(delta)
  }

  /** [[Versioned.fold]] the chain back into ONE full copy */
  def compact(spark: SparkSession, dir: String): Unit =
    Versioned.fold(spark, chain(dir))(writeVer(resolvedFrame(spark, dir), dir, _))

  // one code store per corpus dir, built lazily for the queries()
  // entry — a real deployment writes it at ingest time
  private val storeCache = new graft.SessionCache[String, String](4, identity, TempStores.delete)
  def storeFor(spark: SparkSession, d: String): String =
    storeCache.getOrElseUpdate(spark, d) {
      val dir = TempStores.track(
        java.nio.file.Files.createTempDirectory("codestore").toString)
      write(spark, d, dir)
      dir
    }
}
