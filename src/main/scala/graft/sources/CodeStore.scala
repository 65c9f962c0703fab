package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{HammingDistance, HammingIndex, SrpBanded}
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
  * `pb = pmod(vec_id, n)`, with `n` sized from the store's bytes
  * ([[StoreLayout]]; at most [[Partitions]]) and pinned under
  * `<dir>/codes/layout/v<N>/` by the write or fold that chose it. The
  * latest live version of a vec_id wins, and a null-keys tombstone
  * masks a removed id.
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
  *
  * A store whose live versions' footer rows, at [[RowBytes]] each, fit
  * one [[Resident]] share is also held on the driver as an [[Image]] of
  * its resolved rows, built with one collect on a live version stamp's
  * second serve (the first takes the two reads above, so a write
  * before each single read builds nothing). Both stages then run
  * there — the shortlist by the Hamming kernel's twin, the rerank by
  * `cosine_sim_local` — and a warm single-query serve runs no Spark
  * job. A store over its share, or any store at
  * `Resident.BudgetBytes = 0`, keeps the two reads above; the rows are
  * the same either way.
  */
object CodeStore {

  /** pb bucket cap (the count of a store of ≥ 64 × 4 MB) — matches
    * [[EdgeStore.EdgePartitions]] so a fetch of `shortlist` ids prunes
    * to at most that many partitions */
  val Partitions = 64

  /** bytes of one row: vec_id, Bands key longs, Dim embedding floats */
  private[graft] val RowBytes = 8L + 8L * SrpBanded.Bands + 4L * SrpBanded.Dim

  private[graft] def chain(dir: String): Versioned.Chain =
    Versioned.Chain(dir, s"$dir/codes",
      v => Seq(s"$dir/codes/data/__ver=$v", StoreLayout.dir(s"$dir/codes", v)))

  /** write one version's rows (vec_id, keys, embedding) in `buckets`
    * pb buckets */
  private def writeVer(rows: DataFrame, dir: String, v: Int, buckets: Int): Unit =
    rows.withColumn("pb", pmod(col("vec_id"), lit(buckets.toLong)))
      .withColumn("__ver", lit(v))
      .repartition(col("pb"))
      .write.mode(SaveMode.Append)
      .partitionBy("__ver", "pb")
      .parquet(s"$dir/codes/data")

  /** write `rows` (`count` of them) as version v at the count their
    * size gives (a full build or a fold), and pin that count as v's
    * layout */
  private def writeSized(rows: DataFrame, count: Long, dir: String, v: Int): Unit =
    StoreLayout.writeSized(rows.sparkSession, s"$dir/codes", v, count, RowBytes, Partitions)(
      writeVer(rows, dir, v, _))

  /** Full build: code the corpus (one map-only scan), written as
    * version 0 of the chain, sized from the corpus's parquet footers
    * (no second scan); they also count rows with a null or short
    * embedding, which it drops: over-sizing, the safe direction. */
  def write(spark: SparkSession, d: String, dir: String): Unit =
    Versioned.create(spark, chain(dir), s"$dir/codes") {
      writeSized(HammingIndex.coded(spark, d),
        StoreLayout.footerRows(spark, Seq(s"$d/embeddings.parquet")), dir, 0)
    }

  private val frameCache = new graft.SessionCache[String, (DataFrame, Int)](8, identity)

  /** Merge-on-read view ([[Versioned.latest]] per (pb, vec_id), so
    * the rerank point-fetch stays pb-pruned while deltas exist),
    * null-keys tombstones dropped. The resolve reads ONLY (vec_id, pb,
    * __ver) beyond the consumer's projection, so the shortlist scan
    * stays narrow. */
  private[graft] def resolvedFrame(spark: SparkSession, dir: String): DataFrame =
    resolved(spark, dir)._1

  /** [[resolvedFrame]] with the pb count its versions were written at
    * — one memo entry, so a serve never pairs a frame with another
    * version set's count. The full-column handle is what the rerank
    * point-fetch reads: a fresh `spark.read.parquet` per query
    * re-lists the store and re-reads footers (~0.7 s/serve measured
    * at r8); the analyzed handle is lazy and partition pruning still
    * happens per-query at planning time. */
  private def resolved(spark: SparkSession, dir: String): (DataFrame, Int) =
    Versioned.memo(frameCache, spark, dir, chain(dir)) { vers =>
      (Versioned.latest(spark.read.parquet(s"$dir/codes/data")
        .select(col("vec_id"), col("keys"), col("embedding"),
          col("pb").cast("long").as("pb"), col("__ver").cast("int").as("__ver")),
        vers, "pb", "vec_id")
        .filter(col("keys").isNotNull),
        StoreLayout.pinned(spark, s"$dir/codes", vers, Partitions))
    }

  /** the pb count the live store was written at */
  private[graft] def buckets(spark: SparkSession, dir: String): Int = resolved(spark, dir)._2

  /** The code columns only — the embedding column is projected away
    * here so the shortlist scan never reads it (ReadSchema is the
    * spec hook). */
  private def codesOf(full: DataFrame): DataFrame =
    full.select(col("vec_id"), col("keys"), col("pb"))

  /** the pb-pruned (vec_id, embedding) point read of `ids` */
  private def fetchOf(full: DataFrame, buckets: Int, ids: Seq[Long]): DataFrame = {
    val pbs = ids.map(Math.floorMod(_, buckets.toLong)).distinct
    full.filter(bound.isin(col("pb"), pbs) && bound.isin(col("vec_id"), ids))
      .select(col("vec_id"), col("embedding"))
  }

  /** executed plans of the last serve's distributed shortlist and
    * fetch ("" when the image served them) — spec hooks */
  @volatile var lastScanPlanThunk: () => String = () => ""
  def lastScanPlan: String = lastScanPlanThunk()
  @volatile var lastFetchPlanThunk: () => String = () => ""
  def lastFetchPlan: String = lastFetchPlanThunk()
  /** which source the last shortlist came from: "resident" (the
    * driver image) or "pruned" (the distributed code scan) — spec hook */
  @volatile var lastShortlistSource: String = ""

  /** The resolved live rows held on the driver as a [[Resident]] image,
    * in vec_id order, in flat primitive arrays: the ids, `Bands` key
    * longs and `Dim` embedding floats per row ([[RowBytes]] a row), and
    * the rows whose keys the [[HammingDistance]] kernel scores null (a
    * null element, or fewer than `Bands` keys). */
  private[graft] final class Image(ids: Array[Long], keys: Array[Long],
      nullHam: java.util.BitSet, emb: Array[Float]) {
    def rows: Int = ids.length

    /** row `i`'s Hamming distance to the query keys `q`, -1 where the
      * kernel gives null — [[HammingDistance.distanceLocal]], the
      * kernel's twin */
    def ham(i: Int, q: Array[Long]): Int =
      if (nullHam.get(i)) -1 else HammingDistance.distanceLocal(keys, i * SrpBanded.Bands, q)

    /** the first `width` ids by (ham ASC NULLS FIRST, vec_id ASC), the
      * distributed cut's order: the rows are in id order, so sorting
      * (ham + 1) << 32 | row sorts by (ham, id) with a null first */
    def shortlist(q: Array[Long], width: Int): Seq[Long] = {
      val packed = Array.tabulate(ids.length)(i => (ham(i, q) + 1).toLong << 32 | i)
      java.util.Arrays.sort(packed)
      packed.iterator.take(width).map(p => ids(p.toInt)).toSeq
    }

    /** the embedding of a held id */
    def embedding(id: Long): Array[Float] = {
      val i = java.util.Arrays.binarySearch(ids, id)
      java.util.Arrays.copyOfRange(emb, i * SrpBanded.Dim, (i + 1) * SrpBanded.Dim)
    }
  }

  /** The [[Image]] of the live versions' raw rows (vec_id, keys,
    * embedding, __ver), resolved on the driver as [[resolvedFrame]]
    * resolves them: per vec_id the latest version wins, and a null-keys
    * tombstone masks the id. One collect; the kernel itself marks the
    * rows it scores null. */
  private[graft] def imageOf(raw: DataFrame): Image = {
    val nullHam = HammingIndex.hammingCol(Seq.fill(SrpBanded.Bands)(0L)).isNull
    // (vec_id, __ver, tombstone, scored null, the first Bands keys,
    // embedding); the keys of a row the kernel scores null are not read
    val live = raw
      .select(col("vec_id"), col("__ver").cast("int"), col("keys").isNull, nullHam,
        slice(col("keys"), 1, SrpBanded.Bands), col("embedding"))
      .collect().groupBy(_.getLong(0)).valuesIterator.map(_.maxBy(_.getInt(1)))
      .filterNot(_.getBoolean(2)).toArray.sortBy(_.getLong(0))
    val (b, d) = (SrpBanded.Bands, SrpBanded.Dim)
    val ids = new Array[Long](live.length)
    val keys = new Array[Long](live.length * b)
    val nulls = new java.util.BitSet(live.length)
    val emb = new Array[Float](live.length * d)
    live.iterator.zipWithIndex.foreach { case (r, i) =>
      ids(i) = r.getLong(0)
      if (r.getBoolean(3)) nulls.set(i)
      else r.getSeq[Long](4).copyToArray(keys, i * b)
      r.getSeq[Float](5).copyToArray(emb, i * d)
    }
    new Image(ids, keys, nulls, emb)
  }

  /** the store's [[Image]], when its live versions' footer rows (which
    * count superseded rows and tombstones too) at [[RowBytes]] each fit
    * one [[Resident]] share */
  private[graft] def image(spark: SparkSession, dir: String): Option[Image] =
    Resident.image(spark, "codes", chain(dir), onRepeat = true) { (vers, share) =>
      val data = s"$dir/codes/data"
      Option.when(StoreLayout.footerRows(spark, vers.map(v => s"$data/__ver=$v")) * RowBytes <= share)(
        imageOf(spark.read.parquet(data).filter(col("__ver").isin(vers: _*))))
    }

  /** The first `width` ids by (ham ASC NULLS FIRST, vec_id ASC) — the
    * one shortlist of [[search]] and of [[searchFilteredTerms]]'s broad
    * tier: from the image when resident (no Spark job), else the
    * distributed TakeOrdered cut over the 8-byte code column. The same
    * ids either way. */
  private def shortlistIds(spark: SparkSession, dir: String, img: Option[Image],
                           qk: Seq[Long], width: Int): Seq[Long] = img match {
    case Some(im) =>
      lastShortlistSource = "resident"
      lastScanPlanThunk = () => ""
      im.shortlist(qk.toArray, width)
    case None =>
      lastShortlistSource = "pruned"
      val scan = codesOf(resolvedFrame(spark, dir))
        .select(col("vec_id"), HammingIndex.hammingCol(qk).as("ham"))
      lastScanPlanThunk = () => scan.queryExecution.executedPlan.toString
      // bounded driver state: the shortlist ids (≤ width rows) — the
      // same O(k) license every single-query serve here documents
      scan.orderBy(col("ham").asc, col("vec_id").asc)
        .limit(width).collect().map(_.getLong(0)).toSeq
  }

  /** The exact-cosine top `k` of shortlisted `ids`: scored by
    * [[vectors.cosine_sim_local]] over the image's embeddings and cut by
    * [[SrpBanded.topKCut]] when resident, else the pb-pruned embedding
    * fetch and [[HammingIndex.rerank]] — bit-identical rows. */
  private def rerankIds(spark: SparkSession, dir: String, img: Option[Image],
                        ids: Seq[Long], queryVec: Array[Float], k: Int): DataFrame = img match {
    case Some(im) =>
      lastFetchPlanThunk = () => ""
      SrpBanded.topKCut(spark,
        ids.map(id => (id, vectors.cosine_sim_local(im.embedding(id), queryVec))), k)
    case None =>
      val (full, n) = resolved(spark, dir)
      val fetch = fetchOf(full, n, ids)
      lastFetchPlanThunk = () => fetch.queryExecution.executedPlan.toString
      HammingIndex.rerank(fetch, queryVec, k)
  }

  /** v37: v36 served entirely from the store — the Hamming shortlist
    * over the 8-byte codes, the exact rerank of its embeddings, both
    * from the driver image when the store is resident (no Spark job),
    * else a code scan and a pb-pruned point fetch. No corpus dir in the
    * signature. Identical rows to [[HammingIndex.search]] (same keys,
    * same IEEE cosine), so it shares v36's oracle. */
  def search(spark: SparkSession, dir: String, queryVec: Array[Float],
             k: Int = 10, shortlist: Int = HammingIndex.Shortlist): DataFrame = {
    val qk = SrpBanded.queryBandKeys(queryVec).map(_._2)
    val img = image(spark, dir)
    rerankIds(spark, dir, img, shortlistIds(spark, dir, img, qk, shortlist), queryVec, k)
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
      val img = image(spark, dir)
      val hit = FilteredServe.EscalateFactors.iterator.map { e =>
        val f = math.min(e * f0, 64)
        val ids = shortlistIds(spark, dir, img, qk, shortlist * f)
        val ok = FilteredServe.matchingIdsTerms(spark, metaDir, terms, ids)
        (f, ids.length, ids.filter(ok))
      }.find(_._3.size >= k)
      hit match {
        case Some((f, scanned, okIds)) =>
          FilteredServe.lastFilteredPath = s"scan:$f"
          FilteredServe.recordCoverage(s"scan:$f", matching, scanned.toLong)
          rerankIds(spark, dir, img, okIds, queryVec, k)
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
    *    queries — integer XOR/popcount, codegen'd. A store with fewer
    *    pb buckets than cores (a small one, [[StoreLayout]]) is
    *    round-robin spread over every core before the scoring — one
    *    extra shuffle of the 72-byte code rows; a wider store is
    *    scored where it is read, with zero extra IO;
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
    val (full, n) = resolved(spark, dir)
    // the |Q|·N scoring runs in the code side's tasks, about one per
    // file: a store sized to fewer buckets than cores (StoreLayout) is
    // spread over every core first; a wider one is scored in place
    val par = spark.sparkContext.defaultParallelism
    val codes = if (n < par) codesOf(full).repartition(par) else codesOf(full)
    val cFlat = codes
      .select(col("vec_id") +:
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
      .join(full.select(col("vec_id"), col("embedding")),
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
    // a delta keeps its live base's count
    val n = buckets(spark, dir)
    val delta = valid.unionByName(tomb)
      .withColumn("pb", pmod(col("vec_id"), lit(n.toLong)))
      .localCheckpoint(true)
    try {
      Versioned.append(spark, chain(dir), compact(spark, dir))(writeVer(delta, dir, _, n))
      delta.select(col("pb")).distinct().collect().map(_.getLong(0)).sorted.toSeq
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(delta)
  }

  /** [[Versioned.fold]] the chain back into ONE full copy, at the
    * count its live versions' rows give */
  def compact(spark: SparkSession, dir: String): Unit =
    Versioned.fold(spark, chain(dir))(writeSized(resolvedFrame(spark, dir).drop("pb"),
      StoreLayout.liveRows(spark, chain(dir), s"$dir/codes/data"), dir, _))

  // one code store per corpus dir, built lazily for the queries()
  // entry — a real deployment writes it at ingest time
  private val storeCache = new graft.SessionCache[String, String](4, identity, TempStores.delete)
  def storeFor(spark: SparkSession, d: String): String =
    storeCache.getOrElseUpdate(spark, d)(TempStores.create("codestore")(write(spark, d, _)))
}
