package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, IvfPqResidual, PqIndex}

/** Combined IVF + PQ persisted index — the full FAISS-style "IVFPQ"
  * layout (public design: inverted lists from a coarse quantizer,
  * product-quantized codes inside each list):
  *
  * {{{
  *   <dir>/lists/list_id=<i>/   (id, codes) — 8 B codes, not 256 B vectors
  *   <dir>/centroids/           coarse quantizer
  *   <dir>/codebooks/           PQ codebooks
  * }}}
  *
  * A probe therefore (1) prunes to nprobe/nlists of the FILES via
  * partition pruning, (2) scans only the 8-byte codes inside them
  * (≈32× less IO than float vectors), (3) reranks the few surviving
  * candidates exactly against the source table. Each stage cuts the
  * data the next one sees — that multiplicative pruning is what makes
  * 100 TB of vectors scannable.
  */
object IvfPqStore {

  def write(spark: SparkSession, emb: DataFrame, vecCol: String, idCol: String,
            ivf: IvfIndex.Model, pq: PqIndex.Model, dir: String): Unit = {
    import spark.implicits._
    IvfIndex.assign(emb, vecCol, ivf)
      .select(col(idCol).as("id"),
        PqIndex.encodeColumn(col(vecCol), pq).as("codes"),
        col("list_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("list_id")
      .parquet(s"$dir/lists")
    ivf.centroids.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (w, j) => (i, j, w) } }
      .toSeq.toDF("list_id", "dim", "w")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    pq.codebooks.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.flatMap { case (cen, c) =>
        cen.zipWithIndex.map { case (w, i) => (j, c, i, w) } } }
      .toSeq.toDF("subspace", "code", "dim", "w")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/codebooks")
    // rewriting the store must drop memoized models + cached scans
    graft.Tables.invalidate(dir)
  }

  // models are tiny driver-side arrays, but re-reading + collecting
  // two parquet dirs per query is pure fixed overhead — memoize per
  // dir, dropped by Tables.invalidate when the store is rewritten
  private val modelCache =
    new graft.SessionCache[String, (IvfIndex.Model, PqIndex.Model)](64, identity)

  def readModels(spark: SparkSession, dir: String): (IvfIndex.Model, PqIndex.Model) =
    modelCache.getOrElseUpdate(dir)(readModelsUncached(spark, dir))

  private def readModelsUncached(spark: SparkSession, dir: String): (IvfIndex.Model, PqIndex.Model) = {
    val ivf = IvfStore.readCentroids(spark, s"$dir")
    val rows = spark.read.parquet(s"$dir/codebooks")
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3)))
    val m = rows.map(_._1).max + 1
    val k = rows.map(_._2).max + 1
    val dsub = rows.map(_._3).max + 1
    val books = Array.fill(m, k)(new Array[Double](dsub))
    rows.foreach { case (j, c, i, w) => books(j)(c)(i) = w }
    (ivf, PqIndex.Model(books))
  }

  // -------------------------------------------------------------
  // Residual layout (v22 persisted): same directory structure, but
  // the stored codes product-quantize x − c(list(x)) — see
  // [[graft.operators.IvfPqResidual]]. The floored residual anchors
  // derive from the stored centroids (floor), so no extra artifact;
  // raw and residual stores differ only in what the codes MEAN, and
  // the search path that must match it.
  // -------------------------------------------------------------

  def writeResidual(spark: SparkSession, emb: DataFrame, vecCol: String,
                    idCol: String, model: IvfPqResidual.Model, dir: String): Unit = {
    import spark.implicits._
    import org.apache.spark.sql.GraftBridge
    IvfPqResidual.residualFrame(emb, vecCol, idCol, model.ivf, model.rc)
      .select(col("id"),
        GraftBridge.column(graft.operators.PqEncode(
          GraftBridge.expression(col("q")), model.pq.codebooks)).as("codes"),
        col("list_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("list_id")
      .parquet(s"$dir/lists")
    model.ivf.centroids.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (w, j) => (i, j, w) } }
      .toSeq.toDF("list_id", "dim", "w")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/centroids")
    model.pq.codebooks.zipWithIndex
      .flatMap { case (book, j) => book.zipWithIndex.flatMap { case (cen, c) =>
        cen.zipWithIndex.map { case (w, i) => (j, c, i, w) } } }
      .toSeq.toDF("subspace", "code", "dim", "w")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/codebooks")
    graft.Tables.invalidate(dir)
  }

  /** probe of a residual store: identical pruning shape to [[search]],
    * but each probed list's codes score against that list's own
    * residual distance table. Result parity with the in-memory
    * [[IvfPqResidual.searchSummary]] is spec-asserted. */
  def searchResidual(spark: SparkSession, dir: String, source: DataFrame,
                     vecCol: String, idCol: String,
                     query: Array[Float], topK: Int, nprobe: Int,
                     rerank: Int = 4): DataFrame = {
    val (ivf, pq) = readModels(spark, dir)
    val rc = ivf.centroids.map(_.map(x => math.floor(x).toLong))
    val model = IvfPqResidual.Model(ivf, rc, pq)
    val probed = IvfIndex.rankLists(ivf, query, nprobe)
    val tables = IvfPqResidual.residualTables(model, query)
    val candidates = spark.read.parquet(s"$dir/lists")
      .filter(col("list_id").isin(probed: _*)) // partition-pruned
      .select(col("id"),
        IvfPqResidual.adcByListCol(col("codes"), col("list_id"), tables).as("adc"))
      .orderBy(col("adc").asc_nulls_last, col("id").asc)
      .limit(topK * rerank)
    source
      .join(candidates, source(idCol) === candidates("id"), "left_semi")
      .select(col(idCol),
        round(graft.functions.vectors.l2_dist(col(vecCol), typedLit(query)), 6).as("score"))
      .orderBy(col("score").asc_nulls_last, col(idCol).asc)
      .limit(topK)
  }

  /** Metadata-filtered serve for the quantization family — v39's
    * strategy over the residual-PQ probe, completing the filtered
    * matrix across all four stored families (graph, code scan,
    * hierarchy, quantization). Selective predicates take
    * [[FilteredServe]]'s pruned exact ranking (no list is probed);
    * broad ones run the UNFILTERED partition-pruned ADC shortlist
    * (escalating BOTH the probed-list count, capped at the model's
    * nlists, and the shortlist depth on the shared schedule), fetch
    * the shortlist's exact embeddings from `source` (this family's
    * rerank already reads the source — its published contract), score
    * COSINE, and post-filter through the pruned byid read before the
    * shared emission cut. Note the filtered surface ranks by cosine
    * across every family (the shared [[FilteredServe]] contract); the
    * family's own unfiltered entries keep their L2 convention
    * (vector_l2_ops, v22/v24's oracles). */
  def searchFilteredResidual(spark: SparkSession, dir: String, metaDir: String,
                             source: DataFrame, vecCol: String, idCol: String,
                             queryVec: Array[Float], pred: Seq[(String, String)],
                             k: Int = 10, nprobe: Int = 4, rerank: Int = 4,
                             exactScanMax: Long = FilteredServe.ExactScanMax,
                             codeScanMax: Long = FilteredServe.CodeScanMax): DataFrame =
    searchFilteredResidualTerms(spark, dir, metaDir, source, vecCol, idCol,
      queryVec, MetaTerm.ofPairs(pred), k, nprobe, rerank,
      exactScanMax, codeScanMax)

  /** [[searchFilteredResidual]] for typed-term conjunctions — the
    * very-broad ADC shortlist post-filters through the byid point read
    * carrying the full typed comparison */
  def searchFilteredResidualTerms(spark: SparkSession, dir: String, metaDir: String,
                             source: DataFrame, vecCol: String, idCol: String,
                             queryVec: Array[Float], terms: Seq[MetaTerm],
                             k: Int = 10, nprobe: Int = 4, rerank: Int = 4,
                             exactScanMax: Long = FilteredServe.ExactScanMax,
                             codeScanMax: Long = FilteredServe.CodeScanMax): DataFrame =
    FilteredServe.searchFilteredByTerms(spark, metaDir, queryVec, terms, k,
      exactScanMax, codeScanMax) { f =>
      val (ivf, pq) = readModels(spark, dir)
      val rc = ivf.centroids.map(_.map(x => math.floor(x).toLong))
      val model = IvfPqResidual.Model(ivf, rc, pq)
      val probed = IvfIndex.rankLists(ivf, queryVec,
        math.min(ivf.k, nprobe * math.min(f, 4)))
      val tables = IvfPqResidual.residualTables(model, queryVec)
      val ids = spark.read.parquet(s"$dir/lists")
        .filter(col("list_id").isin(probed: _*)) // partition-pruned
        .select(col("id"),
          IvfPqResidual.adcByListCol(col("codes"), col("list_id"), tables).as("adc"))
        .orderBy(col("adc").asc_nulls_last, col("id").asc)
        // candidate floor matches the walk families' maxEntries budget:
        // a filtered shortlist must survive the post-filter with depth
        // to spare, not arrive already cut to k·rerank
        .limit(math.max(64, k * rerank) * f)
        .collect().map(_.getLong(0)).toSeq
      source
        .filter(col(idCol).isin(ids: _*))
        .select(col(idCol).as("vec_id"),
          graft.functions.vectors.cosine_sim(col(vecCol),
            org.apache.spark.sql.functions.typedLit(queryVec)).as("sim"))
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    }

  // one residual store per corpus dir, built lazily for the queries()
  // entry — a real deployment writes it at ingest time
  private val residualStoreCache = new graft.SessionCache[String, String](4, identity, TempStores.delete)
  def residualStoreFor(spark: SparkSession, d: String): String =
    residualStoreCache.getOrElseUpdate(spark, d)(TempStores.create("ivfpqres")(
      writeResidual(spark, graft.Tables.embeddings(spark, d), "embedding",
        "vec_id", IvfPqResidual.fitCached(spark, d), _)))

  /** v29: BATCHED serve over the persisted residual codes — the
    * quantization-family analogue of the batched graph serve (and of
    * [[IvfIndex.similarityJoin]]'s v14 shape): the whole query table
    * (vec_id % queryMod = 0) is answered in ONE set-based plan over
    * the store.
    *
    *  - probe assignment is map-only: each query's `nprobe` nearest
    *    lists from the codegen'd [[graft.functions.NearestCentroids]]
    *    kernel (centroids ride as a model-sized reference object);
    *  - the only corpus-wide move is the (query, list) × codes
    *    equi-join on `list_id` — nprobe/nlists of the pairs a brute
    *    join would shuffle, 8-byte codes instead of vectors;
    *  - ADC scoring is per-row codegen ([[graft.operators.PqAdcResidualQ]]):
    *    the quantized query rides in the row, the model rides as a
    *    broadcast ref — no per-query driver-built distance tables, so
    *    the plan holds at millions of queries;
    *  - per-query `topK·rerank` cut via the bounded top-k aggregate
    *    (map-side partial cap — nothing sorts the probed candidate
    *    mass), then the few
    *    survivors join embeddings for the exact-L2 rerank; the query
    *    side joins via SHUFFLE_HASH, never a driver broadcast of
    *    query embeddings (the v26 contract).
    *
    * Deterministic end to end → fully oracle-checked
    * ([[IvfPqResidual.batchSearchSql]]). */
  def searchResidualBatch(spark: SparkSession, dir: String, d: String,
                          queryMod: Int, topK: Int = 5, nprobe: Int = 4,
                          rerank: Int = 4,
                          kExpr: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.GraftBridge
    val (ivf, pq) = readModels(spark, dir)
    val rc = ivf.centroids.map(_.map(x => math.floor(x).toLong))
    val dim = rc(0).length
    val emb = graft.Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val probes = queries.select(col("query_id"),
      IvfIndex.quantize(col("q_vec")).as("qq"),
      explode(GraftBridge.column(graft.functions.NearestCentroids(
        GraftBridge.expression(IvfIndex.quantize(col("q_vec"))),
        ivf.centroids, nprobe))).as("list_id"))
    val codes = spark.read.parquet(s"$dir/lists")
      .withColumn("list_id", col("list_id").cast("int"))
    // codes are contractually non-null in the store — and a null code
    // row would silently SHRINK the candidate set below the topK·rerank
    // cut (the aggregate drops null scores where the old window ranked
    // them last), so a store regression must surface loudly here, not
    // as quietly-worse recall: the cheap isNull check guards the row,
    // the expensive ADC walk still evaluates once in the else branch.
    val adc = codes.join(probes, Seq("list_id"))
      .select(col("query_id"), col("id"),
        when(col("codes").isNull, raise_error(lit(
          "IvfPqStore: null codes row in list partition — store contract violated")))
          .otherwise(GraftBridge.column(graft.operators.PqAdcResidualQ(
            GraftBridge.expression(col("qq")),
            GraftBridge.expression(col("codes")),
            GraftBridge.expression(col("list_id")), rc, pq.codebooks))).as("adc"))
    // per-query topK·rerank cut as a bounded top-k AGGREGATE, not a
    // window (r10): the window's group-limit still SORTS the full
    // (query × probed-codes) candidate mass map-side — O(|Q|·nprobe·
    // N/nlists) rows, a disk-exhausting spill at the 1000× decade —
    // while the aggregate's partial stage caps per (query, partition)
    // and nothing sorts candidates. Ids are unique per query (a code
    // row lives in exactly one list), so no distinct mode is needed;
    // ordering (adc ASC, id) matches the window's.
    val cand = adc.groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        col("id"), col("adc"), topK * rerank, asc = true).as("__tk"))
      .select(col("query_id"),
        explode(col("__tk").getField("neighbor_id")).as("vec_id"))
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("score").asc_nulls_last, col("neighbor_id"))
    cand
      .join(emb.select(col("vec_id"), col("embedding").as("c_vec")), Seq("vec_id"))
      .join(queries.hint("shuffle_hash"), Seq("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.vectors.l2_dist(col("c_vec"), col("q_vec")), 6).as("score"))
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= topK)
      // per-query k over query_id — topK stays the WindowGroupLimit
      // literal (the batch ceiling), kExpr trims per caller
      // (the CodeStore.searchBatch r16 shape)
      .filter(kExpr.map(col("rk") <= _).getOrElse(lit(true)))
      .select(col("query_id"), col("neighbor_id"), col("rk"), col("score"))
      .orderBy(col("query_id"), col("rk"))
  }

  /** probe: partition-pruned compressed scan + exact rerank against
    * the source embeddings table */
  def search(spark: SparkSession, dir: String, source: DataFrame,
             vecCol: String, idCol: String,
             query: Array[Float], topK: Int, nprobe: Int,
             rerank: Int = 4): DataFrame = {
    val (ivf, pq) = readModels(spark, dir)
    val probed = IvfIndex.rankLists(ivf, query, nprobe)
    val table = PqIndex.distanceTable(pq, query)
    val candidates = spark.read.parquet(s"$dir/lists")
      .filter(col("list_id").isin(probed: _*)) // partition-pruned
      .select(col("id"), PqIndex.adcColumn(col("codes"), table).as("adc"))
      .orderBy(col("adc").asc_nulls_last, col("id").asc)
      .limit(topK * rerank)
    source
      .join(candidates, source(idCol) === candidates("id"), "left_semi")
      .select(col(idCol),
        round(graft.functions.vectors.l2_dist(col(vecCol), typedLit(query)), 6).as("score"))
      .orderBy(col("score").asc_nulls_last, col(idCol).asc)
      .limit(topK)
  }
}
