package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{vectors, FakeEmbedder}

/** The reference's pgvector query surface, Spark-first.
  *
  * - `knn*`: tools.yaml:22-27 `find_similar_customer_records` —
  *   ORDER BY distance LIMIT k. Spark plans `orderBy(...).limit(k)`
  *   as TakeOrderedAndProject: each partition keeps its local top-k,
  *   the driver merges — no global sort, no shuffle of the corpus.
  *   That shape survives a 1000-executor / 100 TB scan.
  * - `similarityJoin`: the batch version — a whole table of query
  *   vectors at once. Queries are broadcast (small side), the corpus
  *   is scanned once; per-query top-k via window over (query id).
  * - `recordById`: tools.yaml:29-39 `get_record_by_id` — a predicate
  *   that pushes down to the parquet scan.
  * - `semanticSearch`: the end-to-end tool — embed query text with
  *   the (stubbed) embedder, score, top-k, join doc metadata.
  */
object SimilaritySearch {

  /** the single metric dispatch — every search path shares it, so an
    * unknown metric always raises the same diagnostic error */
  def pairScore(metric: String, a: Column, b: Column): Column = metric match {
    case "cosine" => vectors.cosine_sim(a, b)
    case "l2"     => vectors.l2_dist(a, b)
    case "dot"    => vectors.dot_product(a, b)
    case m        => throw new IllegalArgumentException(s"unknown metric $m")
  }

  /** similarity score column for a constant query vector */
  def score(metric: String, vec: Column, query: Array[Float]): Column =
    pairScore(metric, vec, typedLit(query))

  /** shared tail of the batch joins: per-query top-k via the bounded
    * heap aggregate, unpacked to (query_id, neighbor_id, score) */
  private def topKTail(scored: DataFrame, k: Int, asc: Boolean): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        col("neighbor_id"), col("score"), k, asc).as("topk"))
      .select(col("query_id"), explode(col("topk")).as("p"))
      .select(col("query_id"), col("p.neighbor_id").as("neighbor_id"),
        col("p.score").as("score"))

  /** Exact top-k scan: brute-force over the corpus, TakeOrderedAndProject. */
  def knn(corpus: DataFrame, vecCol: String, idCol: String,
          query: Array[Float], k: Int, metric: String = "cosine"): DataFrame = {
    val asc = metric == "l2" // distances: smaller is better
    val s = round(score(metric, col(vecCol), query), 6).as("score")
    val scored = corpus.select(col(idCol), s)
    // explicit NULLS LAST: Spark's asc defaults to NULLS FIRST while
    // the oracle engine defaults to NULLS LAST — a null embedding row
    // must never outrank a scored one
    val ord = if (asc) Seq(col("score").asc_nulls_last, col(idCol).asc)
              else Seq(col("score").desc_nulls_last, col(idCol).asc)
    scored.orderBy(ord: _*).limit(k)
  }

  /** Batch similarity join: top-k corpus neighbors for EACH query row.
    * `queries` must be broadcast-sized (it is hinted); the corpus side
    * is never shuffled — scoring is map-only, and the per-query top-k
    * runs through the custom [[graft.functions.TopKPairs]] aggregate:
    * partial k-bounded heaps combine map-side, so only
    * k × partitions × queries rows ever reach the exchange, with no
    * full sort anywhere (O(n log k) vs the window's O(n log n)).
    */
  def similarityJoin(queries: DataFrame, corpus: DataFrame,
                     qIdCol: String, qVecCol: String,
                     cIdCol: String, cVecCol: String,
                     k: Int, metric: String = "cosine"): DataFrame = {
    val q = broadcast(queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("q_vec")))
    val scoreCol = pairScore(metric, col(cVecCol), col("q_vec"))
    val scored = corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol))
      .join(q) // broadcast nested-loop: corpus x queries, map-only
      .select(col("query_id"), col("neighbor_id"),
        round(scoreCol, 6).as("score"))
    topKTail(scored, k, asc = metric == "l2")
  }

  /** Large-query-set similarity join — when the query table itself is
    * too big to broadcast. Block-nested-loop on an explicit grid: the
    * corpus hashes into `blocks` partitions once; each query row is
    * replicated to every corpus block (queries × blocks rows — choose
    * `blocks` ≈ corpus_size / healthy_partition so the replication
    * stays far below the corpus). Every (query, corpus-row) pair meets
    * exactly once; per-query top-k via the same bounded-heap
    * aggregate. No side needs to fit in memory anywhere.
    */
  def similarityJoinLarge(queries: DataFrame, corpus: DataFrame,
                          qIdCol: String, qVecCol: String,
                          cIdCol: String, cVecCol: String,
                          k: Int, blocks: Int,
                          metric: String = "cosine"): DataFrame = {
    val c = corpus.select(col(cIdCol).as("neighbor_id"), col(cVecCol).as("c_vec"),
      pmod(hash(col(cIdCol)), lit(blocks)).as("blk"))
    val q = queries.select(col(qIdCol).as("query_id"), col(qVecCol).as("q_vec"),
      explode(sequence(lit(0), lit(blocks - 1))).as("blk"))
    val scoreCol = pairScore(metric, col("c_vec"), col("q_vec"))
    val scored = c.join(q, Seq("blk"))
      .select(col("query_id"), col("neighbor_id"), round(scoreCol, 6).as("score"))
    topKTail(scored, k, asc = metric == "l2")
  }

  /** Filtered knn — the pgvector "metadata filter + vector search"
    * hybrid: the predicate pushes into the parquet scan, the top-k
    * runs over only the surviving rows. */
  def filteredKnn(corpus: DataFrame, predicate: Column, vecCol: String,
                  idCol: String, query: Array[Float], k: Int,
                  metric: String = "cosine"): DataFrame =
    knn(corpus.filter(predicate), vecCol, idCol, query, k, metric)

  /** Hybrid lexical + vector scoring: blend cosine similarity with a
    * query-token overlap ratio (a cheap BM25 stand-in) — the classic
    * RAG reranking shape, one map-only pass then top-k. */
  def hybridSearch(spark: SparkSession, sfDir: String, queryText: String,
                   k: Int, alpha: Double = 0.7): DataFrame = {
    val qv = FakeEmbedder.embed(queryText)
    val qToks = queryText.toLowerCase.split(" ").distinct
    val docs = Tables.documents(spark, sfDir).select(col("doc_id"), col("text"))
    val emb = Tables.embeddings(spark, sfDir).select(col("vec_id"), col("embedding"))
    val joined = emb.join(docs, emb("vec_id") === docs("doc_id"))
    val lexical = size(array_intersect(
      array_distinct(split(lower(col("text")), " ")),
      typedLit(qToks))).cast("double") / qToks.length.toDouble
    val vec = vectors.cosine_sim(col("embedding"), typedLit(qv))
    joined.select(col("doc_id"),
        round(lit(alpha) * vec + lit(1.0 - alpha) * lexical, 6).as("hybrid_score"))
      .orderBy(col("hybrid_score").desc, col("doc_id").asc)
      .limit(k)
  }

  /** Point lookup — get_record_by_id. Filter pushes to the scan; the
    * id is bound by reference (a one-element set), so every lookup
    * reuses one compiled plan, like the reference's `WHERE id = $1`. */
  def recordById(documents: DataFrame, idCol: String, id: Long): DataFrame =
    documents.filter(graft.functions.bound.isin(col(idCol), Seq(id)))

  /** End-to-end semantic search over documents (find_similar_customer_records):
    * embed the query text, score embeddings, top-k, attach metadata. */
  def semanticSearch(spark: SparkSession, sfDir: String,
                     queryText: String, k: Int): DataFrame = {
    val qv = FakeEmbedder.embed(queryText)
    val emb = Tables.embeddings(spark, sfDir)
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
    val top = knn(emb, "embedding", "vec_id", qv, k, "cosine")
      .withColumnRenamed("score", "similarity")
    // doc_id == vec_id in the synthetic corpus (one embedding per doc)
    top.join(docs, top("vec_id") === docs("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"), col("similarity"))
      .orderBy(col("similarity").desc, col("doc_id").asc)
  }

  /** Maximal Marginal Relevance rerank (Carbonell & Goldstein, SIGIR
    * 1998) — diversity-aware top-k for RAG context building: greedily
    * pick the candidate maximizing
    *   λ·sim(query, d) − (1−λ)·max_{s∈selected} sim(d, s).
    * The distributed part is the candidate scan (ordinary knn,
    * candK ≫ k); the greedy selection is O(candK²·dim) on the DRIVER
    * over the collected candidates — correct at scale because candK
    * is a constant (e.g. 100), not a function of corpus size.
    * Deterministic: ties break on id. */
  def mmrRerank(corpus: DataFrame, vecCol: String, idCol: String,
                query: Array[Float], k: Int, candK: Int,
                lambda: Double = 0.7): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // null embeddings can't be scored or diversified — drop them, like
    // knn's nulls-last ordering does implicitly
    val cands = corpus
      .filter(col(vecCol).isNotNull)
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("v"),
        vectors.cosine_sim(col(vecCol), typedLit(query)).as("qs"))
      // a NaN score (NaN component in a stored vector) would poison
      // every comparison in the greedy loop — drop it like nulls
      .filter(col("qs").isNotNull && !isnan(col("qs")))
      .orderBy(col("qs").desc_nulls_last, col("id").asc)
      .limit(candK)
      .as[(Long, Array[Float], Double)]
      .collect()
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0 || nb == 0) 0.0 else dot / math.sqrt(na * nb)
    }
    // classic incremental form: maxSim(candidate, selected-set) is a
    // running value updated once per newly selected doc — O(k·candK)
    // cosines total instead of recomputing the max per (round, pair)
    val n = cands.length
    val maxSim = Array.fill(n)(0.0)
    val taken = Array.fill(n)(false)
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Int)]
    var exhausted = false
    while (!exhausted && selected.length < k && selected.length < n) {
      var best = -1
      var bestScore = Double.NegativeInfinity
      var i = 0
      while (i < n) {
        if (!taken(i)) {
          val s = lambda * cands(i)._3 -
            (if (selected.isEmpty) 0.0 else (1 - lambda) * maxSim(i))
          // tie-break on lower id, matching the distributed orderings
          if (s > bestScore || (s == bestScore && (best < 0 || cands(i)._1 < cands(best)._1))) {
            best = i; bestScore = s
          }
        }
        i += 1
      }
      // best stays -1 iff every remaining score is NaN: the qs filter
      // can't catch NaN components past the query's length, and those
      // reach the greedy scores through maxSim. Nothing rankable left.
      if (best < 0) exhausted = true
      else {
        taken(best) = true
        selected += ((cands(best)._1, bestScore, selected.length + 1))
        var j = 0
        while (j < n) {
          if (!taken(j)) maxSim(j) = math.max(maxSim(j), cos(cands(j)._2, cands(best)._2))
          j += 1
        }
      }
    }
    selected.toSeq.map { case (id, s, r) => (id, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, r) }
      .toDF("id", "mmr_score", "rank")
  }

  /** DuckDB twin of [[mmrRerank]]: the greedy selection UNROLLED into
    * k pick/update CTE stages (k is a small constant, so the unrolled
    * SQL is the honest equivalent of the driver-side loop — no
    * recursion quirks, same order of operations). `1 - λ` is written
    * as an expression so DuckDB computes the identical IEEE double
    * (e.g. 0.30000000000000004 for λ = 0.7) the Scala loop uses. */
  def mmrRerankSql(queryVec: String, k: Int = 10, candK: Int = 100,
                   lambda: Double = 0.7): String = {
    val stages = (1 to k).map { n =>
      s"""p$n AS (
         |  SELECT id, v, $lambda * qs - (1 - $lambda) * maxsim AS ps
         |  FROM s${n - 1} WHERE rank IS NULL ORDER BY ps DESC, id LIMIT 1),
         |s$n AS (
         |  SELECT s.id, s.v, s.qs,
         |    CASE WHEN s.id = p.id THEN s.maxsim
         |         ELSE greatest(s.maxsim, list_cosine_similarity(s.v, p.v)) END AS maxsim,
         |    CASE WHEN s.id = p.id THEN $n ELSE s.rank END AS rank,
         |    CASE WHEN s.id = p.id THEN p.ps ELSE s.sel_score END AS sel_score
         |  FROM s${n - 1} s CROSS JOIN p$n p)""".stripMargin
    }.mkString(",\n")
    s"""WITH c0 AS (
       |  SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v,
       |    list_cosine_similarity(CAST(embedding AS DOUBLE[]), CAST($queryVec AS DOUBLE[])) AS qs
       |  FROM embeddings
       |  WHERE embedding IS NOT NULL),
       |s0 AS (
       |  SELECT id, v, qs, 0.0 AS maxsim,
       |    CAST(NULL AS INTEGER) AS rank, CAST(NULL AS DOUBLE) AS sel_score
       |  FROM c0 WHERE qs IS NOT NULL AND NOT isnan(qs)
       |  ORDER BY qs DESC, id LIMIT $candK),
       |$stages
       |SELECT id, round(sel_score, 6) AS mmr_score, rank
       |FROM s$k WHERE rank IS NOT NULL ORDER BY rank""".stripMargin
  }
}
