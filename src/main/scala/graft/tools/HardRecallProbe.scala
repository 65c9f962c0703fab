package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall on a HARD similarity distribution — the caveat RecallProbe
  * itself documents: the scale corpus's true neighbors are ±0.02%
  * replicas (cos ≈ 0.9999) whose band keys rarely differ, so
  * recall=1.0 there shows widening loses nothing the corpus HAS, not
  * that widening is free on borderline neighbors. This probe builds
  * the distribution the caveat asks about: a random-Gaussian
  * background (pairwise cos ~N(0, 1/Dim); max over 200k rows ≈ 0.62)
  * with neighbors PLANTED at exact cosine tiers around each query
  * (v = c·û + √(1−c²)·ŵ⊥, the standard construction), so each tier
  * isolates "can the serve find a neighbor at cosine c".
  *
  * Two metrics per (tier, width), both against brute-force exact
  * top-k (the serve's own total order, computed fresh per corpus):
  *  - seed recall: truth rows present in the banding stage's
  *    top-maxEntries pool ([[graft.operators.SrpBanded.batchSeedScored]]
  *    + the same top-64 cut the serve applies) — the stage keyspace
  *    width actually touches;
  *  - serve recall: truth rows in `graphSearchBatch`'s final top-k —
  *    what the user sees after the graph hops re-expand the pool.
  * The gap between the two IS the quantified version of PERF.md's
  * claim that the multi-probe radius and the graph hops carry
  * borderline neighbors where wider band keys stop colliding.
  *
  * Deterministic end to end: background components from a per-id
  * seeded PRNG, query/planted vectors from per-(tier, query, p)
  * seeds; the knn graph is built ONCE per corpus at the pinned width
  * (the build has its own BucketCap occupancy bound), so width moves
  * only the seed stage — the same isolation the serve table in
  * PERF.md r11 measures for speed.
  *
  * env: SPARK_GRAFT_HARD_N (background rows, default 200000),
  * SPARK_GRAFT_HARD_DIR (default /tmp/graft_hard_<N>),
  * SPARK_GRAFT_CPUS. Prints one JSON line.
  */
object HardRecallProbe {
  // corpus construction (vectors, seeds, tiers) lives in [[HardCorpus]]
  // — shared with FilteredHardRecallProbe, bit-identical to the r11
  // artifacts this probe's outputs compare against
  private val Tiers = HardCorpus.Tiers
  private val QueriesPerTier = 100
  private val K = 5
  private val MaxEntries = 64
  private val Mod = HardCorpus.Mod

  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nBg = sys.env.getOrElse("SPARK_GRAFT_HARD_N", "200000").toLong
    val dir = sys.env.getOrElse("SPARK_GRAFT_HARD_DIR", s"/tmp/graft_hard_$nBg")
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val nQ = Tiers.size * QueriesPerTier
    // query ids are the multiples of Mod; tier = (id/Mod − 1) / QueriesPerTier
    HardCorpus.writeEmbeddings(spark, dir, nBg, nQ, QueriesPerTier)

    val emb = graft.Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"))
    val rows = emb.count()
    val scaledRpb = graft.operators.SrpBanded.rowsPerBandFor(rows)
    val pinnedRpb = graft.operators.SrpBanded.RowsPerBand

    val queries = emb.filter(col("vec_id") % Mod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)
    val tierOf = (col("query_id") / Mod - 1).cast("int")
      .divide(QueriesPerTier).cast("int").as("tier")

    // brute-force exact top-k by the serve's own total order
    val truth = emb
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), col("q_vec")).as("sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(col("vec_id"), col("sim"), K).as("__tk"))
      .select(col("query_id"),
        explode(col("__tk").getField("neighbor_id")).as("neighbor_id"))
      .localCheckpoint(true)
    val denom = QueriesPerTier * K

    def perTier(found: DataFrame): Map[Int, Double] =
      truth.join(found, Seq("query_id", "neighbor_id"))
        .select(tierOf).groupBy(col("tier")).count()
        .collect().map(r => r.getInt(0) -> r.getLong(1).toDouble / denom).toMap

    def seedTopPool(rpb: Int): DataFrame =
      graft.operators.SrpBanded
        .batchSeedScored(spark, dir, Mod, rowsPerBand = rpb)
        .groupBy(col("query_id"))
        .agg(graft.functions.TopKPairs.top_k_pairs(
          col("vec_id"), col("sim"), MaxEntries).as("__tk"))
        .select(col("query_id"),
          explode(col("__tk").getField("neighbor_id")).as("neighbor_id"))

    def measure(rpb: Int): (Map[Int, Double], Map[Int, Double], Double) = {
      val seedRec = perTier(seedTopPool(rpb).localCheckpoint(true))
      val (serve, secs) = time {
        graft.operators.SrpBanded
          .graphSearchBatch(spark, dir, Mod, rowsPerBand = rpb)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
      }
      (seedRec, perTier(serve), secs)
    }

    val (seedP, serveP, tP) = measure(pinnedRpb)
    val (seedS, serveS, tS) = measure(scaledRpb)

    def js(m: Map[Int, Double]): String =
      Tiers.indices.map(i => f""""${Tiers(i)}%.2f":${m.getOrElse(i, 0.0)}%.4f""").mkString("{", ",", "}")
    println(s"""{"metric":"hard_recall_at_$K","rows":$rows,"queries":$nQ,"tiers_q":$QueriesPerTier,"rpb_pinned":$pinnedRpb,"rpb_scaled":$scaledRpb,"seed_recall_pinned":${js(seedP)},"serve_recall_pinned":${js(serveP)},"serve_s_pinned":${f"$tP%.1f"},"seed_recall_scaled":${js(seedS)},"serve_recall_scaled":${js(serveS)},"serve_s_scaled":${f"$tS%.1f"}}""")
    spark.stop()
  }
}
