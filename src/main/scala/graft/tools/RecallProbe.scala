package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Recall evidence for the scaled-keyspace batched graph serve: the
  * keyspace ∝ N policy (SrpBanded.rowsPerBandFor) buys its speed by
  * widening band keys, and wider keys mean a similar vector must
  * match MORE hyperplane bits per band to collide — so the speed
  * claim needs a recall@k datapoint against brute force at each
  * corpus decade, at BOTH widths.
  *
  * Per-query results of `graphSearchBatch` are independent of the
  * rest of the batch (every stage is per-query windows/aggregates),
  * so recall measured on a sampled query slice equals the full
  * batch's recall on those queries. Ground truth replays the serve's
  * own contract: top-k by (cosine DESC, vec_id) over the whole
  * corpus, self-match included on both sides.
  *
  * env: SPARK_GRAFT_SCALE_DIR (corpus with embeddings.parquet),
  * SPARK_GRAFT_SAMPLE_MOD (query slice, default 5000 ≈ 400 queries at
  * the 1000× corpus), SPARK_GRAFT_CPUS. Prints one JSON line with
  * recall at the policy width and at the pinned 8-bit default. */
object RecallProbe {
  private def time[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val dir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/tmp/graft_scale_10")
    val sampleMod = sys.env.getOrElse("SPARK_GRAFT_SAMPLE_MOD", "5000").toInt
    val k = 5
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val emb = graft.Tables.embeddings(spark, dir)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val rows = emb.count()
    val scaledRpb = graft.operators.SrpBanded.rowsPerBandFor(rows)

    val queries = emb.filter(col("vec_id") % sampleMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)
    val nQ = queries.count()

    // ground truth: exact top-k by the serve's own total order
    val truth = emb
      .crossJoin(broadcast(queries))
      .select(col("query_id"), col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), col("q_vec")).as("sim"))
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(col("vec_id"), col("sim"), k).as("__tk"))
      .select(col("query_id"),
        explode(col("__tk").getField("neighbor_id")).as("neighbor_id"))
      .localCheckpoint(true)

    def recallOf(rpb: Int): (Double, Double) = {
      val (serve, secs) = time {
        graft.operators.SrpBanded
          .graphSearchBatch(spark, dir, sampleMod, rowsPerBand = rpb)
          .select(col("query_id"), col("neighbor_id"))
          .localCheckpoint(true)
      }
      val hits = serve.join(truth, Seq("query_id", "neighbor_id")).count()
      (hits.toDouble / (nQ * k), secs)
    }

    val (rScaled, tScaled) = recallOf(scaledRpb)
    val (rPinned, tPinned) = recallOf(graft.operators.SrpBanded.RowsPerBand)
    println(s"""{"metric":"recall_at_$k","rows":$rows,"queries":$nQ,"rpb_scaled":$scaledRpb,"recall_scaled":${f"$rScaled%.4f"},"serve_s_scaled":${f"$tScaled%.1f"},"recall_pinned":${f"$rPinned%.4f"},"serve_s_pinned":${f"$tPinned%.1f"}}""")
    spark.stop()
  }
}
