package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.SrpBanded
import graft.sources.SrpStore
import graft.functions.FakeEmbedder

/** Streaming graph-ANN serving against the persisted SRP store — the
  * LSH-side twin of [[IvfProbeStream]]. Each micro-batch:
  *
  *   1. embeds its queries driver-side (batch query set is bounded);
  *   2. computes every query's multi-probe (band, key) set with the
  *      pinned hyperplanes ([[SrpBanded.queryProbeKeys]]);
  *   3. reads ONLY the union of probed bucket partitions — the same
  *      `PartitionFilters` pruning the batch path gets, re-planned
  *      per batch because the probed set depends on the batch;
  *   4. runs the beam search over the cached k-NN graph per query.
  *
  * At 100 TB the store is Bands·2^RowsPerBand bucket partitions on a
  * distributed FS; a micro-batch touches the probed buckets plus
  * bounded graph hops, independent of corpus size. `foreachBatch` is
  * the supported seam for per-batch dynamic pruning — a plain
  * stream-static join would scan every bucket each batch. */
object SrpProbeStream {

  /** last seed read's physical plan, for pruning assertions in specs */
  @volatile private[graft] var lastSeedPlan: String = ""

  /** One batch of queries against the store: the shared kernel of the
    * stream and its batch twin ([[SrpStore.graphSearch]] per query). */
  def probeBatch(spark: SparkSession, d: String, storeDir: String,
                 queries: Seq[(Long, Array[Float])], k: Int): DataFrame = {
    import spark.implicits._
    val perQuery = queries.map { case (qid, qv) =>
      val pool = SrpStore.scoredPool(spark, storeDir, qv)
      // the probed-bucket read runs inside scoredPool (v2: the pool
      // signals execute before the budget-cut gather) — its executed
      // plan is the pruning evidence
      lastSeedPlan = SrpStore.lastSeedScanPlan
      SrpBanded
        .graphSearchFrom(spark, pool, k, beam = 8, iters = 2, maxEntries = 64,
          SrpBanded.graphFetch(SrpBanded.materializedGraph(spark, d, 5), qv))
        .select(lit(qid).as("query_id"), col("vec_id").as("neighbor_id"),
          col("rk"), col("sim"))
    }
    if (perQuery.isEmpty)
      Seq.empty[(Long, Long, Int, Double)]
        .toDF("query_id", "neighbor_id", "rk", "sim")
    else perQuery.reduce(_ unionAll _)
  }

  /** Drain a query-text stream through the store once (AvailableNow),
    * returning all emitted (query, neighbor, rk, sim) rows. `embedder`
    * is the model seam — queries embed driver-side per micro-batch
    * (bounded by the trigger), [[FakeEmbedder]] by default. */
  def runOnce(spark: SparkSession, queriesDir: String, d: String,
              storeDir: String, k: Int = 10,
              embedder: graft.functions.Embedder = FakeEmbedder): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int, Double)]
    val queries = spark.readStream
      .schema("query_id LONG, query_text STRING")
      .json(queriesDir)
    val q = queries.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val qs = batch.collect()
          .map(r => (r.getLong(0), embedder.embed(r.getString(1)))).toSeq
        if (qs.nonEmpty) {
          val rows = probeBatch(spark, d, storeDir, qs, k).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
          out.synchronized { out ++= rows: Unit }
        }
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    // read under the appender's lock — awaitTermination alone gives no
    // formal happens-before edge for the buffer
    out.synchronized(out.toSeq).toDF("query_id", "neighbor_id", "rk", "sim")
  }
}
