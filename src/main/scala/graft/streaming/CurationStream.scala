package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.operators.Pipeline
import graft.sources.SigStore

/** Streaming curation — p1's funnel over continuous ingest: each
  * micro-batch of documents gets a full disposition (quality |
  * exact_dup | near_dup | kept, with keeper_id) against the EVOLVING
  * store state, then the batch's exact-stage survivors are committed
  * into the state so later batches dedup against them too (the
  * [[SigProbeStream]] serve→upsert cadence applied to the whole
  * funnel).
  *
  * Stage semantics per batch (the p1 contract with STREAM-ORDER
  * canonicalization):
  *
  *  - '''quality''': [[Pipeline.gatedOf]] — the identical gate
  *    definition the batch funnel applies; map-only, judged locally.
  *  - '''exact_dup''': [[Pipeline.normKey]] against the persisted
  *    hash→keeper table (cross-batch; keeper = the hash's FIRST
  *    survivor) plus min-doc_id within the batch.
  *  - '''near_dup''': the batch's exact survivors are near-duped
  *    against the [[SigStore]] ([[SigStore.incrementalNearDup]] —
  *    O(batch) banding + pruned bucket reads, the store is never
  *    re-banded) and canonicalized by MIN doc_id over the reachable
  *    pair set (within-batch components ∪ stored partners). Under
  *    id-ordered arrival this is first-arrival-wins — the streaming
  *    analogue of p1's canonical argmax (which needs the whole
  *    corpus at once to pick "longest"); keeper_id is stage-local
  *    and chains across batches exactly like p1's (a keeper may
  *    itself have been superseded earlier — follow the chain).
  *
  * The near-dup metric here is the signature store's (d13's MinHash
  * banding + exact shingle-Jaccard verify ≥ [[SigStore.Threshold]]),
  * i.e. the funnel SHAPE is p1's while the pair graph is the
  * incremental store's — the only pair source that serves O(batch)
  * against a 100 TB corpus. Per-batch driver state (pairs, survivor
  * ids) is micro-batch-bounded, the [[SigProbeStream]] license.
  *
  * State layout under `stateDir`:
  * {{{
  *   sig/    the SigStore (signatures + verify texts of exact survivors)
  *   keys/b=<n>/   appended (h, keeper_id) parquet per batch
  * }}}
  */
object CurationStream {

  /** stored-keys join-shape crossover: the hash→keeper table is
    * broadcast while small, a shuffle-hash join on `h` once it grows —
    * the per-batch serve must stay O(batch) at any corpus size (the
    * d13 ProbeCollectMax lesson: never ship O(corpus) state per batch,
    * and never let an explicit broadcast hint bypass the 8 GB cap) */
  val KeyBroadcastMax: Long = 1L << 20
  /** fold the per-batch key dirs into one once this many accumulate —
    * bounds the per-batch listing/read fan-out; the fold is
    * crash-idempotent because reads de-duplicate on `h` (a given hash
    * has ONE keeper forever, so fold+leftover duplicates are benign) */
  val KeyCompactAfter = 16

  /** ensure the state dirs exist (empty SigStore on first run) */
  private def initState(spark: SparkSession, stateDir: String): Unit = {
    import spark.implicits._
    if (graft.sources.Versioned.live(spark, SigStore.chain(s"$stateDir/sig")).isEmpty)
      SigStore.write(spark,
        Seq.empty[(Long, String)].toDF("doc_id", "text"), s"$stateDir/sig")
  }

  /** committed key-batch dirs (parquet's _SUCCESS is the commit
    * marker — a batch append that crashed mid-write is invisible and
    * its slot is reused by the retry) */
  private def keyBatches(spark: SparkSession, stateDir: String): Seq[String] = {
    val kd = new org.apache.hadoop.fs.Path(s"$stateDir/keys")
    val f = graft.sources.Hfs.fs(spark, stateDir)
    if (!f.exists(kd)) Seq.empty
    else f.listStatus(kd).toSeq.map(_.getPath)
      .filter(p => p.getName.startsWith("b=") &&
        f.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.toString)
  }

  /** next slot = max COMMITTED batch + 1 — counting committed dirs
    * only is what makes the crash contract true: a torn (markerless)
    * dir at that slot is invisible to readers AND gets its slot
    * reused by the retry's overwrite-mode write, so crashed dirs
    * never accumulate (they are reclaimed by the very next append). */
  private def nextKeyBatch(spark: SparkSession, stateDir: String): Int =
    keyBatches(spark, stateDir)
      .map(p => new org.apache.hadoop.fs.Path(p).getName.drop(2).toInt)
      .maxOption.map(_ + 1).getOrElse(0)

  /** stored (h, keeper_id) pairs across all committed key batches —
    * explicit schema: a batch of all-quality-failed docs commits an
    * EMPTY key dir, and inference cannot run over zero data files.
    * De-duplicated on h: a hash's keeper is immutable, so duplicates
    * (a compaction fold racing its GC) collapse losslessly. */
  private def storedKeys(spark: SparkSession, stateDir: String): DataFrame = {
    import spark.implicits._
    val paths = keyBatches(spark, stateDir)
    if (paths.isEmpty) Seq.empty[(String, Long)].toDF("h", "keeper_id")
    else spark.read.schema("h STRING, keeper_id LONG").parquet(paths: _*)
      .select(col("h"), col("keeper_id"))
      .dropDuplicates("h")
  }

  /** fold the committed key dirs into one (write the union as the
    * next slot, then GC the inputs — a crash between the two leaves
    * benign duplicates storedKeys' h-dedup absorbs) */
  private def compactKeys(spark: SparkSession, stateDir: String): Unit = {
    val paths = keyBatches(spark, stateDir)
    if (paths.size < KeyCompactAfter) return
    val next = nextKeyBatch(spark, stateDir)
    storedKeys(spark, stateDir).coalesce(1)
      .write.mode("overwrite").parquet(s"$stateDir/keys/b=$next")
    val f = graft.sources.Hfs.fs(spark, stateDir)
    paths.foreach(p => f.delete(new org.apache.hadoop.fs.Path(p), true): Unit)
  }

  /** Disposition one batch against the state, then absorb it. Returns
    * (doc_id, lang, source, stage, keeper_id) for every batch doc.
    *
    * Caching contract: the three batch-scoped checkpoints (docs, g,
    * exact) are unpersisted before returning — a continuous stream
    * must not grow storage memory between driver GCs. The RETURNED
    * frame is itself an eager checkpoint and is the caller's to
    * release (collect it, or unpersist via GraftBridge when done) —
    * it must survive this method because every downstream read of a
    * disposition happens after the state dirs have already absorbed
    * the batch. */
  def serveBatch(spark: SparkSession, stateDir: String,
                 batch: DataFrame,
                 keyBroadcastMax: Long = KeyBroadcastMax): DataFrame = {
    import spark.implicits._
    initState(spark, stateDir)
    val docs = batch
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .localCheckpoint(true)
    try {
    val g = Pipeline.gatedOf(docs)
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("pass"))
      .localCheckpoint(true)
    try {

    // ---- exact stage: stored hashes first, then within-batch min ----
    val hashed = g.filter(col("pass"))
      .select(col("doc_id"), col("text"), Pipeline.normKey.as("h"))
    val prior = storedKeys(spark, stateDir)
      .withColumnRenamed("keeper_id", "stored_keeper")
    // join-shape crossover (see KeyBroadcastMax): parquet row counts
    // are footer metadata, so the decision itself is cheap
    val priorSide =
      if (prior.count() <= keyBroadcastMax) broadcast(prior)
      else prior.hint("shuffle_hash")
    val exact = hashed
      .join(priorSide, Seq("h"), "left")
      .withColumn("batch_min",
        min(col("doc_id")).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("h"))))
      .withColumn("exact_keeper",
        coalesce(col("stored_keeper"), col("batch_min")))
      .localCheckpoint(true)
    try {
    val survivors = exact.filter(col("doc_id") === col("exact_keeper"))
      .select(col("doc_id"), col("text"))

    // ---- near-dup stage: probe the evolving store, min-id canonical ----
    val pairs = SigStore.incrementalNearDup(spark, s"$stateDir/sig", survivors)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val survIds = survivors.select(col("doc_id")).collect().map(_.getLong(0)).toSet
    // union-find over the batch survivors; stored partners only pull
    // the component minimum down (they are already canonical-or-chained)
    val root = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = root.getOrElse(x, x)
      if (p == x) x else { val r = find(p); root(x) = r; r }
    }
    def union(a: Long, b: Long): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) root(rb) = ra else root(ra) = rb }
    }
    pairs.foreach { case (a, b) =>
      if (survIds(a) && survIds(b)) union(a, b)
      else if (survIds(a)) union(a, math.min(a, b)) // stored partner: min pulls
      else if (survIds(b)) union(b, math.min(a, b))
    }
    // a stored partner id used as a root stands for "superseded by an
    // earlier arrival" — keeper chains resolve it, exactly like p1's
    // stage-local keeper contract
    val nearKeeper = survIds.toSeq.sorted
      .map(id => id -> find(id)).filter { case (id, r) => r != id }.toMap

    val nearDf = nearKeeper.toSeq.toDF("doc_id", "near_keeper")
    val disp = g
      .join(exact.select(col("doc_id"), col("exact_keeper")), Seq("doc_id"), "left")
      .join(broadcast(nearDf), Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(!col("pass"), lit("quality"))
          .when(col("doc_id") =!= col("exact_keeper"), lit("exact_dup"))
          .when(col("near_keeper").isNotNull, lit("near_dup"))
          .otherwise(lit("kept")).as("stage"),
        when(!col("pass"), lit(null).cast("long"))
          .when(col("doc_id") =!= col("exact_keeper"), col("exact_keeper"))
          .when(col("near_keeper").isNotNull, col("near_keeper"))
          .otherwise(col("doc_id")).as("keeper_id"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)

    // ---- absorb the batch into the state (serve-then-upsert) ----
    // the signature store holds every exact survivor (kept AND
    // near_dup — p1 induces its pair graph on exact survivors, so
    // later arrivals must be able to pair with either)
    SigStore.upsert(spark, s"$stateDir/sig", survivors)
    val newKeys = exact
      .filter(col("stored_keeper").isNull && col("doc_id") === col("batch_min"))
      .select(col("h"), col("doc_id").as("keeper_id"))
    newKeys.coalesce(1).write.mode("overwrite")
      .parquet(s"$stateDir/keys/b=${nextKeyBatch(spark, stateDir)}")
    compactKeys(spark, stateDir) // bound the per-batch key-dir fan-out
    disp
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(exact)
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(g)
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(docs)
  }

  /** p2's streaming twin: the running mix table over every emitted
    * disposition — per-(lang, source) stage counts plus kept token
    * mass, computed from the union of the stream's outputs and the
    * batch texts' token counts (the same aggregation shape as
    * [[Pipeline.curationSummary]], group count |lang|·|source|). A
    * gateway keeps the dispositions it collected per batch; this
    * rolls them up without touching any state dir. */
  def mixSummary(dispositions: DataFrame, docs: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"),
      size(split(col("text"), " ")).as("n_tokens"))
    dispositions.join(toks, Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(when(col("stage") =!= "quality", 1L).otherwise(0L)).as("after_quality"),
        sum(when(!col("stage").isin("quality", "exact_dup"), 1L).otherwise(0L)).as("after_exact"),
        sum(when(col("stage") === "kept", 1L).otherwise(0L)).as("docs_kept"),
        sum(when(col("stage") === "kept", col("n_tokens").cast("long")).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  /** Drain a `{doc_id, text, lang, source}` JSON stream once
    * (AvailableNow), dispositioning each micro-batch against the
    * evolving state; returns the union of all emitted dispositions. */
  def runOnce(spark: SparkSession, docsDir: String, stateDir: String,
              maxFilesPerTrigger: Int = 1): DataFrame = {
    import spark.implicits._
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String, Option[Long])]
    val docs = spark.readStream
      .schema("doc_id LONG, text STRING, lang STRING, source STRING")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(docsDir)
    val q = docs.writeStream
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val b = batch.localCheckpoint(true)
        try {
          if (b.count() > 0) {
            val disp = serveBatch(spark, stateDir, b)
            val rows = disp.collect()
              .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3),
                if (r.isNullAt(4)) None else Some(r.getLong(4))))
            org.apache.spark.sql.GraftBridge.unpersistPlanRdds(disp)
            out.synchronized { out ++= rows: Unit }
          }
        } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(b)
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    out.synchronized(out.toSeq)
      .toDF("doc_id", "lang", "source", "stage", "keeper_id")
  }
}
