package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.SrpBanded
import graft.functions.vectors

/** On-disk SRP-banded LSH table — the persisted serve path for v19's
  * graph search (the reference's always-on index role: sql/05 keeps
  * an ivfflat index resident so queries never scan the corpus; this
  * is the same contract for the SRP side).
  *
  * Layout (v2 — r14):
  * {{{
  *   <dir>/banded/band=<b>/bk=<key>/   (vec_id) rows — ids only
  *   <dir>/embed/eg=<g>/               (vec_id, embedding), ONE copy
  *   <dir>/banding/                    compact (vec_id, band, bk)
  * }}}
  * One banded row per (vector, band) — but the rows are ~16 bytes
  * (id + key), NOT embedding-bearing: r13 measured the embedding-in-
  * every-band layout at 8.03× the corpus bytes (store_bytes_r13 —
  * 4.2 GB of banded over 527 MB of embeddings at the 1000× decade),
  * an ingest-cost cliff that made the 10000×-decade store unbuildable
  * on the round's box. The seed stage doesn't need them: the pool's
  * probing-sequence signals (flip radius, collision count) are pure
  * functions of (band, bk), the [[SrpBanded.SeedBudget]] cut picks
  * ≤ 2048 candidates from those signals alone (the contract the
  * batched serve has always run), and only the cut survivors are
  * exact-scored — read from `embed/`, the store's ONE full-float
  * copy, partition-pruned to the survivors' `eg = vec_id mod 2^E`
  * dirs. Total footprint ≈ 1.5× corpus bytes (8 thin bands + one
  * embedding copy + the compact banding) instead of 8×, and the
  * serve's probed-bucket read shrinks ~16× because the probe scan
  * carries ids instead of vectors.
  *
  * A multi-probe seed read still compiles to a scan whose
  * `PartitionFilters` prune to the probed buckets —
  * ~probeKeys/(Bands·2^RowsPerBand) of the files, decided in the
  * file index before any IO. The `banding/` copy serves BULK
  * consumers (graph builds): same assignment, packed into few large
  * files instead of 2048 probe-sized buckets.
  *
  * `banding/` is a merge-on-read [[Versioned]] chain (markers and
  * crash contract there) of `data/__ver=N/` version partitions;
  * [[bandingFrame]] resolves latest-version-per-vec_id across live
  * versions. [[upsert]] therefore APPENDS an O(update) delta instead
  * of rewriting the O(corpus) artifact, and [[compactBanding]] folds
  * the chain back to one full copy once it grows past
  * [[Versioned.CompactAfter]].
  */
object SrpStore {

  private[graft] def chain(dir: String): Versioned.Chain =
    Versioned.Chain(dir, s"$dir/banding", v => Seq(s"$dir/banding/data/__ver=$v"))

  /** write one banding version's (vec_id, band, bk) rows */
  private def writeBanding(rows: DataFrame, dir: String, v: Int): Unit =
    rows.withColumn("__ver", lit(v))
      .write.mode(SaveMode.Append)
      .partitionBy("__ver")
      .parquet(s"$dir/banding/data")

  /** Key width (bits per band) the store at `dir` was written with —
    * recorded as a marker file at [[write]] time so every read path
    * probes with the same hyperplane set. Absent marker = the pinned
    * oracle default (stores written before the keyspace was
    * parameterized). */
  private val rpbCache = new graft.SessionCache[String, Int](64, identity)
  private[graft] def storeRpb(spark: SparkSession, dir: String): Int =
    rpbCache.getOrElseUpdate(dir) {
      val kd = new org.apache.hadoop.fs.Path(s"$dir/_keyspace")
      val f = Hfs.fs(spark, dir)
      if (!f.exists(kd)) SrpBanded.RowsPerBand
      else f.listStatus(kd).toSeq.map(_.getPath.getName)
        .collectFirst { case s if s.startsWith("rpb=") => s.drop(4).toInt }
        .getOrElse(SrpBanded.RowsPerBand)
    }

  /** Target rows per partition dir of the `banded/` layout. The write
    * cost of a partitioned store is PER DIR, not per row (measured
    * ~8 ms/dir on local fs — graft.tools.StoreWriteProbe: 8 dirs
    * 0.5 s, 64 dirs 1.1 s, 2048 dirs 16.4 s for the same 48k rows),
    * so the dir count must scale with the corpus the way the keyspace
    * does, or a small store pays a 2048-file tax for 23-row files. */
  private val DirRowTarget = 128L

  /** Partition-dir granularity of the `banded/` layout: buckets are
    * grouped into dirs by `bg = bk >> shift`, with the shift chosen
    * at write time so a dir holds ~[[DirRowTarget]] rows and the dir
    * count never exceeds Bands·2^defaultRpb = 2048:
    *
    *   shift = rpb − min(rpb, 8, floor(log2(max(1, n/DirRowTarget))))
    *
    * At corpus scale this reproduces the r10 layouts exactly — a
    * pinned 8-bit store with ≥ 32k rows gets shift 0 (exact-bucket
    * dirs), a policy-width store gets shift rpb−8 (2048 dirs) — and
    * only SMALL corpora group harder (fewer, larger dirs). Rows are
    * clustered by `bk` at write time so parquet row-group stats prune
    * WITHIN a dir; probe reads prune twice: (band, bg) in the file
    * index (static partition pruning, zero IO), bk against row-group
    * min/max (footer-level) plus the post-scan row filter. The shift
    * is recorded as a `_keyspace/shift=` marker; every read path
    * follows the recorded layout. */
  private[graft] def layoutShift(rpb: Int, nPerBand: Long): Int = {
    val bits =
      if (nPerBand <= DirRowTarget) 0
      else 63 - java.lang.Long.numberOfLeadingZeros(nPerBand / DirRowTarget)
    rpb - math.min(rpb, math.min(SrpBanded.RowsPerBand, bits))
  }

  /** recorded dir-group shift of a store; legacy stores without the
    * marker fall back to the r10 rule (wide ⇒ rpb−8, pinned ⇒ 0) */
  private val shiftCache = new graft.SessionCache[String, Int](64, identity)
  private[graft] def storeShift(spark: SparkSession, dir: String): Int =
    shiftCache.getOrElseUpdate(dir) {
      val kd = new org.apache.hadoop.fs.Path(s"$dir/_keyspace")
      val f = Hfs.fs(spark, dir)
      val marker =
        if (!f.exists(kd)) None
        else f.listStatus(kd).toSeq.map(_.getPath.getName)
          .collectFirst { case s if s.startsWith("shift=") => s.drop(6).toInt }
      marker.getOrElse(math.max(0, storeRpb(spark, dir) - SrpBanded.RowsPerBand))
    }

  /** recorded `embed/` partition count (eg = vec_id mod this) */
  private val egCache = new graft.SessionCache[String, Long](64, identity)
  private[graft] def storeEg(spark: SparkSession, dir: String): Long =
    egCache.getOrElseUpdate(dir) {
      val kd = new org.apache.hadoop.fs.Path(s"$dir/_keyspace")
      val f = Hfs.fs(spark, dir)
      (if (!f.exists(kd)) None
       else f.listStatus(kd).toSeq.map(_.getPath.getName)
         .collectFirst { case s if s.startsWith("eg=") => s.drop(3).toLong })
        .getOrElse(throw new IllegalStateException(
          s"SRP store at $dir predates the v2 (single-embedding-copy) " +
            "layout — rebuild it with SrpStore.write"))
    }

  /** v2-layout presence check — build-reuse gates (probes, benches)
    * call this to decide rebuild-vs-reuse for persisted store dirs */
  def isCurrentLayout(spark: SparkSession, dir: String): Boolean = {
    val f = Hfs.fs(spark, dir)
    val kd = new org.apache.hadoop.fs.Path(s"$dir/_keyspace")
    f.exists(kd) && f.listStatus(kd).toSeq
      .exists(_.getPath.getName.startsWith("eg="))
  }

  /** `embed/` dir-count policy: ~[[DirRowTarget]] rows per dir, a
    * power of two, capped so the dir count never exceeds 2048 (the
    * same per-dir-write-cost budget [[layoutShift]] enforces on the
    * bucket tree) */
  private[graft] def embedDirsFor(n: Long): Long =
    math.min(2048L,
      java.lang.Long.highestOneBit(math.max(1L, n / DirRowTarget)))

  def write(spark: SparkSession, d: String, dir: String): Unit =
    write(spark, d, dir, SrpBanded.RowsPerBand)

  def write(spark: SparkSession, d: String, dir: String, rowsPerBand: Int): Unit =
    write(spark, d, dir, rowsPerBand, None)

  /** `shiftOverride` pins the dir-group shift instead of the
    * [[layoutShift]] budget — spec hook for exercising a specific
    * layout (e.g. exact-bucket dirs for the rewrite-minimality
    * contract) independent of corpus size. */
  def write(spark: SparkSession, d: String, dir: String, rowsPerBand: Int,
            shiftOverride: Option[Int]): Unit = {
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    // cached for the duration of the writes below — the banding
    // (quantize + Bits hyperplane dots per row) is computed once.
    // Embeddings do NOT ride the banded rows (v2 layout): the bucket
    // tree stores ids only, the one full-float copy goes to embed/.
    val banded = SrpBanded.bandedOf(emb, SrpBanded.Dim, rowsPerBand)
      .select(col("vec_id"), col("band"), col("bk"))
      .cache()
    // co-locate each bucket before the partitioned write: without
    // this every input task writes its own sliver into every bucket
    // dir (task_count × dirs files — the probe path then pays a
    // file-open per sliver). At larger corpora add a salt column to
    // this repartition to split hot buckets across several writers.
    // (the count also materializes the cache the two writes reuse)
    val nPerBand = banded.count() / SrpBanded.Bands
    val shift = shiftOverride.getOrElse(layoutShift(rowsPerBand, nPerBand))
    if (shift == 0)
      banded.repartition(col("band"), col("bk"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("band", "bk")
        .parquet(s"$dir/banded")
    else
      banded.withColumn("bg", shiftright(col("bk"), shift))
        .repartition(col("band"), col("bg"))
        .sortWithinPartitions(col("bk"))
        .write.mode(SaveMode.Overwrite)
        .partitionBy("band", "bg")
        .parquet(s"$dir/banded")
    // the store's ONE full-embedding copy: partitioned by
    // eg = vec_id mod 2^E so the seed stage's exact-rerank fetch of
    // the ≤ SeedBudget cut survivors prunes to their dirs in the file
    // index; sorted by vec_id within a dir so the id InSet residual
    // prunes at parquet row-group min/max too
    val nEg = embedDirsFor(nPerBand)
    emb
      .withColumn("eg", pmod(col("vec_id"), lit(nEg)))
      .repartition(col("eg"))
      .sortWithinPartitions(col("vec_id"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("eg")
      .parquet(s"$dir/embed")
    val fsK = Hfs.fs(spark, dir)
    val kd = new org.apache.hadoop.fs.Path(s"$dir/_keyspace")
    fsK.delete(kd, true): Unit
    fsK.mkdirs(kd)
    fsK.create(new org.apache.hadoop.fs.Path(kd, s"rpb=$rowsPerBand"), false).close()
    fsK.create(new org.apache.hadoop.fs.Path(kd, s"shift=$shift"), false).close()
    fsK.create(new org.apache.hadoop.fs.Path(kd, s"eg=$nEg"), false).close()
    rpbCache.invalidate(_ == dir)
    shiftCache.invalidate(_ == dir)
    egCache.invalidate(_ == dir)
    // compact copy of the key assignment for BULK consumers (graph
    // builds, analytics): (vec_id, band, bk) is 12 B/row, and a
    // full-graph rebuild reading 2048 bucket dirs of point-probe-
    // sized files would pay the small-file tax ~2000× (measured
    // 10.8 s → 1.0 s at sf0.1). Point probes keep using the
    // partitioned layout; bulk scans use this one. Written as
    // version 0 of the merge-on-read chain (see the object doc).
    Versioned.create(spark, chain(dir), s"$dir/banding") {
      writeBanding(banded.select(col("vec_id"), col("band"), col("bk")), dir, 0)
    }
    banded.unpersist()
  }

  // a serving process opens the store ONCE and probes it per query:
  // memoize the DataFrame handle so the file index (a listing of up
  // to Bands·2^RowsPerBand partition dirs) is built once, not per
  // probe. Partition pruning still happens per query — the filter is
  // applied to the retained index, not the data.
  private val frameCache = new graft.SessionCache[String, DataFrame](8, identity)
  private def bandedFrame(spark: SparkSession, dir: String): DataFrame =
    frameCache.getOrElseUpdate(spark, dir)(spark.read.parquet(s"$dir/banded"))

  /** memoized handle on the store's single full-embedding copy */
  private def embedFrame(spark: SparkSession, dir: String): DataFrame =
    frameCache.getOrElseUpdate(spark, s"$dir/embed")(
      spark.read.parquet(s"$dir/embed"))

  /** Memoized handle on the compact `banding/` artifact — bulk
    * consumers (v23 graph build, v27 batched serve) re-read it per
    * call; caching the DataFrame keeps the file listing + footer
    * reads a one-time cost per session, like [[bandedFrame]].
    *
    * Merge-on-read view: [[Versioned.latest]] per vec_id — bulk
    * consumers pay the merge shuffle only while un-compacted deltas
    * exist. */
  def bandingFrame(spark: SparkSession, dir: String): DataFrame =
    frameCache.getOrElseUpdate(spark, s"$dir/banding") {
      val vers = Versioned.live(spark, chain(dir))
      require(vers.nonEmpty, s"no committed banding versions under $dir/banding")
      Versioned.latest(spark.read.parquet(s"$dir/banding/data"), vers, "vec_id")
    }

  /** Pruned multi-probe read: distinct (vec_id, embedding) across the
    * probed buckets, exact-scored against the query. The predicate is
    * static partition pruning — evaluated against the partition
    * listing, not the data. */
  // balanced OR tree over the ≤ Bands per-band terms: a left-deep
  // reduce builds a deep Column tree the recursive plan conversion
  // walks per node; balancing keeps the depth logarithmic.
  private def balancedOr(ps: Seq[org.apache.spark.sql.Column]): org.apache.spark.sql.Column =
    if (ps.length == 1) ps.head
    else {
      val (l, r) = ps.splitAt(ps.length / 2)
      balancedOr(l) || balancedOr(r)
    }
  /** band = b && c ∈ keys(b), OR'd over the ≤ Bands distinct bands —
    * ONE In/InSet membership node per band instead of a boolean node
    * per probed key. Semantically identical to the OR-of-equalities
    * it replaced, but constant-size: the per-key OR tree generated
    * one `bk = X` node per probed bucket, and at a corpus-scaled
    * keyspace (~38k probed buckets for the 1000×-decade batch) the
    * generated filter method crossed janino's 64 KB limit — Spark
    * disabled whole-stage codegen for the scan stage and evaluated
    * the 38k-node tree INTERPRETED per banded row (measured: the
    * stored batch serve at 4× its in-memory twin). InSet is a hash
    * lookup at any key count, in codegen, in the file-index pruning,
    * and in the parquet pushdown translation alike. */
  private def perBandIn(c: String, keys: Seq[(Int, Long)]): org.apache.spark.sql.Column =
    balancedOr(keys.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, ks) =>
      col("band") === b && col(c).isin(ks.map(_._2).distinct: _*)
    })
  private def bucketPred(keys: Seq[(Int, Long)]): org.apache.spark.sql.Column =
    perBandIn("bk", keys)

  /** The probed-bucket predicate for a store's layout: exact (band,
    * bk) terms for the default layout (both partition columns →
    * static pruning), plus the (band, bg) GROUP terms for a wide
    * store — there bg is the partition column (file-index pruning)
    * and the exact-bk conjunct pushes to parquet row-group stats. */
  private def layoutPred(shift: Int, keys: Seq[(Int, Long)]): org.apache.spark.sql.Column =
    if (shift == 0) bucketPred(keys)
    else
      perBandIn("bg", keys.map { case (b, bk) => (b, bk >> shift) }) &&
        bucketPred(keys)

  /** executed plan of the last pruned bulk banding read — spec hook */
  @volatile var lastPrunedBandingPlanThunk: () => String = () => ""
  def lastPrunedBandingPlan: String = lastPrunedBandingPlanThunk()

  /** Pruned bulk banding read for the batched stored serve (v27): the
    * union of probed (band, bk) buckets across the query set, read
    * from the partitioned `banded/` bucket layout so the predicate is
    * STATIC partition pruning (PartitionFilters decided in the file
    * index before any IO — the same contract as [[scoredPool]]'s
    * single-query read). The key union is bounded by
    * Bands·2^RowsPerBand = 2048 however many queries are batched, so
    * the seed-stage IO is O(probed buckets), never the O(corpus)
    * `banding/` artifact scan this replaced (11.8 s → bucket-bounded
    * at r8 scale). `banded/` buckets are rewritten in place by
    * [[upsert]], so this view is always the current committed state —
    * no merge-on-read resolve needed. */
  def prunedBanding(spark: SparkSession, dir: String,
                    keys: Seq[(Int, Long)]): DataFrame = {
    val pruned = bandedFrame(spark, dir)
      .filter(layoutPred(storeShift(spark, dir), keys))
      .select(col("vec_id"), col("band").cast("int").as("band"),
        col("bk").cast("long").as("bk"))
    lastPrunedBandingPlanThunk = () => pruned.queryExecution.executedPlan.toString
    pruned
  }

  /** which source the last [[batchBanding]] call picked — spec hook */
  @volatile var lastBatchBandingSource: String = ""

  /** Adaptive banding source for the BATCHED stored serve (v27). A
    * single query probes ≤ ~300 of the Bands·2^RowsPerBand = 2048
    * buckets, so the per-bucket partition-pruned read
    * ([[prunedBanding]]) is the right plan. A large query batch
    * SATURATES the bucket space — the bench's 40-query batch probes
    * 2046/2048 buckets — and "pruning" degenerates into a point-read
    * of every bucket: the same rows as a scan, plus per-bucket
    * scheduling/footer overhead ×2048 (measured 2.2 s warm vs 0.4 s
    * for the compact artifact at sf0.1). Past a saturation threshold
    * the compact `banding/` artifact — the same (vec_id, band, bk)
    * rows in a handful of column-pruned files — is strictly cheaper:
    * the bitmap-scan → sequential-scan crossover a cost-based
    * optimizer makes for the same reason. Both sources feed the seed
    * stage's equi-join against the probe set, which drops any row
    * outside a probed bucket, so the pool (and the result) is
    * bit-identical either way; at 100 TB the crossover holds because
    * the bucket count is fixed while buckets grow — probing nearly
    * all of them IS the full scan, however it's spelled. */
  def batchBanding(spark: SparkSession, dir: String,
                   keys: Seq[(Int, Long)]): DataFrame = {
    val totalBuckets = SrpBanded.Bands.toLong << storeRpb(spark, dir)
    if (keys.size * 4 <= totalBuckets) {
      lastBatchBandingSource = "pruned"
      prunedBanding(spark, dir, keys)
    } else {
      lastBatchBandingSource = "compact"
      bandingFrame(spark, dir)
    }
  }

  /** Driver-side probed-seed cache budget — the v32 layer-cache move
    * applied to this store's seed read. Whether the store fits the
    * driver is a byte question answered per store (row count ×
    * conservative JVM bytes); over budget — every 100 TB corpus — the
    * serve keeps the distributed partition-pruned scan below. `var` so
    * specs can force the distributed path and assert identity. The
    * budget is the AGGREGATE across cached stores (per-entry admission
    * = budget / [[BucketCacheEntries]] — the HnswStore layer-cache
    * convention), bounding the driver heap a many-store gateway pins. */
  @volatile var BucketCacheBudgetBytes: Long = 256L << 20
  /** cache slots; per-store admission ceiling = budget / entries */
  val BucketCacheEntries = 4
  // v2 layout: per-vector cache cost = one embedding row + Bands
  // bucket-membership ids (16 B each as boxed-ish JVM state)
  private def vectorCacheBytes: Long =
    (96L + 4L * SrpBanded.Dim) + 24L * SrpBanded.Bands
  /** which seed source the last single-query serve took — spec hook */
  @volatile var lastSeedSource: String = ""
  /** executed plan of the last pruned banded seed scan — spec hook */
  @volatile var lastSeedScanPlanThunk: () => String = () => ""
  def lastSeedScanPlan: String = lastSeedScanPlanThunk()

  /** driver image of a small store: bucket membership + the one
    * embedding copy (the v2 on-disk split, mirrored in memory) */
  private[graft] final case class LocalStore(
      buckets: Map[(Int, Long), Array[Long]],
      emb: Map[Long, Array[Float]])

  private val localStoreCache = new graft.SessionCache[(String, Long),
    Option[LocalStore]](BucketCacheEntries, _._1)

  /** The store as a driver image — bucket membership ids plus the
    * embedding map — collected once per opened store IF it fits the
    * budget (None otherwise — the cache never holds anything
    * corpus-sized). The single-query serve's remaining floor is Spark
    * jobs × scheduling overhead; with the store local, the seed stage
    * runs with zero jobs, like the HNSW descent over
    * [[HnswStore.localLayers]]. */
  private[graft] def localStore(spark: SparkSession,
      dir: String): Option[LocalStore] =
    localStoreCache.getOrElseUpdate(spark, (dir, BucketCacheBudgetBytes)) {
      val embF = embedFrame(spark, dir).select(col("vec_id"), col("embedding"))
      if (embF.count() * vectorCacheBytes >
          BucketCacheBudgetBytes / BucketCacheEntries) None
      else {
        val buckets = bandedFrame(spark, dir)
          .select(col("band").cast("int").as("band"),
            col("bk").cast("long").as("bk"), col("vec_id"))
          .collect()
          .groupBy(r => (r.getInt(0), r.getLong(1)))
          .map { case (k, rows) => k -> rows.map(_.getLong(2)) }
        val emb = embF.collect()
          .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
        Some(LocalStore(buckets, emb))
      }
    }

  /** [[scoredPool]] computed driver-side from the local store image:
    * probed buckets looked up locally, the FULL pool scored by the
    * kernel's bit-identical local twin
    * ([[graft.functions.vectors.cosine_sim_local]]), deduped per
    * vec_id (band copies would carry bit-identical sims). None when
    * the store is over budget — caller falls back to the pruned scan. */
  private[graft] def scoredPoolLocal(spark: SparkSession, dir: String,
      queryVec: Array[Float],
      probeRadius: Int = 2): Option[Seq[(Long, Double)]] =
    localStore(spark, dir).map { ls =>
      val keys = SrpBanded.queryProbeKeys(queryVec, probeRadius,
        storeRpb(spark, dir))
      keys.iterator
        .flatMap(k => ls.buckets.getOrElse(k, Array.empty[Long]))
        .toSeq.distinct
        .map(id =>
          (id, graft.functions.vectors.cosine_sim_local(ls.emb(id), queryVec)))
    }

  /** The pruned banded seed read alone — (vec_id, band, bk) of the
    * probed buckets, partition-pruned; the pool stage [[scoredPool]]
    * aggregates (also the plan-shape spec's hook) */
  private[graft] def prunedSeedRows(spark: SparkSession, dir: String,
      queryVec: Array[Float], probeRadius: Int = 2): DataFrame = {
    val rpb = storeRpb(spark, dir)
    val probe = layoutPred(storeShift(spark, dir),
      SrpBanded.queryProbeKeys(queryVec, probeRadius, rpb))
    bandedFrame(spark, dir)
      .filter(probe) // partition-pruned scan
      .select(col("vec_id"), col("band").cast("int").as("band"),
        col("bk").cast("long").as("bk"))
  }

  /** The stored single-query scored pool (v2): pruned ids-only bucket
    * read → distinct pool ids → exact cosine from the `embed/` copy,
    * all in ONE lazy distributed plan (the pool side is tiny — AQE
    * broadcasts it into the embed scan). The FULL pool is scored
    * exactly, like the in-memory twin: a SeedBudget-style pre-scoring
    * cut was measured here in r14 and rejected (walk recall@10 at the
    * 10× decade fell 0.955 → 0.670 — the probing-sequence signals
    * cannot break the (radius-2, one-collision) tie mass; see
    * [[SrpBanded.scoredProbePool]]). The pool is O(log²N)-bounded by
    * the keyspace policy, so the embed-side read is the serve's cost
    * floor at scale — the same bytes the v1 in-row layout read from
    * its probed buckets, paid once instead of stored 8×. */
  def scoredPool(spark: SparkSession, dir: String,
                 queryVec: Array[Float], probeRadius: Int = 2): DataFrame = {
    val pruned = prunedSeedRows(spark, dir, queryVec, probeRadius)
    lastSeedScanPlanThunk = () => pruned.queryExecution.executedPlan.toString
    val ids = pruned.select(col("vec_id")).distinct()
    embedFrame(spark, dir)
      .join(ids, Seq("vec_id"))
      .select(col("vec_id"),
        vectors.cosine_sim(col("embedding"), typedLit(queryVec)).as("sim"))
  }

  /** v19 served from the persisted table: identical results to
    * [[SrpBanded.graphSearch]] (same pool, same IEEE floats), but the
    * seed read touches only the probed partitions instead of banding
    * the whole corpus per query. */
  def graphSearch(spark: SparkSession, d: String, dir: String,
                  queryVec: Array[Float], k: Int = 10, beam: Int = 8,
                  iters: Int = 2, maxEntries: Int = 64, graphK: Int = 5,
                  probeRadius: Int = 2): DataFrame =
    scoredPoolLocal(spark, dir, queryVec, probeRadius) match {
      case Some(pool) =>
        lastSeedSource = "local"
        SrpBanded.graphSearchFromLocal(spark, d, pool,
          queryVec, k, beam, iters, maxEntries, graphK)
      case None =>
        lastSeedSource = "pruned"
        SrpBanded.graphSearchFrom(spark, d,
          scoredPool(spark, dir, queryVec, probeRadius),
          queryVec, k, beam, iters, maxEntries, graphK)
    }

  /** v28: FULLY store-backed serving — seeds read from this store's
    * pruned bucket partitions AND hops over a persisted
    * [[EdgeStore]] edge table (the refined v21 graph). Nothing is
    * trained, hashed or graph-built at query time, and NO stage reads
    * the corpus table (note the signature: no corpus dir): seeds
    * score the embeddings stored in the probed buckets, hops score
    * the embeddings stored in the pruned edge rows. A fresh serving
    * process answers its first query from three on-disk artifacts
    * (buckets, banding, edges). Results are identical to the
    * in-memory refined path ([[SrpBanded.graphSearchRefined]] — same
    * pool, same edges, same IEEE floats). */
  def graphSearchCold(spark: SparkSession, dir: String,
                      edgeDir: String, queryVec: Array[Float],
                      k: Int = 10, beam: Int = 8, iters: Int = 2,
                      maxEntries: Int = 64, graphK: Int = 5,
                      probeRadius: Int = 2): DataFrame =
    SrpBanded.topKCut(spark,
      walkVisitedCold(spark, dir, edgeDir, queryVec, beam, iters,
        maxEntries, graphK, probeRadius), k)

  /** v28's walk returning the FULL visited set (the filtered serve's
    * candidate generator) — seeds from the driver bucket cache when
    * the store fits its per-store admission share
    * ([[BucketCacheBudgetBytes]] / [[BucketCacheEntries]] — the
    * budget is the aggregate across cached stores), from the pruned
    * bucket scan otherwise; identical candidates either way. */
  private[graft] def walkVisitedCold(spark: SparkSession, dir: String,
      edgeDir: String, queryVec: Array[Float], beam: Int, iters: Int,
      maxEntries: Int, graphK: Int,
      probeRadius: Int): Seq[(Long, Double)] = {
    val edges = Some((fr: Seq[Long]) => EdgeStore.edgesFor(spark, edgeDir, fr))
    scoredPoolLocal(spark, dir, queryVec, probeRadius) match {
      case Some(pool) =>
        lastSeedSource = "local"
        SrpBanded.walkFromSeed(spark, dir,
          pool.sortWith(SrpBanded.simDescIdAsc).take(maxEntries),
          queryVec, beam, iters, graphK, edgesFor = edges)
      case None =>
        lastSeedSource = "pruned"
        SrpBanded.graphWalkVisited(spark, dir,
          scoredPool(spark, dir, queryVec, probeRadius),
          queryVec, beam, iters, maxEntries, graphK, edgesFor = edges)
    }
  }

  /** Incremental maintenance — the SRP analogue of
    * [[IvfStore.upsert]]: new/updated vectors are banded against the
    * PINNED hyperplanes (no retraining — the planes are data-
    * independent, so unlike IVF there is no drift to re-balance) and
    * only the touched (band, bk) bucket partitions are rewritten via
    * dynamic partition overwrite: buckets gaining rows plus buckets
    * holding a stale copy of an updated id (an updated embedding can
    * move buckets). The compact `banding/` artifact gets an APPENDED
    * O(update) delta version ([[Versioned.append]]), published only
    * after the bucket writes succeed — the durable pre-upsert banding
    * is never rewritten or torn, and the upsert is safely re-runnable.
    * Returns the touched (band, dir key) pairs — exact bk for an
    * ungrouped layout, bg otherwise. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame): Seq[(Int, Long)] = {
    val rpb = storeRpb(spark, dir)
    val shift = storeShift(spark, dir)
    // partition key of the touched-bucket rewrite: the exact bucket
    // key for an ungrouped layout, the bucket GROUP otherwise (see
    // [[layoutShift]] — the dir granularity IS the rewrite
    // granularity, so touched keys are partition keys either way)
    val pk = if (shift == 0) "bk" else "bg"
    val upd = updates
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val newBanded0 = SrpBanded.bandedOf(upd, SrpBanded.Dim, rpb)
      .select(col("vec_id"), col("band"), col("bk"))
    val newBanded = if (shift == 0) newBanded0
      else newBanded0.withColumn("bg", shiftright(col("bk"), shift))
    // partition-column types are inferred on read (bk fits int at
    // this key width); normalize to the written long/int shape
    val store = bandedFrame(spark, dir)
      .withColumn("band", col("band").cast("int"))
      .withColumn("bk", col("bk").cast("long"))
      .transform(df => if (shift == 0) df
        else df.withColumn("bg", col("bg").cast("long")))
    val updIds = upd.select(col("vec_id")).distinct()
    val oldKeys = store.join(broadcast(updIds), Seq("vec_id"))
      .select(col("band"), col(pk)).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val newKeys = newBanded.select(col("band"), col(pk)).distinct()
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    val touched = (oldKeys ++ newKeys).distinct.sorted.toSeq
    // the version's write is steps 1-2b; Versioned.append clears a
    // torn leftover before it, and publishes + folds after it
    if (touched.nonEmpty) Versioned.append(spark, chain(dir), compactBanding(spark, dir)) { nextVer =>
      // 1. append the banding delta UNCOMMITTED: O(update) bytes into
      //    a fresh __ver partition, invisible until published
      writeBanding(newBanded.select(col("vec_id"), col("band"), col("bk")), dir, nextVer)
      // 2. bucket rewrites — survivors: touched-bucket rows minus
      //    stale copies of updated ids; lineage broken before
      //    overwriting the files it reads
      val touchedPred = perBandIn(pk, touched)
      val survivors = store.filter(touchedPred)
        .join(broadcast(updIds), Seq("vec_id"), "left_anti")
      val merged = survivors.unionByName(newBanded)
        .repartition(col("band"), col(pk))
        .transform(df => if (shift == 0) df else df.sortWithinPartitions(col("bk")))
        .localCheckpoint(true)
      try {
        merged.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("band", pk)
          .parquet(s"$dir/banded")
        // a bucket emptied by a move appears in no output row and
        // dynamic overwrite would leave its stale file — delete it
        val present = merged.select(col("band"), col(pk)).distinct()
          .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
        val emptied = touched.filterNot(present)
        if (emptied.nonEmpty) {
          val f = Hfs.fs(spark, dir)
          emptied.foreach { case (b, v) =>
            f.delete(new org.apache.hadoop.fs.Path(
              s"$dir/banded/band=$b/$pk=$v"), true): Unit
          }
        }
      } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(merged)
      // 2b. embed/ rewrite: eg = vec_id mod 2^E never changes with an
      //     embedding update, so each updated id rewrites IN its own
      //     eg dir — touched dirs = the update ids' dirs, no moves, no
      //     emptied-dir sweep. Survivors keep the vec_id sort the
      //     point-fetch row-group-prunes on.
      val nEg = storeEg(spark, dir)
      val egTouched = updIds.collect().map(r =>
        Math.floorMod(r.getLong(0), nEg)).distinct.toSeq
      val embSurv = embedFrame(spark, dir)
        .withColumn("eg", col("eg").cast("long"))
        .filter(col("eg").isin(egTouched: _*))
        .join(broadcast(updIds), Seq("vec_id"), "left_anti")
      val embMerged = embSurv
        .unionByName(upd.withColumn("eg", pmod(col("vec_id"), lit(nEg))))
        .repartition(col("eg"))
        .sortWithinPartitions(col("vec_id"))
        .localCheckpoint(true)
      try embMerged.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("eg")
        .parquet(s"$dir/embed")
      finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(embMerged)
    }
    touched
  }

  /** [[Versioned.fold]] the banding chain back into ONE full copy:
    * one column-pruned O(corpus) scan+write, amortized over
    * [[Versioned.CompactAfter]] O(update) upserts. */
  def compactBanding(spark: SparkSession, dir: String): Unit =
    Versioned.fold(spark, chain(dir))(writeBanding(bandingFrame(spark, dir), dir, _))

  /** v23: the v18 graph BUILD served from the persisted banding. The
    * expensive per-row hashing (quantize + Bits hyperplane dots) was
    * paid once at [[write]] time; a rebuild — e.g. after re-tuning
    * graphK, or as the input to an NN-Descent refinement — reads the
    * compact `banding/` artifact (12 B/row, few large files — not the
    * 2048 probe-sized bucket dirs) and self-joins inside each bucket.
    * Identical output to [[SrpBanded.knnGraph]] — same candidates,
    * same IEEE scores. */
  def knnGraphStored(spark: SparkSession, d: String, k: Int = 5): DataFrame =
    SrpBanded.knnGraphFromBanded(spark, d,
      bandingFrame(spark, storeFor(spark, d)), k)

  // one store per (corpus dir, key width), built lazily for the
  // queries() entry — a real deployment writes it once at ingest time
  // (like IvfStore), picking the width from the corpus row count
  // ([[SrpBanded.rowsPerBandFor]])
  private val storeCache =
    new graft.SessionCache[(String, Int), String](4, _._1, TempStores.delete)
  def storeFor(spark: SparkSession, d: String): String =
    storeFor(spark, d, SrpBanded.RowsPerBand)
  def storeFor(spark: SparkSession, d: String, rowsPerBand: Int): String =
    storeCache.getOrElseUpdate(spark, (d, rowsPerBand)) {
      val dir = TempStores.track(
        java.nio.file.Files.createTempDirectory("srpstore").toString)
      write(spark, d, dir, rowsPerBand)
      dir
    }
}
