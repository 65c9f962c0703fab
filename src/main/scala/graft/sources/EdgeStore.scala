package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SrpBanded
import graft.functions.{bound, vectors}

/** Persisted k-NN graph edges — the third and last index artifact a
  * graph-ANN serving process needs on disk (reference role: sql/05's
  * always-resident index). With [[SrpStore]] (seed buckets + compact
  * banding) and this edge table, a FRESH session serves queries with
  * zero training or graph construction at startup: seeds come from
  * pruned bucket partitions, hops from pruned edge point reads.
  *
  * Rows are `(src, dst, dst_emb)` — the DESTINATION EMBEDDING rides in
  * the edge row (the HNSW-paper layout: vectors live with the graph),
  * exactly as [[SrpStore]] keeps embeddings in its seed buckets. A hop
  * therefore scores what it reads: the serve path never joins back to
  * the corpus table, so a beam step at 100 TB is O(frontier·graphK)
  * rows of pruned IO, not a corpus scan. The space cost (embedding ×
  * out-degree per vector) is the standard graph-index trade, identical
  * to what any HNSW deployment pays.
  *
  * Layout — a merge-on-read [[Versioned]] chain rooted at `edges/`
  * (markers and crash contract there):
  * {{{
  *   <dir>/edges/data/__ver=N/pb=<p>/   (src, dst, dst_emb)
  * }}}
  * `pb = pmod(src, EdgePartitions)`. A version REPLACES the full edge
  * set of every src it contains (latest version per src wins), with a
  * null-dst tombstone for a src whose edges disappear. [[upsert]]
  * therefore APPENDS an O(update) delta and never rewrites committed
  * data. [[compact]] folds the chain back to one full copy after
  * [[Versioned.CompactAfter]] commits.
  */
object EdgeStore {

  /** src-hash partition count: coarse enough that a store stays a few
    * files per partition, fine enough that a small upsert's
    * neighborhood touches a strict subset */
  val EdgePartitions = 64

  private[graft] def chain(dir: String): Versioned.Chain =
    Versioned.Chain(dir, s"$dir/edges", v => Seq(s"$dir/edges/data/__ver=$v"))

  /** write one version's rows (src, dst, dst_emb, pb) */
  private def writeVer(rows: DataFrame, dir: String, v: Int): Unit =
    rows.withColumn("__ver", lit(v))
      .repartition(col("pb"))
      .write.mode(SaveMode.Append)
      .partitionBy("__ver", "pb")
      .parquet(s"$dir/edges/data")

  /** Full build: `edges` must carry (src, dst, dst_emb) — the
    * checkpointed serve graphs ([[SrpBanded.materializedGraph]] /
    * [[SrpBanded.materializedRefinedGraph]]) already do. Written as
    * version 0 of the chain. */
  def write(spark: SparkSession, edges: DataFrame, dir: String): Unit =
    Versioned.create(spark, chain(dir), s"$dir/edges") {
      writeVer(edges.select(col("src"), col("dst"), col("dst_emb"))
        .withColumn("pb", pmod(col("src"), lit(EdgePartitions.toLong))), dir, 0)
    }

  // a serving process opens the edge table once; the handle caches
  // the file listing, reads stay lazy per query
  private val frameCache = new graft.SessionCache[String, DataFrame](8, identity)

  /** Merge-on-read view with the `pb` column retained (for pruned
    * consumers): [[Versioned.latest]] per (pb, src) — pb is a pure
    * function of src, so the groups are those of src, and pb/src
    * predicates push below the window — with tombstones dropped. */
  private def resolvedFrame(spark: SparkSession, dir: String): DataFrame =
    frameCache.getOrElseUpdate(spark, dir) {
      val vers = Versioned.live(spark, chain(dir))
      require(vers.nonEmpty, s"no committed edge versions under $dir/edges")
      Versioned.latest(spark.read.parquet(s"$dir/edges/data")
        .select(col("src"), col("dst"), col("dst_emb"),
          col("pb").cast("long").as("pb"), col("__ver").cast("int").as("__ver")),
        vers, "pb", "src")
        .filter(col("dst").isNotNull)
    }

  /** Bulk handle: the resolved (src, dst, dst_emb) edge set. STABLE
    * per (session, dir) — consumers key identity-memoized decisions on
    * the frame (SrpBanded.maybeBroadcastEdges' count cache), and a
    * fresh `.select` wrapper per call made every such memo miss (r17:
    * one count job per v34 serve). */
  def read(spark: SparkSession, dir: String): DataFrame =
    readCache.getOrElseUpdate(spark, dir) {
      resolvedFrame(spark, dir).select(col("src"), col("dst"), col("dst_emb"))
    }
  private val readCache = new graft.SessionCache[String, DataFrame](8, identity)

  /** executed plan of the last pruned hop read — spec hook for the
    * partition-pruning assertion */
  @volatile var lastEdgePlanThunk: () => String = () => ""
  def lastEdgePlan: String = lastEdgePlanThunk()

  /** Pruned point read: the frontier's out-edges (dst + in-row
    * embedding). `pb ∈ frontier-pbs` prunes in the file index before
    * any IO; the hop that consumes this scores the rows it gets —
    * the whole serve path is store-files-only. */
  def edgesFor(spark: SparkSession, dir: String, frontier: Seq[Long]): DataFrame = {
    val pbs = frontier.map(Math.floorMod(_, EdgePartitions.toLong)).distinct
    val step = resolvedFrame(spark, dir)
      .filter(bound.isin(col("pb"), pbs) && bound.isin(col("src"), frontier))
      .select(col("src"), col("dst"), col("dst_emb"))
    lastEdgePlanThunk = () => step.queryExecution.executedPlan.toString
    step
  }

  /** Incremental graph maintenance — the edge-table analogue of
    * [[SrpStore.upsert]], closing the staleness window where an
    * upserted vector was findable through its seed buckets but never
    * reachable as a hop DESTINATION until a full rebuild.
    *
    * After the corpus table (ingest upsert) and the SRP store
    * ([[SrpStore.upsert]]) have absorbed `updates`, the touched
    * neighborhood is re-scored and its new edge sets are APPENDED as
    * one committed O(update) delta version:
    *
    *  - touched sources = the upserted ids, every id sharing a seed
    *    bucket with one (the collision set — exactly the candidate
    *    generator the full v18 build uses, so an upserted vector is
    *    adopted by the same sources a rebuild would give it), and
    *    every current reverse neighbor of an updated id (its old
    *    adopters must re-rank it under its new embedding);
    *  - candidates per touched source = its bucket collisions plus
    *    its current edges (the NN-Descent-refined survivors — kept so
    *    refinement quality is not thrown away on untouched
    *    neighbors);
    *  - exact cosine, top-`graphK` per source, same (sim DESC, dst)
    *    tie-break as every graph build here — deterministic;
    *  - a touched source with no surviving edges gets a tombstone.
    *
    * `d` must be the post-ingest corpus dir (the scoring join reads
    * its embeddings, updates included). Cost is O(neighborhood), not
    * O(corpus): the delta is a [[Versioned.append]], committed
    * partitions are never rewritten.
    * Returns the delta's `pb` partitions (what a spec asserts
    * minimality against). */
  def upsert(spark: SparkSession, edgeDir: String, d: String, srpDir: String,
             updates: DataFrame, graphK: Int = 5): Seq[Long] = {
    import org.apache.spark.sql.expressions.Window
    val upd = updates
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"))
    val updIds = upd.distinct()
    val banding = SrpStore.bandingFrame(spark, srpDir)
      .withColumn("band", col("band").cast("int"))
      .withColumn("bk", col("bk").cast("long"))
    val edges = read(spark, edgeDir)
    // the upserted ids' buckets, then everyone in them
    val updKeys = banding.join(broadcast(updIds), Seq("vec_id"))
      .select(col("band"), col("bk")).distinct()
    val collisions = banding.join(broadcast(updKeys), Seq("band", "bk"))
      .select(col("vec_id")).distinct()
    val revNeighbors = edges
      .join(broadcast(updIds.withColumnRenamed("vec_id", "dst")), Seq("dst"))
      .select(col("src").as("vec_id"))
    val touchedSrc = collisions.union(revNeighbors).union(updIds)
      .distinct().localCheckpoint(true)
    try {
      // candidates: bucket collisions of the touched sources + their
      // current (refined) edges
      val tBand = banding.join(touchedSrc, Seq("vec_id"))
        .select(col("band"), col("bk"), col("vec_id").as("src"))
      val cand = tBand
        .join(banding.select(col("band"), col("bk"), col("vec_id").as("dst")),
          Seq("band", "bk"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .union(edges.join(touchedSrc.withColumnRenamed("vec_id", "src"), Seq("src"))
          .select(col("src"), col("dst")))
        .distinct()
      val emb = graft.Tables.embeddings(spark, d)
        .filter(col("embedding").isNotNull &&
          size(col("embedding")) === SrpBanded.Dim)
        .select(col("vec_id"), col("embedding"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("sim").desc, col("dst"))
      val newEdges = cand
        .join(emb.select(col("vec_id").as("src"), col("embedding").as("emb_s")), Seq("src"))
        .join(emb.select(col("vec_id").as("dst"), col("embedding").as("emb_d")), Seq("dst"))
        .select(col("src"), col("dst"), col("emb_d").as("dst_emb"),
          vectors.cosine_sim(col("emb_s"), col("emb_d")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= graphK)
        .select(col("src"), col("dst"), col("dst_emb"))
      // a touched source with no surviving edges (e.g. its embedding
      // went null) must MASK its old edges: null-dst tombstone
      val tomb = touchedSrc.withColumnRenamed("vec_id", "src")
        .join(newEdges.select(col("src")).distinct(), Seq("src"), "left_anti")
        .select(col("src"), lit(null).cast("long").as("dst"),
          lit(null).cast("array<float>").as("dst_emb"))
      val delta = newEdges.unionByName(tomb)
        .withColumn("pb", pmod(col("src"), lit(EdgePartitions.toLong)))
        .localCheckpoint(true)
      try {
        Versioned.append(spark, chain(edgeDir), compact(spark, edgeDir))(
          writeVer(delta, edgeDir, _))
        delta.select(col("pb")).distinct().collect().map(_.getLong(0)).sorted.toSeq
      } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(delta)
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(touchedSrc)
  }

  /** [[Versioned.fold]] the chain back into ONE full copy: one
    * O(store) scan+write amortized over [[Versioned.CompactAfter]]
    * O(update) deltas. */
  def compact(spark: SparkSession, dir: String): Unit =
    Versioned.fold(spark, chain(dir))(writeVer(resolvedFrame(spark, dir), dir, _))

  // one refined-edge store per corpus dir, built lazily for the
  // queries() entry — a real deployment writes it after each offline
  // graph build/refinement
  private val storeCache = new graft.SessionCache[String, String](4, identity, TempStores.delete)
  def refinedStoreFor(spark: SparkSession, d: String): String =
    storeCache.getOrElseUpdate(spark, d) {
      val dir = TempStores.track(
        java.nio.file.Files.createTempDirectory("edgestore").toString)
      write(spark, SrpBanded.materializedRefinedGraph(spark, d), dir)
      dir
    }
}
