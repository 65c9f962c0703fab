package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Hnsw, SrpBanded}
import graft.functions.bound

/** Persisted HNSW hierarchy — the on-disk artifact set the
  * hierarchical serve path ([[graft.operators.Hnsw]], v31) needs so a
  * FRESH session answers queries with zero graph construction — and
  * zero corpus access — at query time (the v28 contract, extended to
  * the layered family):
  *
  *  - `<dir>/layers/data/__ver=<n>/layer=<l>/pb=<p>/` — the upper-
  *    layer navigation edges `(src, dst, dst_emb)`, partitioned by
  *    version, layer and `pb = pmod(src, n)`, `n` sized from the
  *    layers' bytes ([[StoreLayout]]; at most [[LayerPartitions]]) and
  *    pinned under `layers/layout/v<n>/` by the write or fold that
  *    chose it. The DESTINATION EMBEDDING rides in the edge row (the
  *    HNSW-paper layout), so a descent step scores what it reads — ≤ DescentBeam
  *    sources' edges, pruned to one layer × the frontier's pb buckets
  *    in the file index. Point reads, never corpus scans.
  *    The layers are a merge-on-read [[Versioned]] chain rooted at
  *    `layers/` (markers and crash contract there): latest version
  *    per (layer, src) wins, null-dst tombstones mask removed
  *    sources. [[upsert]] APPENDS an O(update) delta.
  *  - `<dir>/entry/v<n>/` — the hierarchy's entry point (one row:
  *    vec_id + embedding), a data dir of layer version n. The entry
  *    is a pure function of the corpus, persisted at write time so
  *    serving never runs the corpus-wide level aggregation.
  *  - `<dir>/l0/` — the layer-0 beam graph in the [[EdgeStore]]
  *    layout (v18's edges by default, matching v31), embeddings
  *    in-row there too.
  *
  * Levels are a pure function of vec_id (the md5 rule), so the store
  * needs no level table — membership is recomputed, never stored,
  * and can therefore never go stale.
  */
object HnswStore {

  /** src-hash partition cap per layer (the count of layers of
    * ≥ 16 × 4 MB): upper layers thin 4× per level, so coarser than
    * EdgeStore's 64 keeps files non-tiny */
  val LayerPartitions = 16

  /** a layer version's data: its `__ver` partition, its entry and (a
    * full build's or fold's) pb count */
  private[graft] def chain(dir: String): Versioned.Chain =
    Versioned.Chain(dir, s"$dir/layers",
      v => Seq(s"$dir/layers/data/__ver=$v", s"$dir/entry/v$v",
        StoreLayout.dir(s"$dir/layers", v)))

  /** write one version: layer rows (src, dst, dst_emb, layer) in
    * `buckets` pb buckets, and the entry point */
  private def writeVer(spark: SparkSession, dir: String, v: Int, layers: DataFrame,
                       entry: (Long, Array[Float]), buckets: Int): Unit = {
    import spark.implicits._
    layers.withColumn("pb", pmod(col("src"), lit(buckets.toLong)))
      .withColumn("__ver", lit(v))
      .repartition(col("layer"), col("pb"))
      .write.mode(SaveMode.Append)
      .partitionBy("__ver", "layer", "pb")
      .parquet(s"$dir/layers/data")
    Seq(entry).toDF("vec_id", "embedding")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/entry/v$v")
  }

  /** write `layers` (`count` rows) as version v at the count their
    * size gives (a full build or a fold), and pin that count as v's
    * layout */
  private def writeSized(spark: SparkSession, dir: String, v: Int, layers: DataFrame,
                         count: Long, entry: (Long, Array[Float])): Unit =
    StoreLayout.writeSized(spark, s"$dir/layers", v, count, EdgeStore.RowBytes, LayerPartitions)(
      writeVer(spark, dir, v, layers, entry, _))

  def write(spark: SparkSession, d: String, dir: String): Unit = {
    Versioned.create(spark, chain(dir), s"$dir/layers", s"$dir/entry") {
      val layers = (1 to Hnsw.MaxLevel).map { l =>
        Hnsw.layerGraph(spark, d, l).withColumn("layer", lit(l))
      }.reduce(_ unionByName _)
      writeSized(spark, dir, 0, layers, layers.count(), Hnsw.entryFor(spark, d))
    }
    EdgeStore.write(spark, SrpBanded.materializedGraph(spark, d, 5), s"$dir/l0")
  }

  private val frameCache = new graft.SessionCache[String, (DataFrame, Int)](8, identity)
  private val entryCache = new graft.SessionCache[String, (Long, Array[Float])](8, identity)

  /** Merge-on-read view of the hierarchy: [[Versioned.latest]] per
    * (layer, pb, src), so layer/pb/src predicates push below the
    * window, with tombstones dropped. */
  def layersFrame(spark: SparkSession, dir: String): DataFrame = layers(spark, dir)._1

  /** the pb count the live layers were written at */
  private[graft] def layerBuckets(spark: SparkSession, dir: String): Int = layers(spark, dir)._2

  /** [[layersFrame]] with its pb count, memoized together so a
    * descent never pairs a frame with another version set's count */
  private def layers(spark: SparkSession, dir: String): (DataFrame, Int) =
    Versioned.memo(frameCache, spark, dir, chain(dir)) { vers =>
      (Versioned.latest(spark.read.parquet(s"$dir/layers/data")
        .select(col("src"), col("dst"), col("dst_emb"),
          col("layer").cast("int").as("layer"), col("pb").cast("long").as("pb"),
          col("__ver").cast("int").as("__ver")),
        vers, "layer", "pb", "src")
        .filter(col("dst").isNotNull),
        StoreLayout.pinned(spark, s"$dir/layers", vers, LayerPartitions))
    }

  /** The persisted entry point: read once per store handle — serving
    * never touches the corpus to find (or score) its entry. */
  def storedEntry(spark: SparkSession, dir: String): (Long, Array[Float]) =
    Versioned.memo(entryCache, spark, dir, chain(dir)) { vers =>
      val r = spark.read.parquet(s"$dir/entry/v${vers.max}").collect()(0)
      (r.getAs[Long]("vec_id"), r.getSeq[Float](1).toArray)
    }

  /** executed plan of the last descent-step layer read — spec hook
    * for the partition-pruning assertion */
  @volatile var lastLayerPlanThunk: () => String = () => ""
  def lastLayerPlan: String = lastLayerPlanThunk()
  /** which layers the last serve answered from driver images (0 is
    * the `l0` beam walk) — spec hook for the local-serve contract */
  @volatile var lastLocalLayers: Set[Int] = Set.empty

  /** The upper layers as one [[Resident]] image, layer → src → (dst,
    * dst_emb): each layer counted from its `layer=L` footers and
    * admitted top first (the 4× thinning makes the top cheapest) within
    * one share, then collected in one job. A layer with no edges is an
    * empty map; one over what is left keeps the pruned (layer, pb)
    * read. `l0` is an [[EdgeStore]] image with its own share. */
  private[graft] def localLayers(spark: SparkSession,
      dir: String): Map[Int, Resident.Adjacency] =
    Resident.image(spark, "layers", chain(dir)) { (vers, share) =>
      val admit = (Hnsw.MaxLevel to 1 by -1).foldLeft((share, Seq.empty[Int])) {
        case ((left, ok), l) =>
          val b = Resident.VectorBytes * StoreLayout.footerRows(spark,
            vers.map(v => s"$dir/layers/data/__ver=$v/layer=$l"))
          if (b <= left) (left - b, ok :+ l) else (left, ok)
      }._2
      val rows = layersFrame(spark, dir).filter(col("layer").isin(admit: _*))
        .select(col("src"), col("dst"), col("dst_emb"), col("layer")).collect().groupBy(_.getInt(3))
      Some(admit.map(l => l -> Resident.adjacency(rows.getOrElse(l, Array.empty[Row]))).toMap)
    }.getOrElse(Map.empty)

  /** The store-backed fetch, layer 0 included: a driver-image hit
    * where the layer is resident, pruned point read otherwise ((layer,
    * pb) of the upper layers, [[EdgeStore.fetchScored]] on `l0`) — the
    * SAME edges and bit-identical scores either way. */
  private def storeFetch(spark: SparkSession, dir: String,
      queryVec: Array[Float]): (Int, Seq[Long]) => Map[Long, Array[(Long, Double)]] = {
    val cached = localLayers(spark, dir)
    val hop = EdgeStore.fetchScored(spark, s"$dir/l0", queryVec)
    lastLocalLayers = cached.keySet ++ Option.when(EdgeStore.lastHopSource == "local")(0)
    val (frame, n) = layers(spark, dir)
    (l, frontier) =>
      cached.get(l) match {
        case Some(m) => Hnsw.fetchScoredLocal(m, frontier, queryVec)
        case None if l == 0 => hop(frontier)
        case None =>
          val pbs = frontier.map(Math.floorMod(_, n.toLong)).distinct
          val step = frame
            .filter(col("layer") === l && bound.isin(col("pb"), pbs) &&
              bound.isin(col("src"), frontier))
          lastLayerPlanThunk = () => step.queryExecution.executedPlan.toString
          Hnsw.fetchScoredDf(step, queryVec)
      }
  }

  /** v32: v31's search served ENTIRELY from the persisted artifacts —
    * entry from `entry/`, descent steps and layer-0 hops from the
    * [[Resident]] images, or where an image is over its share from
    * pruned (layer, pb) partitions and the stored [[EdgeStore]] — all of
    * which carry their embeddings in-row, so no stage of the serve
    * path reads the corpus table (note the signature: no corpus dir).
    * One scored fetch serves both the descent and the beam walk, so
    * a warm serve with every layer resident runs no Spark job (the
    * emission is a local relation). Identical rows to the
    * in-memory path (same edges, same IEEE scores), so it shares v31's
    * oracle. */
  def search(spark: SparkSession, dir: String,
             queryVec: Array[Float], k: Int = 10, beam: Int = 16,
             iters: Int = 3, maxEntries: Int = 64): DataFrame = {
    val fetch = storeFetch(spark, dir, queryVec)
    val pool = Hnsw.descentPoolBy(spark, storedEntry(spark, dir), queryVec, fetch)
    SrpBanded.graphSearchFromLocal(spark, pool, k, beam, iters, maxEntries, fetch(0, _))
  }

  /** Metadata-filtered serve for the hierarchy family — v39's
    * strategy over the stored HNSW walk: selective predicates take
    * [[FilteredServe]]'s pruned exact ranking (the hierarchy is not
    * opened), broad ones run the UNFILTERED descent + layer-0 beam
    * (connectivity preserved) and post-filter the walk's bounded
    * visited set through the pruned byid read, escalating
    * maxEntries/beam on the shared schedule before the exact
    * fallback. `metaDir` is any dir [[FilteredServe.writeMeta]]
    * populated (the SRP store dir in the default wiring). */
  def searchFiltered(spark: SparkSession, dir: String, metaDir: String,
                     queryVec: Array[Float], pred: Seq[(String, String)],
                     k: Int = 10, beam: Int = 16, iters: Int = 3,
                     maxEntries: Int = 64,
                     exactScanMax: Long = FilteredServe.ExactScanMax,
                     codeScanMax: Long = FilteredServe.CodeScanMax): DataFrame =
    searchFilteredTerms(spark, dir, metaDir, queryVec, MetaTerm.ofPairs(pred),
      k, beam, iters, maxEntries, exactScanMax, codeScanMax)

  /** [[searchFiltered]] for typed-term conjunctions — the hierarchy
    * walks unfiltered and post-filters its bounded visited set through
    * the byid point read carrying the full typed comparison */
  def searchFilteredTerms(spark: SparkSession, dir: String, metaDir: String,
                     queryVec: Array[Float], terms: Seq[MetaTerm],
                     k: Int = 10, beam: Int = 16, iters: Int = 3,
                     maxEntries: Int = 64,
                     exactScanMax: Long = FilteredServe.ExactScanMax,
                     codeScanMax: Long = FilteredServe.CodeScanMax): DataFrame =
    FilteredServe.searchFilteredByTerms(spark, metaDir, queryVec, terms, k,
      exactScanMax, codeScanMax) { f =>
      val fetch = storeFetch(spark, dir, queryVec)
      val pool = Hnsw.descentPoolBy(spark, storedEntry(spark, dir), queryVec, fetch)
      SrpBanded.walkFromSeed(pool.sortWith(SrpBanded.simDescIdAsc).take(maxEntries * f),
        beam * math.min(f, 4), iters, fetch(0, _))
    }

  /** v34: the BATCHED hierarchical serve ([[Hnsw.searchBatch]], v33)
    * over the persisted hierarchy — stored entry, stored layer edges,
    * stored layer-0 graph; zero graph construction at query time.
    * The batch stages are bulk equi-joins on src, so the layer reads
    * are full committed-partition scans (the right shape for a batch,
    * as v27/v29 are for their families). Shares v33's oracle. */
  def searchBatch(spark: SparkSession, d: String, dir: String, queryMod: Int,
                  k: Int = 5, beam: Int = 16, iters: Int = 3,
                  maxEntries: Int = 64): DataFrame = {
    Hnsw.searchBatch(spark, d, queryMod, k, beam, iters, maxEntries,
      // per-layer slices memoized so the walk's size-keyed broadcast
      // decision (SrpBanded.maybeBroadcastEdges, identity-keyed count
      // memo) pays its count once per (store version, layer), not per
      // serve
      layerSource = Some(l => Versioned.memo(layerSliceCache, spark, (dir, l), chain(dir)) { _ =>
        layersFrame(spark, dir).filter(col("layer") === l)
      }),
      graphSource = Some(EdgeStore.read(spark, s"$dir/l0")),
      entryOverride = Some(storedEntry(spark, dir)))
  }

  /** stable per-(store, layer) slice instances of [[layersFrame]] —
    * plan reuse only, nothing persisted */
  private val layerSliceCache = new graft.SessionCache[(String, Int), DataFrame](16, _._1)

  /** Incremental hierarchy maintenance — the upsert analogue
    * [[EdgeStore.upsert]] provides for the flat graph, applied to
    * every upper layer. Layer membership is a pure function of
    * vec_id, so an upserted vector's layers are knowable without any
    * stored state; what must refresh are the EDGES: the vector's own
    * top-k on each of its layers, and the layer-members who should
    * adopt it (its band collisions within the layer) or re-rank it
    * (its current reverse neighbors).
    *
    * Call AFTER the corpus ingest upsert and [[SrpStore.upsert]]
    * (`d` = post-ingest corpus, `srpDir`'s banding supplies the
    * collision candidates — the same generator the full build uses).
    * The refreshed edge sets are APPENDED as one [[Versioned.append]]
    * O(update) delta version (with tombstones for sources losing all
    * edges) — committed data is never rewritten. The entry artifact
    * is re-derived from the post-ingest corpus and written with the
    * same version. The
    * layer-0 edge table is [[EdgeStore]]'s — run its upsert on
    * `<dir>/l0` alongside. Returns the delta's (layer, pb)
    * partitions for minimality assertions. */
  def upsert(spark: SparkSession, dir: String, d: String, srpDir: String,
             updates: DataFrame, levelK: Int = Hnsw.LevelK): Seq[(Int, Long)] = {
    import org.apache.spark.sql.expressions.Window
    val upd = updates
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id")).distinct()
    val banding = SrpStore.bandingFrame(spark, srpDir)
      .withColumn("band", col("band").cast("int"))
      .withColumn("bk", col("bk").cast("long"))
    // a delta keeps its live base's count
    val (layers, n) = this.layers(spark, dir)
    val emb = graft.Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val delta = (1 to Hnsw.MaxLevel).map { l =>
      // membership is recomputed from the id — no stored level table
      val memberBanding = banding.filter(Hnsw.levelCol(col("vec_id")) >= l)
      val updIdsL = upd.filter(Hnsw.levelCol(col("vec_id")) >= l)
      val updKeys = memberBanding.join(broadcast(updIdsL), Seq("vec_id"))
        .select(col("band"), col("bk")).distinct()
      val collisions = memberBanding.join(broadcast(updKeys), Seq("band", "bk"))
        .select(col("vec_id")).distinct()
      val revNeighbors = layers.filter(col("layer") === l)
        .join(broadcast(updIdsL.withColumnRenamed("vec_id", "dst")), Seq("dst"))
        .select(col("src").as("vec_id"))
      val touched = collisions.union(revNeighbors).union(updIdsL).distinct()
      val tBand = memberBanding.join(touched, Seq("vec_id"))
        .select(col("band"), col("bk"), col("vec_id").as("src"))
      val cand = tBand
        .join(memberBanding.select(col("band"), col("bk"), col("vec_id").as("dst")),
          Seq("band", "bk"))
        .filter(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
        .union(layers.filter(col("layer") === l)
          .join(touched.withColumnRenamed("vec_id", "src"), Seq("src"))
          .select(col("src"), col("dst")))
        .distinct()
      val w = Window.partitionBy(col("src"))
        .orderBy(col("sim").desc, col("dst"))
      val newEdges = cand
        .join(emb.select(col("vec_id").as("src"), col("embedding").as("emb_s")), Seq("src"))
        .join(emb.select(col("vec_id").as("dst"), col("embedding").as("emb_d")), Seq("dst"))
        .select(col("src"), col("dst"), col("emb_d").as("dst_emb"),
          graft.functions.vectors.cosine_sim(col("emb_s"), col("emb_d")).as("sim"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= levelK)
        .select(col("src"), col("dst"), col("dst_emb"))
      val tomb = touched.withColumnRenamed("vec_id", "src")
        .join(newEdges.select(col("src")).distinct(), Seq("src"), "left_anti")
        .select(col("src"), lit(null).cast("long").as("dst"),
          lit(null).cast("array<float>").as("dst_emb"))
      newEdges.unionByName(tomb).withColumn("layer", lit(l))
    }.reduce(_ unionByName _)
      .withColumn("pb", pmod(col("src"), lit(n.toLong)))
      .localCheckpoint(true)
    try {
      // the entry is a pure function of the corpus — re-derive from
      // the post-ingest table, versioned with this delta
      Versioned.append(spark, chain(dir), compact(spark, dir))(
        writeVer(spark, dir, _, delta, Hnsw.entryFor(spark, d), n))
      delta.select(col("layer"), col("pb")).distinct().collect()
        .map(r => (r.getInt(0), r.getLong(1))).sorted.toSeq
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(delta)
  }

  /** [[Versioned.fold]] the layer chain (and its entry) to one full
    * copy at the count its live versions' rows give — [[EdgeStore.compact]]
    * for the hierarchy. */
  def compact(spark: SparkSession, dir: String): Unit =
    Versioned.fold(spark, chain(dir))(
      writeSized(spark, dir, _, layersFrame(spark, dir).drop("pb"),
        StoreLayout.liveRows(spark, chain(dir), s"$dir/layers/data"), storedEntry(spark, dir)))

  // one store per corpus dir, built lazily for the queries() entry —
  // a real deployment writes it after each offline build
  private val storeCache = new graft.SessionCache[String, String](4, identity, TempStores.delete)
  def storeFor(spark: SparkSession, d: String): String =
    storeCache.getOrElseUpdate(spark, d)(TempStores.create("hnswstore")(write(spark, d, _)))
}
