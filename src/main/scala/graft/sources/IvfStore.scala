package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.IvfIndex
import graft.functions.vectors

/** On-disk IVF index — the persisted form of the reference's
  * `CREATE INDEX ... USING ivfflat` (sql/05_vector_index.sql).
  *
  * Layout:
  * {{{
  *   <dir>/centroids/            k × dim rows (list_id, dim, w)
  *   <dir>/lists/list_id=<i>/    corpus rows for inverted list i
  * }}}
  * `lists/` is parquet partitioned by `list_id`, so a probe with
  * `nprobe` lists compiles to a scan whose `PartitionFilters` prune
  * to nprobe/nlists of the files — at 100 TB that pruning happens in
  * the file index, before any IO. The same layout works on any
  * distributed FS; only `dir` changes.
  */
object IvfStore {

  /** Retrained-version markers (`_commits/vN`): [[retrain]] publishes
    * a re-clustered copy as `<dir>/v=N/{lists,centroids,stats}` and
    * readers follow the HIGHEST committed version — the SigStore/
    * EdgeStore commit contract applied to whole index generations. A
    * dir with no markers is the initial [[write]] layout (lists/
    * centroids at the root), so every pre-existing store keeps
    * working unchanged. */
  private[graft] def committedVers(spark: SparkSession, dir: String): Seq[Int] = {
    val cd = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    val f = Hfs.fs(spark, dir)
    if (!f.exists(cd)) Seq.empty
    else f.listStatus(cd).toSeq.map(_.getPath.getName)
      .collect { case s if s.startsWith("v") => s.drop(1).toInt }.sorted
  }

  private def commitVer(spark: SparkSession, dir: String, v: Int): Unit = {
    val f = Hfs.fs(spark, dir)
    val cd = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    f.mkdirs(cd)
    f.create(new org.apache.hadoop.fs.Path(cd, s"v$v"), false).close()
  }

  /** the artifact root every read/upsert path follows: the highest
    * committed retrain generation, or the dir itself before any */
  private[graft] def currentRoot(spark: SparkSession, dir: String): String =
    committedVers(spark, dir).lastOption
      .map(v => s"$dir/v=$v").getOrElse(dir)

  private def writeArtifacts(spark: SparkSession, emb: DataFrame, vecCol: String,
                             model: IvfIndex.Model, root: String): Unit = {
    import spark.implicits._
    val assigned = IvfIndex.assign(emb, vecCol, model)
    assigned
      .write.mode(SaveMode.Overwrite)
      .partitionBy("list_id")
      .parquet(s"$root/lists")
    model.centroids.zipWithIndex
      .flatMap { case (c, i) => c.zipWithIndex.map { case (w, j) => (i, j, w) } }
      .toSeq.toDF("list_id", "dim", "w")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/centroids")
    // write-time assignment statistics — the drift metric's baseline:
    // per-list occupancy + mean (quantized squared-L2) distance to the
    // assigned centroid, one tiny row per list
    assigned
      .select(col("list_id"),
        vectors.nearest_centroid_dist(
          IvfIndex.quantize(col(vecCol)), model.centroids).as("d"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), avg(col("d")).as("mean_dist"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$root/stats")
  }

  def write(spark: SparkSession, emb: DataFrame, vecCol: String,
            model: IvfIndex.Model, dir: String): Unit = {
    // a full write is generation zero: clear any retrain chain so the
    // root layout is authoritative again
    val f = Hfs.fs(spark, dir)
    f.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits"), true): Unit
    val dp = new org.apache.hadoop.fs.Path(dir)
    if (f.exists(dp)) f.listStatus(dp).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("v="))
      .foreach(p => { f.delete(p, true): Unit })
    writeArtifacts(spark, emb, vecCol, model, dir)
    // rewriting the store must drop memoized centroids + cached scans
    graft.Tables.invalidate(dir)
  }

  // the centroid matrix is tiny and immutable per store — memoize per
  // dir instead of a parquet read+collect per probe; dropped via
  // Tables.invalidate when the store is rewritten
  private val centroidCache = new graft.SessionCache[String, IvfIndex.Model](64, identity)

  def readCentroids(spark: SparkSession, dir: String): IvfIndex.Model = {
    val root = currentRoot(spark, dir)
    centroidCache.getOrElseUpdate(root) {
      val rows = spark.read.parquet(s"$root/centroids")
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
      val k = rows.map(_._1).max + 1
      val dim = rows.map(_._2).max + 1
      val cs = Array.fill(k)(new Array[Double](dim))
      rows.foreach { case (i, j, w) => cs(i)(j) = w }
      IvfIndex.Model(cs)
    }
  }

  /** Incremental maintenance: fold freshly-embedded rows into the
    * persisted index WITHOUT a full rebuild — the reference's
    * "UPDATE ... SET embedding = ..." (sql/04_embeddings.sql:5-7)
    * feeding its ivfflat index (sql/05_vector_index.sql:3-6), where
    * new rows become searchable without re-running CREATE INDEX.
    *
    * New/updated vectors are assigned to the EXISTING centroids, and
    * only the touched list partitions are rewritten via dynamic
    * partition overwrite: the lists that gain rows, plus the lists
    * holding a stale copy of an updated id. Locating stale copies is
    * an id-column-pruned scan of the store — the one unavoidable
    * full-store read, and it reads one small column. Updates win over
    * existing rows with the same id. Centroids drift from optimal as
    * upserts accumulate — IVFFlat's standard trade; a periodic full
    * [[write]] re-trains and re-balances.
    *
    * Returns the touched list ids (what a spec asserts rewrite
    * minimality against). */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame,
             vecCol: String, idCol: String): Seq[Int] = {
    val root = currentRoot(spark, dir)
    val model = readCentroids(spark, dir)
    val assigned = IvfIndex.assign(updates, vecCol, model)
    val store = spark.read.parquet(s"$root/lists")
    val updIds = updates.select(col(idCol)).distinct()
    val oldLists = store.join(broadcast(updIds), Seq(idCol))
      .select(col("list_id")).distinct().collect().map(_.getInt(0))
    val newLists = assigned
      .select(col("list_id")).distinct().collect().map(_.getInt(0))
    val touched = (oldLists ++ newLists).distinct.sorted.toSeq
    if (touched.nonEmpty) {
      // survivors: touched-partition rows minus stale copies of
      // updated ids (an id that moved lists must not stay behind)
      val survivors = store
        .filter(col("list_id").isin(touched: _*))
        .join(broadcast(updIds), Seq(idCol), "left_anti")
      // break lineage from the files about to be overwritten — the
      // write cannot read the path it replaces; touched-lists data is
      // bounded (the whole point of the incremental path)
      val merged = survivors.unionByName(assigned).localCheckpoint(true)
      try {
        merged.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("list_id")
          .parquet(s"$root/lists")
        // dynamic overwrite only rewrites partitions PRESENT in the
        // written data: a touched list emptied by a move (its only
        // rows migrated elsewhere) appears in no output row and its
        // old file — holding the stale copy — would survive. Delete
        // those emptied partitions explicitly.
        val present = merged.select(col("list_id")).distinct()
          .collect().map(_.getInt(0)).toSet
        val emptied = touched.filterNot(present)
        if (emptied.nonEmpty) {
          val conf = spark.sparkContext.hadoopConfiguration
          emptied.foreach { l =>
            val p = new org.apache.hadoop.fs.Path(s"$root/lists/list_id=$l")
            val fs = p.getFileSystem(conf)
            fs.delete(p, true): Unit
          }
        }
      } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(merged)
      // cached list scans are stale now; centroids re-read (unchanged)
      graft.Tables.invalidate(s"$root/lists")
    }
    touched
  }

  /** Probe the persisted index: rank centroids on the driver, scan
    * only the `nprobe` matching list partitions. */
  def search(spark: SparkSession, dir: String, vecCol: String, idCol: String,
             query: Array[Float], topK: Int, nprobe: Int): DataFrame = {
    val model = readCentroids(spark, dir)
    val probed = IvfIndex.rankLists(model, query, nprobe)
    spark.read.parquet(s"${currentRoot(spark, dir)}/lists")
      .filter(col("list_id").isin(probed: _*)) // partition-pruned scan
      .select(col(idCol),
        round(vectors.cosine_sim(col(vecCol), typedLit(query)), 6).as("score"))
      .orderBy(col("score").desc, col(idCol).asc)
      .limit(topK)
  }

  /** occupancy skew trip factor vs the write-time baseline */
  val DriftSkewFactor = 2.0
  /** absolute skew floor below which occupancy never trips (small
    * stores are naturally lumpy) */
  val DriftSkewFloor = 4.0
  /** mean-assignment-distance growth that trips the metric */
  val DriftDistFactor = 1.25

  final case class Drift(nLists: Int, skewAtWrite: Double, skewNow: Double,
                         meanDistAtWrite: Double, meanDistNow: Double) {
    def distRatio: Double = meanDistNow / meanDistAtWrite
    /** centroids no longer describe the corpus: either a list family
      * is ballooning (occupancy skew) or vectors sit ever farther from
      * their assigned centroid (distance trend) */
    def tripped: Boolean =
      distRatio > DriftDistFactor ||
        skewNow > math.max(DriftSkewFloor, DriftSkewFactor * skewAtWrite)
  }

  /** Centroid-drift metric — ONE cheap scan of the current lists
    * (occupancy + mean assignment distance under the frozen
    * centroids) compared against the write-time `stats/` baseline.
    * [[upsert]] assigns new vectors to frozen centroids forever; on a
    * drifting corpus list sizes skew and probe recall decays silently
    * — this is the tripwire a maintenance job polls, [[retrain]] the
    * repair it schedules. */
  def driftMetric(spark: SparkSession, dir: String, vecCol: String): Drift = {
    val root = currentRoot(spark, dir)
    val model = readCentroids(spark, dir)
    val base = spark.read.parquet(s"$root/stats")
      .agg(count(lit(1)).cast("long").as("k"),
        max(col("n")).cast("double").as("mx"),
        avg(col("n")).as("mean_n"),
        (sum(col("mean_dist") * col("n")) / sum(col("n"))).as("md"))
      .head()
    // empty store (zero lists): the non-count aggregates are null and
    // the unboxing getters would NPE — a maintenance poller hitting a
    // fresh/empty store must read "nothing to drift", not an
    // exception. Decided from the SAME aggregate row (max(n) is null
    // exactly when stats is empty), not a separate isEmpty scan.
    if (base.isNullAt(1))
      return Drift(0, 1.0, 1.0, 1.0, 1.0) // neutral ratios: never tripped
    val now = spark.read.parquet(s"$root/lists")
      .select(col("list_id"),
        vectors.nearest_centroid_dist(
          IvfIndex.quantize(col(vecCol)), model.centroids).as("d"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n"), avg(col("d")).as("mean_dist"))
      .agg(max(col("n")).cast("double").as("mx"),
        avg(col("n")).as("mean_n"),
        (sum(col("mean_dist") * col("n")) / sum(col("n"))).as("md"))
      .head()
    Drift(base.getLong(0).toInt,
      base.getDouble(1) / base.getDouble(2),
      now.getDouble(0) / now.getDouble(1),
      base.getDouble(3), now.getDouble(2))
  }

  /** Re-cluster the CURRENT store rows into a fresh model and publish
    * it as a new committed generation — the SigStore/EdgeStore
    * compaction contract applied to the whole index: the new
    * `v=N/{lists,centroids,stats}` is written first (a leftover from
    * a crashed earlier attempt cleared before rewriting), the marker
    * file is the atomic publish, superseded generations are GC'd
    * after it (a crash between marker and GC leaves readers on the
    * new generation with unreferenced garbage behind — harmless and
    * reclaimed by the next retrain). O(corpus) by contract: this is
    * the amortized repair for [[driftMetric]]'s trip, not a per-batch
    * path. Returns the new model. */
  /** [[retrain]] at the STORE'S OWN recorded width — the maintenance
    * default: a drift-tripped repair re-clusters the corpus, it does
    * not silently re-size the index. The width a deployment chose at
    * build time ([[IvfIndex.nlistsFor]] of the then-corpus) is read
    * back from the centroids artifact, so a poller can wire
    * `if (driftMetric(...).tripped) retrain(spark, dir, vecCol, idCol)`
    * without re-deriving build-time parameters. (Re-SIZING after
    * large growth is the explicit-k overload: pass
    * `IvfIndex.nlistsFor(currentRows)`.) */
  def retrain(spark: SparkSession, dir: String, vecCol: String,
              idCol: String): IvfIndex.Model =
    retrain(spark, dir, vecCol, idCol, readCentroids(spark, dir).k)

  def retrain(spark: SparkSession, dir: String, vecCol: String, idCol: String,
              k: Int, iters: Int = 5): IvfIndex.Model = {
    val vers = committedVers(spark, dir)
    val root = currentRoot(spark, dir)
    val rows = spark.read.parquet(s"$root/lists").drop("list_id")
      .localCheckpoint(true) // break lineage: v0 GC below deletes its files
    try {
      val model = IvfIndex.fit(rows, vecCol, idCol, k, iters)
      val next = vers.lastOption.getOrElse(0) + 1
      val f = Hfs.fs(spark, dir)
      f.delete(new org.apache.hadoop.fs.Path(s"$dir/v=$next"), true): Unit
      writeArtifacts(spark, rows, vecCol, model, s"$dir/v=$next")
      commitVer(spark, dir, next)
      // GC superseded generations: data dirs FIRST, markers last — a
      // crash between the two leaves the marker pointing at a gone
      // dir, which is harmless (currentRoot already resolves to the
      // new max) and ensures the NEXT retrain's vers still lists it
      // and retries the delete; the reverse order would orphan a
      // corpus-sized dir no later GC ever revisits
      vers.foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/v=$v"), true): Unit
      }
      vers.foreach { v =>
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/_commits/v$v"), false): Unit
      }
      if (vers.isEmpty) Seq("lists", "centroids", "stats").foreach { a =>
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/$a"), true): Unit
      }
      graft.Tables.invalidate(dir)
      model
    } finally org.apache.spark.sql.GraftBridge.unpersistPlanRdds(rows)
  }
}
