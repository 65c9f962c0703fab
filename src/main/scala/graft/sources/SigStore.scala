package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{bound, text}

/** On-disk MinHash band-signature store — incremental near-dup
  * ("dedup-as-a-service"). The batch operator d2 re-bands the whole
  * corpus per run; at 100 TB a new crawl snapshot must instead be
  * deduped against the EXISTING corpus by probing a persisted
  * signature index and reading only the buckets the new docs touch —
  * the same always-on-index contract the reference keeps for vectors
  * (`sql/05_vector_index.sql:3-6` holds an ivfflat index resident so
  * queries never scan the corpus; this is that role for d2's LSH).
  *
  * Layout (all artifacts merge-on-read, one commit-marker chain):
  * {{{
  *   <dir>/sigs/__ver=N/band=<b>/bg=<g>/  (doc_id, band_key) rows,
  *                                        clustered by band_key
  *   <dir>/docs/__ver=N/                  (doc_id, text) verify texts
  *   <dir>/_commits/vN                    version N readable iff present
  *   <dir>/_meta/groups=<G>               bucket-group count (layout)
  * }}}
  * `bg = band_key & (G−1)` groups buckets into partition dirs under a
  * per-dir row budget (the [[SrpStore]] dir-cost lesson: partitioned
  * writes cost ~8 ms/DIR on local fs, so dir count must follow the
  * corpus, not the keyspace). Probe reads prune twice: (band, bg)
  * statically in the file index, the exact band_key set against
  * row-group stats + the row filter — and the predicate is ONE
  * membership node per band (`band_key IN <set>`), never a per-key OR
  * tree (the r11 64 KB-codegen lesson, [[SrpStore.layoutPred]]).
  *
  * [[upsert]] appends an O(batch) delta version (sigs + texts) and
  * publishes it with a marker AFTER all writes succeed — a crash
  * mid-upsert leaves the committed store intact and the re-run safe
  * (the uncommitted `__ver` partitions are deleted before rewriting).
  */
object SigStore {

  /** d2's parameters — the store IS d2's banding, persisted, so the
    * incremental serve's pair set matches the batch operator's. */
  val NumHashes = 32
  val Bands = 4
  val Shingle = 5
  val Threshold = 0.7
  val MaxBucket = 64
  private val RowsPerBand = NumHashes / Bands

  /** per-partition-dir row budget for the sigs layout */
  private val DirRowTarget = 128L
  private val MaxGroups = 256

  /** Above this many distinct probed (band, band_key) values the
    * serve switches from a collected, partition-pruned point read to
    * a full shuffle join against the store — a batch that saturates
    * the bucket space reads the whole index anyway, and the join
    * needs no driver-side key set (the [[SrpStore.batchBanding]]
    * crossover shape). */
  val ProbeCollectMax = 8192L

  /** all commit markers as (version, isFold). Delta upserts commit as
    * `v<N>`; [[compact]] commits its fold as `c<N>` — a fold marker
    * SUPERSEDES every version below it at read time, which is what
    * makes the version-set switch atomic (one marker-file create),
    * instead of depending on the old markers' deletes landing. */
  private def markerVers(spark: SparkSession, dir: String): Seq[(Int, Boolean)] = {
    val cd = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    val f = Hfs.fs(spark, dir)
    if (!f.exists(cd)) Seq.empty
    else f.listStatus(cd).toSeq.map(_.getPath.getName).collect {
      case s if s.startsWith("v") => (s.drop(1).toInt, false)
      case s if s.startsWith("c") => (s.drop(1).toInt, true)
    }
  }

  /** LIVE versions: everything at or above the highest fold marker.
    * A fold contains every doc of the versions it folded, so reading
    * a folded version alongside its inputs would serve each row twice
    * — the read-side resolution guarantees that never happens, even
    * in the crash window before [[compact]]'s GC deletes land. */
  private[graft] def committedVers(spark: SparkSession, dir: String): Seq[Int] = {
    val marks = markerVers(spark, dir)
    val fold = marks.collect { case (v, true) => v }.maxOption
    fold.fold(marks.map(_._1))(fv => marks.map(_._1).filter(_ >= fv))
      .distinct.sorted
  }

  private def commitVer(spark: SparkSession, dir: String, v: Int,
                        fold: Boolean = false): Unit = {
    val f = Hfs.fs(spark, dir)
    val cd = new org.apache.hadoop.fs.Path(s"$dir/_commits")
    f.mkdirs(cd)
    f.create(new org.apache.hadoop.fs.Path(cd, s"${if (fold) "c" else "v"}$v"),
      false).close()
  }

  /** delete data + markers of versions a fold superseded — idempotent
    * and safe to re-run after a crash anywhere inside it (superseded
    * versions are already invisible to readers via [[committedVers]]'s
    * resolution, so the deletes only reclaim space). Data dirs go
    * first, the marker last, so a partially-GC'd version is still
    * found by the next pass. */
  private def gcSuperseded(spark: SparkSession, dir: String): Unit = {
    val marks = markerVers(spark, dir)
    val fold = marks.collect { case (v, true) => v }.maxOption
    fold.foreach { fv =>
      val f = Hfs.fs(spark, dir)
      marks.filter(_._1 < fv).foreach { case (v, isFold) =>
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/sigs/__ver=$v"), true): Unit
        f.delete(new org.apache.hadoop.fs.Path(s"$dir/docs/__ver=$v"), true): Unit
        f.delete(new org.apache.hadoop.fs.Path(
          s"$dir/_commits/${if (isFold) "c" else "v"}$v"), false): Unit
      }
    }
  }

  private val groupsCache = new graft.SessionCache[String, Int](64, identity)
  private[graft] def storeGroups(spark: SparkSession, dir: String): Int =
    groupsCache.getOrElseUpdate(dir) {
      val md = new org.apache.hadoop.fs.Path(s"$dir/_meta")
      val f = Hfs.fs(spark, dir)
      require(f.exists(md), s"SigStore at $dir has no _meta marker")
      f.listStatus(md).toSeq.map(_.getPath.getName)
        .collectFirst { case s if s.startsWith("groups=") => s.drop(7).toInt }
        .getOrElse(1)
    }

  /** bucket-group count: power of two, sized so a (band, bg) dir
    * holds ~[[DirRowTarget]] rows — [[MaxGroups]]-capped so the dir
    * count never exceeds Bands·256 = 1024 at any corpus. */
  private[graft] def groupsFor(nDocs: Long): Int = {
    val target = math.max(1L, nDocs / DirRowTarget)
    math.min(MaxGroups, java.lang.Long.highestOneBit(target)).toInt
  }

  /** (doc_id, band, band_key) — the d2 banding, shared verbatim by
    * the store write, the upsert delta and the serve's batch side
    * (operators/Dedup.scala:76's expression, factored). */
  private[graft] def bandedSigs(docs: DataFrame): DataFrame =
    docs.filter(length(col("text")) >= Shingle)
      .select(col("doc_id"),
        text.minhash_sig(col("text"), Shingle, NumHashes).as("sig"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, ${Bands - 1}), b -> xxhash64(b, slice(sig, b * $RowsPerBand + 1, $RowsPerBand)))"))
          .as(Seq("band", "band_key")))

  private def writeVer(spark: SparkSession, dir: String, v: Int,
                       docs: DataFrame, groups: Int): Unit = {
    val f = Hfs.fs(spark, dir)
    // a re-run after a crash may find uncommitted leftovers — remove
    // them before writing so the version is never torn
    Seq(s"$dir/sigs/__ver=$v", s"$dir/docs/__ver=$v").foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      if (f.exists(hp)) f.delete(hp, true): Unit
    }
    val sigs = bandedSigs(docs)
      .withColumn("bg", col("band_key").bitwiseAND(lit((groups - 1).toLong)))
    // cluster rows by band_key inside each (band, bg) dir so probe
    // reads prune at row-group granularity below the dir level
    sigs.repartition(col("band"), col("bg"))
      .sortWithinPartitions(col("band"), col("bg"), col("band_key"))
      .write.partitionBy("band", "bg")
      .mode("overwrite").parquet(s"$dir/sigs/__ver=$v")
    // verify texts bucketed by doc_id (`db`, same group count as the
    // sigs layout — corpus-sized, dir-budgeted) and clustered by
    // doc_id within each dir: the serve's text fetch for candidate
    // pairs is then a partition-pruned POINT read, not an O(corpus)
    // text scan — the text column is the heaviest in the store, and
    // it must never ride a scan whose size is the corpus when the
    // candidate set is batch-sized
    docs.select(col("doc_id"), col("text"))
      .withColumn("db", col("doc_id").bitwiseAND(lit((groups - 1).toLong)))
      .repartition(col("db"))
      .sortWithinPartitions(col("db"), col("doc_id"))
      .write.partitionBy("db")
      .mode("overwrite").parquet(s"$dir/docs/__ver=$v")
    commitVer(spark, dir, v)
  }

  /** build the store from `docs` (doc_id, text) as version 0 */
  def write(spark: SparkSession, docs: DataFrame, dir: String): Unit = {
    val n = docs.count()
    val groups = groupsFor(n)
    val f = Hfs.fs(spark, dir)
    f.mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_meta/groups=$groups"))
    groupsCache.invalidate(_ == dir)
    writeVer(spark, dir, 0, docs, groups)
  }

  /** append a new batch as an O(batch) delta version — the layout
    * (groups) is pinned by the base store so probe pruning stays
    * uniform across versions. Publishes the commit marker only after
    * both artifacts are fully written. */
  def upsert(spark: SparkSession, dir: String, docs: DataFrame): Unit = {
    val vers = committedVers(spark, dir)
    require(vers.nonEmpty, s"SigStore.upsert: no committed store at $dir")
    writeVer(spark, dir, vers.max + 1, docs, storeGroups(spark, dir))
  }

  /** committed signature rows (doc_id, band, band_key, bg) */
  // explicit read schemas: a dedup SERVICE legitimately starts from an
  // empty store (version 0 of zero docs writes no parquet files, only
  // the layout markers), and schema inference cannot run over zero
  // files — the read contract must not depend on data existing
  private val SigsSchema = "doc_id LONG, band INT, band_key LONG, __ver INT, bg LONG"
  private val DocsSchema = "doc_id LONG, text STRING, __ver INT, db LONG"

  private[graft] def sigFrame(spark: SparkSession, dir: String): DataFrame = {
    val vers = committedVers(spark, dir)
    require(vers.nonEmpty, s"SigStore at $dir has no committed version")
    spark.read.schema(SigsSchema).parquet(s"$dir/sigs")
      .filter(col("__ver").isin(vers: _*))
      .select(col("doc_id"), col("band"), col("band_key"), col("bg"))
  }

  /** committed verify texts (doc_id, text) */
  private[graft] def docsFrame(spark: SparkSession, dir: String): DataFrame = {
    val vers = committedVers(spark, dir)
    spark.read.schema(DocsSchema).parquet(s"$dir/docs")
      .filter(col("__ver").isin(vers: _*))
      .select(col("doc_id"), col("text"))
  }

  /** point-read the committed texts of `ids`: (__ver, db) prune in
    * the file index, `doc_id IN <set>` (a membership node, as ever)
    * against the doc_id-clustered row groups + the row filter */
  private[graft] def docsForIds(spark: SparkSession, dir: String,
                                ids: Seq[Long]): DataFrame = {
    val vers = committedVers(spark, dir)
    val groups = storeGroups(spark, dir)
    val dbs = ids.map(_ & (groups - 1).toLong).distinct
    val pruned = spark.read.schema(DocsSchema).parquet(s"$dir/docs")
      .filter(col("__ver").isin(vers: _*) &&
        bound.isin(col("db"), dbs) && bound.isin(col("doc_id"), ids))
      .select(col("doc_id"), col("text"))
    lastDocsPlanThunk = () => pruned.queryExecution.executedPlan.toString
    pruned
  }

  /** probed-bucket predicate: ONE `IN` membership node per band over
    * the batch's band_key set (never a per-key OR tree — a predicate
    * whose size grows with the probe set must be a collection node;
    * see the r11 codegen entry in docs/PERF.md), each set bound by
    * reference ([[graft.functions.bound]]). The derived (band, bg)
    * disjunction is a SEPARATE conjunct: partition-only, it prunes in
    * the file index and never reaches the generated row filter. Folded
    * into the per-band key terms, two bands with equal bg sets let the
    * optimizer factor the shared set out — a plan shape, and compiled
    * classes, that changed with the request's values. The split is
    * exact: a row has one band, and bg = band_key & (G−1). */
  private def probePred(keysByBand: Map[Int, Seq[Long]], groups: Int): Column = {
    val bands = keysByBand.toSeq.sortBy(_._1)
    val parts = bands.map { case (b, ks) =>
      col("band") === b && bound.isin(col("bg"), ks.map(_ & (groups - 1).toLong))
    }.reduce(_ || _)
    val keys = bands.map { case (b, ks) =>
      col("band") === b && bound.isin(col("band_key"), ks)
    }.reduce(_ || _)
    parts && keys
  }

  /** Near-dup pairs of `batch` against the stored corpus AND within
    * the batch itself — d2's pipeline with the corpus side read from
    * the store. Stages:
    *
    *  1. band the batch (O(batch) rows shuffle — texts never ride);
    *  2. read the store's probed buckets: a partition-pruned point
    *     read while the batch's distinct key set is collectable
    *     (≤ [[ProbeCollectMax]]), a full shuffle join once the batch
    *     saturates the bucket space — physical-plan-only switch, the
    *     matched rows are identical;
    *  3. cap each bucket at [[MaxBucket]] over stored+batch occupancy
    *     (the store holds every non-batch doc, so combined occupancy
    *     equals d2's whole-corpus bucket count — cap semantics are
    *     bit-identical to the batch operator's);
    *  4. pair within capped buckets, keeping pairs with ≥1 batch side
    *     (old×old pairs were the store build's job);
    *  5. exact-Jaccard verify on the paired texts only — batch texts
    *     from the batch frame, stored texts PARTITION-PRUNED
    *     point-reads from the db-bucketed docs artifact (falling back
    *     to one semi-joined artifact pass for saturated batches); the
    *     serve reads neither the corpus table nor an O(corpus) slice
    *     of the text column.
    */
  /** last serve's probe-read shape ("pruned" | "joined"), the pruned
    * scans' physical plans, and the text-fetch shape — observability
    * for the crossover and PartitionFilters specs (the
    * [[SrpStore.lastBatchBandingSource]] pattern) */
  private[graft] var lastProbeSource: String = ""
  // plan hooks are LAZY (r16): eagerly planning + stringifying the
  // pruned scan — whose probe predicate carries the batch's whole
  // band-key IN set — put a Catalyst run and a multi-KB toString on
  // the serve's critical path purely for the spec assertions
  private[graft] var lastPrunedPlanThunk: () => String = () => ""
  private[graft] def lastPrunedPlan: String = lastPrunedPlanThunk()
  private[graft] var lastTextSource: String = ""
  private[graft] var lastDocsPlanThunk: () => String = () => ""
  private[graft] def lastDocsPlan: String = lastDocsPlanThunk()

  def incrementalNearDup(spark: SparkSession, storeDir: String,
                         batch: DataFrame,
                         probeCollectMax: Long = ProbeCollectMax): DataFrame = {
    val groups = storeGroups(spark, storeDir)
    val batchDocs = batch.select(col("doc_id"), col("text"))
    val batchSigs = bandedSigs(batchDocs).localCheckpoint(true)

    val distinctKeys = batchSigs.select(col("band"), col("band_key")).distinct()
    // limit() takes an Int: a Long cap at/above Int.MaxValue must
    // SATURATE (take the joined path), not overflow to a negative
    // limit that fails the serve at runtime (r17, ADVICE)
    val cap = math.min(probeCollectMax, (Int.MaxValue - 1).toLong).toInt
    // ONE bounded collect decides the crossover AND supplies the probe
    // keys (r16; was a count job followed by a second collect job):
    // ≤ cap+1 rows ever reach the driver either way
    val keyProbe = distinctKeys.limit(cap + 1).collect()
    val storedRows =
      if (keyProbe.isEmpty) {
        // empty (or all-too-short) batch: no probes, no pairs — an
        // empty reduce in probePred would otherwise throw
        lastProbeSource = "empty"
        sigFrame(spark, storeDir).filter(lit(false))
      } else if (keyProbe.length <= cap) {
        val keysByBand = keyProbe
          .map(r => (r.getInt(0), r.getLong(1)))
          .groupBy(_._1).map { case (b, ks) => b -> ks.map(_._2).toSeq }
        val pruned = sigFrame(spark, storeDir).filter(probePred(keysByBand, groups))
        lastProbeSource = "pruned"
        lastPrunedPlanThunk = () => pruned.queryExecution.executedPlan.toString
        pruned
      } else {
        // saturated batch: one shuffle join, no driver-side key set
        lastProbeSource = "joined"
        sigFrame(spark, storeDir)
          .join(distinctKeys.hint("shuffle_hash"), Seq("band", "band_key"),
            "left_semi")
      }

    val tagged = storedRows.select(col("doc_id"), col("band"), col("band_key"))
      .withColumn("is_new", lit(false))
      .unionByName(batchSigs.withColumn("is_new", lit(true)))
    // combined bucket occupancy — the window mirrors d2's cap exactly
    val capped = tagged
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("bucket_n") <= MaxBucket)
      .drop("bucket_n")

    val a = capped.select(col("band"), col("band_key"),
      col("doc_id").as("id_a"), col("is_new").as("new_a"))
    val b = capped.select(col("band"), col("band_key"),
      col("doc_id").as("id_b"), col("is_new").as("new_b"))
    val candidates = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b") && (col("new_a") || col("new_b")))
      .select(col("id_a"), col("id_b"), col("new_a"), col("new_b"))
      .distinct()
      .localCheckpoint(true)

    // verify-text fetch: the STORED side of the candidate pairs is a
    // partition-pruned point read against the db-bucketed docs
    // artifact while its distinct id set is collectable — the text
    // column is the heaviest in the store, and a batch-sized serve
    // must not scan O(corpus) of it. A saturated batch (id set past
    // the crossover) reads the artifact once through a join instead,
    // the same physical-plan-only switch as the bucket probe.
    val storedIds = candidates
      .select(explode(array(
        when(!col("new_a"), col("id_a")),
        when(!col("new_b"), col("id_b")))).as("doc_id"))
      .filter(col("doc_id").isNotNull).distinct()
    val collectedIds = storedIds.limit(cap + 1).collect()
    val storedTexts =
      if (collectedIds.length <= cap) {
        lastTextSource = "pruned"
        docsForIds(spark, storeDir, collectedIds.map(_.getLong(0)).toSeq)
      } else {
        lastTextSource = "joined"
        docsFrame(spark, storeDir)
          .join(storedIds.hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      }
    val texts = storedTexts.unionByName(batchDocs)
    candidates.select(col("id_a"), col("id_b"))
      .join(texts.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(texts.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(text.shingle_jaccard(col("text_a"), col("text_b"), Shingle), 4).as("jaccard"))
      .filter(col("jaccard") >= Threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** the d13 gate entry: corpus docs with `doc_id % 3 != 0` persisted
    * as the store, the `% 3 == 0` slice served as the incoming batch */
  val BatchMod = 3

  def incrementalNearDupEntry(spark: SparkSession, d: String): DataFrame = {
    val batch = Tables.documents(spark, d)
      .filter(col("doc_id") % BatchMod === 0)
      .select(col("doc_id"), col("text"))
    incrementalNearDup(spark, storeFor(spark, d), batch)
  }

  /** DuckDB twin: d2's full replay (the store holds exactly the
    * non-batch docs, so stored+batch banding ≡ whole-corpus banding —
    * every stage matches the batch operator's SQL bit for bit), cut
    * to the pairs the incremental serve emits: ≥1 batch side. */
  def incrementalNearDupSql: String = {
    val full = graft.operators.Dedup.minhashLshSql(
      NumHashes, Bands, Threshold, MaxBucket)
    // the final SELECT ends in "ORDER BY id_a, id_b"; inject the pair
    // cut as an outer query so the inner replay stays verbatim-shared
    s"""SELECT * FROM (
       |$full
       |) WHERE id_a % $BatchMod = 0 OR id_b % $BatchMod = 0
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** fold the committed version chain back into one full copy. The
    * fold is written as a NEW version (never in place) and published
    * with a FOLD marker (`c<N>`) — unlike the delta chain's disjoint
    * doc sets, the fold duplicates every doc it folded, so the switch
    * must be atomic: [[committedVers]] resolves a fold marker as
    * superseding every version below it, making the one marker-file
    * create the whole publish. A crash before the marker leaves the
    * old chain intact; a crash between the marker and the GC deletes
    * leaves stale-but-invisible data that the next [[compact]] (or
    * any re-run) reclaims via [[gcSuperseded]]. */
  def compact(spark: SparkSession, dir: String): Unit = {
    // reclaim any superseded leftovers a prior crashed compact left
    gcSuperseded(spark, dir)
    val vers = committedVers(spark, dir)
    if (vers.size <= 1) return
    val next = vers.max + 1
    val groups = storeGroups(spark, dir)
    val f = Hfs.fs(spark, dir)
    Seq(s"$dir/sigs/__ver=$next", s"$dir/docs/__ver=$next").foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      if (f.exists(hp)) f.delete(hp, true): Unit
    }
    sigFrame(spark, dir)
      .withColumn("bg", col("band_key").bitwiseAND(lit((groups - 1).toLong)))
      .repartition(col("band"), col("bg"))
      .sortWithinPartitions(col("band"), col("bg"), col("band_key"))
      .write.partitionBy("band", "bg")
      .mode("overwrite").parquet(s"$dir/sigs/__ver=$next")
    docsFrame(spark, dir)
      .withColumn("db", col("doc_id").bitwiseAND(lit((groups - 1).toLong)))
      .repartition(col("db"))
      .sortWithinPartitions(col("db"), col("doc_id"))
      .write.partitionBy("db")
      .mode("overwrite").parquet(s"$dir/docs/__ver=$next")
    commitVer(spark, dir, next, fold = true)
    if (gcAfterPublish) gcSuperseded(spark, dir)
    graft.Tables.invalidate(dir)
  }

  /** test hook: suppress the post-publish GC to freeze the crash
    * window between the fold marker and the superseded deletes */
  private[graft] var gcAfterPublish = true

  private def deleteTempStore(dir: String): Unit = {
    // the store carries a full corpus-sized docs/text artifact —
    // orphaning it per evicted temp dir accumulates corpus-sized /tmp
    // copies across bench/test JVMs (shared lifecycle: TempStores,
    // which every storeFor memo now routes through)
    TempStores.delete(dir)
    groupsCache.invalidate(_ == dir)
  }

  // memoized store of the non-batch corpus slice, keyed by corpus
  // dir; invalidation deletes the temp store on disk (its data was
  // derived from the rewritten corpus, so no live handle is valid),
  // and a shutdown hook sweeps whatever the JVM still holds
  private val storeCache = new graft.SessionCache[String, String](4, identity, deleteTempStore)
  def storeFor(spark: SparkSession, d: String): String =
    storeCache.getOrElseUpdate(spark, d) {
      val dir = TempStores.track(
        java.nio.file.Files.createTempDirectory("sigstore").toString)
      write(spark,
        Tables.documents(spark, d)
          .filter(col("doc_id") % BatchMod =!= 0)
          .select(col("doc_id"), col("text")),
        dir)
      dir
    }
}
