package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal, Round, Slice, XxHash64}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.Tables
import graft.functions.{TextHash, bound, text}

/** On-disk MinHash band-signature store — incremental near-dup
  * ("dedup-as-a-service"). The batch operator d2 re-bands the whole
  * corpus per run; at 100 TB a new crawl snapshot must instead be
  * deduped against the EXISTING corpus by probing a persisted
  * signature index and reading only the buckets the new docs touch —
  * the same always-on-index contract the reference keeps for vectors
  * (`sql/05_vector_index.sql:3-6` holds an ivfflat index resident so
  * queries never scan the corpus; this is that role for d2's LSH).
  *
  * Layout (both artifacts merge-on-read, one [[Versioned]] chain
  * rooted at `<dir>` — markers and crash contract there):
  * {{{
  *   <dir>/sigs/__ver=N/band=<b>/bg=<g>/  (doc_id, band_key) rows,
  *                                        clustered by band_key
  *   <dir>/docs/__ver=N/                  (doc_id, text) verify texts
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
  * [[upsert]] appends an O(batch) delta version (sigs + texts); the
  * chain folds only on an explicit [[compact]].
  *
  * Two [[Resident]] images serve the one-document check on the driver,
  * each admitted from footers on its own: `"sigs"`, the (band,
  * band_key) → doc ids probe map ([[SigImage]]), and `"texts"`, doc_id
  * → verify text ([[TextImage]]). Both are built on a live version
  * stamp's second check: the first takes the pruned point reads, so a
  * store upserted before each single check (an ingest loop) builds
  * nothing. With both, a warm check runs no Spark job; an image over
  * its share, or both at `Resident.BudgetBytes = 0`, leaves its step on
  * the pruned point read, with the same rows.
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

  /** The largest batch [[incrementalNearDup]] serves on the driver;
    * `probeCollectMax / Bands` bounds it as well. Measured
    * with [[graft.tools.NearDupSweep]] on the sf0.1 d13 store (local[4],
    * 4 vCPUs): the driver plan's median wall time was 525–550 ms at 256
    * docs and 712–722 ms at 512, against 1000–1015 and 869–905 ms for
    * the shuffle plan; at 768 docs it lost (969–983 vs 883–935 ms) and
    * at 1024 it lost by 28–40%, its single-threaded banding and
    * one-task probe read growing with the batch while the shuffle plan
    * runs them in parallel (docs/PERF.md). */
  private[graft] val LocalBatchMax = 512

  /** a version's data: its sigs and its verify texts */
  private[graft] def chain(dir: String): Versioned.Chain =
    Versioned.Chain(dir, dir, v => Seq(s"$dir/sigs/__ver=$v", s"$dir/docs/__ver=$v"))

  /** the `_meta/` bucket-group count, one memo per version stamp
    * ([[write]] rewrites it inside the rebuild that restarts the
    * chain, so a rebuild by any process is seen) */
  private val groupsCache = new graft.SessionCache[String, Int](64, identity)
  private[graft] def storeGroups(spark: SparkSession, dir: String): Int =
    Versioned.memo(groupsCache, spark, dir, chain(dir)) { _ =>
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
  private[graft] def groupsFor(nDocs: Long): Int =
    StoreLayout.bucketsFor(nDocs, DirRowTarget, MaxGroups).toInt

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

  /** write version `v`: banded `sigs` (doc_id, band, band_key) and
    * verify `docs` (doc_id, text) */
  private def writeVer(dir: String, v: Int, sigs: DataFrame, docs: DataFrame,
                       groups: Int): Unit = {
    // cluster rows by band_key inside each (band, bg) dir so probe
    // reads prune at row-group granularity below the dir level
    sigs.withColumn("bg", col("band_key").bitwiseAND(lit((groups - 1).toLong)))
      .repartition(col("band"), col("bg"))
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
  }

  /** build the store from `docs` (doc_id, text) as version 0 — onto
    * an existing store dir too: the old chain and its layout marker
    * go first, so neither an old delta nor a stale group count
    * survives the rewrite */
  def write(spark: SparkSession, docs: DataFrame, dir: String): Unit = {
    val groups = groupsFor(docs.count())
    Versioned.create(spark, chain(dir), s"$dir/sigs", s"$dir/docs", s"$dir/_meta") {
      Hfs.fs(spark, dir).mkdirs(new org.apache.hadoop.fs.Path(s"$dir/_meta/groups=$groups"))
      writeVer(dir, 0, bandedSigs(docs), docs, groups)
    }
  }

  /** append a new batch as an O(batch) delta version — the layout
    * (groups) is pinned by the base store so probe pruning stays
    * uniform across versions. No fold trigger: the versions hold
    * disjoint doc sets, so readers need no resolve window and a long
    * chain costs them partition listings only; the fold (an O(corpus)
    * rewrite of the texts) runs on an explicit [[compact]]. */
  def upsert(spark: SparkSession, dir: String, docs: DataFrame): Unit =
    Versioned.append(spark, chain(dir), compact = ()) { v =>
      require(v > 0, s"SigStore.upsert: no committed store at $dir")
      writeVer(dir, v, bandedSigs(docs), docs, storeGroups(spark, dir))
    }

  /** committed signature rows (doc_id, band, band_key, bg) */
  // explicit read schemas: a dedup SERVICE legitimately starts from an
  // empty store (version 0 of zero docs writes no parquet files, only
  // the layout markers), and schema inference cannot run over zero
  // files — the read contract must not depend on data existing
  private val SigsSchema = "doc_id LONG, band INT, band_key LONG, __ver INT, bg LONG"
  private val DocsSchema = "doc_id LONG, text STRING, __ver INT, db LONG"

  // the live versions' rows of one artifact (`sigs` or `docs`):
  // memoized per version stamp, so a near-dup request reuses the file
  // index instead of re-listing every (version, band, bg) dir
  private val frameCache = new graft.SessionCache[String, DataFrame](8, identity)
  private def liveRows(spark: SparkSession, dir: String, art: String, schema: String): DataFrame =
    Versioned.memo(frameCache, spark, s"$dir/$art", chain(dir))(vers =>
      spark.read.schema(schema).parquet(s"$dir/$art").filter(col("__ver").isin(vers: _*)))

  private[graft] def sigFrame(spark: SparkSession, dir: String): DataFrame =
    liveRows(spark, dir, "sigs", SigsSchema)
      .select(col("doc_id"), col("band"), col("band_key"), col("bg"))

  /** committed verify texts (doc_id, text) */
  private[graft] def docsFrame(spark: SparkSession, dir: String): DataFrame =
    liveRows(spark, dir, "docs", DocsSchema).select(col("doc_id"), col("text"))

  /** point-read the committed texts of `ids`: (__ver, db) prune in
    * the file index, `doc_id IN <set>` (a membership node, as ever)
    * against the doc_id-clustered row groups + the row filter */
  private[graft] def docsForIds(spark: SparkSession, dir: String,
                                ids: Seq[Long]): DataFrame = {
    val groups = storeGroups(spark, dir)
    val dbs = ids.map(_ & (groups - 1).toLong).distinct
    val pruned = liveRows(spark, dir, "docs", DocsSchema)
      .filter(bound.isin(col("db"), dbs) && bound.isin(col("doc_id"), ids))
      .select(col("doc_id"), col("text"))
    lastDocsPlanThunk = () => pruned.queryExecution.executedPlan.toString
    pruned
  }

  /** the positions `[from, to)` of sorted `keys` that hold `key` */
  private def equalRange(keys: Array[Long], from: Int, to: Int, key: Long): Iterator[Int] = {
    var lo = from
    var hi = to
    while (lo < hi) {
      val m = (lo + hi) >>> 1
      if (keys(m) < key) lo = m + 1 else hi = m
    }
    Iterator.from(lo).takeWhile(i => i < to && keys(i) == key)
  }

  /** The live `sigs/` rows held on the driver as a [[Resident]] image:
    * the (band, band_key) → doc ids probe map, one run per band of
    * sorted keys with their doc ids beside them in flat arrays
    * ([[Resident.SigBytes]] a row), and the positions of null doc ids
    * (such a row fills its bucket but never pairs). */
  private[graft] final class SigImage(starts: Array[Int], keys: Array[Long],
      ids: Array[Long], nullIds: java.util.BitSet) {
    /** the doc ids held in bucket (band, key), None for a null id */
    def bucket(band: Int, key: Long): Iterator[Option[Long]] =
      equalRange(keys, starts(band), starts(band + 1), key).map(i => Option.when(!nullIds.get(i))(ids(i)))
  }

  /** the [[SigImage]], when the live `sigs/` footer rows fit one share */
  private[graft] def sigImage(spark: SparkSession, dir: String): Option[SigImage] =
    Resident.image(spark, "sigs", chain(dir), onRepeat = true) { (vers, share) =>
      Option.when(StoreLayout.footerRows(spark, vers.map(v => s"$dir/sigs/__ver=$v")) *
          Resident.SigBytes <= share) {
        val rows = sigFrame(spark, dir).select(col("band"), col("band_key"), col("doc_id")).collect()
          .map(r => (r.getInt(0), r.getLong(1), Option.when(!r.isNullAt(2))(r.getLong(2))))
          .sortBy(r => (r._1, r._2))
        val nulls = new java.util.BitSet(rows.length)
        rows.indices.foreach(i => if (rows(i)._3.isEmpty) nulls.set(i))
        // run b starts at the first row of a band ≥ b
        val starts = (0 to Bands).map(b => rows.indexWhere(_._1 >= b) match { case -1 => rows.length; case i => i })
        new SigImage(starts.toArray, rows.map(_._2), rows.map(_._3.getOrElse(0L)), nulls)
      }
    }

  /** The live verify texts held on the driver as a [[Resident]] image,
    * sorted by doc_id; a doc_id more than one live version holds keeps
    * every text, as the point read does. */
  private[graft] final class TextImage(ids: Array[Long], texts: Array[String]) {
    def textsOf(id: Long): Iterator[String] = equalRange(ids, 0, ids.length, id).map(texts(_))
  }

  /** The [[TextImage]], when the live `docs/` footers fit one share: the
    * `text` column's uncompressed bytes, twice (a JVM string holds a
    * character in one or two bytes, its UTF-8 form in one to four),
    * plus [[Resident.TextBytes]] per footer row. A dictionary-encoded
    * column counts each distinct text once, so identical texts share
    * one String in the image. Texts or ids that are null never pair and
    * are not held. */
  private[graft] def textImage(spark: SparkSession, dir: String): Option[TextImage] =
    Resident.image(spark, "texts", chain(dir), onRepeat = true) { (vers, share) =>
      val (rows, bytes) = StoreLayout.footerRowsAndBytes(spark, vers.map(v => s"$dir/docs/__ver=$v"), "text")
      Option.when(rows * Resident.TextBytes + 2 * bytes <= share) {
        val held = docsFrame(spark, dir).filter(col("doc_id").isNotNull && col("text").isNotNull)
          .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
        val canon = new java.util.HashMap[String, String]
        new TextImage(held.map(_._1), held.map(r => canon.computeIfAbsent(r._2, t => t)))
      }
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
    *  1. band the batch;
    *  2. read the store's probed buckets — only rows whose
    *     (band, band_key) the batch holds;
    *  3. cap each bucket at [[MaxBucket]] over stored+batch occupancy
    *     (the store holds every non-batch doc, so combined occupancy
    *     equals d2's whole-corpus bucket count — cap semantics are
    *     bit-identical to the batch operator's);
    *  4. pair within capped buckets, keeping pairs with ≥1 batch side
    *     (old×old pairs were the store build's job);
    *  5. exact-Jaccard verify on the paired texts only — batch texts
    *     from the batch, stored texts from the db-bucketed docs
    *     artifact; the serve reads neither the corpus table nor an
    *     O(corpus) slice of the text column.
    *
    * Two plans run these stages, and the switch is physical only (same
    * rows, same schema). A batch of ≤ min(`probeCollectMax / Bands`,
    * [[LocalBatchMax]]) docs — so ≤ `probeCollectMax` distinct probe
    * keys — runs them on the driver ([[localNearDup]]: two
    * partition-pruned point reads, no shuffle, no checkpoint). A larger
    * batch, or one whose probe rows or candidate pairs pass the local
    * bounds, runs them as one shuffle plan ([[joinedNearDup]]);
    * `probeCollectMax = 0` forces it.
    */
  /** last serve's probe-read shape (the driver-local plan's "resident"
    * image probe or "pruned" point read | "joined" | "empty"), its probe
    * scan's physical plan, and the text-fetch shape ("resident" |
    * "pruned" | "joined", "empty" when no stored text was needed) —
    * observability for the crossover and PartitionFilters specs (the
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
    val batchDocs = batch.select(col("doc_id").cast(LongType).as("doc_id"), col("text"))
    // limit() takes an Int: a Long cap at/above Int.MaxValue must
    // SATURATE, not overflow to a negative limit that fails the serve
    // at runtime (r17, ADVICE)
    val cap = math.min(probeCollectMax, (Int.MaxValue - 1).toLong).toInt
    // a doc bands into ≤ Bands keys, so ≤ cap/Bands docs carry ≤ cap
    // distinct keys. ONE bounded collect decides the branch and hands
    // the local plan its batch (a request's LocalRelation folds the
    // limit: no job); a larger batch has read ≤ LocalBatchMax + 1 rows
    // of itself before the joined plan serves it
    val docCap = math.min(cap / Bands, LocalBatchMax)
    val docs = batchDocs.limit(docCap + 1).collect()
    (if (docs.length <= docCap) localNearDup(spark, storeDir, docs, cap) else None)
      .getOrElse(joinedNearDup(spark, storeDir, batchDocs, cap))
  }

  /** [[bandedSigs]]'s band-key expression, bound to one signature:
    * band b's key is `xxhash64(b, slice(sig, b·R + 1, R))` — evaluated
    * on the driver, not re-implemented */
  private val bandKeyExprs: IndexedSeq[Expression] = {
    val sig = BoundReference(0, ArrayType(LongType, containsNull = false), nullable = false)
    (0 until Bands).map(b => new XxHash64(Seq(Literal(b),
      Slice(sig, Literal(b * RowsPerBand + 1), Literal(RowsPerBand)))))
  }

  /** one text's (band, band_key) rows on the driver, as
    * [[bandedSigs]] makes them: none for a null text or one shorter
    * than the shingle in Spark's character count (`length`) */
  private[graft] def bandKeysLocal(text: String): Seq[(Int, Long)] = {
    val t = if (text == null) null else UTF8String.fromString(text)
    if (t == null || t.numChars < Shingle) Nil
    else {
      val sig = InternalRow(TextHash.minhashJ(t, Shingle, NumHashes))
      bandKeyExprs.indices.map(b => (b, bandKeyExprs(b).eval(sig).asInstanceOf[Long]))
    }
  }

  /** Spark's `round(x, 4)`, evaluated */
  private val round4 = Round(BoundReference(0, DoubleType, nullable = false), Literal(4))
  private[graft] def roundJaccard(x: Double): Double =
    round4.eval(InternalRow(x)).asInstanceOf[Double]

  /** the serve's output schema, on both plans */
  private[graft] val PairSchema = StructType(Seq(
    StructField("id_a", LongType), StructField("id_b", LongType),
    StructField("jaccard", DoubleType)))

  /** The driver-local plan: stages 1–5 over collected rows. Jobs: the
    * probe read, then the stored-text read — skipped when no pair has a
    * stored side. Each is a lookup with no job instead when its image
    * ([[sigImage]], [[textImage]]) is resident, each admitted on its
    * own; the rows are the same. Every collection the driver holds is bounded in rows,
    * with `cap` = `probeCollectMax` (8192 by default): the batch
    * (≤ min(`cap / Bands`, [[LocalBatchMax]]) docs and texts, so ≤ `cap`
    * keys), the probe rows (≤ min(keys × (MaxBucket + 1), `cap`)), the
    * candidate pairs (≤ `cap`, plus at most one bucket's
    * MaxBucket·(MaxBucket − 1)/2 = 2016 before the check stops) and the
    * paired stored ids and texts (≤ the pairs: a pair has at most one
    * stored side). Past any of them `None`, and the joined plan
    * serves. */
  private def localNearDup(spark: SparkSession, storeDir: String,
                           docs: Array[Row], cap: Int): Option[DataFrame] = {
    def idOf(r: Row): Option[Long] = if (r.isNullAt(0)) None else Some(r.getLong(0))
    // a null doc_id never pairs but still fills its buckets, as in the
    // joined plan's occupancy window
    val batchRows = docs.toSeq.flatMap { r =>
      bandKeysLocal(r.getString(1)).map { case (b, k) => ((b, k), (idOf(r), true)) }
    }
    if (batchRows.isEmpty) {
      // empty (or all-too-short) batch: no probes, no pairs, no read
      lastProbeSource = "empty"
      lastTextSource = "empty"
      return Some(spark.createDataFrame(java.util.Collections.emptyList[Row](), PairSchema))
    }
    val keysByBand = batchRows.map(_._1).distinct.groupMap(_._1)(_._2)
    val probeMax = math.min(
      keysByBand.valuesIterator.map(_.size.toLong).sum * (MaxBucket + 1), cap.toLong).toInt
    // both images are asked for on every serve, so they are built
    // together on the stamp's second serve, whether or not that serve
    // needs a stored text
    val textImg = textImage(spark, storeDir)
    val (probeSource, probePlan, stored) = sigImage(spark, storeDir) match {
      case Some(img) =>
        ("resident", () => "", keysByBand.iterator.flatMap { case (b, ks) =>
          ks.iterator.flatMap(k => img.bucket(b, k).map(id => ((b, k), (id, false))))
        }.take(probeMax + 1).toSeq)
      case None =>
        val pruned = sigFrame(spark, storeDir)
          .filter(probePred(keysByBand, storeGroups(spark, storeDir)))
          .select(col("doc_id"), col("band"), col("band_key"))
        // one task, one job, however many files the probed dirs hold
        ("pruned", () => pruned.queryExecution.executedPlan.toString,
          pruned.coalesce(1).limit(probeMax + 1).collect().toSeq
            .map(r => ((r.getInt(1), r.getLong(2)), (idOf(r), false))))
    }
    if (stored.length > probeMax) return None

    val buckets = (stored ++ batchRows).groupMap(_._1)(_._2)
    val candidates = scala.collection.mutable.HashSet.empty[(Long, Long, Boolean, Boolean)]
    val capped = buckets.valuesIterator.filter(_.size <= MaxBucket)
    while (capped.hasNext && candidates.size <= cap) {
      val members = capped.next().collect { case (Some(id), isNew) => (id, isNew) }
      for (x <- members; y <- members if x._1 < y._1 && (x._2 || y._2))
        candidates += ((x._1, y._1, x._2, y._2))
    }
    if (candidates.size > cap) return None
    val storedIds = candidates.flatMap { case (a, b, newA, newB) =>
      Option.when(!newA)(a) ++ Option.when(!newB)(b)
    }

    lastProbeSource = probeSource
    lastPrunedPlanThunk = probePlan
    lastDocsPlanThunk = () => ""
    val storedTexts: Seq[(Long, String)] =
      if (storedIds.isEmpty) { lastTextSource = "empty"; Nil }
      else textImg match {
        case Some(img) =>
          lastTextSource = "resident"
          storedIds.toSeq.flatMap(id => img.textsOf(id).map(id -> _))
        case None =>
          lastTextSource = "pruned"
          docsForIds(spark, storeDir, storedIds.toSeq).collect().toSeq
            .filter(r => !r.isNullAt(0) && !r.isNullAt(1)).map(r => r.getLong(0) -> r.getString(1))
      }
    val texts = (storedTexts ++ docs.toSeq.filter(r => !r.isNullAt(0) && !r.isNullAt(1))
      .map(r => r.getLong(0) -> r.getString(1))).groupMap(_._1)(_._2)
    val pairs = for {
      (a, b, _, _) <- candidates.toSeq
      ta <- texts.getOrElse(a, Nil)
      tb <- texts.getOrElse(b, Nil)
      j = roundJaccard(TextHash.shingleJaccard(ta, tb, Shingle))
      if j >= Threshold
    } yield (a, b, j)
    val rows = pairs.sortBy(p => (p._1, p._2)).map { case (a, b, j) => Row(a, b, j) }
    Some(spark.createDataFrame(java.util.Arrays.asList(rows: _*), PairSchema))
  }

  /** The shuffle plan for batches past the local bound: the batch is
    * banded once into a checkpoint, the store is semi-joined on the
    * batch's (band, band_key) set (no driver-side key set), a window
    * caps the buckets, a self-join pairs them, and joins attach the
    * verify texts. */
  private def joinedNearDup(spark: SparkSession, storeDir: String,
                            batchDocs: DataFrame, cap: Int): DataFrame = {
    val batchSigs = bandedSigs(batchDocs).localCheckpoint(true)
    val distinctKeys = batchSigs.select(col("band"), col("band_key")).distinct()
    lastProbeSource = "joined"
    val storedRows = sigFrame(spark, storeDir)
      .join(distinctKeys.hint("shuffle_hash"), Seq("band", "band_key"), "left_semi")

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
    // the crossover) reads the artifact once through a join instead.
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

  /** [[Versioned.fold]] the chain back into one full copy */
  def compact(spark: SparkSession, dir: String): Unit =
    Versioned.fold(spark, chain(dir)) { next =>
      writeVer(dir, next, sigFrame(spark, dir), docsFrame(spark, dir),
        storeGroups(spark, dir))
    }

  // memoized store of the non-batch corpus slice, keyed by corpus
  // dir; invalidation deletes the temp store on disk (its data was
  // derived from the rewritten corpus, so no live handle is valid —
  // and it carries a full corpus-sized docs/text artifact), and a
  // shutdown hook sweeps whatever the JVM still holds
  private val storeCache = new graft.SessionCache[String, String](4, identity, TempStores.delete)
  def storeFor(spark: SparkSession, d: String): String =
    storeCache.getOrElseUpdate(spark, d)(TempStores.create("sigstore")(write(spark,
      Tables.documents(spark, d).filter(col("doc_id") % BatchMod =!= 0)
        .select(col("doc_id"), col("text")), _)))
}
