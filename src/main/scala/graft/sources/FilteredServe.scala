package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables
import graft.operators.SrpBanded
import graft.functions.{bound, vectors}

/** A term of a filtered-search predicate (conjunction semantics).
  * The reference engine is Postgres — `WHERE num_claims >= 5 AND
  * country = 'EN' ORDER BY embedding <=> q` is squarely in its class
  * (sql/02_schema.sql carries `num_claims BIGINT`, `date`, `country`)
  * — so the filtered surface accepts typed comparisons, not just
  * equality conjunctions:
  *
  *  - [[MetaTerm.Eq]] — equality on any declared column;
  *  - [[MetaTerm.Cmp]] — `= >= > <= < !=` with the value compared
  *    NUMERICALLY when it parses as a number (the store is
  *    string-canonical; a non-numeric stored value fails a numeric
  *    comparison the way SQL's NULL does — excluded), and
  *    lexicographically otherwise (ISO dates order correctly).
  *
  * Where the term's column is a PARTITION column (a declared
  * [[FilteredServe.MetaCols]]-class column), any term — including a
  * comparison — reduces to the set of matching value combos from the
  * stats artifact, so byval pruning stays STATIC file-index pruning.
  * Where it is a declared range column (in-row numeric, see
  * `writeMetaFrom(rangeCols)`), the term becomes an in-scan residual
  * filter over the pruned partitions, with cardinality estimated from
  * the write-time histogram (`meta/rstats/`). */
sealed trait MetaTerm { def column: String }
object MetaTerm {
  final case class Eq(column: String, value: String) extends MetaTerm
  final case class Cmp(column: String, op: String, value: String) extends MetaTerm {
    require(MetaTerm.CmpOps.contains(op),
      s"unsupported comparison operator '$op'")
  }
  /** the comparison operators [[Cmp]] accepts — `=`/`==` included so
    * the reference's `num_claims = N` shape is expressible on a
    * range-class column (where [[Eq]] is rejected: equality there is
    * a Cmp with typed-NUMERIC semantics, not a partition lookup) */
  val CmpOps: Set[String] = Set("=", "==", ">=", ">", "<=", "<", "!=")
  /** the legacy equality-conjunction shape, lifted */
  def ofPairs(pred: Seq[(String, String)]): Seq[MetaTerm] =
    pred.map { case (c, v) => Eq(c, v) }
}

/** v39: metadata-filtered ANN on the STORED serve path — the
  * reference's defining query pattern (`WHERE withdrawn = 0 AND
  * type = 'POLICY' ORDER BY embedding <=> q LIMIT k`, tools.yaml:22-27
  * composed with sql/02_schema.sql's metadata columns) served from
  * index artifacts instead of the exact corpus scan r1/v10 run.
  *
  * Strategy — a THREE-TIER cardinality planner (the catalog-statistics
  * decision pgvector-class systems make, extended with a per-value
  * code index), every tier reading only store files:
  *
  *  - '''selective predicate''' (matching rows ≤ [[ExactScanMax]]):
  *    exact top-k over a PARTITION-PRUNED read of the `meta/byval/`
  *    artifact — embeddings stored partitioned by the declared filter
  *    columns, so the scan touches only matching partitions (decided
  *    in the file index, zero IO elsewhere). Recall is 1.0 by
  *    construction: this is why selective predicates do NOT collapse
  *    recall here — few matching rows make the exact ranking cheap,
  *    and the partition layout makes "few" mean "few bytes read".
  *  - '''mid-selectivity''' (matching ≤ [[CodeScanMax]]): the
  *    PER-VALUE CODE tier ([[codeFiltered]]) — byval rows carry a
  *    [[CodeRpb]]-bit SRP sign sketch in-row (64 bytes vs ~3 KB of
  *    embedding), so the serve scans only the MATCHING partitions'
  *    code column, Hamming-shortlists W = matching/[[ShortlistRatio]]
  *    candidates, and exact-reranks them. Every candidate matches the
  *    predicate by construction — no post-filter, no escalation, and
  *    recall holds across corpus decades because W is keyed to the
  *    matching count, not a fixed walk budget (the r12 weakness this
  *    tier closes: walk+post-filter recall@10 decayed 0.93→0.52
  *    across 10×→1000× at fixed budget).
  *  - '''very broad predicate''': the stored graph walk (v28's serve —
  *    pruned SrpStore seed buckets + persisted EdgeStore hops),
  *    UNFILTERED so graph connectivity is preserved (filtering nodes
  *    mid-walk strands the beam — the standard filtered-HNSW result),
  *    then the walk's bounded visited set is post-filtered through a
  *    pruned point read of `meta/byid/` and cut to the best k matching
  *    candidates. The walk starts at the SELECTIVITY-KEYED factor
  *    ([[walkStartFactor]] from `meta/stats`) and escalates on the
  *    fixed schedule ([[EscalateFactors]] × maxEntries/beam —
  *    deterministic, so the whole serve stays replayable), finally
  *    falling back to the selective exact path, which cannot miss.
  *    Per-escalation cost is O(walk), never O(corpus).
  *
  * The tier decision reads the write-time `meta/stats/` value-count
  * artifact (one tiny memoized collect — the catalog-statistics role).
  *
  * Artifacts — a merge-on-read [[Versioned]] chain rooted at
  * `<srpDir>/meta` (markers and crash contract there), one `__ver=N`
  * dir per artifact and version:
  * {{{
  *   <srpDir>/meta/byval/__ver=N/<c1>=<v1>/.../  (vec_id, embedding, keys) sorted by vec_id
  *   <srpDir>/meta/byid/__ver=N/pb=<p>/          (vec_id, c1, c2, ...)
  *   <srpDir>/meta/stats/__ver=N/                (c1, c2, ..., cnt), every combo
  *   <srpDir>/meta/rstats/__ver=N/               range histograms, if declared
  * }}}
  * `pb = pmod(vec_id, n)`, with `n` sized from the store's bytes
  * ([[StoreLayout]]; at most 64) and pinned under
  * `<srpDir>/meta/layout/v<N>/`. A byval row is resolved per (value
  * combo, vec_id) and a byid row per vec_id: the latest live version
  * wins, and a null-keys byval row is the tombstone a moved id leaves
  * in its old combo. Each version holds the full stats, so a read
  * takes only the latest version's.
  */
object FilteredServe {

  /** declared filter columns — the reference schema's metadata class
    * (lang/source play withdrawn/type's role on the synthetic corpus) */
  val MetaCols: Seq[String] = Seq("lang", "source")

  /** matching-row budget for the pruned exact path: below this, the
    * exact ranking over only-matching partitions is the cheapest AND
    * highest-recall plan (the Qdrant/pgvector cardinality crossover) */
  val ExactScanMax = 100000L

  /** byid pb bucket cap (the count of a store of ≥ 64 × 4 MB) —
    * the [[CodeStore.Partitions]] convention */
  private val IdBucketCap = 64

  /** bytes of one byid row as [[StoreLayout]] sizes it: the id plus
    * a few short metadata strings */
  private val IdRowBytes = 64L

  /** deterministic walk-escalation schedule: multiplies maxEntries
    * (and, capped at 4, beam) until k matching candidates surface */
  val EscalateFactors: Seq[Int] = Seq(1, 4, 16)

  /** bits per band of the byval sign sketch (8 bands × 24 = 192
    * planes). The keys column is 8 int64s REGARDLESS of bits used, so
    * tripling the default 64-bit sketch costs zero storage and zero
    * scan bytes — it only sharpens the Hamming ordering (SRP angle
    * concentration ∝ 1/√bits), which is what lets the code tier hold
    * recall at corpus decades where the fixed-budget walk decays. */
  val CodeRpb = 24

  /** matching-row ceiling for the per-value CODE tier: above exact,
    * below this, the serve scans ONLY the matching partitions' 64-byte
    * code rows (embedding column never read — parquet projection),
    * Hamming-shortlists, and exact-reranks the shortlist. 50M codes
    * ≈ 3.2 GB — a sub-second distributed scan; past it the predicate
    * is so broad that the O(budget) walk + post-filter loses little
    * to the filter and costs corpus-independent IO. */
  val CodeScanMax = 50000000L

  /** code-tier shortlist floor — 2× the HammingIndex default: the
    * rerank cost (W embedding point-reads) is trivial next to the
    * code scan, and the hard near-random regime measured 0.88
    * recall@10 at 256 vs ~0.95 at 512 on the 10× replica corpus */
  val CodeShortlist = 512

  /** shortlist width grows with the matching count at this ratio
    * (W = matching/ratio, floored at [[CodeShortlist]]) so recall is
    * roughly scale-free across matching-set decades. r14 re-keyed
    * 64 → 16 on the measured W-sweep (FilteredScaleProbe
    * code_recall_w2/w4): the r13 100×-decade dip (0.820 at ratio 64)
    * was the RATIO, not corpus structure — the same tier at ratio 32
    * read 0.920 and at ratio 16 read 0.965, while decades whose
    * matching count keeps W at the floor or the cap were already at
    * 0.95+. The rerank is a W-row pruned point fetch — trivial next
    * to the code scan — so the 4× width buys recall for noise-level
    * cost. */
  val ShortlistRatio = 16L

  /** the single-scan fast-path bound: W ≤ this serves the shortlist
    * via one `orderBy(ham).limit(W)` (a parts×W driver merge — fine at
    * this size); larger W routes through the HISTOGRAM-THRESHOLD
    * shortlist ([[hammingShortlistIds]]) whose driver state is the
    * final W ids only. Also the floor of the coverage-keyed cap. */
  val MaxShortlist = 8192

  /** the COVERAGE FLOOR: W never thins below matching/this. The r14
    * fixed cap (8192 flat) let W/matching fall without bound as the
    * matching set grew — measured recall@10 0.970 → 0.905 across one
    * decade of matching growth at the same capped W, while the
    * in-probe W-sweep proved recall climbs monotonically with W
    * (docs/filtered_scale_r14_10000x.json: w2 0.955, w4 0.985). Keying
    * the cap to the matching count makes the tier's recall guarantee
    * matching-keyed again: at the tier ceiling (CodeScanMax = 50M
    * matching) W = 390,625 — ~3 MB of ids on the driver, and the
    * rerank is a W-row pruned batch join, not driver state. */
  val MinCoverageRatio = 128L

  /** cap on the selectivity-keyed walk start factor */
  val MaxWalkFactor = 8

  /** THE single-query code-tier shortlist policy: W = matching/
    * [[ShortlistRatio]], floored at [[CodeShortlist]], capped at the
    * COVERAGE-KEYED bound max([[MaxShortlist]], matching/
    * [[MinCoverageRatio]]) — so coverage W/matching stays ≥ 1/128 at
    * every matching count the tier serves (the covering contract
    * "W ≥ matching ⇒ exact" still holds below the floor). */
  def shortlistWidth(matching: Long): Int = {
    val policy = math.max(CodeShortlist.toLong, matching / ShortlistRatio)
    val cap = math.max(MaxShortlist.toLong, matching / MinCoverageRatio)
    // clamped: past ~2.75e11 matching the narrower bound (matching/128)
    // no longer fits an Int — min against Int.MaxValue instead of a
    // silent negative-overflow .toInt (the callers that enforce
    // [[CodeScanMax]] never get near this; the batch wOverride escape
    // hatch has no ceiling above it, so the clamp is load-bearing there)
    math.min(Int.MaxValue.toLong, math.min(policy, cap)).toInt
  }

  /** the BATCHED serve's W policy — the single-query COVERAGE-KEYED
    * policy (r15). Below [[MaxShortlist]] the batch shortlist lives in
    * per-query [[graft.functions.TopKPairs]] aggregate buffers (the
    * fast path — |Q|-multiplied per partition partial, which is why a
    * matching-keyed W could not simply raise the aggregate's k);
    * PAST the bound the serve routes through the per-query
    * HISTOGRAM-THRESHOLD shortlist ([[batchHistogramShortlist]]) whose
    * state is |Q|·≤193 bin counters — never |Q|·W heap buffers — so
    * the batch holds the same 1/[[MinCoverageRatio]] coverage floor as
    * the single-query tier. This removes the r15 PERF note's one
    * documented recall bound (batch recall@10 0.924 at 20M under the
    * fixed cap, vs 0.990 single-query). */
  def shortlistWidthBatch(matching: Long): Int = shortlistWidth(matching)

  /** which plan the last serve took ("exact" | "walk:<f>" |
    * "fallback") — spec hook */
  @volatile private[graft] var lastFilteredPath: String = ""
  // The plan hooks are LAZY thunks (r16): `queryExecution.executedPlan`
  // forces a full physical-planning pass of a subtree the enclosing
  // plan re-plans anyway — eagerly stringifying it put ~one Catalyst
  // run per predicate group on the serve's critical path purely for
  // the spec hooks. Specs read the defs; serving only stores a thunk.
  @volatile private[graft] var lastByValPlanThunk: () => String = () => ""
  @volatile private[graft] var lastByIdPlanThunk: () => String = () => ""
  @volatile private[graft] var lastCodeScanPlanThunk: () => String = () => ""
  /** executed plan of the last pruned byval read — spec hook */
  private[graft] def lastByValPlan: String = lastByValPlanThunk()
  /** executed plan of the last pruned byid read — spec hook */
  private[graft] def lastByIdPlan: String = lastByIdPlanThunk()
  /** executed plan of the last code-tier shortlist scan — spec hook
    * (the column-pruning claim: no embedding bytes in ReadSchema) */
  private[graft] def lastCodeScanPlan: String = lastCodeScanPlanThunk()

  /** Per-serve COVERAGE telemetry — the "is this predicate's recall
    * W-bound?" signal a 100 TB operator acts on (pgvector-class
    * systems surface probes/ef; this surfaces what the planner
    * actually budgeted against the matching count). `w` is the
    * candidate budget the serve ranked exactly (shortlist width,
    * walk visited count, or the matching count itself on the exact
    * tier); `ratio` = 1.0 means the serve was exact over the
    * matching set. */
  final case class Coverage(tier: String, matching: Long, w: Long) {
    def ratio: Double =
      if (matching <= 0L || w >= matching) 1.0 else w.toDouble / matching
    /** below the code tier's design floor — a serve whose recall the
      * W-sweep evidence says is degraded, surfaced instead of silent.
      * Compared against the INTEGER floor width (matching/128 floored,
      * exactly what [[shortlistWidth]] emits in the matching-keyed
      * regime): a strict ratio test would flag every policy-compliant
      * serve whose matching count is not divisible by
      * [[MinCoverageRatio]] — floor(m/128)/m < 1/128 for 127 of every
      * 128 values of m — turning the alarm into a constant false
      * positive. */
    def belowFloor: Boolean =
      matching > 0L && w < matching / MinCoverageRatio
  }
  @volatile private[graft] var lastServeCoverage: Coverage = Coverage("none", 0L, 0L)
  // the PER-REQUEST form (r16): filtered serves execute their planner
  // on the calling thread, so a gateway worker reads ITS OWN request's
  // coverage here even while other requests serve concurrently — the
  // global volatile above stays as the single-threaded spec hook
  private val lastServeCoverageTL = new ThreadLocal[Coverage] {
    override def initialValue(): Coverage = Coverage("none", 0L, 0L)
  }
  /** the coverage of the last filtered serve ON THIS THREAD — what a
    * gateway attaches to the response it is building (tier, matching,
    * W, ratio), closing the observability loop per request instead of
    * only in the global counters */
  def lastCoverageHere: Coverage = lastServeCoverageTL.get()
  private val coverageServes = new java.util.concurrent.atomic.AtomicLong(0L)
  private val coverageBelowFloor = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def recordCoverage(tier: String, matching: Long, w: Long): Unit = {
    val c = Coverage(tier, matching, w)
    lastServeCoverage = c
    lastServeCoverageTL.set(c)
    coverageServes.incrementAndGet(): Unit
    if (c.belowFloor) coverageBelowFloor.incrementAndGet(): Unit
  }
  /** gateway counters: filtered serves observed / served below the
    * coverage floor (the [[graft.tools.RequestQueue]] admitted/
    * rejected/timedOut analogue for recall posture) */
  def filteredServes: Long = coverageServes.get()
  def filteredServesBelowFloor: Long = coverageBelowFloor.get()

  /** the meta chain of the store at `srpDir`: a version's data is its
    * four artifact dirs and its byid layout pin */
  private[graft] def chain(srpDir: String): Versioned.Chain = {
    val m = s"$srpDir/meta"
    Versioned.Chain(m, m, v =>
      Seq("byval", "byid", "stats", "rstats").map(a => s"$m/$a/__ver=$v") :+ StoreLayout.dir(m, v))
  }

  /** Write the meta artifacts under an existing SRP store dir with
    * the default corpus wiring ([[MetaCols]] over the documents
    * table), as version 0 of the meta chain: a crash mid-write leaves
    * no live version, and [[ensureMeta]] rebuilds. */
  def writeMeta(spark: SparkSession, d: String, srpDir: String): Unit =
    writeMetaFrom(spark, srpDir,
      Tables.documents(spark, d)
        .select((col("doc_id").as("vec_id") +: MetaCols.map(col)): _*),
      MetaCols,
      Tables.embeddings(spark, d)
        .filter(col("embedding").isNotNull &&
          size(col("embedding")) === SrpBanded.Dim)
        .select(col("vec_id"), col("embedding")))

  /** The generalized meta build: a deployment DECLARES its own filter
    * columns (the reference's are `withdrawn`/`type`,
    * sql/02_schema.sql) by handing the (vec_id, <metaCols...>) frame
    * and the embedding source directly — every read path afterwards
    * infers the declared columns from the store's own `stats/` schema
    * ([[storeMetaCols]]), so serves/upserts need no column
    * configuration. Same commit contract as [[writeMeta]]. */
  def writeMetaFrom(spark: SparkSession, srpDir: String, docs: DataFrame,
                    metaCols: Seq[String], emb: DataFrame): Unit =
    writeMetaFrom(spark, srpDir, docs, metaCols, emb, Seq.empty)

  /** [[writeMetaFrom]] with declared RANGE columns: numeric-ish
    * columns (the reference's `num_claims`/`date`) stored IN-ROW in
    * byval/byid — not partitioned, so a high-cardinality numeric never
    * explodes the dir count — and summarized at write time into the
    * `meta/rstats/` equi-width histogram ([[HistBins]] bins per
    * column) the planner's cardinality estimate for [[MetaTerm.Cmp]]
    * terms reads. Range terms filter in-scan over the
    * partition-pruned matching dirs: every tier stays EXACT over the
    * matching set; only the tier CHOICE rides the estimate. */
  def writeMetaFrom(spark: SparkSession, srpDir: String, docs: DataFrame,
                    metaCols: Seq[String], emb: DataFrame,
                    rangeCols: Seq[String]): Unit = {
    require(metaCols.nonEmpty, "at least one declared meta column")
    (metaCols ++ rangeCols).foreach(c => require(docs.columns.contains(c),
      s"docs frame must carry declared meta column '$c'"))
    require(metaCols.intersect(rangeCols).isEmpty,
      "a column cannot be both partition-class and range-class")
    // the store is STRING-canonical in its declared columns: partition
    // values are path strings anyway, every read path casts to string,
    // and upsertMeta reads update values as strings — an int-typed
    // declaration would build a store whose first upsert throws
    val docsS = docs.select((col("vec_id").cast("long").as("vec_id") +:
      (metaCols ++ rangeCols).map(c => col(c).cast("string").as(c))): _*)
    // the NON-declared columns are schema-pinned too: readByVal reads
    // byval with vec_id=long / embedding=array<float>, and parquet will
    // not read a DOUBLE page as FloatType — so the write side must
    // GUARANTEE those types, or a store built from an array<double>
    // embeddings frame (or int ids) fails every subsequent read. The
    // code sketch is computed AFTER the cast so keys always reflect the
    // float values the rerank will score.
    val embS = emb.select(col("vec_id").cast("long").as("vec_id"),
      col("embedding").cast("array<float>").as("embedding"))
    val m = s"$srpDir/meta"
    Versioned.create(spark, chain(srpDir), m) {
      // value-partitioned embedding copy: the selective path's pruned
      // exact scan (partition count = distinct value combinations — the
      // tenant/category layout a production corpus already has). Rows
      // carry the [[CodeRpb]]-bit sign sketch in-row (the per-value CODE
      // index — 64 bytes vs the embedding's ~3 KB, column-projected so
      // the code tier never reads embedding bytes).
      writeByVal(embS.join(docsS, Seq("vec_id"))
        .withColumn("keys", SrpBanded.bandKeysCol(col("embedding"), SrpBanded.Dim, CodeRpb)),
        m, metaCols, 0)
      // the other artifacts come from the rows just written, read back
      // without their embeddings: value counts (the planner's
      // statistics), the id-keyed rows of the walk path's bounded
      // post-filter point read, and the range histograms
      val rows = byValAt(spark, m, metaCols, rangeCols, Seq(0))
        .select((col("vec_id") +: (metaCols ++ rangeCols).map(col)): _*)
      val combos = rows.groupBy(metaCols.map(col): _*).agg(count(lit(1)).as("cnt"))
        .collect().toSeq.map(r => (metaCols.map(c => r.getAs[String](c)), r.getAs[Long]("cnt")))
      writeStats(spark, m, 0, metaCols, combos)
      writeByIdSized(rows, combos.map(_._2).sum, m, 0)
      if (rangeCols.nonEmpty) writeRangeStats(spark, m, 0, rows, rangeCols)
    }
  }

  /** write version v's byval rows, sorted by vec_id within each value
    * dir so the shortlist's point fetch prunes at parquet row-group
    * min/max, not just partition dirs */
  private def writeByVal(rows: DataFrame, m: String, cols: Seq[String], v: Int): Unit =
    rows.withColumn("__ver", lit(v))
      .repartition(cols.map(col): _*)
      .sortWithinPartitions(("__ver" +: cols :+ "vec_id").map(col): _*)
      .write.mode(SaveMode.Append)
      .partitionBy("__ver" +: cols: _*)
      .parquet(s"$m/byval")

  /** write version v's byid rows (vec_id, <meta cols>, <range cols>)
    * in `buckets` pb buckets */
  private def writeById(rows: DataFrame, m: String, v: Int, buckets: Int): Unit =
    rows.withColumn("pb", pmod(col("vec_id"), lit(buckets.toLong)))
      .withColumn("__ver", lit(v))
      .repartition(col("pb"))
      .write.mode(SaveMode.Append)
      .partitionBy("__ver", "pb")
      .parquet(s"$m/byid")

  /** write `rows` (`count` of them) as version v's byid at the bucket
    * count their size gives (a full build or a fold), and pin it */
  private def writeByIdSized(rows: DataFrame, count: Long, m: String, v: Int): Unit =
    StoreLayout.writeSized(rows.sparkSession, m, v, count, IdRowBytes, IdBucketCap)(
      writeById(rows, m, v, _))

  /** write version v's stats: every value combo with its row count */
  private def writeStats(spark: SparkSession, m: String, v: Int, cols: Seq[String],
                         combos: Seq[(Seq[String], Long)]): Unit = {
    val schema = StructType(cols.map(StructField(_, StringType)) :+ StructField("cnt", LongType))
    spark.createDataFrame(combos.map { case (vs, n) => Row.fromSeq(vs :+ n) }.asJava, schema)
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$m/stats/__ver=$v")
  }

  /** equi-width bins per range-column histogram */
  val HistBins = 64

  /** Build + write version v's `meta/rstats/` histogram from `rows`:
    * per declared range column, [[HistBins]] equi-width bins over the
    * numeric parse of the (string-canonical) values — rows `(rcol,
    * bin, lo, hi, cnt)`. Non-numeric values land in bin −1 (the
    * estimator counts them as always-matching: a conservative
    * over-estimate that only ever pushes the planner toward a
    * cheaper-per-row tier). */
  private def writeRangeStats(spark: SparkSession, m: String, v: Int,
                              rows: DataFrame, rangeCols: Seq[String]): Unit = {
    import spark.implicits._
    val hists = rangeCols.map { rc =>
      // try_cast: non-numeric values land as NULL → counted into the
      // always-matching bin −1 (plain cast would throw under ANSI)
      val vals = rows.select(col(rc).try_cast("double").as("v"))
      val mm = vals.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("nonnum")).head()
      val nNonNum = if (mm.isNullAt(2)) 0L else mm.getLong(2)
      val nonNum = Seq((rc, -1, Double.NaN, Double.NaN, nNonNum))
        .toDF("rcol", "bin", "lo", "hi", "cnt")
      if (mm.isNullAt(0)) nonNum
      else {
        val (lo, hi) = (mm.getDouble(0), mm.getDouble(1))
        val w = math.max((hi - lo) / HistBins, java.lang.Math.ulp(math.abs(hi) + 1))
        val binned = vals.filter(col("v").isNotNull)
          .select(least(floor((col("v") - lit(lo)) / lit(w)),
            lit(HistBins - 1)).cast("int").as("bin"))
          .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
          .select(lit(rc).as("rcol"), col("bin"),
            (lit(lo) + col("bin") * lit(w)).as("lo"),
            (lit(lo) + (col("bin") + 1) * lit(w)).as("hi"),
            col("cnt"))
        binned.unionByName(nonNum)
      }
    }
    hists.reduce(_ unionByName _)
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$m/rstats/__ver=$v")
  }

  /** Incremental meta maintenance — the [[SrpStore.upsert]] contract
    * applied to the meta chain: one [[Versioned.append]] of O(batch)
    * rows, so a corpus upsert never forces an O(corpus) meta rebuild
    * and a concurrent serve reads the store before the append or
    * after it, never a mix:
    *
    *  - `updates` carries (vec_id, embedding, <MetaCols>) — metadata
    *    rides the update batch the way embeddings do (an ingest knows
    *    both); a re-ingested document may CHANGE its metadata values,
    *    which moves it across byval partitions;
    *  - byval gets the batch's rows, plus a null-keys tombstone in the
    *    old value partition of each updated id whose values changed
    *    (old values from a pruned byid point read);
    *  - byid gets the batch's rows (the latest row per vec_id wins);
    *  - stats get a full copy of the combo counts: the previous ones
    *    plus the batch's new and minus its ids' old combos, computed
    *    on the driver, emptied combos dropped; rstats, when range
    *    columns are declared, are rebuilt from the live rows;
    *  - once the chain reaches [[Versioned.CompactAfter]] versions it
    *    folds to one copy of the resolved view.
    *
    * Returns the touched byval value combos, old ∪ new. */
  def upsertMeta(spark: SparkSession, srpDir: String,
                 updates: DataFrame): Seq[Seq[String]] = {
    val before = view(spark, srpDir)
    val (cols, rcols) = (before.cols, before.rcols)
    (cols ++ rcols).foreach(c => require(updates.columns.contains(c),
      s"upsertMeta updates must carry meta column '$c'"))
    val upd = updates
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      // same write-side type pinning as writeMetaFrom: the delta must
      // keep the long/array<float> schema readByVal enforces, and keys
      // are computed from the float-cast values the store ranks
      .select((Seq(col("vec_id").cast("long").as("vec_id"),
        col("embedding").cast("array<float>").as("embedding"),
        SrpBanded.bandKeysCol(col("embedding").cast("array<float>"),
          SrpBanded.Dim, CodeRpb)
          .as("keys")) ++
        // string-cast like the store itself (writeMetaFrom): an
        // int-typed updates frame must merge, not throw on getString
        (rcols ++ cols).map(c => col(c).cast("string").as(c))): _*)
    def combo(r: Row): Seq[String] = cols.map(c => r.getAs[String](c))
    val news = upd.select((col("vec_id") +: cols.map(col)): _*).collect()
      .map(r => (r.getLong(0), combo(r))).toSeq
    val ids = news.map(_._1).distinct
    val olds: Map[Long, Seq[String]] =
      if (ids.isEmpty) Map.empty
      else byIdPoint(before, ids).select((col("vec_id") +: cols.map(col)): _*).collect()
        .map(r => r.getLong(0) -> combo(r)).toMap
    if (news.nonEmpty) {
      val counts = scala.collection.mutable.LinkedHashMap(before.combos: _*)
      news.foreach { case (_, vs) => counts(vs) = counts.getOrElse(vs, 0L) + 1L }
      olds.values.foreach(vs => counts(vs) = counts.getOrElse(vs, 0L) - 1L)
      val tombs = news.collect { case (id, vs) if olds.get(id).exists(_ != vs) =>
        Row.fromSeq(Seq(id, null, null) ++ rcols.map(_ => null) ++ olds(id))
      }.distinct
      val tombSchema = StructType(upd.schema.map(_.copy(nullable = true)))
      val m = s"$srpDir/meta"
      Versioned.append(spark, chain(srpDir), compactMeta(spark, srpDir)) { v =>
        writeByVal(upd.unionByName(spark.createDataFrame(tombs.asJava, tombSchema)), m, cols, v)
        writeById(upd.select((col("vec_id") +: (cols ++ rcols).map(col)): _*), m, v, before.buckets)
        writeStats(spark, m, v, cols, counts.toSeq.filter(_._2 > 0))
        if (rcols.nonEmpty)
          writeRangeStats(spark, m, v, byIdAt(spark, m, cols, rcols, before.vers :+ v), rcols)
      }: Unit
    }
    (olds.values.toSeq ++ news.map(_._2)).distinct
  }

  /** [[Versioned.fold]] the meta chain into one copy of its resolved
    * view: tombstones dropped, byid re-sized from the live row count,
    * the latest stats and histograms carried over */
  private def compactMeta(spark: SparkSession, srpDir: String): Unit = {
    val m = s"$srpDir/meta"
    Versioned.fold(spark, chain(srpDir)) { next =>
      val cur = view(spark, srpDir)
      writeByVal(cur.byval, m, cur.cols, next)
      writeByIdSized(cur.byid.drop("pb"), cur.combos.map(_._2).sum, m, next)
      writeStats(spark, m, next, cur.cols, cur.combos)
      if (cur.rcols.nonEmpty)
        spark.read.parquet(s"$m/rstats/__ver=${cur.vers.max}")
          .write.mode(SaveMode.Overwrite).parquet(s"$m/rstats/__ver=$next")
    }
  }

  /** Schema-enforced byval read over versions `vers` — EVERY byval
    * data read funnels here. Spark's partition-column TYPE INFERENCE
    * would parse numeric-looking partition dir values ("withdrawn=0",
    * "m=5") into numbers, merging distinct string values whose numeric
    * forms collide ("5" and "5.0" both read back as 5.0, "00" as 0)
    * and breaking the store's string-canonical contract UNRECOVERABLY
    * (casting back yields the canonical numeric rendering, not the
    * written dir value). Supplying the schema pins every declared
    * column to STRING, so partition values round-trip byte-exactly
    * and static file-index pruning compares the strings the store
    * wrote.
    *
    * The latest version per (value combo, vec_id) wins
    * ([[Versioned.latest]]): the window is keyed on the partition
    * columns, so value predicates still push below it and prune in
    * the file index. A single live version (fresh or just folded)
    * holds no tombstone and skips both the window and the tombstone
    * filter. */
  private def byValAt(spark: SparkSession, m: String, cols: Seq[String],
                      rcols: Seq[String], vers: Seq[Int]): DataFrame = {
    val fields = Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("keys", ArrayType(LongType))) ++
      (rcols ++ cols).map(StructField(_, StringType)) :+
      StructField("__ver", IntegerType)
    val live = Versioned.latest(spark.read.schema(StructType(fields)).parquet(s"$m/byval"),
      vers, (cols :+ "vec_id"): _*)
    if (vers.size == 1) live else live.filter(col("keys").isNotNull)
  }

  /** byid over versions `vers`, latest row per (pb, vec_id) — pb is
    * a pure function of vec_id, so a pb-pruned point read stays
    * pruned below the window */
  private def byIdAt(spark: SparkSession, m: String, cols: Seq[String],
                     rcols: Seq[String], vers: Seq[Int]): DataFrame = {
    val fields = StructField("vec_id", LongType) +:
      (cols ++ rcols).map(StructField(_, StringType)) :+
      StructField("__ver", IntegerType) :+ StructField("pb", LongType)
    Versioned.latest(spark.read.schema(StructType(fields)).parquet(s"$m/byid"),
      vers, "pb", "vec_id")
  }

  /** the pb-pruned byid rows of `ids` */
  private def byIdPoint(v: View, ids: Seq[Long]): DataFrame =
    v.byid.filter(bound.isin(col("pb"), ids.map(Math.floorMod(_, v.buckets.toLong)).distinct) &&
      bound.isin(col("vec_id"), ids))

  /** The store as one live version set `vers` sees it: its declared
    * columns (the stats schema minus "cnt" — every read path infers
    * them from the store itself, so stores declared over different
    * columns serve through the same code with no configuration), its
    * stats and range histograms (a handful of rows, collected once;
    * the latest version holds them in full) and its resolved byval and
    * byid frames (analyzed scans — plan and file index — built on
    * first use, so a serve never re-lists the store). */
  private final class View(spark: SparkSession, m: String, val vers: Seq[Int]) {
    private val statsDf = spark.read.parquet(s"$m/stats/__ver=${vers.max}")
    val cols: Seq[String] = statsDf.schema.fieldNames.filterNot(_ == "cnt").toSeq
    /** (value combo, rows) */
    val combos: Seq[(Seq[String], Long)] =
      statsDf.collect().toSeq.map(r => (cols.map(c => r.getAs[String](c)), r.getAs[Long]("cnt")))
    val stats: Seq[(Map[String, String], Long)] =
      combos.map { case (vs, n) => (cols.zip(vs.map(String.valueOf)).toMap, n) }
    // a store without the rstats artifact has no declared range columns
    val rstats: Map[String, Seq[(Int, Double, Double, Long)]] = {
      val p = s"$m/rstats/__ver=${vers.max}"
      if (!Hfs.fs(spark, m).exists(new org.apache.hadoop.fs.Path(p))) Map.empty
      else spark.read.parquet(p).collect().toSeq
        .map(r => (r.getAs[String]("rcol"), r.getAs[Int]("bin"),
          r.getAs[Double]("lo"), r.getAs[Double]("hi"), r.getAs[Long]("cnt")))
        .groupBy(_._1)
        .map { case (c, rows) => c -> rows.map(t => (t._2, t._3, t._4, t._5)) }
    }
    val rcols: Seq[String] = rstats.keys.toSeq.sorted
    lazy val byval: DataFrame = byValAt(spark, m, cols, rcols, vers)
    lazy val byid: DataFrame = byIdAt(spark, m, cols, rcols, vers)
    lazy val buckets: Int = StoreLayout.pinned(spark, m, vers, IdBucketCap)
  }

  private val viewCache = new graft.SessionCache[String, View](16, identity)

  /** the live [[View]], one memo per version stamp */
  private def view(spark: SparkSession, srpDir: String): View =
    Versioned.memo(viewCache, spark, srpDir, chain(srpDir))(
      new View(spark, s"$srpDir/meta", _))

  /** the live resolved byval rows (vec_id, embedding, keys, <range
    * cols>, <meta cols>) */
  private[graft] def readByVal(spark: SparkSession, srpDir: String): DataFrame =
    view(spark, srpDir).byval

  /** the live resolved byid rows (vec_id, <meta cols>, <range cols>,
    * pb) */
  private[graft] def readById(spark: SparkSession, srpDir: String): DataFrame =
    view(spark, srpDir).byid

  private val buildLock = new Object

  /** Build the meta chain from the corpus when it has no live version:
    * never built, a build that crashed before its marker, or a store
    * written before the chain. The lock is the build-once guard, so
    * concurrent first serves do not race two builds. */
  def ensureMeta(spark: SparkSession, d: String, srpDir: String): Unit = {
    def missing = Versioned.live(spark, chain(srpDir)).isEmpty
    if (missing) buildLock.synchronized { if (missing) writeMeta(spark, d, srpDir) }
  }

  /** the store's declared filter columns, read from its own stats
    * artifact */
  def storeMetaCols(spark: SparkSession, srpDir: String): Seq[String] =
    view(spark, srpDir).cols

  private def stats(spark: SparkSession, srpDir: String): Seq[(Map[String, String], Long)] =
    view(spark, srpDir).stats

  /** the store's declared RANGE columns (in-row numeric class) */
  def storeRangeCols(spark: SparkSession, srpDir: String): Seq[String] =
    view(spark, srpDir).rcols

  // ---- typed-term machinery -------------------------------------

  private def toNum(s: String): Option[Double] =
    try Some(java.lang.Double.parseDouble(s)) catch { case _: NumberFormatException => None }

  /** driver-side term evaluation against a stats combo's string
    * values — mirrors [[termCol]]'s engine semantics exactly: a
    * numeric-valued comparison against a non-numeric stored value is
    * FALSE (the engine's cast yields null → filtered), a non-numeric
    * comparison is lexicographic */
  private def termMatches(vals: Map[String, String], t: MetaTerm): Boolean = t match {
    case MetaTerm.Eq(c, v) => vals(c) == v
    case MetaTerm.Cmp(c, op, v) =>
      val s = vals(c)
      val cmpd: Option[Int] = toNum(v) match {
        case Some(dv) => toNum(s).map(ds => java.lang.Double.compare(ds, dv))
        case None => Some(s.compareTo(v))
      }
      cmpd.exists(c0 => op match {
        case "=" | "==" => c0 == 0
        case ">=" => c0 >= 0
        case ">" => c0 > 0
        case "<=" => c0 <= 0
        case "<" => c0 < 0
        case "!=" => c0 != 0
      })
  }

  /** a term as an engine filter Column (the in-scan/byid form) */
  private def termCol(t: MetaTerm): Column = t match {
    case MetaTerm.Eq(c, v) => col(c) === lit(v)
    case MetaTerm.Cmp(c, op, v) =>
      val (l, r) = toNum(v) match {
        // try_cast, not cast: a non-numeric stored value must FAIL the
        // numeric comparison the way SQL's NULL does (the documented
        // semantics above) — under ANSI mode a plain cast would throw
        // mid-scan instead
        case Some(dv) => (col(c).try_cast("double"), lit(dv))
        case None => (col(c), lit(v))
      }
      op match {
        case "=" | "==" => l === r
        case ">=" => l >= r
        case ">" => l > r
        case "<=" => l <= r
        case "<" => l < r
        case "!=" => l =!= r
      }
  }

  private def termsCol(ts: Seq[MetaTerm]): Column =
    ts.map(termCol).reduce(_ && _)

  private def requireTerms(v: View, terms: Seq[MetaTerm]): Unit = {
    require(terms.nonEmpty, "filtered search needs at least one predicate term")
    val declared = v.cols ++ v.rcols
    val bad = terms.map(_.column).filterNot(declared.contains)
    require(bad.isEmpty,
      s"predicate columns ${bad.mkString(",")} not in declared columns ${declared.mkString(",")}")
    terms.foreach {
      case MetaTerm.Eq(c, _) => require(v.cols.contains(c),
        s"equality column '$c' is range-class — spell it as a Cmp or declare it partition-class")
      case _ => ()
    }
  }

  /** the stats combos a term conjunction's PARTITION-class terms admit
    * — any term over a partition column (equality or comparison)
    * reduces to this enumerated set, so byval pruning stays static */
  private def matchingCombos(v: View, terms: Seq[MetaTerm]): Seq[(Map[String, String], Long)] = {
    val partTerms = terms.filter(t => v.cols.contains(t.column))
    v.stats
      .filter { case (vals, _) => partTerms.forall(termMatches(vals, _)) }
  }

  /** histogram selectivity of one range-class comparison ∈ [0, 1]:
    * full bins count whole, the boundary bin pro-rata (uniform-within-
    * bin, the Selinger assumption), non-numeric rows (bin −1) count as
    * matching — a conservative over-estimate */
  private[graft] def histFrac(bins: Seq[(Int, Double, Double, Long)],
                              t: MetaTerm.Cmp): Double = {
    val total = bins.map(_._4).sum.toDouble
    if (total == 0) return 1.0
    toNum(t.value) match {
      case None => 1.0 // lexicographic term: no numeric histogram to read
      case Some(v) =>
        def binFrac(lo: Double, hi: Double): Double = t.op match {
          case ">=" | ">" =>
            if (lo >= v) 1.0 else if (hi <= v) 0.0 else (hi - v) / (hi - lo)
          case "<=" | "<" =>
            if (hi <= v) 1.0 else if (lo >= v) 0.0 else (v - lo) / (hi - lo)
          // a point predicate: the containing bin counts WHOLE (the
          // histogram has no NDV to pro-rata a point against) — a ≤
          // 2-bin over-estimate, which per this estimator's convention
          // only pushes the planner toward a cheaper-per-row tier
          case "=" | "==" => if (lo <= v && v <= hi) 1.0 else 0.0
          case "!=" => 1.0
        }
        val matched = bins.map {
          case (-1, _, _, cnt) => cnt.toDouble // non-numeric: conservative
          case (_, lo, hi, cnt) => cnt * binFrac(lo, hi)
        }.sum
        math.min(1.0, matched / total)
    }
  }

  /** Planner cardinality for a typed-term conjunction: the EXACT
    * combo-count for the partition-class terms × the histogram
    * selectivity of each range-class term (attribute independence —
    * the Selinger estimate; the tiers stay exact whatever this says,
    * only the tier CHOICE rides it). */
  def estimateCount(spark: SparkSession, srpDir: String,
                    terms: Seq[MetaTerm]): Long = {
    val v = view(spark, srpDir)
    requireTerms(v, terms)
    val comboCnt = matchingCombos(v, terms).map(_._2).sum
    val frac = terms.collect {
      case t: MetaTerm.Cmp if v.rstats.contains(t.column) =>
        histFrac(v.rstats(t.column), t)
    }.product
    math.ceil(comboCnt * frac).toLong
  }

  /** matching-row count for an equality conjunction over [[MetaCols]]
    * (subset allowed) — read from the write-time stats artifact */
  def matchCount(spark: SparkSession, srpDir: String,
                 pred: Seq[(String, String)]): Long = {
    requirePred(spark, srpDir, pred)
    stats(spark, srpDir)
      .filter { case (vals, _) => pred.forall { case (c, v) => vals(c) == v } }
      .map(_._2).sum
  }

  /** planner cardinality for a typed-term conjunction — an alias of
    * [[estimateCount]], which is already EXACT when every term is
    * partition-class (the frac product over zero range terms is 1.0)
    * and the histogram estimate otherwise */
  private[graft] def plannerCount(spark: SparkSession, srpDir: String,
                                  terms: Seq[MetaTerm]): Long =
    estimateCount(spark, srpDir, terms)

  /** total indexed rows — the selectivity denominator, from the same
    * stats artifact (no store scan) */
  def totalCount(spark: SparkSession, srpDir: String): Long =
    stats(spark, srpDir).map(_._2).sum

  /** selectivity-keyed walk start factor: a predicate matching 1/s of
    * the corpus needs ~s× the visited set for the post-filter to keep
    * the unfiltered budget's worth of MATCHING candidates — capped so
    * the walk stays O(budget) (past the cap the code tier is the
    * planner's answer, not a deeper walk) */
  private[graft] def walkStartFactor(matching: Long, total: Long): Int =
    if (matching <= 0L) 1
    else math.min(MaxWalkFactor.toLong,
      math.max(1L, (total + matching - 1) / matching)).toInt

  private def requirePred(spark: SparkSession, srpDir: String,
                          pred: Seq[(String, String)]): Unit = {
    require(pred.nonEmpty, "filtered search needs at least one predicate term")
    val declared = storeMetaCols(spark, srpDir)
    val bad = pred.map(_._1).filterNot(declared.contains)
    require(bad.isEmpty,
      s"predicate columns ${bad.mkString(",")} not in declared meta columns ${declared.mkString(",")}")
  }

  /** The byval rows matching a typed-term conjunction, ALL columns:
    * partition-class terms (equality or comparison) reduce to the
    * enumerated matching combos — an OR of partition-column equality
    * conjunctions, i.e. STATIC file-index pruning even for a range on
    * a partition column — and range-class terms apply as in-scan
    * residual filters over only those pruned dirs. Exact over the
    * matching set by construction. */
  private def byValMatching(spark: SparkSession, srpDir: String,
                            terms: Seq[MetaTerm]): DataFrame = {
    val v = view(spark, srpDir)
    requireTerms(v, terms)
    val partCols = v.cols
    val partTerms = terms.filter(t => partCols.contains(t.column))
    val rowTerms = terms.filterNot(t => partCols.contains(t.column))
    val raw = v.byval
    // all-equality partition terms filter DIRECTLY (one comparison per
    // term per row — the r13 shape; the combo OR costs ~|combos|×
    // per-row work: measured 2.3× on the 10000×-decade code scan).
    // Only a COMPARISON on a partition column needs the enumerated
    // combo reduction to stay statically prunable.
    val prunedPart =
      if (partTerms.forall(_.isInstanceOf[MetaTerm.Eq]))
        partTerms.foldLeft(raw)((df, t) => df.filter(termCol(t)))
      else {
        val combos = matchingCombos(v, terms)
        if (combos.isEmpty) raw.filter(lit(false))
        else raw.filter(combos.map { case (vals, _) =>
          partCols.map(c => col(c) === lit(vals(c))).reduce(_ && _)
        }.reduce(_ || _))
      }
    rowTerms.foldLeft(prunedPart)((df, t) => df.filter(termCol(t)))
  }

  /** Pruned exact read: (vec_id, embedding) of the rows matching the
    * predicate — partition columns only, so the filter is static
    * file-index pruning. */
  def byValPruned(spark: SparkSession, srpDir: String,
                  pred: Seq[(String, String)]): DataFrame =
    byValPrunedTerms(spark, srpDir, MetaTerm.ofPairs(pred))

  /** [[byValPruned]] for typed terms (range residuals in-scan) */
  def byValPrunedTerms(spark: SparkSession, srpDir: String,
                       terms: Seq[MetaTerm]): DataFrame = {
    val pruned = byValMatching(spark, srpDir, terms)
      .select(col("vec_id"), col("embedding"))
    lastByValPlanThunk = () => pruned.queryExecution.executedPlan.toString
    pruned
  }

  /** Pruned point read of candidate ids' metadata, filtered by the
    * predicate — returns the id set that SATISFIES it. Bounded by the
    * walk's visited-set size (≤ maxEntries + iters·beam·graphK). */
  def matchingIds(spark: SparkSession, srpDir: String,
                  pred: Seq[(String, String)], ids: Seq[Long]): Set[Long] =
    matchingIdsTerms(spark, srpDir, MetaTerm.ofPairs(pred), ids)

  /** [[matchingIds]] for typed terms — the byid rows carry the
    * declared range columns too, so the post-filter evaluates the
    * full comparison conjunction in the same pruned point read */
  def matchingIdsTerms(spark: SparkSession, srpDir: String,
                       terms: Seq[MetaTerm], ids: Seq[Long]): Set[Long] = {
    if (ids.isEmpty) return Set.empty
    val read = byIdPoint(view(spark, srpDir), ids).filter(termsCol(terms))
      .select(col("vec_id"))
    lastByIdPlanThunk = () => read.queryExecution.executedPlan.toString
    read.collect().map(_.getLong(0)).toSet
  }

  private def topKDf(spark: SparkSession,
                     cands: Seq[(Long, Double)], k: Int): DataFrame =
    SrpBanded.topKCut(spark, cands, k) // the one emission contract

  /** exact filtered top-k over the pruned byval partitions — the
    * selective branch AND the escalation fallback (recall 1.0);
    * shared with the other families' filtered serves (CodeStore) */
  private[sources] def exactFiltered(spark: SparkSession, srpDir: String,
                            queryVec: Array[Float],
                            pred: Seq[(String, String)], k: Int): DataFrame =
    exactFilteredTerms(spark, srpDir, queryVec, MetaTerm.ofPairs(pred), k)

  private[sources] def exactFilteredTerms(spark: SparkSession, srpDir: String,
                            queryVec: Array[Float],
                            terms: Seq[MetaTerm], k: Int): DataFrame = {
    val q = typedLit(queryVec)
    val cands = byValPrunedTerms(spark, srpDir, terms)
      .select(col("vec_id"), vectors.cosine_sim(col("embedding"), q).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(k)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq
    topKDf(spark, cands, k)
  }

  /** The per-value CODE tier (the mid-selectivity branch): scan ONLY
    * the matching partitions' (vec_id, keys) rows — partition-pruned
    * by the predicate, column-projected so the ~3 KB embedding column
    * is never read — Hamming-shortlist against the query's
    * [[CodeRpb]]-bit sketch, then exact-cosine rerank of the
    * shortlist via the row-group-pruned point fetch. Every candidate
    * matches the predicate BY CONSTRUCTION (no post-filter, no
    * escalation, no recall cliff from filtering a walk): recall is
    * the sketch's, scale-keyed by growing W with the matching count.
    * When W ≥ matching the tier IS the exact ranking. */
  private[graft] def codeFiltered(spark: SparkSession, metaDir: String,
                                  queryVec: Array[Float],
                                  pred: Seq[(String, String)], k: Int,
                                  matching: Long): DataFrame =
    codeFilteredTerms(spark, metaDir, queryVec, MetaTerm.ofPairs(pred), k, matching)

  private[graft] def codeFilteredTerms(spark: SparkSession, metaDir: String,
                                  queryVec: Array[Float],
                                  terms: Seq[MetaTerm], k: Int,
                                  matching: Long,
                                  wOverride: Option[Int] = None): DataFrame = {
    val w = wOverride.getOrElse(shortlistWidth(matching))
    val qk = SrpBanded.queryBandKeys(queryVec, SrpBanded.Dim, CodeRpb).map(_._2)
    // range-class residuals ride the same pruned code scan (the keys
    // and range columns are both in-row), so every shortlist candidate
    // matches the FULL conjunction by construction — tier purity holds
    // for typed terms exactly as for equality conjunctions
    val scan = byValMatching(spark, metaDir, terms)
      .select(col("vec_id"),
        graft.operators.HammingIndex.hammingCol(qk).as("ham"))
    lastCodeScanPlanThunk = () => scan.queryExecution.executedPlan.toString
    // bounded driver state: the W shortlist ids. Small W takes the
    // single-scan orderBy/limit (its per-partition top-W merge is
    // parts×W driver rows — fine below MaxShortlist); the matching-
    // keyed large-W regime takes the histogram-threshold shortlist,
    // whose driver state is the W ids themselves, never parts×W.
    val ids: Seq[Long] =
      if (w <= MaxShortlist)
        scan.orderBy(col("ham").asc, col("vec_id").asc)
          .limit(w).collect().map(_.getLong(0)).toSeq
      else hammingShortlistIds(spark, scan, w)
    val fetch = byValPrunedTerms(spark, metaDir, terms)
    // rerank: exact cosine over the shortlist. Small W keeps the
    // InSet point fetch (parquet In-filter → row-group pruning on the
    // vec_id sort); large W broadcast-joins the id set (ids span most
    // row groups anyway — a 390k-literal InSet buys no pruning, only
    // plan-construction cost) and cuts top-k DISTRIBUTED, so driver
    // candidate state never exceeds k.
    val cands: Seq[(Long, Double)] =
      if (ids.length <= MaxShortlist)
        fetch.filter(bound.isin(col("vec_id"), ids))
          .select(col("vec_id"),
            vectors.cosine_sim(col("embedding"), typedLit(queryVec)).as("sim"))
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      else {
        import spark.implicits._
        val idsDf = ids.toDF("vec_id")
        fetch.join(broadcast(idsDf), Seq("vec_id"))
          .select(col("vec_id"),
            vectors.cosine_sim(col("embedding"), typedLit(queryVec)).as("sim"))
          .orderBy(col("sim").desc, col("vec_id")).limit(k)
          .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      }
    lastFilteredPath = s"code:$w"
    recordCoverage(s"code:$w", matching, w.toLong)
    topKDf(spark, cands, k)
  }

  /** Scale-safe Hamming shortlist for W past the fast-path bound:
    * Hamming distance over the [[CodeRpb]]-bit sketch takes ≤
    * 8·[[CodeRpb]]+1 distinct values, so the W-th smallest comes from
    * a ≤193-row histogram (one map-side-combined aggregate over the
    * pruned code scan) instead of an orderBy/limit whose driver merge
    * is parts×W rows. Candidates strictly below the threshold bin
    * collect exactly; the boundary bin either rides along whole (when
    * that keeps the total ≤ 4W — more candidates only raises recall,
    * and the rerank is a distributed join) or tie-breaks by vec_id
    * through a bounded limit. Driver state: O(W) ids, independent of
    * partition count — the property the 1000-executor plan needs. */
  private def hammingShortlistIds(spark: SparkSession, scan: DataFrame,
                                  w: Int): Seq[Long] = {
    val hist = scan.groupBy(col("ham")).agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getAs[Number]("ham").intValue(), r.getAs[Long]("cnt")))
      .sortBy(_._1)
    val total = hist.map(_._2).sum
    if (total <= w.toLong)
      return scan.select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    var cum = 0L
    var below = 0L
    var hstar = hist.last._1
    val it = hist.iterator
    var found = false
    while (it.hasNext && !found) {
      val (h, c) = it.next()
      below = cum
      cum += c
      if (cum >= w.toLong) { hstar = h; found = true }
    }
    if (cum <= 4L * w) {
      // whole boundary bin: one filtered id collect, zero ordering
      scan.filter(col("ham") <= hstar)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
    } else {
      val base = scan.filter(col("ham") < hstar)
        .select(col("vec_id")).collect().map(_.getLong(0)).toSeq
      val ties = scan.filter(col("ham") === hstar)
        .select(col("vec_id")).orderBy(col("vec_id"))
        .limit((w.toLong - below).toInt).collect().map(_.getLong(0)).toSeq
      base ++ ties
    }
  }

  /** Flatten a (query_id, q_vec, <extra...>) frame's band keys to the
    * primitive columns q0..q[Bands-1] — keys computed ONCE per query
    * row (the CodeStore batch shape: inlining the kernel into each
    * element_at leans on codegen subexpression elimination instead of
    * guaranteeing it). ONE definition shared by every batched filtered
    * shape so the pair-stream contract cannot fork. */
  private def flattenQueryCodes(queries: DataFrame,
                                extra: Seq[String] = Nil): DataFrame =
    queries
      .select((Seq(col("query_id"),
        SrpBanded.bandKeysCol(col("q_vec"), SrpBanded.Dim, CodeRpb).as("q_keys")) ++
        extra.map(col)): _*)
      .select(((col("query_id") +:
        (0 until SrpBanded.Bands).map(b =>
          element_at(col("q_keys"), b + 1).as(s"q$b"))) ++
        extra.map(col)): _*)

  /** Flatten stored (vec_id, keys, <extra...>) rows to c0..c[Bands-1]
    * (the r11 element_at lesson: primitive columns ahead of the pair
    * stream) — the row-side twin of [[flattenQueryCodes]]. */
  private def flattenRowCodes(rows: DataFrame,
                              extra: Seq[String] = Nil): DataFrame =
    rows.select(((col("vec_id") +:
      (0 until SrpBanded.Bands).map(b =>
        element_at(col("keys"), b + 1).as(s"c$b"))) ++
      extra.map(col)): _*)

  /** per-pair Hamming distance over the flattened qN/cN columns */
  private def hamCol: Column =
    (0 until SrpBanded.Bands).map { b =>
      bit_count(col(s"c$b").bitwiseXOR(col(s"q$b")))
    }.reduce(_ + _).cast("int")

  /** The batch rerank tail shared by every batched filtered shape:
    * exact cosine over the shortlist joined to `emb`'s embeddings,
    * query vectors under the SHUFFLE_HASH no-query-broadcast contract,
    * per-query (sim DESC, vec_id) top-k, rounded emission.
    *
    * PER-QUERY k (r16): `kCol` names a column of `queries` carrying
    * each caller's own limit — the reference's `limit` is a per-call
    * tool parameter (tools.yaml:19-21), so a mixed batch arrives with
    * per-caller k. The LITERAL cut at `k` (the batch's max) stays
    * first so Catalyst still rewrites the rank filter to
    * WindowGroupLimit (a column bound would defeat the rewrite); the
    * per-query bound then trims the ≤ |Q|·k survivors map-side. */
  private def rerankTopK(short: DataFrame, emb: DataFrame,
                         queries: DataFrame, k: Int,
                         kCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wr = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    val qsel = queries.select((Seq(col("query_id"), col("q_vec")) ++
      kCol.map(c => col(c).cast("int").as("__kq"))): _*)
    short.join(emb, Seq("vec_id"))
      .join(qsel.hint("shuffle_hash"), Seq("query_id"))
      .select((Seq(col("query_id"), col("vec_id"),
        vectors.cosine_sim(col("embedding"), col("q_vec")).as("sim")) ++
        kCol.map(_ => col("__kq"))): _*)
      .withColumn("rk", row_number().over(wr))
      .filter(col("rk") <= k)
      .filter(kCol.map(_ => col("rk") <= col("__kq")).getOrElse(lit(true)))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), round(col("sim"), 6).as("sim"))
  }

  /** Validate a per-query-k column and return the batch's max k (the
    * WindowGroupLimit literal): one small aggregate job over the query
    * frame. Null or non-positive per-query limits are REFUSED loudly —
    * a null k would silently drop its query from the output. */
  private def perQueryKMax(queries: DataFrame, kCol: String): Int = {
    val kq = col(kCol).cast("int")
    val agg = queries.agg(
      max(kq).as("mx"), min(kq).as("mn"),
      sum(when(kq.isNull, 1L).otherwise(0L)).as("nulls"),
      count(lit(1)).as("n")).head()
    // an EMPTY batch is empty output, not a validation error (the
    // no-kCol path serves it as such) — any positive literal cuts
    // nothing from zero queries
    if (agg.getLong(3) == 0L) return 1
    require(agg.isNullAt(2) || agg.getLong(2) == 0L,
      s"per-query k column '$kCol' carries nulls — every query must " +
        "declare its own positive limit")
    require(!agg.isNullAt(0) && agg.getInt(1) >= 1,
      s"per-query k column '$kCol' must be ≥ 1 for every query " +
        s"(min=${if (agg.isNullAt(1)) "none" else agg.getInt(1).toString})")
    agg.getInt(0)
  }

  /** The BATCH shortlist stage: (query_id, vec_id, ham) pairs →
    * (query_id, vec_id) candidates, ~W per query. W ≤ [[MaxShortlist]]
    * takes the bounded [[graft.functions.TopKPairs]] aggregate (exact
    * per-query (ham, vec_id) top-W, map-side partials capped per
    * (query, partition)); larger W — the matching-keyed regime, where
    * the aggregate's |Q|·W-multiplied partial buffers would scale
    * memory with the matching count — routes through the per-query
    * histogram threshold, the batch analogue of
    * [[hammingShortlistIds]]. */
  private def batchShortlist(pairs: DataFrame, w: Int): DataFrame =
    if (w <= MaxShortlist)
      pairs.groupBy(col("query_id"))
        .agg(graft.functions.TopKPairs.top_k_pairs(
          col("vec_id"), col("ham"), w, asc = true).as("__tk"))
        .select(col("query_id"),
          explode(col("__tk").getField("neighbor_id")).as("vec_id"))
    else batchHistogramShortlist(pairs, w)

  /** Scale-safe batched Hamming shortlist for W past the aggregate
    * fast path: Hamming over the [[CodeRpb]]-bit sketch takes ≤193
    * distinct values, so each query's W-th smallest comes from a
    * ≤193-bin PER-QUERY histogram — one map-side-combined aggregate of
    * |Q|·193 counters, never a |Q|·W heap — followed by one threshold
    * join back onto the pair stream. The pair stream is therefore
    * computed twice (histogram + filter), the same two-scan trade the
    * single-query histogram path documents; state per executor is bin
    * counters, and nothing W-sized ever sits in an aggregation buffer
    * or on the driver.
    *
    * Per query: pairs strictly below its threshold bin always pass;
    * the boundary bin rides along whole when the total stays ≤4W
    * (more candidates only raise recall — the rerank is a distributed
    * join), and is otherwise thinned DETERMINISTICALLY by vec_id hash
    * to ~2× the needed count in expectation (a map-only cut; an exact
    * per-query rank of the boundary bin would re-introduce the
    * pair-stream shuffle the aggregate fast path exists to avoid, for
    * a tie-break among rows the sketch already scores identically).
    * Queries whose pair total is below W keep every pair — the
    * covering contract (W ≥ matching ⇒ the rerank is exact) holds
    * per query.
    *
    * The threshold join broadcasts |Q| rows of 4 longs each — strictly
    * smaller than the query-CODES broadcast the pair stream itself
    * already carries (the v29/v38 model-broadcast license; never the
    * forbidden query-embedding broadcast). */
  private[graft] def batchHistogramShortlist(pairs: DataFrame, w: Int): DataFrame =
    batchHistogramShortlistW(pairs, lit(w.toLong))

  /** [[batchHistogramShortlist]] with W keyed PER QUERY to that
    * query's own matching count (r16 — the mixed joined plan's W fix):
    * each query's pair total m_q is the per-query histogram's own
    * count sum, and W_q = the single-query [[shortlistWidth]] policy
    * over m_q — so a diverse joined batch budgets each query exactly
    * as its own single-query code-tier serve would, instead of keying
    * every query's W to the whole corpus (matching/16 vs corpus/128:
    * the old bound was both a recall under- and a cost over-shoot for
    * selective callers in a broad batch). Still one |Q|·≤193-counter
    * aggregate; the histogram carries m_q for free. */
  private[graft] def batchHistogramShortlistPerQuery(pairs: DataFrame): DataFrame = {
    // shortlistWidth over col("m"), in long arithmetic (m ≤ CodeScanMax
    // enforced by the envelope guard upstream, so no Int overflow here)
    val m = col("__m")
    val policy = greatest(lit(CodeShortlist.toLong),
      floor(m / lit(ShortlistRatio)).cast("long"))
    val cap = greatest(lit(MaxShortlist.toLong),
      floor(m / lit(MinCoverageRatio)).cast("long"))
    batchHistogramShortlistW(pairs, least(policy, cap))
  }

  /** the shared histogram-threshold core: `wExpr` may be a literal
    * (the single-predicate batch) or an expression over `__m`, the
    * per-query pair total (the per-query-W form) */
  private def batchHistogramShortlistW(pairs: DataFrame, wExpr: Column): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hist = pairs.groupBy(col("query_id"), col("ham"))
      .agg(count(lit(1)).as("cnt"))
    val wc = Window.partitionBy(col("query_id")).orderBy(col("ham"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wq = Window.partitionBy(col("query_id"))
    val thr = hist.withColumn("cum", sum(col("cnt")).over(wc))
      .withColumn("__m", sum(col("cnt")).over(wq))
      .withColumn("__w", wExpr)
      .filter(col("cum") >= col("__w"))
      .groupBy(col("query_id"))
      .agg(min_by(struct(col("ham"), col("cnt"), col("cum"), col("__w")),
        col("ham")).as("t"))
      .select(col("query_id"), col("t.ham").as("__hstar"),
        (col("t.cum") - col("t.cnt")).as("__below"),
        col("t.cnt").as("__atH"), col("t.cum").as("__cumH"),
        col("t.__w").as("__w"))
    pairs.join(broadcast(thr), Seq("query_id"), "left")
      .filter(col("__hstar").isNull || col("ham") < col("__hstar") ||
        (col("ham") === col("__hstar") &&
          (col("__cumH") <= lit(4L) * col("__w") ||
           pmod(xxhash64(col("vec_id")), col("__atH")) <
             least(col("__atH"), (col("__w") - col("__below")) * 2))))
      .select(col("query_id"), col("vec_id"))
  }

  /** The BATCHED filtered serve (r13): the whole query table answered
    * against one predicate in one set-based plan — the filtered
    * analogue of the unfiltered batch matrix (v26/v29/v33/v38), built
    * on the code tier because its candidates match by construction
    * (a batched walk would post-filter per query and re-inherit the
    * recall cliff). Plan shape is [[graft.operators.HammingIndex]]'s
    * batch contract over the PRUNED byval artifact:
    *
    *  1. code scan: only the matching partitions' (vec_id, keys) rows
    *     — partition-pruned, embedding column never read — with band
    *     keys flattened to primitive columns before the pair stream
    *     (the r11 element_at lesson);
    *  2. pair stream: pruned codes × broadcast query codes (|Q|·M
    *     integer ops on 64 B rows), per-query Hamming top-W via the
    *     bounded [[graft.functions.TopKPairs]] aggregate (asc) — the
    *     map-side partials cap per (query, partition), nothing sorts
    *     or collects the pair stream;
    *  3. rerank: shortlist joined back to the pruned byval embeddings
    *     (shuffle-hash, W·|Q| rows) + the query vectors, exact cosine,
    *     per-query (sim DESC, vec_id) top-k.
    *
    * W follows the single-query coverage-keyed policy
    * ([[shortlistWidthBatch]]): below [[MaxShortlist]] it bounds the
    * TopKPairs AGGREGATE buffers and the rerank join width; past the
    * bound the shortlist stage switches to the per-query
    * histogram-threshold form ([[batchHistogramShortlist]]) so W can
    * track the matching count without |Q|·W aggregate state. No
    * driver collect anywhere on either path. When W ≥ matching the
    * result is the exact filtered per-query top-k (the covering
    * contract v41's oracle replays). */
  def searchFilteredBatch(spark: SparkSession, d: String, metaDir: String,
                          queryMod: Int, pred: Seq[(String, String)],
                          k: Int = 5): DataFrame = {
    ensureMeta(spark, d, metaDir)
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    searchFilteredBatchFrom(spark, metaDir, queries,
      MetaTerm.ofPairs(pred), k)
  }

  /** The batch plan over an explicit (query_id, q_vec) frame and a
    * typed-term conjunction — the single-predicate building block the
    * mixed-predicate serve ([[searchFilteredBatchMixed]]) unions.
    *
    * ENVELOPE (r16): the batch is the CODE tier set-based — its pair
    * stream is |Q| × matching 64 B rows — so it carries the same
    * `codeScanMax` ceiling the single-query planner enforces
    * ([[searchFilteredByTerms]]'s tier dispatch). Past it the serve
    * REFUSES loudly (recorded in the coverage counters first) instead
    * of silently committing to an unbounded pair scan the single-query
    * planner was designed to avoid: a very-broad predicate (the
    * reference's `withdrawn = 0` matches ~40% of its corpus) must be
    * served per-request through the walk tier
    * ([[searchFilteredTerms]]), narrowed, or explicitly accepted by
    * passing `wOverride` (the probe escape hatch, which also fixes W).
    *
    * PER-QUERY k (r16): `kCol` names a `queries` column carrying each
    * caller's own limit (tools.yaml:19-21's per-call `limit`); rows
    * rank per query as before and cut at `rk ≤ k_q`. `k` is ignored
    * when `kCol` is set — the WindowGroupLimit literal comes from one
    * small max-aggregate over the query frame. */
  def searchFilteredBatchFrom(spark: SparkSession, metaDir: String,
                              queries: DataFrame, terms: Seq[MetaTerm],
                              k: Int,
                              wOverride: Option[Int] = None,
                              kCol: Option[String] = None,
                              codeScanMax: Long = CodeScanMax,
                              kMaxOverride: Option[Int] = None): DataFrame = {
    val matching = plannerCount(spark, metaDir, terms)
    if (wOverride.isEmpty && matching > codeScanMax) {
      recordCoverage("code_batch_refused", matching, 0L)
      lastFilteredPath = "code_batch_refused"
      throw new IllegalArgumentException(
        s"batched filtered serve refused: the predicate matches ~$matching " +
          s"rows, past the code tier's envelope (codeScanMax=$codeScanMax) — " +
          "the batch pair stream would scan |Q| × matching 64 B code rows " +
          "where the single-query planner dispatches to the O(budget) walk. " +
          "Serve these queries per-request through the walk tier " +
          "(searchFilteredTerms), narrow the predicate, or pass wOverride " +
          "to accept the scan cost explicitly.")
    }
    val w = wOverride.getOrElse(shortlistWidthBatch(matching))
    // kMaxOverride: the mixed serve validates + maxes the per-query k
    // column ONCE over the whole batch instead of one aggregate job per
    // predicate group — a larger WindowGroupLimit literal only admits
    // rows the per-query `rk ≤ k_q` trim then cuts, so rows are
    // identical (r16)
    val kMax = kMaxOverride.getOrElse(
      kCol.map(perQueryKMax(queries, _)).getOrElse(k))
    val qFlat = flattenQueryCodes(queries)
    val cFlat = flattenRowCodes(byValMatching(spark, metaDir, terms))
    lastCodeScanPlanThunk = () => cFlat.queryExecution.executedPlan.toString
    val short = batchShortlist(
      cFlat.crossJoin(broadcast(qFlat))
        .select(col("query_id"), col("vec_id"), hamCol.as("ham")), w)
    lastFilteredPath = s"code_batch:$w"
    recordCoverage(s"code_batch:$w", matching, w.toLong)
    rerankTopK(short, byValPrunedTerms(spark, metaDir, terms), queries, kMax, kCol)
      .orderBy(col("query_id"), col("rk"))
  }

  /** The HETEROGENEOUS-predicate batched filtered serve (r14): every
    * query arrives with its caller's own filter — the reference's
    * actual request shape (each `find_similar_customer_records` call
    * carries its caller's WHERE) — and the whole table is answered
    * set-based. `queries` carries (query_id, q_vec, <predCols...>),
    * the predicate being the equality conjunction of each row's own
    * predCol values.
    *
    * Plan: GROUP BY PREDICATE VALUE — the queries are grouped on
    * their predicate combo (driver-enumerated; bounded by the stats
    * artifact's value universe, the same small-by-declaration license
    * the planner's statistics already carry), each group runs ONE
    * pruned code scan + batch shortlist + rerank
    * ([[searchFilteredBatchFrom]] — the single-predicate plan over
    * just that group's queries against just its matching partitions),
    * and the per-group plans union. No per-request orchestration, no
    * driver collect of anything query- or corpus-sized; each group's
    * scan reads only ITS predicate's partitions, so total scan bytes
    * across the union equal the single-predicate serve's, however the
    * batch mixes. Per-query rows are identical to running the
    * single-query filtered serve with that query's own predicate at
    * the same tier (spec-asserted). */
  def searchFilteredBatchMixed(spark: SparkSession, metaDir: String,
                               queries: DataFrame, predCols: Seq[String],
                               k: Int = 5): DataFrame =
    searchFilteredBatchMixedOps(spark, metaDir, queries,
      predCols.map(_ -> "="), k)

  /** group-enumeration bound for the mixed batch: past this many
    * distinct predicate combos the per-group plan construction + the
    * N-way union become a driver-side bottleneck before the first
    * task runs (and the grouped partition pruning buys little — that
    * many combos touch most of the store anyway), so the serve falls
    * back to ONE set-based joined plan ([[mixedJoinedPlan]]) */
  val MaxMixedGroups = 64

  /** which shape the last mixed serve took ("grouped:<n>" |
    * "joined:<n>") — spec hook for the boundary contract */
  @volatile private[graft] var lastMixedBatchPath: String = ""

  /** [[searchFilteredBatchMixed]] with per-column OPERATORS — the
    * reference's request shape composed with its numeric columns:
    * each caller's request carries its own `num_claims >= N`
    * threshold, and the whole table still serves set-based. `predOps`
    * declares (column, op) per predicate column (op ∈
    * [[MetaTerm.CmpOps]] — equality on a partition-class column plans
    * as [[MetaTerm.Eq]]); `queries` carries (query_id, q_vec,
    * <column...>) where each predicate column holds THAT QUERY's
    * comparison value. Null predicate values are REFUSED up front — a
    * null group would match no rows and its query_ids would silently
    * vanish from the output.
    *
    * Plan: GROUP BY VALUE COMBO — same-threshold queries share one
    * [[searchFilteredBatchFrom]] plan (typed terms, so each group's
    * scan partition-prunes and in-scan-filters exactly like the
    * single-predicate serve), unioned. The combo enumeration is
    * BOUNDED: past `maxGroups` distinct combos the serve switches to
    * [[mixedJoinedPlan]] — one full-scan plan whose pair stream joins
    * each query against the rows matching ITS OWN predicate (the
    * per-pair comparison rides the same crossJoin the batch shape
    * already pays), so driver work stays O(1) plans however diverse
    * the batch. Per-query rows equal the per-request serve's at the
    * same tier (spec-asserted on both shapes). */
  def searchFilteredBatchMixedOps(spark: SparkSession, metaDir: String,
                                  queries: DataFrame,
                                  predOps: Seq[(String, String)],
                                  k: Int = 5,
                                  maxGroups: Int = MaxMixedGroups,
                                  kCol: Option[String] = None,
                                  codeScanMax: Long = CodeScanMax): DataFrame = {
    require(predOps.nonEmpty, "mixed batch needs at least one predicate column")
    require(predOps.map(_._1).distinct.size == predOps.size,
      "one operator per predicate column in a mixed batch (the value " +
        "rides a query column of that name) — band predicates " +
        "(c >= a AND c <= b) run per-group via searchFilteredBatchFrom")
    val partCols = storeMetaCols(spark, metaDir)
    val declared = partCols ++ storeRangeCols(spark, metaDir)
    val predCols = predOps.map(_._1)
    predOps.foreach { case (c, op) =>
      require(declared.contains(c),
        s"predicate column '$c' not in declared columns ${declared.mkString(",")}")
      require(MetaTerm.CmpOps.contains(op),
        s"unsupported mixed-batch operator '$op' on '$c'")
    }
    def termOf(c: String, op: String, v: String): MetaTerm =
      if ((op == "=" || op == "==") && partCols.contains(c)) MetaTerm.Eq(c, v)
      else MetaTerm.Cmp(c, op, v)
    val qs = queries.select((Seq(col("query_id"), col("q_vec")) ++
        predCols.map(c => col(c).cast("string").as(c)) ++
        kCol.map(col)): _*)
      .localCheckpoint(true) // each group's plan re-reads the slice
    // ONE bounded probe job (r17; was three — a null-predicate filter
    // collect, a distinct-combo collect, and a per-query-k aggregate):
    // grouping by the predicate combo enumerates ≤ maxGroups+1 combos
    // AND carries each combo's k stats; a null predicate value forms
    // its own combo, so the null refusal reads the same rows. The
    // failure paths re-run the dedicated probes only to produce their
    // (spec-pinned) messages.
    val kInt = kCol.map(c => col(c).cast("int"))
    val aggCols = count(lit(1)).as("__n") +: kInt.toSeq.flatMap(kc => Seq(
      max(kc).as("__kmx"), min(kc).as("__kmn"),
      sum(when(kc.isNull, 1L).otherwise(0L)).as("__knull")))
    val comboProbe = qs.groupBy(predCols.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .limit(maxGroups + 1).collect()
    val overflow = comboProbe.length > maxGroups
    // a null predicate value is unanswerable, not an empty group: the
    // equality group filter (and any comparison) matches no rows, so
    // the query would vanish from the output with no error. Past the
    // combo cap the collected combos may not include the null one, so
    // the joined path keeps the dedicated filter probe.
    if ((!overflow && comboProbe.exists(r => predCols.indices.exists(r.isNullAt)))
        || overflow) {
      val nullRows = qs.filter(predCols.map(c => col(c).isNull).reduce(_ || _))
        .select(col("query_id")).limit(5).collect().map(_.getLong(0))
      require(nullRows.isEmpty,
        s"mixed batch queries carry null predicate values (query_ids " +
          s"${nullRows.mkString(",")}${if (nullRows.length == 5) ",…" else ""}) — " +
          "every query must carry a concrete value for each predicate column")
    }
    // validate + max the per-query k column once for the whole batch
    // (each group's WindowGroupLimit literal may exceed its own max —
    // the per-query rk ≤ k_q trim cuts the same rows either way). The
    // grouped path reads both off the combo probe; an invalid column
    // (or the past-cap batch, whose probe is truncated) delegates to
    // the dedicated aggregate for the exact validation + message.
    val kMaxAll = kCol.map { c =>
      val ok = !overflow && comboProbe.nonEmpty &&
        comboProbe.forall(r => r.getLong(r.fieldIndex("__knull")) == 0L &&
          !r.isNullAt(r.fieldIndex("__kmn")) &&
          r.getInt(r.fieldIndex("__kmn")) >= 1)
      if (ok) comboProbe.map(_.getAs[Int]("__kmx")).max
      else perQueryKMax(qs, c)
    }
    val out =
      if (overflow) {
        lastMixedBatchPath = s"joined:${comboProbe.length}+"
        mixedJoinedPlan(spark, metaDir, qs, predOps, k, kCol, codeScanMax,
          kMaxOverride = kMaxAll)
      } else {
        val groups = comboProbe
          .map(r => predCols.indices.map(i => predCols(i) -> r.getString(i)).toSeq)
          .sortBy(_.map(_._2).mkString("|"))
        lastMixedBatchPath = s"grouped:${groups.length}"
        val plans = groups.map { combo =>
          val g = qs.filter(combo.map { case (c, v) => col(c) === lit(v) }
              .reduce(_ && _))
            .select((Seq(col("query_id"), col("q_vec")) ++ kCol.map(col)): _*)
          val terms = predOps.map { case (c, op) =>
            termOf(c, op, combo.collectFirst { case (`c`, v) => v }.get)
          }
          searchFilteredBatchFrom(spark, metaDir, g, terms, k, kCol = kCol,
            codeScanMax = codeScanMax, kMaxOverride = kMaxAll)
        }
        plans.reduce(_ unionByName _)
      }
    val cut = out
      .orderBy(col("query_id"), col("rk"))
      .localCheckpoint(true) // |Q|·k rows; frees the query checkpoint
    org.apache.spark.sql.GraftBridge.unpersistPlanRdds(qs)
    cut
  }

  /** The past-the-cap mixed shape: ONE plan for arbitrarily diverse
    * predicate combos. The pair stream is the batch contract's
    * crossJoin of the code scan with the broadcast query codes — here
    * over the FULL byval store (past maxGroups combos the grouped
    * union would touch most partitions anyway) with each pair kept
    * only when the row matches THAT query's own predicate (evaluated
    * per-pair with [[termCol]]'s semantics: numeric compare when the
    * query's value parses numeric, lexicographic otherwise). Shortlist
    * and rerank are [[searchFilteredBatchFrom]]'s stages, with W keyed
    * PER QUERY (r16): each query's own matching count is its pair
    * total, read for free from the per-query Hamming histogram, and
    * W_q follows the single-query [[shortlistWidth]] policy over it —
    * a selective caller in a diverse batch is budgeted exactly like
    * its own single-query serve, never like the whole corpus (the old
    * totalCount-keyed W was corpus/128 per query: a recall UNDER-shoot
    * vs the policy's matching/16 for selective callers, and a rerank
    * cost OVER-shoot for everyone).
    *
    * ENVELOPE (r16): the full-store pair stream is |Q| × corpus rows,
    * so the shape carries the code tier's ceiling on the CORPUS count
    * — past [[CodeScanMax]] total rows it refuses loudly like
    * [[searchFilteredBatchFrom]] does on its matching count (a batch
    * that diverse against a corpus that broad must serve per-request
    * through the walk tier, or group below [[MaxMixedGroups]] combos
    * so each group's own envelope check applies). */
  private def mixedJoinedPlan(spark: SparkSession, metaDir: String,
                              qs: DataFrame, predOps: Seq[(String, String)],
                              k: Int, kCol: Option[String] = None,
                              codeScanMax: Long = CodeScanMax,
                              kMaxOverride: Option[Int] = None): DataFrame = {
    val predCols = predOps.map(_._1)
    val total = totalCount(spark, metaDir)
    if (total > codeScanMax) {
      recordCoverage("code_batch_joined_refused", total, 0L)
      lastFilteredPath = "code_batch_joined_refused"
      throw new IllegalArgumentException(
        s"mixed joined batch refused: the store holds $total rows, past " +
          s"the code tier's envelope (codeScanMax=$codeScanMax) for a " +
          "full-store |Q| × corpus pair scan. Group the batch below " +
          s"maxGroups=$MaxMixedGroups distinct predicate combos (each " +
          "group then partition-prunes and checks its own matching " +
          "envelope), or serve per-request through the walk tier.")
    }
    val kMax = kMaxOverride.getOrElse(
      kCol.map(perQueryKMax(qs, _)).getOrElse(k))
    val qFlat = flattenQueryCodes(
      qs.select((Seq(col("query_id"), col("q_vec")) ++
        predCols.map(c => col(c).as(s"__q_$c"))): _*),
      extra = predCols.map(c => s"__q_$c"))
    val raw = readByVal(spark, metaDir)
    val cFlat = flattenRowCodes(
      raw.select((Seq(col("vec_id"), col("keys")) ++
        predCols.map(col)): _*),
      extra = predCols)
    lastCodeScanPlanThunk = () => cFlat.queryExecution.executedPlan.toString
    // per-pair predicate: data column vs the query's own value column,
    // with termCol's value-typed semantics decided per pair
    def cmp(op: String)(l: Column, r: Column): Column = op match {
      case "=" | "==" => l === r
      case ">=" => l >= r
      case ">" => l > r
      case "<=" => l <= r
      case "<" => l < r
      case "!=" => l =!= r
    }
    val partColSet = storeMetaCols(spark, metaDir).toSet
    val pairPred = predOps.map { case (c, op) =>
      if ((op == "=" || op == "==") && partColSet.contains(c))
        // the grouped shape plans '=' on a partition-class column as
        // MetaTerm.Eq — EXACT STRING equality (a partition lookup, not
        // a typed comparison). The joined shape must match it, or the
        // two spec-asserted-identical shapes fork on numeric-looking
        // partition values ('5' vs a stored '5.0').
        col(c) === col(s"__q_$c")
      else {
        // try_cast on BOTH sides (ANSI-safe): a non-numeric query value
        // selects the lexicographic branch, and a non-numeric data value
        // under a numeric comparison nulls out → excluded, exactly
        // termCol's per-term semantics decided per pair
        val vNum = col(s"__q_$c").try_cast("double")
        when(vNum.isNotNull, cmp(op)(col(c).try_cast("double"), vNum))
          .otherwise(cmp(op)(col(c), col(s"__q_$c")))
      }
    }.reduce(_ && _)
    val short = batchHistogramShortlistPerQuery(
      cFlat.crossJoin(broadcast(qFlat))
        .filter(pairPred)
        .select(col("query_id"), col("vec_id"), hamCol.as("ham")))
    // per-query W follows the single-query policy over each query's own
    // matching count, so no query is below the coverage floor by
    // construction — recorded with the policy bound at the corpus count
    recordCoverage("code_batch_joined:perq", total, shortlistWidth(total).toLong)
    rerankTopK(short, raw.select(col("vec_id"), col("embedding")), qs, kMax, kCol)
  }

  /** The family-generic filtered-serve core — a three-tier
    * cardinality planner (the catalog-statistics decision pgvector-
    * class systems make, extended with the per-value code index):
    *
    *  - matching ≤ `exactScanMax` → pruned exact scan (recall 1.0);
    *  - matching ≤ `codeScanMax` → [[codeFiltered]], the per-value
    *    code tier (candidates match by construction — the branch that
    *    holds recall at corpus decades where post-filtering a
    *    fixed-budget walk decays);
    *  - broader → the family's walk (`walkAt` at escalation factor f —
    *    a graph walk, a hierarchy descent, a code shortlist), started
    *    at the SELECTIVITY-KEYED factor from the stats artifact
    *    ([[walkStartFactor]] — a 1/s-selective predicate walks ~s× so
    *    the post-filter keeps an unfiltered budget's worth of matching
    *    candidates), escalating deterministically, with the pruned
    *    exact fallback that cannot miss.
    *
    * Meta artifacts must already be committed under `metaDir`
    * ([[ensureMeta]]). */
  def searchFilteredBy(spark: SparkSession, metaDir: String,
                       queryVec: Array[Float], pred: Seq[(String, String)],
                       k: Int, exactScanMax: Long = ExactScanMax,
                       codeScanMax: Long = CodeScanMax,
                       walkTag: String = "walk")
                      (walkAt: Int => Seq[(Long, Double)]): DataFrame =
    searchFilteredByTerms(spark, metaDir, queryVec, MetaTerm.ofPairs(pred),
      k, exactScanMax, codeScanMax, walkTag)(walkAt)

  /** [[searchFilteredBy]] for typed-term conjunctions: the tier
    * decision rides [[plannerCount]] (exact combo sums for partition-
    * class terms, the rstats histogram estimate when range-class
    * comparisons participate); every tier itself stays exact over the
    * matching set, so a mis-estimate can only shift COST, never
    * results' predicate purity. */
  def searchFilteredByTerms(spark: SparkSession, metaDir: String,
                       queryVec: Array[Float], terms: Seq[MetaTerm],
                       k: Int, exactScanMax: Long = ExactScanMax,
                       codeScanMax: Long = CodeScanMax,
                       walkTag: String = "walk")
                      (walkAt: Int => Seq[(Long, Double)]): DataFrame = {
    val matching = plannerCount(spark, metaDir, terms)
    if (matching <= exactScanMax) {
      lastFilteredPath = "exact"
      recordCoverage("exact", matching, matching)
      exactFilteredTerms(spark, metaDir, queryVec, terms, k)
    } else if (matching <= codeScanMax) {
      codeFilteredTerms(spark, metaDir, queryVec, terms, k, matching)
    } else {
      val f0 = walkStartFactor(matching, totalCount(spark, metaDir))
      val hit = EscalateFactors.iterator.map { e =>
        val f = math.min(e * f0, 64)
        val visited = walkAt(f)
        val ok = matchingIdsTerms(spark, metaDir, terms, visited.map(_._1))
        (f, visited.size, visited.filter(v => ok(v._1)))
      }.find(_._3.size >= k)
      hit match {
        case Some((f, visitedN, matched)) =>
          lastFilteredPath = s"$walkTag:$f"
          // the walk tier's coverage is its visited budget vs the
          // matching set — structurally tiny for very-broad predicates
          // (which is WHY the planner only walks past CodeScanMax)
          recordCoverage(s"$walkTag:$f", matching, visitedN.toLong)
          topKDf(spark, matched, k)
        case None =>
          // the schedule never surfaced k matching candidates: the
          // predicate is more selective than the stats suggested (or
          // the matches are far from the query's basin) — the pruned
          // exact path answers with full recall
          lastFilteredPath = "fallback"
          recordCoverage("fallback", matching, matching)
          exactFilteredTerms(spark, metaDir, queryVec, terms, k)
      }
    }
  }

  /** Filtered serve from the meta artifacts ALONE — no index store
    * opened: the exact tier or the code tier by cardinality. A
    * predicate past `codeScanMax` has no walk to escalate into (there
    * is no index here) and lands in the exact fallback; a caller
    * wanting O(budget) very-broad serves wires a family's
    * `searchFiltered` instead. This is the minimal deployment shape:
    * `writeMetaFrom` + this method IS a filtered vector store. */
  def searchFilteredMeta(spark: SparkSession, metaDir: String,
                         queryVec: Array[Float], pred: Seq[(String, String)],
                         k: Int = 10,
                         exactScanMax: Long = ExactScanMax,
                         codeScanMax: Long = CodeScanMax): DataFrame =
    searchFilteredBy(spark, metaDir, queryVec, pred, k, exactScanMax,
      codeScanMax)(_ => Seq.empty)

  /** [[searchFilteredMeta]] for typed terms — v43's serve: the
    * reference's `WHERE num_claims >= N AND country = 'EN' ORDER BY
    * embedding <=> q LIMIT k` class, exact or code tier by estimated
    * cardinality */
  def searchFilteredMetaTerms(spark: SparkSession, metaDir: String,
                         queryVec: Array[Float], terms: Seq[MetaTerm],
                         k: Int = 10,
                         exactScanMax: Long = ExactScanMax,
                         codeScanMax: Long = CodeScanMax): DataFrame =
    searchFilteredByTerms(spark, metaDir, queryVec, terms, k, exactScanMax,
      codeScanMax)(_ => Seq.empty)

  /** Filtered RANGE search from the meta artifacts: every matching
    * row within the similarity radius — the reference's
    * `WHERE <meta> AND similarity ≥ t` shape (v13's range contract
    * composed with v39's predicate). Exact by construction: the
    * pruned byval partitions are scanned in full (the matching set IS
    * the candidate set — a range result has no k to shortlist
    * toward), distributed end-to-end with no driver-side candidate
    * state, so the result may be any size. The filter applies to the
    * ROUNDED similarity, the emission contract both engines share. */
  def rangeFilteredMeta(spark: SparkSession, metaDir: String,
                        queryVec: Array[Float], pred: Seq[(String, String)],
                        minSim: Double): DataFrame =
    rangeFilteredMetaTerms(spark, metaDir, queryVec,
      MetaTerm.ofPairs(pred), minSim)

  /** [[rangeFilteredMeta]] for typed terms */
  def rangeFilteredMetaTerms(spark: SparkSession, metaDir: String,
                        queryVec: Array[Float], terms: Seq[MetaTerm],
                        minSim: Double): DataFrame =
    byValPrunedTerms(spark, metaDir, terms)
      .select(col("vec_id"),
        round(vectors.cosine_sim(col("embedding"), typedLit(queryVec)), 6)
          .as("sim"))
      .filter(col("sim") >= minSim)
      .orderBy(col("sim").desc, col("vec_id"))

  /** v39: metadata-filtered stored graph search. Same result schema as
    * v28 — (vec_id, rk, sim) — restricted to rows matching `pred`. */
  def searchFiltered(spark: SparkSession, d: String, srpDir: String,
                     edgeDir: String, queryVec: Array[Float],
                     pred: Seq[(String, String)], k: Int = 10,
                     beam: Int = 8, iters: Int = 2, maxEntries: Int = 64,
                     graphK: Int = 5, probeRadius: Int = 2,
                     exactScanMax: Long = ExactScanMax,
                     codeScanMax: Long = CodeScanMax): DataFrame = {
    ensureMeta(spark, d, srpDir)
    searchFilteredBy(spark, srpDir, queryVec, pred, k, exactScanMax,
      codeScanMax) { f =>
      // the v28 serve's own walk: seeds and hops from the stores'
      // Resident images when they fit (zero Spark jobs — and the
      // escalation rungs re-walk, so this is paid up to 3× per serve),
      // pruned distributed reads when over
      SrpStore.walkVisitedCold(spark, srpDir, edgeDir, queryVec,
        beam * math.min(f, 4), iters, maxEntries * f, graphK, probeRadius)
    }
  }

  // reference-schema meta store — country partition-class, num_claims
  // range-class (sql/02_schema.sql's filterable columns as
  // ReferenceParity maps them onto the synthetic corpus) — built once
  // per corpus dir for v43's serve; a real deployment writes it at
  // ingest like every other store
  private val refMetaCache = new graft.SessionCache[String, String](4, identity, TempStores.delete)
  def refMetaStoreFor(spark: SparkSession, d: String): String =
    refMetaCache.getOrElseUpdate(spark, d)(TempStores.create("refmeta") { dir =>
      val docs = Tables.documents(spark, d).select(
        col("doc_id").as("vec_id"),
        upper(substring(col("lang"), 1, 2)).as("country"),
        (col("doc_id") % 43).as("num_claims"),
        // the reference schema's `date` column (sql/02_schema.sql:13)
        // mapped deterministically: ISO strings compare correctly
        // under Cmp's LEXICOGRAPHIC branch (the value never parses
        // numeric), which is the documented date-predicate path
        date_format(date_add(to_date(lit("2020-01-01")),
          pmod(col("doc_id"), lit(1461)).cast("int")), "yyyy-MM-dd")
          .as("date"))
      writeMetaFrom(spark, dir, docs, Seq("country"),
        Tables.embeddings(spark, d)
          .filter(col("embedding").isNotNull &&
            size(col("embedding")) === SrpBanded.Dim)
          .select(col("vec_id"), col("embedding")),
        rangeCols = Seq("num_claims", "date"))
    })

  /** [[searchFiltered]] for typed-term conjunctions — the very-broad
    * tier walks unfiltered and post-filters through the byid point
    * read carrying the full typed comparison */
  def searchFilteredTerms(spark: SparkSession, d: String, srpDir: String,
                     edgeDir: String, queryVec: Array[Float],
                     terms: Seq[MetaTerm], k: Int = 10,
                     beam: Int = 8, iters: Int = 2, maxEntries: Int = 64,
                     graphK: Int = 5, probeRadius: Int = 2,
                     exactScanMax: Long = ExactScanMax,
                     codeScanMax: Long = CodeScanMax): DataFrame = {
    ensureMeta(spark, d, srpDir)
    searchFilteredByTerms(spark, srpDir, queryVec, terms, k, exactScanMax,
      codeScanMax) { f =>
      SrpStore.walkVisitedCold(spark, srpDir, edgeDir, queryVec,
        beam * math.min(f, 4), iters, maxEntries * f, graphK, probeRadius)
    }
  }
}
