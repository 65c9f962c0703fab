package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.vectors

/** Hierarchical navigable graph search (HNSW, Malkov & Yashunin
  * TPAMI'18 — public), batch-built and deterministic so the whole
  * index + search replays in the DuckDB oracle.
  *
  * The hierarchy (reference role: the pgvector index of
  * sql/05_vector_index.sql, upgraded from IVF to a graph family):
  *  - **Levels** are assigned by a data-independent hash, exactly as
  *    the paper's geometric distribution but derandomized: level(v) =
  *    number of leading lowercase-hex digits of md5(vec_id) below
  *    '4' (p = 1/4 per level), capped at [[MaxLevel]]. md5 is the one
  *    hash both engines spell identically (the t6/t11 idiom), so the
  *    layer membership — and with it every edge — is oracle-exact.
  *  - **Upper-layer edges** (l ≥ 1): the v18 banded build restricted
  *    to level-l members — SRP band collisions among members, exact
  *    cosine, top-[[LevelK]] per source. Membership thins 4× per
  *    level, so each build is a strictly smaller instance of the
  *    already-sub-quadratic banded job (never all-pairs).
  *  - **Layer 0** is the full v18 graph the other serve paths share
  *    ([[SrpBanded.materializedGraph]] — same cached edges as v19).
  *
  * Search = the paper's coarse-to-fine walk: enter at the smallest
  * vec_id on the highest occupied layer, beam-descend each upper
  * layer (state = top-[[DescentBeam]] of state ∪ neighbors, at most
  * [[MaxSteps]] moves per layer — the paper's ef > 1 applied on
  * every layer), then run the SHARED beam tail over layer 0 seeded
  * with the walk's visited path. Unlike v19's LSH probe, seeding
  * needs no bucket reads at all — the entry is navigated, not
  * hashed; the probed-bucket scan disappears from the serve path
  * entirely.
  *
  * Scale shape: the walk state is one node (driver-side, the same
  * bounded-state license [[SrpBanded.graphSearchFrom]] documents);
  * each step reads ONE source's ≤ [[LevelK]] edge rows — against a
  * persisted src-partitioned edge table (EdgeStore layout) that is a
  * partition-pruned point read, paid at most 3·[[MaxSteps]] times.
  * Layer graphs are built once per corpus and cached
  * (localCheckpoint), like every other served artifact here.
  */
object Hnsw {

  /** upper layers 1..MaxLevel; membership p = 4^-l */
  val MaxLevel = 3
  /** out-degree per node on upper layers */
  val LevelK = 4
  /** beam moves per layer before handing down (converged walks
    * stay put, so the cap only bounds pathological chains) */
  val MaxSteps = 6
  /** walk width on the upper layers (the paper's ef > 1, applied to
    * every layer): the state is the top-DescentBeam frontier, not a
    * single node. Single-node greedy on a low-similarity corpus walks
    * into a local optimum the layer-0 beam can't escape — measured
    * recall@10 on the spec query: 0.0 at width 1, 0.1 at 4, 0.8 at 16
    * (the two misses are ranks 8 and 10 at Δcos < 0.01; the exact
    * top-8, including the top-1, are all found). */
  val DescentBeam = 16
  /** walk moves per layer in the BATCH path (v33): the set-based plan
    * cannot early-exit per query, so every unrolled step is a full
    * stage — 3 covers observed convergence (walks settle in ≤ 3
    * moves) at half the single-query cap. An exact runtime fixpoint
    * test (count + exceptAll per step) was tried and reverted: at
    * bench scale the two extra jobs per step cost more than the
    * skipped stages saved (4.7 s → 5.5 s). */
  val BatchMaxSteps = 3

  /** level(vec_id): leading md5 hex digits < '4', capped at MaxLevel.
    * Lowercase-hex md5 of the DECIMAL id string in both engines. */
  private[graft] def levelCol(id: Column): Column = {
    val h = md5(id.cast("string"))
    when(substring(h, 1, 1) >= "4", 0)
      .otherwise(when(substring(h, 2, 1) >= "4", 1)
        .otherwise(when(substring(h, 3, 1) >= "4", 2).otherwise(3)))
  }

  private def cleanEmb(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))

  // layer graphs are the expensive part — one build per (dir, layer)
  private val layerCache = new graft.SessionCache[(String, Int, Int), DataFrame](
    8, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)

  /** The level-l (l ≥ 1) navigation graph: v18's banded build over
    * the members of that layer. Edges carry (src, dst, dst_emb) — the
    * destination embedding rides in-row (the HNSW-paper layout), so a
    * descent step scores from the edge rows it fetched and never
    * joins the corpus. */
  private[graft] def layerGraph(spark: SparkSession, d: String, l: Int,
                                levelK: Int = LevelK): DataFrame =
    layerCache.getOrElseUpdate(spark, (d, l, levelK)) {
      val members = cleanEmb(spark, d).filter(levelCol(col("vec_id")) >= l)
      SrpBanded.knnGraphWithEmb(spark, d, SrpBanded.bandedOf(members), levelK)
        .localCheckpoint(true)
    }

  // the entry point is a pure function of the corpus — one agg per
  // corpus dir, memoized (not per query); the persisted analogue is
  // HnswStore's entry/ artifact, written at store-build time
  private val entryCache = new graft.SessionCache[String, (Long, Array[Float])](8, identity)

  /** Entry point of the hierarchy: the min vec_id on the highest
    * occupied layer, with its embedding (so scoring it against a
    * query needs no corpus read). */
  private[graft] def entryFor(spark: SparkSession, d: String): (Long, Array[Float]) =
    entryCache.getOrElseUpdate(spark, d) {
      val emb = cleanEmb(spark, d)
      val e = emb.agg(
        min(when(levelCol(col("vec_id")) >= 3, col("vec_id"))).as("e3"),
        min(when(levelCol(col("vec_id")) >= 2, col("vec_id"))).as("e2"),
        min(when(levelCol(col("vec_id")) >= 1, col("vec_id"))).as("e1"),
        min(col("vec_id")).as("e0")).collect()(0)
      val entry = (0 to 3).map(i => Option(e.get(i)).map(_.asInstanceOf[Long]))
        .collectFirst { case Some(id) => id }.get
      val entryEmb = emb.filter(col("vec_id") === entry)
        .select(col("embedding")).collect()(0)
        .getSeq[Float](0).toArray
      (entry, entryEmb)
    }

  /** Fetch-and-score one descent step's edges through Spark: the
    * frontier's (src → scored neighbors) map, scored from the edge
    * rows' in-row embeddings by the engine's own cosine expression.
    * The DataFrame supplies (src, dst, dst_emb). */
  private[graft] def fetchScoredDf(df: DataFrame,
                                   queryVec: Array[Float]): Map[Long, Array[(Long, Double)]] =
    df.select(col("src"), col("dst").as("vec_id"),
        vectors.cosine_sim(col("dst_emb"), typedLit(queryVec)).as("sim"))
      .collect()
      .map(r => (r.getAs[Long]("src"),
        (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))))
      .groupBy(_._1).map { case (s, xs) => s -> xs.map(_._2) }

  /** The same step served from a DRIVER-CACHED layer map — scored by
    * [[vectors.cosine_sim_local]], the kernel's bit-identical twin, so
    * a local step and a distributed step produce the same doubles (the
    * serve stays hash-stable whichever path a layer takes). */
  private[graft] def fetchScoredLocal(m: Map[Long, Array[(Long, Array[Float])]],
                                      srcs: Seq[Long],
                                      queryVec: Array[Float]): Map[Long, Array[(Long, Double)]] =
    srcs.flatMap(s => m.get(s).map(es => s ->
      es.map { case (dst, emb) => (dst, vectors.cosine_sim_local(emb, queryVec)) })).toMap

  /** The coarse-to-fine walk alone: enter at the top layer, beam-
    * descend every upper layer, return the visited path as a LOCAL
    * scored pool (the seed the layer-0 tail consumes — model-sized by
    * construction, ≤ MaxLevel·maxSteps·descentBeam ids). `fetchScored
    * (l, frontier)` supplies the frontier's layer-l out-edges already
    * scored — a Spark point read ([[fetchScoredDf]]) or a driver-cache
    * lookup ([[fetchScoredLocal]]); bit-identical doubles either way,
    * so every serve path shares one walk (and one oracle). The entry
    * is scored locally by the same kernel twin — with every upper
    * layer cached, the whole descent runs with ZERO Spark jobs (the
    * v32 single-query floor was jobs × scheduling overhead). */
  private[graft] def descentPoolBy(spark: SparkSession,
      entry: (Long, Array[Float]), queryVec: Array[Float],
      fetchScored: (Int, Seq[Long]) => Map[Long, Array[(Long, Double)]],
      descentBeam: Int = DescentBeam, maxSteps: Int = MaxSteps): Seq[(Long, Double)] = {
    // entry point: memoized ([[entryFor]]) or store-read — scored by
    // the local kernel twin; NO corpus access anywhere in the walk
    val (entryId, entryEmb) = entry
    val entrySim = vectors.cosine_sim_local(entryEmb, queryVec)

    // the same NaN-greatest / id-asc total order the beam serve uses
    def better(aSim: Double, aId: Long, bSim: Double, bId: Long): Boolean = {
      val c =
        if (aSim.isNaN && bSim.isNaN) 0
        else if (aSim.isNaN) 1
        else if (bSim.isNaN) -1
        else if (aSim > bSim) 1 else if (aSim < bSim) -1 else 0
      if (c != 0) c > 0 else aId < bId
    }

    // beam descent: the state is the top-DescentBeam frontier; each
    // step reads ≤ DescentBeam sources' ≤ LevelK edge rows (point
    // reads against a src-partitioned edge table at scale) and keeps
    // the top-DescentBeam of state ∪ neighbors — monotone, so a
    // converged step is the identity and early exit is sound
    var state: Seq[(Long, Double)] = Seq((entryId, entrySim))
    val path = scala.collection.mutable.LinkedHashMap(entryId -> entrySim)
    for (l <- MaxLevel to 1 by -1) {
      // per-layer fetch cache: a source's layer-l out-edges are
      // immutable within the walk, so each source is READ at most
      // once per layer — repeat frontier members, and the
      // convergence-confirming step (whose frontier is by definition
      // already fetched), merge from the cache with NO Spark job.
      // Identical rows reach the same merge (duplicate dsts carry
      // bit-identical sims), so the walk is unchanged; only the
      // redundant reads — each one a full plan+schedule round, the
      // single-query floor docs/PERF.md measured — disappear.
      val fetched = scala.collection.mutable.Map.empty[Long, Array[(Long, Double)]]
      var converged = false
      var step = 0
      while (!converged && step < maxSteps) {
        step += 1
        // neighbors scored from the edge rows' in-row embeddings —
        // the step IS the pruned edge read (or cache hit), no corpus join
        val need = state.map(_._1).filterNot(fetched.contains)
        if (need.nonEmpty) {
          val bySrc = fetchScored(l, need)
          need.foreach { s =>
            fetched(s) = bySrc.getOrElse(s, Array.empty)
          }
        }
        val nb = state.map(_._1).flatMap(fetched(_))
        val merged = (state ++ nb).groupBy(_._1).map(_._2.head).toSeq
          .sortWith { case ((ida, sa), (idb, sb)) => better(sa, ida, sb, idb) }
          .take(descentBeam)
        converged = merged.map(_._1) == state.map(_._1)
        state = merged
        state.foreach { case (id, s) => path.update(id, s) }
      }
    }

    path.toSeq
  }

  /** [[descentPoolBy]] over the in-memory (cached) layer graphs. */
  private[graft] def descentPool(spark: SparkSession, d: String,
      queryVec: Array[Float], descentBeam: Int = DescentBeam,
      maxSteps: Int = MaxSteps): Seq[(Long, Double)] =
    descentPoolBy(spark, entryFor(spark, d), queryVec,
      (l, frontier) => SrpBanded.graphFetch(layerGraph(spark, d, l), queryVec)(frontier),
      descentBeam, maxSteps)

  /** v31: hierarchical search — descent seeds, then the shared
    * layer-0 beam tail. Same output contract as v19/v25:
    * (vec_id, rk, sim) top-k. */
  def search(spark: SparkSession, d: String, queryVec: Array[Float],
             k: Int = 10, beam: Int = 16, iters: Int = 3,
             maxEntries: Int = 64, graphK: Int = 5,
             refined: Boolean = false,
             descentBeam: Int = DescentBeam, maxSteps: Int = MaxSteps): DataFrame = {
    val pool = descentPool(spark, d, queryVec, descentBeam, maxSteps)
    SrpBanded.graphSearchFromLocal(spark, pool, k, beam, iters, maxEntries,
      SrpBanded.graphFetch(
        if (refined) SrpBanded.materializedRefinedGraph(spark, d, graphK)
        else SrpBanded.materializedGraph(spark, d, graphK), queryVec))
  }

  /** (query_id, vec_id, c_vec) pairs → exact cosine, the candidate
    * embedding ALREADY IN-ROW (carried from the edge rows' dst_emb) —
    * scoring never joins the corpus table. The query side keeps the
    * v26 no-broadcast contract verbatim: a SHUFFLE_HASH join on
    * query_id, never a BroadcastExchange. */
  private def batchScoreEdges(queries: DataFrame)(pairs: DataFrame): DataFrame =
    pairs
      .join(queries.hint("shuffle_hash"), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosine_sim(col("c_vec"), col("q_vec")).as("sim"))

  /** One in-row-scored walk step, LAZY — exposed so a plan spec can
    * assert the no-query-broadcast AND no-corpus-join contracts
    * without running the walk (the v26 `batchSeedScored` pattern). */
  private[graft] def batchStepScored(spark: SparkSession, d: String,
                                     queryMod: Int, entry: Long): DataFrame = {
    val emb = cleanEmb(spark, d)
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    val g = layerGraph(spark, d, MaxLevel)
    val state = queries.select(col("query_id"), lit(entry).as("vec_id"))
    batchScoreEdges(queries)(
      state.join(g, state("vec_id") === g("src"))
        .select(col("query_id"), col("dst").as("vec_id"),
          col("dst_emb").as("c_vec")))
  }

  /** v33: BATCHED hierarchical serve — the whole query table walked
    * down the hierarchy in one set-based plan (the HNSW analogue of
    * v26, completing the batch-serve matrix: graph v26/v27,
    * quantization v29, hierarchy here). The per-query walk state
    * becomes a (query_id, vec_id, sim) frame cut by per-query
    * windows; the monotone beam step is idempotent once a query
    * converges, so the fixed unroll serves early- and late-converging
    * queries in the same plan. The ENTRY is query-independent (the
    * hierarchy's top), so seeding is one row per query — no bucket
    * probing, no per-query driver state anywhere.
    *
    * Scale contract (v26's, inherited): query embeddings ride
    * SHUFFLE_HASH joins on query_id, never a BroadcastExchange —
    * millions of queries scale out with the cluster. Each stage is
    * checkpointed against hop replay; intermediates are released
    * once the k·|Q| result is materialized.
    *
    * Corpus-scan count: ONE — the query-slice read itself. Every
    * walk step and layer-0 hop scores from the `dst_emb` riding in
    * the edge rows it already joined ([[batchScoreEdges]]), and the
    * entry is scored from its known embedding; at 100 TB the serve
    * cost is |Q|·(beam·graphK) edge rows, independent of N. The
    * former shape re-joined the corpus per stage (~15 scans/serve —
    * 29% of the r8 warm bench across v33+v34). */
  def searchBatch(spark: SparkSession, d: String, queryMod: Int,
                  k: Int = 5, beam: Int = 16, iters: Int = 3,
                  maxEntries: Int = 64, graphK: Int = 5,
                  descentBeam: Int = DescentBeam,
                  maxSteps: Int = BatchMaxSteps,
                  layerSource: Option[Int => DataFrame] = None,
                  graphSource: Option[DataFrame] = None,
                  entryOverride: Option[(Long, Array[Float])] = None,
                  kExpr: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val emb = cleanEmb(spark, d)
    // materialized ONCE — O(|Q|) rows, not O(corpus); every stage
    // below joins this checkpoint, so the batch serve's only corpus
    // read is this query-slice scan
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .localCheckpoint(true)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    // ONE exchange per walk/hop step instead of two: the union is
    // hash-repartitioned on query_id once; the (query_id, vec_id)
    // dedup and the per-query rank are then BOTH windows whose
    // ClusteredDistribution is satisfied by that single partitioning
    // (a window needs only a subset match), so Catalyst plans
    // repartition → sort → dedup-window → sort → rank-window with no
    // further shuffle. Duplicate (query_id, vec_id) rows carry
    // bit-identical sims (same expression over the same floats — the
    // invariant the former distinct() on the full triple relied on),
    // so keeping any one row per pair equals the old distinct.
    val wd = Window.partitionBy(col("query_id"), col("vec_id"))
      .orderBy(col("sim"))
    def dedupRankNoShuffle(df: DataFrame): DataFrame = df
      .withColumn("__dup", row_number().over(wd))
      .filter(col("__dup") === 1).drop("__dup")
      .withColumn("rn", row_number().over(wq))
    def dedupRank(df: DataFrame): DataFrame =
      dedupRankNoShuffle(df.repartition(col("query_id")))
    // ONE exchange per walk step / hop (r16, down from two): the union
    // of the SCORED state (sim in-row) with the UNSCORED neighbor rows
    // (their c_vec rides from the edge rows) is hash-repartitioned on
    // query_id once; the SHUFFLE_HASH scoring join then sees its
    // streamed side already partitioned (only the small queries side
    // exchanges), sims fill in as coalesce(sim, cosine(c_vec, q_vec))
    // — bit-identical doubles, state rows keep their carried value —
    // and both dedup/rank windows reuse the same partitioning. Same
    // rows as score-then-union: the union is a bag union and cosine
    // over the same floats reproduces every duplicate's sim exactly.
    def scoreDedupRank(stateScored: DataFrame, neighUnscored: DataFrame): DataFrame =
      dedupRankNoShuffle(
        stateScored
          .withColumn("c_vec", lit(null).cast("array<float>"))
          .unionByName(neighUnscored
            .select(col("query_id"), col("vec_id"),
              lit(null).cast("double").as("sim"), col("c_vec")))
          .repartition(col("query_id"))
          .join(queries.hint("shuffle_hash"), Seq("query_id"))
          .select(col("query_id"), col("vec_id"),
            coalesce(col("sim"),
              vectors.cosine_sim(col("c_vec"), col("q_vec"))).as("sim")))
    val intermediates = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    intermediates += queries
    // entry: query-independent — memoized per corpus ([[entryFor]]) or
    // read from the persisted store's entry artifact (v34); its
    // embedding comes with it, so seeding scores WITHOUT any join
    val (entryId, entryEmb) = entryOverride.getOrElse(entryFor(spark, d))
    // Catalyst's union constraint rewrite (InferFiltersFromConstraints
    // over Distinct(Union(...))) fails with key-not-found on this
    // unroll's deep union-of-checkpoints chains — a known optimizer
    // defect with unioned self-derived lineage. Constraint propagation
    // is an inference heuristic (it adds filters, never changes
    // results), and every stage here is an eager checkpoint inside
    // this scope, so it is disabled for the walk and restored after.
    // The set/walk/restore runs under a process-wide lock: the conf is
    // session-global, and two overlapping batch walks could otherwise
    // race on the save/restore (one capturing the other's "false" as
    // the previous value). Batch serves are minutes-long offline jobs,
    // so serializing them costs nothing observable.
    cpLock.synchronized {
    val cpKey = "spark.sql.constraintPropagation.enabled"
    val cpPrev = spark.conf.getOption(cpKey)
    spark.conf.set(cpKey, "false")
    try {
    val cols3 = Seq("query_id", "vec_id", "sim")
    // the entry embedding is a literal — the same floats the corpus
    // row holds, same cosine expression, so sims stay bit-identical
    // to the former corpus-joined seed. LAZY: one projection over the
    // queries checkpoint — the first walk step references it twice
    // (join + union), and recomputing a literal-cosine projection is
    // cheaper than its own eager checkpoint job (r10 job-count cut)
    var state = queries.select(col("query_id"), lit(entryId).as("vec_id"),
        vectors.cosine_sim(typedLit(entryEmb), col("q_vec")).as("sim"))
      .toDF(cols3: _*)
    var path = state
    for (l <- MaxLevel to 1 by -1) {
      // one edge-side fetch + broadcast decision per LAYER (r16): the
      // layer graph is step-invariant, so its row count — cheap, the
      // frame is a checkpoint or a stored read — is paid once, and a
      // known-small layer broadcasts EXPLICITLY. AQE reached the same
      // BHJ at runtime, but only after materializing shuffle stages
      // for BOTH join sides per step (a checkpoint carries no size
      // stats, so the static planner could never pick the broadcast);
      // the hint removes those dead per-step exchanges. Plan-only:
      // inner-join rows are identical either way, and past
      // [[EdgeBroadcastMaxRows]] the shape is untouched — production
      // layer-1 graphs are corpus-sized and keep the shuffle.
      val g = SrpBanded.maybeBroadcastEdges(
        layerSource.map(_(l)).getOrElse(layerGraph(spark, d, l)))
      for (_ <- 1 to maxSteps) {
      // dst_emb rides in the edge row → score what was joined, no
      // corpus access. Duplicate (query_id, vec_id) rows (several
      // frontier members sharing a neighbor) carry bit-identical
      // sims, so the former pre-score distinct() is deferred to the
      // step's single dedupRank exchange — scoring a dup is a
      // projection, cheaper than the extra exchange the distinct cost
      val neigh = state.join(g, state("vec_id") === g("src"))
        .select(col("query_id"), col("dst").as("vec_id"),
          col("dst_emb").as("c_vec"))
      val ranked = scoreDedupRank(state, neigh)
      // lazy thunk: eagerly planning + stringifying the step subtree
      // put one Catalyst run per walk step on the serve path purely
      // for the spec hook (r16)
      lastStepPlanThunk = () => ranked.queryExecution.executedPlan.toString
      // ONE eager checkpoint per step: the scoring join stays inline
      // in the dedup+rank stage (its inputs — state and the layer
      // edges — are already checkpoint/cache-rooted, so the lineage
      // is one join deep and nothing replays)
      val cand = ranked
        .filter(col("rn") <= descentBeam)
        .select(col("query_id"), col("vec_id"), col("sim"))
        .toDF(cols3: _*).localCheckpoint(true)
      intermediates += cand
      state = cand
      path = path.unionByName(state)
      }
    }
    // layer-0: the v26 hop tail seeded with each query's walk path —
    // same per-layer broadcast decision as the walk (layer 0 is the
    // full corpus graph, so at scale it stays on the shuffle path)
    val graph = SrpBanded.maybeBroadcastEdges(
      graphSource.getOrElse(SrpBanded.materializedGraph(spark, d, graphK)))
    val seed = dedupRank(path)
      .filter(col("rn") <= maxEntries)
      .select(col("query_id"), col("vec_id"), col("sim"))
      .toDF(cols3: _*).localCheckpoint(true)
    intermediates += seed
    // visited accumulates the UNCUT candidate sets (a node scored but
    // never promoted to the frontier can still make the final top-k);
    // its dedup is deferred to the single final dedup+rank pass —
    // inter-iteration overlap is bounded (≤ beam·(graphK+1) rows per
    // query per hop), so carrying duplicates is cheaper than a
    // distinct() exchange per hop
    var visited = seed
    // first frontier = the FULL per-query seed pool, as in the
    // single-query tail and v26; carried SCORED so the hop's
    // "frontier ∪ neighbors rescored" set assembles from checkpoint-
    // rooted frames only (same constraint-rewrite dodge as the walk)
    var frontierS = seed
    (1 to iters).foreach { i =>
      // same in-row scoring as the walk: the layer-0 edge table
      // (in-memory materializedGraph or the stored EdgeStore) carries
      // dst_emb, so hops never re-join the corpus either
      val neigh = frontierS.join(graph, frontierS("vec_id") === graph("src"))
        .select(col("query_id"), col("dst").as("vec_id"),
          col("dst_emb").as("c_vec"))
      // = scored(frontier ∪ neighbors) deduped WITH its per-query
      // rank, in one exchange (the r16 scoreDedupRank shape — the
      // scoring join rides on the union's partitioning); the beam cut
      // is then a plain filter. The LAST hop is left lazy: it feeds
      // only the final ranking pass, which consumes it inline from
      // checkpoint-rooted inputs (r10 job-count cut, the v26 shape).
      val candR = scoreDedupRank(
          frontierS.select(col("query_id"), col("vec_id"), col("sim")), neigh)
        .toDF("query_id", "vec_id", "sim", "rn")
      lastHopPlanThunk = () => candR.queryExecution.executedPlan.toString
      val cand =
        if (i < iters) {
          val c = candR.localCheckpoint(true)
          intermediates += c
          c
        } else candR
      visited = visited.unionByName(cand.select(col("query_id"), col("vec_id"), col("sim")))
      frontierS = cand.filter(col("rn") <= beam)
        .select(col("query_id"), col("vec_id"), col("sim"))
    }
    val out = dedupRank(visited)
      .withColumnRenamed("rn", "rk")
      .filter(col("rk") <= k)
      // per-query k over query_id — k stays the WindowGroupLimit
      // literal (batch ceiling), kExpr trims per caller (r16, the
      // FilteredServe kCol shape on the unfiltered matrix)
      .filter(kExpr.map(col("rk") <= _).getOrElse(lit(true)))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), round(col("sim"), 6).as("sim"))
      .orderBy(col("query_id"), col("rk"))
      .localCheckpoint(true)
    intermediates.foreach(org.apache.spark.sql.GraftBridge.unpersistPlanRdds)
    out
    } finally cpPrev match {
      case Some(v) => spark.conf.set(cpKey, v)
      case None => spark.conf.unset(cpKey)
    }
    }
  }

  /** guards the [[searchBatch]] constraint-propagation conf scope */
  private val cpLock = new Object

  /** executed plans of the last batch walk step / layer-0 hop scoring
    * stage — spec hooks for the no-corpus-scan contract. LAZY thunks
    * (r16): stringifying the executed plan eagerly cost one Catalyst
    * planning pass per walk step / hop on the serve path. */
  @volatile var lastStepPlanThunk: () => String = () => ""
  @volatile var lastHopPlanThunk: () => String = () => ""
  def lastStepPlan: String = lastStepPlanThunk()
  def lastHopPlan: String = lastHopPlanThunk()

  // ---------------------------------------------------------------
  // DuckDB twin
  // ---------------------------------------------------------------

  private def lvlSql: String =
    s"""lvl AS MATERIALIZED (
       |  SELECT vec_id,
       |    CASE WHEN substring(md5(CAST(vec_id AS VARCHAR)), 1, 1) >= '4' THEN 0
       |         WHEN substring(md5(CAST(vec_id AS VARCHAR)), 2, 1) >= '4' THEN 1
       |         WHEN substring(md5(CAST(vec_id AS VARCHAR)), 3, 1) >= '4' THEN 2
       |         ELSE 3 END AS lvl
       |  FROM qt)""".stripMargin

  // MATERIALIZED throughout: the descent chains ~20 CTEs deep, and
  // DuckDB INLINES plain CTEs per reference — without pinning these,
  // the layer builds re-evaluate inside every unrolled step and the
  // oracle runs minutes instead of seconds (measured >120 s → 34 s)
  private def layerGraphSql(l: Int, levelK: Int): String =
    s"""hb$l AS MATERIALIZED (SELECT b.vec_id, b.band, b.bk FROM bands b JOIN lvl v USING (vec_id) WHERE v.lvl >= $l),
       |hbcap$l AS MATERIALIZED (
       |  SELECT band, bk, vec_id FROM (
       |    SELECT band, bk, vec_id,
       |      row_number() OVER (PARTITION BY band, bk ORDER BY vec_id) AS bi
       |    FROM hb$l) WHERE bi <= ${SrpBanded.BucketCap}),
       |hc$l AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM hb$l a JOIN hbcap$l b ON a.band = b.band AND a.bk = b.bk AND a.vec_id <> b.vec_id),
       |hs$l AS MATERIALIZED (
       |  SELECT c.src, c.dst, list_cosine_similarity(s.v, t.v) AS sim
       |  FROM hc$l c JOIN e s ON c.src = s.vec_id JOIN e t ON c.dst = t.vec_id),
       |hg$l AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rk
       |    FROM hs$l) WHERE rk <= $levelK)""".stripMargin

  /** One beam-descent move on layer `l`: new state = top-DescentBeam
    * of state ∪ state's layer-l neighbors, by (sim DESC, id ASC).
    * Monotone — a converged step reproduces its input, so the fixed
    * unroll matches the Scala path's early exit. */
  private def stepSql(prev: String, out: String, l: Int,
                      descentBeam: Int = DescentBeam): String =
    s"""${out}n AS MATERIALIZED (
       |  SELECT qs.vec_id, qs.sim
       |  FROM $prev p JOIN hg$l g ON g.src = p.vec_id
       |  JOIN qscore qs ON qs.vec_id = g.dst),
       |$out AS MATERIALIZED (
       |  SELECT vec_id, sim FROM (
       |    SELECT DISTINCT vec_id, sim FROM (
       |      SELECT * FROM $prev UNION ALL SELECT * FROM ${out}n))
       |  ORDER BY sim DESC, vec_id LIMIT $descentBeam)""".stripMargin

  /** v33 oracle: the batch twin — layer CTEs + an `allscore` of every
    * (query, corpus) pair (the oracle-side luxury v26's twin also
    * takes), the entry scored once per query, the walk unrolled
    * [[BatchMaxSteps]] times per layer with per-query windows, and
    * the v26-style hop tail. All MATERIALIZED (the descent chain is
    * deep; DuckDB inlines plain CTEs per reference). */
  def searchBatchSql(queryMod: Int, k: Int = 5, beam: Int = 16,
                     iters: Int = 3, maxEntries: Int = 64, graphK: Int = 5,
                     levelK: Int = LevelK, descentBeam: Int = DescentBeam,
                     maxSteps: Int = BatchMaxSteps): String = {
    val layers = (1 to MaxLevel).map(layerGraphSql(_, levelK)).mkString(",\n")
    val stepNames = scala.collection.mutable.ArrayBuffer("bs0")
    val steps = (MaxLevel to 1 by -1).flatMap { l =>
      (1 to maxSteps).map { i =>
        val prev = stepNames.last
        val out = s"bs${l}_$i"
        stepNames += out
        s"""${out}c AS MATERIALIZED (
           |  SELECT DISTINCT query_id, vec_id FROM (
           |    SELECT query_id, vec_id FROM $prev
           |    UNION ALL
           |    SELECT p.query_id, g.dst AS vec_id FROM $prev p JOIN hg$l g ON g.src = p.vec_id)),
           |$out AS MATERIALIZED (
           |  SELECT query_id, vec_id, sim FROM (
           |    SELECT c.query_id, c.vec_id, s.sim,
           |      row_number() OVER (PARTITION BY c.query_id ORDER BY s.sim DESC, c.vec_id) AS rn
           |    FROM ${out}c c JOIN allscore s ON s.query_id = c.query_id AND s.vec_id = c.vec_id)
           |  WHERE rn <= $descentBeam)""".stripMargin
      }
    }.mkString(",\n")
    val pathUnion = stepNames.map(n => s"SELECT query_id, vec_id FROM $n").mkString(" UNION ALL ")
    val hops = (1 to iters).map { i =>
      val prevF = if (i == 1) "bf0" else s"bf${i - 1}"
      val prevV = if (i == 1) "bf0s" else s"bv${i - 1}"
      s"""bc$i AS MATERIALIZED (
         |  SELECT DISTINCT query_id, vec_id FROM (
         |    SELECT query_id, vec_id FROM $prevF
         |    UNION ALL
         |    SELECT f.query_id, g.dst AS vec_id FROM $prevF f JOIN graph g ON g.src = f.vec_id)),
         |bc${i}s AS MATERIALIZED (SELECT c.query_id, c.vec_id, s.sim FROM bc$i c
         |  JOIN allscore s ON s.query_id = c.query_id AND s.vec_id = c.vec_id),
         |bv$i AS MATERIALIZED (SELECT DISTINCT query_id, vec_id, sim FROM (
         |  SELECT * FROM $prevV UNION ALL SELECT * FROM bc${i}s)),
         |bf$i AS MATERIALIZED (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM bc${i}s) WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${SrpBanded.srpBandsCtes},
       |${SrpBanded.rawGraphCtes(graphK)},
       |$lvlSql,
       |$layers,
       |allscore AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.vec_id, list_cosine_similarity(c.v, q.v) AS sim
       |  FROM (SELECT vec_id, v FROM e WHERE vec_id IN (SELECT vec_id FROM qt)) c
       |  CROSS JOIN (SELECT vec_id, v FROM e
       |    WHERE vec_id % $queryMod = 0 AND vec_id IN (SELECT vec_id FROM qt)) q),
       |entry AS (SELECT COALESCE(
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 3),
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 2),
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 1),
       |  (SELECT min(vec_id) FROM qt)) AS node),
       |bs0 AS MATERIALIZED (
       |  SELECT s.query_id, en.node AS vec_id, s.sim
       |  FROM entry en JOIN allscore s ON s.vec_id = en.node),
       |$steps,
       |bpath AS MATERIALIZED (SELECT DISTINCT query_id, vec_id FROM ($pathUnion)),
       |bf0s AS MATERIALIZED (
       |  SELECT query_id, vec_id, sim FROM (
       |    SELECT p.query_id, p.vec_id, s.sim,
       |      row_number() OVER (PARTITION BY p.query_id ORDER BY s.sim DESC, p.vec_id) AS rn
       |    FROM bpath p JOIN allscore s ON s.query_id = p.query_id AND s.vec_id = p.vec_id)
       |  WHERE rn <= $maxEntries),
       |bf0 AS MATERIALIZED (SELECT query_id, vec_id FROM bf0s),
       |$hops
       |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rk, round(sim, 6) AS sim FROM (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM bv$iters)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
  }

  /** v31 oracle: shared bands + v18 graph + qscore CTEs, the replayed
    * layer assignment/edges, the unrolled greedy walk (MaxSteps per
    * layer), and the shared beam tail seeded by the walk's path. */
  def searchSql(queryVecSql: String, k: Int = 10, beam: Int = 16,
                iters: Int = 3, maxEntries: Int = 64, graphK: Int = 5,
                levelK: Int = LevelK, descentBeam: Int = DescentBeam,
                maxSteps: Int = MaxSteps): String = {
    val layers = (1 to MaxLevel).map(layerGraphSql(_, levelK)).mkString(",\n")
    val stepNames = scala.collection.mutable.ArrayBuffer("s0")
    val steps = (MaxLevel to 1 by -1).flatMap { l =>
      (1 to maxSteps).map { i =>
        val prev = stepNames.last
        val out = s"ds${l}_$i"
        stepNames += out
        stepSql(prev, out, l, descentBeam)
      }
    }.mkString(",\n")
    val pathUnion = stepNames.map(n => s"SELECT vec_id FROM $n").mkString(" UNION ALL ")
    s"""WITH ${SrpBanded.srpBandsCtes},
       |${SrpBanded.rawGraphCtes(graphK)},
       |${SrpBanded.qscoreSql(queryVecSql)},
       |$lvlSql,
       |$layers,
       |entry AS (SELECT COALESCE(
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 3),
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 2),
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 1),
       |  (SELECT min(vec_id) FROM qt)) AS node),
       |s0 AS (SELECT en.node AS vec_id, qs.sim FROM entry en JOIN qscore qs ON qs.vec_id = en.node),
       |$steps,
       |dpool AS (SELECT DISTINCT vec_id FROM ($pathUnion)),
       |f0s AS (
       |  SELECT p.vec_id, qs.sim FROM dpool p JOIN qscore qs USING (vec_id)
       |  ORDER BY sim DESC, vec_id LIMIT $maxEntries),
       |f0 AS (SELECT vec_id FROM f0s),
       |${SrpBanded.beamHopsSql(k, beam, iters, "graph")}""".stripMargin
  }

  /** v35 oracle: [[searchSql]] with the layer-0 tail hopping the
    * NN-Descent-REFINED graph — the descent CTEs are unchanged (upper
    * layers are banded builds, independent of refinement), only the
    * `graph` role in the beam tail is played by v21's refined edge
    * set ([[SrpBanded.refinedGraphCtes]] — the same chain v25/v28
    * replay), exactly mirroring `search(refined = true)`. */
  def searchRefinedSql(queryVecSql: String, k: Int = 10, beam: Int = 16,
                       iters: Int = 3, maxEntries: Int = 64, graphK: Int = 5,
                       rounds: Int = 3, levelK: Int = LevelK,
                       descentBeam: Int = DescentBeam,
                       maxSteps: Int = MaxSteps): String = {
    val layers = (1 to MaxLevel).map(layerGraphSql(_, levelK)).mkString(",\n")
    val stepNames = scala.collection.mutable.ArrayBuffer("s0")
    val steps = (MaxLevel to 1 by -1).flatMap { l =>
      (1 to maxSteps).map { i =>
        val prev = stepNames.last
        val out = s"ds${l}_$i"
        stepNames += out
        stepSql(prev, out, l, descentBeam)
      }
    }.mkString(",\n")
    val pathUnion = stepNames.map(n => s"SELECT vec_id FROM $n").mkString(" UNION ALL ")
    s"""WITH ${SrpBanded.srpBandsCtes},
       |${SrpBanded.rawGraphCtes(graphK)},
       |${SrpBanded.refinedGraphCtes(graphK, rounds)},
       |${SrpBanded.qscoreSql(queryVecSql)},
       |$lvlSql,
       |$layers,
       |entry AS (SELECT COALESCE(
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 3),
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 2),
       |  (SELECT min(vec_id) FROM lvl WHERE lvl >= 1),
       |  (SELECT min(vec_id) FROM qt)) AS node),
       |s0 AS (SELECT en.node AS vec_id, qs.sim FROM entry en JOIN qscore qs ON qs.vec_id = en.node),
       |$steps,
       |dpool AS (SELECT DISTINCT vec_id FROM ($pathUnion)),
       |f0s AS (
       |  SELECT p.vec_id, qs.sim FROM dpool p JOIN qscore qs USING (vec_id)
       |  ORDER BY sim DESC, vec_id LIMIT $maxEntries),
       |f0 AS (SELECT vec_id FROM f0s),
       |${SrpBanded.beamHopsSql(k, beam, iters, "refined_graph")}""".stripMargin
  }
}
