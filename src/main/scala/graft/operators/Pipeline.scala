package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables

/** p1/p2: the end-to-end training-corpus curation funnel — the
  * composition the individual dedup/text operators exist for, run as ONE
  * declarative plan so a user of the library gets the standard
  * web-corpus pipeline (quality gate → exact dedup → near-dup
  * canonicalization → mix report) without hand-wiring stages.
  *
  * Stage order follows the usual curation economics: the quality gate
  * is map-only and runs first (cheapest, biggest cut), exact dedup is
  * one 16-byte-key shuffle over the survivors, and the quadratic-ish
  * near-dup step runs LAST over the smallest set. Each document gets
  * exactly one disposition:
  *
  *   - `quality`   — failed the gate (too short / too little signal);
  *   - `exact_dup` — same normalized content as an earlier survivor
  *                   (`keeper_id` = that survivor);
  *   - `near_dup`  — token-Jaccard cluster member that lost the
  *                   canonical argmax (`keeper_id` = the canonical);
  *   - `kept`      — in the final corpus (`keeper_id` = itself).
  *
  * `keeper_id` is stage-local: it names the document that superseded
  * this one AT ITS STAGE (an exact keeper may itself later lose the
  * near-dup argmax — follow the chain for the transitive survivor).
  *
  * Scale shape (the 100 TB audit): the gate and the normalization
  * hash are map-only over the corpus; exact dedup shuffles only
  * (doc_id, 16-byte md5); the near-dup stage reuses the ONE
  * checkpointed pair graph shared with d4/d6/d8/d12
  * ([[Dedup.cachedPairs]] — prefix-filtered PPJoin candidates, never
  * all-pairs) and restricts it to survivors with two ids-only
  * semi-joins, so the component loop runs on the induced subgraph
  * without re-scoring a single pair. Disposition assembly is three
  * broadcast-sized left joins keyed by doc_id.
  *
  * Near-dup semantics on the induced subgraph: clusters are connected
  * components among SURVIVORS only — a path through a quality-dropped
  * or exact-dup'd document does not merge two surviving clusters
  * (dropped docs are not in the corpus; their similarity is
  * irrelevant). This is the same contract the oracle computes.
  */
object Pipeline {
  /** quality-gate floor on the t2 score ((1−stop_ratio)·min(1, n_tokens/50)) */
  val MinQuality = 0.35
  /** quality-gate floor on raw document length */
  val MinChars = 80
  /** token-Jaccard threshold shared with d4/d6/d8 (one pair graph) */
  val NearDupThreshold = 0.3

  /** case/punctuation-normalized content key for the exact stage —
    * byte-identical texts are a subset, so this is d1 plus the
    * whitespace-of-formatting invariance every web pipeline wants.
    * The corpus is ASCII (spec-asserted at ingest), so lower() and
    * the character class behave identically across engines. */
  private[graft] def normKey = md5(lower(regexp_replace(col("text"), "[^a-zA-Z0-9 ]", "")))

  /** gated documents with the t2 quality metrics attached */
  private def gated(spark: SparkSession, d: String): DataFrame =
    gatedOf(Tables.documents(spark, d))

  /** the quality gate over any (doc_id, text, lang, source, n_chars)
    * frame — shared with the streaming funnel so batch and stream
    * apply ONE gate definition */
  private[graft] def gatedOf(docs: DataFrame): DataFrame = {
    val stopArr = array(TextOps.StopWords.map(lit): _*)
    docs
      .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).as("n_tokens"),
        size(filter(split(col("text"), " "), t => array_contains(stopArr, t))).as("n_stop"))
      .withColumn("quality",
        (lit(1.0) - col("n_stop").cast("double") / col("n_tokens")) *
          least(lit(1.0), col("n_tokens").cast("double") / lit(50.0)))
      .withColumn("pass", col("quality") >= MinQuality && col("n_chars") >= MinChars)
  }

  // disposition memo, one per corpus dir: p1's result is p2's input
  // (and a session dashboard re-reads it per stage filter), and the
  // frame is one slim row per document — the d6-established
  // checkpoint-and-memo shape. Invalidation follows source rewrites.
  private val dispCache = new graft.SessionCache[String, DataFrame](
    8, identity, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)

  /** p1: per-document disposition (doc_id, lang, source, stage, keeper_id). */
  def curationPipeline(spark: SparkSession, d: String): DataFrame =
    dispCache.getOrElseUpdate(spark, d)(curationUncached(spark, d))

  private def curationUncached(spark: SparkSession, d: String): DataFrame = {
    // cached for the duration of this build only (three consumers:
    // the exact stage, the canonical argmax, the disposition join);
    // released once the checkpointed result below is materialized
    val g = gated(spark, d).cache()
    // exact stage: min doc_id per normalized-content group, among gate
    // survivors only (a dropped doc cannot keep content alive)
    val exact = g.filter(col("pass"))
      .select(col("doc_id"), normKey.as("h"))
      .withColumn("exact_keeper", min(col("doc_id")).over(Window.partitionBy(col("h"))))
      .select(col("doc_id"), col("exact_keeper"))
    val survivors = exact.filter(col("doc_id") === col("exact_keeper"))
      .select(col("doc_id"))
    // near-dup stage: induce the shared pair graph on the survivors
    // (ids-only joins — no pair is re-scored), then components +
    // keep-the-longest canonical, the d6/d8 contract
    val pairs = Dedup.cachedPairs(spark, d, NearDupThreshold)
      .join(survivors.select(col("doc_id").as("id_a")), Seq("id_a"))
      .join(survivors.select(col("doc_id").as("id_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"))
    val comps = Dedup.componentsOfPairs(pairs)
    val canon = comps
      .join(g.select(col("doc_id"), col("n_chars")), Seq("doc_id"))
      .withColumn("rn", row_number().over(Window.partitionBy(col("cluster_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"))
    val nearKeeper = comps.join(canon, Seq("cluster_id"))
      .select(col("doc_id"), col("canonical_id"))
    val disp = g.join(exact, Seq("doc_id"), "left")
      .join(nearKeeper, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        when(!col("pass"), lit("quality"))
          .when(col("doc_id") =!= col("exact_keeper"), lit("exact_dup"))
          .when(col("canonical_id").isNotNull && col("doc_id") =!= col("canonical_id"),
            lit("near_dup"))
          .otherwise(lit("kept")).as("stage"),
        when(!col("pass"), lit(null).cast("long"))
          .when(col("doc_id") =!= col("exact_keeper"), col("exact_keeper"))
          .when(col("canonical_id").isNotNull && col("doc_id") =!= col("canonical_id"),
            col("canonical_id"))
          .otherwise(col("doc_id")).as("keeper_id"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    g.unpersist(blocking = false)
    disp
  }

  /** the recursive-CTE mirror of [[curationPipeline]] — DuckDB replays
    * the funnel from first principles (no shared intermediates) */
  def curationPipelineSql: String = {
    val stopList = TextOps.StopWords.map(w => s"'$w'").mkString("[", ", ", "]")
    s"""WITH RECURSIVE g AS (
       |  SELECT doc_id, text, lang, source, n_chars,
       |    ((1.0 - CAST(len(list_filter(string_split(text, ' '), t -> list_contains($stopList, t))) AS DOUBLE)
       |        / len(string_split(text, ' ')))
       |      * least(1.0, CAST(len(string_split(text, ' ')) AS DOUBLE) / 50.0) >= $MinQuality
       |      AND n_chars >= $MinChars) AS pass
       |  FROM documents),
       |ex AS (
       |  SELECT doc_id,
       |    min(doc_id) OVER (PARTITION BY md5(lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))) AS exact_keeper
       |  FROM g WHERE pass),
       |surv AS (
       |  SELECT g.* FROM g JOIN ex ON g.doc_id = ex.doc_id AND ex.doc_id = ex.exact_keeper),
       |edges AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
       |    FROM (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM surv) a
       |    JOIN (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM surv) b
       |      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
       |  WHERE jaccard >= $NearDupThreshold),
       |bidir AS (SELECT id_a, id_b FROM edges UNION SELECT id_b, id_a FROM edges),
       |reach(id, root) AS (
       |  SELECT id_a, id_a FROM bidir
       |  UNION
       |  SELECT b.id_b, r.root FROM reach r JOIN bidir b ON b.id_a = r.id),
       |comp AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
       |canon AS (
       |  SELECT cluster_id, doc_id AS canonical_id FROM (
       |    SELECT c.cluster_id, c.doc_id,
       |      row_number() OVER (PARTITION BY c.cluster_id
       |        ORDER BY g.n_chars DESC, c.doc_id ASC) AS rn
       |    FROM comp c JOIN g ON c.doc_id = g.doc_id)
       |  WHERE rn = 1),
       |nk AS (SELECT c.doc_id, n.canonical_id FROM comp c JOIN canon n ON c.cluster_id = n.cluster_id)
       |SELECT g.doc_id, g.lang, g.source,
       |  CASE WHEN NOT g.pass THEN 'quality'
       |       WHEN g.doc_id <> ex.exact_keeper THEN 'exact_dup'
       |       WHEN nk.canonical_id IS NOT NULL AND g.doc_id <> nk.canonical_id THEN 'near_dup'
       |       ELSE 'kept' END AS stage,
       |  CASE WHEN NOT g.pass THEN NULL
       |       WHEN g.doc_id <> ex.exact_keeper THEN ex.exact_keeper
       |       WHEN nk.canonical_id IS NOT NULL AND g.doc_id <> nk.canonical_id THEN nk.canonical_id
       |       ELSE g.doc_id END AS keeper_id
       |FROM g LEFT JOIN ex ON g.doc_id = ex.doc_id
       |       LEFT JOIN nk ON g.doc_id = nk.doc_id
       |ORDER BY g.doc_id""".stripMargin
  }

  /** p2: the funnel report — per (lang, source) document counts after
    * each stage plus the surviving token mass, i.e. the mix table a
    * training run samples from. One pass over p1's disposition joined
    * to the map-only token counts; group count is |lang|·|source|
    * (tiny), so the aggregate is one shuffle of a few counters. */
  def curationSummary(spark: SparkSession, d: String): DataFrame = {
    val disp = curationPipeline(spark, d)
    // one extra column-pruned scan for the token counts — cheaper
    // than keeping them resident in the disposition memo for every
    // consumer that doesn't need them
    val toks = Tables.documents(spark, d)
      .select(col("doc_id"), size(split(col("text"), " ")).as("n_tokens"))
    disp.join(toks, Seq("doc_id"))
      .groupBy(col("lang"), col("source"))
      .agg(
        count(lit(1)).as("docs_in"),
        sum(when(col("stage") =!= "quality", 1L).otherwise(0L)).as("after_quality"),
        sum(when(!col("stage").isin("quality", "exact_dup"), 1L).otherwise(0L)).as("after_exact"),
        sum(when(col("stage") === "kept", 1L).otherwise(0L)).as("docs_kept"),
        sum(when(col("stage") === "kept", col("n_tokens").cast("long")).otherwise(0L)).as("kept_tokens"))
      .orderBy(col("lang"), col("source"))
  }

  def curationSummarySql: String =
    s"""WITH disp AS (${curationPipelineSql.replace("ORDER BY g.doc_id", "")}),
       |toks AS (SELECT doc_id, len(string_split(text, ' ')) AS n_tokens FROM documents)
       |SELECT d.lang, d.source,
       |  count(*) AS docs_in,
       |  CAST(sum(CASE WHEN d.stage <> 'quality' THEN 1 ELSE 0 END) AS BIGINT) AS after_quality,
       |  CAST(sum(CASE WHEN d.stage NOT IN ('quality', 'exact_dup') THEN 1 ELSE 0 END) AS BIGINT) AS after_exact,
       |  CAST(sum(CASE WHEN d.stage = 'kept' THEN 1 ELSE 0 END) AS BIGINT) AS docs_kept,
       |  CAST(sum(CASE WHEN d.stage = 'kept' THEN t.n_tokens ELSE 0 END) AS BIGINT) AS kept_tokens
       |FROM disp d JOIN toks t ON d.doc_id = t.doc_id
       |GROUP BY d.lang, d.source
       |ORDER BY d.lang, d.source""".stripMargin
}
