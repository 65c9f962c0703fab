package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.vectors

/** v36: binary sign-sketch search — the compact-code LINEAR-SCAN
  * family (the reference's pgvector serves this regime with an exact
  * scan; binary quantization is the standard public technique for
  * making that scan cheap — sign-random-projection codes per
  * Charikar STOC'02, served by Hamming shortlist + exact rerank).
  *
  * Complements the bucketed/graph families: LSH probing (v19/v20)
  * and graph walks (v25/v31) read a pruned SUBSET of the corpus and
  * win when recall targets are moderate; the code scan reads EVERY
  * row but only 8 bytes of it, is embarrassingly parallel, has no
  * seed-quality failure mode, and its recall is tunable by shortlist
  * size alone — the right tool for high-recall batch curation at
  * 100 TB, where an 8-byte-per-row scan is 48× less IO than the
  * float scan v1 pays (and the parquet column projection delivers
  * exactly that ratio: the embedding column is never read in the
  * shortlist stage).
  *
  * The sketch is [[SrpBanded]]'s 64 hyperplane bits kept in 8-band
  * sliced form (8 × 8-bit keys) rather than one composed int64 —
  * band 7's key shifted 56 bits would overflow the signed range that
  * DuckDB refuses to wrap, and the sliced form lets the oracle replay
  * the EXACT keys through the shared `srpBandsCtes` text source.
  * Hamming distance = Σ_b bit_count(keys[b] XOR qkeys[b]) — one
  * codegen'd integer kernel ([[HammingDistance]]), no UDF.
  *
  * Determinism: shortlist cut by (hamming ASC, vec_id ASC) — a total
  * order — then exact-cosine rerank by (sim DESC, vec_id ASC); both
  * engines agree bit-for-bit (integer hamming; the cosine is the
  * same float→double expression every serve oracle matches).
  */
object HammingIndex {

  import SrpBanded.Dim

  /** default shortlist width: recall is tunable here (the only
    * knob). 256 is sized for the hard regime the test corpus sits in
    * (near-random low-similarity vectors, where 1-bit/dim sketches
    * separate weakly) — measured recall@10: 0.4 at 64, acceptable at
    * 256. The shortlist is a CONSTANT: at 100 TB the rerank is still
    * 256 rows while the scan stays 8 B/row, so over-provisioning it
    * costs nothing that grows. */
  val Shortlist = 256

  /** (vec_id, embedding, keys) — the coded corpus, one map-only scan */
  private[graft] def coded(spark: SparkSession, d: String): DataFrame =
    Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"), col("embedding"),
        SrpBanded.bandKeysCol(col("embedding")).as("keys"))

  /** Σ_b bit_count(keys[b] XOR qk[b]) over the `keys` column as one
    * codegen'd int expression holding the query keys by reference
    * ([[HammingDistance]]) — the same class serves every query */
  private[graft] def hammingCol(qk: Seq[Long]): Column =
    org.apache.spark.sql.GraftBridge.column(
      HammingDistance(org.apache.spark.sql.GraftBridge.expression(col("keys")), qk.toArray))

  /** The shared rerank tail: exact cosine over the shortlist rows
    * (embeddings already in-row — no corpus join), (sim DESC, id)
    * top-k, ranked output. */
  private[graft] def rerank(short: DataFrame, queryVec: Array[Float],
                            k: Int): DataFrame = {
    val w = Window.orderBy(col("sim").desc, col("vec_id"))
    short
      .select(col("vec_id"),
        vectors.cosine_sim(col("embedding"), typedLit(queryVec)).as("sim"))
      .orderBy(col("sim").desc_nulls_last, col("vec_id"))
      .limit(k)
      .withColumn("rk", row_number().over(w))
      .select(col("vec_id"), col("rk"), round(col("sim"), 6).as("sim"))
      .orderBy(col("rk"))
  }

  /** v36: code the corpus on the fly (one scan carrying the
    * embedding in-row for the rerank), Hamming-shortlist, exact
    * rerank. The shortlist is a TakeOrdered (partial per-partition
    * top-R + driver merge — the v1 scan shape), never a full sort. */
  def search(spark: SparkSession, d: String, queryVec: Array[Float],
             k: Int = 10, shortlist: Int = Shortlist): DataFrame = {
    val qk = SrpBanded.queryBandKeys(queryVec).map(_._2)
    val short = coded(spark, d)
      .select(col("vec_id"), col("embedding"), hammingCol(qk).as("ham"))
      .orderBy(col("ham").asc, col("vec_id").asc)
      .limit(shortlist)
    rerank(short, queryVec, k)
  }

  /** v38 oracle ([[graft.sources.CodeStore.searchBatch]]'s twin): the
    * query set is the corpus slice, so its codes come from the SAME
    * `bands` CTE the corpus side uses (bit-compatible with the Scala
    * path's [[SrpBanded.bandKeysCol]] by construction); per-query
    * Hamming shortlist, exact-cosine rerank, per-query top-k. */
  def searchBatchSql(queryMod: Int, k: Int = 5,
                     shortlist: Int = Shortlist,
                     perKSql: Option[String] = None): String = {
    // per-query limit twin (r16): `perKSql` is a SQL expression over
    // query_id, replayed as an extra rk bound exactly like the Scala
    // path's kExpr filter (k stays the batch ceiling)
    val kBound = perKSql
      .map(e => s"rk <= $k AND rk <= ($e)").getOrElse(s"rk <= $k")
    s"""WITH ${SrpBanded.srpBandsCtes},
       |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qset AS MATERIALIZED (
       |  SELECT vec_id AS query_id, v FROM e WHERE vec_id % $queryMod = 0),
       |ham AS MATERIALIZED (
       |  SELECT qb.vec_id AS query_id, b.vec_id,
       |    CAST(sum(bit_count(xor(b.bk, qb.bk))) AS INTEGER) AS ham
       |  FROM bands b JOIN bands qb ON b.band = qb.band
       |  WHERE qb.vec_id % $queryMod = 0
       |  GROUP BY qb.vec_id, b.vec_id),
       |short AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY ham, vec_id) AS rn
       |    FROM ham) WHERE rn <= $shortlist),
       |scored AS MATERIALIZED (
       |  SELECT s.query_id, s.vec_id, list_cosine_similarity(e.v, q.v) AS sim
       |  FROM short s JOIN e ON e.vec_id = s.vec_id
       |  JOIN qset q ON q.query_id = s.query_id)
       |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rk,
       |  round(sim, 6) AS sim
       |FROM (SELECT query_id, vec_id, sim,
       |        row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
       |      FROM scored)
       |WHERE $kBound ORDER BY query_id, rk""".stripMargin
  }

  /** DuckDB twin: the shared banding CTEs produce the identical
    * keys; the query's keys are interpolated as a literal VALUES
    * list computed by the SAME [[SrpBanded.queryBandKeys]] the Scala
    * path uses. */
  def searchSql(queryVecSql: String, qk: Seq[Long], k: Int = 10,
                shortlist: Int = Shortlist): String = {
    val qvals = qk.zipWithIndex.map { case (kk, b) => s"($b, $kk)" }.mkString(", ")
    s"""WITH ${SrpBanded.srpBandsCtes},
       |e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |qb(band, qbk) AS (VALUES $qvals),
       |ham AS MATERIALIZED (
       |  SELECT b.vec_id, CAST(sum(bit_count(xor(b.bk, q.qbk))) AS INTEGER) AS ham
       |  FROM bands b JOIN qb q ON b.band = q.band GROUP BY b.vec_id),
       |short AS MATERIALIZED (
       |  SELECT vec_id FROM ham ORDER BY ham, vec_id LIMIT $shortlist),
       |qv AS (SELECT CAST($queryVecSql AS DOUBLE[]) AS v),
       |scored AS (
       |  SELECT e.vec_id, list_cosine_similarity(e.v, qv.v) AS sim
       |  FROM e JOIN short USING (vec_id), qv)
       |SELECT vec_id,
       |  CAST(row_number() OVER (ORDER BY sim DESC, vec_id) AS INTEGER) AS rk,
       |  round(sim, 6) AS sim
       |FROM scored ORDER BY sim DESC, vec_id LIMIT $k""".stripMargin
  }
}
