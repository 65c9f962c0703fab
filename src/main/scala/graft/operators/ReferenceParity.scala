package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{vectors, FakeEmbedder}

/** Reference-schema parity: the wide `customer_records_data` row
  * (reference sql/02_schema.sql:2-15 — id/type/number/country/date/
  * abstract/title/kind/num_claims/filename/withdrawn/embedding)
  * materialized from the synthetic corpus by a deterministic column
  * mapping, then queried through the reference's own two tool shapes:
  *
  *  - `find_similar_customer_records` (tools.yaml:12-31): embed the
  *    query, cosine-rank `abstract_embeddings`, LIMIT k — here with
  *    the live-policy predicate (`withdrawn = 0 AND type = 'POLICY'`)
  *    a real caller applies over sql/03_seed_data.sql's withdrawn
  *    rows;
  *  - `get_record_by_id` (tools.yaml:33-42): exact-id row lookup.
  *
  * This proves the SURVEY §1 schema mapping end-to-end rather than
  * only asserting it: every reference column exists with reference
  * semantics, the embedding column rides the same rows, and both
  * tool statements run oracle-checked against DuckDB applying the
  * identical mapping. The mapping itself is pure column arithmetic —
  * map-only, no shuffle — so the fixture scales with the scan. */
object ReferenceParity {

  /** `customer_records_data` from documents ⋈ embeddings. Every
    * derived column is a deterministic function of doc_id/lang/source
    * so the DuckDB twin reproduces it exactly. */
  def customerRecords(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d)
    val emb = Tables.embeddings(spark, d)
    docs.join(emb, docs("doc_id") === emb("vec_id"))
      .select(
        concat(when(col("doc_id") % 2 === 0, lit("POL-")).otherwise(lit("ART-")),
          lpad(col("doc_id").cast("string"), 8, "0")).as("id"),
        when(col("doc_id") % 2 === 0, lit("POLICY")).otherwise(lit("ARTICLE")).as("type"),
        concat(lit("CUST-"), (col("doc_id") % 997).cast("string")).as("number"),
        upper(substring(col("lang"), 1, 2)).as("country"),
        date_format(
          date_add(to_date(lit("2020-01-01")), (col("doc_id") % 1461).cast("int")),
          "yyyy-MM-dd").as("date"),
        col("text").as("abstract"),
        concat(lit("Synthetic record "), col("doc_id").cast("string")).as("title"),
        when(col("doc_id") % 5 === 0, lit("EXPRD")).otherwise(lit("ACTIVE")).as("kind"),
        (col("doc_id") % 43).as("num_claims"),
        concat(col("source"), lit("_"), col("doc_id").cast("string"), lit(".pdf"))
          .as("filename"),
        when(col("doc_id") % 5 === 0, lit(1L)).otherwise(lit(0L)).as("withdrawn"),
        col("embedding").as("abstract_embeddings"))
  }

  // NOTE: this fragment is re-interpolated into stripMargin strings —
  // no line may START with `||` (the margin strip would eat one bar)
  private val mappingSql =
    """SELECT
      |  concat(CASE WHEN doc_id % 2 = 0 THEN 'POL-' ELSE 'ART-' END,
      |    lpad(CAST(doc_id AS VARCHAR), 8, '0')) AS id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'POLICY' ELSE 'ARTICLE' END AS type,
      |  concat('CUST-', CAST(doc_id % 997 AS VARCHAR)) AS number,
      |  upper(substr(lang, 1, 2)) AS country,
      |  strftime(DATE '2020-01-01' + CAST(doc_id % 1461 AS INTEGER), '%Y-%m-%d') AS date,
      |  text AS abstract,
      |  concat('Synthetic record ', CAST(doc_id AS VARCHAR)) AS title,
      |  CASE WHEN doc_id % 5 = 0 THEN 'EXPRD' ELSE 'ACTIVE' END AS kind,
      |  doc_id % 43 AS num_claims,
      |  concat(source, '_', CAST(doc_id AS VARCHAR), '.pdf') AS filename,
      |  CAST(CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS BIGINT) AS withdrawn,
      |  e.embedding AS abstract_embeddings
      |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id""".stripMargin

  /** find_similar over LIVE POLICIES: the reference tool statement
    * with the caller's filter pushed into the scan. */
  def findSimilarLive(spark: SparkSession, d: String, queryText: String,
                      k: Int = 10): DataFrame = {
    val q = typedLit(FakeEmbedder.embed(queryText))
    customerRecords(spark, d)
      .filter(col("withdrawn") === 0 && col("type") === "POLICY")
      .select(col("id"), col("kind"), col("num_claims"),
        round(vectors.cosine_sim(col("abstract_embeddings"), q), 6).as("similarity"))
      .orderBy(col("similarity").desc, col("id").asc)
      .limit(k)
  }

  def findSimilarLiveSql(queryVecSql: String, k: Int = 10): String =
    s"""WITH cr AS ($mappingSql)
       |SELECT id, kind, num_claims,
       |  round(list_cosine_similarity(CAST(abstract_embeddings AS DOUBLE[]),
       |    CAST($queryVecSql AS DOUBLE[])), 6) AS similarity
       |FROM cr WHERE withdrawn = 0 AND type = 'POLICY'
       |ORDER BY similarity DESC, id ASC LIMIT $k""".stripMargin

  /** get_record_by_id: the reference's exact-row lookup, all scalar
    * reference columns. */
  def recordById(spark: SparkSession, d: String, id: String): DataFrame =
    customerRecords(spark, d)
      .filter(col("id") === lit(id))
      .select(col("id"), col("type"), col("number"), col("country"),
        col("date"), col("title"), col("kind"), col("num_claims"),
        col("filename"), col("withdrawn"))

  def recordByIdSql(id: String): String =
    s"""WITH cr AS ($mappingSql)
       |SELECT id, type, number, country, date, title, kind, num_claims,
       |  filename, withdrawn
       |FROM cr WHERE id = '$id'""".stripMargin

  // ---- r3: the reference predicate on the STORED filtered path ----

  // meta artifacts DECLARED over the reference's own filter columns
  // (withdrawn/type, sql/02_schema.sql) — the columns ride the store's
  // stats schema, so every FilteredServe read path serves them with
  // zero configuration (the storeMetaCols inference)
  private val metaCache = new graft.SessionCache[String, String](
    4, identity, graft.sources.TempStores.delete)

  /** build-once (vec_id, withdrawn, type)-declared meta store for the
    * corpus at `d` — same derivation arithmetic as
    * [[customerRecords]], values as partition-safe strings */
  def refMetaStoreFor(spark: SparkSession, d: String): String =
    metaCache.getOrElseUpdate(spark, d)(graft.sources.TempStores.create("refmeta") { dir =>
      val docs = Tables.documents(spark, d).select(
        col("doc_id").as("vec_id"),
        when(col("doc_id") % 5 === 0, lit("1")).otherwise(lit("0")).as("withdrawn"),
        when(col("doc_id") % 2 === 0, lit("POLICY")).otherwise(lit("ARTICLE")).as("type"))
      val emb = Tables.embeddings(spark, d)
        .filter(col("embedding").isNotNull &&
          size(col("embedding")) === graft.operators.SrpBanded.Dim)
        .select(col("vec_id"), col("embedding"))
      graft.sources.FilteredServe.writeMetaFrom(spark, dir, docs,
        Seq("withdrawn", "type"), emb)
    })

  /** r3: `find_similar_customer_records` over LIVE POLICIES served
    * from the STORED filtered path — the reference's exact tool
    * predicate (`withdrawn = 0 AND type = 'POLICY'`, tools.yaml:22-27)
    * through the three-tier planner's meta-only serve. Forced past the
    * exact tier so the per-value code tier carries it (a 100 TB corpus
    * cannot exact-scan its 40% live-policy slice); the covering
    * shortlist at verify scale makes the result the exact filtered
    * ranking the oracle replays. Output carries the reference id. */
  def findSimilarLiveStored(spark: SparkSession, d: String,
                            queryText: String, k: Int = 10): DataFrame = {
    val metaDir = refMetaStoreFor(spark, d)
    graft.sources.FilteredServe.searchFilteredMeta(spark, metaDir,
      FakeEmbedder.embed(queryText),
      Seq("withdrawn" -> "0", "type" -> "POLICY"), k, exactScanMax = 0L)
      .select(concat(lit("POL-"), lpad(col("vec_id").cast("string"), 8, "0"))
          .as("id"),
        col("rk"), col("sim"))
      .orderBy(col("rk"))
  }

  def findSimilarLiveStoredSql(queryVecSql: String, k: Int = 10): String =
    s"""SELECT concat('POL-', lpad(CAST(vec_id AS VARCHAR), 8, '0')) AS id,
       |  CAST(rk AS INTEGER) AS rk, sim
       |FROM (
       |  SELECT e.vec_id,
       |    row_number() OVER (ORDER BY
       |      list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST($queryVecSql AS DOUBLE[])) DESC,
       |      e.vec_id) AS rk,
       |    round(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), CAST($queryVecSql AS DOUBLE[])), 6) AS sim
       |  FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id
       |  WHERE d.doc_id % 2 = 0 AND d.doc_id % 5 <> 0)
       |WHERE rk <= $k ORDER BY rk""".stripMargin
}
