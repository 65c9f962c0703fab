package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, TernaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}
import org.apache.spark.sql.GraftBridge
import graft.Tables
import graft.functions.vectors

/** Residual IVF-PQ — the full "IVFADC" layout (Jégou et al., TPAMI
  * 2011 §IV; what FAISS calls `IVFx,PQy` and pgvector approximates
  * with ivfflat + halfvec): product-quantize the RESIDUAL
  * `x − c(list(x))` instead of the raw vector. Residuals concentrate
  * near the origin once the coarse quantizer has absorbed the
  * between-list variance, so the same 8-byte code budget spends its
  * codewords on a much smaller cell — at equal code size, residual
  * codes reconstruct with lower error than [[PqIndex]]'s raw codes
  * (spec-measured on this corpus).
  *
  * Exactness contract (same family as [[IvfIndex]] / [[PqIndex]]):
  * the coarse centroid is floored to int64, so the residual stays an
  * exact int64 vector and PQ training replays bit-for-bit; the
  * query-side tables subtract the same floored centroid from the
  * quantized query (one exact IEEE subtraction per component) before
  * the dsub-ascending distance accumulation. [[searchSummarySql]]
  * replays coarse training, residual PQ training, encoding, the
  * per-list ADC scan and the exact rerank in DuckDB.
  *
  * Scale shape: probe prunes to `nprobe/nlists` of the rows (the
  * persisted form partitions by `list_id` like [[graft.sources.IvfPqStore]]),
  * the pruned scan reads 8-byte codes + one int, ADC is a table
  * lookup per subspace inside codegen, and only `topK·rerank`
  * candidates touch a full float vector. */
object IvfPqResidual {

  /** coarse model + its floored (int64) centroids + residual codebooks */
  case class Model(ivf: IvfIndex.Model, rc: Array[Array[Long]], pq: PqIndex.Model)

  def residualCol(q: Column, listId: Column, rc: Array[Array[Long]]): Column =
    GraftBridge.column(ResidualVec(
      GraftBridge.expression(q), GraftBridge.expression(listId), rc))

  def adcByListCol(codes: Column, listId: Column,
                   tables: Array[Array[Array[Double]]]): Column =
    GraftBridge.column(PqAdcByList(
      GraftBridge.expression(codes), GraftBridge.expression(listId), tables))

  /** corpus with (id, list_id, residual q) — the training/encode input */
  private[graft] def residualFrame(emb: DataFrame, vecCol: String, idCol: String,
                                   ivf: IvfIndex.Model, rc: Array[Array[Long]]): DataFrame = {
    // same guard as the oracle's qt CTE: a NULL or wrong-width row
    // must not reach training/encoding, or Spark and DuckDB would
    // silently train on different corpora
    val dim = rc(0).length
    val clean = emb.filter(col(vecCol).isNotNull && size(col(vecCol)) === dim)
    val qv = IvfIndex.quantize(col(vecCol))
    clean.select(col(idCol).as("id"), col(vecCol).as("vec"),
        qv.as("qv"), vectors.closest_centroid(qv, ivf.centroids).as("list_id"))
      .select(col("id"), col("vec"), col("list_id"),
        residualCol(col("qv"), col("list_id"), rc).as("q"))
  }

  def fit(spark: SparkSession, d: String, nlists: Int = 16, ivfIters: Int = 5,
          m: Int = 8, k: Int = 16, pqIters: Int = 4): Model = {
    val ivf = IvfIndex.fitCached(spark, d, nlists, ivfIters)
    val rc = ivf.centroids.map(_.map(x => math.floor(x).toLong))
    val emb = Tables.embeddings(spark, d)
    val resid = residualFrame(emb, "embedding", "vec_id", ivf, rc)
      .select(col("id"), col("q"))
    val dim = rc(0).length
    Model(ivf, rc, PqIndex.fitQuantized(resid, dim, m, k, pqIters))
  }

  private val modelCache =
    new graft.SessionCache[(String, Int, Int, Int, Int, Int), Model](64, _._1)

  def fitCached(spark: SparkSession, d: String, nlists: Int = 16, ivfIters: Int = 5,
                m: Int = 8, k: Int = 16, pqIters: Int = 4): Model =
    modelCache.getOrElseUpdate((d, nlists, ivfIters, m, k, pqIters))(
      fit(spark, d, nlists, ivfIters, m, k, pqIters))

  // encode ONCE per (corpus, model shape), serve many queries — same
  // lifecycle as PqIndex.codesCache; the persisted analogue is an
  // IvfPqStore layout whose codes are residual-encoded
  private val codesCache = new graft.SessionCache[(String, Int, Int, Int), DataFrame](
    8, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)

  /** per-list ADC tables for a query: tables(list)(j)(code) =
    * ‖(qq − rc(list))_j − codebook(j)(code)‖², the residual-domain
    * distance, accumulated dsub-ascending like the kernels. */
  def residualTables(model: Model, query: Array[Float]): Array[Array[Array[Double]]] = {
    require(query.length == model.rc(0).length,
      s"query dim ${query.length} != model dim ${model.rc(0).length}")
    val qq = IvfIndex.quantizeQuery(query)
    val dsub = model.pq.dsub
    model.rc.map { rcl =>
      val n = math.min(qq.length, rcl.length)
      val qr = Array.tabulate(n)(x => qq(x) - rcl(x).toDouble)
      Array.tabulate(model.pq.m) { j =>
        Array.tabulate(model.pq.k) { c =>
          val cen = model.pq.codebooks(j)(c)
          var s = 0.0
          var i = 0
          while (i < cen.length) {
            val dd = qr(j * dsub + i) - cen(i); s += dd * dd; i += 1
          }
          s
        }
      }
    }
  }

  /** Residual-ADC probe over any frame with a fitted model — encode,
    * prune to the probed lists, per-list ADC, exact rerank. (The
    * corpus-table entry point with encode memoization is
    * [[searchSummary]]; the persisted form is
    * [[graft.sources.IvfPqStore.searchResidual]].) */
  def search(emb: DataFrame, vecCol: String, idCol: String, model: Model,
             query: Array[Float], topK: Int, nprobe: Int,
             rerank: Int = 4): DataFrame = {
    val probed = IvfIndex.rankLists(model.ivf, query, nprobe)
    val tables = residualTables(model, query)
    val candidates = residualFrame(emb, vecCol, idCol, model.ivf, model.rc)
      .select(col("id"), col("vec"), col("list_id"),
        GraftBridge.column(PqEncode(GraftBridge.expression(col("q")), model.pq.codebooks)).as("codes"))
      .filter(col("list_id").isin(probed: _*))
      .select(col("id"), col("vec"),
        adcByListCol(col("codes"), col("list_id"), tables).as("adc"))
      .orderBy(col("adc").asc_nulls_last, col("id").asc)
      .limit(topK * rerank)
    candidates
      .select(col("id").as(idCol),
        round(vectors.l2_dist(col("vec"), typedLit(query)), 6).as("score"))
      .orderBy(col("score").asc_nulls_last, col(idCol).asc)
      .limit(topK)
  }

  /** Residual-ADC probe: rank coarse lists, scan only the probed
    * lists' codes with that list's residual distance table, exact
    * rerank of `topK·rerank` survivors. */
  def searchSummary(spark: SparkSession, d: String, queryText: String,
                    topK: Int = 10, nprobe: Int = 4, rerank: Int = 4): DataFrame = {
    val model = fitCached(spark, d)
    val query = graft.functions.FakeEmbedder.embed(queryText)
    val encoded = codesCache.getOrElseUpdate(spark, (d, model.pq.m, model.pq.k, model.ivf.k)) {
      residualFrame(Tables.embeddings(spark, d), "embedding", "vec_id", model.ivf, model.rc)
        .select(col("id").as("vec_id"), col("vec").as("embedding"), col("list_id"),
          GraftBridge.column(PqEncode(GraftBridge.expression(col("q")), model.pq.codebooks)).as("codes"))
        .localCheckpoint(true)
    }
    val probed = IvfIndex.rankLists(model.ivf, query, nprobe)
    val tables = residualTables(model, query)
    val candidates = encoded
      .filter(col("list_id").isin(probed: _*))
      .select(col("vec_id"), col("embedding"),
        adcByListCol(col("codes"), col("list_id"), tables).as("adc"))
      .orderBy(col("adc").asc_nulls_last, col("vec_id").asc)
      .limit(topK * rerank)
    candidates
      .select(col("vec_id"),
        round(vectors.l2_dist(col("embedding"), typedLit(query)), 6).as("score"))
      .orderBy(col("score").asc_nulls_last, col("vec_id").asc)
      .limit(topK)
  }

  /** v29 oracle — DuckDB twin of
    * [[graft.sources.IvfPqStore.searchResidualBatch]]: the shared
    * coarse + residual-PQ training CTEs, per-query probe ranking
    * (v14's probes shape), residual ADC terms per (query, candidate,
    * subspace) summed j-ascending like the kernel, per-query
    * `topK·rerank` ADC cut, exact-L2 rerank. */
  def batchSearchSql(queryMod: Int, nlists: Int = 16, ivfIters: Int = 5,
                     m: Int = 8, k: Int = 16, pqIters: Int = 4,
                     topK: Int = 5, nprobe: Int = 4, rerank: Int = 4,
                     dim: Int = 64): String = {
    val dsub = dim / m
    val residTerms = (1 to dim).map(i => s"t.q[$i] - r.rc[$i]").mkString("[", ", ", "]")
    // residual-domain query distance for a (query row q, candidate's
    // list r, codebook row c) triple — the same double arithmetic as
    // [[PqAdcResidualQ.adcJ]]: (CAST(q)−CAST(rc)) − c, squared,
    // i-ascending within the subspace
    def queryDist(c: String): String =
      (1 to dsub).map { i =>
        val idx = s"a.j * $dsub + $i"
        s"((CAST(q.q[$idx] AS DOUBLE) - CAST(r.rc[$idx] AS DOUBLE)) - $c[$i])*((CAST(q.q[$idx] AS DOUBLE) - CAST(r.rc[$idx] AS DOUBLE)) - $c[$i])"
      }.mkString(" + ")
    s"""WITH ${IvfIndex.fitCtes(nlists, ivfIters, dim)},
       |rcf AS MATERIALIZED (
       |  SELECT list_id, list_transform(c, x -> CAST(floor(x) AS BIGINT)) AS rc
       |  FROM cent$ivfIters),
       |rq AS MATERIALIZED (
       |  SELECT t.vec_id, a.list_id, $residTerms AS q
       |  FROM qt t JOIN af a USING (vec_id) JOIN rcf r USING (list_id)),
       |${PqIndex.pqFitCtes("rq", m, k, pqIters, dim, p = "p")},
       |probes AS MATERIALIZED (
       |  SELECT query_id, list_id FROM (
       |    SELECT t.vec_id AS query_id, c.list_id,
       |      row_number() OVER (PARTITION BY t.vec_id
       |        ORDER BY ${IvfIndex.distSql("t.q", "c.c", dim)}, c.list_id) AS rn
       |    FROM (SELECT * FROM qt WHERE vec_id % $queryMod = 0) t
       |    CROSS JOIN cent$ivfIters c) WHERE rn <= $nprobe),
       |adcterms AS MATERIALIZED (
       |  SELECT p.query_id, a.vec_id, a.j, ${queryDist("c.c")} AS term
       |  FROM paf a
       |  JOIN rq v ON v.vec_id = a.vec_id
       |  JOIN rcf r ON r.list_id = v.list_id
       |  JOIN probes p ON p.list_id = v.list_id
       |  JOIN qt q ON q.vec_id = p.query_id
       |  JOIN pcb$pqIters c ON c.j = a.j AND c.code = a.code),
       |cand AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id ORDER BY adc ASC, vec_id) AS rn
       |    FROM (
       |      SELECT query_id, vec_id, ${(1 to m).map(j => s"al[$j]").mkString(" + ")} AS adc
       |      FROM (SELECT query_id, vec_id, list(term ORDER BY j) AS al
       |            FROM adcterms GROUP BY query_id, vec_id)))
       |  WHERE rn <= ${topK * rerank})
       |SELECT query_id, neighbor_id, CAST(rk AS INTEGER) AS rk, score FROM (
       |  SELECT c.query_id, ec.vec_id AS neighbor_id,
       |    round(list_distance(CAST(ec.embedding AS DOUBLE[]), CAST(eq.embedding AS DOUBLE[])), 6) AS score,
       |    row_number() OVER (PARTITION BY c.query_id
       |      ORDER BY round(list_distance(CAST(ec.embedding AS DOUBLE[]), CAST(eq.embedding AS DOUBLE[])), 6) ASC, ec.vec_id) AS rk
       |  FROM cand c JOIN embeddings ec ON ec.vec_id = c.vec_id
       |  JOIN embeddings eq ON eq.vec_id = c.query_id)
       |WHERE rk <= $topK ORDER BY query_id, rk""".stripMargin
  }

  /** DuckDB twin: [[IvfIndex.fitCtes]]'s coarse training → floored
    * centroids → residual corpus → [[PqIndex.pqFitCtes]]'s residual
    * codebooks/encoding (CTEs prefixed `p` to stay disjoint from the
    * coarse stages) → per-list ADC over the probed lists → exact
    * rerank. Every accumulation unrolls in the kernels' order. */
  def searchSummarySql(query: Array[Float], nlists: Int = 16, ivfIters: Int = 5,
                       m: Int = 8, k: Int = 16, pqIters: Int = 4,
                       topK: Int = 10, nprobe: Int = 4, rerank: Int = 4,
                       dim: Int = 64): String = {
    val dsub = dim / m
    val qq = IvfIndex.quantizeQuery(query)
    val qVec = query.map(f => f.toDouble.toString).mkString("[", ", ", "]")
    val qqLit = qq.map(_.toLong).mkString("[", ",", "]")
    val residTerms = (1 to dim).map(i => s"t.q[$i] - r.rc[$i]").mkString("[", ", ", "]")
    // residual-domain query distance: ((qq[idx] − rc[idx]) − c[i])²,
    // i-ascending — rc via each row's list, matching residualTables
    def queryDist(c: String): String =
      (1 to dsub).map { i =>
        val idx = s"a.j * $dsub + $i"
        s"((qq.ql[$idx] - CAST(r.rc[$idx] AS DOUBLE)) - $c[$i])*((qq.ql[$idx] - CAST(r.rc[$idx] AS DOUBLE)) - $c[$i])"
      }.mkString(" + ")
    s"""WITH ${IvfIndex.fitCtes(nlists, ivfIters, dim)},
       |rcf AS MATERIALIZED (
       |  SELECT list_id, list_transform(c, x -> CAST(floor(x) AS BIGINT)) AS rc
       |  FROM cent$ivfIters),
       |rq AS MATERIALIZED (
       |  SELECT t.vec_id, a.list_id, $residTerms AS q
       |  FROM qt t JOIN af a USING (vec_id) JOIN rcf r USING (list_id)),
       |${PqIndex.pqFitCtes("rq", m, k, pqIters, dim, p = "p")},
       |probed AS MATERIALIZED (
       |  SELECT list_id FROM (
       |    SELECT c.list_id,
       |      row_number() OVER (ORDER BY ${IvfIndex.distSql(s"CAST($qqLit AS BIGINT[])", "c.c", dim)}, c.list_id) AS rn
       |    FROM cent$ivfIters c) WHERE rn <= $nprobe),
       |qlit AS MATERIALIZED (
       |  SELECT list_transform(CAST($qqLit AS BIGINT[]), x -> CAST(x AS DOUBLE)) AS ql),
       |adcterms AS MATERIALIZED (
       |  SELECT a.vec_id, a.j, ${queryDist("c.c")} AS term
       |  FROM paf a
       |  JOIN rq v ON v.vec_id = a.vec_id
       |  JOIN rcf r ON r.list_id = v.list_id
       |  JOIN pcb$pqIters c ON c.j = a.j AND c.code = a.code
       |  CROSS JOIN qlit qq
       |  WHERE v.list_id IN (SELECT list_id FROM probed)),
       |cand AS MATERIALIZED (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, ${(1 to m).map(j => s"al[$j]").mkString(" + ")} AS adc
       |    FROM (SELECT vec_id, list(term ORDER BY j) AS al FROM adcterms GROUP BY vec_id))
       |  ORDER BY adc ASC, vec_id LIMIT ${topK * rerank})
       |SELECT e.vec_id,
       |  round(list_distance(CAST(e.embedding AS DOUBLE[]), CAST($qVec AS DOUBLE[])), 6) AS score
       |FROM cand JOIN embeddings e USING (vec_id)
       |ORDER BY score ASC, vec_id LIMIT $topK""".stripMargin
  }
}

/** `residual_vec(q, list_id)` → array<long>: q − floor(centroid(list))
  * componentwise, still exact int64 (the floored centroids ride as a
  * broadcast reference object — assignment + residual stay map-only). */
case class ResidualVec(left: Expression, right: Expression, rc: Array[Array[Long]])
    extends BinaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override val nullIntolerant: Boolean = true
  override def prettyName: String = "residual_vec"
  override def nullSafeEval(q: Any, l: Any): Any =
    ResidualVec.residJ(q.asInstanceOf[ArrayData], l.asInstanceOf[Int], rc)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("flooredCentroids", rc, "long[][]")
    defineCodeGen(ctx, ev, (q, l) => s"graft.operators.ResidualVec.residJ($q, $l, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object ResidualVec {
  def residJ(q: ArrayData, listId: Int, rc: Array[Array[Long]]): ArrayData = {
    val cen = rc(listId)
    val n = math.min(q.numElements(), cen.length)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) { out(i) = q.getLong(i) - cen(i); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** `pq_adc_by_list(codes, list_id)` → residual ADC distance via the
  * probed list's own table (tables(list)(j)(code) lookups + adds). */
case class PqAdcByList(left: Expression, right: Expression,
                       tables: Array[Array[Array[Double]]])
    extends BinaryExpression {
  override def dataType: DataType = DoubleType
  override val nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_by_list"
  override def nullSafeEval(c: Any, l: Any): Any =
    PqAdcByList.adcJ(c.asInstanceOf[ArrayData], l.asInstanceOf[Int], tables)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("adcTables", tables, "double[][][]")
    defineCodeGen(ctx, ev, (c, l) => s"graft.operators.PqAdcByList.adcJ($c, $l, $ref)")
  }
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object PqAdcByList {
  def adcJ(codes: ArrayData, listId: Int, tables: Array[Array[Array[Double]]]): Double = {
    val t = tables(listId)
    var s = 0.0
    var j = 0
    while (j < t.length) { s += t(j)(codes.getInt(j)); j += 1 }
    s
  }
}

/** `pq_adc_residual_q(qq, codes, list_id)` → residual ADC distance for
  * a BATCH of queries: unlike [[PqAdcByList]], whose per-QUERY driver-
  * built tables cannot exist for millions of queries, this kernel
  * carries the quantized query in the row and reconstructs each
  * subspace term from the shared model refs (floored coarse centroids
  * + codebooks, both model-sized broadcasts). Per-j terms accumulate
  * i-ascending and sum j-ascending — the same IEEE association as the
  * table path and the oracle's `list(term ORDER BY j)` sum. */
case class PqAdcResidualQ(first: Expression, second: Expression, third: Expression,
                          rc: Array[Array[Long]], cb: Array[Array[Array[Double]]])
    extends TernaryExpression {
  override def dataType: DataType = DoubleType
  override val nullIntolerant: Boolean = true
  override def prettyName: String = "pq_adc_residual_q"
  override def nullSafeEval(q: Any, c: Any, l: Any): Any =
    PqAdcResidualQ.adcJ(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData],
      l.asInstanceOf[Int], rc, cb)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val rcRef = ctx.addReferenceObj("flooredCentroids", rc, "long[][]")
    val cbRef = ctx.addReferenceObj("codebooks", cb, "double[][][]")
    defineCodeGen(ctx, ev, (q, c, l) =>
      s"graft.operators.PqAdcResidualQ.adcJ($q, $c, $l, $rcRef, $cbRef)")
  }
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
                                                 t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

object PqAdcResidualQ {
  def adcJ(q: ArrayData, codes: ArrayData, listId: Int,
           rc: Array[Array[Long]], cb: Array[Array[Array[Double]]]): Double = {
    val rcl = rc(listId)
    val m = cb.length
    val dsub = cb(0)(0).length
    var s = 0.0
    var j = 0
    while (j < m) {
      val cen = cb(j)(codes.getInt(j))
      var t = 0.0
      var i = 0
      while (i < dsub) {
        val idx = j * dsub + i
        val qr = q.getLong(idx).toDouble - rcl(idx).toDouble
        val dd = qr - cen(i)
        t += dd * dd
        i += 1
      }
      s += t
      j += 1
    }
    s
  }
}
