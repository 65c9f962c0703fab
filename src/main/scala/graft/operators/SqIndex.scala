package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Scalar quantization (SQ8) — the third compression tier of the
  * vector store, next to IVF (pruning, IvfIndex) and PQ (subspace
  * codebooks, PqIndex). Each dimension is affinely mapped to one byte
  * using corpus-wide per-dimension min/max (the technique pgvector
  * 0.7 ships as `halfvec`/`bit` quantization and FAISS calls
  * ScalarQuantizer, reference: sql/05_vector_index.sql:3-6 builds the
  * equivalent lossy-index tier).
  *
  * 64-dim float32 (256 B) → 64 B codes (4×). Unlike PQ there is no
  * codebook training — the "model" is 2·dim values, so fit is a
  * single distributed min/max aggregate (map-side partial, 32·dim
  * tiny rows shuffled) and encode / approximate-distance are pure
  * per-row arithmetic inside whole-stage codegen.
  *
  * Everything before the exact rerank runs in INTEGER arithmetic over
  * the floor(x·10⁶) quantization ([[IvfIndex.quantize]]): ranges are
  * int64 min/max, a code is one integer division (round-half-up), and
  * the approximate distance is an exact integer sum of squared
  * 255-denominator numerators — order-free and bit-identical in any
  * engine, which is what lets the DuckDB oracle replay the whole
  * candidate cut ([[searchSummarySql]]). |q·255 − r_num| ≤ (mx−mn)/2
  * per dim (a code reconstructs its own bucket), so the summed
  * distance stays ≪ 2⁶³. Search reconstructs nothing: rerank×k
  * candidates by integer distance, then exact float L2 settles the
  * final order.
  */
object SqIndex {

  /** per-dimension quantized range; the entire "index model" */
  case class Model(mins: Array[Long], maxs: Array[Long]) {
    def dim: Int = mins.length
  }

  private val sqCache = new graft.SessionCache[String, Model](64, identity)

  /** One aggregate pass: posexplode to (dim, x), partial min/max
    * map-side, 32·dim rows to the driver. */
  def fit(emb: DataFrame, vecCol: String): Model = {
    val rows = emb
      .select(posexplode(IvfIndex.quantize(col(vecCol))).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      .collect()
    val dim = rows.length
    val mins = new Array[Long](dim)
    val maxs = new Array[Long](dim)
    rows.foreach { r => mins(r.getInt(0)) = r.getLong(1); maxs(r.getInt(0)) = r.getLong(2) }
    Model(mins, maxs)
  }

  def fitCached(spark: SparkSession, d: String): Model =
    sqCache.getOrElseUpdate(d)(fit(Tables.embeddings(spark, d), "embedding"))

  /** exact integer division of non-negatives: (n − n mod d) / d is an
    * integer ≤ 2⁵³, so the IEEE division is exact */
  private def intDiv(n: Column, d: Column): Column =
    ((n - n % d) / d).cast("long")

  /** float vector → array<int> byte codes: one round-half-up integer
    * division per dimension, c = ⌊(2·(q−mn)·255 + (mx−mn)) / (2·(mx−mn))⌋ */
  def encode(vec: Column, model: Model): Column = {
    val minsL = typedLit(model.mins)
    val maxsL = typedLit(model.maxs)
    val q = IvfIndex.quantize(vec)
    zip_with(
      zip_with(q, minsL, (x, mn) => x - mn),
      zip_with(maxsL, minsL, (mx, mn) => mx - mn),
      (dq, w) => when(w > 0,
        intDiv(dq * lit(510L) + w, w * lit(2L))).otherwise(lit(0L))
        .cast("int"))
  }

  /** exact integer approximate squared L2 (×255² and ×10¹²): the
    * query joins the code's reconstruction in 255-denominator
    * numerators, q·255 − (mn·255 + c·(mx−mn)) */
  def approxDistSq(codes: Column, model: Model, query: Array[Float]): Column = {
    val qq = typedLit(IvfIndex.quantizeQuery(query).map(q => q.toLong * 255L))
    val rBase = typedLit(model.mins.map(_ * 255L))
    val width = typedLit(model.maxs.zip(model.mins).map { case (mx, mn) => mx - mn })
    val rnum = zip_with(
      zip_with(codes.cast("array<long>"), width, (c, w) => c * w),
      rBase, (cw, b) => b + cw)
    val diffs = zip_with(qq, rnum, (a, b) => a - b)
    aggregate(diffs, lit(0L), (acc, x) => acc + x * x)
  }

  /** SQ scan + exact rerank: integer approximate distances order
    * rerank×k candidates, full-precision L2 settles the final top-k.
    * The scan uses the fused codegen'd kernel ([[SqApproxDist]]) —
    * encode + distance in one primitive loop; the composable
    * [[encode]]/[[approxDistSq]] column forms compute the identical
    * integers but run interpreted (HOFs are CodegenFallback). */
  def search(emb: DataFrame, vecCol: String, idCol: String, model: Model,
             query: Array[Float], topK: Int, rerank: Int = 4): DataFrame = {
    val qq255 = IvfIndex.quantizeQuery(query).map(q => q.toLong * 255L)
    val adist = org.apache.spark.sql.GraftBridge.column(
      SqApproxDist(org.apache.spark.sql.GraftBridge.expression(col(vecCol)),
        model.mins, model.maxs, qq255))
    val candidates = emb
      .select(col(idCol), col(vecCol), adist.as("adist"))
      .orderBy(col("adist").asc_nulls_last, col(idCol).asc)
      .limit(topK * rerank)
    candidates
      .select(col(idCol),
        round(graft.functions.vectors.l2_dist(col(vecCol), typedLit(query)), 6).as("score"))
      .orderBy(col("score").asc_nulls_last, col(idCol).asc)
      .limit(topK)
  }

  def searchSummary(spark: SparkSession, d: String, queryText: String,
                    topK: Int = 10): DataFrame = {
    val emb = Tables.embeddings(spark, d)
    val model = fitCached(spark, d)
    search(emb, "embedding", "vec_id", model,
      graft.functions.FakeEmbedder.embed(queryText), topK)
  }

  /** DuckDB twin of [[searchSummary]]: the min/max fit, the per-dim
    * integer code, the integer candidate distance (SUM of BIGINT —
    * order-free, so a plain aggregate replays it) and the exact
    * rerank. */
  def searchSummarySql(query: Array[Float], topK: Int = 10,
                       rerank: Int = 4, dim: Int = 64): String = {
    val qq = IvfIndex.quantizeQuery(query).map(q => (q.toLong * 255L).toString)
      .mkString("[", ",", "]")
    val qVec = query.map(f => f.toDouble.toString).mkString("[", ", ", "]")
    s"""WITH qt AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * ${IvfIndex.Scale}) AS BIGINT)) AS q
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |dimstat AS MATERIALIZED (
       |  SELECT d.i AS dim, MIN(q[d.i + 1]) AS mn, MAX(q[d.i + 1]) AS mx
       |  FROM qt CROSS JOIN (SELECT unnest(range($dim)) AS i) d GROUP BY 1),
       |terms AS MATERIALIZED (
       |  SELECT t.vec_id,
       |    CAST($qq AS BIGINT[])[s.dim + 1]
       |      - (s.mn * 255 + (CASE WHEN s.mx > s.mn
       |          THEN ((t.q[s.dim + 1] - s.mn) * 510 + (s.mx - s.mn)) // (2 * (s.mx - s.mn))
       |          ELSE 0 END) * (s.mx - s.mn)) AS dnum
       |  FROM qt t CROSS JOIN dimstat s),
       |cand AS MATERIALIZED (
       |  SELECT vec_id FROM (
       |    SELECT vec_id, SUM(dnum * dnum) AS adist FROM terms GROUP BY vec_id)
       |  ORDER BY adist ASC, vec_id LIMIT ${topK * rerank})
       |SELECT e.vec_id,
       |  round(list_distance(CAST(e.embedding AS DOUBLE[]), CAST($qVec AS DOUBLE[])), 6) AS score
       |FROM cand JOIN embeddings e USING (vec_id)
       |ORDER BY score ASC, vec_id LIMIT $topK""".stripMargin
  }
}

/** `sq_approx_dist(vec)` → exact integer approximate squared L2: the
  * fused quantize → encode → reconstruct → distance kernel of
  * [[SqIndex.search]]'s scan, one codegen'd primitive loop per row.
  * Arithmetic identical to the composable column forms (floor(x·10⁶)
  * quantization, round-half-up integer code, 255-denominator
  * numerators), so the DuckDB oracle is unchanged. */
case class SqApproxDist(child: org.apache.spark.sql.catalyst.expressions.Expression,
                        mins: Array[Long], maxs: Array[Long], qq255: Array[Long])
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression {
  import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.LongType
  override val nullIntolerant: Boolean = true
  override def prettyName: String = "sq_approx_dist"
  override def nullSafeEval(v: Any): Any =
    SqApproxDist.distJ(v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      mins, maxs, qq255)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val mn = ctx.addReferenceObj("sqMins", mins, "long[]")
    val mx = ctx.addReferenceObj("sqMaxs", maxs, "long[]")
    val qq = ctx.addReferenceObj("sqQq", qq255, "long[]")
    defineCodeGen(ctx, ev, a =>
      s"graft.operators.SqApproxDist.distJ($a, $mn, $mx, $qq)")
  }
  override protected def withNewChildInternal(
      c: org.apache.spark.sql.catalyst.expressions.Expression) = copy(child = c)
}

object SqApproxDist {
  /** static, codegen-callable */
  def distJ(a: org.apache.spark.sql.catalyst.util.ArrayData,
            mins: Array[Long], maxs: Array[Long], qq255: Array[Long]): Long = {
    val n = math.min(a.numElements(), mins.length)
    var s = 0L
    var i = 0
    while (i < n) {
      val q = math.floor(a.getFloat(i).toDouble * 1e6).toLong
      val w = maxs(i) - mins(i)
      val c = if (w > 0) ((q - mins(i)) * 510L + w) / (2L * w) else 0L
      val d = qq255(i) - (mins(i) * 255L + c * w)
      s += d * d
      i += 1
    }
    s
  }
}
