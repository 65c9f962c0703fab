package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import org.apache.spark.sql.GraftBridge
import graft.Tables

/** OPQ-style product quantization — PQ over a PERMUTED dimension
  * layout (the cheap, exactly-replayable member of the Optimized PQ
  * family: Ge et al., "Optimized Product Quantization", CVPR 2013
  * learn a full rotation; the public "dimension balancing" reduction
  * keeps only a permutation that equalizes subspace statistics, which
  * is a permutation matrix — the rotation's discrete special case).
  *
  * Why it helps at the same code budget: raw PQ slices dims
  * CONTIGUOUSLY, so a high-energy block of adjacent dimensions lands
  * in one subspace whose k codewords must cover far more spread than
  * the others — per-subspace k-means then wastes codewords where
  * there is little signal and starves where there is much. Ranking
  * dims by corpus energy and dealing them SNAKE-wise across the m
  * subspaces equalizes per-subspace energy, so every codebook spends
  * its k codewords on a comparable cell (reconstruction-error spec
  * vs raw PQ at identical (m, k)).
  *
  * Exactness contract: per-dim energy is an exact int64 `Σ q²` over
  * the quantized corpus (values ≤ n·10¹² — overflow-free into the
  * 10⁷-row range; beyond that a real deployment samples, which stays
  * deterministic under a hash filter), the rank order ties on dim id,
  * and the snake deal is integer arithmetic — so the permutation is a
  * deterministic function of the data that the DuckDB twin derives
  * INSIDE the oracle SQL ([[searchSummarySql]]), and everything
  * downstream reuses [[PqIndex]]'s already-exact training/encode/ADC
  * pipeline on the permuted int64 vectors. */
object OpqIndex {

  /** `perm(newPos) = oldDim`: dims ranked by exact corpus energy
    * (desc, dim tiebreak), snake-dealt into `m` subspaces, ascending
    * dim order within each subspace. */
  def permutation(spark: SparkSession, d: String, m: Int, dim: Int = 64): Array[Int] = {
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
    val energy = emb
      .select(posexplode(IvfIndex.quantize(col("embedding"))).as(Seq("dim", "x")))
      .groupBy(col("dim"))
      .agg(sum(col("x") * col("x")).as("e"))
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    require(energy.length == dim, s"expected $dim dims, got ${energy.length}")
    val ranked = energy.sortBy { case (d0, e) => (-e, d0) }.map(_._1)
    val bySub = Array.fill(m)(scala.collection.mutable.ArrayBuffer.empty[Int])
    ranked.zipWithIndex.foreach { case (d0, rk) =>
      val round = rk / m
      val pos = rk % m
      val j = if (round % 2 == 0) pos else m - 1 - pos
      bySub(j) += d0
    }
    bySub.flatMap(_.sorted).toArray
  }

  private val permCache = new graft.SessionCache[(String, Int), Array[Int]](64, _._1)
  private val modelCache = new graft.SessionCache[(String, Int, Int), PqIndex.Model](64, _._1)

  def permCached(spark: SparkSession, d: String, m: Int = 8): Array[Int] =
    permCache.getOrElseUpdate((d, m))(permutation(spark, d, m))

  private def permuteCol(q: org.apache.spark.sql.Column, perm: Array[Int]) =
    GraftBridge.column(PermuteVec(GraftBridge.expression(q), perm))

  /** codebooks trained on the permuted quantized corpus — same Lloyd
    * loop, same (m, k) budget as the raw-PQ baseline */
  def fitCached(spark: SparkSession, d: String, m: Int = 8, k: Int = 16,
                iters: Int = 4): PqIndex.Model =
    modelCache.getOrElseUpdate((d, m, k)) {
      val perm = permCached(spark, d, m)
      PqIndex.fitQuantized(
        Tables.embeddings(spark, d)
          .filter(col("embedding").isNotNull && size(col("embedding")) === perm.length)
          .select(col("vec_id").as("id"),
            permuteCol(IvfIndex.quantize(col("embedding")), perm).as("q")),
        perm.length, m, k, iters)
    }

  // encode once, serve many — the same lifecycle as PqIndex.codesCache
  private val codesCache = new graft.SessionCache[(String, Int, Int), DataFrame](
    8, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)

  /** ADC table over an already-permuted quantized query (the same
    * arithmetic as [[PqIndex.distanceTable]], which takes the raw
    * float query instead). */
  private def tableFor(model: PqIndex.Model, qp: Array[Double]): Array[Array[Double]] =
    Array.tabulate(model.m) { j =>
      Array.tabulate(model.k) { c =>
        val cen = model.codebooks(j)(c)
        var s = 0.0
        var i = 0
        while (i < cen.length) {
          val d = qp(j * model.dsub + i) - cen(i); s += d * d; i += 1
        }
        s
      }
    }

  /** v30: ADC search over the permuted codes + exact rerank in the
    * ORIGINAL space (permutations preserve L2, so only the code
    * domain is permuted; scores stay directly comparable to v12's). */
  def searchSummary(spark: SparkSession, d: String, queryText: String,
                    topK: Int = 10, m: Int = 8, k: Int = 16,
                    rerank: Int = 4): DataFrame = {
    val perm = permCached(spark, d, m)
    val model = fitCached(spark, d, m, k)
    val query = graft.functions.FakeEmbedder.embed(queryText)
    val codes = codesCache.getOrElseUpdate(spark, (d, m, k)) {
      Tables.embeddings(spark, d)
        .filter(col("embedding").isNotNull && size(col("embedding")) === perm.length)
        .select(col("vec_id"), col("embedding"),
          GraftBridge.column(PqEncode(GraftBridge.expression(
            permuteCol(IvfIndex.quantize(col("embedding")), perm)),
            model.codebooks)).as("codes"))
        .localCheckpoint(true)
    }
    val qq = IvfIndex.quantizeQuery(query)
    val qp = Array.tabulate(perm.length)(i => qq(perm(i)))
    val table = tableFor(model, qp)
    val candidates = codes
      .select(col("vec_id"), col("embedding"),
        PqIndex.adcColumn(col("codes"), table).as("adc"))
      .orderBy(col("adc").asc_nulls_last, col("vec_id").asc)
      .limit(topK * rerank)
    candidates
      .select(col("vec_id"),
        round(graft.functions.vectors.l2_dist(col("embedding"), typedLit(query)), 6).as("score"))
      .orderBy(col("score").asc_nulls_last, col("vec_id").asc)
      .limit(topK)
  }

  /** DuckDB twin: derives the SAME energy ranking, snake deal and
    * permutation map inside the SQL (`energy`/`rankd`/`posd`/
    * `permmap` CTEs), permutes the corpus AND the query literal with
    * it, then replays [[PqIndex.pqFitCtes]]'s training/encode, the
    * ADC cut and the exact rerank in the original space. */
  def searchSummarySql(query: Array[Float], m: Int = 8, k: Int = 16,
                       iters: Int = 4, topK: Int = 10, rerank: Int = 4,
                       dim: Int = 64): String = {
    val dsub = dim / m
    val qq = IvfIndex.quantizeQuery(query)
    val qVec = query.map(f => f.toDouble.toString).mkString("[", ", ", "]")
    val qqLit = qq.map(_.toString).mkString("[", ",", "]")
    def queryDist(c: String): String =
      (1 to dsub).map { i =>
        s"(qq.ql[a.j * $dsub + $i]-$c[$i])*(qq.ql[a.j * $dsub + $i]-$c[$i])"
      }.mkString(" + ")
    s"""WITH qt AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * ${IvfIndex.Scale}) AS BIGINT)) AS q
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $dim),
       |energy AS MATERIALIZED (
       |  SELECT d.i AS dim, CAST(SUM(q[d.i + 1] * q[d.i + 1]) AS BIGINT) AS e
       |  FROM qt CROSS JOIN (SELECT unnest(range($dim)) AS i) d GROUP BY 1),
       |rankd AS MATERIALIZED (
       |  SELECT dim, row_number() OVER (ORDER BY e DESC, dim) - 1 AS rk FROM energy),
       |assignd AS MATERIALIZED (
       |  SELECT dim,
       |    CASE WHEN (rk // $m) % 2 = 0 THEN rk % $m ELSE $m - 1 - (rk % $m) END AS j
       |  FROM rankd),
       |posd AS MATERIALIZED (
       |  SELECT dim, j, row_number() OVER (PARTITION BY j ORDER BY dim) - 1 AS pos
       |  FROM assignd),
       |permmap AS MATERIALIZED (
       |  SELECT dim AS old, j * $dsub + pos AS new FROM posd),
       |pqsrc AS MATERIALIZED (
       |  SELECT vec_id, list(q[p.old + 1] ORDER BY p.new) AS q
       |  FROM qt CROSS JOIN permmap p GROUP BY vec_id),
       |${PqIndex.pqFitCtes("pqsrc", m, k, iters, dim)},
       |qlit AS MATERIALIZED (
       |  SELECT list(q0.ql0[p.old + 1] ORDER BY p.new) AS ql
       |  FROM (SELECT CAST($qqLit AS DOUBLE[]) AS ql0) q0 CROSS JOIN permmap p),
       |adcterms AS MATERIALIZED (
       |  SELECT a.vec_id, a.j, ${queryDist("c.c")} AS term
       |  FROM af a JOIN cb$iters c ON a.j = c.j AND a.code = c.code
       |  CROSS JOIN qlit qq),
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

/** `permute_vec(q)` → array<long> with `out(i) = q(perm(i))` — the
  * fixed dimension permutation as a codegen'd kernel (the permutation
  * rides as a broadcast reference object). */
case class PermuteVec(child: Expression, perm: Array[Int])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override val nullIntolerant: Boolean = true
  override def prettyName: String = "permute_vec"
  override def nullSafeEval(v: Any): Any =
    PermuteVec.permJ(v.asInstanceOf[ArrayData], perm)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("perm", perm, "int[]")
    defineCodeGen(ctx, ev, q => s"graft.operators.PermuteVec.permJ($q, $ref)")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object PermuteVec {
  def permJ(q: ArrayData, perm: Array[Int]): ArrayData = {
    val out = new Array[Long](perm.length)
    var i = 0
    while (i < perm.length) { out(i) = q.getLong(perm(i)); i += 1 }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}
