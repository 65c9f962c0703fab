package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, Round, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, StructField, StructType}
import graft.Tables
import graft.functions.vectors

/** d9: SRP-banded embedding near-dup — the scale path for the genuine
  * near-dup regime (high cosine), where sign-random-projection LSH
  * (Charikar, STOC'02 — public algorithm) prunes instead of degrading
  * into all-pairs (see the τ analysis on [[Dedup.embeddingNearDup]]).
  *
  * Candidates only ever meet inside an (band, 8-bit-key) bucket —
  * 64 hyperplane bits in 8 bands of 8 — then exact cosine verifies.
  * Two properties make the whole pipeline ORACLE-CHECKABLE, not just
  * rows-only:
  *
  *  - the hyperplanes are fixed ±1 Rademacher vectors from a pinned
  *    seed, embedded verbatim in the generated DuckDB SQL;
  *  - each projection is computed over integer-quantized components
  *    (floor(x·10⁶) as int64), so the sign is a sum of integers —
  *    exact in both engines regardless of accumulation order. A
  *    float dot product near zero could flip its sign between
  *    engines; an integer one cannot.
  *
  * The reported pair set is therefore a deterministic function of the
  * data — identical in Spark and DuckDB by construction — while the
  * recall/precision behavior (the LSH S-curve) is spec-tested on
  * planted near-duplicates. */
/** `srp_band_keys(q)` → array<long> of [[SrpBanded.Bands]] band keys
  * from one codegen'd pass over the quantized components (see
  * [[SrpBanded.bandKeysJ]]). `dim` selects the hyperplane set — the
  * corpus tables use the default 64; parity fixtures run 768.
  * `rowsPerBand` is the key WIDTH in bits — the production scale lever
  * (see [[SrpBanded.rowsPerBandFor]]); the pinned default is what
  * every oracle replays. */
case class SrpBandKeysExpr(child: Expression, dim: Int = SrpBanded.Dim,
                           rowsPerBand: Int = SrpBanded.RowsPerBand)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override val nullIntolerant: Boolean = true
  override def prettyName: String = "srp_band_keys"
  override def nullSafeEval(v: Any): Any =
    SrpBanded.bandKeysJ(v.asInstanceOf[ArrayData], dim, rowsPerBand)
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, q => s"graft.operators.SrpBanded.bandKeysJ($q, $dim, $rowsPerBand)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** `hamming_distance(keys, q)` → int: Σ_b bit_count(keys[b] XOR q[b])
  * over the query's band keys. The query keys are held BY REFERENCE
  * (one `long[]` reference object), so the generated class is the same
  * for every query; a per-band `lit(q(b))` sum would inline each key
  * and compile new code per request. Null keys, a null element among
  * the first `q.length`, or fewer elements give null. */
case class HammingDistance(child: Expression, q: Array[Long]) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override val nullIntolerant: Boolean = true
  override def prettyName: String = "hamming_distance"
  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else {
      val d = HammingDistance.distanceJ(v.asInstanceOf[ArrayData], q)
      if (d < 0) null else d
    }
  }
  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qRef = ctx.addReferenceObj("qkeys", q, "long[]")
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      boolean ${ev.isNull} = ${c.isNull};
      int ${ev.value} = -1;
      if (!${ev.isNull}) {
        ${ev.value} = graft.operators.HammingDistance.distanceJ(${c.value}, $qRef);
        ${ev.isNull} = ${ev.value} < 0;
      }""")
  }
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object HammingDistance {
  /** codegen-callable kernel; -1 stands for a null result */
  def distanceJ(keys: ArrayData, q: Array[Long]): Int = {
    if (keys.numElements() < q.length) return -1
    var s = 0
    var b = 0
    while (b < q.length) {
      if (keys.isNullAt(b)) return -1
      s += java.lang.Long.bitCount(keys.getLong(b) ^ q(b))
      b += 1
    }
    s
  }

  /** Driver twin of [[distanceJ]] over a flat block of keys: the
    * `q.length` longs from `off`, all present. A row the kernel scores
    * null (null keys, a null element, too few keys) is marked as such
    * where its keys are flattened, [[graft.sources.CodeStore]]'s
    * image, and never reaches this. */
  def distanceLocal(keys: Array[Long], off: Int, q: Array[Long]): Int = {
    var s = 0
    var b = 0
    while (b < q.length) {
      s += java.lang.Long.bitCount(keys(off + b) ^ q(b))
      b += 1
    }
    s
  }
}

object SrpBanded {
  val Dim = 64
  val Bits = 64
  val Bands = 8
  val RowsPerBand: Int = Bits / Bands

  /** Production keyspace policy: the narrowest key width (bits per
    * band) that keeps EXPECTED bucket occupancy N/2^rpb at or below
    * [[TargetBucketOccupancy]], floored at the pinned oracle default.
    * Keyspace ∝ N ⇒ per-bucket row count ~constant ⇒ the batched
    * serve's seed-pool term (probed-bucket occupancy × probe count)
    * stops growing linearly with the corpus — the one serve-side term
    * the SeedBudget cannot cap, because it is READ cost, not scoring
    * cost. The default stays pinned so every oracle replays the same
    * 8-bit keys; deployments (and the scale bench) pick the width at
    * store-build time from the corpus row count. */
  val TargetBucketOccupancy = 64
  def rowsPerBandFor(n: Long): Int = {
    var rpb = RowsPerBand
    while (rpb < 24 && (n >> rpb) > TargetBucketOccupancy) rpb += 1
    rpb
  }

  // pinned seed → the same hyperplanes in every session and in the
  // SQL; one set per (dimensionality, plane count). The 64-plane set
  // is what the corpus oracles embed as literals — signsFor(64) must
  // keep generating it bit-for-bit. Wider keyspaces draw MORE planes
  // from the same seeded stream (Array.fill is row-major, so the
  // first 64 planes of a wider set are the oracle set verbatim).
  private val signsCache =
    scala.collection.concurrent.TrieMap.empty[(Int, Int), Array[Array[Int]]]
  private[graft] def signsFor(dim: Int, bits: Int): Array[Array[Int]] =
    signsCache.getOrElseUpdate((dim, bits), {
      val rng = new scala.util.Random(20260812L)
      Array.fill(bits, dim)(if (rng.nextBoolean()) 1 else -1)
    })
  private[graft] def signsFor(dim: Int): Array[Array[Int]] = signsFor(dim, Bits)
  private[graft] def signs: Array[Array[Int]] = signsFor(Dim)

  /** Integer-quantized component array: exact in both engines (the
    * codegen'd [[graft.functions.QuantizeVec]] kernel, same floor(x·10⁶)
    * arithmetic as the HOF form it replaced). */
  private def quantized(emb: Column): Column =
    org.apache.spark.sql.GraftBridge.column(
      graft.functions.QuantizeVec(org.apache.spark.sql.GraftBridge.expression(emb)))

  /** Codegen-callable kernel: 64 integer hyperplane dots → 8 band
    * keys in one tight primitive loop (the per-bit HOF-lambda form
    * costs ~Dim·Bits interpreted closure calls per row). Same math
    * as [[srpBandedNearDupSql]]'s generated SQL, verified by the
    * oracle compare. */
  def bandKeysJ(q: ArrayData): ArrayData = bandKeysJ(q, Dim)

  def bandKeysJ(q: ArrayData, dim: Int): ArrayData = bandKeysJ(q, dim, RowsPerBand)

  def bandKeysJ(q: ArrayData, dim: Int, rowsPerBand: Int): ArrayData = {
    val sg = signsFor(dim, Bands * rowsPerBand)
    val n = math.min(dim, q.numElements())
    val keys = new Array[Long](Bands)
    var b = 0
    while (b < Bands) {
      var key = 0L
      var k = 0
      while (k < rowsPerBand) {
        val row = sg(b * rowsPerBand + k)
        var dot = 0L
        var j = 0
        while (j < n) { dot += q.getLong(j) * row(j); j += 1 }
        if (dot >= 0) key |= (1L << k)
        k += 1
      }
      keys(b) = key
      b += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(keys)
  }

  def srpBandedNearDup(spark: SparkSession, d: String, tau: Double = 0.35,
                       dim: Int = Dim): DataFrame = {
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === dim)
      .select(col("vec_id"), col("embedding"))
    val qt = emb.select(col("vec_id"), quantized(col("embedding")).as("q"))
    // only (vec_id, band, key) rides the candidate shuffle
    val keysCol = org.apache.spark.sql.GraftBridge.column(
      SrpBandKeysExpr(org.apache.spark.sql.GraftBridge.expression(col("q")), dim))
    val banded = qt.select(col("vec_id"),
      posexplode(keysCol).as(Seq("band", "bk")))
    val a = banded.select(col("band"), col("bk"), col("vec_id").as("id_a"))
    val b = banded.select(col("band"), col("bk"), col("vec_id").as("id_b"))
    val cand = a.join(b, Seq("band", "bk"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    cand
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("emb_a")), Seq("id_a"))
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("emb_b")), Seq("id_b"))
      .filter(vectors.cosine_sim(col("emb_a"), col("emb_b")) >= tau)
      .select(col("id_a"), col("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  // ---------------------------------------------------------------
  // Shared oracle CTE builders. Every SRP-family DuckDB twin starts
  // from the same banding and (for the graph ops) the same band-
  // collision graph — ONE text source each, so a quantization or
  // graph-build tweak cannot silently diverge between oracles.
  // ---------------------------------------------------------------

  /** `qt` (int64-quantized, Dim-filtered corpus) + `bands` (the 8
    * band keys per vector, pinned hyperplanes as list literals).
    * list_dot_product over int64-quantized lists stays exact (values
    * ≪ 2^53, integer-valued doubles), so the keys agree bit-for-bit
    * with the codegen'd kernel. */
  private[graft] def srpBandsCtes: String = {
    def keySql(b: Int): String =
      (0 until RowsPerBand).map { k =>
        val planes = signs(b * RowsPerBand + k).mkString("[", ",", "]")
        s"(CASE WHEN list_dot_product(q, $planes) >= 0 THEN 1 ELSE 0 END) * ${1 << k}"
      }.mkString(" + ")
    val bandSelects = (0 until Bands).map { b =>
      s"SELECT vec_id, $b AS band, ${keySql(b)} AS bk FROM qt"
    }.mkString("\nUNION ALL\n")
    s"""qt AS MATERIALIZED (
       |  SELECT vec_id,
       |    list_transform(CAST(embedding AS DOUBLE[]), x -> CAST(floor(x * 1000000) AS BIGINT)) AS q
       |  FROM embeddings WHERE embedding IS NOT NULL AND len(embedding) = $Dim),
       |bands AS MATERIALIZED (
       |$bandSelects)""".stripMargin
  }

  /** `e` (double vectors), `cand0` (band-collision pairs), `gscored`
    * (exact cosine), `granked` (per-src rank), `graph` (top-graphK
    * edges) — the v18 build every graph oracle shares. */
  private[graft] def rawGraphCtes(graphK: Int): String =
    s"""e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |bcap AS MATERIALIZED (
       |  SELECT band, bk, vec_id FROM (
       |    SELECT band, bk, vec_id,
       |      row_number() OVER (PARTITION BY band, bk ORDER BY vec_id) AS bi
       |    FROM bands) WHERE bi <= $BucketCap),
       |cand0 AS MATERIALIZED (
       |  SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
       |  FROM bands a JOIN bcap b ON a.band = b.band AND a.bk = b.bk AND a.vec_id <> b.vec_id),
       |gscored AS MATERIALIZED (
       |  SELECT c.src, c.dst, list_cosine_similarity(s.v, t.v) AS sim
       |  FROM cand0 c JOIN e s ON c.src = s.vec_id JOIN e t ON c.dst = t.vec_id),
       |granked AS MATERIALIZED (
       |  SELECT src, dst, sim,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INTEGER) AS rk
       |  FROM gscored),
       |graph AS MATERIALIZED (SELECT src, dst FROM granked WHERE rk <= $graphK)""".stripMargin

  /** NN-Descent refinement rounds over `$start`: each round expands
    * the undirected graph to neighbors-of-neighbors, rescores, keeps
    * the top `workK` per source (`g1 … g$rounds`). */
  private def refineCtes(rounds: Int, workK: Int, start: String): String =
    (1 to rounds).map { r =>
      val prev = if (r == 1) start else s"g${r - 1}"
      // reverse edges sampled to workK per node by the same integer
      // hash rank the Spark path uses (Dong §2.3 ρ-sampling) —
      // operands reduced mod P before the multiply, pmod semantics on
      // both engines, so the rank is overflow-free and engine-identical
      s"""und$r AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT src, dst FROM $prev
         |    UNION ALL
         |    SELECT src, dst FROM (SELECT dst AS src, src AS dst FROM $prev)
         |    QUALIFY row_number() OVER (
         |      PARTITION BY src ORDER BY
         |        (((src % 1000000007 + 1000000007) % 1000000007) * 1000003
         |          + ((dst % 1000000007 + 1000000007) % 1000000007)) % 1000000007, dst) <= $workK)),
         |cand$r AS MATERIALIZED (
         |  SELECT DISTINCT src, dst FROM (
         |    SELECT x.src, y.dst FROM und$r x JOIN und$r y ON x.dst = y.src WHERE x.src <> y.dst
         |    UNION ALL SELECT src, dst FROM und$r)),
         |rs$r AS MATERIALIZED (
         |  SELECT c.src, c.dst, list_cosine_similarity(s.v, t.v) AS sim
         |  FROM cand$r c JOIN e s ON c.src = s.vec_id JOIN e t ON c.dst = t.vec_id),
         |g$r AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rk
         |    FROM rs$r) WHERE rk <= $workK)""".stripMargin
    }.mkString(",\n")

  /** The single-query probe + beam stages over an edge CTE
    * `$graphCte`: `qscore`/`probe`/`pool`/`f0s`/`f0`, the unrolled
    * hops, and the final ranked SELECT. Returned WITHOUT a leading
    * comma — append after the graph CTEs. */
  /** `qv`/`qscore` — the exact query-vs-corpus scores every serve
    * oracle reads from (shared with [[Hnsw]]'s descent CTEs). */
  private[graft] def qscoreSql(queryVecSql: String): String =
    s"""qv AS (SELECT CAST($queryVecSql AS DOUBLE[]) AS v),
       |qscore AS (
       |  SELECT e.vec_id, list_cosine_similarity(e.v, qv.v) AS sim FROM e, qv
       |  WHERE e.vec_id IN (SELECT vec_id FROM qt))""".stripMargin

  /** The beam hops + final ranked SELECT over an edge CTE `$graphCte`,
    * starting from existing `f0`/`f0s`/`qscore` CTEs — the part of the
    * serve tail that doesn't care HOW the seed pool was found (LSH
    * multi-probe here, hierarchical descent in [[Hnsw]]). */
  private[graft] def beamHopsSql(k: Int, beam: Int, iters: Int,
                                 graphCte: String): String = {
    val hops = (1 to iters).map { i =>
      val prevF = if (i == 1) "f0" else s"f${i - 1}"
      val prevV = if (i == 1) "f0s" else s"v${i - 1}"
      s"""c$i AS (
         |  SELECT DISTINCT vec_id FROM (
         |    SELECT vec_id FROM $prevF
         |    UNION ALL
         |    SELECT g.dst AS vec_id FROM $prevF f JOIN $graphCte g ON g.src = f.vec_id)),
         |c${i}s AS (SELECT c.vec_id, s.sim FROM c$i c JOIN qscore s USING (vec_id)),
         |v$i AS (SELECT DISTINCT vec_id, sim FROM (
         |  SELECT * FROM $prevV UNION ALL SELECT * FROM c${i}s)),
         |f$i AS (SELECT vec_id FROM c${i}s ORDER BY sim DESC, vec_id LIMIT $beam)""".stripMargin
    }.mkString(",\n")
    s"""$hops
       |SELECT vec_id, CAST(rk AS INTEGER) AS rk, round(sim, 6) AS sim FROM (
       |  SELECT vec_id, sim, row_number() OVER (ORDER BY sim DESC, vec_id) AS rk
       |  FROM v$iters)
       |WHERE rk <= $k ORDER BY rk""".stripMargin
  }

  private def searchTailSql(queryVecSql: String, probeKeys: Seq[(Int, Long)],
                            k: Int, beam: Int, iters: Int, maxEntries: Int,
                            graphCte: String): String = {
    val probeValues = probeKeys.map { case (b, bk) => s"($b, $bk)" }.mkString(", ")
    s"""${qscoreSql(queryVecSql)},
       |probe(band, bk) AS (VALUES $probeValues),
       |pool AS (
       |  SELECT DISTINCT b.vec_id FROM bands b
       |  JOIN probe p ON b.band = p.band AND b.bk = p.bk),
       |f0s AS (
       |  SELECT pl.vec_id, s.sim FROM pool pl JOIN qscore s USING (vec_id)
       |  ORDER BY sim DESC, vec_id LIMIT $maxEntries),
       |f0 AS (SELECT vec_id FROM f0s),
       |${beamHopsSql(k, beam, iters, graphCte)}""".stripMargin
  }

  /** DuckDB twin of [[srpBandedNearDup]]: banded collision pairs,
    * exact-cosine verified at `tau`. */
  def srpBandedNearDupSql(tau: Double = 0.35): String =
    s"""WITH $srpBandsCtes,
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bk = b.bk AND a.vec_id < b.vec_id),
       |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
       |SELECT c.id_a, c.id_b
       |FROM cand c JOIN e a ON c.id_a = a.vec_id JOIN e b ON c.id_b = b.vec_id
       |WHERE list_cosine_similarity(a.v, b.v) >= $tau
       |ORDER BY id_a, id_b""".stripMargin

  /** v18: approximate k-NN GRAPH construction — every vector's k
    * nearest neighbors among its SRP band collisions (the candidate
    * generator NN-Descent-style graph pipelines start from; Dong et
    * al., WWW'11 is the public reference). Same scale shape as d9:
    * candidates only meet inside a band bucket, exact cosine scores
    * only candidate pairs, and the per-source top-k is a window over
    * the candidate set (WindowGroupLimit keeps k per partition before
    * the shuffle). Deterministic banding (pinned integer hyperplanes)
    * makes the WHOLE approximate pipeline oracle-checkable — the
    * DuckDB twin replicates the bands, so the reported graph matches
    * bit-for-bit; recall vs the exact graph is spec-tested. */
  def knnGraph(spark: SparkSession, d: String, k: Int = 5): DataFrame = {
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"), col("embedding"))
    // bandedOf keeps the embedding in-row, so rankedEdges scores the
    // src side straight off the banded scan — no corpus join
    knnGraphFromBanded(spark, d, bandedOf(emb), k)
  }

  /** The graph build over any `(vec_id, band, bk)` banding — computed
    * in-memory by [[knnGraph]] (v18) or read pruned from the persisted
    * [[graft.sources.SrpStore]] (v23, where the per-row hashing was
    * paid once at write time). Same candidates → same graph. */
  private[graft] def knnGraphFromBanded(spark: SparkSession, d: String,
                                        banded: DataFrame, k: Int): DataFrame =
    rankedEdges(spark, d, banded, k)
      .select(col("src"), col("dst"), col("rk"), round(col("sim"), 6).as("sim"))
      .orderBy(col("src"), col("rk"))

  /** The same top-k edges KEEPING the destination embedding in-row —
    * what the serve-time edge artifacts store, so hop/step scoring
    * reads embeddings from the edge rows it already fetched instead
    * of joining the full corpus per hop (the 100×-scale fix: a walk
    * step is a pruned point read, never a corpus scan). The embedding
    * was already present in the build's scoring join; keeping it
    * through the window costs nothing extra. */
  private[graft] def knnGraphWithEmb(spark: SparkSession, d: String,
                                     banded: DataFrame, k: Int): DataFrame =
    rankedEdges(spark, d, banded, k)
      .select(col("src"), col("dst"), col("emb_d").as("dst_emb"))

  /** Per-bucket candidate cap for the graph BUILD: each (band, bk)
    * bucket contributes at most this many DESTINATION candidates (the
    * lowest vec_ids — deterministic, replayed verbatim in the oracle).
    * Without it the banded self-join is quadratic in bucket size —
    * ~1.25B candidate pairs at 200k rows with 8-bit keys (measured:
    * the 100× scale-step build OOMs) — the same degenerate-bucket
    * failure d2/d3 already cap. With it the build is ≤ N·Bands·cap
    * pairs, linear in the corpus at ANY bucket skew; a capped bucket
    * is by construction a near-collision cluster, so the kept 64 are
    * interchangeable seeds and the NN-Descent refinement (v21/v25)
    * recovers any edge the cap cost. Never binds at the test SFs
    * (max bucket ≈ 8 rows at sf0.1), so test-scale outputs are
    * bit-identical with or without it — but the oracle mirrors the
    * cut anyway, keeping both engines aligned at every SF. */
  val BucketCap = 64

  private def rankedEdges(spark: SparkSession, d: String,
                          banded: DataFrame, k: Int): DataFrame = {
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"), col("embedding"))
    // cap via a bounded top-k aggregate, not a window: row_number over
    // (band, bk) shuffled EVERY banded row through an extra exchange
    // (+0.3 s on v23 at sf0.1, and O(N·Bands) shuffle rows at scale).
    // The aggregate's partial stage caps map-side — ≤ cap ids per
    // bucket per map partition ride the shuffle however degenerate a
    // bucket gets. Kept set is identical to the uncapped build at test
    // SFs: the cap smallest dst per bucket (score = dst, ties on id —
    // i.e. dst order even where the double cast collapses above 2^53).
    //
    // The capped set is ≤ Bands·2^RowsPerBand·BucketCap = 131k rows AT
    // ANY CORPUS SIZE — bounded by construction, so it broadcasts
    // (with dst embeddings attached on the tiny exploded set, ~36 MB).
    // Candidate generation + exact scoring is then a broadcast-hash
    // join projected straight to (src, dst, sim): ZERO pair-sized
    // shuffles. The former plan shipped the O(N·Bands·cap) candidate
    // pairs through a distinct THEN through two corpus-sized embedding
    // joins (3 pair-sized exchanges — 102M rows each at the 100×
    // step); now only the dedup+rank exchange ever carries pairs.
    val bCap = banded.select(col("band"), col("bk"), col("vec_id").as("dst"))
      .groupBy(col("band"), col("bk"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        col("dst"), col("dst").cast("double"), BucketCap, asc = true).as("__tk"))
      .select(col("band"), col("bk"),
        explode(col("__tk").getField("neighbor_id")).as("dst"))
    val b = broadcast(bCap)
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("emb_d")),
        Seq("dst"))
    // src embeddings ride the banded rows: in-row when the caller's
    // banding kept them (bandedOf — v18/materializedGraph), else one
    // N·Bands-row join (v23's compact 12 B/row artifact) — never a
    // candidate-pair-sized join
    val a =
      if (banded.columns.contains("embedding"))
        banded.select(col("band"), col("bk"), col("vec_id").as("src"),
          col("embedding").as("emb_s"))
      else banded.select(col("band"), col("bk"), col("vec_id").as("src"))
        .join(emb.select(col("vec_id").as("src"), col("embedding").as("emb_s")),
          Seq("src"))
    val cand = a.join(broadcast(b), Seq("band", "bk"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        vectors.cosine_sim(col("emb_s"), col("emb_d")).as("sim"))
    // multi-band duplicates of a pair carry bit-identical sims (same
    // expression over the same floats), so the (src, dst) dedup + the
    // per-src (sim DESC, dst) rank collapse into ONE distinct-top-k
    // AGGREGATE (r10: replaces the dedup+rank windows). The windows
    // shuffled and sorted EVERY candidate pair — ~2B rows into 32
    // post-shuffle sorts at the 1000× decade, a 30-minute spilling
    // stage; the aggregate's partial stage caps map-side, so the
    // exchange carries ≤ k rows per src per map partition (N·k-ish)
    // and nothing ever sorts the pair set. Same ordering contract as
    // `row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst)`:
    // best = (higher sim, lower dst), rank = position in the buffer's
    // best-first output. dst embeddings for the output re-attach on
    // the N·k result rows, not the candidate set.
    // BEHAVIOR NOTE vs the replaced window: TopKBuffer EXCLUDES NaN
    // scores, where `ORDER BY sim DESC` sorted NaN as the greatest
    // double and would have admitted (even topped) such edges. For
    // THIS pipeline the cases coincide: cosine_sim maps zero-norm
    // vectors to 0.0 (never NaN — VectorExpressions kernel, property-
    // tested), so no candidate here can carry NaN; the buffer's drop
    // is a defensive invariant, not a reachable divergence. A caller
    // feeding the aggregate a score column that CAN be NaN gets
    // exclusion, not NaN-first — by design.
    cand.groupBy(col("src"))
      .agg(graft.functions.TopKPairs.top_k_pairs_distinct(
        col("dst"), col("sim"), k).as("__tk"))
      .select(col("src"), posexplode(col("__tk")).as(Seq("__pos", "__e")))
      .select(col("src"),
        col("__e").getField("neighbor_id").as("dst"),
        col("__e").getField("score").as("sim"),
        (col("__pos") + 1).cast("int").as("rk"))
      .join(emb.select(col("vec_id").as("dst"), col("embedding").as("emb_d")),
        Seq("dst"))
      .select(col("src"), col("dst"), col("emb_d"), col("sim"), col("rk"))
  }

  /** DuckDB twin: same pinned hyperplanes → same candidate set → same
    * graph. Ranking floats are the identical IEEE cosine values in
    * both engines (verified by d9's threshold compare), ties broken
    * on dst. */
  def knnGraphSql(k: Int = 5): String =
    s"""WITH $srpBandsCtes,
       |${rawGraphCtes(k)}
       |SELECT src, dst, rk, round(sim, 6) AS sim
       |FROM granked WHERE rk <= $k ORDER BY src, rk""".stripMargin

  /** v21: one NN-Descent refinement round over the v18 graph (Dong,
    * Moses & Li, "Efficient k-nearest neighbor graph construction for
    * generic similarity measures", WWW'11 — public algorithm). The
    * principle: if b is near a and c is near b, c is probably near a —
    * so each node rescans its neighbors-of-neighbors (over the
    * UNDIRECTED current graph, i.e. forward + reverse edges) and keeps
    * the best k. One round repairs most LSH misses: band collisions
    * give a high-recall-but-imperfect G₀, and a missed true neighbor
    * is usually adjacent to a found one.
    *
    * Scale shape: candidates are two self-equi-joins of the edge list
    * (n·k² rows with k = graphK, the standard NN-Descent budget — no
    * corpus×corpus term anywhere); exact cosine scores only candidate
    * pairs; per-source top-k is the same bounded window v18 uses.
    * Deterministic (exact scores over a deterministic G₀, ties on
    * dst), so the DuckDB twin replays it bit-for-bit. */
  def nnDescentGraph(spark: SparkSession, d: String, k: Int = 5,
                     graphK: Int = 5, rounds: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"), col("embedding"))
    val w = Window.partitionBy(col("src"))
      .orderBy(col("sim").desc, col("dst"))
    // refine at DOUBLE the output degree (standard NN-Descent move:
    // a low-degree graph mixes too slowly on unclustered data), emit
    // the top k at the end
    val workK = 2 * k
    // refined edges are built once per (d, params) and cached like the
    // v18 graph — graph construction is offline, serving reuses it.
    // Cached WITH their sims: every round's survivors were scored to
    // be ranked, so the final top-k needs no re-scoring join.
    val g = refinedCache.getOrElseUpdate(spark, (d, k, graphK, rounds)) {
      var cur = materializedGraph(spark, d, graphK).select(col("src"), col("dst"))
      var curScored: DataFrame = null
      (1 to rounds).foreach { r =>
        // reverse-degree cap (Dong et al. WWW'11 §2.3's ρ-sampling,
        // here at ρ·K = workK): forward degree is bounded by the
        // top-workK cut, but a hub vector collected as a neighbor by
        // thousands of sources would re-enter with unbounded degree
        // through the reverse direction, making the neighborhood
        // pair expansion quadratic in its in-degree on skewed
        // corpora. Keep only workK reverse neighbors per node, ranked
        // by a deterministic integer hash (replayed verbatim in the
        // DuckDB twin) so the sample is pseudo-random yet engine-
        // exact. The cut is the bounded top-k aggregate, not a rank
        // window (r11): same (hash asc, dst) order — hash values are
        // exact integers < 2^30 in a double, ties break on lower id —
        // but partial buffers cap map-side and nothing sorts the
        // reversed edge list.
        // operands reduced mod P BEFORE the multiply so the hash never
        // overflows Int64 (pmod(src,P) < 2^30, ×1000003 < 2^50) — and
        // is therefore engine-identical at any id range (the DuckDB
        // twin in refineCtes spells the same reduced form). For ids
        // where src*1000003+dst fits, this equals the unreduced hash
        // mod P, so small-corpus graphs are unchanged.
        val revHash = pmod(pmod(col("src"), lit(1000000007L)) * lit(1000003L) +
          pmod(col("dst"), lit(1000000007L)), lit(1000000007L))
        // repartition on the reversed src before aggregating: the
        // reversed roles scatter every group key across all input
        // partitions, so a map-side partial would hold ~N live
        // buffers per task; pinning the partitioning first keeps
        // aggregate state partition-local (N/partitions groups) for
        // the cost of one ids-only exchange
        val revSampled = cur.select(col("dst").as("src"), col("src").as("dst"))
          .repartition(col("src"))
          .groupBy(col("src"))
          .agg(graft.functions.TopKPairs.top_k_pairs(
            col("dst"), revHash.cast("double"), workK, asc = true).as("__tk"))
          .select(col("src"),
            explode(col("__tk").getField("neighbor_id")).as("dst"))
        val und = cur.union(revSampled).distinct()
        // candidate generation + scoring fused PER PIVOT (r11 — the
        // standard distributed-NNDescent shape: score inside each
        // node's neighborhood). The former spelling materialized the
        // two-hop pair list (≤ N·(2·workK)² rows), distinct'd it, and
        // joined it against the corpus TWICE to attach embeddings —
        // at the 1000× decade that second join shuffles the pair set
        // with an embedding on every row (~100 GB) and the rank
        // window then sorts it. Here each und edge (s, w) contributes
        // its src to pivot w's in-list and its dst to pivot s's
        // out-list, embeddings attach to the N·2·workK EDGE rows
        // (never to pairs), and the pivot equi-join emits each
        // two-hop pair (x.src → y.dst) already scored — the pair set
        // exists only streaming inside the join, never in a shuffle.
        // Self in-rows (pivot u, id u) make the und edges themselves
        // emit as (u → v) pairs, so emitted = hop2 ∪ und exactly,
        // modulo duplicates from shared pivots — which carry
        // bit-identical sims (same kernel over the same floats) and
        // collapse in the distinct top-k aggregate, the same
        // `row_number() <= workK over DISTINCT pairs` contract the
        // replaced distinct()+window computed (and the DuckDB twin
        // still replays).
        val embA = emb.select(col("vec_id").as("id"), col("embedding").as("emb"))
        val eIn = und.select(col("dst").as("pivot"), col("src").as("id"))
          .join(embA, Seq("id"))
          .select(col("pivot"), col("id"), col("emb"))
        val selfIn = und.select(col("src").as("id")).distinct()
          .join(embA, Seq("id"))
          .select(col("id").as("pivot"), col("id"), col("emb"))
        val eOut = und.select(col("src").as("pivot"), col("dst").as("id"))
          .join(embA, Seq("id"))
          .select(col("pivot"), col("id"), col("emb"))
        val scored = eIn.unionByName(selfIn).toDF("pivot", "src", "emb_s")
          .join(eOut.toDF("pivot", "dst", "emb_d"), Seq("pivot"))
          .filter(col("src") =!= col("dst"))
          .select(col("src"), col("dst"),
            vectors.cosine_sim(col("emb_s"), col("emb_d")).as("sim"))
        // same partition-local-state discipline: the pivot join's
        // output is pivot-partitioned, so src groups span every task
        val next = scored.repartition(col("src"))
          .groupBy(col("src"))
          .agg(graft.functions.TopKPairs.top_k_pairs_distinct(
            col("dst"), col("sim"), workK).as("__tk"))
          .select(col("src"), explode(col("__tk")).as("__e"))
          .select(col("src"),
            col("__e").getField("neighbor_id").as("dst"),
            col("__e").getField("score").as("sim"))
        // each round's graph feeds n·k² candidates to the next — break
        // lineage so round r+1 doesn't replay rounds 1..r, and release
        // the previous round's blocks once the new checkpoint is live
        // (localCheckpoint is eager). Round 1's `cur` is the shared
        // materializedGraph — never unpersist that one.
        val prev = cur
        curScored = next.localCheckpoint(true)
        cur = curScored.select(col("src"), col("dst"))
        if (r > 1) org.apache.spark.sql.GraftBridge.unpersistPlanRdds(prev)
      }
      curScored
    }
    // final cut over the pre-scored workK survivors — N·2k rows, no
    // corpus join (the sims are the very values each round ranked on)
    g.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("src"), col("dst"), col("rk"), round(col("sim"), 6).as("sim"))
      .orderBy(col("src"), col("rk"))
  }

  /** DuckDB twin: [[knnGraphSql]]'s graph CTEs + the same undirected
    * two-hop candidate expansion and re-rank, unrolled per round. */
  def nnDescentGraphSql(k: Int = 5, graphK: Int = 5, rounds: Int = 3): String =
    s"""WITH $srpBandsCtes,
       |${rawGraphCtes(graphK)},
       |${refineCtes(rounds, 2 * k, start = "graph")},
       |final_scored AS MATERIALIZED (
       |  SELECT c.src, c.dst, list_cosine_similarity(s.v, t.v) AS sim
       |  FROM g$rounds c JOIN e s ON c.src = s.vec_id JOIN e t ON c.dst = t.vec_id)
       |SELECT src, dst, rk, round(sim, 6) AS sim FROM (
       |  SELECT src, dst, sim,
       |    CAST(row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS INTEGER) AS rk
       |  FROM final_scored) WHERE rk <= $k ORDER BY src, rk""".stripMargin

  // v21's refined edge lists, cached with the same lifecycle as the
  // v18 graph below
  private val refinedCache = new graft.SessionCache[(String, Int, Int, Int), DataFrame](
    8, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)

  // the search graph is the expensive part — build it once per
  // (dir, k) and serve every query from the checkpointed edges
  private val graphCache = new graft.SessionCache[(String, Int), DataFrame](
    8, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)
  /** The checkpointed serve-time edge table: (src, dst, dst_emb) —
    * destination embeddings ride IN the edge rows (the HNSW-paper
    * layout: vectors live with the graph), so serve-path hop scoring
    * never joins back to the corpus. Build paths that want bare edges
    * select (src, dst). */
  def materializedGraph(spark: SparkSession, d: String, k: Int): DataFrame =
    graphCache.getOrElseUpdate(spark, (d, k)) {
      val emb = Tables.embeddings(spark, d)
        .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
        .select(col("vec_id"), col("embedding"))
      // keep the embedding column: rankedEdges scores src from the
      // banded rows in-row — no corpus join on the a-side at all
      knnGraphWithEmb(spark, d, bandedOf(emb), k)
        .localCheckpoint(true)
    }

  /** Driver-side twin of [[bandKeysJ]] for a query vector — the same
    * integer-quantized hyperplane signs, so a query lands in exactly
    * the buckets its equal corpus vector would. */
  def queryBandKeys(queryVec: Array[Float], dim: Int = Dim): Seq[(Int, Long)] =
    queryBandKeys(queryVec, dim, RowsPerBand)

  def queryBandKeys(queryVec: Array[Float], dim: Int,
                    rowsPerBand: Int): Seq[(Int, Long)] = {
    val sg = signsFor(dim, Bands * rowsPerBand)
    val q = queryVec.take(dim).map(x => math.floor(x * 1e6).toLong)
    (0 until Bands).map { b =>
      var key = 0L
      var k = 0
      while (k < rowsPerBand) {
        val row = sg(b * rowsPerBand + k)
        var dot = 0L
        var j = 0
        while (j < q.length) { dot += q(j) * row(j); j += 1 }
        if (dot >= 0) key |= (1L << k)
        k += 1
      }
      (b, key)
    }
  }

  /** XOR masks within Hamming distance `radius` of 0 over a band key —
    * the multi-probe expansion set, shared by the per-query driver
    * path ([[queryProbeKeys]]) and the batched set-based path
    * ([[graphSearchBatch]] explodes them as a literal column). */
  private[graft] def probeFlips(radius: Int): Seq[Long] = probeFlips(radius, RowsPerBand)

  private[graft] def probeFlips(radius: Int, rowsPerBand: Int): Seq[Long] = {
    require(radius >= 0 && radius <= rowsPerBand,
      s"probeRadius must be in [0, $rowsPerBand], got $radius")
    (0 to radius).flatMap(r =>
      (0 until rowsPerBand).combinations(r)
        .map(_.foldLeft(0L)((m, i) => m | (1L << i)))
        .toSeq)
  }

  /** Multi-probe key set (Lv et al., VLDB'07 — public): for each band,
    * the query's exact key plus every key within Hamming distance
    * `radius` of it. A near-neighbor whose SRP bits disagree with the
    * query's in ≤ radius positions of SOME band still lands in a
    * probed bucket, so the seed pool covers the true neighborhood even
    * when exact-key collisions are rare (a low-similarity query on a
    * random corpus collides exactly in a band with prob ~2^-RowsPerBand).
    * Deterministic, sorted — interpolated verbatim into the oracle SQL. */
  def queryProbeKeys(queryVec: Array[Float], radius: Int = 2): Seq[(Int, Long)] =
    queryProbeKeys(queryVec, radius, RowsPerBand)

  def queryProbeKeys(queryVec: Array[Float], radius: Int,
                     rowsPerBand: Int): Seq[(Int, Long)] = {
    val exact = queryBandKeys(queryVec, Dim, rowsPerBand)
    val flips = probeFlips(radius, rowsPerBand)
    (for { (b, key) <- exact; f <- flips } yield (b, key ^ f)).distinct.sorted
  }


  /** v19: LSH-seeded graph ANN search — multi-probe SRP entry + k-NN
    * graph beam expansion (the public playbook: Charikar STOC'02
    * banding, Lv et al. VLDB'07 multi-probe for candidates, NSW/
    * HNSW-style neighbor expansion — Malkov & Yashunin, TPAMI'18 —
    * to recover the remaining LSH misses).
    *
    * Seeding: the probed pool is every corpus vector in a bucket
    * within Hamming-distance `probeRadius` of the query's key in any
    * band ([[queryProbeKeys]]); the pool is scored exactly and the
    * top `maxEntries` become the first frontier. Exact-key-only
    * seeding does NOT work on a low-similarity corpus — the query's
    * own buckets hold ~N·Bands/2^RowsPerBand near-random vectors and
    * the graph is too sparse to escape them (measured recall 0.1);
    * radius-2 probing covers each true neighbor with prob ≈ 0.98 at
    * cos ≈ 0.4. Then `iters` hops over the v18 graph pull in each
    * frontier member's graph neighbors.
    *
    * Scale shape: the banded table is partitioned by (band, key) on
    * disk ([[graft.sources.SrpStore]]) — the seed read prunes to the
    * probed buckets via `PartitionFilters`; each hop is a broadcast-
    * frontier equi-join on src against the edge table; every
    * intermediate after the seed cut is bounded by
    * maxEntries + iters·beam·graphK rows. Iteration count is fixed,
    * not data-dependent. */
  /** The (vec_id, embedding, band, bk) banding of a corpus — the
    * in-memory form of what [[graft.sources.SrpStore]] persists. */
  private[graft] def bandedOf(emb: DataFrame, dim: Int = Dim,
                              rowsPerBand: Int = RowsPerBand): DataFrame = {
    val qt = emb.select(col("vec_id"), col("embedding"),
      quantized(col("embedding")).as("qv"))
    val keysCol = org.apache.spark.sql.GraftBridge.column(
      SrpBandKeysExpr(org.apache.spark.sql.GraftBridge.expression(col("qv")), dim,
        rowsPerBand))
    qt.select(col("vec_id"), col("embedding"),
      posexplode(keysCol).as(Seq("band", "bk")))
  }

  /** The UN-exploded 8-band key array for an embedding column — the
    * 64-bit sign sketch in band-sliced form (8 × 8-bit keys, kept
    * separate so no engine ever composes a value past int64 range).
    * Bit-compatible with [[bandedOf]]/[[queryBandKeys]] by
    * construction: same quantization, same pinned hyperplanes. */
  private[graft] def bandKeysCol(emb: Column, dim: Int = Dim,
                                 rowsPerBand: Int = RowsPerBand): Column =
    org.apache.spark.sql.GraftBridge.column(
      SrpBandKeysExpr(
        org.apache.spark.sql.GraftBridge.expression(quantized(emb)), dim,
        rowsPerBand))

  /** Exact-scored multi-probe seed pool over the in-memory banding —
    * the seeding stage [[graphSearch]] and [[graphSearchRefined]]
    * share (the persisted analogue is
    * [[graft.sources.SrpStore.scoredPool]]). The FULL pool is scored
    * exactly — a SeedBudget-style pre-scoring cut was measured on the
    * single-query walk tier in r14 and REJECTED: most of a radius-2
    * pool ties at (flip radius 2, one collision), where the
    * probing-sequence signals carry no further information and the
    * tie-break degenerates to id order — walk recall@10 at the 10×
    * decade fell 0.955 → 0.670 (docs/PERF.md r14). The pool is
    * O(log²N)-bounded by the keyspace policy (probe keys ∝ rpb²,
    * occupancy capped by [[rowsPerBandFor]]), so exact scoring it is
    * the scale posture, not a liability; the BATCH path keeps its
    * [[SeedBudget]] because per-query×pool there multiplies, and its
    * recall evidence (r11 hard probe) was measured with the cut in. */
  private[graft] def scoredProbePool(spark: SparkSession, d: String,
      queryVec: Array[Float], probeRadius: Int): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"), col("embedding"))
    // pool: corpus vectors in any probed (band, key) bucket — a
    // broadcast equi-join against the literal probe keys (a 296-term
    // OR chain codegens poorly; the join is one hash lookup per row)
    val probeDf = queryProbeKeys(queryVec, probeRadius).toDF("band", "bk")
    bandedOf(emb)
      .join(broadcast(probeDf), Seq("band", "bk"))
      .select(col("vec_id"), col("embedding"))
      .dropDuplicates("vec_id")
      .select(col("vec_id"),
        vectors.cosine_sim(col("embedding"), typedLit(queryVec)).as("sim"))
  }

  def graphSearch(spark: SparkSession, d: String, queryVec: Array[Float],
                  k: Int = 10, beam: Int = 8, iters: Int = 2,
                  maxEntries: Int = 64, graphK: Int = 5,
                  probeRadius: Int = 2): DataFrame =
    graphSearchFrom(spark, scoredProbePool(spark, d, queryVec, probeRadius),
      k, beam, iters, maxEntries, graphFetch(materializedGraph(spark, d, graphK), queryVec))

  /** v25: the same multi-probe + beam serve path, expanding over the
    * NN-Descent-REFINED graph (v21's output edges) instead of the raw
    * band-collision graph. The refined graph's recall@5 is ~4.7× the
    * raw one's on this corpus (v21 spec), so each hop recovers more
    * of the true neighborhood at identical per-hop cost — graph
    * quality is the cheap lever for serve-time recall (build-time
    * n·k² refinement vs serve-time beam widening). Deterministic end
    * to end: the served edges are v21's oracle-checked output. */
  def graphSearchRefined(spark: SparkSession, d: String, queryVec: Array[Float],
                         k: Int = 10, beam: Int = 8, iters: Int = 2,
                         maxEntries: Int = 64, graphK: Int = 5,
                         rounds: Int = 3, probeRadius: Int = 2): DataFrame =
    graphSearchFrom(spark, scoredProbePool(spark, d, queryVec, probeRadius),
      k, beam, iters, maxEntries,
      graphFetch(materializedRefinedGraph(spark, d, graphK, graphK, rounds), queryVec))

  /** v26: BATCHED graph-ANN — the whole query table served in one
    * set-based plan, the graph analogue of [[IvfIndex.similarityJoin]]
    * (and the shape that matters at scale: per-query orchestration
    * amortizes to nothing when a training pipeline needs neighbors
    * for millions of queries). Multi-probe expansion is an explode
    * of the literal flip masks against each query's own band keys;
    * seeding and every hop are per-query window cuts over equi-joins
    * — the same bounded intermediate sizes as the single-query path,
    * times the number of queries, spread across the cluster. Each
    * stage is checkpointed so hop h+1 does not replay hops 1..h
    * (the per-query path solved the same re-execution driver-side).
    * Deterministic end to end → oracle-checked like everything else. */
  /** The Dim-filtered corpus + the `vec_id % queryMod` query slice —
    * the two frames every batch stage joins against. */
  private def batchInputs(spark: SparkSession, d: String,
                          queryMod: Int): (DataFrame, DataFrame) = {
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.filter(col("vec_id") % queryMod === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
    (emb, queries)
  }

  /** (query_id, vec_id) pairs → exact cosine, corpus-then-query
    * argument order (the convention every oracle shares). The query
    * side joins via SHUFFLE_HASH on query_id, NOT broadcast: the
    * batched path exists for query sets too large to hold on the
    * driver (millions of rows × a full embedding each), so the plan
    * must never materialize the query table in a BroadcastExchange —
    * the same reason v16 block-replicates instead of broadcasting
    * ([[SimilaritySearch.similarityJoinLarge]]). Per-partition build
    * state is |Q|/shuffle_partitions rows, which scales out with the
    * cluster; the pairs side streams without a sort. Spec-asserted:
    * no BroadcastExchange carries q_vec. */
  private def batchScorePairs(emb: DataFrame, queries: DataFrame)
                             (pairs: DataFrame): DataFrame = pairs
    .join(emb.select(col("vec_id"), col("embedding").as("c_vec")), Seq("vec_id"))
    .join(queries.hint("shuffle_hash"), Seq("query_id"))
    .select(col("query_id"), col("vec_id"),
      vectors.cosine_sim(col("c_vec"), col("q_vec")).as("sim"))

  /** Per-query SEED candidate budget for the batched graph serves.
    * The radius-2 multi-probe union covers 37/2^RowsPerBand ≈ 14.5%
    * of each band's keyspace, so across Bands=8 independent bands
    * ~70% of the CORPUS lands in some probed bucket — measured pool
    * per query: 1.4k at sf0.1, 14k at 10×, 139k at 100× (linear in
    * corpus; docs/PERF.md round 10). Unbudgeted, the seed stage
    * cosine-scores all of it — the one term of the batch serve that
    * grows with corpus density rather than with beam·graphK. The
    * budget keeps the `SeedBudget` most-promising candidates per
    * query BEFORE any embedding is touched, ranked by the standard
    * multi-probe probing-sequence signals (Lv et al., VLDB'07):
    * lowest flip radius first (closer bucket ⇒ likelier neighbor),
    * then most band collisions (LSH collision frequency), then
    * vec_id for determinism. Scored pairs are then ≤ SeedBudget·|Q|
    * at ANY corpus size. Never binds at the oracle SFs (max pool
    * 374 at sf0.01 / 1474 at sf0.1 < 2048), so test-scale output is
    * bit-identical with or without it — but the DuckDB twin mirrors
    * the cut anyway ([[graphSearchBatchSql]]), keeping both engines
    * aligned at every SF. At real 100 TB scale the budget composes
    * with key width: radius-0 buckets alone hold ~N/2^RowsPerBand
    * rows, so a production deployment would also widen RowsPerBand
    * (more selective buckets) — the budget makes the serve's cost
    * independent of that tuning. */
  val SeedBudget = 2048

  /** Batch-size crossover for the seed pool join's physical shape:
    * ≤ this many queries broadcasts the ids-only probe set
    * (|Q|·~296 rows ≈ 50 MB at the limit — bounded, embedding-free);
    * above it, the join salts the 2048-value bucket key instead
    * ([[SeedSalt]]) so neither side is ever collected. Plan-only:
    * results are bit-identical either way (spec-asserted). */
  val SeedProbeBroadcastMax = 8192L
  /** Salt fan-out for the large-batch seed join: bucket keys spread
    * over 2048·SeedSalt shuffle keys, bounding hot-bucket stragglers
    * at any corpus skew; the probe side (the small one) replicates
    * ×SeedSalt, the corpus side stays 1×. */
  val SeedSalt = 32
  /** which physical shape the last seed pool join took — spec hook,
    * the [[graft.sources.SrpStore.lastBatchBandingSource]] convention */
  @volatile var lastSeedJoinShape: String = ""

  /** The seed-stage scored pool (multi-probe buckets × corpus banding,
    * budget-cut, exact-scored), LAZY — factored out so a plan spec can
    * assert the no-query-broadcast contract without executing the
    * batch.
    *
    * `bandedSource` (v27) is a PRUNING function, not a frame: it
    * receives the union of probed (band, bk) buckets across the whole
    * query set and returns the corpus banding restricted to them.
    * The union is bounded by Bands·2^RowsPerBand = 2048 pairs however
    * large the query set — the same O(k) driver license every serve
    * here documents — so the stored seed read is O(probed buckets),
    * never an O(corpus) artifact scan. */
  private[graft] def batchSeedScored(spark: SparkSession, d: String, queryMod: Int,
                                     probeRadius: Int = 2,
                                     bandedSource: Option[Seq[(Int, Long)] => DataFrame] = None,
                                     inputs: Option[(DataFrame, DataFrame)] = None,
                                     seedBudget: Int = SeedBudget,
                                     probeBroadcastMax: Long = SeedProbeBroadcastMax,
                                     rowsPerBand: Int = RowsPerBand): DataFrame = {
    import spark.implicits._
    val (emb, queries) = inputs.getOrElse(batchInputs(spark, d, queryMod))
    // multi-probe (query, band, key) set: each query's own band keys
    // XOR every flip mask within the Hamming radius; pr = the mask's
    // popcount (bucket's Hamming distance from the query's own key),
    // the first-rank probing-sequence signal. Within a band mask↔key
    // is bijective so min() never collapses anything — it replaces
    // the former defensive distinct() with the same single exchange.
    val probes = bandedOf(queries
        .select(col("query_id").as("vec_id"), col("q_vec").as("embedding")),
        Dim, rowsPerBand)
      .withColumn("f", explode(typedLit(probeFlips(probeRadius, rowsPerBand))))
      .select(col("vec_id").as("query_id"), col("band"),
        col("bk").bitwiseXOR(col("f")).as("bk"),
        bit_count(col("f")).cast("int").as("pr"))
      .groupBy(col("query_id"), col("band"), col("bk"))
      .agg(min(col("pr")).as("pr"))
    // The probes⋈banding join key (band, bk) has only
    // Bands·2^RowsPerBand = 2048 distinct values with skewed
    // occupancy — a hash-shuffle on it is hot-bucket-bound (measured
    // 3.5-4.5 s vs 1.4-1.9 s at the 10× step) and Catalyst's stats
    // mislead it here: the stored banding's small on-disk size makes
    // it broadcast the CORPUS side, the empirically slow build at
    // scale (6-9 s at 10× — a 2048-key relation with ~80× chain
    // duplication walked once per probe row; harmless only while the
    // corpus is tiny). Pin the plan adaptively instead, the
    // batchBanding crossover pattern: a small batch broadcasts the
    // ids-only PROBES (|Q|·~296 rows, no embeddings — the
    // no-query-broadcast contract bans q_vec, not bounded key sets);
    // a large batch salts the bucket key (probes replicate ×SeedSalt,
    // corpus rows take hash(vec_id) mod SeedSalt) so the shuffle
    // spreads over 2048·SeedSalt balanced keys at ANY |Q| and corpus.
    // Physical-plan-only switch: each (probe, corpus-row) match is
    // found exactly once either way, so results are bit-identical.
    //
    // In the stored small-batch case the probe set is COLLECTED once
    // and re-planted as a broadcast LocalRelation: the same rows
    // drive the store's partition-pruning key union (previously a
    // separate job) and the join build side, so the whole seed plan
    // costs ONE probes computation and no driver re-execution.
    val nQ = queries.count()
    val joined = (bandedSource, nQ <= probeBroadcastMax) match {
      case (Some(pruned), true) =>
        lastSeedJoinShape = "broadcast-probes"
        val local = probes.collect()
        val keys = local.map(r => (r.getInt(1), r.getLong(2)))
          .distinct.toSeq.sorted
        val localDf = spark.createDataFrame(
          java.util.Arrays.asList(local: _*), probes.schema)
        broadcast(localDf).join(pruned(keys), Seq("band", "bk"))
      case (None, true) =>
        lastSeedJoinShape = "broadcast-probes"
        broadcast(probes)
          .join(bandedOf(emb, Dim, rowsPerBand)
              .select(col("vec_id"), col("band"), col("bk")),
            Seq("band", "bk"))
      case (src, false) =>
        lastSeedJoinShape = "salted-shj"
        val banded = src match {
          case Some(pruned) =>
            val keys = probes.select(col("band"), col("bk")).distinct()
              .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq.sorted
            pruned(keys)
          case None =>
            bandedOf(emb, Dim, rowsPerBand)
              .select(col("vec_id"), col("band"), col("bk"))
        }
        // salt fan-out is a HOT-BUCKET remedy, sized to the keyspace:
        // the pinned 2048-key default needs the full ×SeedSalt spread
        // (~80× chain duplication per bucket), while a keyspace scaled
        // to the corpus (rowsPerBandFor) already bounds occupancy at
        // ~TargetBucketOccupancy — there the bucket-key cardinality
        // alone exceeds the partition count and extra salt would only
        // replicate the probe side for nothing. Keep the SPREAD
        // (keyspace·salt) ~constant: salt halves per extra key bit,
        // floored at 1 (no salt) once keys are wide enough.
        val keyspace = Bands.toLong << rowsPerBand
        val salt = math.max(1L,
          (Bands.toLong << RowsPerBand) * SeedSalt / keyspace).toInt
        val salted = probes.withColumn("salt",
          explode(typedLit((0 until salt).toArray)))
        val bandedS = banded.withColumn("salt",
          pmod(hash(col("vec_id")), lit(salt)).cast("int"))
        salted.join(bandedS.hint("shuffle_hash"), Seq("band", "bk", "salt"))
          .drop("salt")
    }
    // per (query, candidate): best (lowest) flip radius + how many of
    // the Bands independent probed buckets it collided in — then the
    // budget cut, BOTH under ONE query_id hash partitioning (the v26
    // dedupRank move applied to the seed stage, r11): HashPartitioning
    // on query_id satisfies the (query_id, vec_id) ClusteredDistribution
    // as a subset, so the pair-level dedup aggregate plans exchange-free
    // on top of the explicit repartition, and the budget aggregate's
    // state is bounded by the PARTITION's queries. The former shape
    // (hash on (query_id, vec_id), then a second exchange into the
    // budget cut) ran the budget PARTIAL over every partition — one
    // live TopKBuffer per (task × query) = |Q|·~66 KB per task at the
    // 2048-entry budget, the measured 1000×-decade OOM; here a task
    // only ever holds |Q|/partitions groups.
    val pool = joined
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("pr")).as("pr"), count(lit(1)).as("cnt"))
    // budget cut via the bounded top-k aggregate (the BucketCap
    // machinery). Priority pr·1000 − cnt (asc) = radius asc,
    // collisions desc; ties on lower vec_id inside TopKBuffer —
    // exactly the `row_number() OVER (ORDER BY pr*1000 - cnt,
    // vec_id)` the oracle twin replays (all terms are small exact
    // integers in a double).
    val budgeted = pool
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        col("vec_id"), (col("pr") * lit(1000) - col("cnt")).cast("double"),
        seedBudget, asc = true).as("__tk"))
      .select(col("query_id"),
        explode(col("__tk").getField("neighbor_id")).as("vec_id"))
    batchScorePairs(emb, queries)(budgeted)
  }

  /** Edge-row threshold for the EXPLICIT broadcast of a walk/hop edge
    * table (r16): a checkpoint- or store-backed edge frame carries no
    * size statistics, so the static planner always plans its join as a
    * shuffle — AQE then materializes shuffle stages for BOTH sides of
    * every step before converting to the broadcast it would have
    * picked statically. Below this row bound (~edge row = 16 B ids +
    * the in-row dst_emb) the serve counts the frame once per layer and
    * pins the broadcast itself, deleting the dead per-step exchanges;
    * above it — every production-scale layer-0/1 graph — the shuffle
    * plan is untouched. Plan-only: inner-join rows are identical. */
  val EdgeBroadcastMaxRows = 65536L

  /** [[EdgeBroadcastMaxRows]] applied: one cheap count (the frame is a
    * localCheckpoint or a pruned store read), then an explicit
    * broadcast hint or the frame unchanged. Counts are memoized by
    * FRAME IDENTITY — every caller hands the session-cached layer /
    * graph instance, so one count job per (corpus, layer), not one per
    * serve. Keys carry no directory, so every [[graft.Tables.invalidate]]
    * drops both frame memos; a frame a store publish superseded (its
    * memo follows the version stamp, no invalidate) ages out at the
    * bound. */
  private val edgeCountCache = new graft.SessionCache[DataFrame, Long](64, _ => "")
  /** bytes past which a FILE-BACKED edge frame is treated as corpus-
    * sized WITHOUT a count job: the store-backed layer-0 graph is the
    * whole corpus's edges — an eager count there is a full edge-store
    * scan on the first serve of a session, counter to the
    * serve-cost-independent-of-N design. The bound is the raw size of
    * [[EdgeBroadcastMaxRows]] edge rows (two 8 B ids + the in-row
    * `Dim`-float dst_emb); the files behind more rows are larger
    * unless parquet compresses them, which float embeddings barely
    * allow. Wrong only in the safe direction (a small-but-fat frame
    * keeps its shuffle plan; rows identical). */
  private val EdgeCountSkipBytes = EdgeBroadcastMaxRows * (16L + 4L * Dim)
  /** bytes of the files a file-backed frame reads (None for an
    * in-memory frame), after partition pruning: the physical scan's
    * selected partitions, pruned from the file index the read already
    * listed (no job, no IO), so a `layer = l` slice of one shared
    * layers file weighs its own partitions, not the whole file. A
    * filter on a data column does not shrink the figure — the safe
    * direction again. */
  private def fileBackedBytes(g: DataFrame): Option[BigInt] = {
    val sizes = g.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanLike =>
        BigInt(s.selectedPartitions.totalFileSize)
    }
    if (sizes.isEmpty) None else Some(sizes.sum)
  }
  private[graft] def edgesSmall(g: DataFrame): Boolean =
    edgeCountCache.getOrElseUpdate(g) {
      if (fileBackedBytes(g).exists(_ > EdgeCountSkipBytes)) Long.MaxValue else g.count()
    } <= EdgeBroadcastMaxRows
  /** broadcast-eligible FILE-BACKED edge frames, materialized once
    * (r17): the stored batch serve (v34) rebuilds the layer broadcast
    * per walk step, and each rebuild re-reads the store's parquet —
    * 12+ scans per serve. A frame the size gate already licensed to
    * broadcast (≤ [[EdgeBroadcastMaxRows]] rows) is bounded, so it is
    * checkpointed once per frame and every step's broadcast builds
    * from in-memory blocks. In-memory frames (layer checkpoints,
    * materializedGraph) pass through — they are already block-backed. */
  private val edgeCkptCache = new graft.SessionCache[DataFrame, DataFrame](
    16, _ => "", org.apache.spark.sql.GraftBridge.unpersistPlanRdds)
  private[graft] def maybeBroadcastEdges(g: DataFrame): DataFrame =
    if (!edgesSmall(g)) g
    else if (fileBackedBytes(g).isEmpty) broadcast(g)
    else broadcast(edgeCkptCache.getOrElseUpdate(g)(g.localCheckpoint(true)))

  def graphSearchBatch(spark: SparkSession, d: String, queryMod: Int,
                       k: Int = 5, beam: Int = 8, iters: Int = 2,
                       maxEntries: Int = 64, graphK: Int = 5,
                       probeRadius: Int = 2,
                       bandedSource: Option[Seq[(Int, Long)] => DataFrame] = None,
                       rowsPerBand: Int = RowsPerBand,
                       kExpr: Option[Column] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (emb, queriesRaw) = batchInputs(spark, d, queryMod)
    // the query slice is materialized ONCE (O(|Q|) rows) — every
    // stage below joins this checkpoint instead of re-scanning the
    // corpus for the slice
    val queries = queriesRaw.localCheckpoint(true)
    // size-keyed explicit broadcast of the hop edge table (see
    // [[maybeBroadcastEdges]]) — AQE converted these joins at runtime
    // anyway, but only after materializing both sides' shuffle stages
    // per hop
    val graph = maybeBroadcastEdges(materializedGraph(spark, d, graphK))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("vec_id"))
    // hop scoring reads the candidate embedding from the edge rows it
    // joined (dst_emb rides in materializedGraph / the stored banding),
    // so hops never re-scan the corpus; the query side keeps the
    // SHUFFLE_HASH no-broadcast contract
    val scoreEdges: DataFrame => DataFrame = pairs => pairs
      .join(queries.hint("shuffle_hash"), Seq("query_id"))
      .select(col("query_id"), col("vec_id"),
        vectors.cosine_sim(col("c_vec"), col("q_vec")).as("sim"))
    // ONE exchange per hop instead of two (the v33 dedupRank shape):
    // the union is hash-repartitioned on query_id once; the
    // (query_id, vec_id) dedup and the per-query rank are then BOTH
    // windows whose ClusteredDistribution that single partitioning
    // satisfies. Duplicate (query_id, vec_id) rows carry bit-identical
    // sims (same expression over the same floats), so keeping any one
    // row per pair equals the former dropDuplicates.
    val wd = Window.partitionBy(col("query_id"), col("vec_id"))
      .orderBy(col("sim"))
    def dedupRank(df: DataFrame): DataFrame = df
      .repartition(col("query_id"))
      .withColumn("__dup", row_number().over(wd))
      .filter(col("__dup") === 1).drop("__dup")
      .withColumn("rn", row_number().over(wq))
    // Intermediates are tracked and unpersisted once the final result
    // is checkpointed, so repeated batch calls pin only their k·|Q|
    // output rows, not the per-hop candidate sets.
    val intermediates = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    intermediates += queries
    // seed: per-query top-maxEntries of the scored pool; checkpointed —
    // hop 1 references it twice (as its frontier and in its union), and
    // the pool-scoring join behind it is the single most expensive
    // stage, so it must materialize exactly once. (An r10 experiment
    // folding it lazily into hop 1 cost +0.2–0.65 s at sf0.1: AQE's
    // runtime stage reuse did not cover the doubled reference.)
    // the top-maxEntries cut is a bounded top-k AGGREGATE, not a rank
    // window (r10): the window's group-limit SORTS each partition of
    // the scored pool — the one O(N)-per-query frame in the serve —
    // while the aggregate heaps it at O(n log k) with fixed memory and
    // no spill. The pool carries duplicate (query, vec) rows (multi-
    // probe collisions, bit-identical sims) and the window ranked
    // THROUGH them; the non-distinct buffer keeps duplicate copies the
    // same way, and because duplicates are indistinguishable rows, the
    // boundary's survivor count (and thus the kept multiset) is
    // deterministic — same rows as `row_number() <= maxEntries`.
    // (NaN sims cannot reach the buffer: cosine_sim maps zero-norm
    // vectors to 0.0 — see rankedEdges' behavior note.)
    val seed = batchSeedScored(spark, d, queryMod, probeRadius, bandedSource,
        Some((emb, queries)), rowsPerBand = rowsPerBand)
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKPairs.top_k_pairs(
        col("vec_id"), col("sim"), maxEntries).as("__tk"))
      .select(col("query_id"), explode(col("__tk")).as("__e"))
      .select(col("query_id"),
        col("__e").getField("neighbor_id").as("vec_id"),
        col("__e").getField("score").as("sim"))
      .localCheckpoint(true)
    intermediates += seed
    // visited accumulates scored candidate sets with the dedup
    // DEFERRED to the single final pass — cand(hop 1) ⊇ seed (the
    // seed IS hop 1's frontier and rides its union), so visited
    // starts at hop 1's candidate set, not the seed.
    var visited: DataFrame = seed
    var frontierS = seed
    (1 to iters).foreach { i =>
      val neigh = frontierS.select(col("query_id"), col("vec_id"))
        .join(graph, col("vec_id") === graph("src"))
        .select(col("query_id"), col("dst").as("vec_id"),
          col("dst_emb").as("c_vec"))
      val neighScored = scoreEdges(neigh)
        .toDF("query_id", "vec_id", "sim")
      // = scored(frontier ∪ neighbors) deduped WITH its per-query rank
      // in one exchange: the frontier is already scored, neighbors
      // scored from their edge rows — the former cand =
      // scorePairs(frontier ∪ neigh distinct) row set.
      // Checkpoint only INTERIOR hop boundaries: the last hop feeds
      // nothing but the final ranking pass, which consumes it inline —
      // its inputs (the prior hop's checkpoint, the edge table, the
      // query slice) are all checkpoint-rooted, so nothing replays.
      val candR = dedupRank(frontierS.unionByName(neighScored))
      val cand =
        if (i < iters) {
          val c = candR.localCheckpoint(true)
          intermediates += c
          c
        } else candR
      val cand3 = cand.select(col("query_id"), col("vec_id"), col("sim"))
      visited = if (i == 1) cand3 else visited.unionByName(cand3)
      frontierS = cand.filter(col("rn") <= beam)
        .select(col("query_id"), col("vec_id"), col("sim"))
    }
    val out = dedupRank(visited)
      .withColumnRenamed("rn", "rk")
      .filter(col("rk") <= k)
      // PER-QUERY k (r16): kExpr = each caller's own limit over
      // query_id; the literal k stays the WindowGroupLimit ceiling,
      // the per-query bound trims map-side (the FilteredServe kCol
      // shape on the unfiltered matrix)
      .filter(kExpr.map(col("rk") <= _).getOrElse(lit(true)))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("rk"), round(col("sim"), 6).as("sim"))
      .orderBy(col("query_id"), col("rk"))
      .localCheckpoint(true)
    intermediates.foreach(org.apache.spark.sql.GraftBridge.unpersistPlanRdds)
    out
  }

  /** DuckDB twin of [[graphSearchBatch]]: the shared banding/graph
    * CTEs, the flip masks as a literal VALUES list XOR'd against each
    * query's band rows, and the same per-query window cuts — including
    * the [[SeedBudget]] probing-sequence cut (row_number over
    * pr·1000 − cnt, vec_id), which never binds at the oracle SFs but
    * is replayed anyway so both engines agree at EVERY scale.
    * `allscore` scores every (query, corpus) pair once — the
    * oracle-side luxury the Spark path builds incrementally. */
  def graphSearchBatchSql(queryMod: Int, k: Int = 5, beam: Int = 8,
                          iters: Int = 2, maxEntries: Int = 64,
                          graphK: Int = 5, probeRadius: Int = 2,
                          seedBudget: Int = SeedBudget): String = {
    val flipValues = probeFlips(probeRadius).map(f => s"($f)").mkString(", ")
    val hops = (1 to iters).map { i =>
      val prevF = if (i == 1) "f0" else s"f${i - 1}"
      val prevV = if (i == 1) "f0s" else s"v${i - 1}"
      s"""c$i AS (
         |  SELECT DISTINCT query_id, vec_id FROM (
         |    SELECT query_id, vec_id FROM $prevF
         |    UNION ALL
         |    SELECT f.query_id, g.dst AS vec_id FROM $prevF f JOIN graph g ON g.src = f.vec_id)),
         |c${i}s AS (SELECT c.query_id, c.vec_id, s.sim FROM c$i c
         |  JOIN allscore s ON s.query_id = c.query_id AND s.vec_id = c.vec_id),
         |v$i AS (SELECT DISTINCT query_id, vec_id, sim FROM (
         |  SELECT * FROM $prevV UNION ALL SELECT * FROM c${i}s)),
         |f$i AS (SELECT query_id, vec_id FROM (
         |  SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rn
         |  FROM c${i}s) WHERE rn <= $beam)""".stripMargin
    }.mkString(",\n")
    s"""WITH $srpBandsCtes,
       |${rawGraphCtes(graphK)},
       |flips(f) AS (VALUES $flipValues),
       |probes AS MATERIALIZED (
       |  SELECT b.vec_id AS query_id, b.band, xor(b.bk, f.f) AS bk,
       |    min(bit_count(CAST(f.f AS BIGINT))) AS pr
       |  FROM bands b CROSS JOIN flips f WHERE b.vec_id % $queryMod = 0
       |  GROUP BY 1, 2, 3),
       |pool AS MATERIALIZED (
       |  SELECT query_id, vec_id FROM (
       |    SELECT query_id, vec_id,
       |      row_number() OVER (PARTITION BY query_id
       |                         ORDER BY pr * 1000 - cnt, vec_id) AS rs
       |    FROM (
       |      SELECT p.query_id, b.vec_id, min(p.pr) AS pr, count(*) AS cnt
       |      FROM probes p JOIN bands b ON b.band = p.band AND b.bk = p.bk
       |      GROUP BY 1, 2))
       |  WHERE rs <= $seedBudget),
       |allscore AS MATERIALIZED (
       |  SELECT q.vec_id AS query_id, c.vec_id, list_cosine_similarity(c.v, q.v) AS sim
       |  FROM (SELECT vec_id, v FROM e WHERE vec_id IN (SELECT vec_id FROM qt)) c
       |  CROSS JOIN (SELECT vec_id, v FROM e
       |              WHERE vec_id % $queryMod = 0
       |                AND vec_id IN (SELECT vec_id FROM qt)) q),
       |f0s AS MATERIALIZED (
       |  SELECT query_id, vec_id, sim FROM (
       |    SELECT s.query_id, s.vec_id, s.sim,
       |      row_number() OVER (PARTITION BY s.query_id ORDER BY s.sim DESC, s.vec_id) AS rn
       |    FROM pool p JOIN allscore s ON s.query_id = p.query_id AND s.vec_id = p.vec_id)
       |  WHERE rn <= $maxEntries),
       |f0 AS (SELECT query_id, vec_id FROM f0s),
       |$hops
       |SELECT query_id, vec_id AS neighbor_id, CAST(rk AS INTEGER) AS rk, round(sim, 6) AS sim FROM (
       |  SELECT query_id, vec_id, sim,
       |    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id) AS rk
       |  FROM v$iters)
       |WHERE rk <= $k ORDER BY query_id, rk""".stripMargin
  }

  // v21's final top-k edge set, checkpointed once per (d, params) —
  // the serve-time edge table for the refined search path
  private val refinedTopCache = new graft.SessionCache[(String, Int, Int, Int), DataFrame](
    8, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)
  /** v21's refined edges in the serve layout — (src, dst, dst_emb),
    * destination embeddings in-row like [[materializedGraph]]. */
  def materializedRefinedGraph(spark: SparkSession, d: String, k: Int = 5,
                               graphK: Int = 5, rounds: Int = 3): DataFrame =
    refinedTopCache.getOrElseUpdate(spark, (d, k, graphK, rounds)) {
      val emb = Tables.embeddings(spark, d)
        .filter(col("embedding").isNotNull && size(col("embedding")) === Dim)
        .select(col("vec_id").as("dst"), col("embedding").as("dst_emb"))
      nnDescentGraph(spark, d, k, graphK, rounds)
        .select(col("src"), col("dst"))
        .join(emb, Seq("dst"))
        .select(col("src"), col("dst"), col("dst_emb"))
        .localCheckpoint(true)
    }

  /** Beam search over the v18 graph from an already-probed, already-
    * scored seed pool (either [[graphSearch]]'s in-memory banding or
    * a pruned [[graft.sources.SrpStore]] read — the floats are the
    * same IEEE values either way, so the results are identical).
    *
    * The iteration state (frontier + visited scores) is DRIVER-side:
    * it is model-sized by construction (≤ maxEntries + iters·beam·
    * graphK ids — the same bounded-state license MMR's greedy stage
    * uses), and keeping it lazy instead would re-execute the seed
    * scan once per DAG reference (~6× the probed-bucket IO per
    * query: measured 6.5 s → 0.9 s on the stored path at sf0.1).
    * Each hop is one `fetchScored` call ([[walkFromSeed]]). */
  private[graft] def graphSearchFrom(spark: SparkSession,
      scoredPool: DataFrame, k: Int, beam: Int, iters: Int, maxEntries: Int,
      fetchScored: Seq[Long] => Map[Long, Array[(Long, Double)]]): DataFrame =
    topKCut(spark,
      walkFromSeed(seedCut(scoredPool, maxEntries), beam, iters, fetchScored), k)

  /** [[graphSearchFrom]] over an ALREADY-LOCAL scored pool (an HNSW
    * descent path, model-sized by construction) — the seed cut is the
    * same (sim DESC, id ASC) total order, applied driver-side, so the
    * Spark job the DataFrame seed cut costs disappears from the serve
    * while the rows stay identical. */
  private[graft] def graphSearchFromLocal(spark: SparkSession,
      pool: Seq[(Long, Double)], k: Int, beam: Int, iters: Int, maxEntries: Int,
      fetchScored: Seq[Long] => Map[Long, Array[(Long, Double)]]): DataFrame =
    topKCut(spark,
      walkFromSeed(pool.sortWith(simDescIdAsc).take(maxEntries), beam, iters,
        fetchScored), k)

  /** The in-memory serve graph's scored fetch: a membership filter over
    * the checkpointed (src, dst, dst_emb) graph ([[materializedGraph]]
    * or the refined one), scored by [[Hnsw.fetchScoredDf]]. The hop
    * never touches the corpus table: candidate embeddings arrive in the
    * edge rows themselves. */
  private[graft] def graphFetch(graph: => DataFrame,
      queryVec: Array[Float]): Seq[Long] => Map[Long, Array[(Long, Double)]] =
    frontier => Hnsw.fetchScoredDf(
      graph.filter(graft.functions.bound.isin(col("src"), frontier)), queryVec)

  /** (vec_id, rk, sim) of [[topKCut]]: `sim` is nullable because
    * Spark's `round` is */
  private[graft] val TopKSchema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("rk", IntegerType, nullable = false),
    StructField("sim", DoubleType)))

  /** The ONE (vec_id, rk, sim) emission contract every driver-side
    * serve shares — same (sim DESC, vec_id) total order as the old
    * window form. Each sim is rounded by Catalyst's own `Round`,
    * evaluated on the driver, so the emitted doubles keep the engine's
    * rounding; the rows come back as a local relation, already in `rk`
    * order, which collects with no Spark job. FilteredServe's cuts go
    * through here too, so the tie/rounding contract cannot fork. */
  private[graft] def topKCut(spark: SparkSession,
      cands: Seq[(Long, Double)], k: Int): DataFrame = {
    val rows = cands.sortWith(simDescIdAsc).take(k).zipWithIndex.map { case ((id, s), i) =>
      Row(id, i + 1, Round(Literal(s), Literal(6)).eval())
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), TopKSchema)
  }

  /** total order matching both engines' DESC sorts: NaN greatest
    * (a NaN-component embedding ranks first under sim DESC in Spark
    * AND DuckDB — the pre-driver-side implementation's behavior),
    * -0.0 ties 0.0 and falls through to the id tiebreak */
  private[graft] val simDescIdAsc: ((Long, Double), (Long, Double)) => Boolean = {
    case ((ida, sa), (idb, sb)) =>
      val c =
        if (sa.isNaN && sb.isNaN) 0
        else if (sa.isNaN) 1
        else if (sb.isNaN) -1
        else if (sa > sb) 1 else if (sa < sb) -1 else 0
      if (c != 0) c > 0 else ida < idb
  }

  /** the seed cut: the best maxEntries of a scored pool — the one
    * collect whose input is corpus-sized is still cut distributed */
  private[graft] def seedCut(scoredPool: DataFrame, maxEntries: Int): Seq[(Long, Double)] =
    scoredPool.orderBy(col("sim").desc, col("vec_id")).limit(maxEntries)
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("sim"))).toSeq

  /** The beam hops alone, from an already-cut seed — shared by
    * [[graphSearchFrom]] and the local-pool serves
    * ([[graphSearchFromLocal]], the stored walks). `fetchScored`
    * gives the frontier's out-edges already scored (src → (dst, sim)),
    * the seam [[Hnsw.descentPoolBy]] uses: a Spark read
    * ([[Hnsw.fetchScoredDf]] — a pruned [[graft.sources.EdgeStore]]
    * point read or [[graphFetch]]) or a driver-cache lookup
    * ([[Hnsw.fetchScoredLocal]]), bit-identical doubles either way. */
  private[graft] def walkFromSeed(seed: Seq[(Long, Double)], beam: Int, iters: Int,
      fetchScored: Seq[Long] => Map[Long, Array[(Long, Double)]]): Seq[(Long, Double)] = {
    val visited = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
    seed.foreach { case (id, s) => visited.update(id, s) }
    var frontier: Seq[Long] = seed.map(_._1).toSeq
    // per-search fetch cache: a source's out-edges are immutable
    // within the serve, so each frontier member is READ at most once
    // across the beam hops — carried-over members (a converging beam
    // keeps most of its frontier) and fully-repeated hops merge from
    // the cache with no fetch. Duplicate dsts carry bit-identical
    // sims (same in-row embedding bytes, same kernel), so merging
    // cached rows equals the former per-hop re-read + dropDuplicates.
    val fetched = scala.collection.mutable.Map.empty[Long, Array[(Long, Double)]]
    (1 to iters).foreach { _ =>
      // frontier sims are already known (seeds, or last hop's scores):
      // only the NEW neighbors need scoring, from their in-row
      // embeddings — same IEEE floats as the corpus column, so results
      // are bit-identical to the former corpus-join form
      val need = frontier.filterNot(fetched.contains)
      if (need.nonEmpty) {
        val bySrc = fetchScored(need)
        need.foreach { s => fetched(s) = bySrc.getOrElse(s, Array.empty) }
      }
      val nb = frontier.flatMap(fetched(_))
      val candMap = scala.collection.mutable.LinkedHashMap.empty[Long, Double]
      frontier.foreach(id => candMap.update(id, visited(id)))
      nb.foreach { case (id, s) => candMap.update(id, s) }
      val cand = candMap.toSeq
      cand.foreach { case (id, s) => visited.update(id, s) }
      frontier = cand.sortWith(simDescIdAsc).take(beam).map(_._1).toSeq
    }
    visited.toSeq
  }

  /** DuckDB twin: the graph CTEs from [[knnGraphSql]], the query's
    * multi-probe (band, key) set interpolated as a literal VALUES
    * list (computed driver-side by the SAME [[queryProbeKeys]] the
    * Scala path uses), and the beam iterations unrolled as c1/f1 …
    * c_iters stages — every stage mirrors [[graphSearchFrom]]:
    * seed = top-maxEntries of the scored pool, hop = frontier ∪
    * graph-neighbors rescored, frontier = top-beam. */
  def graphSearchSql(queryVecSql: String, probeKeys: Seq[(Int, Long)],
                     k: Int = 10, beam: Int = 8, iters: Int = 2,
                     maxEntries: Int = 64, graphK: Int = 5): String =
    s"""WITH $srpBandsCtes,
       |${rawGraphCtes(graphK)},
       |${searchTailSql(queryVecSql, probeKeys, k, beam, iters, maxEntries, "graph")}""".stripMargin

  /** The refinement chain + the final `refined_graph` edge CTE —
    * refinement rounds run at the work degree v21 uses (2·graphK),
    * the served edge set is the refined graph cut back to graphK.
    * Shared by [[graphSearchRefinedSql]] (v25/v28) and the refined
    * hierarchical twin ([[Hnsw.searchRefinedSql]], v35) — ONE text
    * source, so the refined edge set cannot diverge between oracles. */
  private[graft] def refinedGraphCtes(graphK: Int, rounds: Int): String =
    s"""${refineCtes(rounds, 2 * graphK, start = "graph")},
       |final_scored AS MATERIALIZED (
       |  SELECT c.src, c.dst, list_cosine_similarity(s.v, t.v) AS sim
       |  FROM g$rounds c JOIN e s ON c.src = s.vec_id JOIN e t ON c.dst = t.vec_id),
       |refined_graph AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src ORDER BY sim DESC, dst) AS rk
       |    FROM final_scored) WHERE rk <= $graphK)""".stripMargin

  /** DuckDB twin of [[graphSearchRefined]]: [[nnDescentGraphSql]]'s
    * training + refinement CTEs produce the final refined edge set,
    * which then plays the `graph` role in [[graphSearchSql]]'s probe/
    * beam stages — unchanged seeding, unchanged hop arithmetic. */
  def graphSearchRefinedSql(queryVecSql: String, probeKeys: Seq[(Int, Long)],
                            k: Int = 10, beam: Int = 8, iters: Int = 2,
                            maxEntries: Int = 64, graphK: Int = 5,
                            rounds: Int = 3): String =
    s"""WITH $srpBandsCtes,
       |${rawGraphCtes(graphK)},
       |${refinedGraphCtes(graphK, rounds)},
       |${searchTailSql(queryVecSql, probeKeys, k, beam, iters, maxEntries, "refined_graph")}""".stripMargin
}
