package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.{text, vectors}

/** Deduplication suite (§2 d1–d5) — the LLM-training-pipeline
  * operators, each designed so the 100 TB version never does an
  * all-pairs comparison:
  *
  * - exact: one hash shuffle on a 16-byte key;
  * - MinHash/LSH: only docs sharing a band bucket ever meet;
  * - SimHash: only docs sharing a 16-bit simhash band ever meet;
  * - exact Jaccard: prefix-filtered candidates (provably full recall)
  *   meet only in rare-token buckets, never all-pairs;
  * - embedding near-dup: low-τ exact form runs as a load-balanced
  *   block-matrix join; the high-τ near-dup regime is SRP-banded
  *   ([[SrpBanded]]).
  */
object Dedup {

  // Keyed by the owning SparkSession as well as (dir, threshold): a
  // checkpointed DataFrame is bound to the SparkContext that created
  // it, so an entry from a stopped session is a dead handle. Session
  // hygiene + growth bound live in SessionCache (checkpointed pair
  // graphs pin executor storage until GC'd — keep the bound small).
  private val pairsCache = new graft.SessionCache[(String, Double), DataFrame](
    16, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)

  /** d1: exact dedup by content hash. Emits every doc with its
    * canonical keeper (min doc_id of the identical-text group). */
  def exactDedup(spark: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(spark, d).select(col("doc_id"), md5(col("text")).as("h"))
    val w = Window.partitionBy(col("h"))
    docs.select(col("doc_id"), col("h").as("content_md5"),
        min(col("doc_id")).over(w).as("keeper_id"),
        count(lit(1)).over(w).as("group_n"))
      .orderBy(col("doc_id"))
  }

  def exactDedupSql: String =
    """SELECT doc_id, md5(text) AS content_md5,
      |  min(doc_id) OVER (PARTITION BY md5(text)) AS keeper_id,
      |  count(*) OVER (PARTITION BY md5(text)) AS group_n
      |FROM documents ORDER BY doc_id""".stripMargin

  /** d2: MinHash + LSH near-dup pairs.
    * shingle(5-gram) → 32 minhashes → 4 bands × 8 rows → band-bucket
    * join → exact-Jaccard verify ≥ `threshold`. Only the band keys
    * shuffle; candidate verification re-reads just the paired texts.
    *
    * 8-row bands put the LSH S-curve threshold near j≈0.8 — the
    * near-dup regime — so low-similarity pairs rarely collide.
    * `maxBucket` additionally drops degenerate buckets (a bucket of
    * b docs costs b² candidate pairs; at 100 TB one hot bucket can
    * dominate the whole job — exact duplicates are d1's job anyway).
    */
  def minhashLsh(spark: SparkSession, d: String,
                 numHashes: Int = 32, bands: Int = 4,
                 threshold: Double = 0.7, maxBucket: Int = 64): DataFrame = {
    val rows = numHashes / bands
    // Docs shorter than the shingle width have NO shingles: their
    // minhash signature is the all-sentinel vector, which would put
    // every short doc in the same bucket of every band. They carry no
    // similarity evidence — exclude them from banding.
    val docs = Tables.documents(spark, d)
      .filter(length(col("text")) >= 5)
      .select(col("doc_id"), text.minhash_sig(col("text"), 5, numHashes).as("sig"))
    // band key: xxhash64 over the band's slice of the signature.
    // Only (doc_id, band, key) triples shuffle — texts never ride
    // through the band exchange (at 100 TB the text column dominates).
    val banded = docs.select(col("doc_id"),
      posexplode(expr(
        s"transform(sequence(0, ${bands - 1}), b -> xxhash64(b, slice(sig, b * $rows + 1, $rows)))"))
        .as(Seq("band", "band_key")))
    val bounded = banded
      .withColumn("bucket_n",
        count(lit(1)).over(Window.partitionBy(col("band"), col("band_key"))))
      .filter(col("bucket_n") <= maxBucket)
      .drop("bucket_n")
    val a = bounded.select(col("band"), col("band_key"), col("doc_id").as("id_a"))
    val b = bounded.select(col("band"), col("band_key"), col("doc_id").as("id_b"))
    val candidates = a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
      .distinct()
    // exact-Jaccard verification only on the candidate pairs (native
    // expression — the verify pass stays inside codegen)
    val texts = Tables.documents(spark, d).select(col("doc_id"), col("text"))
    candidates
      .join(texts.select(col("doc_id").as("id_a"), col("text").as("text_a")), Seq("id_a"))
      .join(texts.select(col("doc_id").as("id_b"), col("text").as("text_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        round(text.shingle_jaccard(col("text_a"), col("text_b"), 5), 4).as("jaccard"))
      .filter(col("jaccard") >= threshold)
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of [[minhashLsh]] — the full MinHash+LSH pipeline as
    * SQL, so d2 is oracle-HASH-checked rather than rows-only. Every
    * stage is integer arithmetic both engines compute bit-identically:
    *
    *  - [[graft.functions.TextHash.fnv64]]: FNV-1a's 41-bit prime
    *    keeps `h * prime < 2^105`, inside HUGEINT — one `% 2^64` per
    *    step wraps like JVM long multiply;
    *  - [[graft.functions.TextHash.mix]]: the two 64-bit-constant
    *    multiplies split into 32-bit halves
    *    (`lo(a)·C + (hi(a)·lo(C) mod 2^32)·2^32 mod 2^64`) because a
    *    64×64 product overflows signed INT128;
    *  - signature mins compare SIGNED (matching JVM long compares), so
    *    u64 values are recentered before `min`;
    *  - the band key here is the raw signature slice (as a string)
    *    where Spark uses xxhash64 of the slice — both are injective
    *    functions of the slice, so the buckets (and the capped,
    *    verified pair set) are identical without replicating xxhash.
    *
    * KNOWN LIMIT: fnv64 iterates UTF-16 code units (JVM `charAt`),
    * this SQL iterates codepoints (`unicode(substr)`); they agree up
    * to U+FFFF and diverge on supplementary characters (surrogate
    * pairs). Replicating surrogate arithmetic in SQL isn't worth the
    * complexity, so the spec asserts the corpus is BMP-only — a
    * non-BMP corpus fails THAT assert loudly instead of silently
    * hash-mismatching here (same policy as m3's byte histogram).
    */
  def minhashLshSql(numHashes: Int = 32, bands: Int = 4,
                    threshold: Double = 0.7, maxBucket: Int = 64): String = {
    val rows = numHashes / bands
    val M = "18446744073709551616" // 2^64
    val M32 = 4294967296L // 2^32
    def mulmod(h: String, c: BigInt): String = {
      val cl = c % M32
      s"((($h) % $M32) * CAST($c AS HUGEINT) + (((($h) // $M32) * $cl) % $M32) * $M32) % $M"
    }
    val golden = BigInt("9e3779b97f4a7c15", 16)
    val c2 = BigInt("ff51afd7ed558ccd", 16)
    val c3 = BigInt("c4ceb9fe1a85ec53", 16)
    val fnvInit = BigInt("cbf29ce484222325", 16)
    val fnvPrime = BigInt("100000001b3", 16)
    // prime is 41-bit: direct HUGEINT multiply fits (< 2^105)
    val fnv = (1 to 5).foldLeft(s"CAST($fnvInit AS HUGEINT)") { (h, i) =>
      s"((xor($h, CAST(unicode(substr(s, $i, 1)) AS HUGEINT)) * $fnvPrime) % $M)"
    }
    val half = BigInt(1) << 63
    s"""WITH sh AS (
       |  SELECT doc_id, unnest(list_distinct(list_transform(
       |    range(1, len(text) - 3), i -> substr(text, i, 5)))) AS s
       |  FROM documents WHERE len(text) >= 5),
       |base AS (SELECT DISTINCT doc_id, $fnv AS h FROM sh),
       |mj AS (SELECT doc_id, h, unnest(range(0, $numHashes)) AS j FROM base),
       |m0 AS (SELECT doc_id, j, xor(h, (CAST($golden AS HUGEINT) * (j + 1)) % $M) AS h FROM mj),
       |m1 AS (SELECT doc_id, j, ${mulmod("xor(h, h >> 33)", c2)} AS h FROM m0),
       |m2 AS (SELECT doc_id, j, ${mulmod("xor(h, h >> 33)", c3)} AS h FROM m1),
       |m3 AS (SELECT doc_id, j, xor(h, h >> 33) AS h FROM m2),
       |sig AS (SELECT doc_id, j,
       |          CAST(min(CASE WHEN h >= $half THEN h - $M ELSE h END) AS BIGINT) AS mh
       |        FROM m3 GROUP BY doc_id, j),
       |bands AS (SELECT doc_id, j // $rows AS band,
       |            array_to_string(list(mh ORDER BY j), ',') AS band_key
       |          FROM sig GROUP BY doc_id, j // $rows),
       |capped AS (SELECT * FROM (
       |    SELECT doc_id, band, band_key,
       |      count(*) OVER (PARTITION BY band, band_key) AS bn FROM bands)
       |  WHERE bn <= $maxBucket),
       |cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |         FROM capped a JOIN capped b
       |           ON a.band = b.band AND a.band_key = b.band_key AND a.doc_id < b.doc_id),
       |tox AS (SELECT doc_id, list_distinct(list_transform(
       |          range(1, len(text) - 3), i -> substr(text, i, 5))) AS t5
       |        FROM documents WHERE len(text) >= 5)
       |SELECT c.id_a, c.id_b,
       |  round(CAST(len(list_intersect(a.t5, b.t5)) AS DOUBLE) /
       |        CAST(len(a.t5) + len(b.t5) - len(list_intersect(a.t5, b.t5)) AS DOUBLE), 4) AS jaccard
       |FROM cand c JOIN tox a ON c.id_a = a.doc_id JOIN tox b ON c.id_b = b.doc_id
       |WHERE round(CAST(len(list_intersect(a.t5, b.t5)) AS DOUBLE) /
       |        CAST(len(a.t5) + len(b.t5) - len(list_intersect(a.t5, b.t5)) AS DOUBLE), 4) >= $threshold
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** d3: SimHash near-dup pairs — 60-bit simhash over distinct
    * whitespace tokens, candidates share one of four 15-bit bands,
    * verified by hamming distance ≤ maxHamming.
    *
    * The per-token hash is the top 60 bits of md5 (15 hex chars → a
    * non-negative int64), an ENGINE-NEUTRAL function: every stage —
    * token hash, per-bit majority vote, banding, xor/bit_count verify
    * — computes identically in Spark and DuckDB, so the whole LSH
    * pipeline is oracle-hash-checked rather than rows-only. (The
    * native [[graft.functions.SimHash64]] expression remains for
    * hot-path use where a cross-engine oracle isn't needed; md5 costs
    * ~2× fnv but is still one digest per token.) Majority votes and
    * band keys are integer arithmetic — no float boundary anywhere. */
  def simhashPairs(spark: SparkSession, d: String, maxHamming: Int = 8,
                   maxBucket: Int = 256): DataFrame = {
    val bits = 60
    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("t"))
      .select(col("doc_id"), expr("cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)").as("h"))
    // PACKED majority aggregate (r17): two 32-bit one-counters per
    // long lane halve the 60-column buffer to 30 sums + one count —
    // exact integer equivalence with the former ±1 counters:
    //   sum(±1) > 0  ⟺  2·count_ones > n
    // (the lanes cannot carry into each other below 2^32 tokens per
    // doc — a per-doc row count, far past any real document).
    val lanes = bits / 2
    val bitSums = (0 until lanes).map(j =>
      sum(expr(s"(shiftright(h, $j) & 1) | shiftleft(shiftright(h, ${j + lanes}) & 1, 32)"))
        .as(s"s$j"))
    val aggs = bitSums :+ count(lit(1)).as("n")
    val sums = tok.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
    val sh = sums.select(col("doc_id"),
      (0 until bits).map { b =>
        val ones =
          if (b < lanes) col(s"s$b").bitwiseAND(lit(0xFFFFFFFFL))
          else shiftrightunsigned(col(s"s${b - lanes}"), 32)
        when(ones * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
      }.reduce(_ + _).as("sh"))
    // degenerate-bucket cap, same rationale (and default posture) as
    // [[minhashLsh]]'s: template-alike corpora concentrate docs into a
    // few band values (measured at sf0.1: one 1582-doc bucket = 1.25M
    // of 2.9M candidate pairs) and a hot bucket is quadratic. True
    // near-dups (hamming ≤ 8 of 60) collide in other bands with high
    // probability; the cap is deterministic, so the oracle mirrors it.
    val banded = sh.select(col("doc_id"), col("sh"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> cast(shiftright(sh, b * 15) & 32767 as bigint))"))
        .as(Seq("band", "band_bits")))
      .withColumn("bn", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_bits"))))
      .filter(col("bn") <= maxBucket)
    val a = banded.select(col("band"), col("band_bits"), col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = banded.select(col("band"), col("band_bits"), col("doc_id").as("id_b"), col("sh").as("sh_b"))
    a.join(b, Seq("band", "band_bits"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sh_a ^ sh_b)").cast("int").as("hamming"))
      // verify BEFORE the pair-dedup shuffle: the xor/bit_count check
      // is per-row-cheap and cuts the dedup exchange from every
      // candidate to just the passing pairs
      .filter(col("hamming") <= maxHamming)
      .dropDuplicates("id_a", "id_b")
      .orderBy(col("id_a"), col("id_b"))
  }

  /** DuckDB twin of [[simhashPairs]] — same md5-60-bit token hash,
    * majority vote, 4×15 banding, and xor/bit_count verify. */
  def simhashPairsSql(maxHamming: Int = 8, maxBucket: Int = 256): String = {
    val bits = 60
    val sumCols = (0 until bits).map(b =>
      s"SUM(CASE WHEN ((h >> $b) & 1) = 1 THEN 1 ELSE -1 END) AS s$b").mkString(", ")
    val shExpr = (0 until bits).map(b =>
      s"(CASE WHEN s$b > 0 THEN (CAST(1 AS BIGINT) << $b) ELSE 0 END)").mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) AS h
       |  FROM (SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents)),
       |sums AS (SELECT doc_id, $sumCols FROM tok GROUP BY doc_id),
       |sh AS (SELECT doc_id, $shExpr AS sh FROM sums),
       |bands AS (
       |  SELECT * FROM (
       |    SELECT doc_id, sh, g.band, (sh >> (g.band * 15)) & 32767 AS bb,
       |      count(*) OVER (PARTITION BY g.band, (sh >> (g.band * 15)) & 32767) AS bn
       |    FROM sh, (SELECT unnest(range(0, 4)) AS band) g)
       |  WHERE bn <= $maxBucket),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(bit_count(xor(a.sh, b.sh)) AS INTEGER) AS hamming
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bb = b.bb AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sh, b.sh)) <= $maxHamming)
       |SELECT id_a, id_b, hamming FROM cand
       |ORDER BY id_a, id_b""".stripMargin
  }

  // Per-doc distinct int64-hashed token sets, value-sorted so each
  // verified pair is a merge walk ([[graft.functions.SortedIntersectCount]]).
  private def hashedTokenSets(spark: SparkSession, d: String): DataFrame =
    Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        array_sort(array_distinct(expr(
          "transform(split(text, ' '), t -> xxhash64(t))"))).as("toks"))

  /** d4 candidate generation: PPJoin/AllPairs-style prefix filtering
    * (Bayardo et al. WWW'07; Xiao et al. WWW'08 — public algorithms).
    * Tokens get a global total order by (document frequency asc, hash)
    * — rarest first; a doc of n distinct tokens exposes only its first
    * p = n − ⌈τ·n⌉ + 1 tokens in that order. Any pair with Jaccard ≥ τ
    * shares its globally-smallest common token inside BOTH prefixes
    * (if that token sat in a's suffix, all common tokens would — but
    * the suffix holds ⌈τ·n⌉ − 1 < overlap tokens), so an equi-join on
    * (lang, source, prefix-token) recalls every qualifying pair
    * EXACTLY, at any scale. Candidates only ever meet inside a
    * prefix-token bucket whose size is that token's prefix document
    * frequency — rare-first ordering keeps those buckets small; no
    * all-pairs block join anywhere. The ⌈τ·n⌉ is computed as
    * ceil(τ·n − 1e-9) so a float excess of τ·n can only lengthen the
    * prefix (safe direction), never shorten it. */
  private[graft] def jaccardCandidates(spark: SparkSession, d: String,
                                       threshold: Double = 0.3): DataFrame = {
    // only (doc_id, lang, source, n, token-hash) rides the shuffles —
    // never the text or the full token array. The candidate stream
    // needs DISTINCT token hashes, not sorted ones (ordering is only
    // for the verify stage's merge walk), so it skips array_sort; and
    // explode_outer instead of explode keeps Catalyst from
    // synthesizing a `size(toks) > 0` guard below the projection —
    // that guard re-evaluated the whole tokenization expression once
    // in the filter and again in the project (r16; the dfreq equi-join
    // on t drops the null rows explode_outer emits, so the candidate
    // set is unchanged).
    val tok = Tables.documents(spark, d)
      .select(col("doc_id"), col("lang"), col("source"),
        array_distinct(expr(
          "transform(split(text, ' '), t -> xxhash64(t))")).as("dtoks"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("dtoks")).as("n"), explode_outer(col("dtoks")).as("t"))
    val dfreq = tok.groupBy(col("t")).agg(count(lit(1)).as("df"))
    val pref = tok.join(dfreq, "t")
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("t"))))
      .filter(col("rn") <= col("n") - ceil(lit(threshold) * col("n") - lit(1e-9)) + 1)
      .select(col("lang"), col("source"), col("t"), col("doc_id"),
        col("rn"), col("n"))
    val a = pref.select(col("lang"), col("source"), col("t"),
      col("doc_id").as("id_a"), col("rn").as("pa"), col("n").as("na"))
    val b = pref.select(col("lang"), col("source"), col("t"),
      col("doc_id").as("id_b"), col("rn").as("pb"), col("n").as("nb"))
    // Dedup multi-token matches via an aggregate that ALSO carries the
    // PPJoin filter inputs (r16): per-doc prefix positions follow ONE
    // global token order (df asc, t asc — df is a per-token global
    // count), so the pair's smallest common token has both min(pa) and
    // min(pb), and — PPJoin's positional bound — every common token
    // other than it sits strictly after both positions:
    //   |A ∩ B| ≤ 1 + min(na − pa₀, nb − pb₀).
    // J ≥ τ needs |A ∩ B| ≥ τ·(na+nb)/(1+τ) and min/max ≥ τ (the
    // length filter the verify stage used to apply AFTER attaching the
    // token arrays); both necessary conditions now cut the candidate
    // stream BEFORE the two token-array joins. The exact merge-walk
    // verify is unchanged, so rows are identical — the 1e-9 slack on
    // the positional compare keeps float-boundary pairs (the ceil
    // trick's safe direction).
    a.join(b, Seq("lang", "source", "t"))
      .filter(col("id_a") < col("id_b"))
      .groupBy(col("lang"), col("source"), col("id_a"), col("id_b"))
      .agg(min(col("pa")).as("pa0"), min(col("pb")).as("pb0"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .filter(least(col("na"), col("nb")).cast("double") /
        greatest(col("na"), col("nb")).cast("double") >= threshold)
      .filter((lit(1) + least(col("na") - col("pa0"), col("nb") - col("pb0")))
        .cast("double") >=
        lit(threshold) / (lit(1.0) + threshold) * (col("na") + col("nb")) - lit(1e-9))
      .select(col("lang"), col("source"), col("id_a"), col("id_b"))
  }

  /** d4: exact token-set Jaccard within (lang, source) blocks —
    * prefix-filtered candidates ([[jaccardCandidates]], exact recall)
    * then per-pair verification: a size-ratio prefilter (min/max ≥ τ
    * is necessary for J ≥ τ) and a sorted merge-walk intersection
    * over int64-hashed tokens (8-byte primitive compares; counts
    * preserved up to a ~2^-64 collision). Output is identical to the
    * all-pairs-within-block form the oracle runs, but no stage is
    * quadratic in a block's size. */
  def ngramJaccard(spark: SparkSession, d: String, threshold: Double = 0.3): DataFrame = {
    val docs = hashedTokenSets(spark, d)
    jaccardCandidates(spark, d, threshold)
      .join(docs.select(col("doc_id").as("id_a"), col("toks").as("toks_a")), Seq("id_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("toks").as("toks_b")), Seq("id_b"))
      .select(col("lang"), col("source"), col("id_a"), col("id_b"),
        col("toks_a"), col("toks_b"),
        size(col("toks_a")).as("na"), size(col("toks_b")).as("nb"))
      // the size-ratio prefilter now runs inside jaccardCandidates,
      // BEFORE the token arrays are attached (r16)
      .select(col("lang"), col("source"), col("id_a"), col("id_b"),
        graft.functions.text.sorted_intersect_count(col("toks_a"), col("toks_b")).as("inter"),
        col("na"), col("nb"))
      .filter(col("inter").cast("double") /
        (col("na") + col("nb") - col("inter")).cast("double") >= threshold)
      .select(col("lang"), col("source"), col("id_a"), col("id_b"))
      .orderBy(col("lang"), col("source"), col("id_a"), col("id_b"))
  }

  def ngramJaccardSql(threshold: Double = 0.3): String =
    s"""SELECT lang, source, id_a, id_b FROM (
       |  SELECT a.lang AS lang, a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
       |    CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |    CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
       |  FROM (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
       |  JOIN (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
       |    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
       |WHERE jaccard >= $threshold
       |ORDER BY lang, source, id_a, id_b""".stripMargin

  /** d6: duplicate-cluster resolution — collapse the near-dup pair
    * graph (d4's blocked Jaccard pairs) into connected components so
    * each cluster keeps one canonical doc. Distributed min-label
    * propagation: every iteration each node adopts the smallest label
    * among itself and its neighbors; converges in O(diameter)
    * iterations, each one a join + groupBy-min on the (small) edge
    * set — the standard Spark CC shape, no driver-side graph.
    */
  // the resolved component map is d6's output AND d8's input — one
  // pipeline materializes it once (result is already checkpointed)
  private val compCache = new graft.SessionCache[(String, Double, Int), DataFrame](
    16, _._1, org.apache.spark.sql.GraftBridge.unpersistPlanRdds)

  def dupComponents(spark: SparkSession, d: String, threshold: Double = 0.3,
                    maxIters: Int = 20): DataFrame =
    compCache.getOrElseUpdate(spark, (d, threshold, maxIters)) {
      dupComponentsUncached(spark, d, threshold, maxIters)
    }

  private def dupComponentsUncached(spark: SparkSession, d: String, threshold: Double,
                                    maxIters: Int): DataFrame =
    componentsOfPairs(cachedPairs(spark, d, threshold), maxIters)

  /** The memoized near-dup pair graph (d4's output): forward
    * (id_a < id_b) pairs at `threshold`, checkpointed once per
    * (dataset, threshold) — d6, d8, d12 and the p1 curation pipeline
    * all consume this single materialization. */
  private[graft] def cachedPairs(spark: SparkSession, d: String,
                                 threshold: Double): DataFrame =
    // materialize the pair generation once — components consume it
    // twice per iteration (forward + reversed), and every iteration
    // reads it. Memoized per (dataset, threshold): the pair graph is
    // d4's output and d6's input — a pipeline materializes it once.
    Dedup.pairsCache.getOrElseUpdate(spark, (d, threshold)) {
      ngramJaccard(spark, d, threshold)
        .select(col("id_a"), col("id_b")).localCheckpoint(true)
    }

  /** Connected components over an arbitrary (id_a, id_b) pair frame —
    * the label-propagation loop of d6, factored out so callers can
    * induce a subgraph first (the p1 curation pipeline restricts the
    * full pair graph to its exact-dedup survivors). Returns
    * (doc_id, cluster_id = component-min id); only ids that appear in
    * a pair come back — singletons are the caller's business. */
  private[graft] def componentsOfPairs(pairs: DataFrame,
                                       maxIters: Int = 20): DataFrame = {
    val edges = pairs
      .unionByName(pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
      .cache()
    val cached = scala.collection.mutable.ArrayBuffer[DataFrame](edges)
    val nodes = edges.select(col("id_a").as("id")).distinct()
    var labels = nodes.withColumn("root", col("id")).cache()
    cached += labels
    // Convergence probe: a propagation step only ever LOWERS labels,
    // so sum(root) strictly decreases iff any node changed — one
    // cheap aggregate per iteration instead of a join-and-compare.
    // sum() over an EMPTY frame is null: coalesce to 0 so a pair-less
    // dataset (high threshold) converges immediately instead of NPEing.
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("root")), lit(0L))).first().getLong(0)
    var prevSum = labelSum(labels)
    var converged = false
    var i = 0
    def step(l: DataFrame): DataFrame = edges
      .join(l, edges("id_a") === l("id"))
      .select(col("id_b").as("id"), col("root"))
      .unionByName(l)
      .groupBy(col("id"))
      .agg(min(col("root")).as("root"))
    while (!converged && i < maxIters) {
      // one propagation step per materialization — fusing two steps
      // per job was measured SLOWER (0.97+0.70s vs 0.54+0.37+0.37s at
      // sf0.1): the deeper uncached pipeline costs more than the
      // actions it saves
      val next = step(labels).cache()
      cached += next
      val t0 = System.nanoTime()
      val curSum = labelSum(next)
      if (sys.env.contains("GRAFT_DEBUG_CC"))
        println(s"[cc] iter $i sum=$curSum took ${(System.nanoTime()-t0)/1e9}s")
      labels = next
      converged = curSum == prevSum
      prevSum = curSum
      i += 1
    }
    // break lineage, then release every intermediate cache — a leaked
    // iteration cache steals storage memory from every later query
    val result = labels
      .select(col("id").as("doc_id"), col("root").as("cluster_id"))
      .orderBy(col("doc_id"))
      .localCheckpoint(true)
    cached.foreach(_.unpersist(blocking = false))
    result
  }

  def dupComponentsSql(threshold: Double = 0.3): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
       |    FROM (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
       |    JOIN (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
       |      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
       |  WHERE jaccard >= $threshold),
       |bidir AS (SELECT id_a, id_b FROM edges UNION SELECT id_b, id_a FROM edges),
       |reach(id, root) AS (
       |  SELECT id_a, id_a FROM bidir
       |  UNION
       |  SELECT b.id_b, r.root FROM reach r JOIN bidir b ON b.id_a = r.id)
       |SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id
       |ORDER BY doc_id""".stripMargin

  /** d8: canonical-document selection — the dedup pipeline's final
    * step: each near-dup cluster keeps exactly one survivor, chosen by
    * the keep-the-longest policy (max n_chars, tie on min doc_id —
    * all integers, so the argmax is engine-exact). Composes d6's
    * components with a per-cluster window argmax. */
  def canonicalDocs(spark: SparkSession, d: String, threshold: Double = 0.3): DataFrame = {
    val comps = dupComponents(spark, d, threshold)
    val meta = Tables.documents(spark, d).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy(col("cluster_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    comps.join(meta, "doc_id")
      .withColumn("rn", row_number().over(w))
      .withColumn("cluster_size", count(lit(1)).over(Window.partitionBy(col("cluster_id"))))
      .filter(col("rn") === 1)
      .select(col("cluster_id"), col("doc_id").as("canonical_id"),
        col("n_chars"), col("cluster_size"))
      .orderBy(col("cluster_id"))
  }

  def canonicalDocsSql(threshold: Double = 0.3): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
       |    FROM (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
       |    JOIN (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
       |      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
       |  WHERE jaccard >= $threshold),
       |bidir AS (SELECT id_a, id_b FROM edges UNION SELECT id_b, id_a FROM edges),
       |reach(id, root) AS (
       |  SELECT id_a, id_a FROM bidir
       |  UNION
       |  SELECT b.id_b, r.root FROM reach r JOIN bidir b ON b.id_a = r.id),
       |comp AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id)
       |SELECT cluster_id, doc_id AS canonical_id, n_chars, cluster_size FROM (
       |  SELECT c.cluster_id, c.doc_id, d.n_chars,
       |    row_number() OVER (PARTITION BY c.cluster_id
       |      ORDER BY d.n_chars DESC, c.doc_id ASC) AS rn,
       |    count(*) OVER (PARTITION BY c.cluster_id) AS cluster_size
       |  FROM comp c JOIN documents d ON c.doc_id = d.doc_id)
       |WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  /** d12: soft-dedup training weights — the keep-everything
    * alternative to d8's hard survivor cut: every document stays in
    * the mix, but members of a near-dup cluster share one document's
    * worth of sampling mass (weight = 1/cluster_size — the standard
    * repetition-discounting move for web-scale training mixes, where
    * dropping near-dups outright loses the cluster's best formatting
    * variants). Composes d6's components with a left join back to
    * the full document table; singletons get cluster_id = doc_id and
    * weight 1. All-integer sizes → the weight is a single exact
    * division, engine-identical. */
  def dupWeights(spark: SparkSession, d: String, threshold: Double = 0.3): DataFrame = {
    val comps = dupComponents(spark, d, threshold)
    val sizes = comps.groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
    Tables.documents(spark, d).select(col("doc_id"))
      .join(comps, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("cluster_id"))
      .join(sizes, Seq("cluster_id"), "left")
      .select(col("doc_id"), col("cluster_id"),
        coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .withColumn("weight", round(lit(1.0) / col("cluster_size"), 6))
      .select(col("doc_id"), col("cluster_id"), col("cluster_size"), col("weight"))
      .orderBy(col("doc_id"))
  }

  def dupWeightsSql(threshold: Double = 0.3): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT id_a, id_b FROM (
       |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |      CAST(len(list_intersect(a.toks, b.toks)) AS DOUBLE) /
       |      CAST(len(a.toks) + len(b.toks) - len(list_intersect(a.toks, b.toks)) AS DOUBLE) AS jaccard
       |    FROM (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) a
       |    JOIN (SELECT doc_id, lang, source, list_distinct(string_split(text, ' ')) AS toks FROM documents) b
       |      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id)
       |  WHERE jaccard >= $threshold),
       |bidir AS (SELECT id_a, id_b FROM edges UNION SELECT id_b, id_a FROM edges),
       |reach(id, root) AS (
       |  SELECT id_a, id_a FROM bidir
       |  UNION
       |  SELECT b.id_b, r.root FROM reach r JOIN bidir b ON b.id_a = r.id),
       |comp AS (SELECT id AS doc_id, min(root) AS cluster_id FROM reach GROUP BY id),
       |sizes AS (SELECT cluster_id, count(*) AS cluster_size FROM comp GROUP BY cluster_id)
       |SELECT d.doc_id,
       |  coalesce(c.cluster_id, d.doc_id) AS cluster_id,
       |  coalesce(s.cluster_size, 1) AS cluster_size,
       |  round(1.0 / coalesce(s.cluster_size, 1), 6) AS weight
       |FROM documents d
       |LEFT JOIN comp c ON d.doc_id = c.doc_id
       |LEFT JOIN sizes s ON c.cluster_id = s.cluster_id
       |ORDER BY d.doc_id""".stripMargin

  /** d5: embedding-cosine near-dup pairs within label blocks — ids
    * only in the output so float rounding can't break the oracle.
    *
    * At τ = 0.35 the angular radius is acos(0.35) ≈ 69.5°: wider than
    * the data's own spread (background same-label pairs concentrate at
    * cos ≈ 0, qualifying pairs run continuously through the threshold
    * down to 0.335), so NO sub-quadratic candidate generator can be
    * exact — SRP-LSH at this τ needs hundreds of bands before recall
    * ≈ 1 and then shuffles more than all-pairs, and any metric-tree /
    * multi-probe bound degenerates when the query radius exceeds the
    * data diameter. The exact low-τ form is therefore executed as a
    * load-balanced BLOCK-MATRIX join (the v16 shape): each label's
    * vectors are hashed into ⌈n/chunkSize⌉ chunks and each unordered
    * chunk pair meets in exactly one task, so the irreducible O(n²)
    * comparison work spreads evenly across the cluster in bounded-
    * memory C² tiles instead of one per-label SortMergeJoin task
    * materializing the whole block. Replication factor is the
    * unavoidable n/C block-matrix communication, chosen by chunkSize.
    * For the genuine near-dup regime (τ ≳ 0.7) use
    * [[SrpBanded.srpBandedNearDup]], which is banded AND oracle-exact
    * by construction. */
  def embeddingNearDup(spark: SparkSession, d: String, tau: Double = 0.35,
                       chunkSize: Int = 4096): DataFrame = {
    val emb = Tables.embeddings(spark, d)
      .select(col("label"), col("vec_id"), col("embedding"))
    // per-label chunk counts: bounded model state (one row per label),
    // broadcast back — same pattern as k-means centroids in IvfIndex
    val nc = emb.groupBy(col("label")).agg(
      ceil(count(lit(1)).cast("double") / chunkSize).cast("int").as("nc"))
    val chunked = emb.join(broadcast(nc), "label")
      .withColumn("ci", pmod(xxhash64(col("vec_id")), col("nc")).cast("int"))
    // left side carries chunk ci to every partner pair (ci, cj ≥ ci);
    // right side carries chunk cj to every (ci ≤ cj, cj): each
    // unordered chunk pair materializes in exactly one join bucket
    val left = chunked.select(col("label"), col("ci"),
      explode(expr("sequence(ci, nc - 1)")).as("cj"),
      col("vec_id").as("id_l"), col("embedding").as("emb_l"))
    val right = chunked.select(col("label"), col("ci").as("cj"),
      explode(expr("sequence(0, ci)")).as("ci"),
      col("vec_id").as("id_r"), col("embedding").as("emb_r"))
    left.join(right, Seq("label", "ci", "cj"))
      // diagonal tiles see both orientations of a pair — keep one
      .filter(col("ci") < col("cj") || col("id_l") < col("id_r"))
      .filter(vectors.cosine_sim(col("emb_l"), col("emb_r")) >= tau)
      .select(col("label"),
        least(col("id_l"), col("id_r")).as("id_a"),
        greatest(col("id_l"), col("id_r")).as("id_b"))
      .orderBy(col("label"), col("id_a"), col("id_b"))
  }

  def embeddingNearDupSql(tau: Double = 0.35): String =
    s"""SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b
       |FROM embeddings a JOIN embeddings b
       |  ON a.label = b.label AND a.vec_id < b.vec_id
       |WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])) >= $tau
       |ORDER BY label, id_a, id_b""".stripMargin

  /** d11: SemDeDup — cluster-then-dedup semantic pruning (Abbas et
    * al. 2023, arXiv:2303.09540): k-means the embeddings, compare
    * pairs ONLY within a cluster, and for every pair with cosine ≥ τ
    * drop the member closer to its cluster centroid (the paper's
    * diversity-keep: survivors sit at the cluster fringe), ties on
    * the smaller id. Output is the full per-vector decision table.
    *
    * Scale shape — the whole point of SemDeDup is that clustering
    * bounds the quadratic: k grows with the corpus so cluster size
    * stays ~constant, and the within-cluster O(m²) runs as the d5/v16
    * load-balanced chunked block-matrix join (each unordered chunk
    * pair meets in exactly one bounded-memory task — never one
    * SortMergeJoin task materializing a whole cluster²). Everything
    * else is map-only: the coarse model rides as a broadcast reference
    * object inside codegen'd kernels (assignment AND the centroid
    * distance are computed per-row with no join), and the removal set
    * shuffles ids only. Training is the shared integer-exact Lloyd
    * model ([[IvfIndex.fitCached]] — same cached model v5/v6/v14 use),
    * so the DuckDB oracle replays the entire pipeline bit-for-bit,
    * keep/remove comparisons included. */
  def semDedup(spark: SparkSession, d: String, tau: Double = 0.35,
               k: Int = 16, iters: Int = 5, chunkSize: Int = 4096): DataFrame = {
    val model = IvfIndex.fitCached(spark, d, k, iters)
    // same null/dim gate as the oracle's qt/af CTEs (and the cleanEmb
    // idiom in Hnsw/SrpBanded): dirty rows must not emit decision rows
    val emb = Tables.embeddings(spark, d)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val q = IvfIndex.quantize(col("embedding"))
    val assigned = emb.select(col("vec_id"), col("embedding"),
      vectors.closest_centroid(q, model.centroids).as("list_id"),
      vectors.nearest_centroid_dist(q, model.centroids).as("cdist"))
    // per-cluster chunk counts: bounded model state (k rows), broadcast
    val nc = assigned.groupBy(col("list_id")).agg(
      ceil(count(lit(1)).cast("double") / chunkSize).cast("int").as("nc"))
    val chunked = assigned.join(broadcast(nc), "list_id")
      .withColumn("ci", pmod(xxhash64(col("vec_id")), col("nc")).cast("int"))
    val left = chunked.select(col("list_id"), col("ci"),
      explode(expr("sequence(ci, nc - 1)")).as("cj"),
      col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("cdist").as("cd_a"))
    val right = chunked.select(col("list_id"), col("ci").as("cj"),
      explode(expr("sequence(0, ci)")).as("ci"),
      col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("cdist").as("cd_b"))
    val removed = left.join(right, Seq("list_id", "ci", "cj"))
      .filter(col("ci") < col("cj") || col("id_a") < col("id_b"))
      .filter(vectors.cosine_sim(col("emb_a"), col("emb_b")) >= tau)
      // un-orient: the tile layout doesn't promise id_a < id_b on the
      // diagonal, but the keep rule is symmetric so it doesn't care
      .select(when(col("cd_a") < col("cd_b"), col("id_a"))
        .when(col("cd_b") < col("cd_a"), col("id_b"))
        .otherwise(greatest(col("id_a"), col("id_b"))).as("vec_id"))
      .distinct()
    assigned.join(removed.withColumn("rm", lit(1)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("list_id"),
        when(col("rm").isNull, 1).otherwise(0).cast("int").as("kept"))
      .orderBy(col("vec_id"))
  }

  /** d11 oracle: the replayed k-means ([[IvfIndex.fitCtes]]) extended
    * with the assignment-distance column, the within-cluster pair
    * scan, and the same keep/remove CASE. */
  def semDedupSql(tau: Double = 0.35, k: Int = 16, iters: Int = 5,
                  dim: Int = 64): String =
    s"""WITH ${IvfIndex.fitCtes(k, iters, dim)},
       |cd AS MATERIALIZED (
       |  SELECT t.vec_id, a.list_id, ${IvfIndex.distSql("t.q", "c.c", dim)} AS cdist
       |  FROM qt t JOIN af a USING (vec_id) JOIN cent$iters c ON a.list_id = c.list_id),
       |pairs AS MATERIALIZED (
       |  SELECT a.vec_id AS id_a, a.cdist AS cd_a, b.vec_id AS id_b, b.cdist AS cd_b
       |  FROM cd a JOIN cd b ON a.list_id = b.list_id AND a.vec_id < b.vec_id
       |  JOIN embeddings ea ON ea.vec_id = a.vec_id
       |  JOIN embeddings eb ON eb.vec_id = b.vec_id
       |  WHERE list_cosine_similarity(CAST(ea.embedding AS DOUBLE[]), CAST(eb.embedding AS DOUBLE[])) >= $tau),
       |removed AS (
       |  SELECT DISTINCT CASE WHEN cd_a < cd_b THEN id_a
       |                       WHEN cd_b < cd_a THEN id_b
       |                       ELSE greatest(id_a, id_b) END AS vec_id
       |  FROM pairs)
       |SELECT a.vec_id, a.list_id,
       |  CAST(CASE WHEN r.vec_id IS NULL THEN 1 ELSE 0 END AS INTEGER) AS kept
       |FROM af a LEFT JOIN removed r USING (vec_id)
       |ORDER BY a.vec_id""".stripMargin

  /** d7: train/eval contamination check — the decontamination pass an
    * LLM pipeline runs before training: which training docs share
    * suspiciously many word n-grams with an eval-set doc. Split here
    * is deterministic (odd doc_id = eval, even = train); n-grams are
    * hashed to int64 BEFORE the shuffle so the equi-join moves 8-byte
    * keys, not strings (same trick as d4 — the oracle joins the
    * strings, counts agree up to a ~2^-64 collision). Per-doc n-gram
    * sets are deduped before the join, so n_shared counts distinct
    * shared trigrams. */
  def contamination(spark: SparkSession, d: String, minShared: Int = 3,
                    maxDf: Int = 1000): DataFrame = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    // multi-arg xxhash64 chains the three tokens' hashes (boundary-
    // preserving — each arg seeds the next) instead of allocating a
    // concatenated trigram string per gram; the hash is internal (only
    // join equality matters, the oracle joins the strings), so the
    // output is unchanged up to the same ~2^-64 collision class (r16)
    val allGrams = docs.select(col("doc_id"), explode(array_distinct(expr(
      "transform(sequence(0, size(toks)-3), " +
        "i -> xxhash64(toks[i], toks[i+1], toks[i+2]))"))).as("ng"))
    // Document-frequency cap — the 100 TB guard: a stop-gram appearing
    // in df docs creates O(df²) join rows while carrying no
    // contamination signal. ON by default (the shipped plan is the
    // 100 TB plan; the oracle applies the same cap); Int.MaxValue is
    // the explicit opt-out.
    // df as a window count over ng rather than a groupBy+self-join:
    // ONE exchange by ng that the eval×train equi-join below then
    // reuses (both branches arrive hash-partitioned by ng) — 5
    // exchanges instead of 7 end-to-end, and the gram set is
    // exploded/shuffled once instead of twice
    val grams =
      if (maxDf == Int.MaxValue) allGrams
      else allGrams
        .withColumn("df", count(lit(1)).over(Window.partitionBy(col("ng"))))
        .filter(col("df") <= maxDf)
        .drop("df")
    // Equi-join of the two parity halves on the hashed n-gram. Each
    // branch re-scans + re-explodes (cheap, fully codegen'd); the
    // measured alternative — one groupBy(ng) with collect_set posting
    // lists — was slower (per-group buffering) and risks stop-gram
    // memory blowups at scale.
    val evalG = grams.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("eval_id"), col("ng"))
    val trainG = grams.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("train_id"), col("ng"))
    evalG.join(trainG, "ng")
      .groupBy(col("eval_id"), col("train_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy(col("eval_id"), col("train_id"))
  }

  def contaminationSql(minShared: Int = 3, maxDf: Int = 1000): String =
    s"""WITH grams0 AS (
       |  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(range(1, len(toks)-1),
       |    i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))) AS ng
       |  FROM (SELECT doc_id, string_split(text, ' ') AS toks FROM documents
       |        WHERE len(string_split(text, ' ')) >= 3)),
       |rare AS (SELECT ng FROM grams0 GROUP BY ng HAVING count(*) <= $maxDf),
       |grams AS (SELECT g.doc_id, g.ng FROM grams0 g JOIN rare USING (ng))
       |SELECT e.doc_id AS eval_id, t.doc_id AS train_id, count(*) AS n_shared
       |FROM grams e JOIN grams t ON e.ng = t.ng AND e.doc_id % 2 = 1 AND t.doc_id % 2 = 0
       |GROUP BY 1, 2 HAVING count(*) >= $minShared
       |ORDER BY eval_id, train_id""".stripMargin

  /** d10: sub-document chunk dedup (the C4/RefinedWeb move at chunk
    * granularity) — split every doc into fixed 16-token chunks, hash
    * each, keep the globally FIRST occurrence of every hash (ordered
    * by (doc_id, chunk_idx)), and report the per-document duplicated-
    * chunk fraction a cleaning pass would strip.
    *
    * Shuffle carries (hash, doc_id, chunk_idx) — 16 bytes + 2 ints
    * per chunk, never the text. One exchange on the hash for the
    * first-occurrence window, one narrow re-agg per doc. Keeper
    * choice is row_number over the unique (doc_id, chunk_idx) key —
    * tie-free, deterministic in both engines. */
  def chunkDedup(spark: SparkSession, d: String, chunkTokens: Int = 16): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, d)
    val chunks = docs
      .select(col("doc_id"), split(col("text"), " ").as("ts"))
      .select(col("doc_id"),
        posexplode(expr(
          s"transform(sequence(0, cast(floor((size(ts) - 1) / $chunkTokens) as int)), " +
          s"i -> md5(array_join(slice(ts, i * $chunkTokens + 1, $chunkTokens), ' ')))"))
          .as(Seq("chunk_idx", "h")))
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("chunk_idx"))
    chunks
      .select(col("doc_id"), col("h"),
        (row_number().over(w) === 1).as("keeper"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("keeper"), 0L).otherwise(1L)).as("n_dup_chunks"))
      .withColumn("dup_frac",
        col("n_dup_chunks").cast("double") / col("n_chunks"))
      .orderBy(col("doc_id"))
  }

  def chunkDedupSql(chunkTokens: Int = 16): String =
    s"""WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents),
       |ch AS (
       |  SELECT doc_id, i AS chunk_idx,
       |    md5(array_to_string(ts[(i * $chunkTokens + 1):((i + 1) * $chunkTokens)], ' ')) AS h
       |  FROM toks, UNNEST(range(CAST(floor((len(ts) - 1) / $chunkTokens) AS BIGINT) + 1)) AS t(i)),
       |k AS (
       |  SELECT doc_id,
       |    row_number() OVER (PARTITION BY h ORDER BY doc_id, chunk_idx) = 1 AS keeper
       |  FROM ch)
       |SELECT doc_id, count(*) AS n_chunks,
       |  CAST(sum(CASE WHEN keeper THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_chunks,
       |  CAST(sum(CASE WHEN keeper THEN 0 ELSE 1 END) AS DOUBLE) / count(*) AS dup_frac
       |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
