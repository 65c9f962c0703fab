package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.{vectors, FakeEmbedder, TextHash}

class VectorFunctionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("cosine_sim / l2_dist / dot_product match hand-computed values") {
    val df = Seq((Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(1f, 2f, 2f), Array(1f, 2f, 2f)),
      (Array(3f, 4f, 0f), Array(0f, 0f, 0f))).toDF("a", "b")
    val r = df.select(
      vectors.cosine_sim($"a", $"b").as("cos"),
      vectors.l2_dist($"a", $"b").as("l2"),
      vectors.dot_product($"a", $"b").as("dot")).collect()
    assert(math.abs(r(0).getDouble(0)) < 1e-12)
    assert(math.abs(r(0).getDouble(1) - math.sqrt(2)) < 1e-12)
    assert(r(0).getDouble(2) == 0.0)
    assert(math.abs(r(1).getDouble(0) - 1.0) < 1e-12)
    assert(r(1).getDouble(1) == 0.0)
    assert(math.abs(r(1).getDouble(2) - 9.0) < 1e-12)
    assert(r(2).getDouble(0) == 0.0) // zero-vector guard
  }

  test("codegen and interpreted paths agree") {
    val df = Seq((Array(0.3f, -1.2f, 5.5f, 0.01f), Array(2.2f, 0.4f, -3.3f, 1.0f))).toDF("a", "b")
    val gen = df.select(vectors.cosine_sim($"a", $"b")).head.getDouble(0)
    val prev = spark.conf.getOption("spark.sql.codegen.wholeStage")
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try {
      val interp = df.select(vectors.cosine_sim($"a", $"b")).head.getDouble(0)
      assert(gen == interp)
    } finally {
      spark.conf.set("spark.sql.codegen.wholeStage", prev.getOrElse("true"))
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
  }

  test("hamming_distance: codegen, interpreted and the per-band literal sum agree") {
    import graft.operators.{HammingDistance, SrpBanded}
    val rng = new scala.util.Random(7)
    val q = Array.fill(SrpBanded.Bands)(rng.nextLong())
    def keys(): Seq[Option[Long]] = Seq.fill(SrpBanded.Bands)(Some(rng.nextLong()))
    val cases: Seq[Option[Seq[Option[Long]]]] =
      Seq.fill(6)(Some(keys())) ++ Seq(
        Some(q.toSeq.map(Some(_))), // distance 0
        Some(q.toSeq.map(k => Some(~k))), // every bit differs
        None, // null keys
        Some(keys().updated(0, None)), // a null first band
        Some(keys().updated(SrpBanded.Bands - 1, None))) // a null last band
    // repartition: keeps the projection out of local-relation folding,
    // so the default run really goes through whole-stage codegen
    val df = cases.zipWithIndex.map { case (k, i) => (i, k) }.toDF("i", "keys").repartition(2)
    val kernel = org.apache.spark.sql.GraftBridge.column(
      HammingDistance(org.apache.spark.sql.GraftBridge.expression($"keys"), q))
    val literalSum = (0 until SrpBanded.Bands).map { b =>
      bit_count(element_at($"keys", b + 1).bitwiseXOR(lit(q(b))))
    }.reduce(_ + _).cast("int")
    def run(c: org.apache.spark.sql.Column): Map[Int, Option[Int]] =
      df.select($"i", c).collect().map(r =>
        r.getInt(0) -> (if (r.isNullAt(1)) None else Some(r.getInt(1)))).toMap
    val gen = run(kernel)
    val viaLiterals = run(literalSum)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    val interp = try run(kernel) finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    assert(gen == viaLiterals && interp == viaLiterals, s"$gen / $interp / $viaLiterals")
    assert(gen(6).contains(0) && gen(7).contains(64 * SrpBanded.Bands))
    assert(Seq(8, 9, 10).forall(gen(_).isEmpty), "null keys or a null band must give null")
  }

  test("SQL registration works") {
    vectors.register(spark)
    val r = spark.sql(
      "SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c")
      .head.getDouble(0)
    assert(math.abs(r - 1.0) < 1e-12)
  }

  test("FakeEmbedder: deterministic, unit-norm, text-sensitive") {
    val a = FakeEmbedder.embed("hello world this is a test")
    val b = FakeEmbedder.embed("hello world this is a test")
    val c = FakeEmbedder.embed("a completely different sentence")
    assert(a.toSeq == b.toSeq)
    assert(a.toSeq != c.toSeq)
    assert(a.length == FakeEmbedder.Dim)
    val norm = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
    assert(math.abs(norm - 1.0) < 1e-5)
    // expression path must equal driver path
    val viaExpr = Seq("hello world this is a test").toDF("t")
      .select(vectors.embed_text($"t")).head.getSeq[Float](0)
    assert(viaExpr == a.toSeq)
  }

  test("GraftExtensions wires functions + as-of strategy into a fresh session") {
    import org.apache.spark.sql.SparkSession
    val base = spark // force init of the shared session first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[4]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions())
        .getOrCreate()
      val r = s2.sql(
        "SELECT cosine_sim(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>), CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c")
        .head().getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      val e = s2.sql("SELECT embed_text('hello') AS e").head().getSeq[Float](0)
      assert(e.length == graft.functions.FakeEmbedder.Dim)
      // the extension surface must match vectors.register exactly
      val sh = s2.sql("SELECT char_shingles('hello world', 3) AS s").head().getSeq[String](0)
      assert(sh.nonEmpty && sh.forall(_.length == 3))
      val mh = s2.sql("SELECT minhash_sig('hello world', 5, 8) AS m").head().getSeq[Long](0)
      assert(mh.length == 8)
      val tk = s2.sql(
        """SELECT explode(top_k_pairs(id, s, 1)) AS p FROM
          |  (SELECT * FROM VALUES (CAST(1 AS BIGINT), 0.2), (CAST(2 AS BIGINT), 0.9) AS t(id, s))""".stripMargin)
        .collect()
      assert(tk.length == 1)
      // wrong-typed vector args must fail ANALYSIS, not read garbage
      val err = intercept[Exception] {
        s2.sql("SELECT cosine_sim(array(1.0, 0.0), array(1.0, 0.0))").head()
      }
      assert(err.getMessage.contains("array<float>"), err.getMessage)
    } finally {
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("top_k_pairs works from SQL") {
    import spark.implicits._
    vectors.register(spark)
    Seq((1L, 10L, 0.3), (1L, 11L, 0.9), (1L, 12L, 0.5)).toDF("q", "id", "s")
      .createOrReplaceTempView("tkp_in")
    val r = spark.sql(
      """SELECT q, p.neighbor_id, p.score
        |FROM (SELECT q, explode(top_k_pairs(id, s, 2)) AS p FROM tkp_in GROUP BY q)""".stripMargin)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSet
    assert(r == Set((1L, 11L, 0.9), (1L, 12L, 0.5)))
  }

  test("constant arguments fold at plan time") {
    import org.apache.spark.sql.functions._
    val plan = spark.range(1)
      .select(vectors.cosine_sim(
        vectors.embed_text(lit("some query")),
        vectors.embed_text(lit("some query"))).as("c"))
      .queryExecution.optimizedPlan.toString
    // after ConstantFolding the projection is a literal 1.0 — no
    // embed/cosine calls survive into the per-row plan
    assert(!plan.contains("embed_text") && !plan.contains("cosine_sim"), plan)
  }

  test("TextHash: shingles, minhash, simhash basics") {
    assert(TextHash.shingles("abcd", 3).toSeq == Seq("abc", "bcd"))
    assert(TextHash.shingles("ab", 3).isEmpty)
    val s1 = TextHash.minhash("the quick brown fox jumps over the lazy dog", 5, 32)
    val s2 = TextHash.minhash("the quick brown fox jumps over the lazy dog", 5, 32)
    val s3 = TextHash.minhash("entirely unrelated content with other words", 5, 32)
    assert(s1.toSeq == s2.toSeq)
    assert(s1.toSeq != s3.toSeq)
    assert(TextHash.simhash("same text here") == TextHash.simhash("same text here"))
    assert(TextHash.shingleJaccard("abcdefgh", "abcdefgh", 5) == 1.0)
    assert(TextHash.shingleJaccard("abcdefgh", "zzzzzzzz", 5) == 0.0)
  }

  test("minhash similarity estimates jaccard") {
    val base = "the quick brown fox jumps over the lazy dog again and again in the field"
    val near = base + " today"
    val s1 = TextHash.minhash(base, 5, 128)
    val s2 = TextHash.minhash(near, 5, 128)
    val est = s1.zip(s2).count { case (x, y) => x == y }.toDouble / 128
    val actual = TextHash.shingleJaccard(base, near, 5)
    assert(math.abs(est - actual) < 0.25)
  }
}
