package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{FakeEmbedder, bound}
import graft.operators.{HammingIndex, Hnsw, SimilaritySearch, SrpBanded}
import graft.sources.{CodeStore, EdgeStore, FilteredServe, HnswStore, SigStore}

/** Request values bind by reference: once a serve shape is warm, a
  * request with NEW values reuses the compiled classes, so it compiles
  * no more than an identical repeat does. The repeat, not 0, is the
  * baseline — Spark's shared codegen cache may evict between calls.
  * Each serve's rows also equal those of the inlined-literal form
  * (`===` / `isin` / the per-band `bit_count(... XOR lit)` sum) the
  * binding replaced. */
class ServeCodegenSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  import spark.implicits._

  private def compiles[T](f: => T): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** warm `serve(a)` twice (a code or signature image is built on its
    * stamp's second serve), then: each request with new values
    * compiles no more than a repeat of `a`; returns the rows of the
    * first new request */
  private def reuses[A](name: String, serve: A => DataFrame, a: A, news: A*): Seq[Row] = {
    rows(serve(a))
    rows(serve(a))
    val repeat = compiles(rows(serve(a)))
    news.zipWithIndex.map { case (b, i) =>
      var got = Seq.empty[Row]
      val fresh = compiles { got = rows(serve(b)) }
      info(s"$name: repeat compiled $repeat, new request ${i + 1} compiled $fresh")
      assert(fresh <= repeat, s"$name: a request with new values compiled $fresh classes, " +
        s"an identical repeat $repeat")
      got
    }.head
  }

  private val qa = FakeEmbedder.embed("fast vector search over spark tables")
  private val qb = FakeEmbedder.embed("incremental near duplicate detection for crawls")

  test("lookup: a new id reuses the compiled plan; rows equal the === form") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0))
    val got = reuses[Long]("lookup",
      id => SimilaritySearch.recordById(docs, "doc_id", id), ids(0), ids(1))
    assert(got.nonEmpty && got == rows(docs.filter(col("doc_id") === ids(1))))
    val plan = SimilaritySearch.recordById(docs, "doc_id", ids(1))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(doc_id"), s"lookup not pushed to the scan:\n$plan")
  }

  test("code serve: a new query reuses the compiled plans; rows equal the literal form") {
    val dir = Files.createTempDirectory("codegen-code").toString
    try {
      CodeStore.write(spark, sf, dir)
      val got = reuses[Array[Float]]("code", q => CodeStore.search(spark, dir, q), qa, qb)
      assert(CodeStore.lastShortlistSource == "resident")
      // the distributed shortlist and fetch the image replaces
      assert(StoreFixtures.atBudget(0L)(reuses[Array[Float]]("code at budget 0",
        q => CodeStore.search(spark, dir, q), qa, qb)) == got)
      assert(CodeStore.lastShortlistSource == "pruned")
      // the inlined form: per-band literal XOR sum, shortlist, rerank
      val qk = SrpBanded.queryBandKeys(qb).map(_._2)
      val ham = (0 until SrpBanded.Bands).map { b =>
        bit_count(element_at(col("keys"), b + 1).bitwiseXOR(lit(qk(b))))
      }.reduce(_ + _).cast("int")
      val short = HammingIndex.coded(spark, sf)
        .select(col("vec_id"), col("embedding"), ham.as("ham"))
        .orderBy(col("ham").asc, col("vec_id").asc).limit(HammingIndex.Shortlist)
      assert(got == rows(HammingIndex.rerank(short, qb, 10)))
    } finally graft.sources.TempStores.delete(dir)
  }

  test("HNSW serve: a new query reuses the compiled plans; rows equal the isin form") {
    val dir = Files.createTempDirectory("codegen-hnsw").toString
    try {
      HnswStore.write(spark, sf, dir)
      val got = reuses[Array[Float]]("hnsw", q => HnswStore.search(spark, dir, q), qa, qb)
      // the same walk with the layer-0 hop read as the inlined isin filter
      val pool = Hnsw.descentPoolBy(spark, HnswStore.storedEntry(spark, dir), qb,
        (l, fr) => Hnsw.fetchScoredLocal(HnswStore.localLayers(spark, dir)(l), fr, qb))
      val ref = SrpBanded.graphSearchFromLocal(spark, pool, k = 10,
        beam = 16, iters = 3, maxEntries = 64,
        fetchScored = fr => Hnsw.fetchScoredDf(EdgeStore.read(spark, s"$dir/l0")
          .filter(col("src").isin(fr: _*)), qb))
      assert(got == rows(ref))
    } finally graft.sources.TempStores.delete(dir)
  }

  test("filtered exact tier: a new query reuses the compiled plans") {
    val dir = Files.createTempDirectory("codegen-meta").toString
    try {
      FilteredServe.writeMeta(spark, sf, dir)
      val pred = Seq("lang" -> "en")
      val got = reuses[Array[Float]]("filtered", q => FilteredServe.searchFiltered(
        spark, sf, dir, "/nonexistent/edge-store", q, pred, k = 5,
        exactScanMax = Long.MaxValue), qa, qb)
      assert(FilteredServe.lastFilteredPath == "exact")
      // exact top-5 of the matching rows, straight from the corpus
      val en = Tables.documents(spark, sf).filter(col("lang") === "en").select(col("doc_id"))
      val exact = Tables.embeddings(spark, sf)
        .join(en, col("vec_id") === col("doc_id"))
        .select(col("vec_id"), graft.functions.vectors.cosine_sim(col("embedding"),
          typedLit(qb)).as("sim"))
        .orderBy(col("sim").desc, col("vec_id")).limit(5)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
      assert(got == rows(SrpBanded.topKCut(spark, exact, 5)))
    } finally graft.sources.TempStores.delete(dir)
  }

  test("near-dup of one document: a new request reuses the compiled plans; rows equal the joined form") {
    val dir = Files.createTempDirectory("codegen-sig").toString
    try {
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      SigStore.write(spark, docs, dir)
      val texts = docs.orderBy(col("doc_id")).limit(8).collect()
        .map(r => (r.getLong(0), r.getString(1)))
      // each request echoes a stored text under a new id: one planted
      // pair each; among these, some requests' bands share a bg set
      def req(i: Int): DataFrame = Seq((1000000L + i, texts(i)._2)).toDF("doc_id", "text")
      val got = reuses[Int]("near-dup",
        i => SigStore.incrementalNearDup(spark, dir, req(i)), 0, 1 to 7: _*)
      assert(SigStore.lastProbeSource == "resident" && SigStore.lastTextSource == "resident")
      // the pruned point reads the images replace
      assert(StoreFixtures.atBudget(0L)(reuses[Int]("near-dup at budget 0",
        i => SigStore.incrementalNearDup(spark, dir, req(i)), 0, 1 to 7: _*)) == got)
      assert(SigStore.lastProbeSource == "pruned" && SigStore.lastTextSource == "pruned")
      assert(got.exists(r => r.toSeq.contains(texts(1)._1)), s"planted pair missing: $got")
      // the joined probe carries no request-derived set at all
      val joined = rows(SigStore.incrementalNearDup(spark, dir, req(1), probeCollectMax = 0))
      assert(SigStore.lastProbeSource == "joined")
      assert(got.toSet == joined.toSet)
    } finally graft.sources.TempStores.delete(dir)
  }

  test("bound.isin equals isin: long and int columns, partition columns, nulls, empty sets") {
    val root = Files.createTempDirectory("codegen-isin").toString
    val dir = s"$root/t"
    try {
      Seq[(Option[Long], Int, Int)]((Some(1L), 1, 0), (Some(2L), 2, 1), (None, 3, 0),
        (Some(5L), 5, 1), (Some(7L), 7, 0))
        .toDF("id", "n", "p").write.partitionBy("p").parquet(dir)
      val df = spark.read.parquet(dir)
      def ids(f: DataFrame): Set[Int] = f.select(col("n")).collect().map(_.getInt(0)).toSet
      for (vs <- Seq(Seq.empty[Long], Seq(2L), Seq(1L, 5L, 99L), (0L until 20L))) {
        assert(ids(df.filter(bound.isin(col("id"), vs))) == ids(df.filter(col("id").isin(vs: _*))))
        assert(ids(df.filter(bound.isin(col("n"), vs))) == ids(df.filter(col("n").isin(vs: _*))))
        assert(ids(df.filter(bound.isin(col("p"), vs))) == ids(df.filter(col("p").isin(vs: _*))))
      }
      val plan = df.filter(bound.isin(col("p"), Seq(1L))).queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: ["), s"partition column not pruned:\n$plan")
    } finally graft.sources.TempStores.delete(root)
  }
}
