package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftBridge, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.operators.{Hnsw, SimilaritySearch, SrpBanded}
import graft.sources.{CodeStore, EdgeStore, FilteredServe, HnswStore, Resident, SigStore, SrpStore, StoreLayout}

/** How many Spark jobs one warm single-request serve runs — the job
  * count is the serve's scheduling cost, so a plan change that adds a
  * job shows here before it shows in a benchmark. Jobs are counted per
  * request through its job group (the status tracker), after two warm-up
  * requests of the same shape with other values (a code or signature
  * image is built on its stamp's second serve). */
class ServeJobsSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  import spark.implicits._

  private var seq = 0
  /** Spark jobs `serve` runs to its collected rows */
  private def jobs(serve: => DataFrame): Int = {
    seq += 1
    val group = s"serve-jobs-$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try serve.collect() finally sc.clearJobGroup()
    GraftBridge.drainListenerBus(spark)
    sc.statusTracker.getJobIdsForGroup(group).length
  }

  /** warm `serve(a)` twice, then the job count of `serve(b)`, checked */
  private def warmJobs[A](name: String, serve: A => DataFrame, a: A, b: A, max: Int): Unit = {
    serve(a).collect()
    serve(a).collect()
    val n = jobs(serve(b))
    info(s"$name: $n jobs")
    assert(n <= max, s"$name: a warm request ran $n jobs, bound $max")
  }

  private val qa = FakeEmbedder.embed("fast vector search over spark tables")
  private val qb = FakeEmbedder.embed("incremental near duplicate detection for crawls")

  test("near-dup: 0 jobs resident; echo 2, fresh 1 at budget 0") {
    val dir = Files.createTempDirectory("jobs-sig").toString
    try {
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      SigStore.write(spark, docs, dir)
      val texts = docs.orderBy(col("doc_id")).limit(2).collect().map(_.getString(1))
      def req(id: Long, t: String): DataFrame = Seq((id, t)).toDF("doc_id", "text")
      // an echo of a stored text: one planted pair, its stored text fetched
      val echo = (i: Int) => SigStore.incrementalNearDup(spark, dir, req(1000000L + i, texts(i)))
      // a text no stored doc shares a band with: the probe alone
      val fresh = (t: String) => SigStore.incrementalNearDup(spark, dir, req(2000000L, t))
      val freshText = "zq7 xv9 kw3 pj8 mb2 ty6 " * 4
      /** warm echo and fresh job counts at `budget`, pinned, and their rows */
      def pinned(budget: Long, probe: String, text: String, echoPin: Int,
                 freshPin: Int): (Seq[Row], Seq[Row]) = StoreFixtures.atBudget(budget) {
        // a stamp's first serve takes the pruned reads; the second builds
        // the images that fit
        echo(0).collect()
        assert(SigStore.lastProbeSource == "pruned" && SigStore.lastTextSource == "pruned",
          s"first echo at budget $budget: ${SigStore.lastProbeSource}/${SigStore.lastTextSource}")
        echo(0).collect()
        val n = jobs(echo(1))
        assert(SigStore.lastProbeSource == probe && SigStore.lastTextSource == text,
          s"echo at budget $budget: ${SigStore.lastProbeSource}/${SigStore.lastTextSource}")
        assert((text == "pruned") == SigStore.lastDocsPlan.nonEmpty)
        fresh(freshText + "a").collect()
        val m = jobs(fresh(freshText + "b"))
        assert(SigStore.lastProbeSource == probe && SigStore.lastTextSource == "empty",
          "a request with no stored candidate fetched stored texts")
        info(s"near-dup at budget $budget: echo $n jobs, fresh $m")
        assert(n == echoPin, s"echo at budget $budget: a warm request ran $n jobs, pinned $echoPin")
        assert(m == freshPin, s"fresh at budget $budget: a warm request ran $m jobs, pinned $freshPin")
        (echo(1).collect().toSeq, fresh(freshText + "b").collect().toSeq)
      }
      val resident = pinned(Resident.BudgetBytes, "resident", "resident", 0, 0)
      assert(resident._1.nonEmpty, "the planted pair was not reported")
      // a share that fits the probe map but not the texts: the echo's
      // one job is its stored-text read
      val sigBytes = StoreLayout.footerRows(spark, Seq(s"$dir/sigs")) * Resident.SigBytes
      assert(pinned(Resident.Slots * sigBytes, "resident", "pruned", 1, 0) == resident)
      assert(pinned(0L, "pruned", "pruned", 2, 1) == resident)
    } finally graft.sources.TempStores.delete(dir)
  }

  test("lookup: ≤ 1 job") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0))
    warmJobs[Long]("lookup", id => SimilaritySearch.recordById(docs, "doc_id", id),
      ids(0), ids(1), max = 1)
  }

  test("code serve: 0 jobs from the image, 2 at budget 0") {
    val dir = Files.createTempDirectory("jobs-code").toString
    try {
      CodeStore.write(spark, sf, dir)
      val q = (x: Array[Float]) => CodeStore.search(spark, dir, x)
      warmJobs[Array[Float]]("code", q, qa, qb, max = 0)
      assert(CodeStore.lastShortlistSource == "resident")
      val resident = q(qb).collect().toSeq
      // no image: the shortlist scan and the pruned embedding fetch
      StoreFixtures.atBudget(0L) {
        q(qa).collect()
        val n = jobs(q(qb))
        info(s"code at budget 0: $n jobs")
        assert(CodeStore.lastShortlistSource == "pruned")
        assert(n == 2, s"code at budget 0: a warm request ran $n jobs, pinned 2")
        assert(q(qb).collect().toSeq == resident, "code at budget 0 served other rows")
      }
    } finally graft.sources.TempStores.delete(dir)
  }

  test("code filtered broad tier: 1 job resident, 3 at budget 0") {
    val root = Files.createTempDirectory("jobs-code-broad").toString
    val (dir, metaDir) = (s"$root/code", s"$root/meta")
    try {
      CodeStore.write(spark, sf, dir)
      FilteredServe.writeMeta(spark, sf, metaDir)
      // past both scan ceilings: the unfiltered Hamming shortlist, its
      // ids post-filtered by the pruned byid read (the one job left with
      // the image), the matching ids reranked; at budget 0 the shortlist
      // and the rerank fetch are jobs too
      val q = (x: Array[Float]) => CodeStore.searchFiltered(spark, dir, metaDir, x,
        Seq("lang" -> "en"), k = 5, exactScanMax = 0L, codeScanMax = 0L)
      def pinned(budget: Long, source: String, pin: Int): Seq[Row] = StoreFixtures.atBudget(budget) {
        q(qa).collect()
        q(qa).collect()
        val n = jobs(q(qb))
        info(s"code broad tier at budget $budget: $n jobs (${FilteredServe.lastFilteredPath})")
        assert(FilteredServe.lastFilteredPath.startsWith("scan:"), FilteredServe.lastFilteredPath)
        assert(CodeStore.lastShortlistSource == source)
        assert(n == pin, s"code broad tier at budget $budget: a warm request ran $n jobs, pinned $pin")
        q(qb).collect().toSeq
      }
      assert(pinned(Resident.BudgetBytes, "resident", 1) == pinned(0L, "pruned", 3))
    } finally graft.sources.TempStores.delete(root)
  }

  test("filtered exact tier: ≤ 1 job") {
    val dir = Files.createTempDirectory("jobs-meta").toString
    try {
      FilteredServe.writeMeta(spark, sf, dir)
      warmJobs[Array[Float]]("filtered", q => FilteredServe.searchFiltered(
        spark, sf, dir, "/nonexistent/edge-store", q, Seq("lang" -> "en"), k = 5,
        exactScanMax = Long.MaxValue), qa, qb, max = 1)
      assert(FilteredServe.lastFilteredPath == "exact")
    } finally graft.sources.TempStores.delete(dir)
  }

  test("HNSW serve: 0 jobs from the layer cache, 15 at budget 0") {
    val dir = Files.createTempDirectory("jobs-hnsw").toString
    try {
      HnswStore.write(spark, sf, dir)
      warmJobs[Array[Float]]("hnsw", q => HnswStore.search(spark, dir, q), qa, qb, max = 0)
      assert(HnswStore.lastLocalLayers == (0 to Hnsw.MaxLevel).toSet)
      // no image admitted: every descent step and layer-0 hop is a
      // pruned point read
      StoreFixtures.atBudget(0L) {
        val q = (x: Array[Float]) => HnswStore.search(spark, dir, x)
        q(qa).collect()
        val n = jobs(q(qb))
        info(s"hnsw at budget 0: $n jobs")
        assert(HnswStore.lastLocalLayers.isEmpty)
        assert(n == 15, s"hnsw at budget 0: a warm request ran $n jobs, pinned 15")
      }
    } finally graft.sources.TempStores.delete(dir)
  }

  test("HNSW serve over a top layer of one node: 0 jobs, same rows at budget 0") {
    // the corpus keeps one id at the top level, so the top layer holds
    // the entry alone and no edge: the layer image must still admit it
    val root = Files.createTempDirectory("jobs-hnsw-top").toString
    val (d, dir) = (s"$root/corpus", s"$root/hnsw")
    try {
      val emb = Tables.embeddings(spark, sf)
      val top = Hnsw.levelCol(col("vec_id")) >= Hnsw.MaxLevel
      emb.filter(top).orderBy(col("vec_id")).limit(1).unionByName(emb.filter(!top))
        .write.parquet(s"$d/embeddings.parquet")
      HnswStore.write(spark, d, dir)
      assert(HnswStore.layersFrame(spark, dir).filter(col("layer") === Hnsw.MaxLevel).isEmpty,
        "fixture: the top layer has edges")
      warmJobs[Array[Float]]("hnsw, one-node top layer", q => HnswStore.search(spark, dir, q),
        qa, qb, max = 0)
      assert(HnswStore.lastLocalLayers == (0 to Hnsw.MaxLevel).toSet)
      val cached = HnswStore.search(spark, dir, qb).collect().toSeq
      StoreFixtures.atBudget(0L) {
        assert(HnswStore.search(spark, dir, qb).collect().toSeq == cached)
        assert(HnswStore.lastLocalLayers.isEmpty)
      }
    } finally graft.sources.TempStores.delete(root)
  }

  test("v28 cold graph serve: 0 jobs, 2 with pruned hops, 5 at budget 0") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    // seeds from the bucket image, hops from the edge image, a local
    // emission
    val q = (x: Array[Float]) => SrpStore.graphSearchCold(spark, srpDir, edgeDir, x)
    warmJobs[Array[Float]]("v28 graphSearchCold", q, qa, qb, max = 0)
    assert(SrpStore.lastSeedSource == "local" && EdgeStore.lastHopSource == "local")
    val resident = q(qb).collect().toSeq
    def pinned(budget: Long, seeds: String, hops: String, pin: Int): Unit =
      StoreFixtures.atBudget(budget) {
        q(qa).collect()
        val n = jobs(q(qb))
        info(s"v28 graphSearchCold at budget $budget: $n jobs")
        assert(SrpStore.lastSeedSource == seeds && EdgeStore.lastHopSource == hops)
        assert(n == pin, s"v28 at budget $budget: a warm request ran $n jobs, pinned $pin")
        assert(q(qb).collect().toSeq == resident, s"v28 at budget $budget served other rows")
      }
    // a share that fits the bucket image but not the edges: the jobs
    // are the two beam hops' pruned edge reads (iters = 2)
    val srpBytes = StoreLayout.footerRows(spark, Seq(s"$srpDir/embed")) *
      (Resident.VectorBytes + Resident.MemberBytes * SrpBanded.Bands)
    pinned(Resident.Slots * srpBytes, "local", "pruned", 2)
    // no image: the pruned seed scan too
    pinned(0L, "pruned", "pruned", 5)
  }

  test("filtered walk tier: ≤ 1 job") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    // past both scan ceilings the serve walks v28's graph from the
    // driver images and post-filters the visited set: the job is the
    // pruned byid read of the visited ids
    warmJobs[Array[Float]]("filtered walk", q => FilteredServe.searchFiltered(
      spark, sf, srpDir, edgeDir, q, Seq("lang" -> "en"), k = 5,
      exactScanMax = 0L, codeScanMax = 0L), qa, qb, max = 1)
    assert(FilteredServe.lastFilteredPath.startsWith("walk:"), FilteredServe.lastFilteredPath)
  }
}
