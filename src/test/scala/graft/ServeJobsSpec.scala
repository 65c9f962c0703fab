package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.operators.{Hnsw, SimilaritySearch, SrpBanded}
import graft.sources.{CodeStore, EdgeStore, FilteredServe, HnswStore, Resident, SigStore, SrpStore, StoreLayout}

/** How many Spark jobs one warm single-request serve runs — the job
  * count is the serve's scheduling cost, so a plan change that adds a
  * job shows here before it shows in a benchmark. Jobs are counted per
  * request through its job group (the status tracker), after a warm-up
  * request of the same shape with other values. */
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

  /** warm `serve(a)`, then the job count of `serve(b)`, checked */
  private def warmJobs[A](name: String, serve: A => DataFrame, a: A, b: A, max: Int): Unit = {
    serve(a).collect()
    val n = jobs(serve(b))
    info(s"$name: $n jobs")
    assert(n <= max, s"$name: a warm request ran $n jobs, bound $max")
  }

  private val qa = FakeEmbedder.embed("fast vector search over spark tables")
  private val qb = FakeEmbedder.embed("incremental near duplicate detection for crawls")

  test("near-dup of one document: ≤ 2 jobs, ≤ 1 for a text with no stored candidate") {
    val dir = Files.createTempDirectory("jobs-sig").toString
    try {
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      SigStore.write(spark, docs, dir)
      val texts = docs.orderBy(col("doc_id")).limit(2).collect().map(_.getString(1))
      def req(id: Long, t: String): DataFrame = Seq((id, t)).toDF("doc_id", "text")
      // an echo of a stored text: one planted pair, its stored text fetched
      warmJobs[Int]("near-dup echo", i => SigStore.incrementalNearDup(spark, dir,
        req(1000000L + i, texts(i))), 0, 1, max = 2)
      assert(SigStore.lastProbeSource == "pruned" && SigStore.lastDocsPlan.nonEmpty)
      // a text no stored doc shares a band with: the probe read alone
      val fresh = "zq7 xv9 kw3 pj8 mb2 ty6 " * 4
      warmJobs[String]("near-dup fresh", t => SigStore.incrementalNearDup(spark, dir,
        req(2000000L, t)), fresh + "a", fresh + "b", max = 1)
      assert(SigStore.lastProbeSource == "pruned" && SigStore.lastDocsPlan.isEmpty,
        "a request with no stored candidate fetched stored texts")
    } finally graft.sources.TempStores.delete(dir)
  }

  test("lookup: ≤ 1 job") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0))
    warmJobs[Long]("lookup", id => SimilaritySearch.recordById(docs, "doc_id", id),
      ids(0), ids(1), max = 1)
  }

  test("code serve: ≤ 2 jobs") {
    val dir = Files.createTempDirectory("jobs-code").toString
    try {
      CodeStore.write(spark, sf, dir)
      warmJobs[Array[Float]]("code", q => CodeStore.search(spark, dir, q), qa, qb, max = 2)
    } finally graft.sources.TempStores.delete(dir)
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
