package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.operators.SrpBanded
import graft.sources.{CodeStore, EdgeStore, HnswStore, Resident, SigStore, SrpStore, StoreLayout, TempStores}

/** The driver-image facility ([[Resident]]): admission from parquet
  * footers, one budget over every kind of image, and the crash
  * contract of the stores it reads. */
class ResidentSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  private val q = FakeEmbedder.embed("fast vector search over spark tables")

  private var seq = 0
  /** `f`'s result and the Spark jobs it ran */
  private def withJobs[A](f: => A): (A, Int) = {
    seq += 1
    val group = s"resident-$seq"
    val sc = spark.sparkContext
    sc.setJobGroup(group, group, interruptOnCancel = false)
    val a = try f finally sc.clearJobGroup()
    GraftBridge.drainListenerBus(spark)
    (a, sc.statusTracker.getJobIdsForGroup(group).length)
  }

  private def v28(srpDir: String, edgeDir: String, s: SparkSession = spark): Seq[Row] =
    SrpStore.graphSearchCold(s, srpDir, edgeDir, q).collect().toSeq

  /** a copy of store `dir` under `root` */
  private def copy(dir: String, root: String, name: String): String = {
    val to = s"$root/$name"
    FileUtils.copyDirectory(new File(dir), new File(to))
    to
  }

  test("an image over its share is refused with no Spark job; the serve reads pruned, same rows") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    val resident = v28(srpDir, edgeDir)
    assert(SrpStore.lastSeedSource == "local" && EdgeStore.lastHopSource == "local")
    // a share of one vector: both stores are over it
    StoreFixtures.atBudget(Resident.Slots * Resident.VectorBytes) {
      val (edges, edgeJobs) = withJobs(EdgeStore.image(spark, edgeDir))
      val (srp, srpJobs) = withJobs(SrpStore.localStore(spark, srpDir))
      assert(edges.isEmpty && srp.isEmpty, "an image over its share was admitted")
      assert(edgeJobs == 0 && srpJobs == 0,
        s"admission ran Spark jobs: edge $edgeJobs, srp $srpJobs")
      assert(v28(srpDir, edgeDir) == resident, "the pruned serve returned other rows")
      assert(SrpStore.lastSeedSource == "pruned" && EdgeStore.lastHopSource == "pruned")
    }
  }

  test("opening more images than Slots, across kinds, holds at most Slots") {
    val root = Files.createTempDirectory("resident-slots").toString
    try {
      val hnsw = s"$root/hnsw"
      HnswStore.write(spark, sf, hnsw)
      val srpDir = SrpStore.storeFor(spark, sf)
      val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
      val hnswRows = HnswStore.search(spark, hnsw, q).collect().toSeq
      val v28Rows = v28(srpDir, edgeDir)
      // each HNSW copy opens two images (upper layers, l0), each v28
      // pair two (SRP buckets, edges): 12 images in all, over 8 slots
      val opened = (0 until 3).flatMap { i =>
        val h = copy(hnsw, root, s"hnsw$i")
        assert(HnswStore.search(spark, h, q).collect().toSeq == hnswRows)
        assert(HnswStore.lastLocalLayers == (0 to graft.operators.Hnsw.MaxLevel).toSet)
        assert(Resident.held <= Resident.Slots, s"${Resident.held} images held")
        val (s, e) = (copy(srpDir, root, s"srp$i"), copy(edgeDir, root, s"edge$i"))
        assert(v28(s, e) == v28Rows)
        assert(SrpStore.lastSeedSource == "local" && EdgeStore.lastHopSource == "local")
        assert(Resident.held <= Resident.Slots, s"${Resident.held} images held")
        Seq(h, s, e)
      }
      // an evicted image is built again on its next serve
      assert(HnswStore.search(spark, opened.head, q).collect().toSeq == hnswRows)
      assert(Resident.held <= Resident.Slots, s"${Resident.held} images held")
    } finally TempStores.delete(root)
  }

  test("crash contract: an unmarked delta is neither counted nor served") {
    val root = Files.createTempDirectory("resident-torn").toString
    try {
      val srpDir = SrpStore.storeFor(spark, sf)
      val edgeDir = copy(EdgeStore.refinedStoreFor(spark, sf), root, "edges")
      val before = v28(srpDir, edgeDir)
      val edges = EdgeStore.read(spark, edgeDir)
      val n = edges.count()
      // a torn version 1 (data, no marker): every source re-pointed at
      // an id no store holds, as many rows again as the live version
      val bogus = 1L << 40
      edges.withColumn("dst", col("dst") + bogus)
        .withColumn("pb", pmod(col("src"), lit(EdgeStore.buckets(spark, edgeDir).toLong)))
        .write.partitionBy("pb").parquet(s"$edgeDir/edges/data/__ver=1")
      // a fresh session lists the store again, torn version included;
      // a share that fits exactly the live version's rows: counting the
      // torn rows would refuse the image
      val fresh = spark.newSession()
      StoreFixtures.atBudget(Resident.Slots * Resident.VectorBytes * n) {
        val image = EdgeStore.image(fresh, edgeDir)
        assert(image.isDefined, "the unmarked delta's rows were counted")
        assert(image.get.valuesIterator.forall(_.forall(_._1 < bogus)),
          "the image holds an edge of the unmarked delta")
        assert(v28(srpDir, edgeDir, fresh) == before, "the resident serve read the unmarked delta")
        assert(EdgeStore.lastHopSource == "local")
      }
      StoreFixtures.atBudget(0L)(assert(v28(srpDir, edgeDir, fresh) == before,
        "the pruned serve read the unmarked delta"))
    } finally TempStores.delete(root)
  }

  test("code and signature images: an unmarked delta is neither counted nor served") {
    import spark.implicits._
    val root = Files.createTempDirectory("resident-torn-images").toString
    try {
      val (code, sig) = (s"$root/code", s"$root/sig")
      val bogus = 1L << 40
      val fresh = spark.newSession()

      CodeStore.write(spark, sf, code)
      val codeRows = CodeStore.search(spark, code, q).collect().toSeq
      val raw = spark.read.parquet(s"$code/codes/data")
      val n = raw.count()
      // a torn version 1: every row again under a new id, coded to the
      // query's own keys, so each would top the shortlist
      raw.drop("__ver").withColumn("vec_id", col("vec_id") + bogus)
        .withColumn("keys", typedLit(SrpBanded.queryBandKeys(q).map(_._2)))
        .write.partitionBy("pb").parquet(s"$code/codes/data/__ver=1")
      // a share that fits exactly the live version's rows
      StoreFixtures.atBudget(Resident.Slots * CodeStore.RowBytes * n) {
        // the image is built on the stamp's second ask
        assert(CodeStore.image(fresh, code).isEmpty)
        assert(CodeStore.image(fresh, code).exists(_.rows == n), "the unmarked delta's rows were counted or held")
        assert(CodeStore.search(fresh, code, q).collect().toSeq == codeRows,
          "the resident serve read the unmarked delta")
        assert(CodeStore.lastShortlistSource == "resident")
      }
      StoreFixtures.atBudget(0L)(assert(CodeStore.search(fresh, code, q).collect().toSeq == codeRows,
        "the pruned serve read the unmarked delta"))

      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      SigStore.write(spark, docs, sig)
      val (stored, text) = docs.orderBy(col("doc_id")).as[(Long, String)].first()
      def echo(s: SparkSession): Seq[Row] = SigStore.incrementalNearDup(s, sig,
        Seq((9000000L, text)).toDF("doc_id", "text")).collect().toSeq
      val pairs = echo(spark)
      assert(pairs.exists(_.getLong(0) == stored), s"the planted pair is missing: $pairs")
      val sigRows = StoreLayout.footerRows(spark, Seq(s"$sig/sigs/__ver=0"))
      val (docRows, docBytes) = StoreLayout.footerRowsAndBytes(spark, Seq(s"$sig/docs/__ver=0"), "text")
      val textBytes = docRows * Resident.TextBytes + 2 * docBytes
      // a torn version 1: every stored doc again under a new id, with its
      // signatures, so the echo would pair with its twin too
      spark.read.parquet(s"$sig/sigs").drop("__ver").withColumn("doc_id", col("doc_id") + bogus)
        .write.partitionBy("band", "bg").parquet(s"$sig/sigs/__ver=1")
      spark.read.parquet(s"$sig/docs").drop("__ver").withColumn("doc_id", col("doc_id") + bogus)
        .write.partitionBy("db").parquet(s"$sig/docs/__ver=1")
      StoreFixtures.atBudget(Resident.Slots * sigRows * Resident.SigBytes) {
        assert(SigStore.sigImage(fresh, sig).isEmpty)
        assert(SigStore.sigImage(fresh, sig).isDefined, "the unmarked delta's signature rows were counted")
        assert(echo(fresh) == pairs, "the resident probe read the unmarked delta")
        assert(SigStore.lastProbeSource == "resident")
      }
      StoreFixtures.atBudget(Resident.Slots * textBytes) {
        assert(SigStore.textImage(fresh, sig).isEmpty)
        val texts = SigStore.textImage(fresh, sig)
        assert(texts.isDefined, "the unmarked delta's texts were counted")
        assert(texts.get.textsOf(stored + bogus).isEmpty, "the texts image holds a text of the unmarked delta")
        assert(echo(fresh) == pairs && SigStore.lastTextSource == "resident")
      }
      StoreFixtures.atBudget(0L)(assert(echo(fresh) == pairs, "the pruned serve read the unmarked delta"))
    } finally TempStores.delete(root)
  }

  test("an upsert is served by the next code and near-dup serve, pruned, then from the rebuilt images") {
    import spark.implicits._
    val root = Files.createTempDirectory("resident-upsert").toString
    try {
      val (code, sig) = (s"$root/code", s"$root/sig")
      CodeStore.write(spark, sf, code)
      val text = "a delta row the next warm serve reads from its image"
      val (id, v) = (900000011L, FakeEmbedder.embed(text))
      def top(): Seq[Long] = CodeStore.search(spark, code, v, k = 1).collect().map(_.getLong(0)).toSeq
      assert(top() != Seq(id))
      CodeStore.upsert(spark, code, Seq((id, v)).toDF("vec_id", "embedding"))
      // a stamp's first serve takes the pruned reads, its second builds the image
      Seq("pruned", "resident").foreach { source =>
        assert(top() == Seq(id) && CodeStore.lastShortlistSource == source, s"the upserted row was not served ($source)")
      }
      // a tombstone masks it again
      CodeStore.upsert(spark, code, Seq((id, Option.empty[Array[Float]])).toDF("vec_id", "embedding"))
      Seq("pruned", "resident").foreach { source =>
        assert(top() != Seq(id) && CodeStore.lastShortlistSource == source, s"a tombstoned row was served ($source)")
      }

      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      SigStore.write(spark, docs, sig)
      def echo(): Seq[(Long, Long)] = SigStore.incrementalNearDup(spark, sig,
        Seq((9000000000L, text)).toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(echo().isEmpty)
      SigStore.upsert(spark, sig, Seq((id, text)).toDF("doc_id", "text"))
      Seq("pruned", "resident").foreach { source =>
        assert(echo() == Seq((id, 9000000000L)), s"the upserted doc was not paired ($source)")
        assert(SigStore.lastProbeSource == source && SigStore.lastTextSource == source)
      }
    } finally TempStores.delete(root)
  }
}
