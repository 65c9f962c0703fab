package graft

import java.io.File
import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{GraftBridge, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.sources.{EdgeStore, HnswStore, Resident, SrpStore, TempStores}

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
}
