package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.operators.SrpBanded
import graft.sources.{CodeStore, EdgeStore, HnswStore, Resident, SigStore, SrpStore, StoreLayout, TempStores, Versioned}

/** [[StoreLayout]]: the bucket rule itself, the two dir-count policies
  * that share it, and the pb stores sized by it — same rows at any
  * count, a count pinned per version and re-derived at a fold. */
class StoreLayoutSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  import spark.implicits._

  private val queries = Seq("fast vector search over spark tables",
    "incremental near duplicate detection for crawls", "slow filter batch")
    .map(FakeEmbedder.embed)

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq

  test("the rule: a power of two, monotone, 1 when empty, exactly the cap from cap × BucketBytes up") {
    val B = StoreLayout.BucketBytes
    Seq(16L, 64L).foreach { cap =>
      val sizes = (0L to 4 * cap).flatMap(i => Seq(i * B / 4 - 1, i * B / 4, i * B / 4 + 1))
        .filter(_ >= 0) ++ Seq(Long.MaxValue / 2, 1L << 40)
      val got = sizes.sorted.map(b => b -> StoreLayout.bucketsFor(b, B, cap))
      got.foreach { case (b, n) =>
        assert(n >= 1 && n <= cap && java.lang.Long.bitCount(n) == 1, s"$b bytes -> $n")
        assert(b < cap * B || n == cap, s"$b bytes (≥ cap × BucketBytes) -> $n")
        assert(n == cap || n * B <= b || n == 1, s"$b bytes -> $n buckets under BucketBytes each")
      }
      got.map(_._2).sliding(2).foreach(w => assert(w.head <= w.last, s"not monotone: $w"))
      assert(StoreLayout.bucketsFor(0L, B, cap) == 1)
      assert(StoreLayout.bucketsFor(cap * B, B, cap) == cap)
      assert(StoreLayout.bucketsFor(cap * B - 1, B, cap) == cap / 2)
    }
    assert(StoreLayout.sized(0L, 328L, 64) == 1)
  }

  test("SigStore.groupsFor and SrpStore.embedDirsFor keep their counts for n in 0 to 10^7") {
    // the formulas as they stood before they shared the rule
    def oldGroups(n: Long): Int =
      math.min(256, java.lang.Long.highestOneBit(math.max(1L, n / 128L))).toInt
    def oldEmbedDirs(n: Long): Long =
      math.min(2048L, java.lang.Long.highestOneBit(math.max(1L, n / 128L)))
    var n = 0L
    while (n <= 10000000L) {
      if (SigStore.groupsFor(n) != oldGroups(n)) fail(s"groupsFor($n)")
      if (SrpStore.embedDirsFor(n) != oldEmbedDirs(n)) fail(s"embedDirsFor($n)")
      n += 1
    }
  }

  test("code, edge and HNSW stores serve identical rows sized and at the old constant") {
    val sized = Files.createTempDirectory("layout_sized").toString
    val fixed = Files.createTempDirectory("layout_fixed").toString
    try {
      CodeStore.write(spark, sf, s"$sized/code")
      HnswStore.write(spark, sf, s"$sized/hnsw")
      StoreFixtures.atCap {
        CodeStore.write(spark, sf, s"$fixed/code")
        HnswStore.write(spark, sf, s"$fixed/hnsw")
      }
      assert(CodeStore.buckets(spark, s"$sized/code") == 1)
      assert(EdgeStore.buckets(spark, s"$sized/hnsw/l0") == 1)
      assert(HnswStore.layerBuckets(spark, s"$sized/hnsw") == 1)
      assert(CodeStore.buckets(spark, s"$fixed/code") == CodeStore.Partitions)
      assert(EdgeStore.buckets(spark, s"$fixed/hnsw/l0") == EdgeStore.EdgePartitions)
      assert(HnswStore.layerBuckets(spark, s"$fixed/hnsw") == HnswStore.LayerPartitions)
      queries.foreach { q =>
        assert(rows(CodeStore.search(spark, s"$sized/code", q)) ==
          rows(CodeStore.search(spark, s"$fixed/code", q)), "code search")
        // the descent from the driver cache and from pruned layer reads
        Seq(Resident.BudgetBytes, 0L).foreach { budget =>
          StoreFixtures.atBudget(budget)(assert(rows(HnswStore.search(spark, s"$sized/hnsw", q)) ==
            rows(HnswStore.search(spark, s"$fixed/hnsw", q)), s"hnsw search, image budget $budget"))
        }
      }
      assert(rows(CodeStore.searchBatch(spark, s"$sized/code", sf, 50)) ==
        rows(CodeStore.searchBatch(spark, s"$fixed/code", sf, 50)), "code batch search")
      val frontier = (0L until 200L by 7L)
      def hop(dir: String) =
        EdgeStore.edgesFor(spark, s"$dir/hnsw/l0", frontier).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getSeq[Float](2))).sortBy(e => (e._1, e._2)).toSeq
      assert(hop(sized).nonEmpty && hop(sized) == hop(fixed), "edge point read")
    } finally Seq(sized, fixed).foreach(TempStores.delete)
  }

  test("a store grown by upserts keeps its base count until the fold re-derives it") {
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val d = Files.createTempDirectory("layout_grow_corpus").toString
    val dir = Files.createTempDirectory("layout_grow").toString
    val fresh = Files.createTempDirectory("layout_grow_fresh").toString
    try {
      val small = emb.orderBy(col("vec_id")).limit((n / 16).toInt)
      small.write.mode("overwrite").parquet(s"$d/embeddings.parquet")
      // one bucket per n/8 rows: the base (n/16 rows) sizes to 1, the
      // grown store to 8
      StoreFixtures.withBucketBytes(CodeStore.RowBytes * (n / 8)) {
        CodeStore.write(spark, d, dir)
        assert(CodeStore.buckets(spark, dir) == 1)
        CodeStore.upsert(spark, dir, emb.join(small.select(col("vec_id")), Seq("vec_id"), "left_anti"))
        assert(Versioned.live(spark, CodeStore.chain(dir)) == Seq(0, 1))
        assert(CodeStore.buckets(spark, dir) == 1, "a delta changed the live count")
        assert(new java.io.File(s"$dir/codes/data/__ver=1").list().toSeq == Seq("pb=0"),
          "the delta was not written at its base's count")
        val grown = queries.map(q => rows(CodeStore.search(spark, dir, q)))
        // the fold sizes from its live versions' footers: base + delta
        assert(StoreLayout.liveRows(spark, CodeStore.chain(dir), s"$dir/codes/data") == n)
        CodeStore.compact(spark, dir)
        assert(Versioned.live(spark, CodeStore.chain(dir)) == Seq(2))
        assert(CodeStore.buckets(spark, dir) == 8, "the fold did not re-derive the count")
        assert(new java.io.File(s"$dir/codes/data/__ver=2").list().count(_.startsWith("pb=")) == 8)
        assert(queries.map(q => rows(CodeStore.search(spark, dir, q))) == grown, "the fold changed rows")
        CodeStore.write(spark, sf, fresh)
        assert(queries.map(q => rows(CodeStore.search(spark, fresh, q))) == grown,
          "the grown store serves differently from a fresh one")
      }
    } finally Seq(d, dir, fresh).foreach(TempStores.delete)
  }

  test("a store written before sizing (no layout dir) reads at the cap") {
    val dir = Files.createTempDirectory("layout_legacy").toString
    try {
      StoreFixtures.atCap(CodeStore.write(spark, sf, dir))
      val before = queries.map(q => rows(CodeStore.search(spark, dir, q)))
      TempStores.delete(s"$dir/codes/layout")
      Tables.invalidate(dir)
      assert(CodeStore.buckets(spark, dir) == CodeStore.Partitions)
      assert(queries.map(q => rows(CodeStore.search(spark, dir, q))) == before)
      // a delta onto it keeps the cap
      val (id, v) = (1L << 40, queries.head)
      CodeStore.upsert(spark, dir, Seq((id, v)).toDF("vec_id", "embedding"))
      assert(CodeStore.buckets(spark, dir) == CodeStore.Partitions)
      assert(new java.io.File(s"$dir/codes/data/__ver=1").list().toSeq ==
        Seq(s"pb=${Math.floorMod(id, CodeStore.Partitions.toLong)}"))
      assert(CodeStore.search(spark, dir, v).collect().head.getLong(0) == id)
    } finally TempStores.delete(dir)
  }
}
