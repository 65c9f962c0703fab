package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.SigStore

/** The one-document near-dup serve runs on the driver for a bounded
  * batch — from the store's images, or its pruned reads at budget 0 —
  * and as a shuffle plan past the bound. The driver plan re-runs
  * Spark's own kernels — band keys, `length`, `round` — so each is
  * checked against Spark here, and both plans must serve the same rows
  * under the same schema, the bucket cap included. */
class NearDupLocalSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  import spark.implicits._

  test("driver band keys equal bandedSigs rows: ASCII, non-BMP, 4/5/6-char and null texts") {
    val rnd = new scala.util.Random(7)
    val ascii = (1 to 40).map(_ => rnd.alphanumeric.take(5 + rnd.nextInt(80)).mkString)
    val emoji = Seq("😀😁😂",            // 3 chars, 6 UTF-16 units
      "ab😀cd", "a😀b😀c😀",   // 5 and 6 chars
      "😀😀😀😀",               // 4 chars, 8 units
      "naïve café 🎉 déjà vu 𐍈 text")
    val edges = Seq("abcd", "abcde", "abcdef", "", null)
    val texts = ascii ++ emoji ++ edges
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val viaSpark = SigStore.bandedSigs(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).sorted.toSeq
    val local = texts.zipWithIndex.flatMap { case (t, i) =>
      SigStore.bandKeysLocal(t).map { case (b, k) => (i.toLong, b, k) }
    }.sorted
    assert(local == viaSpark)
    // the short texts band into nothing on either side
    for (t <- Seq("abcd", "😀😀😀😀", "", null))
      assert(SigStore.bandKeysLocal(t).isEmpty, s"'$t' banded")
    assert(SigStore.bandKeysLocal("ab😀cd").size == SigStore.Bands)
  }

  test("driver rounding equals Spark round(_, 4), x.xxxx5 boundaries included") {
    val rnd = new scala.util.Random(11)
    val boundaries = (0 until 10000 by 7).map(i => (i * 10 + 5) / 100000.0)
    val xs = boundaries ++ Seq(0.0, 1.0, 0.70005, 0.69995, 0.99995, 0.00005, 1.0 / 3, 2.0 / 3) ++
      (1 to 500).map(_ => rnd.nextDouble())
    val viaSpark = xs.toDF("x").select(round(col("x"), 4)).collect().map(_.getDouble(0)).toSeq
    val local = xs.map(SigStore.roundJaccard)
    xs.indices.foreach { i =>
      assert(java.lang.Double.doubleToRawLongBits(local(i)) ==
        java.lang.Double.doubleToRawLongBits(viaSpark(i)),
        s"round(${xs(i)}, 4): driver ${local(i)} vs Spark ${viaSpark(i)}")
    }
  }

  private def serve(dir: String, batch: DataFrame, probeCollectMax: Long): (Seq[Row], String, DataFrame) = {
    val df = SigStore.incrementalNearDup(spark, dir, batch, probeCollectMax)
    (df.collect().toSeq, SigStore.lastProbeSource, df)
  }

  /** the local plan from the images, the local plan's pruned reads
    * (budget 0) and the forced joined plan: rows (as multisets against
    * the joined plan) and schema */
  private def assertSame(dir: String, batch: DataFrame, empty: Boolean = false): Seq[Row] = {
    // a stamp's first serve may take the pruned reads; the second is
    // served from the images
    val first = serve(dir, batch, SigStore.ProbeCollectMax)._1
    val (local, src, localDf) = serve(dir, batch, SigStore.ProbeCollectMax)
    assert(first == local, "the first serve returned other rows than the images")
    assert(src == (if (empty) "empty" else "resident"), s"local serve took $src")
    val (pruned, psrc, _) = StoreFixtures.atBudget(0L)(serve(dir, batch, SigStore.ProbeCollectMax))
    assert(psrc == (if (empty) "empty" else "pruned"), s"local serve at budget 0 took $psrc")
    assert(pruned == local, "the local plan's pruned reads served other rows than its images")
    val (joined, jsrc, joinedDf) = serve(dir, batch, 0L)
    assert(jsrc == "joined" || (jsrc == "empty" && empty))
    assert(localDf.schema == joinedDf.schema,
      s"schema: local ${localDf.schema.treeString} joined ${joinedDf.schema.treeString}")
    assert(local.sortBy(_.toString) == joined.sortBy(_.toString))
    assert(local == local.sortBy(r => (r.getLong(0), r.getLong(1))), "local rows not ordered")
    local
  }

  test("local ≡ joined on the d13 batch: pairs and schema") {
    val dir = SigStore.storeFor(spark, sf)
    val batch = Tables.documents(spark, sf)
      .filter(col("doc_id") % SigStore.BatchMod === 0)
      .select(col("doc_id"), col("text"))
    assert(assertSame(dir, batch).nonEmpty)
  }

  test("local ≡ joined past the bucket cap, on batch-internal pairs, on empty batches") {
    val dir = Files.createTempDirectory("neardup-cap").toString
    try {
      val rnd = new scala.util.Random(3)
      def words(n: Int) = (1 to n).map(_ => rnd.alphanumeric.take(6).mkString).mkString(" ")
      val over = words(20)  // stored MaxBucket + 6 times: its buckets are capped
      val at = words(20)    // stored MaxBucket − 1 times: + the batch doc = MaxBucket
      val near = words(30)
      val stored = (0 until SigStore.MaxBucket + 6).map(i => (i.toLong, over)) ++
        (0 until SigStore.MaxBucket - 1).map(i => (1000L + i, at)) ++
        Seq((2000L, near), (2001L, near + " x"), (2002L, words(25)))
      SigStore.write(spark, stored.toDF("doc_id", "text"), dir)
      val inner = words(20)
      val batch = Seq((9000L, over), (9001L, at), (9002L, near + " y"),
        (9003L, inner), (9004L, inner + " z"), (9005L, null), (9006L, "tiny"))
        .toDF("doc_id", "text")
      val rows = assertSame(dir, batch)
      val pairs = rows.map(r => (r.getLong(0), r.getLong(1)))
      assert(!pairs.exists(_._2 == 9000L), "a capped bucket paired")
      assert(pairs.count(_._2 == 9001L) == SigStore.MaxBucket - 1, "a bucket at the cap dropped pairs")
      assert(pairs.contains((2000L, 9002L)) && pairs.contains((9003L, 9004L)))
      // a batch whose probed buckets overflow the local bound (one doc:
      // Bands keys × (MaxBucket + 1) rows, its buckets hold more) falls
      // through to the joined plan
      val (overRows, overSrc, _) = serve(dir, Seq((9100L, over)).toDF("doc_id", "text"),
        SigStore.ProbeCollectMax)
      assert(overSrc == "joined" && overRows.isEmpty)
      val (overPruned, overPrunedSrc, _) = StoreFixtures.atBudget(0L)(serve(dir,
        Seq((9100L, over)).toDF("doc_id", "text"), SigStore.ProbeCollectMax))
      assert(overPrunedSrc == "joined" && overPruned.isEmpty)
      // a batch with only batch-internal pairs fetches no stored text
      val internal = Seq((9200L, inner), (9201L, inner)).toDF("doc_id", "text")
      serve(dir, internal, SigStore.ProbeCollectMax)
      assert(SigStore.lastProbeSource == "resident" && SigStore.lastTextSource == "empty")
      StoreFixtures.atBudget(0L)(serve(dir, internal, SigStore.ProbeCollectMax))
      assert(SigStore.lastProbeSource == "pruned" && SigStore.lastDocsPlan.isEmpty &&
        SigStore.lastTextSource == "empty")
      assert(assertSame(dir, internal).map(r => (r.getLong(0), r.getLong(1))) ==
        Seq((9200L, 9201L)))
      // empty batches: no docs, and docs that band into nothing
      assertSame(dir, Seq.empty[(Long, String)].toDF("doc_id", "text"), empty = true)
      val short = Seq((9300L, "tiny"), (9301L, null: String)).toDF("doc_id", "text")
      val (none, src, df) = serve(dir, short, SigStore.ProbeCollectMax)
      assert(none.isEmpty && src == "empty" && df.schema == SigStore.PairSchema)
    } finally graft.sources.TempStores.delete(dir)
  }

  test("past a local bound the joined plan serves: batch docs, candidate pairs") {
    val dir = Files.createTempDirectory("neardup-bounds").toString
    try {
      val rnd = new scala.util.Random(5)
      def words(n: Int) = (1 to n).map(_ => rnd.alphanumeric.take(6).mkString).mkString(" ")
      SigStore.write(spark, (0 until 20).map(i => (i.toLong, words(20))).toDF("doc_id", "text"), dir)
      // ten copies of one text: 45 batch-internal pairs, no stored row
      val same = words(20)
      val tens = (0 until 10).map(i => (100L + i, same)).toDF("doc_id", "text")
      val forced = serve(dir, tens, 0L)._1
      assert(forced.size == 45)
      // probeCollectMax 40: 10 docs fit (40 / Bands), 45 pairs do not
      val (over, overSrc, _) = serve(dir, tens, 40L)
      assert(overSrc == "joined" && over == forced)
      val (within, withinSrc, _) = serve(dir, tens, 200L)
      assert(withinSrc == "resident" && within == forced)
      val (pruned, prunedSrc, _) = StoreFixtures.atBudget(0L)(serve(dir, tens, 200L))
      assert(prunedSrc == "pruned" && pruned == forced)
      // the probe map's rows past the bound: the joined plan, as the
      // pruned read's
      StoreFixtures.atBudget(0L)(assert(serve(dir, tens, 40L)._2 == "joined"))
      // one doc past LocalBatchMax
      val big = (0 to SigStore.LocalBatchMax).map(i => (1000L + i, words(8))).toDF("doc_id", "text")
      serve(dir, big, SigStore.ProbeCollectMax)
      assert(SigStore.lastProbeSource == "joined")
      serve(dir, big.limit(SigStore.LocalBatchMax), SigStore.ProbeCollectMax)
      assert(SigStore.lastProbeSource == "resident")
    } finally graft.sources.TempStores.delete(dir)
  }
}
