package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.functions.FakeEmbedder
import graft.sources.{EdgeStore, FilteredServe, SrpStore}

/** v39: metadata-filtered ANN on the stored serve path — the
  * cardinality-planned dual strategy (pruned exact scan for selective
  * predicates, over-fetch walk + bounded post-filter with escalation
  * for broad ones) and its recall contract. */
class FilteredSearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf
  val q = FakeEmbedder.embed("fast vector search over spark tables")

  /** exact filtered ranking computed independently from the corpus
    * tables (v10's form) — the ground truth every path is held to */
  private def exactFiltered(pred: Seq[(String, String)], k: Int): Seq[Seq[Any]] = {
    val docs = pred.foldLeft(Tables.documents(spark, sf)) {
      case (df, (c, v)) => df.filter(col(c) === v)
    }.select(col("doc_id"))
    val emb = Tables.embeddings(spark, sf)
    emb.join(docs, emb("vec_id") === docs("doc_id"), "left_semi")
      .select(col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), typedLit(q)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(k)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) =>
        // Seq[Any], not Seq(...): numeric-widening inference would
        // otherwise land on Seq[Double] and melt the Long ids
        Seq[Any](r.getLong(0), i + 1,
          BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  test("selective predicate (≤1%): planner takes the pruned exact path, recall 1.0, no graph needed") {
    val srpDir = SrpStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    // (de, src11) matches exactly 1 of 500 documents (0.2% selectivity)
    val pred = Seq("lang" -> "de", "source" -> "src11")
    assert(FilteredServe.matchCount(spark, srpDir, pred) == 1L)
    // the edge dir must never be opened on this branch: hand the serve
    // a path that would throw if it were
    val res = FilteredServe.searchFiltered(spark, sf, srpDir,
      edgeDir = "/nonexistent/edge-store", q, pred, k = 10)
    assert(FilteredServe.lastFilteredPath == "exact")
    val got = res.collect().map(_.toSeq).toSeq
    assert(got == exactFiltered(pred, 10),
      "selective path diverged from the exact filtered ranking")
    // the byval read pruned to the matching partitions in the file index
    assert(FilteredServe.lastByValPlan.contains("PartitionFilters") &&
      FilteredServe.lastByValPlan.contains("lang") &&
      FilteredServe.lastByValPlan.contains("source"),
      s"byval read not partition-pruned:\n${FilteredServe.lastByValPlan}")
    val pruned = FilteredServe.byValPruned(spark, srpDir, pred)
    val scan = pruned.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan in byval plan"))
    val read = scan.selectedPartitions.partitionCount
    val total = FilteredServe.readByVal(spark, srpDir)
      .select("lang", "source").distinct().count()
    info(s"byval read $read of $total value partitions")
    assert(read == 1 && read < total,
      s"byval read $read partitions for a single-value predicate (store has $total)")
  }

  test("broad predicate: walk path post-filters the bounded visited set through a pruned byid read") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val pred = Seq("lang" -> "en") // 193 of 500 docs
    // force the walk tier (exactScanMax = codeScanMax = 0): the
    // plumbing under test is the very-broad-predicate plan a 100 TB
    // corpus would take
    val res = FilteredServe.searchFiltered(spark, sf, srpDir, edgeDir, q,
      pred, k = 5, exactScanMax = 0L, codeScanMax = 0L)
    // the start factor is SELECTIVITY-KEYED from the stats artifact:
    // 193 of 500 matching → ceil(500/193) = 3, not the old fixed ×1
    assert(FilteredServe.lastFilteredPath == "walk:3",
      s"expected the selectivity-keyed walk, took ${FilteredServe.lastFilteredPath}")
    val got = res.collect()
    assert(got.length == 5)
    // every returned row satisfies the predicate and carries the exact
    // similarity of its corpus embedding
    val enIds = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => enIds(r.getLong(0))), "a non-matching row leaked through")
    val exact = exactFiltered(pred, 500).map(r => r.head.asInstanceOf[Long] -> r(2)).toMap
    got.foreach { r =>
      assert(exact(r.getLong(0)) == r.getDouble(2),
        s"sim mismatch for ${r.getLong(0)}")
    }
    // ranks are the (sim DESC, vec_id) order of the matched candidates
    assert(got.map(_.getInt(1)).toSeq == (1 to 5))
    assert(got.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq ==
      got.map(_.getDouble(2)).sorted.reverse.toSeq)
    // decent recall against the exact filtered top-k: the walk's basin
    // covers the query's neighborhood, the filter only drops non-en rows
    val exactTop = exactFiltered(pred, 5).map(_.head.asInstanceOf[Long]).toSet
    val recall = got.count(r => exactTop(r.getLong(0))) / 5.0
    info(s"walk-path filtered recall@5 = $recall")
    assert(recall >= 0.6, s"filtered walk recall collapsed: $recall")
    // the byid post-filter read pruned to the candidates' pb buckets
    assert("PartitionFilters: \\[[^\\]]*pb#".r.findFirstIn(FilteredServe.lastByIdPlan).nonEmpty,
      s"byid read not partition-pruned:\n${FilteredServe.lastByIdPlan}")
    // deterministic: same serve, same rows
    val again = FilteredServe.searchFiltered(spark, sf, srpDir, edgeDir, q,
      pred, k = 5, exactScanMax = 0L, codeScanMax = 0L)
    assert(again.collect().map(_.toSeq).toSeq == got.map(_.toSeq).toSeq)
  }

  test("mid-selectivity: per-value code tier serves matching-only candidates, embedding bytes never scanned") {
    val srpDir = SrpStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val pred = Seq("lang" -> "en") // 193 matching > exactScanMax=0 → code tier
    val res = FilteredServe.searchFiltered(spark, sf, srpDir,
      edgeDir = "/nonexistent/edge-store", q, pred, k = 5, exactScanMax = 0L)
    assert(FilteredServe.lastFilteredPath == s"code:${FilteredServe.CodeShortlist}",
      s"expected the code tier, took ${FilteredServe.lastFilteredPath}")
    // W = CodeShortlist (the asserted constant) ≥ 193 matching: the
    // shortlist covers every matching row,
    // so the tier IS the exact filtered ranking here — assert equality
    val got = res.collect().map(_.toSeq).toSeq
    assert(got == exactFiltered(pred, 5),
      "code tier with covering shortlist diverged from the exact filtered ranking")
    // the shortlist scan is partition-pruned AND column-projected:
    // keys read, the ~3 KB embedding column untouched
    assert(FilteredServe.lastCodeScanPlan.contains("PartitionFilters") &&
      FilteredServe.lastCodeScanPlan.contains("keys"),
      s"code scan not pruned/projected:\n${FilteredServe.lastCodeScanPlan}")
    assert(!FilteredServe.lastCodeScanPlan.contains("embedding"),
      s"code-tier shortlist scan read embedding bytes:\n${FilteredServe.lastCodeScanPlan}")
    // deterministic: same serve, same rows
    val again = FilteredServe.searchFiltered(spark, sf, srpDir,
      edgeDir = "/nonexistent/edge-store", q, pred, k = 5, exactScanMax = 0L)
    assert(again.collect().map(_.toSeq).toSeq == got)
    // all three stored families converge on the same tier for
    // mid-selectivity predicates (the planner is the meta artifact's,
    // not the family's) — and none of them opens its own index
    val viaHnsw = graft.sources.HnswStore.searchFiltered(spark,
      "/nonexistent/hnsw-store", srpDir, q, pred, k = 5, exactScanMax = 0L)
      .collect().map(_.toSeq).toSeq
    assert(viaHnsw == got && FilteredServe.lastFilteredPath.startsWith("code:"))
    val viaCode = graft.sources.CodeStore.searchFiltered(spark,
      "/nonexistent/code-store", srpDir, q, pred, k = 5, exactScanMax = 0L)
      .collect().map(_.toSeq).toSeq
    assert(viaCode == got && FilteredServe.lastFilteredPath.startsWith("code:"))
  }

  test("escalation exhausts into the exact fallback: recall cannot collapse under selective predicates") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    // one matching document in the whole corpus, k = 10: no walk depth
    // can surface k matches, so the schedule must run out and the serve
    // must answer from the pruned exact path — full recall by
    // construction, never a silent k-shortfall
    val pred = Seq("lang" -> "de", "source" -> "src11")
    val res = FilteredServe.searchFiltered(spark, sf, srpDir, edgeDir, q,
      pred, k = 10, exactScanMax = 0L, codeScanMax = 0L)
    assert(FilteredServe.lastFilteredPath == "fallback",
      s"expected escalation fallback, took ${FilteredServe.lastFilteredPath}")
    val got = res.collect().map(_.toSeq).toSeq
    assert(got == exactFiltered(pred, 10),
      "fallback diverged from the exact filtered ranking")
    assert(got.size == 1)
  }

  test("code-scan family: filtered shortlist post-filters and escalates, fallback cannot miss") {
    import graft.sources.CodeStore
    val srpDir = SrpStore.storeFor(spark, sf)
    val codeDir = CodeStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    // broad predicate, forced scan branch: matching shortlist ids
    // rerank exactly, every row satisfies the predicate
    val pred = Seq("lang" -> "en")
    val got = CodeStore.searchFiltered(spark, codeDir, srpDir, q, pred,
      k = 5, exactScanMax = 0L, codeScanMax = 0L).collect()
    assert(FilteredServe.lastFilteredPath.startsWith("scan:"),
      s"expected the scan branch, took ${FilteredServe.lastFilteredPath}")
    assert(got.length == 5)
    val enIds = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => enIds(r.getLong(0))), "a non-matching row leaked through")
    val exact = exactFiltered(pred, 500).map(r => r.head.asInstanceOf[Long] -> r(2)).toMap
    got.foreach(r => assert(exact(r.getLong(0)) == r.getDouble(2)))
    val exactTop = exactFiltered(pred, 5).map(_.head.asInstanceOf[Long]).toSet
    val recall = got.count(r => exactTop(r.getLong(0))) / 5.0
    info(s"code-scan filtered recall@5 = $recall")
    assert(recall >= 0.6, s"filtered code-scan recall collapsed: $recall")
    // one matching doc, k = 10: the widened shortlists can never
    // surface k matches — the serve must end in the exact fallback
    val sel = Seq("lang" -> "de", "source" -> "src11")
    val fb = CodeStore.searchFiltered(spark, codeDir, srpDir, q, sel,
      k = 10, exactScanMax = 0L, codeScanMax = 0L).collect().map(_.toSeq).toSeq
    assert(FilteredServe.lastFilteredPath == "fallback")
    assert(fb == exactFiltered(sel, 10) && fb.size == 1)
  }

  test("hierarchy family: filtered descent post-filters the walk, fallback cannot miss") {
    import graft.sources.HnswStore
    val srpDir = SrpStore.storeFor(spark, sf)
    val hnswDir = HnswStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val pred = Seq("lang" -> "en")
    val got = HnswStore.searchFiltered(spark, hnswDir, srpDir, q, pred,
      k = 5, exactScanMax = 0L, codeScanMax = 0L).collect()
    assert(FilteredServe.lastFilteredPath.startsWith("walk:"),
      s"expected the walk branch, took ${FilteredServe.lastFilteredPath}")
    assert(got.length == 5)
    val enIds = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => enIds(r.getLong(0))), "a non-matching row leaked through")
    val exact = exactFiltered(pred, 500).map(r => r.head.asInstanceOf[Long] -> r(2)).toMap
    got.foreach(r => assert(exact(r.getLong(0)) == r.getDouble(2)))
    val exactTop = exactFiltered(pred, 5).map(_.head.asInstanceOf[Long]).toSet
    val recall = got.count(r => exactTop(r.getLong(0))) / 5.0
    info(s"hnsw filtered recall@5 = $recall")
    assert(recall >= 0.6, s"filtered hierarchy recall collapsed: $recall")
    // one matching doc, k = 10 → escalation exhausts into exact
    val sel = Seq("lang" -> "de", "source" -> "src11")
    val fb = HnswStore.searchFiltered(spark, hnswDir, srpDir, q, sel,
      k = 10, exactScanMax = 0L, codeScanMax = 0L).collect().map(_.toSeq).toSeq
    assert(FilteredServe.lastFilteredPath == "fallback")
    assert(fb == exactFiltered(sel, 10) && fb.size == 1)
  }

  test("quantization family: filtered ADC shortlist post-filters and escalates, fallback cannot miss") {
    import graft.sources.IvfPqStore
    val srpDir = SrpStore.storeFor(spark, sf)
    val pqDir = IvfPqStore.residualStoreFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val emb = Tables.embeddings(spark, sf)
    val pred = Seq("lang" -> "en")
    val got = IvfPqStore.searchFilteredResidual(spark, pqDir, srpDir,
      emb, "embedding", "vec_id", q, pred, k = 5, exactScanMax = 0L,
      codeScanMax = 0L).collect()
    assert(FilteredServe.lastFilteredPath.startsWith("walk:"),
      s"expected the shortlist branch, took ${FilteredServe.lastFilteredPath}")
    assert(got.length == 5)
    val enIds = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => enIds(r.getLong(0))), "a non-matching row leaked through")
    val exact = exactFiltered(pred, 500).map(r => r.head.asInstanceOf[Long] -> r(2)).toMap
    got.foreach(r => assert(exact(r.getLong(0)) == r.getDouble(2)))
    val exactTop = exactFiltered(pred, 5).map(_.head.asInstanceOf[Long]).toSet
    val recall = got.count(r => exactTop(r.getLong(0))) / 5.0
    info(s"ivfpq filtered recall@5 = $recall")
    assert(recall >= 0.6, s"filtered quantization recall collapsed: $recall")
    // one matching doc, k = 10 → escalation exhausts into exact
    val sel = Seq("lang" -> "de", "source" -> "src11")
    val fb = IvfPqStore.searchFilteredResidual(spark, pqDir, srpDir,
      emb, "embedding", "vec_id", q, sel, k = 10, exactScanMax = 0L,
      codeScanMax = 0L).collect().map(_.toSeq).toSeq
    assert(FilteredServe.lastFilteredPath == "fallback")
    assert(fb == exactFiltered(sel, 10) && fb.size == 1)
  }

  private def live(c: graft.sources.Versioned.Chain): Seq[Int] = graft.sources.Versioned.live(spark, c)

  /** the (lang, source) of every served byval copy of `id` */
  private def servedCopies(dir: String, id: Long): Seq[(String, String)] =
    FilteredServe.readByVal(spark, dir).filter(col("vec_id") === id)
      .select(col("lang"), col("source")).collect().map(r => (r.getString(0), r.getString(1))).toSeq

  test("upsertMeta: new/moved values searchable, stale copies gone, untouched partitions stable") {
    import spark.implicits._
    import graft.sources.SrpStore
    val dir = java.nio.file.Files.createTempDirectory("meta_upsert").toString
    SrpStore.write(spark, sf, dir)
    FilteredServe.writeMeta(spark, sf, dir)
    // snapshot an untouched partition's files (rewrite minimality)
    val untouchedDir = new java.io.File(s"$dir/meta/byval/__ver=0/lang=en/source=src0")
    val before = untouchedDir.listFiles().map(f => (f.getName, f.lastModified())).toSet
    // a moved id: doc 42 exists (v7's lookup row) — move it to (xx, zz)
    val moved = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 42L).select(col("embedding")).head().getSeq[Float](0).toArray
    val oldVal = Tables.documents(spark, sf).filter(col("doc_id") === 42L)
      .select(col("lang"), col("source")).head()
    val oldPred = Seq("lang" -> oldVal.getString(0), "source" -> oldVal.getString(1))
    val oldCount = FilteredServe.matchCount(spark, dir, oldPred)
    val fresh = FakeEmbedder.embed("a brand new filtered document")
    val updates = Seq(
      (900000L, fresh, "xx", "zz"),
      (42L, moved, "xx", "zz"))
      .toDF("vec_id", "embedding", "lang", "source")
    val touched = FilteredServe.upsertMeta(spark, dir, updates)
    assert(touched.contains(Seq("xx", "zz")) &&
      touched.contains(Seq(oldVal.getString(0), oldVal.getString(1))),
      s"touched partitions wrong: $touched")
    // new value partition serves through the filtered exact path
    val pred = Seq("lang" -> "xx", "source" -> "zz")
    assert(FilteredServe.matchCount(spark, dir, pred) == 2L)
    assert(FilteredServe.matchCount(spark, dir, oldPred) == oldCount - 1)
    val got = FilteredServe.searchFiltered(spark, sf, dir,
      edgeDir = "/nonexistent/edge-store", fresh, pred, k = 2)
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(42L, 900000L), s"upserted rows not served: $got")
    // one served copy of the moved id, and its old value's serve no
    // longer returns it
    assert(servedCopies(dir, 42L) == Seq(("xx", "zz")), s"stale byval copies: ${servedCopies(dir, 42L)}")
    val oldServe = FilteredServe.searchFiltered(spark, sf, dir,
      edgeDir = "/nonexistent/edge-store", moved, oldPred, k = 3).collect().map(_.getLong(0))
    assert(!oldServe.contains(42L), s"the moved id still served under its old value: ${oldServe.toSeq}")
    // byid reflects the move
    val idRow = FilteredServe.readById(spark, dir)
      .filter(col("vec_id") === 42L)
      .select(col("lang"), col("source")).collect().map(r => (r.getString(0), r.getString(1)))
    assert(idRow.toSeq == Seq(("xx", "zz")), s"byid stale: ${idRow.toSeq}")
    // an untouched value partition was not rewritten
    val after = untouchedDir.listFiles().map(f => (f.getName, f.lastModified())).toSet
    assert(after == before, "untouched byval partition was rewritten")
  }

  test("upsertMeta: emptied partitions with path-escaped values (space, '/') are really deleted") {
    import spark.implicits._
    import graft.sources.SrpStore
    val dir = java.nio.file.Files.createTempDirectory("meta_escape").toString
    SrpStore.write(spark, sf, dir)
    FilteredServe.writeMeta(spark, sf, dir)
    val emb42 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 42L).select(col("embedding")).head().getSeq[Float](0).toArray
    // move doc 42 into a value needing Hive path escaping, then away
    // again: the emptied combo must serve nothing, and the fold must
    // drop its escaped dir from disk
    def move(l: String, s: String) = FilteredServe.upsertMeta(spark, dir,
      Seq((42L, emb42, l, s)).toDF("vec_id", "embedding", "lang", "source"))
    val escaped = Seq("lang" -> "a b", "source" -> "c/d")
    move("a b", "c/d")
    assert(FilteredServe.matchCount(spark, dir, escaped) == 1L)
    move("xx", "zz")
    assert(FilteredServe.matchCount(spark, dir, escaped) == 0L)
    assert(servedCopies(dir, 42L) == Seq(("xx", "zz")), s"stale byval copies survived: ${servedCopies(dir, 42L)}")
    assert(FilteredServe.searchFiltered(spark, sf, dir, "/nonexistent/edge-store", emb42, escaped, k = 5)
      .collect().isEmpty, "the emptied combo still serves")
    // more upserts until the chain folds: the fold writes the resolved
    // view, and GC takes the versions that held the escaped dir
    val esc = org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName _
    val sub = s"lang=${esc("a b")}/source=${esc("c/d")}"
    def escapedDirs = new java.io.File(s"$dir/meta/byval").listFiles()
      .filter(_.getName.startsWith("__ver=")).map(v => new java.io.File(v, sub)).filter(_.exists()).toSeq
    assert(escapedDirs.nonEmpty, "the escaped dir was never written")
    (live(FilteredServe.chain(dir)).size until graft.sources.Versioned.CompactAfter)
      .foreach(_ => move("xx", "zz"))
    assert(live(FilteredServe.chain(dir)).size == 1, s"no fold: ${live(FilteredServe.chain(dir))}")
    assert(escapedDirs.isEmpty, s"emptied escaped partition dir survived the fold: $escapedDirs")
    assert(servedCopies(dir, 42L) == Seq(("xx", "zz")))
    assert(FilteredServe.matchCount(spark, dir, escaped) == 0L)
    assert(FilteredServe.matchCount(spark, dir, Seq("lang" -> "xx", "source" -> "zz")) == 1L)
  }

  test("meta crash contract: a delta with no marker is invisible, the retry clears it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("meta_torn").toString
    try {
      FilteredServe.writeMeta(spark, sf, dir)
      val pred = Seq("lang" -> "xx", "source" -> "zz")
      val vec = FakeEmbedder.embed("a row whose write crashed before its marker")
      val id = 900001L
      // a crash after the delta's data but before its marker: version
      // 1's byval and stats by hand, another embedding for the same id
      val torn = vec.map(_ + 0.5f)
      Seq((id, torn, Array.fill(graft.operators.SrpBanded.Bands)(0L), 1, "xx", "zz"))
        .toDF("vec_id", "embedding", "keys", "__ver", "lang", "source")
        .write.mode("append").partitionBy("__ver", "lang", "source").parquet(s"$dir/meta/byval")
      Seq(("xx", "zz", 1L)).toDF("lang", "source", "cnt").write.parquet(s"$dir/meta/stats/__ver=1")
      assert(live(FilteredServe.chain(dir)) == Seq(0))
      assert(FilteredServe.matchCount(spark, dir, pred) == 0L)
      def serve() = FilteredServe.searchFiltered(spark, sf, dir, "/nonexistent/edge-store", vec, pred, k = 5)
        .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
      assert(serve().isEmpty, "the uncommitted delta was served")
      FilteredServe.upsertMeta(spark, dir, Seq((id, vec, "xx", "zz")).toDF("vec_id", "embedding", "lang", "source"))
      assert(live(FilteredServe.chain(dir)) == Seq(0, 1))
      assert(FilteredServe.matchCount(spark, dir, pred) == 1L)
      // one row, the retry's: the torn copy would rank at a lower sim
      assert(serve() == Seq((id, 1.0)), s"retry did not serve exactly the update: ${serve()}")
    } finally graft.sources.TempStores.delete(dir)
  }

  test("upsertMeta under concurrent serves: every read sees the store before the write or after it") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("meta_rw").toString
    try {
      FilteredServe.writeMeta(spark, sf, dir)
      val emb42 = Tables.embeddings(spark, sf)
        .filter(col("vec_id") === 42L).select(col("embedding")).head().getSeq[Float](0).toArray
      val fresh = FakeEmbedder.embed("a document written while serves run")
      val pred = Seq("lang" -> "xx", "source" -> "zz")
      def observe(): (Long, Set[Long]) =
        (FilteredServe.matchCount(spark, dir, pred),
          FilteredServe.searchFiltered(spark, sf, dir, "/nonexistent/edge-store", fresh, pred, k = 5)
            .collect().map(_.getLong(0)).toSet)
      assert(observe() == ((0L, Set.empty[Long])))
      val done = new java.util.concurrent.atomic.AtomicBoolean(false)
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, (Long, Set[Long])]]()
      val reader = new Thread(() => {
        var last = false
        while (!last) {
          last = done.get()
          seen.add(try Right(observe()) catch { case t: Throwable => Left(t.toString) })
        }
      })
      reader.start()
      FilteredServe.upsertMeta(spark, dir, Seq((900000L, fresh, "xx", "zz"), (42L, emb42, "xx", "zz"))
        .toDF("vec_id", "embedding", "lang", "source"))
      done.set(true)
      reader.join()
      val states = Set((0L, Set.empty[Long]), (2L, Set(42L, 900000L)))
      val obs = seen.asScala.toSeq
      val bad = obs.filterNot(_.exists { case (n, ids) =>
        states.exists(_._1 == n) && states.exists(_._2 == ids) })
      info(s"${obs.size} reads during the write")
      assert(bad.isEmpty, s"${bad.size} of ${obs.size} reads were neither the old store nor " +
        s"the new one: ${bad.distinct.take(3)}")
      assert(obs.last == Right((2L, Set(42L, 900000L))), s"the last read missed the write: ${obs.last}")
    } finally graft.sources.TempStores.delete(dir)
  }

  test("batched filtered serve: covering shortlist equals per-query exact filtered top-k, scan pruned + projected") {
    val srpDir = SrpStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val pred = Seq("lang" -> "en")
    val got = FilteredServe.searchFilteredBatch(spark, sf, srpDir,
      queryMod = 50, pred, k = 3).collect()
    assert(FilteredServe.lastFilteredPath.startsWith("code_batch:"))
    // ground truth: per query, the exact filtered top-3 by the serve's
    // own total order (W = 512 ≥ 193 matching → covering)
    val qs = Tables.embeddings(spark, sf)
      .filter(col("vec_id") % 50 === 0 && col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
      .select(col("vec_id"), col("embedding")).collect()
    assert(qs.nonEmpty && got.length == qs.length * 3)
    val enIds = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val emb = Tables.embeddings(spark, sf)
    qs.foreach { qr =>
      val qid = qr.getLong(0)
      val qv = qr.getSeq[Float](1).toArray
      val truth = emb
        .filter(col("vec_id").isin(enIds.toSeq: _*))
        .select(col("vec_id"),
          graft.functions.vectors.cosine_sim(col("embedding"), typedLit(qv)).as("s"))
        .orderBy(col("s").desc, col("vec_id")).limit(3)
        .collect().map(_.getLong(0)).toSeq
      val mine = got.filter(_.getLong(0) == qid).sortBy(_.getInt(2))
        .map(_.getLong(1)).toSeq
      assert(mine == truth, s"batch filtered serve diverged for query $qid")
    }
    // the batch code scan is partition-pruned and never reads embeddings
    assert(FilteredServe.lastCodeScanPlan.contains("PartitionFilters") &&
      !FilteredServe.lastCodeScanPlan.contains("embedding"),
      s"batch code scan not pruned/projected:\n${FilteredServe.lastCodeScanPlan}")
  }

  test("grouped-by-predicate micro-batch serving equals the per-request path exactly") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    // a mixed micro-batch: two predicate groups with 2+ queries each
    // (→ the amortized set-based plan) plus a singleton (→ the
    // per-request three-tier serve)
    val qv = Tables.embeddings(spark, sf)
      .filter(col("vec_id").isin(0L, 50L, 100L, 150L, 200L) &&
        col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val reqs = Seq(
      (1L, qv(0L), Seq("lang" -> "en")),
      (2L, qv(50L), Seq("lang" -> "en")),
      (3L, qv(100L), Seq("lang" -> "de")),
      (4L, qv(150L), Seq("lang" -> "de")),
      (5L, qv(200L), Seq("lang" -> "fr", "source" -> "src2")))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    val grouped = rows(graft.streaming.FilteredProbeStream
      .probeBatchGrouped(spark, sf, srpDir, edgeDir, reqs, k = 5))
    val single = rows(graft.streaming.FilteredProbeStream
      .probeBatch(spark, sf, srpDir, edgeDir, reqs, k = 5))
    assert(grouped == single,
      "grouped micro-batch serving diverged from per-request serves")
    assert(grouped.map(_._1).distinct.sorted == Seq(1L, 2L, 3L, 4L, 5L))
  }

  test("streaming filtered probe: per-request predicates equal their batch serves across micro-batches") {
    import spark.implicits._
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    // two files → two micro-batches; predicates span the planner's
    // shapes: broad single term (en = 193 matching), a TWO-TERM
    // conjunction riding the optional source field (de+src11 = exactly
    // 1 matching — the request shape of the reference's
    // withdrawn AND type filter), and another single term; what this
    // spec pins is stream == batch per request, per predicate arity
    val reqs: Seq[(Long, String, Seq[(String, String)])] = Seq(
      (1L, "fast vector search over spark tables", Seq("lang" -> "en")),
      (2L, "customer support policy for refunds",
        Seq("lang" -> "de", "source" -> "src11")),
      (3L, "streaming ingestion with upserts", Seq("lang" -> "en")))
    val tmp = java.nio.file.Files.createTempDirectory("filtered_q").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/a.json"),
      s"""{"query_id": 1, "query_text": "${reqs(0)._2}", "lang": "en"}"""
        .getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/b.json"),
      Seq(
        s"""{"query_id": 2, "query_text": "${reqs(1)._2}", "lang": "de", "source": "src11"}""",
        s"""{"query_id": 3, "query_text": "${reqs(2)._2}", "lang": "en"}""")
        .mkString("\n").getBytes("UTF-8"))
    val out = graft.streaming.FilteredProbeStream
      .runOnce(spark, tmp, sf, srpDir, edgeDir, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._3)).toSeq
    val batch = reqs.flatMap { case (qid, text, pred) =>
      FilteredServe.searchFiltered(spark, sf, srpDir, edgeDir,
        FakeEmbedder.embed(text), pred, k = 5)
        .collect().map(r => (qid, r.getLong(0), r.getInt(1), r.getDouble(2)))
    }.sortBy(r => (r._1, r._3))
    assert(out == batch, "streaming filtered probe diverged from batch serves")
    // the conjunction request really matched its single row
    assert(out.count(_._1 == 2L) == 1, "two-term request should match exactly 1 doc")
    // every row satisfies its own request's FULL predicate
    val metaOf = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source")).collect()
      .map(r => r.getLong(0) -> Map("lang" -> r.getString(1), "source" -> r.getString(2)))
      .toMap
    out.foreach { case (qid, nid, _, _) =>
      val pred = reqs.find(_._1 == qid).get._3
      pred.foreach { case (c, v) =>
        assert(metaOf(nid)(c) == v, s"query $qid row $nid violates $c=$v")
      }
    }
  }

  test("streaming filtered probe: typed comparison requests (source_ge) equal their per-request typed serves") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    // two requests SHARE the comparison (grouped set-based branch when
    // covering), one carries a different threshold (its own group)
    val reqs: Seq[(Long, String, Seq[graft.sources.MetaTerm])] = Seq(
      (1L, "fast vector search over spark tables",
        Seq(graft.sources.MetaTerm.Eq("lang", "en"), graft.sources.MetaTerm.Cmp("source", ">=", "src15"))),
      (2L, "customer support policy for refunds",
        Seq(graft.sources.MetaTerm.Eq("lang", "en"), graft.sources.MetaTerm.Cmp("source", ">=", "src15"))),
      (3L, "streaming ingestion with upserts",
        Seq(graft.sources.MetaTerm.Eq("lang", "de"), graft.sources.MetaTerm.Cmp("source", ">=", "src3"))))
    val tmp = java.nio.file.Files.createTempDirectory("filtered_qr").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$tmp/a.json"),
      Seq(
        s"""{"query_id": 1, "query_text": "${reqs(0)._2}", "lang": "en", "source_ge": "src15"}""",
        s"""{"query_id": 2, "query_text": "${reqs(1)._2}", "lang": "en", "source_ge": "src15"}""",
        s"""{"query_id": 3, "query_text": "${reqs(2)._2}", "lang": "de", "source_ge": "src3"}""")
        .mkString("\n").getBytes("UTF-8"))
    val out = graft.streaming.FilteredProbeStream
      .runOnce(spark, tmp, sf, srpDir, edgeDir, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(r => (r._1, r._3)).toSeq
    val perRequest = reqs.flatMap { case (qid, text, terms) =>
      FilteredServe.searchFilteredTerms(spark, sf, srpDir, edgeDir,
        FakeEmbedder.embed(text), terms, k = 5)
        .collect().map(r => (qid, r.getLong(0), r.getInt(1), r.getDouble(2)))
    }.sortBy(r => (r._1, r._3))
    assert(out == perRequest,
      "typed streaming requests diverged from per-request typed serves")
    // purity: every row satisfies its request's comparison
    // (lexicographic: source >= threshold as strings)
    val metaOf = Tables.documents(spark, sf)
      .select(col("doc_id"), col("lang"), col("source")).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    out.foreach { case (qid, nid, _, _) =>
      val (wantLang, thr) = qid match {
        case 3L => ("de", "src3")
        case _ => ("en", "src15")
      }
      val (l, src) = metaOf(nid)
      assert(l == wantLang && src >= thr,
        s"query $qid row $nid ($l, $src) violates lang=$wantLang, source>=$thr")
    }
  }

  test("filtered range search: pruned exact scan over matching partitions, rounded-sim threshold") {
    val srpDir = SrpStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val pred = Seq("lang" -> "en")
    val got = FilteredServe.rangeFilteredMeta(spark, srpDir, q, pred, minSim = 0.15)
      .collect()
    assert(got.nonEmpty)
    val enIds = Tables.documents(spark, sf).filter(col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got.forall(r => enIds(r.getLong(0))), "a non-matching row leaked through")
    assert(got.forall(_.getDouble(1) >= 0.15))
    assert(got.map(_.getDouble(1)).toSeq ==
      got.map(_.getDouble(1)).sorted.reverse.toSeq, "not ordered sim DESC")
    // equals the exact filtered range from the corpus tables
    val truth = exactFiltered(pred, 500)
      .filter(_(2).asInstanceOf[Double] >= 0.15)
      .map(r => (r.head.asInstanceOf[Long], r(2).asInstanceOf[Double])).toSet
    assert(got.map(r => (r.getLong(0), r.getDouble(1))).toSet == truth,
      "range result diverged from the exact filtered range")
    // the scan pruned to the matching partitions
    assert(FilteredServe.lastByValPlan.contains("PartitionFilters"),
      s"range byval read not partition-pruned:\n${FilteredServe.lastByValPlan}")
  }

  test("declared meta columns: a withdrawn/type store serves, validates, and upserts with zero configuration") {
    import spark.implicits._
    // a store DECLARED over the reference's own filter columns
    // (sql/02_schema.sql withdrawn/type) — every read path must infer
    // them from the stats artifact, no MetaCols involvement anywhere
    val dir = java.nio.file.Files.createTempDirectory("refcols_meta").toString
    val docs = Tables.documents(spark, sf).select(
      col("doc_id").as("vec_id"),
      when(col("doc_id") % 5 === 0, lit("1")).otherwise(lit("0")).as("withdrawn"),
      when(col("doc_id") % 2 === 0, lit("POLICY")).otherwise(lit("ARTICLE")).as("type"))
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    graft.sources.FilteredServe.writeMetaFrom(spark, dir, docs,
      Seq("withdrawn", "type"), emb)
    assert(FilteredServe.storeMetaCols(spark, dir) == Seq("withdrawn", "type"))
    // the corpus default's columns are UNDECLARED here — rejected loudly
    intercept[IllegalArgumentException] {
      FilteredServe.matchCount(spark, dir, Seq("lang" -> "en"))
    }
    // stats match the derivation arithmetic
    val pred = Seq("withdrawn" -> "0", "type" -> "POLICY")
    val live = docs.filter(col("withdrawn") === "0" && col("type") === "POLICY")
      .join(emb, Seq("vec_id"), "left_semi").count()
    assert(FilteredServe.matchCount(spark, dir, pred) == live)
    // the meta-only serve (code tier forced) equals the exact filtered
    // ranking — covering shortlist at this scale
    val got = FilteredServe.searchFilteredMeta(spark, dir, q, pred,
      k = 5, exactScanMax = 0L).collect().map(_.toSeq).toSeq
    assert(FilteredServe.lastFilteredPath.startsWith("code:"))
    val liveIds = docs.filter(col("withdrawn") === "0" && col("type") === "POLICY")
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val truth = emb.filter(col("vec_id").isin(liveIds.toSeq: _*))
      .select(col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), typedLit(q)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(5)
      .collect().toSeq.zipWithIndex.map { case (r, i) =>
        Seq[Any](r.getLong(0), i + 1,
          BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    assert(got == truth, "declared-columns serve diverged from exact filtered ranking")
    // upsert on the declared columns: doc 42 (live POLICY) is WITHDRAWN
    // — the value move must be served immediately, no stale copy
    val emb42 = Tables.embeddings(spark, sf)
      .filter(col("vec_id") === 42L).select(col("embedding")).head().getSeq[Float](0).toArray
    val touched = FilteredServe.upsertMeta(spark, dir,
      Seq((42L, emb42, "1", "POLICY"))
        .toDF("vec_id", "embedding", "withdrawn", "type"))
    assert(touched.contains(Seq("0", "POLICY")) && touched.contains(Seq("1", "POLICY")),
      s"touched partitions wrong: $touched")
    assert(FilteredServe.matchCount(spark, dir, pred) == live - 1)
    assert(FilteredServe.matchCount(spark, dir,
      Seq("withdrawn" -> "1", "type" -> "POLICY")) > 0L)
    val after = FilteredServe.searchFilteredMeta(spark, dir, q, pred, k = 500)
      .collect().map(_.getLong(0)).toSet
    assert(!after(42L), "withdrawn doc still served as live")
  }

  test("meta stats match the corpus and reject undeclared columns") {
    val srpDir = SrpStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val truth = Tables.documents(spark, sf)
      .join(Tables.embeddings(spark, sf)
          .filter(col("embedding").isNotNull &&
            size(col("embedding")) === graft.operators.SrpBanded.Dim)
          .select(col("vec_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    truth.foreach { case (l, n) =>
      assert(FilteredServe.matchCount(spark, srpDir, Seq("lang" -> l)) == n,
        s"stats diverged for lang=$l")
    }
    intercept[IllegalArgumentException] {
      FilteredServe.matchCount(spark, srpDir, Seq("n_chars" -> "5"))
    }
    intercept[IllegalArgumentException] {
      FilteredServe.matchCount(spark, srpDir, Seq.empty)
    }
  }

  // ---- typed predicates (range/inequality, r14) -----------------

  import graft.sources.MetaTerm

  /** exact filtered top-k over the reference-schema meta store's
    * predicate (country = 'EN' ∧ num_claims ≥ n), computed from the
    * corpus tables */
  private def exactRefFiltered(nClaims: Long, k: Int): Seq[Seq[Any]] = {
    val docs = Tables.documents(spark, sf)
      .filter(upper(substring(col("lang"), 1, 2)) === "EN" &&
        col("doc_id") % 43 >= nClaims)
      .select(col("doc_id"))
    val emb = Tables.embeddings(spark, sf)
    emb.join(docs, emb("vec_id") === docs("doc_id"), "left_semi")
      .select(col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), typedLit(q)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(k)
      .collect().toSeq.zipWithIndex
      .map { case (r, i) =>
        Seq[Any](r.getLong(0), i + 1,
          BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
  }

  test("range predicate: exact tier over partition-pruned dirs + in-scan residual equals brute force") {
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val terms = Seq(MetaTerm.Eq("country", "EN"),
      MetaTerm.Cmp("num_claims", ">=", "22"))
    val res = FilteredServe.searchFilteredMetaTerms(spark, dir, q, terms, k = 10)
    assert(FilteredServe.lastFilteredPath == "exact",
      s"expected exact tier, took ${FilteredServe.lastFilteredPath}")
    assert(res.collect().map(_.toSeq).toSeq == exactRefFiltered(22, 10),
      "range-predicate exact tier diverged from brute force")
    // the equality term still prunes statically (combo enumeration)
    assert(FilteredServe.lastByValPlan.contains("PartitionFilters") &&
      FilteredServe.lastByValPlan.contains("country"),
      s"byval read not partition-pruned:\n${FilteredServe.lastByValPlan}")
  }

  test("range predicate: code tier candidates all satisfy the comparison (purity) and cover at this scale") {
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val terms = Seq(MetaTerm.Eq("country", "EN"),
      MetaTerm.Cmp("num_claims", ">=", "22"))
    val res = FilteredServe.searchFilteredMetaTerms(spark, dir, q, terms,
      k = 10, exactScanMax = 0L)
    assert(FilteredServe.lastFilteredPath.startsWith("code:"),
      s"expected code tier, took ${FilteredServe.lastFilteredPath}")
    // covering regime (matching ≤ W): the tier IS the exact ranking
    assert(res.collect().map(_.toSeq).toSeq == exactRefFiltered(22, 10),
      "covering code tier diverged from the exact filtered ranking")
    // purity: every returned id satisfies the full conjunction
    val ids = res.collect().map(_.getLong(0)).toSet
    val legal = Tables.documents(spark, sf)
      .filter(upper(substring(col("lang"), 1, 2)) === "EN" &&
        col("doc_id") % 43 >= 22)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(legal), s"predicate leak: ${ids.diff(legal)}")
  }

  test("comparison on a PARTITION column reduces to enumerated combos — still static pruning") {
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    // country ∈ {DE,EN,ES,FR,ZH}; >= 'F' lexicographically = {FR, ZH}
    val pruned = FilteredServe.byValPrunedTerms(spark, dir,
      Seq(MetaTerm.Cmp("country", ">=", "F")))
    assert(FilteredServe.lastByValPlan.contains("PartitionFilters"),
      s"partition-column comparison not statically pruned:\n${FilteredServe.lastByValPlan}")
    val got = pruned.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    val want = Tables.documents(spark, sf)
      .filter(upper(substring(col("lang"), 1, 2)).isin("FR", "ZH"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(got == want, "combo-reduced comparison diverged from the truth set")
  }

  test("planner cardinality: exact for partition-class terms, histogram estimate sane for range terms") {
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    // partition-class only → exact combo sums
    val enCount = Tables.documents(spark, sf)
      .filter(upper(substring(col("lang"), 1, 2)) === "EN").count()
    assert(FilteredServe.estimateCount(spark, dir,
      Seq(MetaTerm.Eq("country", "EN"))) == enCount)
    // range term: the equi-width histogram over num_claims (uniform
    // mod-43 values) must estimate within a bin's width of the truth
    val actual = Tables.documents(spark, sf)
      .filter(col("doc_id") % 43 >= 22).count()
    val est = FilteredServe.estimateCount(spark, dir,
      Seq(MetaTerm.Cmp("num_claims", ">=", "22")))
    assert(math.abs(est - actual).toDouble / actual < 0.25,
      s"histogram estimate $est too far from actual $actual")
    // declared range column is readable off the store's own artifact
    assert(FilteredServe.storeRangeCols(spark, dir) == Seq("date", "num_claims"))
    // undeclared column still refuses loudly
    intercept[IllegalArgumentException] {
      FilteredServe.estimateCount(spark, dir,
        Seq(MetaTerm.Cmp("n_chars", ">=", "10")))
    }
  }

  test("typed walk tier: inequality post-filter through byid keeps only satisfying candidates") {
    val srpDir = SrpStore.storeFor(spark, sf)
    val edgeDir = EdgeStore.refinedStoreFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val terms = Seq(MetaTerm.Cmp("lang", "!=", "en"))
    val res = FilteredServe.searchFilteredTerms(spark, sf, srpDir, edgeDir,
      q, terms, k = 5, exactScanMax = 0L, codeScanMax = 0L)
    assert(FilteredServe.lastFilteredPath.startsWith("walk:") ||
      FilteredServe.lastFilteredPath == "fallback",
      s"expected the walk tier, took ${FilteredServe.lastFilteredPath}")
    val got = res.collect()
    assert(got.nonEmpty)
    val ids = got.map(_.getLong(0)).toSet
    val nonEn = Tables.documents(spark, sf).filter(col("lang") =!= "en")
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(nonEn), s"inequality leak: ${ids.diff(nonEn)}")
  }

  test("shortlist policy: coverage never thins below 1/MinCoverageRatio (the r14 fixed-cap weak)") {
    import FilteredServe._
    // fast-path regime unchanged: the 8192 cap binds between ~131k and ~1.05M matching
    assert(shortlistWidth(131072L) == 8192)
    assert(shortlistWidth(500000L) == 8192)
    // matching-keyed regime: W = matching/128 once that exceeds the fast-path bound
    assert(shortlistWidth(4000000L) == 4000000 / 128)
    assert(shortlistWidth(50000000L) == 50000000 / 128) // tier ceiling: 390,625 ids ≈ 3 MB driver
    // the floor + policy regimes below the cap
    assert(shortlistWidth(100L) == CodeShortlist)
    assert(shortlistWidth(80000L) == 80000 / 16)
    // coverage floor holds across the tier's whole envelope
    Seq(1000L, 131072L, 1048576L, 4000000L, 50000000L).foreach { m =>
      val w = shortlistWidth(m)
      assert(w.toDouble / m >= 1.0 / MinCoverageRatio - 1e-12,
        s"coverage ${w.toDouble / m} below floor at matching=$m")
    }
    // the batch policy is the single-query coverage-keyed policy (r15:
    // past MaxShortlist the batch routes through the per-query
    // histogram shortlist, so it no longer needs its own fixed cap)
    assert(shortlistWidthBatch(4000000L) == 4000000 / 128)
    assert(shortlistWidthBatch(80000L) == 80000 / 16)
    assert(shortlistWidthBatch(500000L) == MaxShortlist)
    // belowFloor keys to the INTEGER floor width the policy emits: a
    // policy-compliant matching-keyed serve is never flagged however
    // m mod 128 falls (a strict ratio test would flag 127 of every
    // 128 matching counts in the regime), while a genuinely thin W is
    assert(!Coverage("code", 4000001L, shortlistWidth(4000001L).toLong).belowFloor)
    assert(Coverage("code", 4000001L, 8192L).belowFloor)
  }

  /** a meta store big enough that W can exceed the fast-path bound —
    * deterministic synthetic corpus (the testdata embeddings are 500
    * rows, far below MaxShortlist); built once, shared by the large-W
    * and telemetry tests */
  private lazy val bigMeta: (String, Seq[(Long, Array[Float])], Array[Float]) = {
    import spark.implicits._
    val n = 12000
    val dim = graft.operators.SrpBanded.Dim
    val rnd = new scala.util.Random(20260816L)
    def vec(): Array[Float] = Array.fill(dim)(rnd.nextFloat() * 2f - 1f)
    val rows = (0 until n).map(i =>
      (i.toLong, vec(), if (i % 6 == 0) "bb" else "aa"))
    val dir = graft.sources.TempStores.create("bigmeta")(FilteredServe.writeMetaFrom(spark, _,
      rows.map(r => (r._1, r._3)).toDF("vec_id", "m"),
      Seq("m"),
      rows.map(r => (r._1, r._2)).toDF("vec_id", "embedding")))
    (dir, rows.filter(_._3 == "aa").map(r => (r._1, r._2)), vec())
  }

  test("large-W code tier: histogram-threshold shortlist, covering contract exact, distributed rerank") {
    val (dir, aaRows, qv) = bigMeta
    val matching = FilteredServe.matchCount(spark, dir, Seq("m" -> "aa"))
    assert(matching == 10000L)
    val terms = Seq(MetaTerm.Eq("m", "aa"))
    // brute-force exact filtered top-10, computed off-engine with the
    // engine's own scalar kernel (bit-identical accumulation)
    val want = aaRows.map { case (id, v) =>
      (id, BigDecimal(graft.functions.vectors.cosine_sim_local(v, qv))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s) => (-s, id) }.take(10)
    // covering through the LARGE-W machinery: wOverride = matching
    // (> MaxShortlist) forces the histogram shortlist + the joined
    // distributed rerank, and the covering contract makes it exact
    val got = FilteredServe.codeFilteredTerms(spark, dir, qv, terms,
        k = 10, matching, wOverride = Some(matching.toInt))
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(FilteredServe.lastFilteredPath == s"code:$matching")
    assert(got == want, "covering large-W serve diverged from brute force")
    // non-covering large W (9000 of 10000): high recall, pure, deterministic
    val a1 = FilteredServe.codeFilteredTerms(spark, dir, qv, terms,
      k = 10, matching, wOverride = Some(9000)).collect().map(_.toSeq).toSeq
    val a2 = FilteredServe.codeFilteredTerms(spark, dir, qv, terms,
      k = 10, matching, wOverride = Some(9000)).collect().map(_.toSeq).toSeq
    assert(a1 == a2, "histogram shortlist not deterministic")
    assert(a1.size == 10)
    val gotIds = a1.map(_.head.asInstanceOf[Long]).toSet
    val recall = want.map(_._1).count(gotIds) / 10.0
    assert(recall >= 0.8, s"large-W recall $recall at 90% coverage")
  }

  test("batched large-W: per-query histogram shortlist, covering contract exact per query, deterministic") {
    import spark.implicits._
    val (dir, aaRows, _) = bigMeta
    val matching = FilteredServe.matchCount(spark, dir, Seq("m" -> "aa"))
    val terms = Seq(MetaTerm.Eq("m", "aa"))
    // 4 queries from the matching set itself (self must rank first)
    val qRows = Seq(0, 1111, 5555, 9999).map(aaRows)
    val queries = qRows.map { case (id, v) => (id, v) }.toDF("query_id", "q_vec")
    // covering W through the LARGE-W batch machinery: wOverride =
    // matching (> MaxShortlist) forces the histogram path, every pair
    // passes the threshold, and the rerank is the exact filtered top-k
    def run(w: Int) = FilteredServe.searchFilteredBatchFrom(spark, dir,
        queries, terms, k = 10, wOverride = Some(w))
      .collect().map(_.toSeq).toSeq
    val got = run(matching.toInt)
    assert(FilteredServe.lastFilteredPath == s"code_batch:$matching")
    qRows.foreach { case (qid, qv) =>
      val want = aaRows.map { case (id, v) =>
        (id, BigDecimal(graft.functions.vectors.cosine_sim_local(v, qv))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }.sortBy { case (id, s) => (-s, id) }.take(10).zipWithIndex
        .map { case ((id, s), i) => Seq[Any](qid, id, i + 1, s) }
      val mine = got.filter(_.head == qid)
        .sortBy(_(2).asInstanceOf[Int]).toSeq
      assert(mine == want,
        s"covering large-W batch diverged from brute force for query $qid")
    }
    // non-covering large W (8500 of 10000): still > MaxShortlist (the
    // histogram path with a BINDING threshold), deterministic, high
    // recall, k rows per query
    val a1 = run(8500)
    val a2 = run(8500)
    assert(a1 == a2, "histogram batch shortlist not deterministic")
    assert(a1.count(_.head == qRows.head._1) == 10)
    val exact = got.filter(_.head == qRows.head._1)
      .map(_(1).asInstanceOf[Long]).toSet
    val approx = a1.filter(_.head == qRows.head._1)
      .map(_(1).asInstanceOf[Long]).toSet
    assert(exact.count(approx) >= 8,
      s"non-covering large-W batch recall ${exact.count(approx)}/10")
  }

  test("batch histogram threshold: base bins always pass, boundary bin rides or thins, sub-W totals keep all") {
    import spark.implicits._
    // q0: 10 bins × 10 rows (ham = id/10); w=25 ⇒ hstar=2, cum 30 ≤ 4w
    // ⇒ the whole boundary bin rides: exactly the 30 rows with ham ≤ 2
    val q0 = (0 until 100).map(i => (0L, i.toLong, i / 10))
    // q1: 5 rows at ham 0 + 1000 at ham 7; w=25 ⇒ hstar=7, cumH=1005 >
    // 4w ⇒ base passes whole, boundary hash-thins to ~2·(w−below)=40
    val q1 = (0 until 5).map(i => (1L, 10000L + i, 0)) ++
      (0 until 1000).map(i => (1L, 20000L + i, 7))
    // q2: 12 rows total < w ⇒ no threshold ⇒ every pair kept
    val q2 = (0 until 12).map(i => (2L, 30000L + i, i))
    val pairs = (q0 ++ q1 ++ q2).toDF("query_id", "vec_id", "ham")
    val got = FilteredServe.batchHistogramShortlist(pairs, w = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(got(0L) == (0 until 30).map(_.toLong).toSet,
      s"q0 should keep exactly ham ≤ 2 (30 rows), got ${got(0L).size}")
    assert((10000L until 10005L).forall(got(1L)),
      "q1 base bin (ham < hstar) must always pass")
    val thinned = got(1L).size - 5
    assert(thinned >= 10 && thinned <= 120,
      s"q1 boundary thinning wildly off expectation (~40): $thinned")
    assert(got(2L) == (30000L until 30012L).toSet,
      "q2 (total < W) must keep every pair")
    // deterministic
    val again = FilteredServe.batchHistogramShortlist(pairs, w = 25)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again ==
      got.toSeq.flatMap { case (q, ids) => ids.toSeq.map(q -> _) }.toSet)
  }

  test("coverage telemetry: exact serves report 1.0, policy serves hold the floor, forced-thin serves are counted") {
    val (dir, _, qv) = bigMeta
    val matching = FilteredServe.matchCount(spark, dir, Seq("m" -> "aa"))
    val terms = Seq(MetaTerm.Eq("m", "aa"))
    val serves0 = FilteredServe.filteredServes
    val below0 = FilteredServe.filteredServesBelowFloor
    // exact tier: full coverage
    FilteredServe.searchFilteredMetaTerms(spark, dir, qv, terms, k = 5).collect()
    assert(FilteredServe.lastServeCoverage.tier == "exact")
    assert(FilteredServe.lastServeCoverage.ratio == 1.0)
    assert(FilteredServe.filteredServes == serves0 + 1)
    assert(FilteredServe.filteredServesBelowFloor == below0)
    // policy-W code tier: W = matching/16 — above the floor by design
    FilteredServe.codeFilteredTerms(spark, dir, qv, terms, k = 5, matching).collect()
    val c = FilteredServe.lastServeCoverage
    assert(c.tier.startsWith("code:") && c.matching == matching)
    assert(c.ratio >= 1.0 / FilteredServe.MinCoverageRatio && c.ratio < 1.0)
    assert(FilteredServe.filteredServesBelowFloor == below0,
      "policy-width serve flagged below floor")
    // forced-thin serve (W « matching/128): observable, not silent
    FilteredServe.codeFilteredTerms(spark, dir, qv, terms, k = 5, matching,
      wOverride = Some(60)).collect()
    assert(FilteredServe.lastServeCoverage.belowFloor)
    assert(FilteredServe.filteredServesBelowFloor == below0 + 1,
      "thin serve not counted below the floor")
  }

  test("mixed batch with per-query range thresholds equals per-request typed serves (grouped shape)") {
    import spark.implicits._
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
    // each query carries its caller's own country AND num_claims threshold
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .join(Tables.documents(spark, sf).select(
        col("doc_id").as("query_id"),
        upper(substring(col("lang"), 1, 2)).as("country"),
        ((col("doc_id") % 3) * 10 + 5).cast("string").as("num_claims")),
        Seq("query_id"))
    val predOps = Seq("country" -> "=", "num_claims" -> ">=")
    val mixed = FilteredServe.searchFilteredBatchMixedOps(spark, dir,
        queries, predOps, k = 5)
      .collect().map(_.toSeq).groupBy(_.head)
    assert(FilteredServe.lastMixedBatchPath.startsWith("grouped:"),
      s"expected the grouped shape, took ${FilteredServe.lastMixedBatchPath}")
    assert(mixed.nonEmpty)
    // every query's rows equal the per-request typed serve with its own terms
    val qMeta = queries.select(col("query_id"), col("country"), col("num_claims"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    qMeta.foreach { case (qid, country, nc) =>
      val qv = emb.filter(col("vec_id") === qid)
        .head().getAs[scala.collection.Seq[Float]]("embedding").toArray
      val single = FilteredServe.searchFilteredMetaTerms(spark, dir, qv,
          Seq(MetaTerm.Eq("country", country), MetaTerm.Cmp("num_claims", ">=", nc)),
          k = 5)
        .collect().map(_.toSeq).toSeq
      val got: Seq[Seq[Any]] =
        mixed.get(qid).map(_.toSeq.map(_.drop(1))).getOrElse(Seq.empty)
      assert(got == single,
        s"mixed range batch diverged from the per-request serve for query $qid ($country, >=$nc)")
    }
  }

  test("mixed batch past the group cap: one joined plan, rows identical to the grouped shape") {
    import spark.implicits._
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .join(Tables.documents(spark, sf).select(
        col("doc_id").as("query_id"),
        upper(substring(col("lang"), 1, 2)).as("country"),
        ((col("doc_id") % 3) * 10 + 5).cast("string").as("num_claims")),
        Seq("query_id"))
    val predOps = Seq("country" -> "=", "num_claims" -> ">=")
    def run(maxGroups: Int) = FilteredServe.searchFilteredBatchMixedOps(
        spark, dir, queries, predOps, k = 5, maxGroups = maxGroups)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val grouped = run(maxGroups = 100)
    assert(FilteredServe.lastMixedBatchPath.startsWith("grouped:"))
    val joined = run(maxGroups = 1) // combo universe here is > 1: forces the fallback
    assert(FilteredServe.lastMixedBatchPath.startsWith("joined:"),
      s"expected the joined fallback, took ${FilteredServe.lastMixedBatchPath}")
    assert(joined == grouped,
      "joined fallback diverged from the grouped shape at the boundary")
  }

  test("mixed '=' on a numeric-valued partition column: the joined shape keeps string equality (no '5' == '5.0' merge)") {
    import spark.implicits._
    val dim = graft.operators.SrpBanded.Dim
    val rnd = new scala.util.Random(7L)
    val rows = (0 until 40).map(i => (i.toLong,
      Array.fill(dim)(rnd.nextFloat() * 2f - 1f),
      if (i % 2 == 0) "5" else "5.0"))
    val dir = graft.sources.TempStores.create("numeq")(FilteredServe.writeMetaFrom(spark, _,
      rows.map(r => (r._1, r._3)).toDF("vec_id", "m"), Seq("m"),
      rows.map(r => (r._1, r._2)).toDF("vec_id", "embedding")))
    val queries = rows.take(4).map(r => (r._1, r._2, r._3))
      .toDF("query_id", "q_vec", "m")
    def run(maxGroups: Int) = FilteredServe.searchFilteredBatchMixedOps(
        spark, dir, queries, Seq("m" -> "="), k = 3, maxGroups = maxGroups)
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val grouped = run(100)
    assert(FilteredServe.lastMixedBatchPath.startsWith("grouped:"))
    val joined = run(1) // 2 combos > 1: forces the joined fallback
    assert(FilteredServe.lastMixedBatchPath.startsWith("joined:"))
    assert(joined == grouped,
      "joined shape numeric-merged distinct partition values '5' and '5.0'")
    // purity: every neighbor lives in its query's own partition
    val part = rows.map(r => r._1 -> r._3).toMap
    grouped.foreach { r =>
      assert(part(r(1).asInstanceOf[Long]) == part(r.head.asInstanceOf[Long]),
        s"query ${r.head} got a neighbor from the other equality class")
    }
  }

  test("mixed batch refuses null predicate values loudly (queries cannot silently vanish)") {
    import spark.implicits._
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("country",
        when(col("query_id") === 100L, lit(null: String)).otherwise(lit("EN")))
    val e = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchMixedOps(spark, dir, queries,
        Seq("country" -> "="), k = 5)
    }
    assert(e.getMessage.contains("null predicate values") &&
      e.getMessage.contains("100"))
  }

  test("Cmp accepts '=': typed equality on a range-class column (the reference's num_claims = N shape)") {
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    // Eq on a range-class column still refuses (partition lookup vs
    // in-row residual), but the '=' comparison now expresses it
    intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredMetaTerms(spark, dir, q,
        Seq(MetaTerm.Eq("num_claims", "22")), k = 5)
    }
    val terms = Seq(MetaTerm.Cmp("num_claims", "=", "22"))
    val res = FilteredServe.searchFilteredMetaTerms(spark, dir, q, terms, k = 5)
      .collect()
    val legal = Tables.documents(spark, sf).filter(col("doc_id") % 43 === 22)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(res.nonEmpty)
    assert(res.map(_.getLong(0)).toSet.subsetOf(legal),
      "typed '=' leaked rows outside the equality set")
    // exact tier here: equals brute force over the equality set
    val want = Tables.embeddings(spark, sf)
      .join(Tables.documents(spark, sf).filter(col("doc_id") % 43 === 22)
        .select(col("doc_id").as("vec_id")), Seq("vec_id"), "left_semi")
      .select(col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), typedLit(q)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq
    assert(res.map(r => (r.getLong(0), r.getDouble(2))).toSeq == want)
  }

  test("date-range predicate: ISO strings compare lexicographically on an in-row range column") {
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val cut = "2020-09-15"
    val terms = Seq(MetaTerm.Eq("country", "EN"),
      MetaTerm.Cmp("date", ">=", cut))
    val res = FilteredServe.searchFilteredMetaTerms(spark, dir, q, terms, k = 5)
      .collect()
    // brute force from the same deterministic doc_id → ISO-date mapping
    val legal = Tables.documents(spark, sf)
      .filter(upper(substring(col("lang"), 1, 2)) === "EN" &&
        date_format(date_add(to_date(lit("2020-01-01")),
          pmod(col("doc_id"), lit(1461)).cast("int")), "yyyy-MM-dd") >= cut)
      .select(col("doc_id")).collect().map(_.getLong(0)).toSet
    assert(res.nonEmpty)
    assert(res.map(_.getLong(0)).toSet.subsetOf(legal),
      "date-range predicate leaked rows before the cutoff")
    val want = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
      .filter(col("vec_id").isin(legal.toSeq: _*))
      .select(col("vec_id"),
        graft.functions.vectors.cosine_sim(col("embedding"), typedLit(q)).as("s"))
      .orderBy(col("s").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0),
        BigDecimal(r.getDouble(1)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)).toSeq
    assert(res.map(r => (r.getLong(0), r.getDouble(2))).toSeq == want,
      "date-filtered ranking diverged from brute force")
  }

  test("mixed-predicate batch equals per-predicate batch serves, one pruned scan per group") {
    import spark.implicits._
    val srpDir = SrpStore.storeFor(spark, sf)
    FilteredServe.ensureMeta(spark, sf, srpDir)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .join(Tables.documents(spark, sf)
        .select(col("doc_id").as("query_id"), col("lang")), Seq("query_id"))
    val mixed = FilteredServe.searchFilteredBatchMixed(spark, srpDir,
      queries, Seq("lang"), k = 5)
      .collect().map(_.toSeq).groupBy(_.head)
    assert(mixed.nonEmpty)
    // every query's rows equal the single-predicate batch serve run
    // with that query's own predicate
    val byLang = queries.select(col("query_id"), col("lang")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    byLang.values.toSeq.distinct.foreach { l =>
      val g = queries.filter(col("lang") === l)
        .select(col("query_id"), col("q_vec"))
      val single = FilteredServe.searchFilteredBatchFrom(spark, srpDir, g,
          Seq(MetaTerm.Eq("lang", l)), k = 5)
        .collect().map(_.toSeq).groupBy(_.head)
      single.foreach { case (qid, rows) =>
        assert(mixed(qid).toSeq == rows.toSeq,
          s"mixed batch diverged from single-predicate batch for query $qid (lang=$l)")
      }
    }
  }

  test("shortlistWidth clamps to Int.MaxValue instead of overflowing negative") {
    import FilteredServe._
    assert(shortlistWidth(Long.MaxValue) == Int.MaxValue)
    assert(shortlistWidth(300000000000L) == Int.MaxValue)
    // the policy regime below the clamp is untouched
    assert(shortlistWidth(4000000L) == 4000000 / 128)
  }

  test("batch envelope: past codeScanMax the batched serve refuses loudly; wOverride is the explicit escape hatch") {
    import spark.implicits._
    val (dir, aaRows, _) = bigMeta
    val terms = Seq(MetaTerm.Eq("m", "aa"))
    val queries = aaRows.take(3).map { case (id, v) => (id, v) }
      .toDF("query_id", "q_vec")
    val below0 = FilteredServe.filteredServesBelowFloor
    val e = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchFrom(spark, dir, queries, terms,
        k = 5, codeScanMax = 100L)
    }
    assert(e.getMessage.contains("refused") && e.getMessage.contains("walk"),
      s"refusal message unhelpful: ${e.getMessage.take(200)}")
    assert(FilteredServe.lastFilteredPath == "code_batch_refused")
    // counted in the coverage telemetry (w=0 → below floor), not silent
    assert(FilteredServe.filteredServesBelowFloor == below0 + 1)
    // wOverride = explicit acceptance: serves (and fixes W) past the bound
    val rows = FilteredServe.searchFilteredBatchFrom(spark, dir, queries,
      terms, k = 5, wOverride = Some(512), codeScanMax = 100L).collect()
    assert(rows.nonEmpty)
  }

  test("mixed batch envelope: the joined fallback refuses past the corpus bound, groups past their matching bound") {
    import spark.implicits._
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("country", lit("EN"))
    // joined shape (maxGroups = 0 forces it): the full-store pair
    // stream carries the CORPUS-count ceiling
    val e1 = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchMixedOps(spark, dir, queries,
        Seq("country" -> "="), k = 5, maxGroups = 0, codeScanMax = 100L)
    }
    assert(e1.getMessage.contains("mixed joined batch refused"),
      s"joined envelope not guarded: ${e1.getMessage.take(200)}")
    // grouped shape: each group's plan checks its own matching count
    val e2 = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchMixedOps(spark, dir, queries,
        Seq("country" -> "="), k = 5, codeScanMax = 0L)
    }
    assert(e2.getMessage.contains("batched filtered serve refused"),
      s"grouped envelope not guarded: ${e2.getMessage.take(200)}")
  }

  test("per-query k: each caller's own limit cuts its rows (covering => exact per-query top-k_q)") {
    import spark.implicits._
    val (dir, aaRows, _) = bigMeta
    val matching = FilteredServe.matchCount(spark, dir, Seq("m" -> "aa"))
    val terms = Seq(MetaTerm.Eq("m", "aa"))
    val qRows = Seq(0, 1111, 5555, 9999).map(aaRows)
    val kOf = qRows.zipWithIndex.map { case ((qid, _), i) => qid -> (2 + i) }.toMap
    val queries = qRows.zipWithIndex
      .map { case ((id, v), i) => (id, v, 2 + i) }
      .toDF("query_id", "q_vec", "k")
    // covering W => the exact filtered ranking, cut at each query's own k
    val got = FilteredServe.searchFilteredBatchFrom(spark, dir, queries,
        terms, k = 0 /* ignored when kCol is set */,
        wOverride = Some(matching.toInt), kCol = Some("k"))
      .collect().map(_.toSeq).toSeq
    qRows.foreach { case (qid, _) =>
      assert(got.count(_.head == qid) == kOf(qid),
        s"query $qid row count != its own k=${kOf(qid)}") }
    // rows equal the fixed-k batch trimmed per query at k_q
    val fixed = FilteredServe.searchFilteredBatchFrom(spark, dir,
        queries.select(col("query_id"), col("q_vec")), terms, k = 5,
        wOverride = Some(matching.toInt))
      .collect().map(_.toSeq).toSeq
    val want = fixed.filter(r =>
      r(2).asInstanceOf[Int] <= kOf(r.head.asInstanceOf[Long]))
    assert(got.toSet == want.toSet,
      "per-query-k rows diverged from the fixed-k batch trimmed at k_q")
  }

  test("per-query k validation: null or non-positive limits refuse loudly") {
    import spark.implicits._
    val (dir, aaRows, _) = bigMeta
    val terms = Seq(MetaTerm.Eq("m", "aa"))
    val qs = aaRows.take(2).map { case (id, v) => (id, v) }
    val withNull = qs.zipWithIndex.map { case ((id, v), i) =>
      (id, v, if (i == 0) null else "3") }
      .toDF("query_id", "q_vec", "k")
    val e1 = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchFrom(spark, dir, withNull, terms,
        k = 5, kCol = Some("k"))
    }
    assert(e1.getMessage.contains("nulls"))
    val withZero = qs.zipWithIndex.map { case ((id, v), i) =>
      (id, v, if (i == 0) 0 else 3) }
      .toDF("query_id", "q_vec", "k")
    val e2 = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchFrom(spark, dir, withZero, terms,
        k = 5, kCol = Some("k"))
    }
    assert(e2.getMessage.contains("\u2265 1") || e2.getMessage.contains(">= 1") ||
      e2.getMessage.toLowerCase.contains("must be"))
  }

  test("mixed batch per-query k validation: null / non-positive limits refuse through the fused probe (r17)") {
    // the combo probe now carries the k stats; an invalid k column must
    // still surface perQueryKMax's exact refusals (the probe delegates
    // on any suspect stats rather than validating approximately)
    import spark.implicits._
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
    val base = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"))
      .withColumn("country", lit("EN"))
    val e1 = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchMixedOps(spark, dir,
        base.withColumn("k",
          when(col("query_id") === 100L, lit(null: Integer)).otherwise(lit(3))),
        Seq("country" -> "="), k = 5, kCol = Some("k"))
    }
    assert(e1.getMessage.contains("nulls"), e1.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      FilteredServe.searchFilteredBatchMixedOps(spark, dir,
        base.withColumn("k",
          when(col("query_id") === 100L, lit(0)).otherwise(lit(3))),
        Seq("country" -> "="), k = 5, kCol = Some("k"))
    }
    assert(e2.getMessage.contains("≥ 1") || e2.getMessage.contains(">= 1") ||
      e2.getMessage.toLowerCase.contains("must be"), e2.getMessage)
  }

  test("per-query k: an EMPTY batch serves as empty output, not a validation error") {
    import spark.implicits._
    val (dir, aaRows, _) = bigMeta
    val terms = Seq(MetaTerm.Eq("m", "aa"))
    // zero rows WITH a k column \u2014 the no-kCol path serves empty input
    // as empty output, and the per-k path must not diverge into a
    // misleading "must be >= 1" refusal (r16 self-review finding)
    val empty = aaRows.take(1).map { case (id, v) => (id, v, 3) }
      .toDF("query_id", "q_vec", "k").filter(lit(false))
    val out = FilteredServe.searchFilteredBatchFrom(spark, dir, empty,
      terms, k = 5, kCol = Some("k"))
    assert(out.count() == 0L, "empty per-k batch should serve zero rows")
  }

  test("mixed batch with per-query k: grouped and joined shapes honor each caller's own limit identically") {
    import spark.implicits._
    val dir = FilteredServe.refMetaStoreFor(spark, sf)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull &&
        size(col("embedding")) === graft.operators.SrpBanded.Dim)
    val queries = emb.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_vec"),
        (lit(2) + col("vec_id") % 7 % 4).cast("int").as("k"))
      .join(Tables.documents(spark, sf).select(
        col("doc_id").as("query_id"),
        upper(substring(col("lang"), 1, 2)).as("country")), Seq("query_id"))
    def run(maxGroups: Int) = FilteredServe.searchFilteredBatchMixedOps(
        spark, dir, queries, Seq("country" -> "="), k = 5,
        maxGroups = maxGroups, kCol = Some("k"))
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val grouped = run(100)
    assert(FilteredServe.lastMixedBatchPath.startsWith("grouped:"))
    val joined = run(0)
    assert(FilteredServe.lastMixedBatchPath.startsWith("joined:"))
    assert(grouped == joined,
      "per-query-k mixed batch: joined shape diverged from grouped")
    // every query's rows respect its own k, and equal the no-kCol run
    // trimmed at k_q (covering regime at spec scale => both exact)
    val kOf = queries.select(col("query_id"), col("k")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val fixed = FilteredServe.searchFilteredBatchMixedOps(
        spark, dir, queries.drop("k"), Seq("country" -> "="), k = 5)
      .collect().map(_.toSeq).toSeq
      .filter(r => r(2).asInstanceOf[Int] <= kOf(r.head.asInstanceOf[Long]))
      .sortBy(_.mkString("|"))
    assert(grouped == fixed,
      "per-query-k mixed rows != fixed-k mixed rows trimmed at k_q")
  }

  test("per-query-W histogram shortlist keys each query's W to its own matching count") {
    import spark.implicits._
    // q0: 100 pairs, m < CodeShortlist floor => W covers, ALL kept
    val q0 = (0 until 100).map(i => (0L, i.toLong, i % 20))
    // q1: 20000 pairs in 100 bins of 200 => W = max(512, 20000/16) =
    // 1250; first cum >= 1250 is bin 6 (1400), 1400 <= 4W => the whole
    // boundary bin rides: exactly ham <= 6 = 1400 pairs kept
    val q1 = (0 until 20000).map(i => (1L, 1000000L + i, i / 200))
    val pairs = (q0 ++ q1).toDF("query_id", "vec_id", "ham")
    val got = FilteredServe.batchHistogramShortlistPerQuery(pairs)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    assert(got(0L).size == 100, s"small query thinned: ${got(0L).size}")
    assert(got(1L) == (0 until 1400).map(i => 1000000L + i).toSet,
      s"large query W not keyed to its own matching count: ${got(1L).size}")
  }

  test("write-side type pinning: array<double> embeddings and int ids build a store the schema-enforced read serves") {
    import spark.implicits._
    val dim = graft.operators.SrpBanded.Dim
    val rnd = new scala.util.Random(4242L)
    val rows = (0 until 30).map(i =>
      (i, Array.fill(dim)(rnd.nextDouble() * 2 - 1), "x"))
    // embedding arrives as array<double>, vec_id as INT — the write
    // side must normalize to the long/array<float> schema readByVal pins
    val dir = graft.sources.TempStores.create("dblmeta")(FilteredServe.writeMetaFrom(spark, _,
      rows.map(r => (r._1, r._3)).toDF("vec_id", "m"), Seq("m"),
      rows.map(r => (r._1, r._2)).toDF("vec_id", "embedding")))
    val qv = rows.head._2.map(_.toFloat)
    val res = FilteredServe.searchFilteredMetaTerms(spark, dir, qv,
      Seq(MetaTerm.Eq("m", "x")), k = 5).collect()
    assert(res.nonEmpty && res.head.getLong(0) == 0L,
      "double-built store failed to serve (self not ranked first)")
    // brute force over the float-cast values the store holds
    val want = rows.map { case (id, v, _) =>
      (id.toLong, BigDecimal(graft.functions.vectors.cosine_sim_local(
        v.map(_.toFloat), qv))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (id, s0) => (-s0, id) }.take(5)
    assert(res.map(r => (r.getLong(0), r.getDouble(2))).toSeq == want,
      "double-built store ranking diverged from float-cast brute force")
    // an upsert in the same wide types merges instead of throwing
    val upd = Seq((1000, Array.fill(dim)(rnd.nextDouble() * 2 - 1), "x"))
      .toDF("vec_id", "embedding", "m")
    FilteredServe.upsertMeta(spark, dir, upd)
    assert(FilteredServe.matchCount(spark, dir, Seq("m" -> "x")) == 31L)
    assert(FilteredServe.searchFilteredMetaTerms(spark, dir, qv,
      Seq(MetaTerm.Eq("m", "x")), k = 31).collect()
      .map(_.getLong(0)).contains(1000L))
  }

  test("streaming grouped probe extends set-based serving to the non-covering code band") {
    val (dir, aaRows, _) = bigMeta
    val matching = FilteredServe.matchCount(spark, dir, Seq("m" -> "aa"))
    // really non-covering at this scale: W < matching
    assert(FilteredServe.shortlistWidth(matching) < matching)
    val terms: Seq[MetaTerm] = Seq(MetaTerm.Eq("m", "aa"))
    val reqs = Seq(1L, 2L, 3L).zip(
        Seq(aaRows(3), aaRows(77), aaRows(1234)))
      .map { case (qid, (_, v)) => (qid, v, terms) }
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(t => (t._1, t._3)).toSeq
    // exactScanMax = 0 puts the group in the CODE band: the grouped
    // probe takes the batch plan (same tier, same W policy as the
    // per-request serves it amortizes)
    val grouped = rows(graft.streaming.FilteredProbeStream
      .probeBatchGroupedTerms(spark, sf, dir, "/nonexistent/edge-store",
        reqs, k = 5, exactScanMax = 0L))
    assert(FilteredServe.lastFilteredPath.startsWith("code_batch:"),
      s"non-covering code-band group did not batch: ${FilteredServe.lastFilteredPath}")
    val single = rows(graft.streaming.FilteredProbeStream
      .probeBatchTerms(spark, sf, dir, "/nonexistent/edge-store",
        reqs, k = 5, exactScanMax = 0L))
    assert(grouped == single,
      "non-covering batched group diverged from the per-request code serves")
    // with the default planner the same group is EXACT-tier per
    // request: batching it would trade exact for approximate — kept
    // per-request
    val dflt = rows(graft.streaming.FilteredProbeStream
      .probeBatchGroupedTerms(spark, sf, dir, "/nonexistent/edge-store",
        reqs, k = 5))
    assert(FilteredServe.lastFilteredPath == "exact",
      s"exact-tier group should stay per-request: ${FilteredServe.lastFilteredPath}")
    val dfltSingle = rows(graft.streaming.FilteredProbeStream
      .probeBatchTerms(spark, sf, dir, "/nonexistent/edge-store", reqs, k = 5))
    assert(dflt == dfltSingle)
  }
}
