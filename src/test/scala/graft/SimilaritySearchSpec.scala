package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{IvfIndex, PqIndex, SimilaritySearch, SqIndex}
import graft.functions.FakeEmbedder

class SimilaritySearchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf
  val queryText = "fast vector search over spark tables"

  def live(c: graft.sources.Versioned.Chain): Seq[Int] = graft.sources.Versioned.live(spark, c)

  test("knn returns k sorted rows") {
    val emb = Tables.embeddings(spark, sf)
    val top = SimilaritySearch.knn(emb, "embedding", "vec_id",
      FakeEmbedder.embed(queryText), 10, "cosine").collect()
    assert(top.length == 10)
    val scores = top.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
  }

  test("knn l2 ascending, dot descending") {
    val emb = Tables.embeddings(spark, sf)
    val l2 = SimilaritySearch.knn(emb, "embedding", "vec_id",
      FakeEmbedder.embed(queryText), 5, "l2").collect().map(_.getDouble(1))
    assert(l2.zip(l2.tail).forall { case (a, b) => a <= b })
  }

  test("similarity join: every query gets exactly k neighbors, self is top hit") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val nQueries = queries.count()
    val res = SimilaritySearch.similarityJoin(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 5, "cosine")
    val rows = res.collect()
    assert(rows.length == nQueries * 5)
    // a vector's nearest neighbor is itself (cosine 1.0)
    val best = rows.groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.maxBy(_.getDouble(2)) }
    best.foreach { case (q, r) => assert(r.getLong(1) == q, s"query $q top hit should be itself") }
  }

  test("record lookup returns the row") {
    val r = SimilaritySearch.recordById(Tables.documents(spark, sf), "doc_id", 42L).collect()
    assert(r.length == 1 && r(0).getAs[Long]("doc_id") == 42L)
  }

  test("semantic search end-to-end") {
    val r = SimilaritySearch.semanticSearch(spark, sf, queryText, 10).collect()
    assert(r.length == 10)
    assert(r.map(_.getAs[Double]("similarity")).sliding(2).forall(p => p.head >= p.last))
  }

  test("IVF search recall vs exact knn") {
    val emb = Tables.embeddings(spark, sf)
    val q = FakeEmbedder.embed(queryText)
    val exact = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "cosine")
      .collect().map(_.getLong(0)).toSet
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 16, 5)
    assert(model.k == 16)
    val approx = IvfIndex.search(emb, "embedding", "vec_id", model, q, 10, 4)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF recall $recall too low")
    // full probe = exact
    val full = IvfIndex.search(emb, "embedding", "vec_id", model, q, 10, 16)
      .collect().map(_.getLong(0)).toSet
    assert(full == exact)
  }

  test("persisted IVF store: search equals in-memory, scan is partition-pruned") {
    val emb = Tables.embeddings(spark, sf)
    val q = FakeEmbedder.embed(queryText)
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_store").toString
    graft.sources.IvfStore.write(spark, emb, "embedding", model, dir)
    val fromDisk = graft.sources.IvfStore.search(spark, dir, "embedding", "vec_id", q, 10, 3)
    val inMem = IvfIndex.search(emb, "embedding", "vec_id", model, q, 10, 3)
    assert(fromDisk.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      inMem.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq)
    // the probe plan must prune partitions, not scan all lists
    val plan = fromDisk.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"no partition pruning in:\n$plan")
    // round-trip of the centroid matrix is exact
    val loaded = graft.sources.IvfStore.readCentroids(spark, dir)
    assert(loaded.centroids.map(_.toSeq).toSeq == model.centroids.map(_.toSeq).toSeq)
  }

  test("IVF upsert: new vectors searchable, stale copy gone, only touched partitions rewritten") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    val dir = java.nio.file.Files.createTempDirectory("ivf_upsert").toString
    graft.sources.IvfStore.write(spark, emb, "embedding", model, dir)

    // per-list file snapshot: rewrites produce fresh part filenames
    def partFiles(): Map[String, Set[String]] =
      new java.io.File(s"$dir/lists").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("list_id="))
        .map(d => d.getName ->
          d.listFiles().map(f => s"${f.getName}:${f.length()}").toSet)
        .toMap
    val before = partFiles()

    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val v0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).as[Array[Float]].first()
    // move id 7 to a DIFFERENT list: give it the embedding of a vector
    // whose current assignment differs from id 7's
    val assigned = IvfIndex.assign(emb, "embedding", model)
      .select(col("vec_id"), col("list_id"))
    val l7 = assigned.filter(col("vec_id") === 7L).first().getInt(1)
    val donor = assigned.filter(col("list_id") =!= l7)
      .orderBy(col("vec_id")).first().getLong(0)
    val vDonor = emb.filter(col("vec_id") === donor)
      .select(col("embedding")).as[Array[Float]].first()

    val updates = Seq((maxId + 1, v0, 0), (7L, vDonor, 0))
      .toDF("vec_id", "embedding", "label")
    val touched = graft.sources.IvfStore.upsert(spark, dir, updates, "embedding", "vec_id")

    // the new id is searchable: query = its own embedding, nprobe 1
    // reaches the list it was appended to
    val hits = graft.sources.IvfStore
      .search(spark, dir, "embedding", "vec_id", v0, 5, 8)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(maxId + 1), s"upserted id ${maxId + 1} not found in $hits")

    // the moved id lives in exactly one list — its NEW assignment
    val after = spark.read.parquet(s"$dir/lists")
    val rows7 = after.filter(col("vec_id") === 7L)
      .select(col("list_id")).collect().map(_.getInt(0)).toSeq
    val lDonor = assigned.filter(col("vec_id") === donor).first().getInt(1)
    assert(rows7 == Seq(lDonor), s"moved id 7: lists $rows7, expected Seq($lDonor)")
    assert(touched.contains(l7) && touched.contains(lDonor))

    // rewrite minimality: untouched list partitions byte-identical
    val afterFiles = partFiles()
    before.foreach { case (part, files) =>
      val id = part.stripPrefix("list_id=").toInt
      if (touched.contains(id))
        assert(afterFiles(part) != files, s"$part touched but files unchanged")
      else
        assert(afterFiles(part) == files, s"$part untouched but files rewritten")
    }
    // row accounting: one new row, no duplicates
    assert(after.count() == emb.count() + 1)
    assert(after.groupBy(col("vec_id")).count().filter(col("count") > 1).count() == 0)
  }

  test("IVF upsert: a list emptied by a move loses its partition (no stale copy)") {
    import spark.implicits._
    def v(x: Float, y: Float) = Array(x, y, 0f, 0f)
    // list 0 = {1, 2}; list 1 = {3} (singleton)
    val emb = Seq((1L, v(1f, 0f), 0), (2L, v(0.9f, 0f), 0), (3L, v(0f, 1f), 0))
      .toDF("vec_id", "embedding", "label")
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 2, 5)
    val dir = java.nio.file.Files.createTempDirectory("ivf_empty").toString
    graft.sources.IvfStore.write(spark, emb, "embedding", model, dir)
    val assigned = IvfIndex.assign(emb, "embedding", model)
    val l3 = assigned.filter(col("vec_id") === 3L).select("list_id").first().getInt(0)
    val l1 = assigned.filter(col("vec_id") === 1L).select("list_id").first().getInt(0)
    assert(l3 != l1, "test premise: 3 sits alone in its own list")
    // move the singleton into the other cluster -> its old list empties
    val updates = Seq((3L, v(1f, 0f), 0)).toDF("vec_id", "embedding", "label")
    val touched = graft.sources.IvfStore.upsert(spark, dir, updates, "embedding", "vec_id")
    assert(touched.contains(l3) && touched.contains(l1))
    // dynamic overwrite can't rewrite a partition absent from the
    // output — upsert must have deleted the emptied one explicitly
    assert(!new java.io.File(s"$dir/lists/list_id=$l3").exists(),
      s"emptied partition list_id=$l3 still on disk (stale copy of id 3)")
    val after = spark.read.parquet(s"$dir/lists")
    assert(after.count() == 3)
    val rows3 = after.filter(col("vec_id") === 3L)
      .select("list_id").collect().map(_.getInt(0)).toSeq
    assert(rows3 == Seq(l1), s"id 3 lists after move: $rows3")
  }

  test("filtered knn only returns rows passing the predicate") {
    val docs = Tables.documents(spark, sf)
    val en = docs.filter(org.apache.spark.sql.functions.col("lang") === "en")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val emb = Tables.embeddings(spark, sf)
    val r = SimilaritySearch.filteredKnn(
      emb.join(docs.filter(col("lang") === "en").select(col("doc_id")),
        emb("vec_id") === col("doc_id"), "left_semi"),
      lit(true), "embedding", "vec_id", FakeEmbedder.embed(queryText), 10)
    r.collect().foreach(row => assert(en.contains(row.getLong(0))))
  }

  test("hybrid search blends lexical and vector signals") {
    val r = SimilaritySearch.hybridSearch(spark, sf, queryText, 10).collect()
    assert(r.length == 10)
    val scores = r.map(_.getDouble(1))
    assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
    // doc containing query words should beat pure-vector ranking of a
    // doc with none; weak invariant: all scores within [0, 1]
    scores.foreach(s => assert(s >= -1.0 && s <= 1.0))
  }

  test("IVF similarity join: good average recall vs exact, full probe exact") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    def topSets(df: org.apache.spark.sql.DataFrame) =
      df.collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val exact = topSets(SimilaritySearch.similarityJoin(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 5, "cosine"))
    val approx = topSets(IvfIndex.similarityJoin(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", model, 5, nprobe = 3))
    val recalls = exact.map { case (q, ex) =>
      ex.intersect(approx.getOrElse(q, Set.empty)).size.toDouble / ex.size
    }
    val avgRecall = recalls.sum / recalls.size
    assert(avgRecall >= 0.5, s"IVF join avg recall $avgRecall")
    // probing every list recovers the exact join
    val full = topSets(IvfIndex.similarityJoin(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", model, 5, nprobe = 8))
    assert(full == exact)
  }

  test("blocked (non-broadcast) similarity join equals broadcast version") {
    val emb = Tables.embeddings(spark, sf)
    val queries = emb.filter(col("vec_id") % 100 === 0)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaBroadcast = rows(SimilaritySearch.similarityJoin(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 5, "cosine"))
    val viaBlocks = rows(SimilaritySearch.similarityJoinLarge(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 5, blocks = 4, "cosine"))
    assert(viaBlocks == viaBroadcast)
  }

  test("PQ search: codes are valid, recall vs exact is reasonable, rerank is exact") {
    val emb = Tables.embeddings(spark, sf)
    val q = FakeEmbedder.embed(queryText)
    val model = PqIndex.fit(emb, "embedding", "vec_id", m = 8, k = 16, iters = 3)
    assert(model.m == 8 && model.k == 16 && model.dsub == 8)
    // encoded codes all within [0, k)
    val codes = emb.select(PqIndex.encodeColumn(col("embedding"), model).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == 8 && c.forall(x => x >= 0 && x < 16)))
    // recall@10 against exact L2 with 4x rerank
    val exact = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "l2")
      .collect().map(_.getLong(0)).toSet
    val approx = PqIndex.search(emb, "embedding", "vec_id", model, q, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"PQ recall@10 = $recall")
    // with rerank covering the whole corpus the result is exact
    val n = emb.count().toInt
    val full = PqIndex.search(emb, "embedding", "vec_id", model, q, 10, rerank = n)
      .collect().map(_.getLong(0)).toSet
    assert(full == exact)
  }

  test("SQ8 search: codes in byte range, high recall, full rerank exact") {
    val emb = Tables.embeddings(spark, sf)
    val q = FakeEmbedder.embed(queryText)
    val model = SqIndex.fit(emb, "embedding")
    assert(model.dim == q.length)
    assert(model.mins.zip(model.maxs).forall { case (mn, mx) => mn <= mx })
    val codes = emb.select(SqIndex.encode(col("embedding"), model).as("c"))
      .collect().map(_.getSeq[Int](0))
    assert(codes.forall(c => c.length == model.dim && c.forall(x => x >= 0 && x <= 255)))
    // 8-bit per-dim quantization is much finer than PQ: recall should be near-perfect
    val exact = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "l2")
      .collect().map(_.getLong(0)).toSet
    val approx = SqIndex.search(emb, "embedding", "vec_id", model, q, 10)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"SQ8 recall@10 = $recall")
    val n = emb.count().toInt
    val full = SqIndex.search(emb, "embedding", "vec_id", model, q, 10, rerank = n)
      .collect().map(_.getLong(0)).toSet
    assert(full == exact)
  }

  test("MMR rerank: deterministic, top hit kept, diversity no worse than plain knn") {
    val emb = Tables.embeddings(spark, sf)
    val q = FakeEmbedder.embed(queryText)
    val mmr = SimilaritySearch.mmrRerank(emb, "embedding", "vec_id", q, 10, 100)
    val rows = mmr.collect()
    assert(rows.length == 10)
    assert(rows.map(_.getInt(2)).sorted.toSeq == (1 to 10))
    // rank 1 is always the plain-knn top hit (no diversity penalty yet)
    val knnTop = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 1, "cosine")
      .first().getLong(0)
    assert(rows.find(_.getInt(2) == 1).get.getLong(0) == knnTop)
    // deterministic across runs
    val again = SimilaritySearch.mmrRerank(emb, "embedding", "vec_id", q, 10, 100)
      .collect().map(_.toSeq).toSeq
    assert(again == rows.map(_.toSeq).toSeq)
    // with lambda=1 MMR degenerates to plain knn order
    val pure = SimilaritySearch.mmrRerank(emb, "embedding", "vec_id", q, 10, 100, lambda = 1.0)
      .collect().map(_.getLong(0)).toSeq
    val knn10 = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "cosine")
      .collect().map(_.getLong(0)).toSeq
    assert(pure == knn10)
  }

  test("knn edge cases: k larger than corpus, empty corpus, null rows last") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    // k > corpus: returns everything, still sorted
    val all = SimilaritySearch.knn(emb, "embedding", "vec_id",
      FakeEmbedder.embed(queryText), (n + 100).toInt, "cosine")
    assert(all.count() == n)
    // empty corpus: empty result, no crash
    val empty = SimilaritySearch.knn(emb.filter(col("vec_id") < 0),
      "embedding", "vec_id", FakeEmbedder.embed(queryText), 5, "cosine")
    assert(empty.count() == 0)
    // null embeddings sort last, never outrank scored rows
    val withNull = Seq((9001L, null: Array[Float]))
      .toDF("vec_id", "embedding")
      .unionByName(emb.limit(3).select($"vec_id", $"embedding"))
    val top = SimilaritySearch.knn(withNull, "embedding", "vec_id",
      FakeEmbedder.embed(queryText), 4, "l2").collect()
    assert(top.last.getLong(0) == 9001L && top.last.isNullAt(1))
  }

  test("persisted IVF+PQ store: pruned compressed probe with decent recall") {
    val emb = Tables.embeddings(spark, sf)
    val q = FakeEmbedder.embed(queryText)
    val ivf = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    val pq = PqIndex.fit(emb, "embedding", "vec_id", m = 8, k = 16, iters = 3)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq").toString
    graft.sources.IvfPqStore.write(spark, emb, "embedding", "vec_id", ivf, pq, dir)
    // models round-trip exactly
    val (ivf2, pq2) = graft.sources.IvfPqStore.readModels(spark, dir)
    assert(ivf2.centroids.map(_.toSeq).toSeq == ivf.centroids.map(_.toSeq).toSeq)
    assert(pq2.codebooks.map(_.map(_.toSeq).toSeq).toSeq ==
      pq.codebooks.map(_.map(_.toSeq).toSeq).toSeq)
    val res = graft.sources.IvfPqStore.search(spark, dir, emb,
      "embedding", "vec_id", q, 10, nprobe = 4, rerank = 8)
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), "IVFPQ probe not partition-pruned")
    val exact = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "l2")
      .collect().map(_.getLong(0)).toSet
    val approx = res.collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVFPQ recall $recall")
  }

  test("IVF assignment covers all vectors, lists are nonempty-ish") {
    val emb = Tables.embeddings(spark, sf)
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    val assigned = IvfIndex.assign(emb, "embedding", model)
    assert(assigned.count() == emb.count())
    val lists = assigned.groupBy(col("list_id")).count().collect()
    assert(lists.map(_.getLong(1)).sum == emb.count())
    assert(lists.length >= 4, "k-means collapsed to too few lists")
  }

  test("probeFlips: exact Hamming-ball mask sets for every radius 0..RowsPerBand") {
    import graft.operators.SrpBanded
    val n = SrpBanded.RowsPerBand
    def choose(n: Int, r: Int): Long =
      (0 until r).foldLeft(1L)((a, i) => a * (n - i) / (i + 1))
    (0 to n).foreach { radius =>
      val masks = SrpBanded.probeFlips(radius)
      // distinct masks, each within the radius-ball, count = Σ C(n, i)
      assert(masks.distinct.size == masks.size, s"radius $radius: duplicate masks")
      assert(masks.forall(m => java.lang.Long.bitCount(m) <= radius &&
        (m >> n) == 0L), s"radius $radius: mask outside the band's bits")
      val expect = (0 to radius).map(choose(n, _)).sum
      assert(masks.size.toLong == expect,
        s"radius $radius: ${masks.size} masks, expected $expect")
    }
    assertThrows[IllegalArgumentException](SrpBanded.probeFlips(n + 1))
    assertThrows[IllegalArgumentException](SrpBanded.probeFlips(-1))
  }

  test("persisted SRP store: graph search equals in-memory, seed scan is partition-pruned") {
    val q = FakeEmbedder.embed(queryText)
    val dir = java.nio.file.Files.createTempDirectory("srp_store").toString
    graft.sources.SrpStore.write(spark, sf, dir)
    val stored = graft.sources.SrpStore.graphSearch(spark, sf, dir, q)
    val inMem = graft.operators.SrpBanded.graphSearch(spark, sf, q)
    assert(stored.collect().map(_.toSeq).toSeq ==
      inMem.collect().map(_.toSeq).toSeq,
      "stored serve path diverged from in-memory graph search")
    // the seed read must prune to the probed (band, bk) buckets —
    // static partition pruning, decided before any IO
    val seedRows = graft.sources.SrpStore.prunedSeedRows(spark, dir, q)
    val scan = seedRows.queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan in seed-rows plan"))
    assert(scan.toString.contains("PartitionFilters"),
      s"no partition pruning in:\n$scan")
    val probed = graft.operators.SrpBanded.queryProbeKeys(q).toSet
    val total = spark.read.parquet(s"$dir/banded")
      .select("band", "bk").distinct().count()
    val read = scan.selectedPartitions.partitionCount
    info(s"seed scan read $read of $total (band, bk) partitions")
    assert(read <= probed.size && read < total,
      s"scan read $read partitions (store has $total, probe set ${probed.size})")
    // the v2 pool plan scores from the embed/ copy (one full-float
    // copy) joined against the pruned pool ids — no banded-tree
    // embedding bytes exist to read
    val pool = graft.sources.SrpStore.scoredPool(spark, dir, q)
    val scanned = pool.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f.toString }
    assert(scanned.exists(_.contains("/embed")),
      s"scored pool does not read the embed/ copy:\n${scanned.mkString("\n")}")
    // v2 byte contract: no embedding column anywhere in the banded tree
    assert(!spark.read.parquet(s"$dir/banded").columns.contains("embedding"),
      "v2 banded tree must not carry embeddings")
  }

  test("SRP store upsert: new vector searchable, moved id leaves no stale copy, only touched buckets rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srp_upsert").toString
    // pin exact-bucket dirs (shift 0): this spec's rewrite-minimality
    // contract is per BUCKET; the default dir budget would group the
    // tiny test corpus into per-band dirs and make the check vacuous
    graft.sources.SrpStore.write(spark, sf, dir,
      graft.operators.SrpBanded.RowsPerBand, Some(0))
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)

    def bucketFiles(): Map[String, Set[String]] = {
      val out = scala.collection.mutable.Map.empty[String, Set[String]]
      new java.io.File(s"$dir/banded").listFiles()
        .filter(d => d.isDirectory && d.getName.startsWith("band="))
        .foreach { bandDir =>
          bandDir.listFiles().filter(_.isDirectory).foreach { bkDir =>
            out(s"${bandDir.getName}/${bkDir.getName}") =
              bkDir.listFiles().map(f => s"${f.getName}:${f.length()}").toSet
          }
        }
      out.toMap
    }
    val before = bucketFiles()

    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val v0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).as[Array[Float]].first()
    // move id 7 to different buckets: give it a donor's embedding
    // whose band keys differ from id 7's in at least one band
    val keys7 = graft.operators.SrpBanded.queryBandKeys(
      emb.filter(col("vec_id") === 7L).select(col("embedding")).as[Array[Float]].first()).toSet
    val donor = emb.filter(col("vec_id") =!= 7L).orderBy(col("vec_id"))
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])]
      .collect()
      .find { case (_, v) => graft.operators.SrpBanded.queryBandKeys(v).toSet != keys7 }
      .get
    val updates = Seq((maxId + 1, v0), (7L, donor._2)).toDF("vec_id", "embedding")
    val touched = graft.sources.SrpStore.upsert(spark, dir, updates)

    // new id searchable through the store (its seed sim is 1.0)
    val hits = graft.sources.SrpStore.graphSearch(spark, sf, dir, v0)
      .collect().map(_.getLong(0)).toSet
    assert(hits.contains(maxId + 1), s"upserted id ${maxId + 1} not in $hits")

    // moved id: exactly Bands rows, in the donor's buckets, none stale
    val after = spark.read.parquet(s"$dir/banded")
    val rows7 = after.filter(col("vec_id") === 7L)
      .select(col("band").cast("int"), col("bk").cast("long"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    assert(rows7 == graft.operators.SrpBanded.queryBandKeys(donor._2).toSet,
      "moved id's buckets are not its new banding")

    // rewrite minimality: untouched buckets byte-identical
    val afterFiles = bucketFiles()
    val touchedDirs = touched.map { case (b, bk) => s"band=$b/bk=$bk" }.toSet
    before.foreach { case (bucket, files) =>
      if (!touchedDirs.contains(bucket))
        assert(afterFiles(bucket) == files, s"$bucket untouched but rewritten")
    }
    // row accounting in both artifacts: one new id, Bands rows each
    assert(after.count() == (emb.count() + 1) * graft.operators.SrpBanded.Bands)
    assert(graft.sources.SrpStore.bandingFrame(spark, dir).count() == after.count())
    assert(after.groupBy(col("vec_id"), col("band")).count()
      .filter(col("count") > 1).count() == 0)
  }

  test("SRP banding upsert is merge-on-read: O(update) delta, base untouched, compaction folds the chain") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srp_mor").toString
    graft.sources.SrpStore.write(spark, sf, dir)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    def verFiles(v: Int): Set[(String, Long)] = {
      val d = new java.io.File(s"$dir/banding/data/__ver=$v")
      if (!d.exists()) Set.empty
      else d.listFiles().filter(_.isFile).map(f => (f.getName, f.length())).toSet
    }
    val base = verFiles(0)
    assert(base.nonEmpty, "fresh store must have a committed version 0")
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val v0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).as[Array[Float]].first()
    graft.sources.SrpStore.upsert(spark, dir,
      Seq((maxId + 1, v0), (maxId + 2, v0)).toDF("vec_id", "embedding"))
    // the delta is O(update): exactly Bands rows per upserted id, and
    // the durable version-0 copy is byte-identical
    assert(verFiles(0) == base, "upsert rewrote the committed banding base")
    assert(live(graft.sources.SrpStore.chain(dir)) == Seq(0, 1))
    assert(spark.read.parquet(s"$dir/banding/data/__ver=1").count() ==
      2 * graft.operators.SrpBanded.Bands)
    // an updated id resolves to its LATEST version in the view
    graft.sources.SrpStore.upsert(spark, dir,
      Seq((maxId + 1, emb.filter(col("vec_id") === 1L)
        .select(col("embedding")).as[Array[Float]].first())).toDF("vec_id", "embedding"))
    val view = graft.sources.SrpStore.bandingFrame(spark, dir)
    assert(view.filter(col("vec_id") === (maxId + 1)).count() ==
      graft.operators.SrpBanded.Bands, "stale versions leaked into the view")
    val viewRows = view.collect().map(_.toSeq).toSet
    // compaction folds the chain to one full committed copy with an
    // identical resolved view
    graft.sources.SrpStore.compactBanding(spark, dir)
    val versAfter = live(graft.sources.SrpStore.chain(dir))
    assert(versAfter.size == 1, s"compaction left $versAfter")
    assert(!new java.io.File(s"$dir/banding/data/__ver=0").exists(),
      "superseded version partition not garbage-collected")
    assert(graft.sources.SrpStore.bandingFrame(spark, dir)
      .collect().map(_.toSeq).toSet == viewRows,
      "compaction changed the resolved banding view")
  }

  test("SRP banding crash contract: uncommitted deltas are invisible and a retry absorbs the leftover") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srp_crash").toString
    graft.sources.SrpStore.write(spark, sf, dir)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val v0 = emb.filter(col("vec_id") === 0L)
      .select(col("embedding")).as[Array[Float]].first()
    val baseRows = graft.sources.SrpStore.bandingFrame(spark, dir).count()
    // simulate an upsert that crashed AFTER the delta append but
    // BEFORE the commit marker: write the ver-1 partition by hand
    val updates = Seq((maxId + 1, v0)).toDF("vec_id", "embedding")
    graft.operators.SrpBanded.bandedOf(
        updates.select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("band"), col("bk"))
      .withColumn("__ver", lit(1))
      .write.mode("append").partitionBy("__ver").parquet(s"$dir/banding/data")
    graft.Tables.invalidate(dir)
    // readers stay on the committed state — the torn write is invisible
    assert(live(graft.sources.SrpStore.chain(dir)) == Seq(0))
    val view = graft.sources.SrpStore.bandingFrame(spark, dir)
    assert(view.count() == baseRows, "uncommitted delta leaked into the view")
    assert(view.filter(col("vec_id") === (maxId + 1)).count() == 0)
    // re-running the SAME upsert succeeds: the leftover uncommitted
    // partition is cleared before the rewrite, so no doubled rows
    graft.sources.SrpStore.upsert(spark, dir, updates)
    assert(live(graft.sources.SrpStore.chain(dir)) == Seq(0, 1))
    val after = graft.sources.SrpStore.bandingFrame(spark, dir)
    assert(after.filter(col("vec_id") === (maxId + 1)).count() ==
      graft.operators.SrpBanded.Bands,
      "retry after a torn append must yield exactly Bands rows")
    assert(after.count() == baseRows + graft.operators.SrpBanded.Bands)
  }

  test("EdgeStore upsert: upserted vector becomes a hop DESTINATION without a rebuild, untouched partitions stable") {
    import spark.implicits._
    // full artifact set built on the ORIGINAL corpus
    val srpDir = java.nio.file.Files.createTempDirectory("edgeup_srp").toString
    graft.sources.SrpStore.write(spark, sf, srpDir)
    val edgeDir = java.nio.file.Files.createTempDirectory("edgeup_edges").toString
    // many pb buckets (the spec corpus alone sizes to one), so "strict
    // subset" below has something to be strict about
    StoreFixtures.atCap(graft.sources.EdgeStore.write(spark,
      graft.operators.SrpBanded.materializedRefinedGraph(spark, sf), edgeDir))
    val buckets = graft.sources.EdgeStore.buckets(spark, edgeDir)
    assert(buckets == graft.sources.EdgeStore.EdgePartitions, s"fixture store has $buckets buckets")
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val newId = maxId + 1
    val tVec = emb.filter(col("vec_id") === 3L)
      .select(col("embedding")).as[Array[Float]].first()
    val twin = tVec.updated(0, tVec(0) + 0.01f) // cos ~ 0.9999 to id 3
    // post-ingest corpus: the table upsert (Ingest flow) has absorbed
    // the new row — EdgeStore.upsert scores against this table
    val d2 = java.nio.file.Files.createTempDirectory("edgeup_corpus").toString
    emb.select(col("vec_id"), col("embedding"))
      .union(Seq((newId, twin)).toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val updates = Seq((newId, twin)).toDF("vec_id", "embedding")
    graft.sources.SrpStore.upsert(spark, srpDir, updates)

    // the upsert appends a committed delta version — the v0 data is
    // NEVER rewritten (the crash contract): snapshot every v0 file
    def verFiles(ver: Int): Map[String, Set[(String, Long)]] = {
      val vd = new java.io.File(s"$edgeDir/edges/data/__ver=$ver")
      if (!vd.exists()) Map.empty
      else vd.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("pb="))
        .map(d => d.getName ->
          d.listFiles().filter(_.isFile).map(f => (f.getName, f.length())).toSet)
        .toMap
    }
    val before = verFiles(0)
    assert(before.nonEmpty, "no v0 partitions written")

    // a search whose seed pool EXCLUDES the new id: anything it finds
    // of newId must arrive over an edge hop, as a destination
    def seedExcludedSearch(): Set[Long] = {
      val pool = graft.sources.SrpStore.scoredPool(spark, srpDir, twin)
        .filter(col("vec_id") =!= newId)
      graft.operators.SrpBanded.graphSearchFrom(spark, pool,
          k = 10, beam = 8, iters = 2, maxEntries = 64,
          fetchScored = fr => graft.operators.Hnsw.fetchScoredDf(
            graft.sources.EdgeStore.edgesFor(spark, edgeDir, fr), twin))
        .collect().map(_.getAs[Long]("vec_id")).toSet
    }
    assert(!seedExcludedSearch().contains(newId),
      "stale edge table should not reach the upserted id")

    val touchedPbs = graft.sources.EdgeStore.upsert(spark, edgeDir, d2, srpDir, updates)
    assert(touchedPbs.nonEmpty && touchedPbs.size < buckets,
      s"upsert delta should cover a strict subset of partitions: $touchedPbs")
    assert(live(graft.sources.EdgeStore.chain(edgeDir)) == Seq(0, 1),
      "upsert should commit exactly one delta version")

    // structurally a destination: near neighbors adopted it
    val adopters = graft.sources.EdgeStore.read(spark, edgeDir)
      .filter(col("dst") === newId).select(col("src"))
      .collect().map(_.getLong(0)).toSet
    assert(adopters.contains(3L),
      s"the twin's base vector should adopt the upserted id: $adopters")
    // functionally a destination: reachable from a seed pool that
    // excludes it, through the refreshed edges — no rebuild anywhere
    assert(seedExcludedSearch().contains(newId),
      "upserted id not reachable as a hop destination after EdgeStore.upsert")

    // append-only: EVERY committed v0 file byte-identical, the delta
    // confined to the new version's touched pb partitions
    assert(verFiles(0) == before, "committed v0 data rewritten by upsert")
    val deltaDirs = verFiles(1).keySet
    assert(deltaDirs == touchedPbs.map(p => s"pb=$p").toSet,
      s"delta partitions $deltaDirs != reported $touchedPbs")
  }

  test("EdgeStore crash contract: uncommitted delta invisible, retry safe") {
    import spark.implicits._
    val srpDir = java.nio.file.Files.createTempDirectory("edgecrash_srp").toString
    graft.sources.SrpStore.write(spark, sf, srpDir)
    val edgeDir = java.nio.file.Files.createTempDirectory("edgecrash_edges").toString
    graft.sources.EdgeStore.write(spark,
      graft.operators.SrpBanded.materializedRefinedGraph(spark, sf), edgeDir)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    val baseRows = graft.sources.EdgeStore.read(spark, edgeDir).count()
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val newId = maxId + 1
    val tVec = emb.filter(col("vec_id") === 3L)
      .select(col("embedding")).as[Array[Float]].first()
    val twin = tVec.updated(0, tVec(0) + 0.01f)
    val d2 = java.nio.file.Files.createTempDirectory("edgecrash_corpus").toString
    emb.select(col("vec_id"), col("embedding"))
      .union(Seq((newId, twin)).toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val updates = Seq((newId, twin)).toDF("vec_id", "embedding")
    graft.sources.SrpStore.upsert(spark, srpDir, updates)
    // simulate a crash AFTER the delta data write but BEFORE the
    // commit marker: write a bogus ver-1 partition by hand
    Seq((newId, 3L, tVec)).toDF("src", "dst", "dst_emb")
      .withColumn("pb", pmod(col("src"),
        lit(graft.sources.EdgeStore.buckets(spark, edgeDir).toLong)))
      .withColumn("__ver", lit(1))
      .write.mode("append").partitionBy("__ver", "pb")
      .parquet(s"$edgeDir/edges/data")
    graft.Tables.invalidate(edgeDir)
    // readers stay on the committed state — the torn write is invisible
    assert(live(graft.sources.EdgeStore.chain(edgeDir)) == Seq(0))
    val view = graft.sources.EdgeStore.read(spark, edgeDir)
    assert(view.count() == baseRows, "uncommitted delta leaked into the view")
    assert(view.filter(col("src") === newId).count() == 0)
    // the retry clears the torn partition before re-writing: no
    // doubled rows, the bogus hand-written edge is gone
    graft.sources.EdgeStore.upsert(spark, edgeDir, d2, srpDir, updates)
    assert(live(graft.sources.EdgeStore.chain(edgeDir)) == Seq(0, 1))
    val after = graft.sources.EdgeStore.read(spark, edgeDir)
    val newOut = after.filter(col("src") === newId).count()
    assert(newOut > 0 && newOut <= 5,
      s"retry should give the upserted id one top-k edge set, got $newOut")
  }

  test("streaming SRP probe: equals batch stored graph search, seed scan partition-pruned") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("srp_stream").toString
    graft.sources.SrpStore.write(spark, sf, dir)
    val tmp = java.nio.file.Files.createTempDirectory("srpprobe_q").toString
    val q1 = "fast vector search over spark tables"
    val q2 = "slow filter batch"
    Seq(s"""{"query_id": 1, "query_text": "$q1"}""",
      s"""{"query_id": 2, "query_text": "$q2"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val out = graft.streaming.SrpProbeStream
      .runOnce(spark, tmp, sf, dir, k = 5).collect()
    assert(out.length == 10) // 2 queries x 5 neighbors
    Seq(1L -> q1, 2L -> q2).foreach { case (qid, qt) =>
      val batch = graft.sources.SrpStore.graphSearch(spark, sf, dir,
          FakeEmbedder.embed(qt), k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      val stream = out.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(stream == batch, s"query $qid: stream $stream != batch $batch")
    }
    // the per-batch seed read pruned to the probed buckets
    val plan = graft.streaming.SrpProbeStream.lastSeedPlan
    assert(plan.contains("PartitionFilters") && plan.contains("band"),
      s"no partition pruning in streaming seed plan:\n$plan")
  }

  test("v31 HNSW: layers thin geometrically, descent path is valid, recall vs exact") {
    import spark.implicits._
    val q = FakeEmbedder.embed(queryText)
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()

    // layer membership follows the md5 rule: ~1/4 per level, and each
    // layer graph's nodes are exactly that layer's members
    val lvls = emb.select(col("vec_id"),
      substring(md5(col("vec_id").cast("string")), 1, 3).as("h"))
      .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("h")))
    def lvlOf(h: String): Int =
      if (h(0) >= '4') 0 else if (h(1) >= '4') 1 else if (h(2) >= '4') 2 else 3
    val members1 = lvls.filter { case (_, h) => lvlOf(h) >= 1 }.map(_._1).toSet
    assert(members1.size > 0 && members1.size < n,
      s"level-1 membership ${members1.size} of $n not a proper subset")
    val g1 = graft.operators.Hnsw.layerGraph(spark, sf, 1).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    assert(g1.nonEmpty, "level-1 graph empty")
    assert(g1.forall { case (s, d) => members1.contains(s) && members1.contains(d) },
      "level-1 graph contains non-member nodes")

    // serve: k sorted rows, descending sims, recall floor vs exact
    val res = graft.operators.Hnsw.search(spark, sf, q).collect()
    assert(res.length == 10, s"expected 10 rows, got ${res.length}")
    val sims = res.map(_.getAs[Double]("sim"))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b }, "sims not sorted")
    val exactTop = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "cosine")
      .collect().map(_.getLong(0))
    val approx = res.map(_.getAs[Long]("vec_id")).toSet
    val recall = exactTop.toSet.intersect(approx).size.toDouble / exactTop.length
    assert(recall >= 0.7, s"HNSW recall $recall too low")
    assert(exactTop.take(3).forall(approx.contains),
      s"HNSW missed one of the exact top-3 ${exactTop.take(3).toSeq}")
  }

  test("v35 refined HNSW: recall within noise of the raw-graph serve, identical descent") {
    val emb = Tables.embeddings(spark, sf)
    // MEASURED (and kept honest here): refinement is a WASH under
    // descent seeding on this corpus — unlike v25, whose broad
    // radius-2 multi-probe seed pool lets the refined graph's tighter
    // edges shine, the walk's narrow basin-local seed pool depends on
    // edge DIVERSITY, which NN-Descent trades away for nearness (the
    // reason HNSW selects neighbors heuristically rather than purely
    // nearest). So the contract is: same descent, no regression
    // beyond per-query noise, and the serve floor holds. The ≥ raw
    // contract lives where it is true — v25's LSH-seeded spec.
    val texts = Seq(queryText,
      "fast vector search over spark tables",
      "streaming ingestion pipeline design",
      "how do neural networks learn representations",
      "distributed query optimization techniques",
      "the history of database transaction logs")
    val recalls = texts.map { t =>
      val q = FakeEmbedder.embed(t)
      val exactTop = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "cosine")
        .collect().map(_.getLong(0)).toSet
      def recallOf(refined: Boolean): Double = {
        val got = graft.operators.Hnsw.search(spark, sf, q, refined = refined)
          .collect().map(_.getAs[Long]("vec_id")).toSet
        exactTop.intersect(got).size.toDouble / exactTop.size
      }
      (recallOf(refined = false), recallOf(refined = true))
    }
    val meanRaw = recalls.map(_._1).sum / recalls.size
    val meanRef = recalls.map(_._2).sum / recalls.size
    info(s"mean recall@10 over ${texts.size} queries: raw=$meanRaw refined=$meanRef")
    info(s"per-query (raw, refined): $recalls")
    assert(meanRef >= meanRaw - 0.1,
      s"refined mean recall $meanRef regressed beyond noise vs raw $meanRaw")
    assert(meanRef >= 0.55, s"refined mean recall $meanRef below the serve floor")
  }

  test("v32 stored HNSW: equals in-memory serve, local descent == pruned distributed descent, zero corpus access") {
    val q = FakeEmbedder.embed(queryText)
    val dir = graft.sources.HnswStore.storeFor(spark, sf)
    // the search signature takes ONLY the store dir: entry, layer
    // edges and layer-0 hops are all self-contained store reads (the
    // embeddings ride in the rows), so serving cannot touch the corpus
    val stored = graft.sources.HnswStore.search(spark, dir, q).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rk"), r.getAs[Double]("sim")))
    val inMem = graft.operators.Hnsw.search(spark, sf, q).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rk"), r.getAs[Double]("sim")))
    assert(stored.sameElements(inMem),
      s"stored HNSW diverged: ${stored.toSeq} vs ${inMem.toSeq}")
    // the default serve walks every layer from the driver images, the
    // l0 beam graph included (zero jobs per request) — all fit a share
    assert(graft.sources.HnswStore.lastLocalLayers ==
      (0 to graft.operators.Hnsw.MaxLevel).toSet,
      s"serve not answered from the driver images: ${graft.sources.HnswStore.lastLocalLayers}")
    def serveAt(budget: Long): Seq[(Long, Int, Double)] = {
      graft.sources.EdgeStore.lastEdgePlanThunk = () => ""
      StoreFixtures.atBudget(budget)(graft.sources.HnswStore.search(spark, dir, q).collect()
        .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rk"), r.getAs[Double]("sim"))).toSeq)
    }
    // the layer-0 hop read is the pruned EdgeStore point read, with
    // the destination embedding in-row — corpus-free
    def assertPrunedHops(): Unit = {
      val edgePlan = graft.sources.EdgeStore.lastEdgePlan
      assert(edgePlan.contains("PartitionFilters") && edgePlan.contains("pb"),
        s"no partition pruning in stored hop read:\n$edgePlan")
      assert(edgePlan.contains("dst_emb") && !edgePlan.contains("embeddings.parquet"),
        s"hop read not self-contained:\n$edgePlan")
    }
    // force the DISTRIBUTED serve (budget 0): identical rows — the
    // local kernel twin and the pruned point read are the same serve —
    // and the layer and hop reads are partition-pruned with no corpus
    // access
    val dist = serveAt(0L)
    assert(dist == stored.toSeq,
      s"distributed serve diverged from cached: $dist vs ${stored.toSeq}")
    assert(graft.sources.HnswStore.lastLocalLayers.isEmpty)
    val plan = graft.sources.HnswStore.lastLayerPlan
    assert(plan.contains("PartitionFilters") && plan.contains("layer"),
      s"no partition pruning in stored layer read:\n$plan")
    assert(!plan.contains("embeddings.parquet"),
      s"stored layer read touches the corpus table:\n$plan")
    assertPrunedHops()
    // a budget whose share fits the upper layers but not l0 (each
    // image gets its own share): the descent is local, the layer-0
    // hops distributed, the rows identical
    val upper = graft.sources.HnswStore.layersFrame(spark, dir).count()
    val l0 = graft.sources.EdgeStore.read(spark, s"$dir/l0").count()
    assert(upper < l0, s"fixture: upper layers $upper edges, l0 $l0")
    val split = serveAt(graft.sources.Resident.Slots *
      graft.sources.Resident.VectorBytes * upper)
    assert(graft.sources.HnswStore.lastLocalLayers ==
      (1 to graft.operators.Hnsw.MaxLevel).toSet,
      s"upper layers cached, l0 not: ${graft.sources.HnswStore.lastLocalLayers}")
    assert(split == stored.toSeq, s"split serve diverged from cached: $split vs ${stored.toSeq}")
    assertPrunedHops()
  }

  test("HnswStore upsert: upserted vector joins its layers without a rebuild, untouched partitions stable") {
    import spark.implicits._
    val srpDir = java.nio.file.Files.createTempDirectory("hnswup_srp").toString
    graft.sources.SrpStore.write(spark, sf, srpDir)
    val dir = java.nio.file.Files.createTempDirectory("hnswup_store").toString
    // many pb buckets per layer (the spec corpus alone sizes to one)
    StoreFixtures.atCap(graft.sources.HnswStore.write(spark, sf, dir))
    assert(graft.sources.HnswStore.layerBuckets(spark, dir) ==
      graft.sources.HnswStore.LayerPartitions)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    // the md5 level rule, replayed driver-side
    def lvl(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      if (h(0) >= '4') 0 else if (h(1) >= '4') 1 else if (h(2) >= '4') 2 else 3
    }
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    // a new id that lands on layer >= 1, twinned to an EXISTING
    // layer >= 1 member so a within-layer bucket collision is certain
    val newId = (maxId + 1 to maxId + 64).find(lvl(_) >= 1).get
    val baseId = emb.select(col("vec_id")).as[Long].collect().sorted
      .find(lvl(_) >= 1).get
    val bVec = emb.filter(col("vec_id") === baseId)
      .select(col("embedding")).as[Array[Float]].first()
    val twin = bVec.updated(0, bVec(0) + 0.01f)
    val d2 = java.nio.file.Files.createTempDirectory("hnswup_corpus").toString
    emb.select(col("vec_id"), col("embedding"))
      .union(Seq((newId, twin)).toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    val updates = Seq((newId, twin)).toDF("vec_id", "embedding")
    graft.sources.SrpStore.upsert(spark, srpDir, updates)

    def verFiles(ver: Int): Map[String, Set[(String, Long)]] = {
      val vd = new java.io.File(s"$dir/layers/data/__ver=$ver")
      if (!vd.exists()) Map.empty
      else vd.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("layer="))
        .flatMap(ld => ld.listFiles().filter(_.isDirectory).map(pd =>
          s"${ld.getName}/${pd.getName}" ->
            pd.listFiles().filter(_.isFile).map(f => (f.getName, f.length())).toSet))
        .toMap
    }
    val before = verFiles(0)
    assert(before.nonEmpty, "no v0 layer partitions written")
    // warm the driver images, l0 included, before the upserts
    graft.sources.HnswStore.search(spark, dir, twin).collect()
    val warm0 = graft.sources.HnswStore.localLayers(spark, dir)
    assert(warm0.keySet == (1 to graft.operators.Hnsw.MaxLevel).toSet)
    val l0Warm0 = graft.sources.EdgeStore.image(spark, s"$dir/l0")
    assert(l0Warm0.isDefined, "the l0 image was not admitted")

    val touched = graft.sources.HnswStore.upsert(spark, dir, d2, srpDir, updates)
    assert(touched.nonEmpty, "upsert touched no layer partitions")
    assert(touched.size < before.size,
      s"upsert delta should cover a strict subset: $touched of ${before.size}")
    assert(live(graft.sources.HnswStore.chain(dir)) == Seq(0, 1),
      "upsert should commit exactly one delta version")

    // structurally on its layers: the twin pair adopted each other
    // (resolved merge-on-read view)
    val l1 = graft.sources.HnswStore.layersFrame(spark, dir)
      .filter(col("layer") === 1)
      .select(col("src"), col("dst"))
      .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst"))).toSet
    assert(l1.contains((newId, baseId)),
      s"upserted id has no layer-1 edge to its twin base $baseId")
    assert(l1.contains((baseId, newId)),
      s"twin base $baseId did not adopt the upserted id on layer 1")

    // functionally: the full stored hierarchy serves the new vector
    // after the layer-0 edge upsert, with no rebuild anywhere.
    // Each image follows its own chain's version stamp: the layer
    // delta under `layers/` rebuilds the upper-layer image, the edge
    // delta under `l0/` the l0 image
    val warm1 = graft.sources.HnswStore.localLayers(spark, dir)
    assert(!(warm1 eq warm0), "the layer upsert left the upper-layer image in place")
    assert(warm1(1).contains(newId), "re-collected layer 1 lacks the upserted id")
    assert(graft.sources.EdgeStore.image(spark, s"$dir/l0").get eq l0Warm0.get,
      "the layer upsert rebuilt the l0 image")
    graft.sources.EdgeStore.upsert(spark, s"$dir/l0", d2, srpDir, updates)
    val l0Warm1 = graft.sources.EdgeStore.image(spark, s"$dir/l0")
    assert(!(l0Warm1.get eq l0Warm0.get), "the l0 upsert left the l0 image in place")
    assert(l0Warm1.get.contains(newId), "re-collected l0 lacks the upserted id")
    val servedRows = graft.sources.HnswStore.search(spark, dir, twin).collect().map(_.toSeq).toSeq
    assert(graft.sources.HnswStore.lastLocalLayers == (0 to graft.operators.Hnsw.MaxLevel).toSet)
    val served = servedRows.map(_.head.asInstanceOf[Long]).toSet
    assert(served.contains(newId),
      s"stored hierarchy does not serve the upserted vector: $served")
    // the warm serve equals a fresh session's, which opens the store anew
    val fresh = graft.sources.HnswStore.search(spark.newSession(), dir, twin)
      .collect().map(_.toSeq).toSeq
    assert(servedRows == fresh, s"warm serve $servedRows != fresh session's $fresh")

    // append-only crash contract: EVERY committed v0 file
    // byte-identical, the delta confined to the new version
    assert(verFiles(0) == before, "committed v0 layers rewritten by upsert")
    val deltaDirs = verFiles(1).keySet
    assert(deltaDirs == touched.map { case (l, pb) => s"layer=$l/pb=$pb" }.toSet,
      s"delta partitions $deltaDirs != reported $touched")
  }

  /** An SRP store and an HNSW store over the spec corpus, plus `n`
    * [[StoreFixtures.layerTwins]] and the post-ingest corpus holding
    * them (the SRP store has absorbed them too; the HNSW store has
    * not). */
  private def hnswFixture(tag: String, n: Int)
      : (String, String, String, Seq[(Long, Array[Float])]) = {
    import spark.implicits._
    val srpDir = java.nio.file.Files.createTempDirectory(s"${tag}_srp").toString
    graft.sources.SrpStore.write(spark, sf, srpDir)
    val dir = java.nio.file.Files.createTempDirectory(s"${tag}_store").toString
    graft.sources.HnswStore.write(spark, sf, dir)
    val (news, d2) = StoreFixtures.layerTwins(spark, sf, n, tag)
    graft.sources.SrpStore.upsert(spark, srpDir, news.toDF("vec_id", "embedding"))
    (srpDir, dir, d2, news)
  }

  test("HnswStore crash contract: uncommitted layer delta and entry invisible, retry absorbs the leftover") {
    import spark.implicits._
    import graft.sources.HnswStore
    val (srpDir, dir, d2, news) = hnswFixture("hnswcrash", 1)
    val (newId, twin) = news.head
    val baseRows = HnswStore.layersFrame(spark, dir).count()
    val baseEntry = HnswStore.storedEntry(spark, dir)._1
    val baseServe = HnswStore.search(spark, dir, twin, k = 5).collect().map(_.toSeq).toSeq
    // simulate an upsert that crashed AFTER the layer delta and entry
    // writes but BEFORE the commit marker: hand-write both for ver 1,
    // the edge to a sentinel dst no real build produces
    Seq((newId, -1L, twin, 1)).toDF("src", "dst", "dst_emb", "layer")
      .withColumn("pb", pmod(col("src"), lit(HnswStore.layerBuckets(spark, dir).toLong)))
      .withColumn("__ver", lit(1))
      .write.mode("append").partitionBy("__ver", "layer", "pb")
      .parquet(s"$dir/layers/data")
    Seq((newId, twin)).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/entry/v1")
    Tables.invalidate(dir)
    // readers stay on the committed hierarchy — the torn write is invisible
    assert(live(HnswStore.chain(dir)) == Seq(0))
    val view = HnswStore.layersFrame(spark, dir)
    assert(view.count() == baseRows, "uncommitted delta leaked into the view")
    assert(view.filter(col("src") === newId).count() == 0)
    assert(HnswStore.storedEntry(spark, dir)._1 == baseEntry, "uncommitted entry served")
    assert(HnswStore.search(spark, dir, twin, k = 5).collect().map(_.toSeq).toSeq == baseServe,
      "uncommitted delta changed the serve")
    // the retry clears the torn partition and entry before re-writing
    HnswStore.upsert(spark, dir, d2, srpDir, news.toDF("vec_id", "embedding"))
    assert(live(HnswStore.chain(dir)) == Seq(0, 1))
    val after = HnswStore.layersFrame(spark, dir)
    assert(after.filter(col("dst") === -1L).count() == 0, "torn edge survived the retry")
    val out = after.filter(col("layer") === 1 && col("src") === newId)
      .select(col("dst")).collect().map(_.getLong(0)).toSeq
    assert(out.nonEmpty && out.size <= graft.operators.Hnsw.LevelK && out.distinct == out,
      s"retry should give the upserted id one top-k layer-1 edge set, got $out")
    assert(HnswStore.storedEntry(spark, dir)._1 == graft.operators.Hnsw.entryFor(spark, d2)._1,
      "retry did not publish its own entry")
  }

  test("HnswStore compact: folds the layer chain and its entries to one copy, identical serves, superseded dirs GC'd") {
    import spark.implicits._
    import graft.sources.HnswStore
    val (srpDir, dir, d2, news) = hnswFixture("hnswcompact", 3)
    news.take(2).foreach { u =>
      HnswStore.upsert(spark, dir, d2, srpDir, Seq(u).toDF("vec_id", "embedding"))
    }
    assert(live(HnswStore.chain(dir)) == Seq(0, 1, 2))
    val q = news(1)._2
    def serve() = HnswStore.search(spark, dir, q, k = 5).collect().map(_.toSeq).toSeq
    val before = serve()
    val entry = HnswStore.storedEntry(spark, dir)._1
    HnswStore.compact(spark, dir)
    assert(live(HnswStore.chain(dir)) == Seq(3), "compact did not collapse the version chain")
    Seq(0, 1, 2).foreach { v =>
      assert(!new java.io.File(s"$dir/layers/data/__ver=$v").exists(),
        s"superseded layers __ver=$v not garbage-collected")
      assert(!new java.io.File(s"$dir/entry/v$v").exists(),
        s"superseded entry/v$v not garbage-collected")
    }
    assert(new java.io.File(s"$dir/entry/v3").exists(), "fold published no entry")
    assert(serve() == before, "compact changed serve results")
    assert(HnswStore.storedEntry(spark, dir)._1 == entry)
    // the next upsert keeps counting from the fold
    HnswStore.upsert(spark, dir, d2, srpDir, Seq(news(2)).toDF("vec_id", "embedding"))
    assert(live(HnswStore.chain(dir)) == Seq(3, 4))
  }

  test("streaming HNSW probe: equals batch stored hierarchical search, layer read pruned") {
    import spark.implicits._
    val dir = graft.sources.HnswStore.storeFor(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("hnswprobe_q").toString
    val q1 = "fast vector search over spark tables"
    val q2 = "slow filter batch"
    Seq(s"""{"query_id": 1, "query_text": "$q1"}""",
      s"""{"query_id": 2, "query_text": "$q2"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val out = graft.streaming.HnswProbeStream
      .runOnce(spark, tmp, dir, k = 5).collect()
    assert(out.length == 10) // 2 queries x 5 neighbors
    Seq(1L -> q1, 2L -> q2).foreach { case (qid, qt) =>
      val batch = graft.sources.HnswStore.search(spark, dir,
          FakeEmbedder.embed(qt), k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      val stream = out.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(stream == batch, s"query $qid: stream $stream != batch $batch")
    }
    // streaming serves share the batch serve's walk: every layer, l0
    // included, comes from the driver cache (zero jobs per walk step)
    assert(graft.sources.HnswStore.lastLocalLayers ==
      (0 to graft.operators.Hnsw.MaxLevel).toSet,
      s"descent not served from the driver images: ${graft.sources.HnswStore.lastLocalLayers}")
  }

  test("v33 batched HNSW: equals the single-query walk per query, no query broadcast") {
    import graft.operators.Hnsw
    val batch = Hnsw.searchBatch(spark, sf, queryMod = 50).collect()
      .groupBy(_.getAs[Long]("query_id"))
    assert(batch.nonEmpty)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    // navigation-based serving does not guarantee self-retrieval the
    // way LSH seeding does (v26's self always collides with itself;
    // a walk must REACH the query's neighborhood) — assert a floor
    // on how many queries find themselves at rank 1, not all
    val selfAt1 = batch.count { case (qid, rows) =>
      val top = rows.minBy(_.getAs[Int]("rk"))
      top.getAs[Long]("neighbor_id") == qid && top.getAs[Double]("sim") == 1.0
    }
    assert(selfAt1 >= batch.size / 2,
      s"only $selfAt1 of ${batch.size} queries retrieve themselves at rank 1")
    batch.foreach { case (qid, rows) =>
      // per-query parity with the single-query walk at the same params
      import spark.implicits._
      val qv = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).as[Array[Float]].first()
      val single = Hnsw.search(spark, sf, qv, k = 5, beam = 16, iters = 3,
          maxEntries = 64, graphK = 5, refined = false,
          descentBeam = Hnsw.DescentBeam, maxSteps = Hnsw.BatchMaxSteps)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rk"),
          r.getAs[Double]("sim"))).toSet
      val batchQ = rows.map(r => (r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rk"), r.getAs[Double]("sim"))).toSet
      assert(batchQ == single, s"query $qid: batch $batchQ != single $single")
    }
    // the v26 contract: query embeddings never ride a BroadcastExchange
    val entry = 0L // any literal works for the plan-shape check
    val scored = Hnsw.batchStepScored(spark, sf, 50, entry)
    val bxs = scored.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    val offending = bxs.filter(_.output.exists(_.name == "q_vec"))
    assert(offending.isEmpty,
      s"query embeddings materialized in a BroadcastExchange:\n${offending.mkString("\n")}")
    assert(scored.queryExecution.sparkPlan.toString.contains("ShuffledHashJoin"),
      "expected a shuffle-hash join for the query side")
    // in-row scoring contract: the walk/hop scoring stages read the
    // candidate embeddings from the edge rows they joined — the last
    // batch run's step and hop plans touch no corpus scan
    assert(!Hnsw.lastStepPlan.contains("embeddings.parquet"),
      s"batch walk step re-joins the corpus:\n${Hnsw.lastStepPlan}")
    assert(!Hnsw.lastHopPlan.contains("embeddings.parquet"),
      s"batch layer-0 hop re-joins the corpus:\n${Hnsw.lastHopPlan}")
  }

  test("v36 hamming code scan: deterministic, shortlist is a TakeOrdered, decent recall") {
    val q = FakeEmbedder.embed(queryText)
    val a = graft.operators.HammingIndex.search(spark, sf, q).collect().map(_.toSeq).toSeq
    val b = graft.operators.HammingIndex.search(spark, sf, q).collect().map(_.toSeq).toSeq
    assert(a == b, "hamming search not deterministic")
    assert(a.length == 10)
    // recall floor vs exact at the default 256-wide shortlist
    // (measured 1.0 on this corpus; 0.4 at 64 — the low-similarity
    // regime separates weakly under 1-bit/dim sketches, which is why
    // the default shortlist is provisioned wide)
    val emb = Tables.embeddings(spark, sf)
    val exactTop = SimilaritySearch.knn(emb, "embedding", "vec_id", q, 10, "cosine")
      .collect().map(_.getLong(0)).toSet
    val got = a.map(_.head.asInstanceOf[Long]).toSet
    val recall = exactTop.intersect(got).size.toDouble / exactTop.size
    info(s"hamming recall@10 at shortlist ${graft.operators.HammingIndex.Shortlist}: $recall")
    assert(recall >= 0.7, s"hamming recall $recall too low")
    // the shortlist is a partial top-R merge, never a global sort
    val qk = graft.operators.SrpBanded.queryBandKeys(q).map(_._2)
    val plan = graft.operators.HammingIndex.coded(spark, sf)
      .select(col("vec_id"), col("embedding"),
        graft.operators.HammingIndex.hammingCol(qk).as("ham"))
      .orderBy(col("ham").asc, col("vec_id").asc).limit(graft.operators.HammingIndex.Shortlist)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"shortlist not a TakeOrdered:\n$plan")
  }

  test("v37 stored code scan: equals in-memory, scan never reads embeddings, fetch is pruned") {
    val q = FakeEmbedder.embed(queryText)
    val dir = graft.sources.CodeStore.storeFor(spark, sf)
    // a stamp's first serve may take the pruned reads, the second the image
    graft.sources.CodeStore.search(spark, dir, q).collect()
    val stored = graft.sources.CodeStore.search(spark, dir, q).collect().map(_.toSeq).toSeq
    val inMem = graft.operators.HammingIndex.search(spark, sf, q).collect().map(_.toSeq).toSeq
    assert(stored == inMem, s"stored code scan diverged: $stored vs $inMem")
    assert(graft.sources.CodeStore.lastShortlistSource == "resident")
    // the store's distributed reads, which the driver image replaces
    val pruned = StoreFixtures.atBudget(0L)(graft.sources.CodeStore.search(spark, dir, q)
      .collect().map(_.toSeq).toSeq)
    assert(pruned == inMem, s"pruned code scan diverged: $pruned vs $inMem")
    // shortlist stage: columnar projection must exclude the embedding
    // column — the 8-byte-per-row scan is the family's reason to exist
    val scanPlan = graft.sources.CodeStore.lastScanPlan
    assert(scanPlan.contains("ReadSchema") && !scanPlan.contains("embedding"),
      s"code scan reads the embedding column:\n$scanPlan")
    // rerank stage: pb-pruned point fetch, embeddings from store rows
    val fetchPlan = graft.sources.CodeStore.lastFetchPlan
    assert(fetchPlan.contains("PartitionFilters") && fetchPlan.contains("pb"),
      s"embedding fetch not partition-pruned:\n$fetchPlan")
    assert(!fetchPlan.contains("embeddings.parquet"),
      s"fetch reads the corpus table:\n$fetchPlan")
  }

  test("CodeStore upsert: recoded rows searchable without rebuild, committed data never rewritten, tombstones mask") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("codeup").toString
    // many pb buckets (the spec corpus alone sizes to one)
    StoreFixtures.atCap(graft.sources.CodeStore.write(spark, sf, dir))
    val buckets = graft.sources.CodeStore.buckets(spark, dir)
    assert(buckets == graft.sources.CodeStore.Partitions, s"fixture store has $buckets buckets")
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val newId = maxId + 1
    val tVec = emb.filter(col("vec_id") === 3L)
      .select(col("embedding")).as[Array[Float]].first()
    val twin = tVec.updated(0, tVec(0) + 0.01f) // cos ~ 0.9999 to id 3

    def verFiles(ver: Int): Map[String, Set[(String, Long)]] = {
      val vd = new java.io.File(s"$dir/codes/data/__ver=$ver")
      if (!vd.exists()) Map.empty
      else vd.listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("pb="))
        .map(d => d.getName ->
          d.listFiles().filter(_.isFile).map(f => (f.getName, f.length())).toSet)
        .toMap
    }
    val before = verFiles(0)
    assert(before.nonEmpty, "no v0 partitions written")
    val baseTop = graft.sources.CodeStore.search(spark, dir, twin, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(!baseTop.contains(newId), "store knows an id never upserted")

    // O(update) delta: one new id → its single pb partition
    val touched = graft.sources.CodeStore.upsert(spark, dir,
      Seq((newId, twin)).toDF("vec_id", "embedding"))
    assert(touched == Seq(Math.floorMod(newId, buckets.toLong)),
      s"delta should cover exactly the upserted id's pb: $touched")
    assert(live(graft.sources.CodeStore.chain(dir)) == Seq(0, 1))
    assert(verFiles(0) == before, "committed v0 data rewritten by upsert")
    val afterTop = graft.sources.CodeStore.search(spark, dir, twin, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(afterTop.get(newId).contains(1),
      s"upserted id should now top its own query: $afterTop")

    // a null-embedding update tombstones the id out of the store
    graft.sources.CodeStore.upsert(spark, dir,
      Seq((newId, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    val masked = graft.sources.CodeStore.search(spark, dir, twin, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(!masked.contains(newId), "tombstoned id still served")
  }

  test("CodeStore crash contract: uncommitted delta invisible, retry safe") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("codecrash").toString
    graft.sources.CodeStore.write(spark, sf, dir)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val newId = maxId + 1
    val tVec = emb.filter(col("vec_id") === 3L)
      .select(col("embedding")).as[Array[Float]].first()
    val twin = tVec.updated(0, tVec(0) + 0.01f)
    // simulate a crash AFTER the delta data write but BEFORE the
    // commit marker: hand-write a bogus ver-1 partition
    Seq((newId, graft.operators.SrpBanded.queryBandKeys(twin).map(_._2).toArray, twin))
      .toDF("vec_id", "keys", "embedding")
      .withColumn("pb", pmod(col("vec_id"),
        lit(graft.sources.CodeStore.buckets(spark, dir).toLong)))
      .withColumn("__ver", lit(1))
      .write.mode("append").partitionBy("__ver", "pb")
      .parquet(s"$dir/codes/data")
    graft.Tables.invalidate(dir)
    assert(live(graft.sources.CodeStore.chain(dir)) == Seq(0))
    val top = graft.sources.CodeStore.search(spark, dir, twin, k = 5)
      .collect().map(_.getLong(0)).toSet
    assert(!top.contains(newId), "uncommitted delta leaked into the serve path")
    // the retry clears the torn partition before re-writing
    graft.sources.CodeStore.upsert(spark, dir,
      Seq((newId, twin)).toDF("vec_id", "embedding"))
    assert(live(graft.sources.CodeStore.chain(dir)) == Seq(0, 1))
    val after = graft.sources.CodeStore.search(spark, dir, twin, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(after.get(newId).contains(1), s"retry did not serve the upsert: $after")
  }

  test("CodeStore compact: folds the version chain to one copy, identical serves, superseded dirs GC'd") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("codecompact").toString
    graft.sources.CodeStore.write(spark, sf, dir)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val tVec = emb.filter(col("vec_id") === 3L)
      .select(col("embedding")).as[Array[Float]].first()
    val twin = tVec.updated(0, tVec(0) + 0.01f)
    val twin2 = tVec.updated(1, tVec(1) + 0.01f)
    // two committed deltas on top of v0 — the chain CompactAfter never
    // reaches in the other specs, so the fold/GC path gets exercised
    // directly here
    graft.sources.CodeStore.upsert(spark, dir,
      Seq((maxId + 1, twin)).toDF("vec_id", "embedding"))
    graft.sources.CodeStore.upsert(spark, dir,
      Seq((maxId + 2, twin2),
        (maxId + 1, null.asInstanceOf[Array[Float]])).toDF("vec_id", "embedding"))
    assert(live(graft.sources.CodeStore.chain(dir)) == Seq(0, 1, 2))
    val before = graft.sources.CodeStore.search(spark, dir, twin2, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(before.exists(_.head == maxId + 2), "pre-compact serve missing upserted id")

    graft.sources.CodeStore.compact(spark, dir)
    // chain folded: exactly one committed version (max + 1), old
    // markers and data partitions gone
    assert(live(graft.sources.CodeStore.chain(dir)) == Seq(3),
      "compact did not collapse the version chain")
    Seq(0, 1, 2).foreach { v =>
      assert(!new java.io.File(s"$dir/codes/data/__ver=$v").exists(),
        s"superseded __ver=$v not garbage-collected")
    }
    // post-compact single-version reads: identical serve (the resolve
    // window is skipped now — same rows either way), tombstone stays
    // applied, and the next upsert keeps counting from the fold
    val after = graft.sources.CodeStore.search(spark, dir, twin2, k = 5)
      .collect().map(_.toSeq).toSeq
    assert(after == before, s"compact changed serve results: $after vs $before")
    assert(!graft.sources.CodeStore.search(spark, dir, twin, k = 5)
      .collect().map(_.getLong(0)).contains(maxId + 1),
      "tombstoned id resurrected by compact")
    graft.sources.CodeStore.upsert(spark, dir,
      Seq((maxId + 1, twin)).toDF("vec_id", "embedding"))
    assert(live(graft.sources.CodeStore.chain(dir)) == Seq(3, 4),
      "nextVer after compact should continue past the folded version")
    val re = graft.sources.CodeStore.search(spark, dir, twin, k = 5)
      .collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(re.get(maxId + 1).contains(1), s"post-compact upsert not served: $re")
  }

  test("streaming code probe: equals the stored code scan per query") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("code_stream").toString
    graft.sources.CodeStore.write(spark, sf, dir)
    val tmp = java.nio.file.Files.createTempDirectory("codeprobe_q").toString
    val q1 = "fast vector search over spark tables"
    val q2 = "slow filter batch"
    Seq(s"""{"query_id": 1, "query_text": "$q1"}""",
      s"""{"query_id": 2, "query_text": "$q2"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val out = graft.streaming.CodeProbeStream
      .runOnce(spark, tmp, dir, k = 5).collect()
    assert(out.length == 10) // 2 queries x 5 neighbors
    Seq(1L -> q1, 2L -> q2).foreach { case (qid, qt) =>
      val batch = graft.sources.CodeStore.search(spark, dir,
          FakeEmbedder.embed(qt), k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      val stream = out.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(1), r.getInt(2), r.getDouble(3))).toSet
      assert(stream == batch, s"query $qid: stream $stream != batch $batch")
    }
    // the micro-batch shortlist scan, where no image is held, stays
    // the 8 B/row projection
    StoreFixtures.atBudget(0L)(graft.streaming.CodeProbeStream.runOnce(spark, tmp, dir, k = 5).collect())
    val scanPlan = graft.sources.CodeStore.lastScanPlan
    assert(scanPlan.contains("ReadSchema") && !scanPlan.contains("embedding"),
      s"streaming code scan reads the embedding column:\n$scanPlan")
  }

  test("v38 batched code scan: per-query parity with the stored serve, no query-embedding broadcast") {
    import spark.implicits._
    val dir = graft.sources.CodeStore.storeFor(spark, sf)
    val batch = graft.sources.CodeStore.searchBatch(spark, dir, sf, queryMod = 50)
    val rows = batch.collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
    // every query is a corpus vector: ham(self)=0 puts it in its own
    // shortlist, exact rerank puts it at rank 1 with sim 1.0
    byQuery.foreach { case (qid, rs) =>
      val top = rs.minBy(_.getAs[Int]("rk"))
      assert(top.getAs[Long]("neighbor_id") == qid &&
        top.getAs[Double]("sim") == 1.0,
        s"query $qid rank-1 is ${top.getAs[Long]("neighbor_id")}")
    }
    // per-query parity with the single-query stored serve
    byQuery.keys.toSeq.sorted.take(2).foreach { qid =>
      val qv = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).as[Array[Float]].first()
      val single = graft.sources.CodeStore.search(spark, dir, qv, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSet
      val batchQ = byQuery(qid)
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Int]("rk"),
          r.getAs[Double]("sim"))).toSet
      assert(batchQ == single, s"query $qid: batch $batchQ != single $single")
    }
    // the v26 contract: query EMBEDDINGS never ride a broadcast (the
    // code-sized q_keys broadcast is the sanctioned v29 model license)
    val bxs = batch.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    assert(bxs.forall(!_.output.exists(_.name == "q_vec")),
      "query embeddings materialized in a BroadcastExchange")
    assert(batch.queryExecution.sparkPlan.toString.contains("ShuffledHashJoin"),
      "expected a shuffle-hash join for the rerank query side")
    // the per-query shortlist must cut via the bounded top-k AGGREGATE
    // (partial stage caps map-side, nothing sorts the |Q|·N hamming
    // stream — r10; the former WindowGroupLimit cut sorted each
    // partition of it)
    val shortPlan = batch.queryExecution.sparkPlan.toString
    assert(shortPlan.contains("top_k_pairs"),
      "per-query shortlist missing the top-k aggregate cut")
    // the rerank's own group-limit (≤ shortlist rows per query) is
    // fine — what must never exist is a rank-SORT over the |Q|·N
    // hamming stream itself
    val hamSorted = batch.queryExecution.sparkPlan.collect {
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
        if w.orderSpec.exists(_.sql.contains("ham")) => w
    }
    assert(hamSorted.isEmpty,
      "per-query shortlist must not rank-sort the hamming stream")
  }

  test("v34 stored batched HNSW: equals the in-memory batch, layers read only committed store files") {
    import graft.operators.Hnsw
    val dir = graft.sources.HnswStore.storeFor(spark, sf)
    val stored = graft.sources.HnswStore.searchBatch(spark, sf, dir, queryMod = 50)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rk"), r.getAs[Double]("sim"))).toSet
    // capture the STORED run's scoring plans before the in-memory run
    // below overwrites the hooks
    val (storedStepPlan, storedHopPlan) = (Hnsw.lastStepPlan, Hnsw.lastHopPlan)
    val inMem = Hnsw.searchBatch(spark, sf, queryMod = 50)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"),
        r.getAs[Int]("rk"), r.getAs[Double]("sim"))).toSet
    assert(stored == inMem, "stored batched hierarchy diverged from in-memory v33")
    // the batch layer source is the committed merge-on-read view: its
    // scan prunes to committed __ver partitions and never touches the
    // corpus table (embeddings ride in the stored edge rows)
    val layerScan = graft.sources.HnswStore.layersFrame(spark, dir)
      .queryExecution.sparkPlan.collectLeaves()
      .collectFirst { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
      .getOrElse(fail("no file scan under the stored layer view"))
    assert(layerScan.toString.contains("PartitionFilters"),
      s"stored layer view not version-pruned:\n$layerScan")
    assert(!layerScan.toString.contains("embeddings.parquet"),
      s"stored layer view reads the corpus:\n$layerScan")
    // the stored batch's scoring stages read embeddings from the
    // store's edge rows only — zero corpus scans in the walk and hops
    assert(storedStepPlan.nonEmpty && !storedStepPlan.contains("embeddings.parquet"),
      s"stored batch walk step re-joins the corpus:\n$storedStepPlan")
    assert(storedHopPlan.nonEmpty && !storedHopPlan.contains("embeddings.parquet"),
      s"stored batch hop re-joins the corpus:\n$storedHopPlan")
  }

  test("per-query k on the unfiltered batch matrix: kExpr == the fixed-k serve trimmed at each caller's own limit") {
    import graft.operators.{Hnsw, SrpBanded}
    // each caller's own limit as an expression over query_id — the
    // v45/v47 contract (k_q = 2 + (id % 7) % 4 ∈ {2..5}, ceiling 5)
    val kq = lit(2) + col("query_id") % 7 % 4
    def kOf(qid: Long): Long = 2 + qid % 7 % 4
    def trimmed(fixed: Array[org.apache.spark.sql.Row]) = fixed
      .filter(r => r.getAs[Int]("rk") <= kOf(r.getAs[Long]("query_id")))
      .map(_.toString).sorted
    def check(tag: String, perk: Array[org.apache.spark.sql.Row],
              fixed: Array[org.apache.spark.sql.Row]): Unit = {
      assert(perk.nonEmpty, s"$tag: empty per-k batch")
      assert(perk.map(_.toString).sorted.sameElements(trimmed(fixed)),
        s"$tag: per-query-k rows != fixed-k rows trimmed at k_q")
      perk.groupBy(_.getAs[Long]("query_id")).foreach { case (q, rs) =>
        assert(rs.length <= kOf(q), s"$tag: query $q got ${rs.length} > k_q=${kOf(q)}")
      }
    }
    check("v26 graph batch",
      SrpBanded.graphSearchBatch(spark, sf, 50, kExpr = Some(kq)).collect(),
      SrpBanded.graphSearchBatch(spark, sf, 50).collect())
    check("v33 hnsw batch",
      Hnsw.searchBatch(spark, sf, queryMod = 50, kExpr = Some(kq)).collect(),
      Hnsw.searchBatch(spark, sf, queryMod = 50).collect())
    val pqDir = graft.sources.IvfPqStore.residualStoreFor(spark, sf)
    check("v29 ivfpq batch",
      graft.sources.IvfPqStore.searchResidualBatch(spark, pqDir, sf,
        queryMod = 50, kExpr = Some(kq)).collect(),
      graft.sources.IvfPqStore.searchResidualBatch(spark, pqDir, sf,
        queryMod = 50).collect())
    val cDir = graft.sources.CodeStore.storeFor(spark, sf)
    check("v38 code batch",
      graft.sources.CodeStore.searchBatch(spark, cDir, sf, 50,
        kExpr = Some(kq)).collect(),
      graft.sources.CodeStore.searchBatch(spark, cDir, sf, 50).collect())
  }
}
