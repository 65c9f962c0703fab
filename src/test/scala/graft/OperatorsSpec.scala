package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators._
import graft.streaming.EventStream

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val sf = SparkTestSession.Sf

  test("end-to-end training-data pipeline: dedup -> decontaminate -> sample -> score -> pack") {
    import spark.implicits._
    // 1. exact dedup: keep only canonical docs
    val keepers = Dedup.exactDedup(spark, sf)
      .filter($"doc_id" === $"keeper_id").select($"doc_id")
    val nKeep = keepers.count()
    val nAll = Tables.documents(spark, sf).count()
    assert(nKeep > 0 && nKeep <= nAll)
    // 2. decontaminate: drop training docs sharing >=3 trigrams with eval docs
    val contaminated = Dedup.contamination(spark, sf).select($"train_id".as("doc_id")).distinct()
    val clean = keepers.join(contaminated, Seq("doc_id"), "left_anti")
    assert(clean.count() <= nKeep)
    // 3. quality score + stratified sample survive the filtered corpus
    val scored = TextOps.qualityScore(spark, sf).join(clean, "doc_id")
    assert(scored.filter($"quality" < 0 || $"quality" > 1).count() == 0)
    val sample = TextOps.stratifiedSample(spark, sf).join(clean, "doc_id")
    assert(sample.count() > 0)
    // 4. packing the cleaned corpus keeps every pack under budget
    val packs = TextOps.sequencePack(spark, sf)
      .join(clean, "doc_id")
      .groupBy($"pack_id").agg(sum($"n_tokens").as("pack_tokens"))
    assert(packs.filter($"pack_tokens" > 2048).count() == 0)
  }

  test("oracleSql keys all resolve to queries entries (no orphaned or typo'd oracles)") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without a query: $orphans")
  }

  test("every SparkEntry query runs and returns rows on sf0.001") {
    // threshold queries; may be empty at tiny sf
    val empties = Set("d5_embedding_neardup", "d9_srp_banded_neardup")
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n >= 0, s"$name failed")
      if (!empties.contains(name)) assert(n > 0, s"$name returned no rows")
    }
  }

  test("entry() flagship returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("q12 sessionize: session count bounded by event count") {
    val r = CoreQueries.q12Sessionize(spark, sf).collect()
    r.foreach { row =>
      val sess = row.getAs[Long]("n_sessions"); val ev = row.getAs[Long]("n_events")
      assert(sess >= 1 && sess <= ev)
    }
  }

  test("q10 approx_count_distinct within 10% of exact") {
    val li = Tables.lineitem(spark, sf)
    val r = li.agg(countDistinct(col("l_partkey")).as("exact"),
      approx_count_distinct(col("l_partkey")).as("approx")).head
    val exact = r.getLong(0).toDouble; val approx = r.getLong(1).toDouble
    assert(math.abs(approx - exact) / exact < 0.1)
  }

  test("exact dedup finds injected duplicates") {
    import spark.implicits._
    val docs = Seq((1L, "same text"), (2L, "same text"), (3L, "other text")).toDF("doc_id", "text")
    val w = org.apache.spark.sql.expressions.Window.partitionBy(md5($"text"))
    val r = docs.select($"doc_id", min($"doc_id").over(w).as("keeper"), count(lit(1)).over(w).as("n"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(r == Set((1L, 1L, 2L), (2L, 1L, 2L), (3L, 3L, 1L)))
  }

  test("d2 oracle premise: corpus is BMP-only (UTF-16 units == codepoints)") {
    // minhashLshSql iterates codepoints while TextHash.fnv64 iterates
    // UTF-16 code units — identical up to U+FFFF. A supplementary
    // character would silently diverge the oracle; fail HERE instead.
    val nonBmp = Tables.documents(spark, sf).select(col("text")).collect()
      .count { r =>
        val t = r.getString(0)
        t != null && t.codePointCount(0, t.length) != t.length
      }
    assert(nonBmp == 0,
      s"$nonBmp docs contain non-BMP characters; d2's DuckDB oracle would diverge")
  }

  test("minhash LSH detects a true near-duplicate pair") {
    import spark.implicits._
    // two near-identical docs + noise docs, via the same pipeline pieces
    val base = "the quick brown fox jumps over the lazy dog and runs far away into the green forest tonight"
    val near = base.replace("tonight", "today")
    val jac = graft.functions.TextHash.shingleJaccard(base, near, 5)
    assert(jac > 0.5, s"test premise: jaccard $jac")
    val sigA = graft.functions.TextHash.minhash(base, 5, 32)
    val sigB = graft.functions.TextHash.minhash(near, 5, 32)
    // at least one of 8 bands (4 rows each) collides
    val bands = (0 until 8).exists(b =>
      (0 until 4).forall(r => sigA(b * 4 + r) == sigB(b * 4 + r)))
    assert(bands, "LSH bands failed to collide for a near-dup")
  }

  test("simhash of near-identical docs has small hamming distance") {
    val a = graft.functions.TextHash.simhash("alpha beta gamma delta epsilon zeta eta theta")
    val b = graft.functions.TextHash.simhash("alpha beta gamma delta epsilon zeta eta iota")
    assert(java.lang.Long.bitCount(a ^ b) <= 16)
  }

  test("lang-id heuristic picks marker language") {
    import spark.implicits._
    val df = Seq("the cat and the dog of the house", "der hund und die katze und der").toDF("text")
    val r = df.select(TextOps.langIdHeuristic($"text").as("lang")).collect().map(_.getString(0))
    assert(r(0) == "en")
    assert(r(1) == "de")
  }

  test("streaming daily counts equals batch twin") {
    val batch = EventStream.dailyCountsBatch(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val stream = EventStream.runOnce(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(stream == batch)
  }

  test("dup components: labels are cluster minima and respect edges") {
    val comp = Dedup.dupComponents(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
    // every edge's endpoints share a cluster, and the label is the min id reachable
    pairs.foreach { case (a, b) => assert(comp(a) == comp(b), s"edge ($a,$b) split") }
    comp.foreach { case (id, root) => assert(root <= id) }
  }

  test("d4 prefix filtering: exact recall and real pruning on a sparse one-block corpus") {
    import spark.implicits._
    // one coarse (lang, source) block — the shape where a block join is
    // quadratic — with mostly-disjoint vocabularies and planted dups
    val common = (0 until 5).map(k => s"common$k")
    val docs = (0 until 120).map { id =>
      val base = id - (id % 2) // docs (2i, 2i+1) form a planted pair
      val shared = (0 until 20).map(k => s"pair${base}_$k")
      val own = (0 until 10).map(k => s"own${id}_$k")
      (id.toLong, "en", "web", (shared ++ own ++ common).mkString(" "))
    }
    val tmp = java.nio.file.Files.createTempDirectory("d4sparse").toString
    docs.toDF("doc_id", "lang", "source", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    // exactness: prefix-filtered output == brute-force Jaccard over all pairs
    val got = Dedup.ngramJaccard(spark, tmp).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    def toks(i: Int) = docs(i)._4.split(" ").toSet
    val want = (for {
      a <- 0 until 120; b <- (a + 1) until 120
      inter = (toks(a) & toks(b)).size
      if inter.toDouble / (toks(a).size + toks(b).size - inter) >= 0.3
    } yield (a.toLong, b.toLong)).toSet
    assert(got == want, s"prefix-filtered d4 diverged: missing=${want -- got} extra=${got -- want}")
    assert(want.size == 60) // the planted pairs
    // pruning: candidates stay near the output size, nowhere near the
    // 120*119/2 = 7140 all-pairs a coarse-block join would generate
    val cand = Dedup.jaccardCandidates(spark, tmp).count()
    assert(cand <= 200, s"prefix filter generated $cand candidates (all-pairs = 7140)")
  }

  test("d7 df cap: capped default equals opt-out here; tighter caps only shrink evidence") {
    def pairs(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("eval_id"), r.getAs[Long]("train_id")) -> r.getAs[Long]("n_shared")).toMap
    val capped = pairs(Dedup.contamination(spark, sf))              // maxDf = 1000, the shipped default
    val uncapped = pairs(Dedup.contamination(spark, sf, maxDf = Int.MaxValue))
    assert(capped == uncapped, "no trigram reaches df=1000 at this sf; capped default must agree")
    val tight = pairs(Dedup.contamination(spark, sf, maxDf = 2))
    tight.foreach { case (k, n) =>
      assert(uncapped.contains(k), s"pair $k appeared only under the cap")
      assert(n <= uncapped(k), s"pair $k gained shared grams under the cap")
    }
  }

  test("d5 chunked block-matrix join equals the single-chunk result") {
    val whole = Dedup.embeddingNearDup(spark, sf).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val tiled = Dedup.embeddingNearDup(spark, sf, chunkSize = 2).collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(tiled == whole, s"chunked d5 diverged: ${tiled.diff(whole)} / ${whole.diff(tiled)}")
  }

  test("d11 SemDeDup: decision table matches a brute-force replay of the rule; tiling-invariant") {
    import spark.implicits._
    val out = Dedup.semDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("vec_id"), (r.getAs[Int]("list_id"), r.getAs[Int]("kept"))))
    val corpus = Tables.embeddings(spark, sf)
      .select($"vec_id", $"embedding").as[(Long, Array[Float])].collect()
    assert(out.length == corpus.length, "one decision row per corpus vector")
    assert(out.map(_._1).distinct.length == out.length, "vec_id unique")
    // the chunked block-matrix must not change any decision
    val tiled = Dedup.semDedup(spark, sf, chunkSize = 2).collect()
      .map(r => (r.getAs[Long]("vec_id"), (r.getAs[Int]("list_id"), r.getAs[Int]("kept"))))
    assert(tiled.sortBy(_._1).sameElements(out.sortBy(_._1)), "tiling changed decisions")
    // brute-force replay: same model, same quantized domain, same rule
    val model = IvfIndex.fitCached(spark, sf, 16, 5)
    def quant(v: Array[Float]): Array[Double] = v.map(x => math.floor(x.toDouble * 1e6))
    def assignDist(q: Array[Double]): (Int, Double) = {
      var best = 0; var bestD = Double.MaxValue
      for (c <- model.centroids.indices) {
        var s = 0.0
        for (j <- model.centroids(c).indices) { val d = q(j) - model.centroids(c)(j); s += d * d }
        if (s < bestD) { bestD = s; best = c }
      }
      (best, bestD)
    }
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) {
        dot += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble; nb += b(i).toDouble * b(i).toDouble
      }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = corpus.map { case (id, v) =>
      val (list, dist) = assignDist(quant(v)); id -> (v, list, dist)
    }.toMap
    val removedBrute = (for {
      (ia, (va, la, da)) <- byId.toSeq; (ib, (vb, lb, db)) <- byId.toSeq
      if ia < ib && la == lb && cos(va, vb) >= 0.35
    } yield if (da < db) ia else if (db < da) ib else math.max(ia, ib)).toSet
    out.foreach { case (id, (list, kept)) =>
      assert(list == byId(id)._2, s"vec $id cluster mismatch")
      assert((kept == 0) == removedBrute.contains(id),
        s"vec $id kept=$kept but brute-force says removed=${removedBrute.contains(id)}")
    }
  }

  test("t17 quality gate: blocked order statistic equals the brute-force rank cut") {
    val out = TextOps.qualityGate(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), (r.getAs[Double]("quality"), r.getAs[Int]("kept"))))
    val n = out.length
    val cut = (n.toLong + 9) / 10
    assert(out.count(_._2._2 == 0) == cut,
      s"dropped ${out.count(_._2._2 == 0)} docs, expected ceil(N/10) = $cut")
    // brute force: global (quality, doc_id) rank on the driver
    val dropped = out.map { case (id, (q, _)) => (q, id) }.sorted.take(cut.toInt)
      .map(_._2).toSet
    out.foreach { case (id, (_, kept)) =>
      assert((kept == 0) == dropped.contains(id),
        s"doc $id kept=$kept but brute-force rank says dropped=${dropped.contains(id)}")
    }
  }

  test("d9 SRP banding: finds every planted high-cosine near-dup, exactly as brute force") {
    import spark.implicits._
    val rng = new scala.util.Random(7L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = (0 until 100).map(i => (i.toLong, unit(), i % 10))
    val planted = (0 until 20).map { i =>
      val (_, v, l) = base(i)
      val noisy = v.map(x => x + (rng.nextGaussian() * 0.02).toFloat)
      ((100 + i).toLong, noisy, l)
    }
    val tmp = java.nio.file.Files.createTempDirectory("d9srp").toString
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val got = SrpBanded.srpBandedNearDup(spark, tmp, tau = 0.9).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      d / math.sqrt(na * nb)
    }
    val all = base ++ planted
    val brute = (for {
      i <- all.indices; j <- (i + 1) until all.length
      if cos(all(i)._2, all(j)._2) >= 0.9
    } yield (math.min(all(i)._1, all(j)._1), math.max(all(i)._1, all(j)._1))).toSet
    // planted pairs sit at cos ≈ 0.998 where the 8x8 S-curve recall is ~1 - 2e-7
    assert(brute.size >= 20)
    assert(got == brute, s"SRP banding diverged: missing=${brute -- got} extra=${got -- brute}")
  }

  test("streaming knn: stream of queries scores against static corpus") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("knnstream").toString
    Seq("""{"query_id": 1, "query_text": "fast vector search over spark tables"}""",
      """{"query_id": 2, "query_text": "slow filter batch"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val out = EventStream.runKnnStreamOnce(spark, tmp, sf, k = 3).collect()
    assert(out.length == 6) // 2 queries x 3 neighbors
    // query 1 must match the batch knn result
    val batch = operators.SimilaritySearch.knn(Tables.embeddings(spark, sf),
      "embedding", "vec_id",
      graft.functions.FakeEmbedder.embed("fast vector search over spark tables"), 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
    val stream1 = out.filter(_.getLong(0) == 1L)
      .map(r => (r.getLong(1), r.getDouble(2))).toSet
    assert(stream1 == batch)
  }

  test("streaming IVF probe: equals batch store probe, scan partition-pruned") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    val store = java.nio.file.Files.createTempDirectory("ivf_stream").toString
    graft.sources.IvfStore.write(spark, emb, "embedding", model, store)
    val tmp = java.nio.file.Files.createTempDirectory("ivfprobe_q").toString
    val q1 = "fast vector search over spark tables"
    val q2 = "slow filter batch"
    Seq(s"""{"query_id": 1, "query_text": "$q1"}""",
      s"""{"query_id": 2, "query_text": "$q2"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val out = graft.streaming.IvfProbeStream
      .runOnce(spark, tmp, store, k = 5, nprobe = 3).collect()
    assert(out.length == 10) // 2 queries x 5 neighbors
    // per query: identical to the batch probe of the same store
    Seq(1L -> q1, 2L -> q2).foreach { case (qid, qt) =>
      val batch = graft.sources.IvfStore.search(spark, store, "embedding",
        "vec_id", graft.functions.FakeEmbedder.embed(qt), 5, 3)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      val stream = out.filter(_.getLong(0) == qid)
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(stream == batch, s"query $qid: stream $stream != batch $batch")
    }
    // the per-batch scan pruned to the probed lists, not the store
    val plan = graft.streaming.IvfProbeStream.lastProbePlan
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"no partition pruning in streaming probe plan:\n$plan")
  }

  test("SRP upsert then streaming probe: freshly upserted vector is served") {
    import spark.implicits._
    // same refresh contract as the IVF path, on the LSH side: the
    // store is maintained incrementally and the streaming graph-ANN
    // serve sees the new vector without a rebuild (it surfaces via
    // the pruned seed read; graph edges are refreshed offline)
    val store = java.nio.file.Files.createTempDirectory("srp_up_stream").toString
    graft.sources.SrpStore.write(spark, sf, store)
    val qText = "fast vector search over spark tables"
    val qVec = graft.functions.FakeEmbedder.embed(qText)
    val emb = Tables.embeddings(spark, sf)
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val updates = Seq((maxId + 1, qVec)).toDF("vec_id", "embedding")
    graft.sources.SrpStore.upsert(spark, store, updates)
    val tmp = java.nio.file.Files.createTempDirectory("srpup_q").toString
    Seq(s"""{"query_id": 9, "query_text": "$qText"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val out = graft.streaming.SrpProbeStream
      .runOnce(spark, tmp, sf, store, k = 3).collect()
    val top = out.minBy(_.getInt(2)) // rank 1
    assert(top.getLong(1) == maxId + 1,
      s"streaming probe top hit ${top.getLong(1)} != upserted ${maxId + 1}")
    assert(top.getDouble(3) == 1.0)
  }

  test("IVF upsert then streaming probe: freshly upserted vector is served") {
    import spark.implicits._
    // the reference's refresh flow end-to-end: data changes (sql/04),
    // index maintained incrementally (sql/05), and the SERVING path —
    // here the streaming probe — sees the new vector without a rebuild
    val emb = Tables.embeddings(spark, sf)
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    val store = java.nio.file.Files.createTempDirectory("ivf_up_stream").toString
    graft.sources.IvfStore.write(spark, emb, "embedding", model, store)
    val qText = "fast vector search over spark tables"
    val qVec = graft.functions.FakeEmbedder.embed(qText)
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    // upsert a vector identical to the query embedding — it must become
    // the top hit through the streaming path
    val updates = Seq((maxId + 1, qVec, 0)).toDF("vec_id", "embedding", "label")
    graft.sources.IvfStore.upsert(spark, store, updates, "embedding", "vec_id")
    val tmp = java.nio.file.Files.createTempDirectory("ivfup_q").toString
    Seq(s"""{"query_id": 9, "query_text": "$qText"}""")
      .toDF("value").coalesce(1).write.mode("overwrite").text(tmp)
    val out = graft.streaming.IvfProbeStream
      .runOnce(spark, tmp, store, k = 3, nprobe = 2).collect()
    val top = out.maxBy(_.getDouble(2))
    assert(top.getLong(1) == maxId + 1,
      s"streaming probe top hit ${top.getLong(1)} != upserted ${maxId + 1}")
    assert(top.getDouble(2) == 1.0)
  }

  test("stream-stream time-range join equals batch twin") {
    val batch = EventStream.clickPurchaseJoinBatch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stream = EventStream.runClickPurchaseJoinOnce(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(stream == batch)
    assert(batch.nonEmpty)
  }

  test("streaming dedup equals batch distinct counts") {
    val batch = Tables.events(spark, sf).dropDuplicates("event_id")
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val stream = EventStream.runDedupOnce(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(stream == batch)
  }

  test("watermark drops late events: finalized windows are emitted once and never revised") {
    import spark.implicits._
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val dir = Files.createTempDirectory("late_data").toString
    def writeFile(rows: Seq[(java.sql.Timestamp, String)], name: String, mtime: Long): Unit = {
      val staging = Files.createTempDirectory("late_stage").toString
      rows.toDF("ts", "event_type").coalesce(1).write.mode("overwrite").parquet(staging)
      val part = new java.io.File(staging).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      Files.copy(part.toPath, Paths.get(dir, name), StandardCopyOption.REPLACE_EXISTING)
      Paths.get(dir, name).toFile.setLastModified(mtime)
    }
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // batch 0: three on-time events in [00:00, 01:00) plus a sentinel at
    // 10:00 that pushes the max event time to 10:00
    writeFile(Seq(
      (ts("2024-01-01 00:05:00"), "view"),
      (ts("2024-01-01 00:15:00"), "view"),
      (ts("2024-01-01 00:25:00"), "view"),
      (ts("2024-01-01 10:00:00"), "click")), "a.parquet", 1000000L)
    // batch 1: spacer — the watermark computed from batch 0 becomes
    // EFFECTIVE for filtering only one batch after it is reported
    // (measured on Spark 4.1.2; the progress log already shows 09:30
    // at batch 1, but a late row in batch 1 still merges)
    writeFile(Seq((ts("2024-01-01 10:05:00"), "click")), "b.parquet", 2000000L)
    // batch 2: a straggler for the long-finalized 00:00 window — dropped
    writeFile(Seq((ts("2024-01-01 00:10:00"), "view")), "c.parquet", 3000000L)
    val q = EventStream.hourlyCountsAppendStream(spark, dir)
      .writeStream.outputMode("append")
      .format("memory").queryName("graft_late")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val counts = spark.table("graft_late").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    // the late straggler must NOT be counted: 3 views, not 4
    assert(counts.get(("2024-01-01 00:00", "view")).contains(3L),
      s"expected finalized count 3, got $counts")
  }

  test("stateful streaming sessionization equals batch q12") {
    val batch = CoreQueries.q12Sessionize(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val stream = EventStream.runSessionizeOnce(spark, sf).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("n_sessions"), r.getAs[Long]("n_events"))).toSet
    assert(stream == batch)
  }

  test("top_k_pairs aggregate matches window row_number semantics") {
    import spark.implicits._
    val df = Seq(
      (1L, 10L, 0.9), (1L, 11L, 0.8), (1L, 12L, 0.95), (1L, 13L, 0.8),
      (2L, 20L, 0.1), (2L, 21L, 0.2)).toDF("q", "id", "s")
    val viaAgg = df.groupBy($"q")
      .agg(graft.functions.TopKPairs.top_k_pairs($"id", $"s", 2).as("topk"))
      .select($"q", explode($"topk").as("p"))
      .select($"q", $"p.neighbor_id", $"p.score")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // expected: per q, top-2 by (score desc, id asc)
    assert(viaAgg == Set((1L, 12L, 0.95), (1L, 10L, 0.9), (2L, 21L, 0.2), (2L, 20L, 0.1)))
  }

  test("top_k_pairs handles ties and overflow deterministically") {
    import spark.implicits._
    val rows = (1L to 1000L).map(i => (1L, i, if (i % 2 == 0) 0.5 else 0.25))
    val r = rows.toDF("q", "id", "s").repartition(7)
      .groupBy($"q")
      .agg(graft.functions.TopKPairs.top_k_pairs($"id", $"s", 3).as("topk"))
      .select(explode($"topk").as("p")).select($"p.neighbor_id")
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(2L, 4L, 6L)) // score ties broken by lowest id
  }

  test("top_k_pairs distinct: duplicate ids take one slot, across partitions and merges") {
    import spark.implicits._
    // every duplicate of an id carries the identical score (the graph
    // build's multi-band invariant the distinct mode contracts on)
    val rows = for { i <- 1L to 300L; _ <- 1 to 3 } yield (1L, i, (i % 7).toDouble / 7.0)
    val r = rows.toDF("q", "id", "s").repartition(11)
      .groupBy($"q")
      .agg(graft.functions.TopKPairs.top_k_pairs_distinct($"id", $"s", 5).as("topk"))
      .select(posexplode($"topk").as(Seq("pos", "p")))
      .select($"pos", $"p.neighbor_id", $"p.score")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSeq
    // best score 6/7 first held by ids 6,13,20,27,34 — each ONCE
    assert(r == Seq(
      (0, 6L, 6.0 / 7), (1, 13L, 6.0 / 7), (2, 20L, 6.0 / 7),
      (3, 27L, 6.0 / 7), (4, 34L, 6.0 / 7)))
  }

  test("graph build plan: no window, no pair-sized exchange — distinct top-k aggregate") {
    val g = graft.operators.SrpBanded.knnGraph(spark, sf, 5)
    val plan = g.queryExecution.executedPlan.toString
    // the dedup+rank pair windows are gone: ranking happens in the
    // partial-aggregating distinct top-k, so the only pair-touching
    // operator is the map-side aggregate — nothing sorts or shuffles
    // the candidate-pair set
    assert(!plan.contains("Window"), "graph build must not rank via window")
    assert(plan.contains("top_k_pairs"), "graph build must rank via the top-k aggregate")
  }

  test("custom as-of join matches window-function encoding") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"), col("event_type"))
    val purch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), expr("unix_millis(ts)").as("p_ms"), col("value"))
      .groupBy($"pu", $"p_ms").agg(max($"value").as("p_value"))
    val custom = graft.plans.AsOfJoinOps
      .asofJoin(ev, purch, "user_id", "pu", "ms", "p_ms")
      .select($"user_id", $"ms", $"event_type", $"p_ms", $"p_value")
    // reference encoding: union trick via last() ignoring nulls over time order
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"k").orderBy($"t", $"is_left")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val tagged = purch.select($"pu".as("k"), $"p_ms".as("t"), lit(0).as("is_left"),
        lit(null).cast("bigint").as("ms"), lit(null).cast("string").as("event_type"),
        $"p_ms".as("r_ms"), $"p_value".as("r_val"))
      .unionByName(ev.select($"user_id".as("k"), $"ms".as("t"), lit(1).as("is_left"),
        $"ms", $"event_type", lit(null).cast("bigint").as("r_ms"),
        lit(null).cast("double").as("r_val")))
    val expected = tagged
      .withColumn("p_ms", last($"r_ms", ignoreNulls = true).over(w))
      .withColumn("p_value", last($"r_val", ignoreNulls = true).over(w))
      .filter($"is_left" === 1)
      .select($"k".as("user_id"), $"ms", $"event_type", $"p_ms", $"p_value")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getString(2),
      Option(r.get(3)).map(_.toString).getOrElse(""), Option(r.get(4)).map(_.toString).getOrElse(""))
    assert(custom.collect().map(key).sorted.toSeq == expected.collect().map(key).sorted.toSeq)
    // the physical plan really is the custom operator
    assert(custom.queryExecution.executedPlan.toString.contains("AsOfJoin"))
  }

  test("as-of join null keys/times: left nulls get null-extended, right nulls match nothing") {
    import spark.implicits._
    val left = Seq(
      (Option(1L), Option(100L), "a"),
      (Option(1L), Option(200L), "b"),
      (Option.empty[Long], Option(50L), "nullkey"),
      (Option(2L), Option.empty[Long], "nulltime"),
      (Option(3L), Option(10L), "nomatch"))
      .toDF("k", "t", "tag")
    val right = Seq(
      (Option(1L), Option(150L), 1.5),
      (Option(1L), Option(90L), 0.9),
      (Option.empty[Long], Option(1L), -1.0),   // null right key: never matches
      (Option(1L), Option.empty[Long], -2.0))   // null right time: never matches
      .toDF("rk", "rt", "v")
    val out = graft.plans.AsOfJoinOps.asofJoin(left, right, "k", "rk", "t", "rt")
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.toString).orNull).toMap
    assert(out("a") == "0.9")        // latest right at t<=100 for key 1
    assert(out("b") == "1.5")        // latest right at t<=200
    assert(out("nullkey") == null)   // null left key -> null-extended, no crash
    assert(out("nulltime") == null)  // null left time -> null-extended
    assert(out("nomatch") == null)   // key with no right rows
  }

  test("as-of join with STRING keys: stale candidates never leak across keys") {
    import spark.implicits._
    // key 'a' has right rows, key 'b' has none — with a buffer-backed
    // (UTF8String) key, a non-copied candidate key would mutate to 'b'
    // and wrongly match key 'a's candidate
    val left = Seq(("a", 10L, "a1"), ("a", 20L, "a2"), ("b", 30L, "b1"))
      .toDF("k", "t", "tag").repartition(1)
    val right = Seq(("a", 5L, 0.5), ("a", 15L, 1.5)).toDF("rk", "rt", "v")
    val out = graft.plans.AsOfJoinOps.asofJoin(left, right, "k", "rk", "t", "rt")
      .select($"tag", $"v").collect()
      .map(r => r.getString(0) -> Option(r.get(1)).map(_.toString).orNull).toMap
    assert(out("a1") == "0.5")
    assert(out("a2") == "1.5")
    assert(out("b1") == null, "candidate from key 'a' leaked into key 'b'")
  }

  test("overwriting a table dir invalidates the memoized scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("scan_inval").toString
    Seq((1L, "one"), (2L, "two")).toDF("id", "s").write.parquet(s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").count() == 2)
    graft.sources.Ingest.write(Seq((3L, "three")).toDF("id", "s"), s"$dir/t.parquet")
    assert(Tables.table(spark, dir, "t").count() == 1, "stale file listing survived overwrite")
  }

  test("filter above as-of join pushes below it (custom optimizer rule)") {
    import spark.implicits._
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("unix_millis(ts)").as("ms"), col("event_type"))
    val purch = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id").as("pu"), expr("unix_millis(ts)").as("p_ms"))
      .groupBy($"pu", $"p_ms").agg(count(lit(1)).as("pn"))
    val joined = graft.plans.AsOfJoinOps
      .asofJoin(ev, purch, "user_id", "pu", "ms", "p_ms")
      .filter(col("user_id") === 7L)
    val optimized = joined.queryExecution.optimizedPlan
    // the filter must sit below the AsOfJoin node, on BOTH sides
    // (key-equality mirrored to the right), not above it
    val aj = optimized.collectFirst {
      case a: graft.plans.AsOfJoin => a
    }.getOrElse(fail(s"no AsOfJoin in optimized plan:\n$optimized"))
    def hasKeyFilter(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst {
        case f: org.apache.spark.sql.catalyst.plans.logical.Filter
          if f.condition.references.map(_.name).exists(n => n == "user_id" || n == "pu") => f
      }.nonEmpty
    assert(hasKeyFilter(aj.left), s"left side missing pushed filter:\n$optimized")
    assert(hasKeyFilter(aj.right), s"right side missing mirrored filter:\n$optimized")
    // and the result still matches the unpushed semantics
    val expected = graft.plans.AsOfJoinOps
      .asofJoin(ev, purch, "user_id", "pu", "ms", "p_ms")
      .collect().filter(_.getLong(0) == 7L).length
    assert(joined.count() == expected)
  }

  test("salted aggregation equals plain aggregation") {
    val ev = Tables.events(spark, sf)
    val plain = ev.groupBy(col("user_id").as("k"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("total"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val salted = Salted.saltedCountSum(ev, col("user_id"), col("value"), 8)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(salted == plain)
  }

  test("salted join equals plain join") {
    val ev = Tables.events(spark, sf).select(col("user_id"), col("event_id"))
    val users = Tables.events(spark, sf).groupBy(col("user_id").as("uid"))
      .agg(count(lit(1)).as("user_n"))
    val plain = ev.join(users, ev("user_id") === users("uid"))
      .select(col("event_id"), col("user_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val salted = Salted.saltedJoin(ev, users, "user_id", "uid", 4)
      .select(col("event_id"), col("user_n"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(salted == plain)
  }

  test("ingest pipeline: jsonl -> embed -> parquet roundtrip") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ingest").toString
    Seq("""{"doc_id": 1, "text": "hello  spark   world"}""",
      """{"doc_id": 2, "text": "vector search engine"}""",
      """{"doc_id": 3, "text": ""}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$tmp/raw")
    val embedded = graft.sources.Ingest.fromJsonl(spark, s"$tmp/raw")
    graft.sources.Ingest.write(embedded, s"$tmp/store")
    val back = spark.read.parquet(s"$tmp/store").collect()
    assert(back.length == 2) // empty text dropped
    val r1 = back.find(_.getAs[Long]("doc_id") == 1).get
    assert(r1.getAs[String]("text") == "hello spark world") // whitespace normalized
    val emb = r1.getSeq[Float](r1.fieldIndex("embedding"))
    assert(emb.length == graft.functions.FakeEmbedder.Dim)
    assert(emb.toSeq == graft.functions.FakeEmbedder.embed("hello spark world").toSeq)
  }

  test("upsert: updates replace matching ids, others survive") {
    import spark.implicits._
    val store = Seq((1L, "old one", "en"), (2L, "two", "de")).toDF("doc_id", "text", "lang")
    val updates = Seq((1L, "new one", "en"), (3L, "three", "es")).toDF("doc_id", "text", "lang")
    val merged = graft.sources.Ingest.upsert(store, updates, "doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(merged == Set((1L, "new one"), (2L, "two"), (3L, "three")))
  }

  test("streaming ingest: merge-on-read view resolves the latest doc version") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("stream_ingest").toString
    val raw = s"$tmp/raw"; val staging = s"$tmp/staging"
    new java.io.File(raw).mkdirs()
    // first file lands, stream processes it
    Seq("""{"doc_id": 1, "text": "version one"}""",
      """{"doc_id": 2, "text": "stable doc"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$raw/f1")
    val ckpt = s"$tmp/ckpt"
    graft.sources.Ingest.streamIngest(spark, s"$raw/*", staging, ckpt).awaitTermination()
    // a second file updates doc 1; the restarted AvailableNow run
    // resumes from the checkpoint and ingests only the new file
    Seq("""{"doc_id": 1, "text": "version two"}""").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$raw/f2")
    graft.sources.Ingest.streamIngest(spark, s"$raw/*", staging, ckpt).awaitTermination()
    val cur = graft.sources.Ingest.currentView(spark, staging)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("text"))).toMap
    assert(cur(2L) == "stable doc")
    assert(cur(1L) == "version two")
    // embeddings resolve with the text
    val emb1 = graft.sources.Ingest.currentView(spark, staging)
      .filter(col("doc_id") === 1L).collect()(0)
    assert(emb1.getSeq[Float](emb1.fieldIndex("embedding")).toSeq ==
      graft.functions.FakeEmbedder.embed("version two").toSeq)
  }

  test("ORC interchange round-trips and pushes filters into the scan") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("orc_io").toString
    val docs = Tables.documents(spark, sf).select($"doc_id", $"lang", $"n_chars")
    graft.sources.Ingest.writeOrc(docs, dir)
    val back = graft.sources.Ingest.fromOrc(spark, dir).filter($"n_chars" > 500)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("OrcScan") || plan.contains("Format: ORC") || plan.contains("orc"),
      s"not an ORC scan:\n$plan")
    assert(plan.contains("PushedFilters") && plan.contains("n_chars"),
      s"filter did not push into the ORC scan:\n$plan")
    val a = back.collect().map(_.toSeq).toSet
    val b = docs.filter($"n_chars" > 500).collect().map(_.toSeq).toSet
    assert(a == b && a.nonEmpty)
  }

  test("ingest from csv works too") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("ingest_csv").toString
    Seq("doc_id,text", "7,\"hello csv world\"").toDF("value")
      .coalesce(1).write.mode("overwrite").text(s"$tmp/raw")
    val r = graft.sources.Ingest.fromCsv(spark, s"$tmp/raw").collect()
    assert(r.length == 1 && r(0).getAs[String]("text") == "hello csv world")
  }

  test("partitioned sink: lang filter becomes a PartitionFilter, values survive round-trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val docs = Tables.documents(spark, sf)
    graft.sources.Ingest.writePartitioned(docs, dir, "lang")
    val back = spark.read.parquet(dir).filter($"lang" === "en")
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang filter did not reach partition pruning:\n$plan")
    // pruning must not change results
    assert(back.count() == docs.filter($"lang" === "en").count())
    val a = back.select($"doc_id", $"n_chars").collect().map(_.toSeq).toSet
    val b = docs.filter($"lang" === "en").select($"doc_id", $"n_chars").collect().map(_.toSeq).toSet
    assert(a == b)
  }

  test("sequence packing: packs respect order and budget arithmetic") {
    val df = TextOps.sequencePack(spark, sf, budget = 512)
    // scale posture: the cumsum must never run through a single reducer —
    // every Window in the plan must carry partition keys
    val unpartitioned = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window if w.partitionSpec.isEmpty => w
    }
    assert(unpartitioned.isEmpty, s"global (unpartitioned) window in t5 plan:\n$unpartitioned")
    val r = df.collect()
    var cum = 0L
    r.foreach { row =>
      assert(row.getAs[Long]("pack_id") == cum / 512)
      cum += row.getAs[Int]("n_tokens")
    }
  }

  test("q33 global deciles: exact sizes, no unpartitioned window") {
    val df = CoreQueries.q33GlobalDecile(spark, sf)
    // the returned frame is an eagerly-collected LocalRelation — the
    // cumsum stage's plan is recorded by the operator itself
    assert(CoreQueries.q33UnpartitionedWindows == 0,
      s"q33 cumsum stage used ${CoreQueries.q33UnpartitionedWindows} global (unpartitioned) windows")
    val r = df.collect()
    val total = Tables.orders(spark, sf).count()
    assert(r.map(_.getAs[Long]("n")).sum == total)
    assert(r.map(_.getAs[Int]("decile")).toSeq == (1 to r.length))
    // value-based deciles: bucket boundaries are monotone
    val maxs = r.map(_.getAs[Double]("max_price"))
    assert(maxs.zip(maxs.tail).forall { case (a, b) => a <= b })
    // tie mass aside, each decile holds ~N/10 (orders prices are
    // near-unique, so sizes stay within a loose band)
    r.map(_.getAs[Long]("n")).foreach(nD =>
      assert(math.abs(nD - total / 10.0) <= math.max(2, total * 0.02), s"decile size $nD vs N=$total"))
  }

  test("batched decode emits one feature row per doc, deterministic") {
    val a = Multimodal.decodeBatched(spark, sf).collect()
    val b = Multimodal.decodeBatched(spark, sf, batchSize = 7).collect()
    assert(a.length == Tables.documents(spark, sf).count())
    // batch size must not change results
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    // histogram counts must account for every byte of the doc
    val r = a.head
    val total = (0 until 8).map(i => r.getInt(r.fieldIndex(s"c$i"))).sum
    assert(total == r.getInt(r.fieldIndex("n_bytes")))
  }

  test("m6 resize plan: aspect preserved within integer rounding, fits the box") {
    val r = Multimodal.resizePlan(spark, sf).collect()
    r.foreach { row =>
      val (sw, sh) = (row.getAs[Long]("src_w"), row.getAs[Long]("src_h"))
      val (ow, oh) = (row.getAs[Long]("out_w"), row.getAs[Long]("out_h"))
      assert(ow <= 224 && oh <= 224 && ow >= 1 && oh >= 1)
      assert(math.max(ow, oh) == 224) // long side always fills the box
      // integer-floor aspect: short side = floor(short * 224 / long)
      val expected = if (sw >= sh) sh * 224 / sw else sw * 224 / sh
      assert(math.min(ow, oh) == expected)
      val patches = row.getAs[Long]("n_patches")
      assert(patches == ((ow + 15) / 16) * ((oh + 15) / 16))
    }
  }

  test("m7 audio chunks: full coverage, correct overlap, bounded windows") {
    val rows = Multimodal.audioChunk(spark, sf).collect()
      .groupBy(_.getAs[Long]("doc_id"))
    rows.foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.getAs[Long]("chunk_idx"))
      assert(sorted.head.getAs[Long]("start_ms") == 0L)
      sorted.foreach { c =>
        val len = c.getAs[Long]("end_ms") - c.getAs[Long]("start_ms")
        assert(len > 0 && len <= 10000)
        assert(c.getAs[Long]("n_samples") == len * 16)
      }
      // consecutive chunks step by window - overlap; coverage is gapless
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("start_ms") - a.getAs[Long]("start_ms") == 9000L)
          assert(b.getAs[Long]("start_ms") < a.getAs[Long]("end_ms")) // overlap
        case _ =>
      }
    }
  }

  test("plan shapes: broadcasts, pushdown, and no-shuffle knn hold") {
    // q3: every join is a broadcast; filters reach the scans
    val q3 = CoreQueries.q3CustOrderRevenue(spark, sf).queryExecution.executedPlan.toString
    assert(q3.contains("BroadcastHashJoin"), "q3 lost its broadcast join")
    assert(!q3.contains("SortMergeJoin"), "q3 fell back to sort-merge")
    assert(q3.contains("PushedFilters: [IsNotNull"), "q3 lost scan pushdown")
    // v1: top-k with zero exchanges
    val v1 = SparkEntry.queries("v1_knn_cosine")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(v1.contains("TakeOrderedAndProject"), "v1 lost TakeOrderedAndProject")
    assert(!v1.contains("Exchange"), "v1 shuffles the corpus")
    // q6: selective filter is pushed to parquet
    // (plan strings truncate long filter lists — assert on the scan's
    // own pushed-filter metadata instead)
    val q6Scan = CoreQueries.q6SelectiveFilter(spark, sf).queryExecution.executedPlan
      .collectLeaves().map(_.toString).mkString("\n")
    assert(q6Scan.contains("PushedFilters: [IsNotNull"), "q6 filter not pushed to scan")
  }

  test("bucketed tables join without any exchange") {
    val o = Tables.orders(spark, sf).select(col("o_orderkey"), col("o_totalprice"))
    val li = Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("n_lines"))
    spark.sql("DROP TABLE IF EXISTS graft_o_bkt")
    spark.sql("DROP TABLE IF EXISTS graft_li_bkt")
    graft.sources.Bucketed.writeBucketed(o, "graft_o_bkt", "o_orderkey", 8)
    graft.sources.Bucketed.writeBucketed(
      li.withColumnRenamed("l_orderkey", "o_orderkey"), "graft_li_bkt", "o_orderkey", 8)
    // force the shuffle-join path (tables here are broadcast-sized; at
    // the scale bucketing targets, neither side broadcasts)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = graft.sources.Bucketed.cooperativeJoin(
        spark, "graft_o_bkt", "graft_li_bkt", "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")
      // and the result is correct vs a plain join
      val expected = o.join(li, o("o_orderkey") === li("l_orderkey")).count()
      assert(joined.count() == expected)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("m5 modality routing partitions the corpus exhaustively by magic") {
    import spark.implicits._
    val routed = Multimodal.modalityRoute(spark, sf)
    assert(routed.filter($"modality" === "unknown").count() == 0)
    val byMod = routed.groupBy($"modality").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byMod.keySet == Set("image/png", "audio/wav", "image/jpeg"))
    assert(byMod.values.sum == Tables.documents(spark, sf).count())
  }

  test("m2 frame explode is deterministic and bounded") {
    val r = Multimodal.frameSample(spark, sf)
    val counts = r.groupBy(col("doc_id")).count().collect()
    counts.foreach(c => assert(c.getLong(1) >= 1 && c.getLong(1) <= 7))
  }

  test("q22 pivot equals manual conditional aggregation") {
    val piv = CoreQueries.q22Pivot(spark, sf).collect()
    val manual = Tables.orders(spark, sf)
      .groupBy(col("o_orderstatus"))
      .agg(
        count(when(col("o_orderpriority") === "1-URGENT", 1)).as("p1_urgent"),
        count(when(col("o_orderpriority") === "2-HIGH", 1)).as("p2_high"),
        count(when(col("o_orderpriority") === "3-MEDIUM", 1)).as("p3_medium"),
        count(when(col("o_orderpriority") === "4-NOT SPECIFIED", 1)).as("p4_not_specified"),
        count(when(col("o_orderpriority") === "5-LOW", 1)).as("p5_low"))
      .orderBy(col("o_orderstatus")).collect()
    assert(piv.map(_.toSeq).toSeq == manual.map(_.toSeq).toSeq)
  }

  test("q23 running total tops out at each user's exact total") {
    import spark.implicits._
    val rt = CoreQueries.q23RunningTotal(spark, sf)
    // value >= 0 in the synthetic data, so the running sum is monotone
    // and its per-user max equals the user's full decimal-exact sum
    val fromWindow = rt.groupBy($"user_id").agg(max($"run_total").as("mx"))
    val direct = Tables.events(spark, sf).groupBy($"user_id")
      .agg(sum($"value".cast("decimal(18,2)")).cast("double").as("s"))
    val joined = fromWindow.join(direct, "user_id")
    assert(joined.filter($"mx" =!= $"s").count() == 0)
  }

  test("q24 range join equals a window-function encoding") {
    import spark.implicits._
    val rj = CoreQueries.q24RangeJoin(spark, sf)
    // window encoding: count views in (ms-1h, ms] per purchase via a
    // union-tagged range frame
    val ev = Tables.events(spark, sf)
      .select($"user_id", $"event_id", expr("unix_millis(ts)").as("ms"), $"event_type")
    val tagged = ev.filter($"event_type".isin("view", "purchase"))
      .select($"user_id", $"event_id", $"ms",
        when($"event_type" === "view", 1L).otherwise(0L).as("is_view"),
        ($"event_type" === "purchase").as("is_purchase"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms").rangeBetween(-3600000L, 0L)
    val expected = tagged
      .withColumn("n_views_prior_hour", sum($"is_view").over(w))
      .filter($"is_purchase")
      .select($"user_id", $"event_id", $"ms", $"n_views_prior_hour")
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(rj.collect().map(key).sorted.toSeq == expected.collect().map(key).sorted.toSeq)
  }

  test("q25 grouping sets equals union of the individual groupings") {
    val gs = CoreQueries.q25GroupingSets(spark, sf).collect().map(_.toSeq).toSet
    val o = Tables.orders(spark, sf)
    val byStatus = o.groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sp"))
      .select(col("o_orderstatus").as("status"), lit("(all)").as("priority"), col("n"), col("sp"))
    val byPrio = o.groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sp"))
      .select(lit("(all)").as("status"), col("o_orderpriority").as("priority"), col("n"), col("sp"))
    val grand = o.agg(count(lit(1)).as("n"), sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sp"))
      .select(lit("(all)").as("status"), lit("(all)").as("priority"), col("n"), col("sp"))
    val expected = byStatus.unionByName(byPrio).unionByName(grand).collect().map(_.toSeq).toSet
    assert(gs == expected)
  }

  test("t9 langid picks the marker-majority language deterministically") {
    import spark.implicits._
    val docs = Seq(
      (1L, "xx", "the cat and the dog of war"),      // en markers dominate
      (2L, "xx", "der hund und die katze"),          // de markers
      (3L, "xx", "nothing matches here"))            // all-zero -> tie -> lang desc = zh
      .toDF("doc_id", "lang", "text")
    val out = docs.select($"doc_id", TextOps.langIdHeuristic($"text").as("p"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "zh")
  }

  test("t10 bigram top-k: ranks are dense 1..k per lang and counts non-increasing") {
    import spark.implicits._
    val bf = TextOps.bigramFreq(spark, sf).collect()
    bf.groupBy(_.getString(0)).foreach { case (_, rows) =>
      val byRank = rows.sortBy(_.getInt(3))
      assert(byRank.map(_.getInt(3)).toSeq == (1 to byRank.length).toSeq)
      val ns = byRank.map(_.getLong(2))
      assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
    }
  }

  test("cache-holding operators give identical results from a second session") {
    // pairsCache / scanCache are keyed by session, model caches by
    // data dir — a sibling session must neither crash on a foreign
    // session's handles nor see stale results
    val s2 = spark.newSession()
    for (name <- Seq("d6_dup_components", "v6_ivf_search", "v12_pq_search", "q1_pricing_summary")) {
      val a = SparkEntry.queries(name)(spark, sf).collect().map(_.toSeq).toSeq
      val b = SparkEntry.queries(name)(s2, sf).collect().map(_.toSeq).toSeq
      assert(a == b, s"$name differs across sessions")
    }
  }

  test("q31 pushes the contains predicate into the parquet scan") {
    val plan = CoreQueries.q31TextSearch(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("StringContains(text,filter)"), s"no pushed contains in:\n$plan")
  }

  test("q32 pages are disjoint, ordered, and cover the table") {
    import spark.implicits._
    val p0 = CoreQueries.q32Pagination(spark, sf, page = 0).collect().map(_.getLong(0))
    val p1 = CoreQueries.q32Pagination(spark, sf, page = 1).collect().map(_.getLong(0))
    assert(p0.length == 25 && p1.length == 25)
    assert(p0.toSet.intersect(p1.toSet).isEmpty)
    assert(p0.max < p1.min) // strictly ordered pages
  }

  test("q26 ntile: deciles within each priority are balanced to within one row") {
    val rows = CoreQueries.q26Ntile(spark, sf).collect()
    rows.groupBy(_.getString(0)).foreach { case (_, ds) =>
      val ns = ds.map(_.getLong(2))
      assert(ns.max - ns.min <= 1, s"unbalanced deciles: ${ns.toSeq}")
      assert(ds.map(_.getInt(1)).sorted.toSeq == (1 to ds.length))
    }
  }

  test("q27 full outer: covers every nation present on either side") {
    import spark.implicits._
    val out = CoreQueries.q27FullOuter(spark, sf)
    val nations = Tables.customer(spark, sf).select($"c_nationkey".as("k"))
      .unionByName(Tables.supplier(spark, sf).select($"s_nationkey".as("k")))
      .distinct().count()
    assert(out.count() == nations)
    assert(out.filter($"n_cust" === 0 && $"n_supp" === 0).count() == 0)
  }

  test("d6 with a pair-less threshold returns empty instead of NPEing") {
    // jaccard can't exceed 1.0, so this threshold guarantees an empty
    // pair graph (0.999 is NOT enough — the corpus has exact dups)
    val out = Dedup.dupComponents(spark, sf, threshold = 1.01)
    assert(out.count() == 0)
  }

  test("d7 contamination: eval ids odd, train ids even, counts at least the threshold") {
    val rows = Dedup.contamination(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) % 2 == 1, "eval_id must be odd")
      assert(r.getLong(1) % 2 == 0, "train_id must be even")
      assert(r.getLong(2) >= 3)
    }
    // the document-frequency cap only ever removes signal, never adds
    val capped = Dedup.contamination(spark, sf, maxDf = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped.subsetOf(full))
    assert(capped.size < full.size, "cap at df<=3 should prune stop-gram pairs in this corpus")
  }

  test("t11 stratified sample takes exactly the ceil(frac * stratum) per lang, deterministically") {
    import spark.implicits._
    val sample = TextOps.stratifiedSample(spark, sf)
    val perLang = sample.groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val strata = Tables.documents(spark, sf).groupBy($"lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach { case (lang, n) =>
      assert(perLang(lang) == math.ceil(0.1 * n).toLong, s"lang $lang")
    }
    val again = TextOps.stratifiedSample(spark, sf).collect().map(_.toSeq).toSet
    assert(again == sample.collect().map(_.toSeq).toSet)
  }

  test("t12 redaction removes every email-shaped span") {
    import spark.implicits._
    val pattern = "[a-z0-9._]+@[a-z0-9.]+\\.[a-z]+"
    val leftover = Tables.documents(spark, sf)
      .select(regexp_replace(
        concat($"text", lit(" contact user"), $"doc_id".cast("string"), lit("@example.com")),
        pattern, "<EMAIL>").as("clean"))
      .filter($"clean".rlike(pattern))
    assert(leftover.count() == 0)
    assert(TextOps.piiRedact(spark, sf).filter($"n_emails" < 1).count() == 0)
  }

  test("t13 logprob: probabilities below zero, n_toks match, common-token docs score higher") {
    import spark.implicits._
    val lp = TextOps.unigramLogprob(spark, sf)
    assert(lp.filter($"avg_logp" >= 0.0).count() == 0)
    val nt = Tables.documents(spark, sf)
      .select($"doc_id", size(split($"text", " ")).as("n"))
    assert(lp.join(nt, "doc_id").filter($"n_toks" =!= $"n").count() == 0)
  }

  test("t18 bigram logprob: token parity with t13, coherent text outscores its unigram bound") {
    import spark.implicits._
    val bi = TextOps.bigramLogprob(spark, sf)
    assert(bi.filter($"avg_logp" >= 0.0).count() == 0)
    // identical token accounting to the unigram scorer
    val uni = TextOps.unigramLogprob(spark, sf)
      .select($"doc_id", $"n_toks".as("n_uni"), $"avg_logp".as("avg_uni"))
    val j = bi.join(uni, "doc_id").cache()
    try {
      assert(j.filter($"n_toks" =!= $"n_uni").count() == 0)
      // real (coherent) text: adjacent pairs are more predictable than
      // the unigram background, so the interpolated score should beat
      // the unigram score for a clear majority of documents — this is
      // the signal the operator exists to add (a shuffled-word corpus
      // would sit at the 0.3-weighted unigram floor instead)
      val n = j.count()
      val better = j.filter($"avg_logp" > $"avg_uni").count()
      info(s"bigram beats unigram on $better of $n docs")
      assert(better * 2 > n, s"bigram outscored unigram on only $better of $n")
    } finally { j.unpersist(blocking = false): Unit }
  }

  test("d12 dup weights: cluster mass sums to one, singletons weigh 1, full coverage") {
    import spark.implicits._
    val w = Dedup.dupWeights(spark, sf).cache()
    try {
      val nDocs = Tables.documents(spark, sf).count()
      assert(w.count() == nDocs, "every document must get a weight row")
      assert(w.filter($"cluster_size" === 1 && $"weight" =!= 1.0).count() == 0)
      assert(w.filter($"cluster_size" > 1).count() > 0,
        "fixture should contain at least one near-dup cluster")
      // each cluster's total sampling mass is one document's worth
      // (up to the 6-dp rounding of 1/size)
      val bad = w.groupBy($"cluster_id")
        .agg(sum($"weight").as("mass"), count(lit(1)).as("m"))
        .filter(abs($"mass" - 1.0) > 1e-4)
      assert(bad.count() == 0, s"cluster mass off: ${bad.collect().mkString(",")}")
      // cluster ids agree with d6's components on clustered docs
      val comps = Dedup.dupComponents(spark, sf)
        .select($"doc_id", $"cluster_id".as("d6_cluster"))
      assert(w.join(comps, Seq("doc_id"))
        .filter($"cluster_id" =!= $"d6_cluster").count() == 0)
    } finally { w.unpersist(blocking = false): Unit }
  }

  test("reference parity: embed path matches stored embeddings, lookup returns the mapped row") {
    import spark.implicits._
    // the ingest path runs end-to-end over reference-shaped rows:
    // every record embeds to a well-formed unit-or-zero 64-dim vector
    // (the stored embeddings the oracle scores against are the
    // driver's own vectors — sql/04's UPDATE fills the column from a
    // model we don't have; what the fixture proves is the schema +
    // query mapping, and that OUR embed path accepts these rows)
    val cr = ReferenceParity.customerRecords(spark, sf)
    val reEmbedded = graft.sources.Ingest.embedDocuments(
      cr.select(col("id"), col("abstract").as("text")), "id")
    assert(reEmbedded.count() == cr.count())
    val badDim = reEmbedded.filter(size(col("embedding")) =!= 64).count()
    assert(badDim == 0)
    val norms = reEmbedded.select(expr(
      "aggregate(embedding, cast(0.0 as double), (s, x) -> s + x * x)").as("sq"))
    assert(norms.filter(abs(col("sq") - 1.0) > 1e-3 && col("sq") =!= 0.0).count() == 0)
    // get_record_by_id: exactly one row, reference columns populated
    val r = ReferenceParity.recordById(spark, sf, "POL-00000042").collect()
    assert(r.length == 1)
    val row = r(0)
    assert(row.getAs[String]("type") == "POLICY")
    assert(row.getAs[String]("number") == "CUST-42")
    assert(row.getAs[Long]("withdrawn") == 0L)
    // find_similar over live policies never returns withdrawn/article ids
    val hits = ReferenceParity.findSimilarLive(spark, sf, "water damage", 10)
      .select(col("id")).as[String].collect()
    assert(hits.nonEmpty)
    hits.foreach { id =>
      assert(id.startsWith("POL-"))
      assert(id.stripPrefix("POL-").toLong % 5 != 0)
    }
  }

  test("s3 streaming dedup agrees with its batch twin") {
    // The stream keeps the FIRST-arriving row per event_id; the batch
    // twin keeps min(event_type). Those agree only while no event_id
    // carries divergent event_types — assert that corpus property here
    // so replayed data with divergent payloads fails THIS assert
    // loudly instead of making the stream-vs-batch compare flake.
    val divergent = Tables.events(spark, sf)
      .groupBy(col("event_id"))
      .agg(countDistinct(col("event_type")).as("nt"))
      .filter(col("nt") > 1).count()
    assert(divergent == 0,
      "corpus has duplicate event_ids with divergent event_types; " +
        "stream first-keeper vs batch min-keeper would be nondeterministic")
    val batch = EventStream.dedupBatch(spark, sf).collect().map(_.toSeq).toSet
    val stream = EventStream.runDedupOnce(spark, sf, "graft_s3_spec")
      .orderBy(col("event_type")).collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("s4 trending: streaming top-3 equals batch twin") {
    val batch = EventStream.trendingBatch(spark, sf).collect().map(_.toSeq).toSet
    val stream = EventStream.runTrendingOnce(spark, sf, "graft_s4_spec")
      .collect().map(_.toSeq).toSet
    assert(stream == batch)
  }

  test("t15 repetition: planted spam doc flagged, diverse doc not") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("t15rep").toString
    Seq(
      (1L, Array.fill(10)("spam").mkString(" "), "en", "s", 49L),
      (2L, (1 to 40).map(i => s"w$i").mkString(" "), "en", "s", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = TextOps.repetition(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Boolean]("repetitive"))
    assert(r(1L).getAs[Double]("dup_tok_frac") == 0.9)
    assert(r(1L).getAs[Double]("top_bigram_frac") == 1.0)
    assert(!r(2L).getAs[Boolean]("repetitive"))
    assert(r(2L).getAs[Double]("dup_tok_frac") == 0.0)
    // real corpus: all fractions well-formed
    val corpus = TextOps.repetition(spark, sf).collect()
    corpus.foreach { x =>
      Seq("dup_tok_frac", "top_bigram_frac", "top_trigram_frac").foreach { c =>
        val v = x.getAs[Double](c)
        assert(v >= 0.0 && v <= 1.0, s"$c out of range: $v")
      }
    }
  }

  test("d10 chunk dedup: detects a verbatim 16-token chunk reuse") {
    import spark.implicits._
    val shared = (1 to 16).map(i => s"c$i").mkString(" ")
    val tmp = java.nio.file.Files.createTempDirectory("d10chunk").toString
    Seq(
      (1L, shared + " " + (1 to 16).map(i => s"a$i").mkString(" "), "en", "s", 0L),
      (2L, shared + " " + (1 to 16).map(i => s"b$i").mkString(" "), "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val r = Dedup.chunkDedup(spark, tmp).collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_chunks"), x.getAs[Long]("n_dup_chunks"))).toMap
    assert(r(1L) == (2L, 0L), s"doc 1 got ${r(1L)}") // first occurrence keeps its chunks
    assert(r(2L) == (2L, 1L), s"doc 2 got ${r(2L)}") // the shared chunk is the dup
  }

  test("v18 knn graph: planted near-dups are each other's rank-1 neighbors") {
    import spark.implicits._
    val rng = new scala.util.Random(11L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val base = (0 until 100).map(i => (i.toLong, unit(), i % 10))
    val planted = (0 until 20).map { i =>
      val (_, v, l) = base(i)
      ((100 + i).toLong, v.map(x => x + (rng.nextGaussian() * 0.02).toFloat), l)
    }
    val tmp = java.nio.file.Files.createTempDirectory("v18knn").toString
    (base ++ planted).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val g = SrpBanded.knnGraph(spark, tmp, k = 5).collect()
    g.foreach { r =>
      assert(r.getAs[Long]("src") != r.getAs[Long]("dst"), "self edge")
      val rk = r.getAs[Int]("rk"); assert(rk >= 1 && rk <= 5)
    }
    // at cos ≈ 0.998 the 8x8 SRP S-curve recall is ~1: every planted
    // twin pair must surface, and as the top-ranked neighbor
    val rank1 = g.filter(_.getAs[Int]("rk") == 1)
      .map(r => r.getAs[Long]("src") -> r.getAs[Long]("dst")).toMap
    (0 until 20).foreach { i =>
      assert(rank1.get(100L + i).contains(i.toLong),
        s"planted twin of ${100 + i} not rank-1: got ${rank1.get(100L + i)}")
      assert(rank1.get(i.toLong).contains(100L + i),
        s"planted twin of $i not rank-1: got ${rank1.get(i.toLong)}")
    }
  }

  test("v18 build bucket cap: degenerate near-dup buckets stay linear, every source keeps its edges") {
    import spark.implicits._
    // a pathological corpus: 400 near-identical vectors (one cluster
    // that lands in the SAME bucket in every band — the shape that
    // made the uncapped banded self-join quadratic and OOM'd the
    // 100× scale build) plus a handful of distinct ones
    val rng = new scala.util.Random(7L)
    val center = {
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val clones = (0 until 400).map { i =>
      (i.toLong, center.map(x => x * (1.0f + 1e-6f * (i % 3))))
    }
    val distinct = (400 until 410).map { i =>
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      (i.toLong, v.map(x => (x / n).toFloat))
    }
    val tmp = java.nio.file.Files.createTempDirectory("bcap").toString
    (clones ++ distinct).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    val g = SrpBanded.knnGraph(spark, tmp, k = 5).collect()
    // linearity: the cluster's bucket contributes at most BucketCap
    // distinct destinations, so the edge DESTINATION set inside the
    // cluster is bounded by the cap, not by the cluster size
    val clusterDsts = g.filter(r => r.getAs[Long]("src") < 400 &&
      r.getAs[Long]("dst") < 400).map(_.getAs[Long]("dst")).toSet
    assert(clusterDsts.nonEmpty && clusterDsts.size <= SrpBanded.BucketCap,
      s"capped bucket leaked ${clusterDsts.size} distinct destinations")
    // serviceability: EVERY clone still gets a full top-k edge set
    // (any capped-bucket member is an interchangeable near neighbor)
    val bySrc = g.groupBy(_.getAs[Long]("src"))
    (0 until 400).foreach { i =>
      assert(bySrc.get(i.toLong).exists(_.length == 5),
        s"clone $i lost its edges under the cap")
    }
  }

  test("v19 graph search: deterministic, self-retrieving, decent recall on the small corpus") {
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    // query with an indexed vector's own embedding -> itself at rank 1
    val probeId = emb.keys.min
    val self = SrpBanded.graphSearch(spark, sf, emb(probeId)).collect()
    assert(self.head.getAs[Long]("vec_id") == probeId)
    assert(self.head.getAs[Double]("sim") == 1.0)
    // deterministic: two runs bit-identical
    val q = graft.functions.FakeEmbedder.embed("fast vector search over spark tables")
    val a = SrpBanded.graphSearch(spark, sf, q).collect().map(_.toSeq).toSeq
    val b = SrpBanded.graphSearch(spark, sf, q).collect().map(_.toSeq).toSeq
    assert(a == b)
    // recall floor vs exact knn (deterministic — this is a fixed number
    // for this corpus, asserted with margin below its measured value)
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      d / math.sqrt(nx * ny)
    }
    val exact = emb.toSeq.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val got = a.map(_.head.asInstanceOf[Long]).toSet
    val recall = (exact & got).size / 10.0
    info(s"graph-search recall vs exact top-10: $recall")
    assert(recall >= 0.5, s"graph-search recall $recall vs exact top-10")
  }

  test("v19 probe-radius sensitivity: recall monotone in radius, radius-2 >= 0.9") {
    import spark.implicits._
    // regression tripwire for the banding/seeding regime: v19's round-4
    // recall collapse came from exact-key-only seeding at moderate
    // similarity. Probes sit at cos ~ 0.7 — P(SRP bit flip) ~ 0.25, so
    // an exact-band collision is rare (~10% per band) and recall must
    // be BOUGHT with probe radius. The corpus and probes are pinned by
    // seed, so the measured curve is a fixed number per code version.
    val rng = new scala.util.Random(23L)
    def unit(): Array[Float] = {
      val v = Array.fill(64)(rng.nextGaussian())
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    // corpus ids avoid 0 mod 1000; probe rows sit AT 0 mod 1000 so the
    // batched path (one distributed job per radius — the per-query
    // driver path pays ~1.5 s of plan/codegen per search, 24× over
    // budget) serves the whole sweep. Each probe's planted target is
    // the base vector it was perturbed from.
    val base = (0 until 150).map(i => ((i + 1).toLong, unit()))
    val probes = (0 until 12).map { i =>
      ((i + 1) * 1000L,
        base(i)._2.map(x => x + (rng.nextGaussian() * 0.13).toFloat))
    }
    val tmp = java.nio.file.Files.createTempDirectory("v19radius").toString
    (base ++ probes).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/embeddings.parquet")
    def recallAt(radius: Int): Double = {
      val byQuery = SrpBanded.graphSearchBatch(spark, tmp, queryMod = 1000,
          k = 10, iters = 1, probeRadius = radius)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .map { case (q, rows) => q -> rows.map(_.getAs[Long]("neighbor_id")).toSet }
      probes.indices.count { i =>
        byQuery.getOrElse((i + 1) * 1000L, Set.empty[Long]).contains(base(i)._1)
      }.toDouble / probes.size
    }
    val r = (0 to 2).map(recallAt)
    info(s"probe-radius recall sweep (cos~0.7 probes): r0=${r(0)} r1=${r(1)} r2=${r(2)}")
    assert(r(0) <= r(1) && r(1) <= r(2),
      s"recall not monotone in probe radius: ${r.mkString(", ")}")
    assert(r(2) >= 0.9, s"radius-2 recall below 0.9: ${r(2)}")
  }

  test("v21 NN-Descent refinement: graph recall vs exact knn graph improves substantially") {
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      d / math.sqrt(nx * ny)
    }
    // exact 5-NN graph, brute force over the collected corpus
    val exact: Map[Long, Set[Long]] = emb.map { case (id, v) =>
      id -> emb.toSeq.filter(_._1 != id)
        .map { case (o, w) => (o, cos(v, w)) }
        .sortBy { case (o, s) => (-s, o) }.take(5).map(_._1).toSet
    }
    def recallOf(g: Array[(Long, Long)]): Double = {
      val bySrc = g.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
      val scores = exact.toSeq.map { case (id, ex) =>
        bySrc.get(id).map(f => (f & ex).size / 5.0).getOrElse(0.0)
      }
      scores.sum / scores.size
    }
    val v18 = graft.operators.SrpBanded.knnGraph(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    val v21 = graft.operators.SrpBanded.nnDescentGraph(spark, sf).collect()
      .map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
    val (r18, r21) = (recallOf(v18), recallOf(v21))
    info(s"graph recall@5 vs exact: v18 (bands only) $r18, v21 (NN-Descent refined) $r21")
    assert(r21 >= r18, s"NN-Descent refinement regressed recall: $r21 < $r18")
    assert(r21 >= 0.5, s"refined graph recall too low: $r21")
  }

  test("v22 residual IVF-PQ: exact rerank, deterministic, residual codes reconstruct better than raw PQ") {
    val qText = "fast vector search over spark tables"
    val query = graft.functions.FakeEmbedder.embed(qText)
    val a = IvfPqResidual.searchSummary(spark, sf, qText).collect()
    assert(a.length == 10)
    // two runs bit-identical (training, encoding, probe all pinned)
    val b = IvfPqResidual.searchSummary(spark, sf, qText).collect()
    assert(a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // returned scores ARE the exact L2 of those ids (the rerank
    // contract: approximation picks candidates, never the score)
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def l2(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0
      for (i <- x.indices) { val d = x(i).toDouble - y(i).toDouble; s += d * d }
      math.sqrt(s)
    }
    a.foreach { r =>
      val id = r.getAs[Long]("vec_id")
      val want = BigDecimal(l2(emb(id), query))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getAs[Double]("score") - want) < 1e-9,
        s"rerank score for $id is not the exact L2")
    }
    // the POINT of residual encoding: at the same (m, k) code budget,
    // quantizing x − c(list(x)) reconstructs with lower total squared
    // error than quantizing raw x (between-list variance is absorbed
    // by the coarse quantizer before the codewords spend their bits)
    val res = IvfPqResidual.fitCached(spark, sf)
    val raw = PqIndex.fitCached(spark, sf)
    val dsub = raw.dsub
    def subErr(v: Array[Long], off: Int, cen: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < cen.length) { val d = v(off + i).toDouble - cen(i); s += d * d; i += 1 }
      s
    }
    def encodeErr(v: Array[Long], books: Array[Array[Array[Double]]]): Double =
      books.indices.map { j =>
        books(j).map(cen => subErr(v, j * dsub, cen)).min
      }.sum
    def nearestList(q: Array[Long]): Int =
      res.ivf.centroids.zipWithIndex.minBy { case (c, i) =>
        (c.indices.map(x => { val d = q(x).toDouble - c(x); d * d }).sum, i)
      }._2
    val (rawErr, residErr) = emb.values.foldLeft((0.0, 0.0)) { case ((er, es), v) =>
      val q = v.map(x => math.floor(x.toDouble * 1e6).toLong)
      val rcl = res.rc(nearestList(q))
      val r = q.indices.map(i => q(i) - rcl(i)).toArray
      (er + encodeErr(q, raw.codebooks), es + encodeErr(r, res.pq.codebooks))
    }
    info(s"PQ reconstruction error: raw ${rawErr.toLong}, residual ${residErr.toLong}")
    assert(residErr < rawErr,
      s"residual codes should reconstruct better: $residErr >= $rawErr")
  }

  test("v25 refined-graph search: deterministic, recall not below the raw-graph path") {
    val q = graft.functions.FakeEmbedder.embed("fast vector search over spark tables")
    val a = SrpBanded.graphSearchRefined(spark, sf, q).collect().map(_.toSeq).toSeq
    val b = SrpBanded.graphSearchRefined(spark, sf, q).collect().map(_.toSeq).toSeq
    assert(a == b, "refined-graph search not deterministic")
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      d / math.sqrt(nx * ny)
    }
    val exact = emb.toSeq.map { case (id, v) => (id, cos(v, q)) }
      .sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    def recallOf(rows: Seq[Seq[Any]]): Double =
      (rows.map(_.head.asInstanceOf[Long]).toSet & exact).size / 10.0
    val raw = SrpBanded.graphSearch(spark, sf, q).collect().map(_.toSeq).toSeq
    val (rRaw, rRef) = (recallOf(raw), recallOf(a))
    info(s"serve recall vs exact top-10: raw graph $rRaw, refined graph $rRef")
    assert(rRef >= rRaw, s"refined graph regressed serve recall: $rRef < $rRaw")
    assert(rRef >= 0.5, s"refined-graph serve recall too low: $rRef")
  }

  test("v26 batch plan: query embeddings ride a shuffle join, never a BroadcastExchange") {
    // the batched path exists for query sets too large for the driver;
    // its contract is that NO stage materializes the query table (with
    // its embeddings) in a broadcast. The seed stage is lazy-exposed
    // for exactly this check, and every hop scores through the same
    // batchScorePairs join.
    val scored = SrpBanded.batchSeedScored(spark, sf, queryMod = 50)
    val bxs = scored.queryExecution.sparkPlan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
    }
    val offending = bxs.filter(_.output.exists(_.name == "q_vec"))
    assert(offending.isEmpty,
      s"query embeddings materialized in a BroadcastExchange:\n${offending.mkString("\n")}")
    val planStr = scored.queryExecution.sparkPlan.toString
    assert(planStr.contains("ShuffledHashJoin"),
      s"expected a shuffle-hash join for the query side:\n${planStr.take(4000)}")
  }

  test("v26 seed budget: no-bind at test SF, binding cut replays the probing-sequence order") {
    // (a) the default budget must NOT bind at the oracle SFs — that is
    // the license for the twin to stay bit-identical. Prove it two
    // ways: the max per-query pool is under budget, and the seed
    // output equals an effectively-unbounded run.
    val probes = SrpBanded.bandedOf(
        Tables.embeddings(spark, sf)
          .filter(col("embedding").isNotNull && size(col("embedding")) === SrpBanded.Dim)
          .filter(col("vec_id") % 50 === 0)
          .select(col("vec_id"), col("embedding")))
      .withColumn("f", explode(typedLit(SrpBanded.probeFlips(2))))
      .select(col("vec_id").as("query_id"), col("band"),
        col("bk").bitwiseXOR(col("f")).as("bk"),
        expr("bit_count(f)").cast("int").as("pr"))
      .groupBy(col("query_id"), col("band"), col("bk"))
      .agg(min(col("pr")).as("pr"))
    val banded = SrpBanded.bandedOf(
        Tables.embeddings(spark, sf).filter(col("embedding").isNotNull &&
          size(col("embedding")) === SrpBanded.Dim)
          .select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("band"), col("bk"))
    val pool = probes.join(banded, Seq("band", "bk"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(min(col("pr")).as("pr"), count(lit(1)).as("cnt"))
    val maxPool = pool.groupBy(col("query_id")).count()
      .agg(max(col("count"))).first().getLong(0)
    assert(maxPool < SrpBanded.SeedBudget,
      s"seed pool $maxPool reaches SeedBudget ${SrpBanded.SeedBudget} at test SF — " +
        "oracle bit-parity license broken; raise the budget")
    val deflt = SrpBanded.batchSeedScored(spark, sf, queryMod = 50)
      .collect().map(_.toSeq).toSet
    val unbounded = SrpBanded.batchSeedScored(spark, sf, queryMod = 50,
      seedBudget = 1 << 20).collect().map(_.toSeq).toSet
    assert(deflt == unbounded, "default seed budget binds at test SF")
    // (b) a BINDING budget keeps exactly the top-B by (flip radius
    // asc, band collisions desc, vec_id) — the window formulation the
    // DuckDB twin replays, computed here independently of TopKPairs
    val B = 3
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("pr") * lit(1000) - col("cnt"), col("vec_id"))
    val expected = pool.withColumn("rs", row_number().over(w))
      .filter(col("rs") <= B)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SrpBanded.batchSeedScored(spark, sf, queryMod = 50, seedBudget = B)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expected,
      s"binding seed cut diverged from the probing-sequence window: " +
        s"got ${got.size} pairs, expected ${expected.size}")
    // (c) the pool-join crossover is PHYSICAL only: the large-batch
    // salted shuffle shape returns bit-identical rows to the
    // small-batch broadcast-probes shape
    assert(SrpBanded.lastSeedJoinShape == "broadcast-probes",
      s"test-scale batch took ${SrpBanded.lastSeedJoinShape}")
    val salted = SrpBanded.batchSeedScored(spark, sf, queryMod = 50,
      probeBroadcastMax = 0L).collect().map(_.toSeq).toSet
    assert(SrpBanded.lastSeedJoinShape == "salted-shj",
      s"forced large-batch path took ${SrpBanded.lastSeedJoinShape}")
    assert(salted == deflt, "salted seed join diverged from broadcast shape")
  }

  test("v26 batched graph search: every query retrieves itself at rank 1, per-query recall holds") {
    val res = SrpBanded.graphSearchBatch(spark, sf, queryMod = 50).collect()
    val byQuery = res.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (qid, rows) =>
      assert(rows.length <= 5)
      val top = rows.minBy(_.getAs[Int]("rk"))
      // a query vector IS a corpus vector: it must find itself first
      assert(top.getAs[Long]("neighbor_id") == qid && top.getAs[Double]("sim") == 1.0,
        s"query $qid rank-1 is ${top.getAs[Long]("neighbor_id")}")
    }
    // per-query recall vs exact top-5 (self included), averaged
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      d / math.sqrt(nx * ny)
    }
    val recalls = byQuery.toSeq.map { case (qid, rows) =>
      val exact = emb.toSeq.map { case (id, v) => (id, cos(emb(qid), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(5).map(_._1).toSet
      (rows.map(_.getAs[Long]("neighbor_id")).toSet & exact).size / 5.0
    }
    val mean = recalls.sum / recalls.size
    info(s"batched graph search mean recall@5 over ${recalls.size} queries: $mean")
    assert(mean >= 0.5, s"batched serve recall too low: $mean")
  }

  test("v27/v28 store-backed serving: batch over stored banding and cold-start serve match in-memory") {
    val q = graft.functions.FakeEmbedder.embed("fast vector search over spark tables")
    val dir = graft.sources.SrpStore.storeFor(spark, sf)
    // v27: batched search over the persisted banding == in-memory
    // batch, via the adaptive source the entry actually wires
    val stored = SrpBanded.graphSearchBatch(spark, sf, queryMod = 50,
      bandedSource = Some(keys =>
        graft.sources.SrpStore.batchBanding(spark, dir, keys)))
    val inMem = SrpBanded.graphSearchBatch(spark, sf, queryMod = 50)
    assert(stored.collect().map(_.toSeq).toSeq == inMem.collect().map(_.toSeq).toSeq,
      "batch over stored banding diverged from in-memory batch")
    // the 40-query batch probes ~all 2048 buckets — the crossover
    // must pick the compact artifact, not 2048 bucket point-reads
    assert(graft.sources.SrpStore.lastBatchBandingSource == "compact",
      s"saturated batch picked ${graft.sources.SrpStore.lastBatchBandingSource}")
    // below saturation the SAME entry point keeps the pruned
    // point-read contract: O(probed buckets) in the file index,
    // never an O(corpus) scan
    val fewKeys = SrpBanded.queryProbeKeys(q, 1)
    graft.sources.SrpStore.batchBanding(spark, dir, fewKeys).count()
    assert(graft.sources.SrpStore.lastBatchBandingSource == "pruned",
      s"sparse probe picked ${graft.sources.SrpStore.lastBatchBandingSource}")
    val seedPlan = graft.sources.SrpStore.lastPrunedBandingPlan
    assert(seedPlan.contains("PartitionFilters") && seedPlan.contains("bk"),
      s"v27 sparse seed read not partition-pruned:\n$seedPlan")
    // v28: seeds from pruned buckets + persisted refined edges == the
    // in-memory refined path
    val edgeDir = graft.sources.EdgeStore.refinedStoreFor(spark, sf)
    val cold = graft.sources.SrpStore.graphSearchCold(spark, dir, edgeDir, q)
    val refined = SrpBanded.graphSearchRefined(spark, sf, q)
    val coldRows = cold.collect().map(_.toSeq).toSeq
    assert(coldRows == refined.collect().map(_.toSeq).toSeq,
      "cold-start serve diverged from the in-memory refined path")
    // the spec corpus fits the driver images, so the default serve
    // seeds and hops locally (zero jobs); forcing the budget to 0
    // must take the pruned distributed reads and return IDENTICAL rows
    assert(graft.sources.SrpStore.lastSeedSource == "local",
      s"seed not served from the bucket image: ${graft.sources.SrpStore.lastSeedSource}")
    assert(graft.sources.EdgeStore.lastHopSource == "local",
      s"hops not served from the edge image: ${graft.sources.EdgeStore.lastHopSource}")
    StoreFixtures.atBudget(0L) {
      graft.sources.EdgeStore.lastEdgePlanThunk = () => ""
      val dist = graft.sources.SrpStore.graphSearchCold(spark, dir, edgeDir, q)
        .collect().map(_.toSeq).toSeq
      assert(graft.sources.SrpStore.lastSeedSource == "pruned")
      assert(graft.sources.EdgeStore.lastHopSource == "pruned")
      assert(dist == coldRows,
        s"pruned serve diverged from the resident one: $dist vs $coldRows")
      // the persisted edge table really is what the hops read — a
      // pruned, SELF-CONTAINED point read: dst embeddings in-row, pb
      // partitions pruned in the file index, no corpus table anywhere
      val hopPlan = graft.sources.EdgeStore.lastEdgePlan
      assert(hopPlan.contains("PartitionFilters") && hopPlan.contains("pb"),
        s"cold hop read not partition-pruned:\n$hopPlan")
      assert(hopPlan.contains("dst_emb") && !hopPlan.contains("embeddings.parquet"),
        s"cold hop read not self-contained:\n$hopPlan")
    }
  }

  test("v24 residual store probe: identical to in-memory v22, scan is partition-pruned") {
    val qText = "fast vector search over spark tables"
    val q = graft.functions.FakeEmbedder.embed(qText)
    val dir = graft.sources.IvfPqStore.residualStoreFor(spark, sf)
    val stored = graft.sources.IvfPqStore.searchResidual(spark, dir,
      Tables.embeddings(spark, sf), "embedding", "vec_id", q, topK = 10, nprobe = 4)
    val inMem = IvfPqResidual.searchSummary(spark, sf, qText)
    assert(stored.collect().map(_.toSeq).toSeq == inMem.collect().map(_.toSeq).toSeq,
      "stored residual probe diverged from the in-memory path")
    // the code scan reads only the probed list partitions
    val plan = stored.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"residual probe not partition-pruned:\n$plan")
  }

  test("v29 batched residual serve: self at rank 1, per-query parity with the stored probe, no query broadcast") {
    import spark.implicits._
    val dir = graft.sources.IvfPqStore.residualStoreFor(spark, sf)
    val rows = graft.sources.IvfPqStore
      .searchResidualBatch(spark, dir, sf, queryMod = 50).collect()
    val byQuery = rows.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.nonEmpty)
    // a query IS a corpus vector: exact-L2 rerank puts it first at 0
    byQuery.foreach { case (qid, rs) =>
      val top = rs.minBy(_.getAs[Int]("rk"))
      assert(top.getAs[Long]("neighbor_id") == qid &&
        top.getAs[Double]("score") == 0.0,
        s"query $qid rank-1 is ${top.getAs[Long]("neighbor_id")}")
    }
    // batch rows for a query == the per-query stored probe (same
    // model, same ADC association, same rerank)
    val emb = Tables.embeddings(spark, sf).filter(col("embedding").isNotNull)
    byQuery.keys.toSeq.sorted.take(2).foreach { qid =>
      val q = emb.filter(col("vec_id") === qid)
        .select(col("embedding")).as[Array[Float]].first()
      val single = graft.sources.IvfPqStore.searchResidual(spark, dir,
          Tables.embeddings(spark, sf), "embedding", "vec_id", q,
          topK = 5, nprobe = 4)
        .collect().map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("score"))).toSeq
      val batchQ = byQuery(qid).sortBy(_.getAs[Int]("rk"))
        .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("score"))).toSeq
      assert(batchQ == single, s"query $qid: batch $batchQ != single $single")
    }
    // the v26 contract holds here too: query embeddings never ride a
    // BroadcastExchange
    val bxs = graft.sources.IvfPqStore
      .searchResidualBatch(spark, dir, sf, queryMod = 50)
      .queryExecution.sparkPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }
    assert(bxs.forall(!_.output.exists(_.name == "q_vec")),
      "query embeddings materialized in a BroadcastExchange")
  }

  test("v30 OPQ permutation: deterministic, reconstructs strictly better than raw PQ, recall not below") {
    val qText = "fast vector search over spark tables"
    val a = OpqIndex.searchSummary(spark, sf, qText).collect()
    val b = OpqIndex.searchSummary(spark, sf, qText).collect()
    assert(a.length == 10 && a.map(_.toSeq).toSeq == b.map(_.toSeq).toSeq)
    // a true permutation with exactly dsub dims per subspace
    val perm = OpqIndex.permCached(spark, sf)
    assert(perm.sorted.toSeq == (0 until 64), "not a permutation of 0..63")
    // the OPQ objective at identical (m, k): balanced subspace energy
    // must reconstruct with strictly lower total squared error
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull)
      .collect().map(r => r.getAs[Long]("vec_id") ->
        r.getAs[scala.collection.Seq[Float]]("embedding").toArray).toMap
    val opq = OpqIndex.fitCached(spark, sf)
    val raw = PqIndex.fitCached(spark, sf)
    val dsub = raw.dsub
    def subErr(v: Array[Long], off: Int, cen: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < cen.length) { val d = v(off + i).toDouble - cen(i); s += d * d; i += 1 }
      s
    }
    def encodeErr(v: Array[Long], books: Array[Array[Array[Double]]]): Double =
      books.indices.map(j => books(j).map(cen => subErr(v, j * dsub, cen)).min).sum
    val (rawErr, opqErr) = emb.values.foldLeft((0.0, 0.0)) { case ((er, eo), v) =>
      val q = v.map(x => math.floor(x.toDouble * 1e6).toLong)
      val qp = Array.tabulate(q.length)(i => q(perm(i)))
      (er + encodeErr(q, raw.codebooks), eo + encodeErr(qp, opq.codebooks))
    }
    info(s"PQ reconstruction error: raw ${rawErr.toLong}, OPQ-permuted ${opqErr.toLong}")
    assert(opqErr < rawErr,
      s"balanced permutation should reconstruct better: $opqErr >= $rawErr")
    // recall@10 vs exact L2, averaged over query texts — the
    // better-codes dividend at the serve layer
    def l2(x: Array[Float], y: Array[Float]): Double = {
      var s = 0.0
      for (i <- x.indices) { val d = x(i).toDouble - y(i).toDouble; s += d * d }
      s
    }
    val texts = Seq("fast vector search over spark tables",
      "insurance claim filed after water damage", "quarterly revenue by region",
      "customer support escalation policy", "neural embedding quantization",
      "streaming window aggregation", "duplicate detection pipeline",
      "late shipment priority orders")
    val (rSum, oSum) = texts.foldLeft((0.0, 0.0)) { case ((rs, os), t) =>
      val q = graft.functions.FakeEmbedder.embed(t)
      val exact = emb.toSeq.map { case (id, v) => (id, l2(v, q)) }
        .sortBy { case (id, s) => (s, id) }.take(10).map(_._1).toSet
      def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
        (rows.map(_.getAs[Long]("vec_id")).toSet & exact).size / 10.0
      (rs + recallOf(PqIndex.searchSummary(spark, sf, t).collect()),
        os + recallOf(OpqIndex.searchSummary(spark, sf, t).collect()))
    }
    val (rawRecall, opqRecall) = (rSum / texts.size, oSum / texts.size)
    info(s"recall@10 vs exact over ${texts.size} queries: raw PQ $rawRecall, OPQ $opqRecall")
    // deterministic corpus + pinned arithmetic → these are fixed
    // numbers (measured 0.5125 vs 0.5875); strictly-above is the
    // point of spending the permutation
    assert(opqRecall > rawRecall,
      s"OPQ recall not strictly above raw PQ: $opqRecall <= $rawRecall")
  }

  test("v23 stored knn-graph build: identical to v18, banded scan prunes the embedding column") {
    val stored = graft.sources.SrpStore.knnGraphStored(spark, sf)
    val live = SrpBanded.knnGraph(spark, sf)
    assert(stored.collect().map(_.toSeq).toSeq == live.collect().map(_.toSeq).toSeq,
      "stored-banding build diverged from the in-memory build")
    // the build must NOT read the stored embedding copies: it scans
    // the compact banding artifact (vec_id, band, bk — 12 B/row),
    // not the 2048 probe-sized bucket dirs
    val scans = stored.queryExecution.sparkPlan.collectLeaves()
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val bandedScans = scans.filter(_.toString.contains("srpstore"))
    assert(bandedScans.nonEmpty, "no scan over the persisted SrpStore banding")
    bandedScans.foreach { f =>
      val readCols = f.requiredSchema.fieldNames.toSet
      assert(!readCols.contains("embedding"),
        s"stored graph build reads the embedding column: $readCols")
    }
  }

  test("q33 blocked global deciles equal the naive global-sort window result") {
    import org.apache.spark.sql.expressions.Window
    // q33 computes exact deciles WITHOUT a global sort (blocked order
    // statistics); this cross-check recomputes them the obvious way —
    // one global row_number window (single reducer, fine at spec
    // scale) — and asserts the full 10-row outputs are identical
    val v = Tables.orders(spark, sf)
      .select(col("o_totalprice").cast("decimal(18,2)").as("p"))
    val n = v.count()
    val thresholds = (1 to 9).map(i => (i * n + 9) / 10)
    val ranked = v.withColumn("rn",
      row_number().over(Window.orderBy(col("p"))))
    val bounds = ranked.filter(col("rn").isin(thresholds: _*))
      .select(col("p").cast("double")).distinct()
      .collect().map(_.getDouble(0)).sorted.toSeq
    val bArr = typedLit(bounds)
    val naive = v
      .select(col("p"),
        (lit(1) + size(filter(bArr, b => col("p").cast("double") > b))).as("decile"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"),
        min(col("p")).cast("double").as("min_price"),
        max(col("p")).cast("double").as("max_price"),
        sum(col("p")).cast("double").as("sum_price"))
      .orderBy(col("decile"))
      .collect().map(_.toSeq).toSeq
    val blocked = graft.operators.CoreQueries.q33GlobalDecile(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(blocked == naive,
      s"blocked deciles diverged from naive global-sort:\n$blocked\nvs\n$naive")
  }

  test("v9 ingest digest is exact on non-ASCII text, astral chars included") {
    import spark.implicits._
    // the digest's `consistent` column compares the portable integer
    // reconstruction against the ACTUAL codegen'd embed_text output
    // (JVM charAt semantics) — true on every row means the UTF-16
    // decomposition replicates the kernel for any text
    val tmp = java.nio.file.Files.createTempDirectory("nonascii").toString
    Seq(
      (1L, "Grüße aus Zürich — schön!"),
      (2L, "ψυχή καὶ σῶμα"),
      (3L, "emoji stress 😀🚀 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 test"), // astral: surrogate pairs in the JVM
      (4L, "plain ascii doc")
    ).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tmp/documents.parquet")
    val rows = graft.sources.Ingest.embedIngestDigest(spark, tmp).collect()
    assert(rows.length == 4)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("consistent"),
        s"doc ${r.getAs[Long]("doc_id")}: digest reconstruction diverged from embed_text")
    }
    // astral doc really exercises the surrogate path: its unit count
    // exceeds its codepoint count
    assert(rows.map(_.getAs[Long]("sq_norm")).forall(_ > 0))
  }

  test("engine conf contract: default-conf session is raised onto the hash path; a pinned session is warned, not overridden") {
    // an external embedder's session at Spark's own default (128):
    // ensureScaleConfs raises it in place — the caller never chose it
    val s2 = spark.newSession()
    s2.conf.set(SparkEntry.HashAggFallbackKey, "128")
    SparkEntry.queries("q1_pricing_summary")(s2, sf)
    assert(SparkEntry.lastConfContractAction == "raised:128",
      s"default-conf session took '${SparkEntry.lastConfContractAction}'")
    assert(s2.conf.get(SparkEntry.HashAggFallbackKey).toLong ==
      SparkEntry.HashAggFallbackMin)
    // idempotent: the raised session now satisfies the contract
    SparkEntry.queries("q1_pricing_summary")(s2, sf)
    assert(SparkEntry.lastConfContractAction == "ok")
    // a session where the user PINNED a lower value: warned, respected
    val s3 = spark.newSession()
    s3.conf.set(SparkEntry.HashAggFallbackKey, "64")
    SparkEntry.queries("q1_pricing_summary")(s3, sf)
    assert(SparkEntry.lastConfContractAction == "warned:64",
      s"pinned session took '${SparkEntry.lastConfContractAction}'")
    assert(s3.conf.get(SparkEntry.HashAggFallbackKey).toLong == 64L)
  }

  test("scaled LSH keyspace: width policy, wide-store parity, wide batch serve") {
    import graft.sources.SrpStore
    // (a) the policy: pinned floor at small corpora, keyspace ∝ N
    // (expected bucket occupancy N/2^rpb capped at TargetBucketOccupancy)
    assert(SrpBanded.rowsPerBandFor(100L) == SrpBanded.RowsPerBand)
    assert(SrpBanded.rowsPerBandFor(2000L) == SrpBanded.RowsPerBand)
    assert(SrpBanded.rowsPerBandFor(20000L) == 9)
    assert(SrpBanded.rowsPerBandFor(200000L) == 12)
    assert(SrpBanded.rowsPerBandFor(2000000L) == 15)
    // (b) wide keys live in the widened keyspace; the banding is still
    // one row per (vector, band)
    val rpb = 10
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === SrpBanded.Dim)
      .select(col("vec_id"), col("embedding"))
    val nEmb = emb.count()
    val wide = SrpBanded.bandedOf(emb, SrpBanded.Dim, rpb)
      .select(col("vec_id"), col("band"), col("bk"))
    assert(wide.count() == nEmb * SrpBanded.Bands)
    val maxBk = wide.agg(max(col("bk"))).first().getLong(0)
    assert(maxBk < (1L << rpb), s"wide key $maxBk outside 2^$rpb keyspace")
    assert(maxBk >= (1L << SrpBanded.RowsPerBand),
      "no key used the widened bits — width parameter not reaching the kernel")
    // (c) a wide store round-trips: grouped layout (≤ 2048 partition
    // dirs at ANY width), recorded width, pruned read == in-memory
    val dir = java.nio.file.Files.createTempDirectory("srpwide").toString
    SrpStore.write(spark, sf, dir, rpb)
    assert(SrpStore.storeRpb(spark, dir) == rpb)
    val bandDirs = new java.io.File(s"$dir/banded").listFiles()
      .filter(_.getName.startsWith("band=")).toSeq
    val groupDirs = bandDirs.flatMap(_.listFiles().toSeq)
      .filter(_.getName.startsWith("bg="))
    assert(groupDirs.nonEmpty &&
      groupDirs.size <= (SrpBanded.Bands << SrpBanded.RowsPerBand),
      s"wide layout has ${groupDirs.size} dirs — group partitioning not applied")
    val qv = graft.functions.FakeEmbedder.embed("fast vector search over spark tables")
    val keys = SrpBanded.queryProbeKeys(qv, 1, rpb)
    val got = SrpStore.prunedBanding(spark, dir, keys)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val keySet = keys.toSet
    val want = wide.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .filter { case (_, b, bk) => keySet((b, bk)) }.toSet
    assert(got == want, "wide-store pruned read diverged from in-memory banding")
    assert(SrpStore.lastPrunedBandingPlan.contains("PartitionFilters: [") &&
      SrpStore.lastPrunedBandingPlan.contains("bg"),
      "wide pruned read is not statically pruning on the bucket group")
    // (d) the wide batched serve: in-memory and stored sources agree
    // bit-for-bit, the salted pool-join shape agrees with broadcast,
    // and every query still retrieves itself at rank 1
    val mem = SrpBanded.graphSearchBatch(spark, sf, queryMod = 50,
      rowsPerBand = rpb).collect()
    val stored = SrpBanded.graphSearchBatch(spark, sf, queryMod = 50,
      bandedSource = Some(ks => SrpStore.batchBanding(spark, dir, ks)),
      rowsPerBand = rpb).collect()
    assert(mem.map(_.toSeq).toSeq == stored.map(_.toSeq).toSeq,
      "wide stored serve diverged from in-memory")
    mem.groupBy(_.getAs[Long]("query_id")).foreach { case (qid, rows) =>
      val top = rows.minBy(_.getAs[Int]("rk"))
      assert(top.getAs[Long]("neighbor_id") == qid,
        s"wide serve: query $qid rank-1 is ${top.getAs[Long]("neighbor_id")}")
    }
    val seedB = SrpBanded.batchSeedScored(spark, sf, queryMod = 50,
      rowsPerBand = rpb).collect().map(_.toSeq).toSet
    assert(SrpBanded.lastSeedJoinShape == "broadcast-probes")
    val seedS = SrpBanded.batchSeedScored(spark, sf, queryMod = 50,
      probeBroadcastMax = 0L, rowsPerBand = rpb).collect().map(_.toSeq).toSet
    assert(SrpBanded.lastSeedJoinShape == "salted-shj")
    assert(seedB == seedS, "wide salted seed join diverged from broadcast shape")
  }

  test("p1/p2 curation pipeline: disposition partitions the corpus, keepers are live, funnel sums agree") {
    import spark.implicits._
    val disp = Pipeline.curationPipeline(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
    // every document gets exactly one disposition row
    assert(disp.length == docs.count())
    assert(disp.map(_.getAs[Long]("doc_id")).distinct.length == disp.length)
    val byStage = disp.groupBy(_.getAs[String]("stage"))
    assert(byStage.keySet.subsetOf(Set("quality", "exact_dup", "near_dup", "kept")))
    // the test corpus exercises the gate and the near-dup stage
    assert(byStage.getOrElse("quality", Array.empty).nonEmpty, "no quality-dropped docs")
    assert(byStage.getOrElse("near_dup", Array.empty).nonEmpty, "no near-dup-dropped docs")
    assert(byStage.getOrElse("kept", Array.empty).nonEmpty, "empty final corpus")
    // keeper contract per stage: quality rows have no keeper; kept rows
    // keep themselves; a dup's keeper is a surviving document that was
    // not itself dropped at an earlier-or-same stage
    val stageOf = disp.map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("stage")).toMap
    disp.foreach { r =>
      val (id, st) = (r.getAs[Long]("doc_id"), r.getAs[String]("stage"))
      st match {
        case "quality" => assert(r.isNullAt(r.fieldIndex("keeper_id")))
        case "kept"    => assert(r.getAs[Long]("keeper_id") == id)
        case "exact_dup" =>
          val k = r.getAs[Long]("keeper_id")
          assert(k < id, s"exact keeper $k is not the min doc_id of $id's group")
          assert(Set("kept", "near_dup")(stageOf(k)),
            s"exact keeper $k of $id was dropped at stage ${stageOf(k)}")
        case "near_dup" =>
          val k = r.getAs[Long]("keeper_id")
          assert(k != id && stageOf(k) == "kept",
            s"near-dup keeper $k of $id has stage ${stageOf(k)}")
      }
    }
    // a near-dup loser never out-lengths its canonical (keep-the-longest
    // policy, doc_id tiebreak)
    val nChars = docs.select($"doc_id", $"n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    byStage.getOrElse("near_dup", Array.empty).foreach { r =>
      val (id, k) = (r.getAs[Long]("doc_id"), r.getAs[Long]("keeper_id"))
      assert(nChars(k) > nChars(id) || (nChars(k) == nChars(id) && k < id),
        s"canonical $k does not dominate member $id")
    }
    // p2 is exactly p1's funnel, re-counted per (lang, source)
    val sums = Pipeline.curationSummary(spark, sf)
      .agg(sum($"docs_in"), sum($"after_quality"), sum($"after_exact"),
        sum($"docs_kept"), sum($"kept_tokens")).first()
    assert(sums.getLong(0) == disp.length)
    assert(sums.getLong(1) == disp.count(_.getAs[String]("stage") != "quality"))
    assert(sums.getLong(2) == disp.count(r =>
      !Set("quality", "exact_dup")(r.getAs[String]("stage"))))
    assert(sums.getLong(3) == byStage("kept").length)
    assert(sums.getLong(4) > 0L)
  }

  test("SigStore incremental near-dup equals the batch operator restricted to batch pairs") {
    import graft.sources.SigStore
    // the contract the store exists for: serving a new batch against
    // the persisted corpus signatures finds EXACTLY the pairs the
    // whole-corpus d2 run finds that touch the batch — no recall lost
    // to the store layout, the cap, or the pruned read
    val inc = SigStore.incrementalNearDupEntry(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashLsh(spark, sf)
      .filter(col("id_a") % SigStore.BatchMod === 0 ||
        col("id_b") % SigStore.BatchMod === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc == full, s"incremental=${inc.size} batch-restricted=${full.size}")
    assert(inc.nonEmpty)
  }

  test("SigStore probe read: pruned InSet point read, joined crossover, identical pairs") {
    // the images, the pruned point reads they replace (budget 0) and the
    // joined plan serve the same pairs
    import graft.sources.SigStore
    val dir = SigStore.storeFor(spark, sf)
    val batch = Tables.documents(spark, sf)
      .filter(col("doc_id") % SigStore.BatchMod === 0)
      .select(col("doc_id"), col("text"))
    // a stamp's first serve may take the pruned reads, the second the images
    SigStore.incrementalNearDup(spark, dir, batch).collect()
    val resident = SigStore.incrementalNearDup(spark, dir, batch).collect().map(_.toSeq).toSeq
    assert(SigStore.lastProbeSource == "resident" && SigStore.lastTextSource == "resident")
    StoreFixtures.atBudget(0L) {
      val pruned = SigStore.incrementalNearDup(spark, dir, batch)
        .collect().map(_.toSeq).toSeq
      assert(pruned == resident, "the pruned reads served other rows than the images")
      assert(SigStore.lastProbeSource == "pruned")
      // static partition pruning on (band, bg) in the file index, and
      // the key predicate as membership nodes — at a 1000×-scale probe
      // set an OR tree would blow janino's method limit and fall out of
      // codegen (docs/PERF.md r11); InSet is constant-size at any count
      assert(SigStore.lastPrunedPlan.contains("PartitionFilters: [") &&
        SigStore.lastPrunedPlan.contains("bg"),
        s"no (band, bg) partition pruning in:\n${SigStore.lastPrunedPlan.take(800)}")
      assert(!SigStore.lastPrunedPlan.contains("band_key = "),
        "probed keys spelled as per-key equalities, not a membership node")
      // the verify-text fetch is ALSO a pruned point read — the text
      // column is the heaviest in the store and must never ride an
      // O(corpus) scan for a batch-sized candidate set
      assert(SigStore.lastTextSource == "pruned")
      assert(SigStore.lastDocsPlan.contains("PartitionFilters: [") &&
        SigStore.lastDocsPlan.contains("db"),
        s"no (ver, db) partition pruning in:\n${SigStore.lastDocsPlan.take(800)}")
    }
    val joined = SigStore.incrementalNearDup(spark, dir, batch, probeCollectMax = 0)
      .collect().map(_.toSeq).toSet
    assert(SigStore.lastProbeSource == "joined")
    assert(SigStore.lastTextSource == "joined")
    assert(resident.toSet == joined, "crossover changed the served pair set")
    // an empty batch (no docs, or all shorter than the shingle) must
    // serve an empty result, not throw on an empty probe predicate
    import spark.implicits._
    val empty = SigStore.incrementalNearDup(spark, dir,
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(empty.count() == 0 && SigStore.lastProbeSource == "empty")
  }

  test("SigStore upsert: delta-only append, crash-invisible uncommitted version, union serve") {
    import spark.implicits._
    import graft.sources.SigStore
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 3 === 1)
    val delta = docs.filter(col("doc_id") % 3 === 2)
    val dir = java.nio.file.Files.createTempDirectory("sigstore_up").toString
    SigStore.write(spark, base, dir)
    def files(sub: String): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/$sub")).map(_.getPath).toSet
    }
    val before = files("sigs")
    SigStore.upsert(spark, dir, delta)
    // rewrite minimality: the base version's files are untouched —
    // the upsert cost is O(batch), never O(corpus)
    assert(files("sigs").intersect(before) == before, "upsert rewrote base files")
    assert((files("sigs") -- before).forall(_.contains("__ver=1")),
      "upsert wrote outside its delta version")
    // union serve: the committed store's signature rows equal a fresh
    // banding of base ∪ delta
    val got = SigStore.sigFrame(spark, dir)
      .select($"doc_id", $"band", $"band_key")
      .collect().map(_.toSeq).toSet
    val want = SigStore.bandedSigs(base.unionByName(delta))
      .collect().map(_.toSeq).toSet
    assert(got == want)
    // crash contract: a version with data but no commit marker is
    // invisible to every reader; re-running the upsert then succeeds
    val more = docs.filter(col("doc_id") % 3 === 0)
    val vDir = new java.io.File(s"$dir/sigs/__ver=2")
    SigStore.bandedSigs(more)
      .withColumn("bg", lit(0L))
      .write.partitionBy("band", "bg").parquet(vDir.getPath)
    new java.io.File(s"$dir/docs/__ver=2").mkdirs()
    assert(SigStore.sigFrame(spark, dir)
      .select($"doc_id", $"band", $"band_key")
      .collect().map(_.toSeq).toSet == want,
      "uncommitted version leaked into the served signature set")
    SigStore.upsert(spark, dir, more)
    assert(SigStore.sigFrame(spark, dir).count() ==
      SigStore.bandedSigs(docs).count())
  }

  test("m8 frame dedup: exact-duplicate videos overlap 1.0, ratios and counts bounded") {
    import spark.implicits._
    val out = Multimodal.frameDedup(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (shared, ov) = (r.getLong(2), r.getDouble(3))
      assert(shared >= 2 && ov > 0.0 && ov <= 1.0,
        s"row ${r.mkString(",")} out of contract")
    }
    val got = out.map(r =>
      (r.getLong(0), r.getLong(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    // full driver-side replay from the same frame expression: the
    // emitted pair set, shared counts and Jaccard ratios must match
    // the naive computation exactly (the DuckDB oracle replays the
    // same semantics cross-engine at the gate; this pins it
    // engine-side at the spec SF, capping included)
    val frames = Tables.documents(spark, sf).filter(length($"text") >= 1)
      .select($"doc_id", explode(sequence(lit(0),
        least(lit(Multimodal.FrameMax - 1),
          ((length($"text") - 1) / Multimodal.FrameChunk)).cast("int"))).as("fi"), $"text")
      .select($"doc_id",
        md5(expr(s"substring(text, fi * ${Multimodal.FrameChunk} + 1, ${Multimodal.FrameChunk})")).as("fk"))
      .distinct().collect().map(r => (r.getLong(0), r.getString(1)))
    val bucketN = frames.groupBy(_._2).map { case (k, v) => k -> v.length }
    val byDoc = frames.groupBy(_._1).map { case (d, v) => d -> v.map(_._2).toSet }
    val surviving = frames.filter(f => bucketN(f._2) <= 64)
    val expected = surviving.groupBy(_._2).values.toSeq
      .flatMap { bucket =>
        val ids = bucket.map(_._1).sorted
        for (i <- ids.indices; j <- (i + 1) until ids.size) yield (ids(i), ids(j))
      }
      .groupBy(identity).map { case (pair, hits) => pair -> hits.size.toLong }
      .filter(_._2 >= 2)
      .map { case ((a, b), shared) =>
        val union = byDoc(a).size + byDoc(b).size - shared
        (a, b) -> (shared, BigDecimal(shared.toDouble / union)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    assert(got.keySet == expected.keySet,
      s"pair sets differ: missing=${(expected.keySet -- got.keySet).take(3)} " +
        s"extra=${(got.keySet -- expected.keySet).take(3)}")
    expected.foreach { case (k, want) =>
      assert(got(k) == want, s"pair $k: got ${got(k)}, want $want")
    }
    // the corpus must exercise partial overlap (0 < ov < 1); the cap
    // branch is covered by the replay above whenever a bucket crosses
    // 64 (none does at this SF — the gate oracle replays it at sf0.01)
    assert(out.exists(r => r.getDouble(3) < 1.0))
  }

  test("SigStore compaction: version chain folds to one committed copy, readers unchanged") {
    import spark.implicits._
    import graft.sources.{SigStore, Versioned}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("sigstore_cp").toString
    SigStore.write(spark, docs.filter($"doc_id" % 3 === 1), dir)
    SigStore.upsert(spark, dir, docs.filter($"doc_id" % 3 === 2))
    SigStore.upsert(spark, dir, docs.filter($"doc_id" % 3 === 0))
    val sigsBefore = SigStore.sigFrame(spark, dir)
      .select($"doc_id", $"band", $"band_key").collect().map(_.toSeq).toSet
    val docsBefore = SigStore.docsFrame(spark, dir).count()
    SigStore.compact(spark, dir)
    assert(Versioned.live(spark, SigStore.chain(dir)).size == 1, "chain not folded")
    assert(SigStore.sigFrame(spark, dir)
      .select($"doc_id", $"band", $"band_key").collect().map(_.toSeq).toSet
      == sigsBefore, "compaction changed the signature set")
    assert(SigStore.docsFrame(spark, dir).count() == docsBefore)
    // old versions GC'd: exactly one __ver dir remains per artifact
    Seq("sigs", "docs").foreach { sub =>
      val vers = new java.io.File(s"$dir/$sub").listFiles()
        .filter(_.getName.startsWith("__ver=")).map(_.getName).toSeq
      assert(vers.size == 1, s"$sub left ${vers.mkString(",")}")
    }
  }

  test("SigStore.write onto an existing store replaces its chain and layout: only the new docs serve") {
    import graft.sources.{SigStore, Versioned}
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val old = docs.filter(col("doc_id") % 3 =!= 0)
    val fresh = docs.filter(col("doc_id") % 3 === 0)
    assert(SigStore.groupsFor(old.count()) != SigStore.groupsFor(fresh.count()),
      "the rewrite must change the group count")
    val dir = java.nio.file.Files.createTempDirectory("sigstore_rw").toString
    SigStore.write(spark, old, dir)
    SigStore.upsert(spark, dir, old.filter(col("doc_id") < 100).select(
      (col("doc_id") + 100000).as("doc_id"), col("text")))
    SigStore.write(spark, fresh, dir)
    // one chain, one layout marker: the old delta and group count are gone
    assert(Versioned.live(spark, SigStore.chain(dir)) == Seq(0))
    val metas = new java.io.File(s"$dir/_meta").listFiles().map(_.getName).toSeq
    assert(metas == Seq(s"groups=${SigStore.groupsFor(fresh.count())}"), s"layout markers: $metas")
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    val want = ids(fresh)
    assert(ids(SigStore.sigFrame(spark, dir)) == want, "old signatures still served")
    assert(ids(SigStore.docsFrame(spark, dir)) == want, "old texts still served")
    // the serve equals one against a store written fresh from the new docs
    val clean = java.nio.file.Files.createTempDirectory("sigstore_rw_ref").toString
    SigStore.write(spark, fresh, clean)
    val batch = docs.filter(col("doc_id") % 3 === 1)
    def pairs(d: String) = SigStore.incrementalNearDup(spark, d, batch)
      .collect().map(_.toSeq).toSeq
    assert(pairs(dir) == pairs(clean), "rewritten store serves differently from a fresh one")
  }

  /** One versioned store as the chain specs drive it: `build` writes
    * version 0 plus two deltas into a fresh dir, `view` is every row a
    * reader resolves (sorted strings, so a doubled row shows), `fold`
    * is the store's compaction, `verDirs` are the (artifact dir,
    * name prefix) pairs its versions' data dirs live under, and `pb`
    * is a pb store's layout. */
  private case class ChainCase(name: String, build: String => Unit,
      view: String => Seq[String], fold: String => Unit,
      chain: String => graft.sources.Versioned.Chain,
      verDirs: Seq[(String, String)], pb: Option[PbLayout] = None)

  /** A pb store as the chain specs check its layout: the live bucket
    * count, the resolved rows with their `pb` column, and the id
    * column `pb` hashes. */
  private case class PbLayout(buckets: String => Int,
      rows: String => org.apache.spark.sql.DataFrame, id: String)

  private def rowsOf(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** every resolved row of a pb store sits in bucket pmod(id, n) for
    * the live count n — a write that hashed under one count and
    * pinned another fails here */
  private def assertPbOfId(c: ChainCase, dir: String): Unit = c.pb.foreach { l =>
    val n = l.buckets(dir)
    val stray = l.rows(dir).filter(col("pb") =!= pmod(col(l.id), lit(n.toLong))).count()
    assert(stray == 0, s"${c.name}: $stray rows outside pmod(${l.id}, $n)")
  }

  /** Graph-store delta inputs: two [[StoreFixtures.layerTwins]], the
    * post-ingest corpus holding them, and an SRP store that has
    * absorbed them. */
  private lazy val vecUpdates: (Seq[(Long, Array[Float])], String, String) = {
    import spark.implicits._
    val (news, d2) = StoreFixtures.layerTwins(spark, sf, 2, "chain")
    val srp = java.nio.file.Files.createTempDirectory("chain_srp").toString
    graft.sources.SrpStore.write(spark, sf, srp)
    graft.sources.SrpStore.upsert(spark, srp, news.toDF("vec_id", "embedding"))
    (news, d2, srp)
  }

  private def vecDelta(i: Int): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq(vecUpdates._1(i)).toDF("vec_id", "embedding")
  }

  private lazy val chainCases: Seq[ChainCase] = {
    import graft.sources._
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    Seq(
      ChainCase("SigStore",
        dir => {
          SigStore.write(spark, docs.filter(col("doc_id") % 3 === 1), dir)
          SigStore.upsert(spark, dir, docs.filter(col("doc_id") % 3 === 2))
          SigStore.upsert(spark, dir, docs.filter(col("doc_id") % 3 === 0))
        },
        dir => rowsOf(SigStore.sigFrame(spark, dir)) ++ rowsOf(SigStore.docsFrame(spark, dir)),
        SigStore.compact(spark, _), SigStore.chain,
        Seq("sigs" -> "__ver=", "docs" -> "__ver=")),
      ChainCase("CodeStore",
        dir => {
          CodeStore.write(spark, sf, dir)
          CodeStore.upsert(spark, dir, vecDelta(0))
          CodeStore.upsert(spark, dir, vecDelta(1))
        },
        dir => rowsOf(CodeStore.resolvedFrame(spark, dir)),
        CodeStore.compact(spark, _), CodeStore.chain,
        Seq("codes/data" -> "__ver=", "codes/layout" -> "v"),
        Some(PbLayout(CodeStore.buckets(spark, _), CodeStore.resolvedFrame(spark, _), "vec_id"))),
      ChainCase("EdgeStore",
        dir => {
          EdgeStore.write(spark, SrpBanded.materializedRefinedGraph(spark, sf), dir)
          EdgeStore.upsert(spark, dir, vecUpdates._2, vecUpdates._3, vecDelta(0))
          EdgeStore.upsert(spark, dir, vecUpdates._2, vecUpdates._3, vecDelta(1))
        },
        dir => rowsOf(EdgeStore.read(spark, dir)),
        EdgeStore.compact(spark, _), EdgeStore.chain,
        Seq("edges/data" -> "__ver=", "edges/layout" -> "v"),
        Some(PbLayout(EdgeStore.buckets(spark, _), EdgeStore.resolvedFrame(spark, _), "src"))),
      ChainCase("HnswStore",
        dir => {
          HnswStore.write(spark, sf, dir)
          HnswStore.upsert(spark, dir, vecUpdates._2, vecUpdates._3, vecDelta(0))
          HnswStore.upsert(spark, dir, vecUpdates._2, vecUpdates._3, vecDelta(1))
        },
        dir => rowsOf(HnswStore.layersFrame(spark, dir)) :+
          HnswStore.storedEntry(spark, dir)._1.toString,
        HnswStore.compact(spark, _), HnswStore.chain,
        Seq("layers/data" -> "__ver=", "entry" -> "v", "layers/layout" -> "v"),
        Some(PbLayout(HnswStore.layerBuckets(spark, _), HnswStore.layersFrame(spark, _), "src"))),
      ChainCase("SrpStore banding",
        dir => {
          SrpStore.write(spark, sf, dir)
          SrpStore.upsert(spark, dir, vecDelta(0))
          SrpStore.upsert(spark, dir, vecDelta(1))
        },
        dir => rowsOf(SrpStore.bandingFrame(spark, dir)),
        SrpStore.compactBanding(spark, _), SrpStore.chain,
        Seq("banding/data" -> "__ver=")))
  }

  private def markerNames(c: graft.sources.Versioned.Chain): Set[String] =
    Option(new java.io.File(s"${c.root}/_commits").listFiles()).toSeq.flatten
      .map(_.getName).filterNot(_.startsWith(".")).toSet

  private def verDirNames(dir: String, sub: String, prefix: String): Seq[String] =
    new java.io.File(s"$dir/$sub").listFiles().map(_.getName)
      .filter(_.startsWith(prefix)).sorted.toSeq

  Seq("SigStore", "CodeStore", "EdgeStore", "HnswStore", "SrpStore banding").foreach { name =>
    test(s"$name compact crash window: fold marker atomically supersedes old versions, re-run completes GC") {
      import graft.sources.Versioned
      val c = chainCases.find(_.name == name).get
      val dir = java.nio.file.Files.createTempDirectory("chain_cw").toString
      c.build(dir)
      assertPbOfId(c, dir)
      val before = c.view(dir)
      // freeze the crash window: fold published, superseded deletes not
      // yet landed — the state where old ∪ fold would double every
      // folded row, and where deleting markers before data (the order
      // four stores once used) orphans dirs no later GC finds
      Versioned.gcAfterPublish = false
      try c.fold(dir)
      finally Versioned.gcAfterPublish = true
      val marks = markerNames(c.chain(dir))
      assert(marks == Set("v0", "v1", "v2", "c3"), s"crash window not frozen: $marks")
      c.verDirs.foreach { case (sub, prefix) =>
        assert(verDirNames(dir, sub, prefix).contains(s"${prefix}0"), s"$sub: old data gone early")
      }
      // the fold marker alone must flip readers to the fold — versions
      // below it are invisible even though their markers/data remain
      assert(Versioned.live(spark, c.chain(dir)) == Seq(3))
      assert(c.view(dir) == before, "crash window doubled, lost or changed rows")
      assertPbOfId(c, dir)
      // any later compact (the crash re-run) reclaims the stale versions
      c.fold(dir)
      val marksAfter = markerNames(c.chain(dir))
      assert(marksAfter == Set("c3"), s"GC re-run left $marksAfter")
      c.verDirs.foreach { case (sub, prefix) =>
        val vers = verDirNames(dir, sub, prefix)
        assert(vers == Seq(s"${prefix}3"), s"$sub left ${vers.mkString(",")}")
      }
      assert(c.view(dir) == before, "GC re-run changed rows")
      assertPbOfId(c, dir)
    }
  }

  Seq("CodeStore", "EdgeStore", "HnswStore").foreach { name =>
    test(s"$name fold crash before its marker: the old pb count stays served, the re-run re-sizes") {
      import graft.sources.Versioned
      val c = chainCases.find(_.name == name).get
      val l = c.pb.get
      val dir = java.nio.file.Files.createTempDirectory("chain_layout").toString
      // a base at the cap; the spec corpus itself sizes to one bucket
      StoreFixtures.atCap(c.build(dir))
      val cap = l.buckets(dir)
      assert(cap > 1, s"fixture store has $cap buckets")
      assertPbOfId(c, dir)
      val before = c.view(dir)
      // a re-sized fold moves rows to other buckets and changes nothing
      // else: the pb store's rows without pb, and the rest of the view
      // (HNSW's entry)
      def sansPb(): (Seq[String], Seq[String]) =
        (rowsOf(l.rows(dir).drop("pb")), c.view(dir).diff(rowsOf(l.rows(dir))))
      val beforeSansPb = sansPb()
      // the crash: a fold whose data and layout landed but whose c3
      // marker did not — run it with GC held back, then drop c3
      Versioned.gcAfterPublish = false
      try c.fold(dir)
      finally Versioned.gcAfterPublish = true
      assert(new java.io.File(s"${c.chain(dir).root}/_commits/c3").delete())
      Tables.invalidate(dir)
      assert(new java.io.File(s"${c.chain(dir).root}/layout/v3").isDirectory,
        "the torn fold pinned no layout")
      assert(Versioned.live(spark, c.chain(dir)) == Seq(0, 1, 2))
      assert(l.buckets(dir) == cap, "a torn fold's count reached readers")
      assert(c.view(dir) == before, "a torn fold changed the rows")
      assertPbOfId(c, dir)
      // the re-run clears the torn version and publishes a re-sized fold
      c.fold(dir)
      assert(Versioned.live(spark, c.chain(dir)) == Seq(3))
      assert(l.buckets(dir) == 1, s"the fold kept ${l.buckets(dir)} buckets")
      assertPbOfId(c, dir)
      assert(sansPb() == beforeSansPb, "the re-sized fold changed the rows")
    }
  }

  Seq("SigStore", "CodeStore", "EdgeStore", "HnswStore", "SrpStore banding").foreach { name =>
    test(s"$name reads a store with v<N> markers only (no fold marker) as before") {
      import graft.sources.Versioned
      val c = chainCases.find(_.name == name).get
      val dir = java.nio.file.Files.createTempDirectory("chain_legacy").toString
      c.build(dir)
      // deltas publish v<N> exactly as before folds had their own marker
      assert(markerNames(c.chain(dir)) == Set("v0", "v1", "v2"))
      assert(Versioned.live(spark, c.chain(dir)) == Seq(0, 1, 2))
      assertPbOfId(c, dir)
      val deltas = c.view(dir)
      c.fold(dir)
      assert(c.view(dir) == deltas, "fold changed the resolved rows")
      assertPbOfId(c, dir)
      // a compaction used to publish its fold as a plain v<N> after
      // deleting the old markers: write that marker state by hand
      val md = new java.io.File(s"${c.chain(dir).root}/_commits")
      assert(new java.io.File(md, "c3").renameTo(new java.io.File(md, "v3")))
      Tables.invalidate(dir)
      assert(Versioned.live(spark, c.chain(dir)) == Seq(3))
      assert(c.view(dir) == deltas, "a v<N>-only store reads differently")
      assertPbOfId(c, dir)
    }
  }

  test("SigProbeStream: micro-batched ingest dedup equals the one-shot incremental serve") {
    import spark.implicits._
    import graft.sources.SigStore
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val dir = java.nio.file.Files.createTempDirectory("sigstore_st").toString
    SigStore.write(spark, docs.filter($"doc_id" % 3 =!= 0), dir)
    // the d13 batch arrives as TWO micro-batches (file-per-trigger);
    // each probes the store and is then upserted, so cross-batch
    // pairs surface via the later batch's probe — exactly once
    val arrivals = docs.filter($"doc_id" % 3 === 0)
    val streamDir = java.nio.file.Files.createTempDirectory("sig_stream").toString
    arrivals.filter($"doc_id" % 2 === 0).toJSON.coalesce(1)
      .write.mode("overwrite").text(s"$streamDir/f0")
    arrivals.filter($"doc_id" % 2 === 1).toJSON.coalesce(1)
      .write.mode("append").text(s"$streamDir/f0")
    val got = graft.streaming.SigProbeStream
      .runOnce(spark, s"$streamDir/f0", dir, upsertEach = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val oneShot = SigStore.incrementalNearDupEntry(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ⊇ always (bucket occupancy only grows — see the class doc);
    // equality unless a bucket crossed the cap mid-stream, which this
    // corpus does not do
    assert(got == oneShot, s"stream=${got.size} one-shot=${oneShot.size} " +
      s"missing=${(oneShot -- got).take(3)} extra=${(got -- oneShot).take(3)}")
    // the upserts really landed: the store now serves the full corpus
    assert(SigStore.docsFrame(spark, dir).count() == docs.count())
  }

  test("d3 packed majority counters equal the per-bit ±1 sums (r17 internals change)") {
    // simhashPairs now aggregates 30 dual-32-bit-lane one-counters
    // instead of 60 ±1 sums; the claimed invariant is
    // sum(±1) > 0 ⟺ 2·count_ones > n. Recompute every doc's simhash
    // the ORIGINAL way and compare against the operator's internal
    // value via a planted pair that must agree on hamming — plus a
    // direct per-doc check of the packed arithmetic.
    val bits = 60
    val tok = Tables.documents(spark, sf)
      .select(col("doc_id"),
        explode(array_distinct(split(col("text"), " "))).as("t"))
      .select(col("doc_id"),
        expr("cast(conv(substr(md5(t), 1, 15), 16, 10) as bigint)").as("h"))
    // original formulation: 60 ±1 sums
    val oldSums = (0 until bits).map(b =>
      sum(when(expr(s"shiftright(h, $b) & 1") === 1, 1).otherwise(-1)).as(s"s$b"))
    val oldSh = tok.groupBy(col("doc_id")).agg(oldSums.head, oldSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map(b => when(col(s"s$b") > 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // packed formulation, exactly as the operator aggregates
    val lanes = bits / 2
    val newSums = (0 until lanes).map(j =>
      sum(expr(s"(shiftright(h, $j) & 1) | shiftleft(shiftright(h, ${j + lanes}) & 1, 32)"))
        .as(s"s$j")) :+ count(lit(1)).as("n")
    val newSh = tok.groupBy(col("doc_id")).agg(newSums.head, newSums.tail: _*)
      .select(col("doc_id"),
        (0 until bits).map { b =>
          val ones =
            if (b < lanes) col(s"s$b").bitwiseAND(lit(0xFFFFFFFFL))
            else shiftrightunsigned(col(s"s${b - lanes}"), 32)
          when(ones * 2 > col("n"), lit(1L << b)).otherwise(lit(0L))
        }.reduce(_ + _).as("sh"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(oldSh.nonEmpty && oldSh == newSh,
      s"packed simhash diverged on ${oldSh.count { case (k, v) => newSh.get(k) != Some(v) }} docs")
  }

  test("EdgeStore.read hands a stable frame per (session, dir) — identity-keyed memos must hit (r17)") {
    import graft.sources.EdgeStore
    val dir = EdgeStore.refinedStoreFor(spark, sf)
    val a = EdgeStore.read(spark, dir)
    val b = EdgeStore.read(spark, dir)
    assert(a eq b,
      "EdgeStore.read returned distinct frames — the broadcast count " +
        "memo (identity-keyed) would re-count the store every serve")
  }
}
