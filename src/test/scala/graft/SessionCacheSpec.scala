package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.operators.SrpBanded
import graft.sources.{CodeStore, FilteredServe, HnswStore, SigStore, SrpStore, Versioned}

/** [[SessionCache]]'s contract: the one invalidation rule, access-
  * ordered overflow, session scoping, identity keys, the registry
  * that lets [[Tables.invalidate]] reach every memo, one build per
  * key, and versioned-store memos that follow the live version stamp
  * across publishes and rebuilds, in this JVM or another. */
class SessionCacheSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  /** run `main` of `probe` in a child JVM on this JVM's class path;
    * (exit code, output) */
  private def childJvm(probe: String, args: String*): (Int, String) = {
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), probe) ++ args
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), _ => ()))
    (code, out.toString)
  }

  /** (value, whether `build` ran) */
  private def probe[K, V](c: SessionCache[K, V], k: K, v: V): (V, Boolean) = {
    var built = false
    val got = c.getOrElseUpdate(k) { built = true; v }
    (got, built)
  }

  /** dirs of the memos a rewrite of `dir` must drop */
  private def under(dir: String): Seq[String] =
    SessionCache.registeredDirs.filter(SessionCache.overlaps(_, dir))
  /** dirs of the memos derived from the store at `dir` itself */
  private def within(dir: String): Seq[String] =
    SessionCache.registeredDirs.filter(_.startsWith(dir))

  test("invalidation overlap: the dir, its descendants and its ancestors drop; /a/bc drops with /a/b") {
    val root = "/sessioncache-spec/overlap"
    val c = new SessionCache[String, Int](16, identity)
    val dirs = Seq(s"$root/a/b", s"$root/a/b/c", s"$root/a", s"$root/a/bc", s"$root/x")
    dirs.foreach(d => c.getOrElseUpdate(d)(1))
    val evicted = Seq.newBuilder[String]
    val withHook = new SessionCache[String, String](16, identity, evicted += _)
    dirs.foreach(d => withHook.getOrElseUpdate(d)(d))
    Tables.invalidate(s"$root/a/b")
    // equal, descendant, ancestor — and the plain-prefix sibling /a/bc,
    // pinned as the safe-direction over-invalidation
    dirs.take(4).foreach(d => assert(probe(c, d, 2)._2, s"$d survived"))
    assert(!probe(c, s"$root/x", 2)._2, "unrelated dir dropped")
    assert(evicted.result().toSet == dirs.take(4).toSet)
    assert(SessionCache.overlaps("", "/anything"), "an empty dir must overlap every rewrite")
  }

  test("a hit refreshes an entry's age, so it survives overflow") {
    val c = new SessionCache[String, Int](4, identity)
    Seq("a", "b", "c", "d").foreach(k => c.getOrElseUpdate(s"/age/$k")(1))
    assert(!probe(c, "/age/a", 2)._2)
    // full: this miss keeps the 2 youngest (d, a) and adds e
    c.getOrElseUpdate("/age/e")(1)
    assert(!probe(c, "/age/a", 2)._2, "the recently hit entry was evicted")
    assert(probe(c, "/age/b", 2)._2, "the stalest entry survived overflow")
  }

  test("session-less entries survive newSession(); session entries do not") {
    val c = new SessionCache[String, Int](8, identity)
    c.getOrElseUpdate("/scope/shared")(1)
    c.getOrElseUpdate(spark, "/scope/session")(1)
    val s2 = spark.newSession()
    var built = false
    c.getOrElseUpdate(s2, "/scope/session") { built = true; 2 }
    assert(built, "a session entry leaked into another session")
    assert(probe(c, "/scope/shared", 2) == (1, false))
  }

  test("DataFrame keys compare by identity") {
    val c = new SessionCache[DataFrame, Long](8, _ => "")
    val a = spark.range(3).toDF()
    val b = spark.range(3).toDF()
    assert(probe(c, a, 1L) == (1L, true))
    assert(probe(c, a, 2L) == (1L, false))
    assert(probe(c, b, 3L) == (3L, true), "an equal plan in another frame object hit")
  }

  test("entries of a stopped session are dropped without onEvict") {
    // stopping a SparkContext ends this JVM's test session, so the
    // check runs in a child JVM (SessionCacheStopProbe)
    val (code, out) = childJvm("graft.SessionCacheStopProbe")
    assert(code == 0 && out.contains("stopped-session: dropped=true evicted=0 shared=kept"),
      s"probe exit $code:\n$out")
  }

  test("concurrent misses on one key run one build; the waiters count as hits") {
    val c = new SessionCache[String, Int](8, identity)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val release = new java.util.concurrent.CountDownLatch(1)
    val n = 8
    val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
    try {
      val (_, misses0, _) = SessionCache.memoCounts
      val got = (1 to n).map(_ => pool.submit(() =>
        c.getOrElseUpdate(spark, "/once/k") { builds.incrementAndGet(); release.await(); 42 }))
      while (builds.get() == 0) Thread.sleep(5)
      Thread.sleep(200) // let the other threads reach the entry and wait on it
      release.countDown()
      assert(got.map(_.get(60, java.util.concurrent.TimeUnit.SECONDS)) == Seq.fill(n)(42))
      assert(builds.get() == 1, s"${builds.get()} builds for one key")
      assert(SessionCache.memoCounts._2 - misses0 == 1, "misses must equal builds")
    } finally pool.shutdownNow(): Unit
  }

  test("a build that throws is not memoized: the next call retries it") {
    val c = new SessionCache[String, Int](8, identity)
    var calls = 0
    intercept[IllegalStateException](
      c.getOrElseUpdate(spark, "/retry/k") { calls += 1; throw new IllegalStateException("boom") })
    assert(c.getOrElseUpdate(spark, "/retry/k") { calls += 1; 7 } == 7)
    assert(c.getOrElseUpdate(spark, "/retry/k") { calls += 1; 8 } == 7)
    assert(calls == 2)
  }

  test("a build that rewrites its own dir runs once and is not handed to onEvict") {
    var evicted = 0
    val c = new SessionCache[String, Int](8, identity, _ => evicted += 1)
    var builds = 0
    assert(c.getOrElseUpdate("/self/k") { builds += 1; Tables.invalidate("/self/k"); 1 } == 1)
    assert(builds == 1 && evicted == 0, s"builds $builds, evicted $evicted")
  }

  test("a newer stamp rebuilds and replaces the key's entry") {
    val c = new SessionCache[String, Int](8, identity)
    assert(c.getOrElseUpdate(spark, "/stamp/k", Seq(("v0", 1L)))(1) == 1)
    assert(c.getOrElseUpdate(spark, "/stamp/k", Seq(("v0", 1L)))(2) == 1, "same stamp missed")
    assert(c.getOrElseUpdate(spark, "/stamp/k", Seq(("v0", 1L), ("v1", 2L)))(3) == 3)
    assert(SessionCache.registeredDirs.count(_ == "/stamp/k") == 1,
      "the superseded entry was kept beside the new one")
  }

  test("stale build: a read after a publish sees the published version") {
    // a build lists the live versions, then stalls while a writer
    // publishes: the entry it inserts is keyed on the stamp it listed,
    // so the next read lists the new stamp and rebuilds
    val root = Files.createTempDirectory("stale-build").toString
    val c = Versioned.Chain(root, root, v => Seq(s"$root/data/v$v"))
    Versioned.create(spark, c, s"$root/data")(())
    val cache = new SessionCache[String, Seq[Int]](8, identity)
    val listed = new java.util.concurrent.CountDownLatch(1)
    val published = new java.util.concurrent.CountDownLatch(1)
    @volatile var first = true
    def read(): Seq[Int] = Versioned.memo(cache, spark, root, c) { vers =>
      if (first) { first = false; listed.countDown(); published.await() }
      vers
    }
    import scala.concurrent.ExecutionContext.Implicits.global
    val racing = scala.concurrent.Future(read())
    listed.await()
    Versioned.append(spark, c, compact = ())(_ => ())
    published.countDown()
    assert(scala.concurrent.Await.result(racing, scala.concurrent.duration.Duration(60, "s")) == Seq(0))
    assert(read() == Seq(0, 1), "a read after the publish returned the build that raced it")
    graft.sources.TempStores.delete(root)
  }

  private val probeText = "a delta row written by another driver process"

  test("another JVM's upsert is seen by the next warm code serve") {
    val dir = Files.createTempDirectory("sc-xproc").toString
    try {
      CodeStore.write(spark, sf, dir)
      val q = FakeEmbedder.embed(probeText)
      CodeStore.search(spark, dir, q).collect()
      val warm = CodeStore.search(spark, dir, q).collect()
      val id = 900000001L
      assert(!warm.exists(_.getLong(0) == id))
      val (code, out) = childJvm("graft.StoreWriterProbe", "upsert", dir, id.toString, probeText)
      assert(code == 0 && out.contains("store-writer: upsert done"), s"probe exit $code:\n$out")
      // the new stamp's first serve takes the pruned reads, its second the rebuilt image
      Seq("pruned", "resident").foreach { source =>
        val top = CodeStore.search(spark, dir, q, k = 1).collect()
        assert(top.map(_.getLong(0)).toSeq == Seq(id), s"the delta's row was not served ($source): ${top.toSeq}")
        assert(CodeStore.lastShortlistSource == source)
      }
    } finally graft.sources.TempStores.delete(dir)
  }

  test("another JVM's full rebuild (chain restarted at v0) is seen by the next warm code serve") {
    val root = Files.createTempDirectory("sc-rebuild").toString
    val (dir, evens) = (s"$root/code", s"$root/evens")
    try {
      Tables.embeddings(spark, sf).filter(col("vec_id") % 2 === 0)
        .write.parquet(s"$evens/embeddings.parquet")
      CodeStore.write(spark, sf, dir)
      val oddId = Tables.embeddings(spark, sf)
        .filter(col("vec_id") % 2 === 1 && col("embedding").isNotNull &&
          size(col("embedding")) === SrpBanded.Dim)
        .orderBy(col("vec_id")).select(col("vec_id"), col("embedding")).first()
      val q = oddId.getSeq[Float](1).toArray
      CodeStore.search(spark, dir, q).collect()
      assert(CodeStore.search(spark, dir, q, k = 1).collect().map(_.getLong(0)).toSeq ==
        Seq(oddId.getLong(0)))
      val (code, out) = childJvm("graft.StoreWriterProbe", "write", dir, evens)
      assert(code == 0 && out.contains("store-writer: write done"), s"probe exit $code:\n$out")
      val rebuilt = CodeStore.search(spark, dir, q).collect()
      assert(rebuilt.forall(_.getLong(0) % 2 == 0), s"rows of the replaced store served: ${rebuilt.toSeq}")
      assert(rebuilt.toSeq == CodeStore.search(spark.newSession(), dir, q).collect().toSeq)
    } finally graft.sources.TempStores.delete(root)
  }

  private def edgeFile(rows: Int): String = {
    val dir = Files.createTempDirectory("sc-edges").toString + "/e"
    spark.range(rows).select(col("id").as("src"), (col("id") + 1).as("dst"),
        array(lit(0.5f), lit(0.25f)).as("dst_emb"))
      .coalesce(1).write.parquet(dir)
    dir
  }

  test("edge checkpoints: overflow keeps a caller's handle alive, invalidation unpersists") {
    val path = edgeFile(20)
    def ckptRdd(h: DataFrame): Int = h.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.id
    }.head
    def persisted(id: Int): Boolean = spark.sparkContext.getPersistentRDDs.contains(id)
    Tables.invalidate(path)
    val first = SrpBanded.maybeBroadcastEdges(spark.read.parquet(path))
    val firstRdd = ckptRdd(first)
    // 16 more distinct frames overflow the 16-entry checkpoint memo
    val rest = (1 to 16).map(_ => SrpBanded.maybeBroadcastEdges(spark.read.parquet(path)))
    assert(persisted(firstRdd), "overflow unpersisted an evicted checkpoint")
    assert(first.collect().length == 20, "a handle to an evicted checkpoint stopped working")
    val lastRdd = ckptRdd(rest.last)
    assert(persisted(lastRdd))
    Tables.invalidate(path)
    assert(!persisted(lastRdd), "invalidation left a checkpoint's blocks pinned")
  }

  test("size gate: a partition-filtered slice of a large file is weighed by its own partitions") {
    val root = Files.createTempDirectory("sc-layers").toString
    val dir = s"$root/layers"
    spark.range(80000).select(col("id").as("src"), (col("id") + 1).as("dst"),
        array((1 to SrpBanded.Dim).map(i => rand(i).cast("float")): _*).as("dst_emb"),
        when(col("id") < 79990, 0).otherwise(1).as("layer"))
      .repartition(1).write.partitionBy("layer").parquet(dir)
    val bigBytes = new java.io.File(s"$dir/layer=0").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.length).sum
    // past the gate's no-count bound: the whole file reads as corpus-sized
    assert(bigBytes > SrpBanded.EdgeBroadcastMaxRows * (16L + 4L * SrpBanded.Dim),
      s"fixture too small: $bigBytes B")
    val layers = spark.read.parquet(dir)
    assert(SrpBanded.edgesSmall(layers.filter(col("layer") === 1)),
      "a 10-row slice was weighed by the whole layers file")
    assert(!SrpBanded.edgesSmall(layers))
    graft.sources.TempStores.delete(root)
  }

  test("another JVM's upsertMeta is seen by the next warm filtered serve") {
    val dir = Files.createTempDirectory("sc-meta").toString
    try {
      FilteredServe.writeMeta(spark, sf, dir)
      val q = FakeEmbedder.embed(probeText)
      val pred = Seq("lang" -> "xx", "source" -> "zz")
      def serve(): Seq[Long] = FilteredServe.searchFiltered(spark, sf, dir, "/nonexistent/edge-store",
        q, pred, k = 5).collect().map(_.getLong(0)).toSeq
      serve()
      assert(serve().isEmpty)
      val id = 900000002L
      val (code, out) = childJvm("graft.StoreWriterProbe", "upsertMeta", dir, id.toString, probeText)
      assert(code == 0 && out.contains("store-writer: upsertMeta done"), s"probe exit $code:\n$out")
      assert(serve() == Seq(id), "the child's metadata row was not served")
      assert(FilteredServe.matchCount(spark, dir, pred) == 1L)
    } finally graft.sources.TempStores.delete(dir)
  }

  test("another JVM's SigStore rebuild with a new group count is seen by the next warm near-dup") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sc-sig").toString
    try {
      val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      val quarter = docs.filter(col("doc_id") % 4 === 0)
      SigStore.write(spark, quarter, dir)
      val groups = SigStore.storeGroups(spark, dir)
      assert(SigStore.groupsFor(docs.count()) > groups, "the full corpus does not change the group count")
      // a document outside the quarter whose band keys all miss the
      // quarter store's bg = 0 probe: the rebuilt store finds its twin
      // only through the rebuilt group count
      val oddKeys = SigStore.bandedSigs(docs.filter(col("doc_id") % 4 =!= 0))
        .groupBy(col("doc_id")).agg(min(col("band_key").bitwiseAND(lit(1L))).as("odd"))
        .filter(col("odd") === 1L).orderBy(col("doc_id")).select(col("doc_id")).first().getLong(0)
      val text = docs.filter(col("doc_id") === oddKeys).first().getString(1)
      def nearDup(): Seq[(Long, Long)] = SigStore.incrementalNearDup(spark, dir,
        Seq((900000003L, text)).toDF("doc_id", "text")).collect()
        .map(r => (r.getAs[Number]("id_a").longValue, r.getAs[Number]("id_b").longValue)).toSeq
      def twin(pairs: Seq[(Long, Long)]) = pairs.exists { case (a, b) => Set(a, b) == Set(oddKeys, 900000003L) }
      nearDup()
      assert(!twin(nearDup()))
      val (code, out) = childJvm("graft.StoreWriterProbe", "sigWrite", dir, sf)
      assert(code == 0 && out.contains("store-writer: sigWrite done"), s"probe exit $code:\n$out")
      val got = nearDup()
      assert(twin(got), s"the rebuilt store's twin was not found: $got")
      assert(SigStore.storeGroups(spark, dir) > groups)
    } finally graft.sources.TempStores.delete(dir)
  }

  test("another JVM's SigStore upsert is seen by the next near-dup, pruned, then from the images") {
    import spark.implicits._
    val dir = Files.createTempDirectory("sc-sig-upsert").toString
    try {
      SigStore.write(spark, Tables.documents(spark, sf).select(col("doc_id"), col("text")), dir)
      def echo(): Seq[(Long, Long)] = SigStore.incrementalNearDup(spark, dir,
        Seq((9000000000L, probeText)).toDF("doc_id", "text")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      echo()
      assert(echo().isEmpty && SigStore.lastProbeSource == "resident")
      val id = 900000004L
      val (code, out) = childJvm("graft.StoreWriterProbe", "sigUpsert", dir, id.toString, probeText)
      assert(code == 0 && out.contains("store-writer: sigUpsert done"), s"probe exit $code:\n$out")
      Seq("pruned", "resident").foreach { source =>
        assert(echo() == Seq((id, 9000000000L)), s"the child's document was not paired ($source)")
        assert(SigStore.lastProbeSource == source && SigStore.lastTextSource == source)
      }
    } finally graft.sources.TempStores.delete(dir)
  }

  test("Tables.invalidate drops every registered memo under the rewritten store") {
    val root = Files.createTempDirectory("sc-registry").toString
    val (hnsw, code, srp) = (s"$root/hnsw", s"$root/code", s"$root/srp")
    HnswStore.write(spark, sf, hnsw)
    CodeStore.write(spark, sf, code)
    SrpStore.write(spark, sf, srp)
    FilteredServe.writeMeta(spark, sf, srp)
    val q = FakeEmbedder.embed("fast vector search over spark tables")
    def serve(): Unit = {
      HnswStore.search(spark, hnsw, q).collect()
      CodeStore.search(spark, code, q).collect()
      FilteredServe.searchFiltered(spark, sf, srp, "/nonexistent/edge-store", q,
        Seq("lang" -> "en"), k = 5).collect()
    }
    serve()
    Seq(hnsw, code, srp).foreach(d => assert(within(d).nonEmpty, s"no memo under $d"))
    Tables.invalidate(hnsw)
    assert(under(hnsw).isEmpty, s"memos left under $hnsw: ${under(hnsw)}")
    assert(within(code).nonEmpty && within(srp).nonEmpty, "an unrelated store's memos dropped")
    serve()
    Tables.invalidate(root)
    Seq(hnsw, code, srp).foreach(d => assert(under(d).isEmpty, s"memos left under $d: ${under(d)}"))
  }
}

/** Child-JVM writer for the cross-process specs: `upsert <dir> <id>
  * <text>` appends one embedded row to the code store at `dir`;
  * `write <dir> <corpus>` rebuilds it from another corpus;
  * `upsertMeta <srpDir> <id> <text>` upserts one row with values
  * (xx, zz) into the filtered metadata at `srpDir`; `sigWrite <dir>
  * <corpus>` rebuilds the signature store at `dir` from a corpus's
  * documents; `sigUpsert <dir> <id> <text>` appends one document to it.
  * Prints one verdict line. */
object StoreWriterProbe {
  def main(args: Array[String]): Unit = {
    val spark = LocalSpark.builder(1).getOrCreate()
    import spark.implicits._
    args.toSeq match {
      case Seq("upsert", dir, id, text) =>
        CodeStore.upsert(spark, dir, Seq((id.toLong, FakeEmbedder.embed(text))).toDF("vec_id", "embedding"))
      case Seq("write", dir, corpus) => CodeStore.write(spark, corpus, dir)
      case Seq("upsertMeta", dir, id, text) =>
        FilteredServe.upsertMeta(spark, dir, Seq((id.toLong, FakeEmbedder.embed(text), "xx", "zz"))
          .toDF("vec_id", "embedding", "lang", "source")): Unit
      case Seq("sigUpsert", dir, id, text) =>
        SigStore.upsert(spark, dir, Seq((id.toLong, text)).toDF("doc_id", "text"))
      case Seq("sigWrite", dir, corpus) =>
        SigStore.write(spark, Tables.documents(spark, corpus).select(col("doc_id"), col("text")), dir)
    }
    println(s"store-writer: ${args(0)} done")
    spark.stop()
  }
}

/** Child-JVM half of the stopped-session check: prints one verdict
  * line. */
object SessionCacheStopProbe {
  def main(args: Array[String]): Unit = {
    def session() = SparkSession.builder().master("local[1]")
      .config("spark.ui.enabled", "false").getOrCreate()
    var evicted = 0
    val c = new SessionCache[String, Int](8, identity, _ => evicted += 1)
    val s1 = session()
    c.getOrElseUpdate(s1, "/stop/old")(1)
    c.getOrElseUpdate("/stop/shared")(1)
    s1.stop()
    val s2 = session()
    c.getOrElseUpdate(s2, "/stop/new")(1)
    val dirs = SessionCache.registeredDirs
    var sharedBuilt = false
    c.getOrElseUpdate("/stop/shared") { sharedBuilt = true; 2 }
    println(s"stopped-session: dropped=${!dirs.contains("/stop/old")} evicted=$evicted " +
      s"shared=${if (sharedBuilt) "lost" else "kept"}")
    s2.stop()
  }
}
