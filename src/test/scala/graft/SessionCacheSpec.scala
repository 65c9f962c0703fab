package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.operators.SrpBanded
import graft.sources.{CodeStore, FilteredServe, HnswStore, SrpStore}

/** [[SessionCache]]'s contract: the one invalidation rule, access-
  * ordered overflow, session scoping, identity keys, and the registry
  * that lets [[Tables.invalidate]] reach every memo. */
class SessionCacheSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

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
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.SessionCacheStopProbe")
    val out = new StringBuilder
    val code = scala.sys.process.Process(cmd).!(scala.sys.process.ProcessLogger(
      l => out.append(l).append('\n'), _ => ()))
    assert(code == 0 && out.toString.contains("stopped-session: dropped=true evicted=0 shared=kept"),
      s"probe exit $code:\n$out")
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

  test("byval scan memo: a same-mtime marker rewrite with a new length misses") {
    val srp = Files.createTempDirectory("sc-marker").toString
    try {
      FilteredServe.writeMeta(spark, sf, srp)
      val scan = FilteredServe.readByVal(spark, srp)
      assert(FilteredServe.readByVal(spark, srp) eq scan, "unchanged store missed")
      // an out-of-band rewrite landing within the mtime granularity
      val marker = java.nio.file.Paths.get(s"$srp/meta/stats/_SUCCESS")
      val (mtime, len) = FilteredServe.statsMarkerStamp(spark, srp)
      Files.write(marker, Array.fill(len.toInt + 7)('x'.toByte))
      Files.setLastModifiedTime(marker, java.nio.file.attribute.FileTime.fromMillis(mtime))
      assert(FilteredServe.statsMarkerStamp(spark, srp) == ((mtime, len + 7)))
      assert(!(FilteredServe.readByVal(spark, srp) eq scan), "rewritten marker hit the stale scan")
    } finally graft.sources.TempStores.delete(srp)
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
