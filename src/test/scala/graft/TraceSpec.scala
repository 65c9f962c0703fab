package graft

import java.nio.file.Files

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.FileScanRDD
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.FakeEmbedder
import graft.obs.Trace
import graft.operators.SimilaritySearch
import graft.sources.{CodeStore, FilteredServe, HnswStore, SigStore, TempStores}

/** [[Trace]] against counts taken without it: the status tracker's jobs
  * per group, the CodegenMetrics delta, the files the executed plans'
  * scans selected, and the caller's own clock. */
class TraceSpec extends AnyFunSuite with BeforeAndAfterAll {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf
  import spark.implicits._

  private lazy val trace = Trace(spark)
  override def afterAll(): Unit = trace.close()

  private var seq = 0
  private var planMs = 0L

  /** distinct files the file scans of each executed plan handed to
    * their tasks, summed: read off the plans a QueryExecutionListener
    * is handed, not off the scan metrics the trace reads */
  private object PlanFiles extends QueryExecutionListener with AdaptiveSparkPlanHelper {
    val files = new java.util.concurrent.atomic.AtomicLong()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      files.addAndGet(collectWithSubqueries(qe.executedPlan) {
        case s: FileSourceScanExec => s.inputRDD match {
          case r: FileScanRDD => r.filePartitions.flatMap(_.files.map(_.filePath)).distinct.size.toLong
          case _ => 0L
        }
      }.sum): Unit
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  /** a warm `serve(b)` traced under a group the test sets, with that
    * group's job count, the compile count and the files its plans
    * selected read independently */
  private def traced(serve: => DataFrame): (Trace.Record, Int, Long, Long) = {
    seq += 1
    val group = s"trace-spec-$seq"
    val sc = spark.sparkContext
    GraftBridge.drainListenerBus(spark)
    PlanFiles.files.set(0L)
    spark.listenerManager.register(PlanFiles)
    try {
      sc.setJobGroup(group, group, interruptOnCancel = false)
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val (_, rec) = try trace.span(serve.collect()) finally sc.clearJobGroup()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      GraftBridge.drainListenerBus(spark)
      (rec, sc.statusTracker.getJobIdsForGroup(group).length, compiles, PlanFiles.files.get)
    } finally spark.listenerManager.unregister(PlanFiles)
  }

  private def check[A](name: String, serve: A => DataFrame, a: A, b: A,
                       fromImages: Boolean = false): Trace.Record = {
    // twice: a code or signature image is built on its stamp's second serve
    serve(a).collect()
    serve(a).collect()
    val (rec, jobs, compiles, files) = traced(serve(b))
    info(s"$name: ${rec.json}")
    assert(rec.jobs == jobs, s"$name: trace counted ${rec.jobs} jobs, the status tracker $jobs")
    assert(rec.codegenCompiles == compiles,
      s"$name: trace counted ${rec.codegenCompiles} compiles, CodegenMetrics $compiles")
    assert(rec.filesRead == files, s"$name: trace counted ${rec.filesRead} files, the plans $files")
    // a warm serve from the driver images runs no job and reads no
    // file; the test below pins each such serve at budget 0 as well
    if (fromImages) assert(jobs == 0 && files == 0,
      s"$name: a serve from the driver images ran jobs or read files: ${rec.json}")
    else assert(name == "lookup" || files > 0, s"$name: a store serve read no file")
    assert(rec.jobMs + rec.driverGapMs == rec.wallMs)
    assert(rec.jobMs >= 0 && rec.jobMs <= rec.wallMs && rec.planMs >= 0)
    assert(jobs == 0 || rec.jobMs > 0 || rec.wallMs < 5, s"$name: $jobs jobs but no job time")
    assert(trace.openSpans == 0, s"$name: state left behind after the record was read")
    planMs += rec.planMs
    rec
  }

  private val qa = FakeEmbedder.embed("fast vector search over spark tables")
  private val qb = FakeEmbedder.embed("incremental near duplicate detection for crawls")

  test("warm single-request serves: jobs and compiles equal the independent counts") {
    val docs = Tables.documents(spark, sf)
    val ids = docs.select(col("doc_id")).orderBy(col("doc_id")).limit(2)
      .collect().map(_.getLong(0))
    check[Long]("lookup", id => SimilaritySearch.recordById(docs, "doc_id", id), ids(0), ids(1))
    val dirs = Seq("sig", "code", "meta", "hnsw").map(p => Files.createTempDirectory(s"trace-$p").toString)
    try {
      val Seq(sigDir, codeDir, metaDir, hnswDir) = dirs
      val sigDocs = docs.select(col("doc_id"), col("text"))
      SigStore.write(spark, sigDocs, sigDir)
      val texts = sigDocs.orderBy(col("doc_id")).limit(2).collect().map(_.getString(1))
      val nearDup = (i: Int) => SigStore.incrementalNearDup(spark, sigDir,
        Seq((1000000L + i, texts(i))).toDF("doc_id", "text"))
      check[Int]("near-dup", nearDup, 0, 1, fromImages = true)
      StoreFixtures.atBudget(0L)(check[Int]("near-dup at budget 0", nearDup, 0, 1))
      CodeStore.write(spark, sf, codeDir)
      val code = (q: Array[Float]) => CodeStore.search(spark, codeDir, q)
      check[Array[Float]]("code", code, qa, qb, fromImages = true)
      StoreFixtures.atBudget(0L)(check[Array[Float]]("code at budget 0", code, qa, qb))
      FilteredServe.writeMeta(spark, sf, metaDir)
      check[Array[Float]]("filtered", q => FilteredServe.searchFiltered(
        spark, sf, metaDir, "/nonexistent/edge-store", q, Seq("lang" -> "en"), k = 5,
        exactScanMax = Long.MaxValue), qa, qb)
      HnswStore.write(spark, sf, hnswDir)
      val hnsw = (q: Array[Float]) => HnswStore.search(spark, hnswDir, q)
      check[Array[Float]]("hnsw", hnsw, qa, qb, fromImages = true)
      // the same serve with no layer admitted reads its layers' files
      StoreFixtures.atBudget(0L)(check[Array[Float]]("hnsw at budget 0", hnsw, qa, qb))
      assert(planMs > 0, "no Catalyst phase reached any span")
    } finally dirs.foreach(TempStores.delete)
  }

  test("a span without a job group gets its own; wall time matches the caller's clock") {
    val t0 = System.nanoTime()
    val (secs, rec) = trace.span {
      val s0 = System.nanoTime()
      spark.range(0, 1000, 1, 4).selectExpr("sum(id)").collect()
      (System.nanoTime() - s0) / 1e6
    }
    val outerMs = (System.nanoTime() - t0) / 1e6
    assert(spark.sparkContext.getLocalProperty("spark.jobGroup.id") == null,
      "the span left its own job group on the thread")
    assert(rec.jobs >= 1 && rec.jobMs > 0, rec.json)
    assert(rec.jobMs + rec.driverGapMs == rec.wallMs)
    assert(rec.wallMs >= math.floor(secs) && rec.wallMs <= math.ceil(outerMs),
      s"wall ${rec.wallMs} ms outside [inner $secs, outer $outerMs]")
    assert(trace.openSpans == 0)
  }

  test("a second call to a memoized artifact: hits, no misses") {
    graft.operators.IvfIndex.fitCached(spark, sf, 4, 2)
    val (_, rec) = trace.span(graft.operators.IvfIndex.fitCached(spark, sf, 4, 2))
    assert(rec.memoHits > 0 && rec.memoMisses == 0, rec.json)
  }

  test("concurrent spans on their own groups do not mix; a failed span leaves no state") {
    val sc = spark.sparkContext
    val out = new java.util.concurrent.ConcurrentHashMap[Int, (Int, Int)]()
    val ts = (1 to 2).map { n =>
      val t = new Thread(() => {
        val g = s"trace-spec-thread-$n"
        sc.setJobGroup(g, g, interruptOnCancel = false)
        val (_, rec) = trace.span((1 to n).foreach(_ => spark.range(0, 100, 1, 2).count()))
        sc.clearJobGroup()
        GraftBridge.drainListenerBus(spark)
        out.put(n, (rec.jobs, sc.statusTracker.getJobIdsForGroup(g).length)): Unit
      })
      t.start(); t
    }
    ts.foreach(_.join(60000))
    assert(out.size == 2)
    out.forEach { (n, c) =>
      assert(c._1 == c._2 && c._2 >= n, s"thread $n: trace ${c._1} jobs, status tracker ${c._2}")
    }
    intercept[IllegalStateException](trace.span(throw new IllegalStateException("boom")))
    assert(trace.openSpans == 0)
  }
}
