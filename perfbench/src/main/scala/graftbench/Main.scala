package graftbench

import scala.collection.mutable
import scala.util.Random
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import graft.operators.{Dedup, SimilaritySearch}
import graft.sources._

/** The benchmark process: one JVM per run, one client thread in a
  * closed loop. Set-up writes every store through its public `write`
  * on a fresh session (`setup_s`), a cold pass runs one round of the
  * workload's operation shapes on `spark.newSession()`, a warm-up runs
  * a fixed count more, and then a fixed count of seeded rounds is
  * measured. The
  * last line of stdout is the result JSON.
  *
  * Usage: graftbench.Main --workload serve|ingest --seed N
  *          --seconds S --trace 0|1 --work DIR */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: String)

  /** A public call returning a DataFrame (null for writes), its collect,
    * and the checks on the collected rows. `request` marks an HNSW or
    * code search request, a stored vector plus noise: `recall_at_10`
    * counts these, not the reads that look up a just-written row. */
  final case class Op(cls: String, call: SparkSession => DataFrame,
                      check: Array[Row] => Option[String],
                      recall: Array[Row] => Seq[Double] = _ => Nil, request: Boolean = false)

  final case class Done(cls: String, wallMs: Double, callMs: Double,
                        collectMs: Double, failed: Boolean, recalls: Seq[Double], request: Boolean, tier: String,
                        group: String, startMs: Long, endMs: Long, compiles: Long, cpuMs: Double)

  /** per-layer classes */
  val Classes: Seq[String] =
    Seq("hnsw", "code", "filtered", "lookup", "dedup", "upsert", "batch_dedup", "cold")
  val Counters: Seq[String] = Seq("wall_ms", "cpu_ms", "call_ms", "collect_ms", "jobs", "job_ms", "plan_ms",
    "driver_gap_ms", "exec_run_ms", "codegen_compiles", "shuffle_bytes", "input_bytes")
  val UpsertSteps: Seq[String] = Seq("corpus", "code", "meta", "sig")
  val SetupSteps: Seq[String] = Seq("corpus", "hnsw", "code", "meta", "sig")
  val K = 10
  val IngestBatch = 10
  /** read sets (a code read of a written row, a code search request, a
    * filtered read of the batch) after each measured ingest write; the
    * cold pass reads one set */
  val IngestReads = 3
  /** A round's nominal length in seconds: the measured phase is
    * ceil(seconds / RoundSeconds) whole rounds, a count that depends on
    * `--seconds` only, never on how fast the code under test runs
    * (about each round's wall time on a 4-vCPU host: a serve round is
    * five requests, an ingest round one write and its reads). */
  val RoundSeconds: Map[String, Double] = Map("serve" -> 2.0, "ingest" -> 12.0)
  /** Untimed rounds between the cold pass and the measured phase. On
    * ingest the cold pass (a write and its reads) is also the warm-up:
    * a second untimed write round costs 12-15 s of wall time per run,
    * more than the runs' time budget holds. */
  val WarmUpRounds: Map[String, Int] = Map("serve" -> 1, "ingest" -> 0)
  def rounds(o: Opts): Int = math.max(1, math.ceil(o.seconds / RoundSeconds(o.workload)).toInt)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(RoundSeconds.contains(w), s"unknown workload $w")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1", need("work"))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val out = try new Run(spark, o).run() finally spark.stop()
    println(out)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  /** `d` holds the corpus tables. The filtered serve's walk tier reads
    * the HNSW store's layer-0 graph, an EdgeStore of the same graph
    * width, so no separate edge store is built. At the benchmark's sizes
    * every predicate takes the exact tier, so ingest, which writes no
    * HNSW store, never reaches the walk. */
  final case class Stores(d: String, srp: String, hnsw: String, code: String, sig: String) {
    def edge: String = s"$hnsw/l0"
    def indexes: Seq[String] = Seq(srp, hnsw, code, sig)
  }

  /** a document ingested during the run */
  final case class Ingested(doc: Doc, echo: String)
}

final class Run(root: SparkSession, o: Main.Opts) {
  import Main._

  private val corpus = new Corpus(o.seed)
  private val tracer: Option[Tracer] =
    if (o.trace) { val t = new Tracer(root.sparkContext); root.sparkContext.addSparkListener(t); Some(t) } else None
  private val log = System.err

  // the benchmark's own copy of every stored row (grows on ingest)
  private val docs = mutable.LinkedHashMap.empty[Long, Doc] ++= corpus.docs.map(d => d.id -> d)
  private val baseVecs: Map[Long, Array[Float]] = corpus.docs.map(d => d.id -> d.vec).toMap
  private var vecs: Map[Long, Array[Float]] = baseVecs
  private val requestTexts = mutable.Map.empty[Long, String]
  private var nextDocId = Corpus.N.toLong
  private var nextRequestId = 1000000000L
  private var failures = 0
  private var wrong = 0

  private def text(id: Long): String = docs.get(id).map(_.text).getOrElse(requestTexts(id))

  // ---- set-up -------------------------------------------------------

  private val setupSteps = mutable.LinkedHashMap.empty[String, Double]

  private def writeCorpus(s: SparkSession, d: String): Unit = {
    import s.implicits._
    corpus.docs.toSeq.map(x => (x.id, x.text, x.lang, x.source, x.nChars))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    corpus.docs.toSeq.map(x => (x.id, x.vec, x.label))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/embeddings.parquet")
  }

  /** Write every store the workload reads, through each store's public
    * `write`, on a fresh session. The filtered serve's metadata lives
    * under the SRP directory; no SRP banding is written, since no
    * workload reads it. Ingest reads no HNSW store: its upsert costs
    * tens of seconds per small write, so ingest does not maintain one,
    * and a read of an unmaintained store would not see the write. */
  private def setup(): (Stores, Double) = {
    val t0 = Jvm.cpuNs
    val s = root.newSession()
    tracer.foreach(t => s.listenerManager.register(t))
    val base = s"${o.work}/stores"
    val st = Stores(s"$base/corpus", s"$base/srp", s"$base/hnsw", s"$base/code", s"$base/sig")
    def step(name: String)(f: => Unit): Unit = {
      val a = Jvm.cpuNs; f
      setupSteps(name) = (Jvm.cpuNs - a) / 1e9
    }
    step("corpus")(writeCorpus(s, st.d))
    if (o.workload == "serve") step("hnsw")(HnswStore.write(s, st.d, st.hnsw))
    step("code")(CodeStore.write(s, st.d, st.code))
    step("meta")(FilteredServe.writeMeta(s, st.d, st.srp))
    step("sig") {
      import s.implicits._
      SigStore.write(s, corpus.docs.toSeq.map(x => (x.id, x.text)).toDF("doc_id", "text"), st.sig)
    }
    (st, (Jvm.cpuNs - t0) / 1e9)
  }

  // ---- answers --------------------------------------------------------

  private def hits(rows: Array[Row]): Seq[Hit] =
    rows.toSeq.map(r => Hit(r.getAs[Number]("vec_id").longValue, r.getAs[Number]("rk").intValue,
      r.getAs[Number]("sim").doubleValue))

  private def matching(pred: Seq[(String, String)]): Map[Long, Array[Float]] =
    docs.valuesIterator.filter(d => pred.forall {
      case ("lang", v) => d.lang == v
      case ("source", v) => d.source == v
      case (c, _) => sys.error(s"no predicate column $c")
    }).map(d => d.id -> vecs(d.id)).toMap

  /** an unfiltered top-k serve over `rows` (every row the store holds);
    * `mustHold` names a just-written row the answer has to contain */
  private def singleSearch(cls: String, q: Array[Float], rows: Map[Long, Array[Float]],
                           mustHold: Option[Long], call: SparkSession => DataFrame): Op =
    Op(cls, call,
      r => {
        val h = hits(r)
        Check.topK(h, q, K, rows).orElse(mustHold.filterNot(id => h.exists(_.id == id))
          .map(id => s"written row $id not returned"))
      },
      r => Seq(Check.recall(hits(r), q, K, rows)), request = mustHold.isEmpty)

  private def filtered(st: Stores, q: Array[Float], pred: Seq[(String, String)]): Op = {
    val rows = matching(pred)
    Op("filtered",
      s => FilteredServe.searchFiltered(s, st.d, st.srp, st.edge, q, pred, k = K),
      r => Check.topK(hits(r), q, K, rows),
      r => Seq(Check.recall(hits(r), q, K, rows)))
  }

  private def lookup(st: Stores, id: Long): Op =
    Op("lookup",
      s => SimilaritySearch.recordById(graft.Tables.documents(s, st.d), "doc_id", id),
      rows => Check.lookup(rows.toSeq.map(r => (r.getAs[Number]("doc_id").longValue, r.getAs[String]("text"),
        r.getAs[String]("lang"), r.getAs[String]("source"), r.getAs[Number]("n_chars").longValue)), docs(id)))

  /** a near-dup request: `echoes` are near-duplicates of stored ids,
    * `fresh` are new texts */
  private def nearDup(st: Stores, echoes: Seq[(Long, String)], fresh: Seq[String]): Op = {
    val reqs = (echoes.map(_._2) ++ fresh).map { t =>
      val id = nextRequestId; nextRequestId += 1; requestTexts(id) = t; (id, t)
    }
    val planted = echoes.zip(reqs).map { case ((stored, _), (id, _)) => (stored, id) }.toSet
    Op("dedup",
      s => { import s.implicits._; SigStore.incrementalNearDup(s, st.sig, reqs.toDF("doc_id", "text")) },
      rows => Check.nearDup(rows.toSeq.map(r => Pair(r.getAs[Number]("id_a").longValue,
        r.getAs[Number]("id_b").longValue, r.getAs[Number]("jaccard").doubleValue)),
        text, reqs.map(_._1).toSet, planted, SigStore.Threshold))
  }

  private def randomEcho(r: Random): (Long, String) = {
    val withEcho = corpus.docs.filter(_.echo.isDefined)
    val d = withEcho(r.nextInt(withEcho.length))
    (d.id, d.echo.get)
  }

  /** the predicate kinds, from least to most selective, cycle with the
    * round so every seed serves the same mix; the seed picks the values */
  private def predicate(r: Random, kind: Int): Seq[(String, String)] = kind % 4 match {
    case 0 => Seq("lang" -> "en")
    case 1 => Seq("lang" -> Corpus.Langs(1 + r.nextInt(4)))
    case 2 => Seq("source" -> s"src${r.nextInt(Corpus.Sources)}")
    case _ => Seq("lang" -> "en", "source" -> s"src${r.nextInt(Corpus.Sources)}")
  }

  /** `Dedup.ngramJaccard` over the stored corpus (as it stands when the
    * op is built), checked against the all-pairs computation */
  private def ngram(st: Stores): Op = {
    val want = Check.allPairsJaccard(docs.values.toSeq, 0.3)
    Op("batch_dedup", s => Dedup.ngramJaccard(s, st.d),
      rows => Check.ngramPairs(rows.toSeq.map(x => (x.getAs[String]("lang"), x.getAs[String]("source"),
        x.getAs[Number]("id_a").longValue, x.getAs[Number]("id_b").longValue)), want))
  }

  // ---- workloads -----------------------------------------------------

  /** the gateway's five single-request shapes against the set-up corpus */
  private def serveOp(st: Stores, shape: String, r: Random, roundNo: Int): Op = shape match {
    case "hnsw" => val q = corpus.searchVec(r)
      singleSearch("hnsw", q, baseVecs, None, s => HnswStore.search(s, st.hnsw, q, k = K))
    case "code" => val q = corpus.searchVec(r)
      singleSearch("code", q, vecs, None, s => CodeStore.search(s, st.code, q, k = K))
    case "filtered" => filtered(st, corpus.searchVec(r), predicate(r, roundNo))
    case "lookup" => lookup(st, r.nextInt(Corpus.N).toLong)
    case "dedup" =>
      // a planted echo and a fresh text alternate with the round
      if (roundNo % 2 == 0) nearDup(st, Seq(randomEcho(r)), Nil)
      else nearDup(st, Nil, Seq(corpus.echoText(r).text))
  }
  private val ServeShapes = Seq("hnsw", "code", "filtered", "lookup", "dedup")

  private var roundsBuilt = 0

  /** The operations of one round, in seeded order: each serve shape
    * once; or, for ingest, one write batch followed by reads that must
    * see it. The cold pass, the warm-up and the measured phase are all
    * made of such rounds; the cold ingest round reads each class once. */
  private def round(st: Stores, r: Random, cold: Boolean = false): Seq[Op] = {
    val roundNo = roundsBuilt; roundsBuilt += 1
    o.workload match {
      case "serve" => r.shuffle(ServeShapes).map(serveOp(st, _, r, roundNo))
      case "ingest" => ingestRound(st, r, if (cold) 1 else IngestReads)
    }
  }

  private val upsertSteps = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private var ingestBatches = 0

  /** One write batch of new documents (all from one new source) through
    * the embedder and the code, metadata and signature stores, then
    * reads that must see it: the exact filtered serve returns the whole
    * batch, the code serve and the lookup the row they ask for, the
    * near-dup check the planted echo; a code search request (a stored
    * vector plus noise) reads the grown store; the n-gram dedup reruns
    * over the grown corpus. */
  private def ingestRound(st: Stores, r: Random, reads: Int): Seq[Op] = {
    ingestBatches += 1
    val source = s"ingest$ingestBatches"
    val batch = (0 until IngestBatch).map { _ =>
      val et = corpus.echoText(r)
      val id = nextDocId; nextDocId += 1
      Ingested(Doc(id, et.text, corpus.lang(r), source, Corpus.embed(et.text), -1, Some(et.echo)), et.echo)
    }
    var embedErr: Option[String] = None
    val write = Op("upsert", s => { embedErr = upsert(s, st, batch); null }, _ => embedErr)
    // the rows join the benchmark's copy before the reads are built, so
    // every read expects them
    batch.foreach { b => docs(b.doc.id) = b.doc }
    vecs = vecs ++ batch.map(b => b.doc.id -> b.doc.vec)
    val pick = r.shuffle(batch.toList)
    val searches = (0 until reads).flatMap { i =>
      val Seq(b, c) = pick.slice(2 * i, 2 * i + 2).map(_.doc)
      val q = corpus.searchVec(r)
      Seq[Op](
        singleSearch("code", b.vec, vecs, Some(b.id), s => CodeStore.search(s, st.code, b.vec, k = K)),
        singleSearch("code", q, vecs, None, s => CodeStore.search(s, st.code, q, k = K)),
        filtered(st, c.vec, Seq("source" -> source)))
    }
    val others = Seq(lookup(st, pick(2 * reads).doc.id),
      nearDup(st, Seq(pick(2 * reads + 1).doc.id -> pick(2 * reads + 1).echo), Nil), ngram(st))
    write +: r.shuffle(searches ++ others)
  }

  private def upsert(s: SparkSession, st: Stores, batch: Seq[Ingested]): Option[String] = {
    import s.implicits._
    def step[T](name: String)(f: => T): T = {
      val a = System.nanoTime(); val v = f
      upsertSteps.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += ms(a); v
    }
    val raw = batch.map(b => (b.doc.id, b.doc.text, b.doc.lang, b.doc.source)).toDF("doc_id", "text", "lang", "source")
    val embedded = step("embed")(Ingest.embedDocuments(raw, "doc_id")
      .select("doc_id", "text", "lang", "source", "n_chars", "embedding").collect())
    val err = embedded.iterator.flatMap(x => Check.embedding(x.getSeq[Float](5).toArray, x.getString(1))).nextOption()
    val rows = embedded.toSeq.map(x => (x.getLong(0), x.getString(1), x.getString(2), x.getString(3),
      x.getInt(4).toLong, x.getSeq[Float](5).toArray))
    step("corpus") {
      rows.map(x => (x._1, x._2, x._3, x._4, x._5)).toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("append").parquet(s"${st.d}/documents.parquet")
      rows.map(x => (x._1, x._6, -1)).toDF("vec_id", "embedding", "label")
        .coalesce(1).write.mode("append").parquet(s"${st.d}/embeddings.parquet")
      graft.Tables.invalidate(st.d)
    }
    step("code")(CodeStore.upsert(s, st.code, rows.map(x => (x._1, x._6)).toDF("vec_id", "embedding")))
    step("meta")(FilteredServe.upsertMeta(s, st.srp,
      rows.map(x => (x._1, x._6, x._3, x._4)).toDF("vec_id", "embedding", "lang", "source")))
    step("sig")(SigStore.upsert(s, st.sig, rows.map(x => (x._1, x._2)).toDF("doc_id", "text")))
    err
  }

  // ---- execution -----------------------------------------------------

  private val spans = mutable.ArrayBuffer.empty[String]

  private def execute(s: SparkSession, op: Op): Done = {
    val g = tracer.map(_.begin(op.cls))
    val startMs = System.currentTimeMillis()
    val cpu0 = Jvm.cpuNs
    val t0 = System.nanoTime()
    var t1 = t0
    var failed = false
    var rows: Array[Row] = Array.empty
    try {
      val df = op.call(s)
      t1 = System.nanoTime()
      if (df != null) rows = df.collect()
    } catch {
      case e: Exception =>
        failed = true
        log.println(s"[perfbench] ${op.cls} failed: $e")
    } finally tracer.foreach(_.end())
    val t2 = System.nanoTime()
    val endMs = System.currentTimeMillis()
    val cpuMs = math.max(0L, Jvm.cpuNs - cpu0) / 1e6
    val compiles = (for (t <- tracer; id <- g) yield t.compilesSince(id)).getOrElse(0L)
    val tier = if (op.cls == "filtered") FilteredServe.lastCoverageHere.tier else ""
    var recalls: Seq[Double] = Nil
    if (!failed) {
      op.check(rows).foreach { e => wrong += 1; log.println(s"[perfbench] wrong ${op.cls} answer: $e") }
      recalls = op.recall(rows)
    } else failures += 1
    val callMs = (t1 - t0) / 1e6
    val collectMs = (t2 - t1) / 1e6
    log.println(f"[perfbench] op ${op.cls} wall ${(t2 - t0) / 1e6}%.1f ms, cpu $cpuMs%.0f ms")
    g.foreach { id =>
      spans += s"""{"trace":"$id","span":"op","name":"${op.cls}","start_ms":$startMs,"end_ms":$endMs}"""
      spans += s"""{"trace":"$id","span":"call","parent":"op","dur_ms":$callMs}"""
      spans += s"""{"trace":"$id","span":"collect","parent":"op","dur_ms":$collectMs}"""
    }
    Done(op.cls, (t2 - t0) / 1e6, callMs, collectMs, failed, recalls, op.request, tier,
      g.getOrElse(""), startMs, endMs, compiles, cpuMs)
  }

  /** the layer counters of a finished op (traced run only) */
  private def layers(d: Done): Map[String, Double] = tracer match {
    case None => Map.empty
    case Some(t) =>
      t.jobSpans(d.group).foreach { case (id, js, je) =>
        spans += s"""{"trace":"${d.group}","span":"job","parent":"op","job_id":$id,"start_ms":$js,"end_ms":$je}"""
      }
      t.counters(d.group, d.startMs, d.endMs) ++ Map("wall_ms" -> d.wallMs, "cpu_ms" -> d.cpuMs, "call_ms" -> d.callMs,
        "collect_ms" -> d.collectMs, "codegen_compiles" -> d.compiles.toDouble)
  }

  def run(): String = {
    val totalStart = System.nanoTime()
    // the first Spark job of a JVM loads the engine; that is start-up,
    // not store set-up
    root.range(1).count(): Unit
    val s0 = System.nanoTime()
    val (st, setupS) = setup()
    log.println(f"[perfbench] setup: ${(System.nanoTime() - s0) / 1e9}%.2f s, $setupS%.2f cpu-s (" +
      setupSteps.map { case (k, v) => f"$k $v%.2f" }.mkString(", ") + ")")

    // cold pass: one round of the workload's operation shapes (on ingest
    // a write and its reads), on a session whose memos are empty
    val session = root.newSession()
    tracer.foreach(t => session.listenerManager.register(t))
    val cold = round(st, new Random(o.seed * 7919 + 1), cold = true).map(execute(session, _))
    val coldS = cold.map(_.cpuMs).sum / 1e3
    log.println(f"[perfbench] cold pass: ${cold.size} ops, ${cold.map(_.wallMs).sum / 1e3}%.2f s, $coldS%.2f cpu-s")

    // warm-up: more rounds of the same shapes, untimed
    val w0 = System.nanoTime()
    val warm = (0 until WarmUpRounds(o.workload)).flatMap { i =>
      round(st, new Random(o.seed * 7919 + 2 + i)).map(execute(session, _))
    }
    log.println(f"[perfbench] warm-up: ${warm.size} ops, ${(System.nanoTime() - w0) / 1e9}%.2f s")

    // measured phase: a fixed count of whole rounds
    failures = 0
    val gc0 = Jvm.gcMs; val jit0 = Jvm.jitMs
    upsertSteps.clear()
    val m0 = System.nanoTime()
    val measured = (0 until rounds(o)).flatMap { i =>
      round(st, new Random(o.seed * 7919 + 100 + i)).map(execute(session, _))
    }
    val measuredS = (System.nanoTime() - m0) / 1e9
    val gcMs = Jvm.gcMs - gc0; val jitMs = Jvm.jitMs - jit0
    log.println(f"[perfbench] measured: ${rounds(o)} rounds, ${measured.size} ops, $measuredS%.2f s")

    val heapMb = Jvm.retainedHeapMb
    val storeBytes = st.indexes.map(p => treeBytes(new java.io.File(p))).sum
    val bytesPerRow = storeBytes.toDouble / docs.size

    // per-class medians go to stderr only: with one to six samples per
    // class, and each sample's cost moved by what ran just before it, they
    // spread too widely over seeds to carry a bound
    val byClass = measured.filterNot(_.failed).groupBy(_.cls)
    log.println("[perfbench] p50 wall / cpu ms: " + byClass.toSeq.sortBy(_._1).map { case (c, ds) =>
      f"$c ${median(ds.map(_.wallMs).toSeq)}%.1f / ${median(ds.map(_.cpuMs).toSeq)}%.0f" }.mkString(", "))
    // recall counts every answer of the run, a fixed set of operations
    // for a seed, so a seed always scores the same. The end-to-end figure
    // counts the search requests; a written row's vector sits apart from
    // the corpus's clusters, so its near-tied neighbours say little about
    // the index and count in recall.code only.
    val answers = cold ++ warm ++ measured
    def recallOf(p: Done => Boolean) = mean(answers.filter(p).flatMap(_.recalls))

    val endToEnd = Seq(
      ("setup_s", setupS, "s"),
      ("cold_pass_s", coldS, "s"),
      ("cpu_ms_per_op", mean(measured.map(_.cpuMs)), "ms"),
      ("recall_at_10", recallOf(_.request), "fraction"),
      ("heap_mb", heapMb, "MB"),
      ("store_bytes_per_row", bytesPerRow, "B/row"))
    // a traced run prints its end-to-end figures to stderr, so the
    // tracing overhead is traced minus untraced
    if (o.trace) log.println(s"[perfbench] end-to-end (traced): ${json(endToEnd)}")
    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) endToEnd
      else {
        tracer.foreach(_.drain())
        val measuredLayers = measured.map(d => d.cls -> layers(d))
        val coldLayers = cold.map(layers)
        val perClass = Classes.flatMap { c =>
          Counters.map { k =>
            val v =
              if (c == "cold") coldLayers.map(_.getOrElse(k, 0.0)).sum
              else mean(measuredLayers.filter(_._1 == c).map(_._2.getOrElse(k, 0.0)).toSeq)
            (s"$c.$k", v, unit(k))
          }
        }
        val tiers = measured.filter(_.tier.nonEmpty).groupBy(_.tier).view.mapValues(_.size.toDouble).toMap
        writeSpans()
        perClass ++
          SetupSteps.map(k => (s"setup.${k}_s", setupSteps.getOrElse(k, 0.0), "s")) ++
          UpsertSteps.map(k => (s"upsert.${k}_ms", mean(upsertSteps.getOrElse(k, Nil).toSeq), "ms")) ++
          Seq(("ingest.embed_ms", mean(upsertSteps.getOrElse("embed", Nil).toSeq), "ms")) ++
          Seq("exact", "code", "walk").map(t => (s"filtered.tier_$t", tiers.getOrElse(t, 0.0), "count")) ++
          Seq(("recall.hnsw", recallOf(_.cls == "hnsw"), "fraction"),
            ("recall.code", recallOf(_.cls == "code"), "fraction"),
            ("recall.filtered", recallOf(_.cls == "filtered"), "fraction")) ++
          Seq(("jvm.gc_ms", gcMs.toDouble, "ms"), ("jvm.jit_ms", jitMs.toDouble, "ms"))
      }
    log.println(f"[perfbench] total ${(System.nanoTime() - totalStart) / 1e9}%.1f s; " +
      s"attempted=${measured.size} failed=$failures wrong=$wrong")
    deleteTree(new java.io.File(s"${o.work}/stores"))
    s"""{"correct": ${wrong == 0}, "attempted": ${measured.size}, "failed": $failures, "metrics": ${json(metrics)}}"""
  }

  private def json(metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString("{", ", ", "}")

  private def unit(counter: String): String = counter match {
    case "jobs" | "codegen_compiles" => "count"
    case "shuffle_bytes" | "input_bytes" => "B"
    case _ => "ms"
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def writeSpans(): Unit = {
    val f = new java.io.File(s"${o.work}/spans-${o.workload}-${o.seed}.jsonl")
    val w = new java.io.PrintWriter(f)
    try spans.foreach(w.println) finally w.close()
    log.println(s"[perfbench] spans: ${f.getPath}")
  }

  private def treeBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(treeBytes).sum).getOrElse(0L)
    else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L else f.length()

  private def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }
}
