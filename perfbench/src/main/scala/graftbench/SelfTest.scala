package graftbench

import scala.util.Random

/** The checkers' own test: each accepts a right answer and rejects
  * deliberately wrong ones. No Spark; exits 1 on any miss.
  * Run with `python3 perfbench/run.py --selftest`. */
object SelfTest {
  private var misses = 0

  private def expect(name: String, wantOk: Boolean, got: Option[String]): Unit = {
    val pass = got.isEmpty == wantOk
    if (!pass) misses += 1
    println(f"${if (pass) "ok  " else "MISS"} ${if (wantOk) "accepts" else "rejects"} $name" +
      got.map(e => s"  ($e)").getOrElse(""))
  }
  private def ok(name: String, got: Option[String]): Unit = expect(name, wantOk = true, got)
  private def bad(name: String, got: Option[String]): Unit = expect(name, wantOk = false, got)

  def main(args: Array[String]): Unit = {
    val c = new Corpus(1)
    val rows = c.docs.map(d => d.id -> d.vec).toMap
    val q = c.searchVec(new Random(5))
    val right = Corpus.exactTopK(rows, q, 10).zipWithIndex.map { case (id, i) =>
      Hit(id, i + 1, math.round(Corpus.cosine(rows(id), q) * 1e6) / 1e6)
    }
    ok("the exact top-10", Check.topK(right, q, 10, rows))
    bad("a top-10 missing a row", Check.topK(right.take(9), q, 10, rows))
    bad("a repeated id", Check.topK(right.updated(9, right(8).copy(rk = 10)), q, 10, rows))
    bad("a wrong similarity", Check.topK(right.updated(0, right(0).copy(sim = right(0).sim + 1e-3)), q, 10, rows))
    bad("rows out of similarity order",
      Check.topK(Seq(right(1).copy(rk = 1), right(0).copy(rk = 2)) ++ right.drop(2), q, 10, rows))
    bad("ranks not 1..k", Check.topK(right.map(h => h.copy(rk = h.rk + 1)), q, 10, rows))
    bad("an id outside the predicate", Check.topK(right, q, 10, rows - right(3).id))
    val few = rows.filter { case (id, _) => right.take(3).exists(_.id == id) }
    ok("fewer rows when fewer match", Check.topK(right.take(3), q, 10, few))
    expect("recall of the exact answer is 1", wantOk = true,
      if (Check.recall(right, q, 10, rows) == 1.0) None else Some("recall < 1"))

    val d = c.docs(5)
    val row = (d.id, d.text, d.lang, d.source, d.nChars)
    ok("the stored row", Check.lookup(Seq(row), d))
    bad("a changed text", Check.lookup(Seq(row.copy(_2 = d.text + " x")), d))
    bad("no row", Check.lookup(Nil, d))
    bad("the row twice", Check.lookup(Seq(row, row), d))

    val stored = c.docs.find(_.echo.isDefined).get
    val reqId = 1000000000L
    val texts = Map(stored.id -> stored.text, reqId -> stored.echo.get)
    val planted = Set((stored.id, reqId))
    ok("the planted pair", Check.nearDup(Seq(Pair(stored.id, reqId, 1.0)), texts, Set(reqId), planted, 0.7))
    bad("a missing planted pair", Check.nearDup(Nil, texts, Set(reqId), planted, 0.7))
    bad("a wrong Jaccard", Check.nearDup(Seq(Pair(stored.id, reqId, 0.9)), texts, Set(reqId), planted, 0.7))
    val other = c.docs.find(x => x.id != stored.id && x.echo.isDefined).get
    bad("a pair without a batch side", Check.nearDup(Seq(Pair(stored.id, reqId, 1.0),
      Pair(stored.id, other.id, Corpus.shingleJaccard(stored.text, other.text))),
      texts + (other.id -> other.text), Set(reqId), planted, 0.7))
    val echoesExact = (0 until 200).forall { i =>
      val e = c.echoText(new Random(i)); Corpus.shingleJaccard(e.text, e.echo) == 1.0
    }
    expect("echo texts keep the shingle set", wantOk = true, if (echoesExact) None else Some("J < 1"))

    val pairs = Check.allPairsJaccard(c.docs.toSeq, 0.3)
    expect("the corpus plants n-gram pairs", wantOk = true, if (pairs.nonEmpty) None else Some("none"))
    ok("the all-pairs answer", Check.ngramPairs(pairs, pairs))
    bad("a dropped pair", Check.ngramPairs(pairs.drop(1), pairs))
    bad("an extra pair", Check.ngramPairs(pairs :+ (("en", "src0", 0L, 1L)), pairs))

    val t = c.docs(7).text
    ok("the embedder's vector", Check.embedding(Corpus.embed(t), t))
    bad("a perturbed vector", Check.embedding(Corpus.embed(t).updated(3, 0.5f), t))

    println(if (misses == 0) "selftest: all checks behave" else s"selftest: $misses misses")
    sys.exit(if (misses == 0) 0 else 1)
  }
}
