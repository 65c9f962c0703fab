package graftbench

/** One ranked answer row: `(id, rank, similarity)`. */
final case class Hit(id: Long, rk: Int, sim: Double)

/** A reported near-duplicate pair. */
final case class Pair(a: Long, b: Long, jaccard: Double)

/** Answer checkers. Each returns `None` when the answer is right and
  * `Some(reason)` otherwise; every expected value is computed here
  * from the benchmark's own copy of the inputs. */
object Check {
  /** the serves round similarities to 6 decimals */
  val SimTol = 2e-6
  /** near-dup Jaccards are rounded to 4 decimals */
  val JaccardTol = 1e-4

  /** A top-k answer: `min(k, matching)` distinct ids, each present in
    * `rows` (the rows the request may match), ranked 1..n by similarity
    * desc, each similarity equal to our cosine. The serves rank by the
    * unrounded similarity (id asc on exact ties) and emit it rounded to
    * 6 decimals, so the order of two rows whose rounded similarities are
    * equal is not visible in the answer and is not checked. */
  def topK(hits: Seq[Hit], q: Array[Float], k: Int,
           rows: Map[Long, Array[Float]]): Option[String] = {
    val want = math.min(k, rows.size)
    if (hits.size != want) return Some(s"${hits.size} rows, expected $want")
    if (hits.map(_.id).distinct.size != hits.size) return Some("duplicate ids")
    if (hits.map(_.rk) != (1 to hits.size)) return Some(s"ranks ${hits.map(_.rk)}")
    hits.foreach { h =>
      val v = rows.getOrElse(h.id, return Some(s"id ${h.id} is not a matching row"))
      val own = Corpus.cosine(v, q)
      if (math.abs(own - h.sim) > SimTol) return Some(s"id ${h.id} sim ${h.sim} != $own")
    }
    hits.zip(hits.drop(1)).collectFirst {
      case (x, y) if x.sim < y.sim =>
        s"rows out of order at ${x.id}, ${y.id}"
    }
  }

  /** recall@k of `hits` against the exact top-k over `rows` */
  def recall(hits: Seq[Hit], q: Array[Float], k: Int,
             rows: Iterable[(Long, Array[Float])]): Double = {
    val exact = Corpus.exactTopK(rows, q, k).toSet
    hits.count(h => exact.contains(h.id)).toDouble / exact.size
  }

  /** A point lookup returns exactly the stored row. */
  def lookup(got: Seq[(Long, String, String, String, Long)], want: Doc): Option[String] = {
    val row = (want.id, want.text, want.lang, want.source, want.nChars)
    if (got == Seq(row)) None
    else Some(s"lookup ${want.id} returned ${got.size} rows, ids ${got.map(_._1)}, " +
      s"${got.count(_ == row)} equal to the stored row")
  }

  /** Near-duplicate pairs: each reported pair involves a batch document
    * and carries our shingle Jaccard, at or above `threshold`; every
    * planted pair is reported. */
  def nearDup(got: Seq[Pair], texts: Long => String, batchIds: Set[Long],
              planted: Set[(Long, Long)], threshold: Double): Option[String] = {
    got.foreach { p =>
      if (p.a >= p.b) return Some(s"pair (${p.a}, ${p.b}) not ordered")
      if (!batchIds(p.a) && !batchIds(p.b)) return Some(s"pair (${p.a}, ${p.b}) has no batch side")
      val own = Corpus.shingleJaccard(texts(p.a), texts(p.b))
      if (math.abs(own - p.jaccard) > JaccardTol || own < threshold)
        return Some(s"pair (${p.a}, ${p.b}) jaccard ${p.jaccard} != $own")
    }
    val missing = planted -- got.map(p => (p.a, p.b))
    if (missing.nonEmpty) Some(s"planted pairs not reported: ${missing.take(3)}") else None
  }

  /** All same-(lang, source) pairs at token Jaccard >= threshold, by
    * brute force over every pair: the definition in `Dedup.ngramJaccardSql`. */
  def allPairsJaccard(docs: Seq[Doc], threshold: Double): Seq[(String, String, Long, Long)] =
    docs.groupBy(d => (d.lang, d.source)).toSeq.flatMap { case ((l, s), g) =>
      val sorted = g.sortBy(_.id)
      for {
        i <- sorted.indices
        j <- i + 1 until sorted.size
        if Corpus.tokenJaccard(sorted(i).text, sorted(j).text) >= threshold
      } yield (l, s, sorted(i).id, sorted(j).id)
    }.sorted

  def ngramPairs(got: Seq[(String, String, Long, Long)], want: Seq[(String, String, Long, Long)]): Option[String] =
    if (got == want) None
    else Some(s"${got.size} pairs, expected ${want.size}; first differences " +
      s"${(got.toSet -- want).take(2)} / ${(want.toSet -- got).take(2)}")

  /** Ingest stored the embedding of the document's text. */
  def embedding(got: Array[Float], text: String): Option[String] = {
    val own = Corpus.embed(text)
    if (got.length == own.length && got.indices.forall(i => math.abs(got(i) - own(i)) <= 1e-6)) None
    else Some(s"embedding of '${text.take(20)}' differs")
  }
}
