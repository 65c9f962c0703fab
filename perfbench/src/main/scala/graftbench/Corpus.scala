package graftbench

import scala.util.Random

/** One corpus row: the document and its stored vector share the id. */
final case class Doc(id: Long, text: String, lang: String, source: String,
                     vec: Array[Float], label: Int, echo: Option[String]) {
  def nChars: Long = text.length.toLong
}

/** A text whose last two words repeat an earlier adjacent pair, so
  * `echo` (the text extended by the two words that followed that pair)
  * has exactly the same set of character 5-shingles: a near-duplicate
  * at shingle Jaccard 1.0, which MinHash banding reports on every seed. */
final case class EchoText(text: String, echo: String)

/** Seeded inputs and the benchmark's own reference computations. Every
  * input is a pure function of the seed; nothing here calls graft. */
final class Corpus(seed: Long) {
  import Corpus._

  private val rnd = new Random(seed)

  /** 800 pseudo-words of 3–7 letters: random word pairs share few
    * tokens, so only planted edits cross the 0.3 token-Jaccard line. */
  val vocab: Array[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    while (seen.size < VocabSize) {
      val n = 3 + rnd.nextInt(5)
      seen += (0 until n).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  private val centroids: Array[Array[Double]] =
    Array.fill(Clusters)(normalize(Array.fill(Dim)(rnd.nextGaussian())))

  def echoText(r: Random): EchoText = {
    val len = 30 + r.nextInt(50)
    val body = Array.fill(len)(vocab(r.nextInt(vocab.length)))
    val j = r.nextInt(len - 4)
    val words = body ++ Array(body(j), body(j + 1))
    val text = words.mkString(" ")
    EchoText(text, s"$text ${body(j + 2)} ${body(j + 3)}")
  }

  def lang(r: Random): String = {
    val x = r.nextDouble()
    if (x < 0.4) "en" else Langs(1 + ((x - 0.4) / 0.15).toInt.min(3))
  }

  /** The base corpus: clustered unit vectors; a tenth of the texts
    * are word-level edits of an earlier text in the same (lang,
    * source) group, so the n-gram Jaccard operator has pairs to find. */
  val docs: Array[Doc] = {
    val out = new Array[Doc](N)
    for (i <- 0 until N) {
      val label = rnd.nextInt(Clusters)
      val c = centroids(label)
      val vec = normalize(Array.tabulate(Dim)(k => c(k) + Spread * rnd.nextGaussian()))
      val earlier = if (i >= 50 && rnd.nextDouble() < 0.1) Some(out(rnd.nextInt(i))) else None
      out(i) = earlier match {
        case Some(e) =>
          val w = e.text.split(' ')
          val edited = w.map(t => if (rnd.nextDouble() < 0.15) vocab(rnd.nextInt(vocab.length)) else t)
          Doc(i.toLong, edited.mkString(" "), e.lang, e.source, toFloat(vec), label, None)
        case None =>
          val et = echoText(rnd)
          Doc(i.toLong, et.text, lang(rnd), s"src${rnd.nextInt(Sources)}", toFloat(vec), label,
            Some(et.echo))
      }
    }
    out
  }

  /** A search request: a stored vector plus seeded noise. */
  def searchVec(r: Random): Array[Float] = {
    val base = docs(r.nextInt(N)).vec
    toFloat(normalize(Array.tabulate(Dim)(k => base(k) + QueryNoise * r.nextGaussian())))
  }
}

object Corpus {
  val N = 1000
  val Dim = 64
  val Clusters = 40
  val Spread = 0.12
  val QueryNoise = 0.05
  val VocabSize = 800
  val Sources = 20
  val Langs: Array[String] = Array("en", "de", "fr", "es", "zh")

  def normalize(v: Array[Double]): Array[Double] = {
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / n)
  }
  def toFloat(v: Array[Double]): Array[Float] = v.map(_.toFloat)

  /** cosine in double over the float components */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i); na += a(i).toDouble * a(i); nb += b(i).toDouble * b(i); i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / math.sqrt(na * nb)
  }

  /** exact top-k ids by (cosine desc, id asc) */
  def exactTopK(rows: Iterable[(Long, Array[Float])], q: Array[Float], k: Int): Seq[Long] =
    rows.iterator.map { case (id, v) => (id, cosine(v, q)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1)

  /** distinct whitespace tokens, as `Dedup.ngramJaccardSql` defines them */
  def tokens(text: String): Set[String] = text.split(" ", -1).toSet

  def tokenJaccard(a: String, b: String): Double = {
    val (x, y) = (tokens(a), tokens(b))
    val inter = x.intersect(y).size
    inter.toDouble / (x.size + y.size - inter)
  }

  /** distinct character n-gram shingles */
  def shingles(text: String, n: Int = 5): Set[String] =
    if (text.length < n) Set.empty else (0 to text.length - n).map(i => text.substring(i, i + n)).toSet

  def shingleJaccard(a: String, b: String): Double = {
    val (x, y) = (shingles(a), shingles(b))
    if (x.isEmpty && y.isEmpty) 0.0
    else { val inter = x.intersect(y).size; inter.toDouble / (x.size + y.size - inter) }
  }

  /** char-trigram FNV-1a feature hashing into 64 signed buckets over
    * the lower-cased text between STX/ETX sentinels, L2 normalized: the
    * default embedder's definition, recomputed here to check what
    * ingest stored */
  def embed(text: String): Array[Float] = {
    val v = new Array[Double](Dim)
    val t = "\u0002" + text.toLowerCase + "\u0003"
    for (i <- 0 to t.length - 3) {
      var h = 0x811c9dc5
      for (j <- i until i + 3) { h ^= t.charAt(j); h *= 0x01000193 }
      v((h & 0x7fffffff) % Dim) += (if ((h >>> 31) == 0) 1.0 else -1.0)
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => if (n == 0.0) 0.0f else (x / n).toFloat)
  }
}
