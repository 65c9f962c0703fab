package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one version-chain protocol every append-only store publishes
  * through ([[SrpStore]]'s banding, [[SigStore]], [[IvfStore]],
  * [[HnswStore]], [[EdgeStore]], [[CodeStore]]). It is how graft keeps
  * the reference's always-resident index current (a per-row
  * `UPDATE ... SET abstract_embeddings`, `sql/04_embeddings.sql:5-7`,
  * feeding `sql/05_vector_index.sql:3-6`) without ever rewriting
  * committed data.
  *
  * A store's versions are data dirs (usually `__ver=N` partitions)
  * plus empty marker files under `<root>/_commits`: `v<N>` publishes a
  * delta, `c<N>` a fold. The crash contract, stated once for all
  * stores:
  *
  *  - a version is visible iff its marker exists — the marker is
  *    created only after every data write of the version succeeded;
  *  - a torn version (data, no marker) is invisible, and the retry
  *    clears its dirs before writing, so rows never double;
  *  - a fold marker `c<N>` supersedes every version below it at read
  *    time, so a fold's switch is one marker create — atomic, and
  *    never a mix of the fold and its inputs;
  *  - GC of superseded versions deletes data before markers, so a
  *    crash mid-GC leaves a marker the next fold still finds and
  *    reclaims (the reverse order orphans dirs no marker names).
  *
  * A store written with delta markers only (`v<N>`, as every chain
  * was before folds got their own marker) reads exactly as before:
  * with no `c<N>`, every marker is live.
  */
private[graft] object Versioned {

  /** fold threshold: one full-copy rewrite amortized over this many
    * O(update) delta commits */
  val CompactAfter = 8

  /** test hook: suppress the post-publish GC to freeze the crash
    * window between a fold marker and the superseded deletes */
  @volatile var gcAfterPublish = true

  /** One store's chain: `dir` is the store (what a publish
    * invalidates), `root` holds the markers, `dirsOf(v)` lists
    * version v's data dirs. */
  final case class Chain(dir: String, root: String, dirsOf: Int => Seq[String])

  private def markerDir(c: Chain) = new Path(s"${c.root}/_commits")

  /** all markers as (version, isFold) */
  private def marks(spark: SparkSession, c: Chain): Seq[(Int, Boolean)] = {
    val f = Hfs.fs(spark, c.dir)
    val md = markerDir(c)
    if (!f.exists(md)) Seq.empty
    else f.listStatus(md).toSeq.map(_.getPath.getName).collect {
      case s if s.startsWith("v") => (s.drop(1).toInt, false)
      case s if s.startsWith("c") => (s.drop(1).toInt, true)
    }
  }

  private def liveOf(ms: Seq[(Int, Boolean)]): Seq[(Int, Boolean)] =
    ms.collect { case (v, true) => v }.maxOption
      .fold(ms)(fv => ms.filter(_._1 >= fv))

  /** live versions, ascending: everything at or above the highest
    * fold marker. A fold holds every row of the versions it folded,
    * so reading it beside its inputs would serve those rows twice. */
  def live(spark: SparkSession, c: Chain): Seq[Int] =
    liveOf(marks(spark, c)).map(_._1).distinct.sorted

  /** make version `v` visible: one marker-file create */
  private def publish(spark: SparkSession, c: Chain, v: Int, fold: Boolean = false): Unit = {
    val f = Hfs.fs(spark, c.dir)
    val md = markerDir(c)
    f.mkdirs(md)
    f.create(new Path(md, s"${if (fold) "c" else "v"}$v"), false).close()
  }

  private def clear(spark: SparkSession, c: Chain, v: Int): Unit = {
    val f = Hfs.fs(spark, c.dir)
    c.dirsOf(v).foreach(p => f.delete(new Path(p), true): Unit)
  }

  /** delete the given versions, each one's data before its marker */
  private def drop(spark: SparkSession, c: Chain, ms: Seq[(Int, Boolean)]): Unit = {
    val f = Hfs.fs(spark, c.dir)
    ms.foreach { case (v, isFold) =>
      clear(spark, c, v)
      f.delete(new Path(markerDir(c), s"${if (isFold) "c" else "v"}$v"), false): Unit
    }
  }

  /** forget the whole chain — markers first (the old versions turn
    * invisible at once), then every dir in `roots` */
  def reset(spark: SparkSession, c: Chain, roots: Seq[String]): Unit = {
    val f = Hfs.fs(spark, c.dir)
    f.delete(markerDir(c), true): Unit
    roots.foreach(p => f.delete(new Path(p), true): Unit)
  }

  /** a full (re)build: [[reset]] the chain over `roots`, run `write`
    * (which writes version 0), publish version 0 */
  def create(spark: SparkSession, c: Chain, roots: String*)(write: => Unit): Unit = {
    reset(spark, c, roots)
    write
    publish(spark, c, 0)
    graft.Tables.invalidate(c.dir)
  }

  /** Append one delta version: clear a torn leftover of the next
    * version, `write(next)`, publish, invalidate, then run the store's
    * `compact` once the chain reaches [[CompactAfter]] versions.
    * Returns the published version. */
  def append(spark: SparkSession, c: Chain, compact: => Unit)(write: Int => Unit): Int = {
    val vers = live(spark, c)
    val next = vers.lastOption.getOrElse(-1) + 1
    clear(spark, c, next)
    write(next)
    publish(spark, c, next)
    graft.Tables.invalidate(c.dir)
    if (vers.length + 1 >= CompactAfter) compact
    next
  }

  /** Fold the chain into one new version `next` — never in place.
    * First reclaims what an earlier fold's crash left behind; then,
    * when at least `min` versions are live, clears a torn `next`,
    * runs `write(next)` (which reads the live view), publishes the
    * fold marker `c<next>` and GCs the superseded versions. */
  def fold(spark: SparkSession, c: Chain, min: Int = 2)(write: Int => Unit): Unit = {
    val ms = marks(spark, c)
    val lv = liveOf(ms)
    drop(spark, c, ms.diff(lv))
    if (lv.size >= min) {
      val next = lv.map(_._1).maxOption.getOrElse(0) + 1
      clear(spark, c, next)
      write(next)
      publish(spark, c, next, fold = true)
      if (gcAfterPublish) drop(spark, c, lv)
      graft.Tables.invalidate(c.dir)
    }
  }

  /** Merge-on-read view of `raw` (carrying an int `__ver` column):
    * live versions only — pruned in the file index, so torn and
    * superseded data is never scanned — and the latest version per
    * `keyCols` wins. A single live version (fresh or just folded)
    * skips the resolve window; with deltas, a window keyed on the
    * store's partition columns lets their predicates push below it,
    * so point reads stay partition-pruned. */
  def latest(raw: DataFrame, vers: Seq[Int], keyCols: String*): DataFrame = {
    val pruned = raw.filter(col("__ver").isin(vers: _*))
    if (vers.size == 1) pruned.drop("__ver")
    else pruned
      .withColumn("__maxv", max(col("__ver")).over(Window.partitionBy(keyCols.map(col): _*)))
      .filter(col("__ver") === col("__maxv"))
      .drop("__ver", "__maxv")
  }
}
