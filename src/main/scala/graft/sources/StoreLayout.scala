package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession

/** How many hash buckets a store splits its rows into — one rule for
  * every partitioned store, the way pgvector sizes IVFFlat's `lists`
  * from the row count (the reference pins `lists = 100`,
  * `sql/05_vector_index.sql:3-6`).
  *
  * A bucket is at least one file per version, and every file a read
  * touches costs an open, a footer read and a task slot whatever its
  * size. So a store gets one bucket per [[BucketBytes]] of data,
  * rounded down to a power of two, never fewer than one and never
  * more than the store's cap (the fixed count it used before it was
  * sized; every store of at least cap × [[BucketBytes]] keeps exactly
  * that layout).
  *
  * The `pb` stores ([[CodeStore]], [[EdgeStore]], [[HnswStore]]'s
  * layers) choose the count at a full write and at a fold, from the
  * rows they write (a fold counts them from its live versions'
  * footers, [[liveRows]], and a code store's full write from its
  * corpus's, [[footerRows]]), and pin it as a data dir of that version,
  * `<chain root>/layout/v<N>/pb=<count>`, listed in the chain's
  * `dirsOf` — so [[Versioned]]'s clear, GC and crash contract covers
  * it like any other data of the version. A delta reuses its live
  * base's count and pins nothing. Readers take the count of the
  * lowest live version (that base), so a store that grows by upserts
  * is re-sized at its next fold and never serves two counts at once.
  * A base without a layout dir (a store written before sizing) reads
  * at the cap.
  */
private[graft] object StoreLayout {

  /** Spark's default `spark.sql.files.openCostInBytes`: Spark's own
    * estimate of what opening one file costs, in scanned bytes */
  val BucketBytes: Long = 4L << 20

  /** write seam: the bytes per bucket sized writes divide by. Specs
    * set 1 to write a store at its cap — the layout before sizing —
    * and compare; readers never consult it (they follow the pin). */
  @volatile private[graft] var bucketBytes: Long = BucketBytes

  /** the one bucket rule: `units / perBucket` rounded down to a power
    * of two, at least 1, at most `cap` */
  def bucketsFor(units: Long, perBucket: Long, cap: Long): Long =
    math.min(cap, java.lang.Long.highestOneBit(math.max(1L, units / perBucket)))

  /** buckets for `rows` rows of `rowBytes` each */
  def sized(rows: Long, rowBytes: Long, cap: Int): Int =
    bucketsFor(rows * rowBytes, bucketBytes, cap).toInt

  /** Write version v of the chain rooted at `root` (a full build or
    * a fold) at the count `rows` rows give — `write(count)` hashes and
    * writes them — and pin that count as v's layout. */
  def writeSized(spark: SparkSession, root: String, v: Int, rows: Long, rowBytes: Long,
                 cap: Int)(write: Int => Unit): Unit = {
    val n = sized(rows, rowBytes, cap)
    write(n)
    pin(spark, root, v, n)
  }

  /** driver threads [[footerRows]] reads footers on */
  private val FooterThreads = 8

  /** `f` of every parquet footer under `dirs` (a dir, or a single
    * parquet file) — no Spark job. A missing dir holds no footer. */
  private def footers[A](spark: SparkSession, dirs: Seq[String])(f: ParquetMetadata => A): Seq[A] = {
    val conf = spark.sparkContext.hadoopConfiguration
    // plain listings: a located listing asks for every file's block
    // locations, ~3 ms a file on a local disk
    def files(fs: org.apache.hadoop.fs.FileSystem, p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).toSeq.flatMap(st => if (st.isDirectory) files(fs, st.getPath) else Seq(st))
    val parts = dirs.map(new Path(_)).flatMap(p => Some(p.getFileSystem(conf)).filter(_.exists(p))
      .toSeq.flatMap(files(_, p))).filter(_.getPath.getName.endsWith(".parquet"))
    // ~4 ms a footer measured on a local disk: read them on a few
    // threads (64 footers 280 → 135 ms)
    org.apache.spark.sql.GraftBridge.parmap(parts, "store-layout-footers", FooterThreads) { st =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
      try f(r.getFooter) finally r.close()
    }
  }

  private def rowsOf(m: ParquetMetadata): Long = m.getBlocks.asScala.map(_.getRowCount).sum

  /** Rows in the parquet files under `dirs`, summed from the footers */
  def footerRows(spark: SparkSession, dirs: Seq[String]): Long = footers(spark, dirs)(rowsOf).sum

  /** Rows and the uncompressed bytes of top-level column `column` in
    * the parquet files under `dirs`, summed from the footers. A
    * plain-encoded string column holds each value's UTF-8 bytes plus a
    * 4-byte length; a dictionary-encoded one each distinct value once. */
  def footerRowsAndBytes(spark: SparkSession, dirs: Seq[String], column: String): (Long, Long) =
    footers(spark, dirs) { m =>
      (rowsOf(m), m.getBlocks.asScala.iterator.flatMap(_.getColumns.asScala)
        .filter(_.getPath.toDotString == column).map(_.getTotalUncompressedSize).sum)
    }.foldLeft((0L, 0L)) { case ((r, b), (r1, b1)) => (r + r1, b + b1) }

  /** Rows the live versions of chain `c` hold in the `__ver`-
    * partitioned parquet dir `data`, from the footers ([[footerRows]]).
    * A fold sizes from this rather than from a count of its merge-on-
    * read view, which would resolve the whole store once to size it
    * and again to write it. An id re-written by a delta counts once per
    * version holding it, and a tombstone counts, so this exceeds the
    * resolved count by at most the deltas' rows. An unmarked (torn)
    * version is not live, so it is never counted. */
  def liveRows(spark: SparkSession, c: Versioned.Chain, data: String): Long =
    footerRows(spark, Versioned.live(spark, c).map(v => s"$data/__ver=$v"))

  /** version v's layout dir under a chain root */
  def dir(root: String, v: Int): String = s"$root/layout/v$v"

  /** pin `buckets` as version v's layout (before v's marker) */
  def pin(spark: SparkSession, root: String, v: Int, buckets: Int): Unit = {
    val f = Hfs.fs(spark, root)
    val d = new Path(dir(root, v))
    f.delete(d, true): Unit
    f.mkdirs(d)
    f.create(new Path(d, s"pb=$buckets"), false).close()
  }

  /** the count of the lowest of the live versions `vers`; `cap` when
    * none is live or it predates sizing */
  def pinned(spark: SparkSession, root: String, vers: Seq[Int], cap: Int): Int =
    vers.minOption.flatMap { v =>
      val f = Hfs.fs(spark, root)
      val d = new Path(dir(root, v))
      if (!f.exists(d)) None
      else f.listStatus(d).toSeq.map(_.getPath.getName)
        .collectFirst { case s if s.startsWith("pb=") => s.drop(3).toInt }
    }.getOrElse(cap)
}
