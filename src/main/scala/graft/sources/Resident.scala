package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import graft.operators.SrpBanded

/** Driver images of small stores, the way the reference serves from an
  * index held in memory (`sql/05_vector_index.sql:3-6`): the HNSW upper
  * layers, an [[EdgeStore]], an [[SrpStore]]'s buckets, a
  * [[CodeStore]]'s resolved rows, and a [[SigStore]]'s probe map and
  * verify texts. A warm serve
  * whose steps all hit images runs no Spark job. One budget bounds every
  * image: an image is admitted when its rows, read from parquet footers
  * with no Spark job (they over-count superseded rows and tombstones,
  * the safe direction), times a per-row estimate fit one [[share]];
  * otherwise its serve keeps the pruned reads, with the same rows. An
  * image is built once per (kind, store, budget) and live version stamp
  * of its chain, so a commit by any process is seen by the next serve;
  * the code and signature images are built on a stamp's second serve,
  * since those stores take small upserts between single reads.
  */
object Resident {

  /** the budget summed over every held image; specs set 0 to force
    * every distributed serve path */
  @volatile var BudgetBytes: Long = 256L << 20

  /** at most this many images are held, each within [[share]] */
  val Slots = 8
  def share: Long = BudgetBytes / Slots

  /** conservative JVM bytes per held vector (an edge with its
    * destination embedding, or an SRP vector): ids, boxing, Dim floats */
  val VectorBytes: Long = 96L + 4L * SrpBanded.Dim
  /** JVM bytes per held bucket-membership id */
  val MemberBytes = 24L
  /** JVM bytes per held signature row: its band key and doc id, in
    * flat arrays */
  val SigBytes = 16L
  /** JVM bytes per held verify text besides its characters: the doc
    * id, the reference, the String and byte array headers */
  val TextBytes = 64L

  /** a graph image: src → (dst, dst_emb) */
  type Adjacency = Map[Long, Array[(Long, Array[Float])]]

  /** One (kind, store, budget) at one live stamp: the serves that asked
    * for it, and its image once built (None inside: refused). */
  private final class Slot(build: () => Option[Any]) {
    private val asks = new java.util.concurrent.atomic.AtomicInteger
    @volatile private var built: Option[Option[Any]] = None
    def ask(from: Int): Option[Any] =
      if (asks.incrementAndGet() < from) None
      else synchronized { if (built.isEmpty) built = Some(build()); built.get }
    def held: Boolean = built.exists(_.isDefined)
  }

  private val images = new graft.SessionCache[(String, String, Long), Slot](Slots, _._2)

  /** The `kind` image of chain `c`'s store: `build(live versions,
    * share)`, None when it refuses — both memoized — or at budget 0.
    * With `onRepeat` the first serve at a stamp gets None too (its
    * pruned reads serve it) and the second builds: a store written
    * between single reads, as in an ingest loop, pays no image build
    * that no later serve uses. */
  private[graft] def image[V](spark: SparkSession, kind: String, c: Versioned.Chain,
      onRepeat: Boolean = false)(build: (Seq[Int], Long) => Option[V]): Option[V] =
    if (share <= 0) None
    else {
      val budget = share
      Versioned.memo(images, spark, (kind, c.dir, BudgetBytes), c)(vers => new Slot(() => build(vers, budget)))
        .ask(if (onRepeat) 2 else 1).asInstanceOf[Option[V]]
    }

  /** the images held now — spec hook */
  private[graft] def held: Int = images.values.count(_.held)

  /** a graph image from (src, dst, dst_emb) rows, one array per dst */
  private[graft] def adjacency(rows: Array[Row]): Adjacency = {
    val embs = scala.collection.mutable.HashMap.empty[Long, Array[Float]]
    def shared(dst: Long, e: Array[Float]): Array[Float] = embs.get(dst) match {
      case Some(h) if java.util.Arrays.equals(h, e) => h
      case _ => embs(dst) = e; e
    }
    rows.groupBy(_.getLong(0)).map { case (s, es) =>
      s -> es.map(r => (r.getLong(1), shared(r.getLong(1), r.getSeq[Float](2).toArray)))
    }
  }
}
