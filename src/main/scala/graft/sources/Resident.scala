package graft.sources

import org.apache.spark.sql.{Row, SparkSession}
import graft.operators.SrpBanded

/** Driver images of small stores, the way the reference serves from an
  * index held in memory (`sql/05_vector_index.sql:3-6`): the HNSW upper
  * layers, an [[EdgeStore]] and an [[SrpStore]]'s buckets. A warm serve
  * whose steps all hit images runs no Spark job. One budget bounds every
  * image: an image is admitted when its rows, read from parquet footers
  * with no Spark job (they over-count superseded rows and tombstones,
  * the safe direction), times a per-row estimate fit one [[share]];
  * otherwise its serve keeps the pruned reads, with the same rows. An
  * image is built once per (kind, store, budget) and live version stamp
  * of its chain, so a commit by any process is seen by the next serve.
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

  /** a graph image: src → (dst, dst_emb) */
  type Adjacency = Map[Long, Array[(Long, Array[Float])]]

  private val images = new graft.SessionCache[(String, String, Long), Option[Any]](Slots, _._2)

  /** The `kind` image of chain `c`'s store: `build(live versions,
    * share)`, None when it refuses — both memoized — or at budget 0. */
  private[graft] def image[V](spark: SparkSession, kind: String, c: Versioned.Chain)(
      build: (Seq[Int], Long) => Option[V]): Option[V] =
    if (share <= 0) None
    else Versioned.memo(images, spark, (kind, c.dir, BudgetBytes), c)(build(_, share))
      .asInstanceOf[Option[V]]

  /** the images held now — spec hook */
  private[graft] def held: Int = images.values.count(_.isDefined)

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
