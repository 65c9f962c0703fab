package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{HammingDistance, HammingIndex, SrpBanded}
import graft.sources.{CodeStore, SigStore, TempStores, Versioned}

/** The driver images serve the rows their distributed reads serve: the
  * code image's Hamming twin scores every row as the
  * [[HammingDistance]] kernel does, interpreted and codegen'd, and its
  * shortlist keeps the (ham ASC NULLS FIRST, vec_id ASC) cut through
  * ties; v37 and d13 return identical rows from the images and at
  * budget 0. */
class CodeImageSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val sf = SparkTestSession.Sf

  private val B = SrpBanded.Bands
  private val rnd = new scala.util.Random(20261021L)
  private def key(): java.lang.Long = rnd.nextLong()

  private val RawSchema = StructType(Seq(
    StructField("vec_id", LongType), StructField("keys", ArrayType(LongType)),
    StructField("embedding", ArrayType(FloatType)), StructField("__ver", IntegerType)))

  /** raw code rows of versions 0 and 1: random keys, keys shorter than
    * `Bands`, keys with a null element, runs of one key and of its
    * one-bit neighbours (ties on ham), version-1 re-codes and null-keys
    * tombstones */
  private def rawRows(n: Int): (Seq[Row], Seq[java.lang.Long]) = {
    val tie = Seq.fill(B)(key())
    def flipped: Seq[java.lang.Long] = {
      val b = rnd.nextInt(B)
      tie.updated(b, tie(b) ^ (1L << rnd.nextInt(64)))
    }
    val emb = Array.fill(SrpBanded.Dim)(rnd.nextFloat())
    val base = (0 until n).map { i =>
      val keys: Seq[java.lang.Long] = i % 8 match {
        case 0 => Seq.fill(rnd.nextInt(B))(key())
        case 1 => val at = rnd.nextInt(B); Seq.tabulate(B)(b => if (b == at) null else key())
        case 2 | 3 => tie
        case 4 | 5 => flipped
        case _ => Seq.fill(B + rnd.nextInt(2))(key())
      }
      Row(((i * 7919L) % n) + 1, keys.asJava, emb.toSeq.asJava, 0)
    }
    val deltas = (1L to n by 5).map(id => Row(id, (if (id % 2 == 0) tie else flipped).asJava, emb.toSeq.asJava, 1)) ++
      (3L to n by 5).map(id => Row(id, null, null, 1))
    (base ++ deltas, tie)
  }

  /** the kernel, interpreted, on one key array */
  private def interpreted(keys: java.util.List[java.lang.Long], q: Array[Long]): Option[Int] = {
    val e = HammingDistance(BoundReference(0, ArrayType(LongType), nullable = true), q)
    Option(e.eval(InternalRow(if (keys == null) null else new GenericArrayData(keys.asScala.toArray[Any]))))
      .map(_.asInstanceOf[Int])
  }

  test("the Hamming twin equals the kernel, interpreted and codegen'd; the shortlist cut holds through ties") {
    val root = Files.createTempDirectory("code-image").toString
    try {
      val (rows, tie) = rawRows(400)
      spark.createDataFrame(rows.asJava, RawSchema).write.partitionBy("__ver").parquet(s"$root/data")
      val raw = spark.read.parquet(s"$root/data")
      val image = CodeStore.imageOf(raw)
      // the distributed serve's view: latest version per id, tombstones dropped
      val resolved = Versioned.latest(raw, Seq(0, 1), "vec_id").filter(col("keys").isNotNull)
      val live = resolved.select(col("vec_id"), col("keys")).collect()
        .map(r => r.getLong(0) -> r.getList[java.lang.Long](1)).sortBy(_._1)
      assert(image.rows == live.length, s"image holds ${image.rows} rows, the resolved view ${live.length}")
      val queries = Seq(tie.map(_.longValue).toArray, tie.map(_.longValue ^ 1L).toArray) ++
        Seq.fill(6)(Array.fill(B)(rnd.nextLong()))
      queries.foreach { q =>
        val scored = resolved.select(col("vec_id"), HammingIndex.hammingCol(q.toSeq).as("ham"))
        val codegen = scored.collect().map(r => r.getLong(0) -> Option.when(!r.isNullAt(1))(r.getInt(1))).toMap
        assert(scored.queryExecution.executedPlan.toString.contains("*("), "the kernel ran outside codegen")
        live.zipWithIndex.foreach { case ((id, keys), i) =>
          val twin = Option(image.ham(i, q)).filter(_ >= 0)
          assert(twin == interpreted(keys, q), s"id $id: twin $twin, interpreted ${interpreted(keys, q)}")
          assert(twin == codegen(id), s"id $id: twin $twin, codegen'd ${codegen(id)}")
        }
        // the whole order, then cuts at every tie boundary of the first 128
        val ordered = scored.orderBy(col("ham").asc, col("vec_id").asc).collect()
        assert(image.shortlist(q, Int.MaxValue) == ordered.map(_.getLong(0)).toSeq)
        val hams = ordered.map(r => Option.when(!r.isNullAt(1))(r.getInt(1)))
        val cuts = (1 until math.min(128, hams.length)).filter(j => hams(j) == hams(j - 1))
        assert(cuts.nonEmpty, "no tie at a shortlist boundary")
        cuts.foreach { w =>
          val distributed = scored.orderBy(col("ham").asc, col("vec_id").asc).limit(w)
            .collect().map(_.getLong(0)).toSeq
          assert(image.shortlist(q, w) == distributed, s"width $w")
        }
      }
    } finally TempStores.delete(root)
  }

  test("v37 and d13 return identical rows from the images and at budget 0") {
    val v37 = SparkEntry.queries("v37_hamming_stored")
    val d13 = SparkEntry.queries("d13_incremental_neardup")
    def rows(df: DataFrame): Seq[Row] = df.collect().toSeq
    // a stamp's first serve takes the pruned reads, the second the images
    val (firstCode, code) = (rows(v37(spark, sf)), rows(v37(spark, sf)))
    assert(code.nonEmpty && code == firstCode && CodeStore.lastShortlistSource == "resident")
    val (firstPairs, pairs) = (rows(d13(spark, sf)), rows(d13(spark, sf)))
    assert(pairs.nonEmpty && pairs == firstPairs &&
      SigStore.lastProbeSource == "resident" && SigStore.lastTextSource == "resident")
    StoreFixtures.atBudget(0L) {
      assert(rows(v37(spark, sf)) == code && CodeStore.lastShortlistSource == "pruned")
      assert(rows(d13(spark, sf)) == pairs &&
        SigStore.lastProbeSource == "pruned" && SigStore.lastTextSource == "pruned")
    }
  }
}
