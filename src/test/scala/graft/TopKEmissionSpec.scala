package graft

import org.apache.spark.sql.{DataFrame, GraftBridge}
import org.apache.spark.sql.functions._
import org.scalacheck.{Arbitrary, Gen}
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.SrpBanded

/** [[SrpBanded.topKCut]] builds its (vec_id, rk, sim) rows on the
  * driver, rounding with an evaluated Catalyst `Round`, and returns
  * them as a local relation. Checked here against Spark's own
  * `round(col, 6)` and against the DataFrame form it replaced
  * (`toDF` → `round` → `orderBy(rk)`): same doubles bit for bit, same
  * schema, same row order, no Spark job. */
class TopKEmissionSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  import spark.implicits._

  /** the emission as it was built before: a Spark plan over `toDF` */
  private def dataFrameCut(cands: Seq[(Long, Double)], k: Int): DataFrame =
    cands.sortWith(SrpBanded.simDescIdAsc).take(k)
      .zipWithIndex.map { case ((id, s), i) => (id, i + 1, s) }
      .toDF("vec_id", "rk", "sim")
      .select(col("vec_id"), col("rk"), round(col("sim"), 6).as("sim"))
      .orderBy(col("rk"))

  private def bits(d: Double): Long = java.lang.Double.doubleToRawLongBits(d)
  private def rows(df: DataFrame): Seq[(Long, Int, Long)] =
    df.collect().map(r => (r.getLong(0), r.getInt(1), bits(r.getDouble(2)))).toSeq

  private val edges = Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
    0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue, 1e-310, -2.5e-320,
    java.lang.Double.MIN_NORMAL, Double.MaxValue, Double.MinValue, 1.0, -1.0,
    0.1234565, 5e-7, -5e-7, 1.5e-6, 0.9999995, -0.9999995, 1.0000005, 123456.7890125)

  /** half-steps of 1e-6 (x.xxxxxx5), uniform sims, and arbitrary
    * doubles (the whole exponent range) */
  private val simGen: Gen[Double] = Gen.frequency(
    3 -> Gen.choose(-1000000L, 1000000L).map(i => (i * 10 + 5) / 1e7),
    3 -> Gen.choose(-1.0, 1.0),
    2 -> Arbitrary.arbitrary[Double],
    1 -> Gen.oneOf(edges))

  private val sims: Seq[Double] =
    edges ++ Gen.listOfN(4000, simGen).apply(Gen.Parameters.default, Seed(2101L)).get

  test("driver Round.eval equals Spark round(_, 6) bit for bit: NaN, ±Inf, ±0.0, subnormals, MaxValue, half-steps") {
    val cands = sims.zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val local = SrpBanded.topKCut(spark, cands, cands.size).collect()
      .map(r => r.getLong(0) -> bits(r.getDouble(2))).toMap
    // Spark's round in generated code: the projection runs after an
    // exchange, so it is not folded into the local relation
    val viaSpark = cands.toDF("i", "x").repartition(2)
      .select(col("i"), round(col("x"), 6))
      .collect().map(r => r.getLong(0) -> bits(r.getDouble(1))).toMap
    assert(local.size == cands.size)
    cands.foreach { case (i, x) =>
      assert(local(i) == viaSpark(i),
        s"round($x, 6): driver ${java.lang.Double.longBitsToDouble(local(i))} " +
          s"vs Spark ${java.lang.Double.longBitsToDouble(viaSpark(i))}")
    }
  }

  test("rows, order and schema equal the DataFrame form; collect order is rk") {
    val cands = sims.zipWithIndex.map { case (s, i) => (i.toLong % 997, s) }
    Seq(1, 10, 500, cands.size).foreach { k =>
      val cut = SrpBanded.topKCut(spark, cands, k)
      val old = dataFrameCut(cands, k)
      assert(cut.schema == old.schema,
        s"schema: ${cut.schema.treeString} vs ${old.schema.treeString}")
      val got = rows(cut)
      assert(got == rows(old), s"k=$k: rows differ")
      assert(got.map(_._2) == (1 to math.min(k, cands.size)), s"k=$k: not in rk order")
    }
  }

  test("an empty candidate list and k past the candidate count behave as before") {
    val none = SrpBanded.topKCut(spark, Nil, 10)
    assert(none.collect().isEmpty && none.schema == dataFrameCut(Nil, 10).schema)
    val three = Seq((7L, 0.5), (3L, 0.5), (9L, 0.25))
    val cut = SrpBanded.topKCut(spark, three, 10)
    assert(rows(cut) == rows(dataFrameCut(three, 10)))
    assert(rows(cut).map(r => (r._1, r._2)) == Seq((3L, 1), (7L, 2), (9L, 3)))
  }

  test("collecting the emitted top-k runs no Spark job") {
    val cut = SrpBanded.topKCut(spark, sims.take(50).zipWithIndex.map {
      case (s, i) => (i.toLong, s) }, 10)
    val sc = spark.sparkContext
    sc.setJobGroup("topk-emission", "topk-emission", interruptOnCancel = false)
    try cut.collect() finally sc.clearJobGroup()
    GraftBridge.drainListenerBus(spark)
    assert(sc.statusTracker.getJobIdsForGroup("topk-emission").isEmpty)
  }
}
