package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Upsert inputs shared by the versioned-store specs. */
object StoreFixtures {

  /** Run `f` with sized store writes (full builds and folds) dividing
    * by `b` bytes per bucket instead of [[graft.sources.StoreLayout.BucketBytes]]. */
  def withBucketBytes[A](b: Long)(f: => A): A = {
    val old = graft.sources.StoreLayout.bucketBytes
    graft.sources.StoreLayout.bucketBytes = b
    try f finally graft.sources.StoreLayout.bucketBytes = old
  }

  /** Run `f` with the driver-image budget at `b` bytes
    * ([[graft.sources.Resident.BudgetBytes]]); 0 forces every serve
    * onto its distributed pruned reads. */
  def atBudget[A](b: Long)(f: => A): A = {
    val old = graft.sources.Resident.BudgetBytes
    graft.sources.Resident.BudgetBytes = b
    try f finally graft.sources.Resident.BudgetBytes = old
  }

  /** Run `f` with every sized store write at its cap — the fixed pb
    * layout stores had before they were sized, many buckets even on the
    * spec corpus, which sizes to one. */
  def atCap[A](f: => A): A = withBucketBytes(1L)(f)

  /** `n` new ids on HNSW layer >= 1, each a near twin of an existing
    * layer >= 1 member (so an upsert of any of them gives every graph
    * store a non-empty delta), and a post-ingest corpus dir (`tag`
    * names it) holding the corpus embeddings plus the new ids. */
  def layerTwins(spark: SparkSession, sf: String, n: Int, tag: String)
      : (Seq[(Long, Array[Float])], String) = {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf)
      .filter(col("embedding").isNotNull && size(col("embedding")) === 64)
      .select(col("vec_id"), col("embedding"))
    val upper = graft.operators.Hnsw.levelCol(col("vec_id")) >= 1
    val maxId = emb.agg(max(col("vec_id"))).first().getLong(0)
    val newIds = spark.range(maxId + 1, maxId + 257).toDF("vec_id")
      .filter(upper).as[Long].collect().sorted.take(n)
    val twins = emb.filter(upper).orderBy(col("vec_id")).as[(Long, Array[Float])]
      .take(n).zipWithIndex.map { case ((_, v), i) => v.updated(i, v(i) + 0.01f) }
    val news = newIds.toSeq.zip(twins)
    val d2 = java.nio.file.Files.createTempDirectory(s"${tag}_corpus").toString
    emb.union(news.toDF("vec_id", "embedding"))
      .write.mode("overwrite").parquet(s"$d2/embeddings.parquet")
    (news, d2)
  }
}
