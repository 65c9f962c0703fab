package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.FakeEmbedder
import graft.operators.{IvfIndex, PqIndex, SimilaritySearch}
import graft.sources.{Ingest, IvfStore}

/** End-to-end walkthrough of the engine — the reference's whole
  * lifecycle (schema → seed → embed → index → search) on Spark.
  * Usage: runMain graft.tools.Demo [sfDir]
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = LocalSpark.builder(8)
      .appName("graft-demo")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val query = "fast vector search over spark tables"

    println("== 1. ingest: documents -> normalized + embedded store")
    val store = Ingest.embedDocuments(Tables.documents(spark, sfDir), "doc_id")
    store.select("doc_id", "n_chars", "embedding").show(3, truncate = 40)

    println("== 2. exact semantic search (find_similar_customer_records)")
    SimilaritySearch.semanticSearch(spark, sfDir, query, 5).show()

    println("== 3. IVF index: build, persist, partition-pruned probe")
    val emb = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.fit(emb, "embedding", "vec_id", 8, 3)
    val dir = java.nio.file.Files.createTempDirectory("graft_demo_ivf").toString
    IvfStore.write(spark, emb, "embedding", model, dir)
    IvfStore.search(spark, dir, "embedding", "vec_id",
      FakeEmbedder.embed(query), 5, 2).show()

    println("== 4. PQ: 8-byte codes + asymmetric-distance scan + rerank")
    PqIndex.search(emb, "embedding", "vec_id",
      PqIndex.fit(emb, "embedding", "vec_id"), FakeEmbedder.embed(query), 5).show()

    println("== 5. point lookup (get_record_by_id)")
    SimilaritySearch.recordById(Tables.documents(spark, sfDir), "doc_id", 42L)
      .select("doc_id", "lang", "source", "n_chars").show()

    println("== 6. upsert a new doc, immediately searchable")
    import spark.implicits._
    val newDoc = Ingest.embedDocuments(
      Seq((9999L, "fast vector search over spark tables indeed", "en", "src0", 0L))
        .toDF("doc_id", "text", "lang", "source", "n_chars"), "doc_id")
    val updated = Ingest.upsert(store, newDoc, "doc_id")
    SimilaritySearch.knn(updated, "embedding", "doc_id",
      FakeEmbedder.embed(query), 3, "cosine").show()

    spark.stop()
  }
}
