package graft.tools

import graft.LocalSpark
import org.apache.spark.sql.functions._

/** Measured cost of the HEAVYWEIGHT seam implementations (r13): the
  * tokenizer and embedder seams are spec-proven swappable
  * (TokenizerSpec/EmbedderSpec), but a production deployment cares
  * what the swap COSTS. This main times the oracle-pinned defaults
  * against the heavyweight implementations on the same corpus:
  *
  *  - t3 token counting: WhitespaceTokenizer (codegen'd split) vs
  *    [[graft.functions.BpeTokenizer]] — a merges-file byte-pair
  *    encoder (~1.7k synthetic merges, the public merges.txt shape)
  *    loaded once per JVM and applied in batched mapPartitions;
  *  - embed ingest: [[graft.functions.FakeEmbedder]] (per-row expr)
  *    vs [[graft.functions.FileEmbedder]] — a disk-backed weight
  *    matrix (dim 64 × vocab 4096) batch-applied per partition.
  *
  * Corpus: sf0.1 documents, optionally replicated ×copies with the
  * DedupScaleBench token-prefix construction (decade evidence).
  * Per-op: 1 warm + 2 timed passes, min; forced evaluation through an
  * aggregate over the computed column (count() alone would prune the
  * tokenize/embed away). Prints one JSON line.
  *
  * env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  * SPARK_GRAFT_SCALE (default 1), SPARK_GRAFT_CPUS.
  */
object SeamBench {
  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def bench(f: => Unit): Double = { f; Seq(time(f), time(f)).min }

  def main(args: Array[String]): Unit = {
    val src = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val copies = sys.env.getOrElse("SPARK_GRAFT_SCALE", "1").toInt
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val d =
      if (copies <= 1) src
      else {
        // token-prefix replication (the DedupScaleBench construction —
        // token-disjoint copies, so BPE merge behavior is uniform)
        val dir = s"/tmp/graft_seam_scale_$copies"
        val docPath = s"$dir/documents.parquet"
        if (!new java.io.File(s"$docPath/_SUCCESS").exists()) {
          val base = graft.Tables.documents(spark, src)
            .select(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars"))
          val maxId = base.agg(max(col("doc_id"))).first().getLong(0) + 1
          base.crossJoin(spark.range(copies).select(col("id").as("__copy")))
            .select(
              (col("doc_id") + col("__copy") * lit(maxId)).as("doc_id"),
              array_join(transform(split(col("text"), " "),
                t => concat(lit("c"), col("__copy").cast("string"), lit("_"), t)), " ").as("text"),
              col("lang"), col("source"), col("n_chars"))
            .repartition(32)
            .write.mode("overwrite").parquet(docPath)
        }
        dir
      }
    val nDocs = graft.Tables.documents(spark, d).count()

    // synthetic-but-shaped BPE merges: letter-pair merges + depth-2
    // merges (deterministic rank order — the public merges.txt shape)
    val mergesPath = {
      val p = java.nio.file.Files.createTempDirectory("seam_bpe").toString + "/merges.txt"
      val letters = ('a' to 'z').map(_.toString)
      val pairs = (for (a <- letters; b <- letters) yield (a, b)) ++
        (for (a <- letters.take(8); b <- letters.take(8); c <- letters.take(16))
          yield (a + b, c))
      graft.functions.BpeTokenizer.writeMerges(p, pairs)
      p
    }
    val modelPath = {
      val p = java.nio.file.Files.createTempDirectory("seam_model").toString + "/encoder.grft"
      graft.functions.FileEmbedder.writeModel(p, dim = 64, vocab = 4096, seed = 42L)
      p
    }

    // forced evaluation: aggregate over the column the seam computes
    def forceTokens(tok: graft.functions.Tokenizer): Unit = {
      graft.operators.TextOps.tokenCount(spark, d, tok)
        .agg(sum(col("ws_tokens"))).first(): Unit
    }
    def forceEmbed(e: graft.functions.Embedder): Unit = {
      graft.sources.Ingest.embedDocuments(
          graft.Tables.documents(spark, d), "doc_id", e)
        .agg(sum(size(col("embedding")))).first(): Unit
    }

    val tWs = bench(forceTokens(graft.functions.WhitespaceTokenizer))
    val tBpe = bench(forceTokens(graft.functions.BpeTokenizer(mergesPath)))
    val eFake = bench(forceEmbed(graft.functions.FakeEmbedder))
    val eFile = bench(forceEmbed(graft.functions.FileEmbedder(modelPath)))

    def per1k(s: Double): Double = s / nDocs * 1000.0 * 1000.0 // ms per 1k docs
    println(s"""{"metric":"seam_bench","rows":$nDocs,"copies":$copies,""" +
      s""""t3_whitespace_s":${f"$tWs%.2f"},"t3_bpe_s":${f"$tBpe%.2f"},""" +
      s""""t3_bpe_ms_per_1k":${f"${per1k(tBpe)}%.1f"},""" +
      s""""embed_fake_s":${f"$eFake%.2f"},"embed_file_s":${f"$eFile%.2f"},""" +
      s""""embed_file_ms_per_1k":${f"${per1k(eFile)}%.1f"},""" +
      s""""bpe_vs_ws":${f"${tBpe / tWs}%.2f"},"file_vs_fake":${f"${eFile / eFake}%.2f"}}""")
    spark.stop()
  }
}
