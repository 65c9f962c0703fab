package graft.tools

import graft.LocalSpark

/** A/B probe for the partitioned store write's commit overhead.
  *
  * The SrpStore `banded/` layout is 2048 partition dirs at ANY corpus
  * size (the probe-read contract), so the WRITE pays per-dir commit
  * cost: FileOutputCommitter v1 moves every task's output into place
  * with driver-side sequential renames at job commit — O(dirs) driver
  * time regardless of data volume. Algorithm v2 renames at TASK
  * commit, in parallel across executors. This main times
  * `SrpStore.write` under both algorithms (fresh temp dir each rep)
  * so the session-builder default is a measured choice, not a guess.
  *
  * v2's known trade (partial files visible if a job dies mid-commit)
  * is acceptable for every graft store: merge-on-read stores gate
  * readers on marker files created AFTER the data write, and
  * overwrite-mode store builds are re-runnable from scratch.
  */
object StoreWriteProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "3").toInt
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val hc = spark.sparkContext.hadoopConfiguration
    def run(algo: Int): Seq[Double] = {
      hc.setInt("mapreduce.fileoutputcommitter.algorithm.version", algo)
      (1 to reps).map { _ =>
        val dir = java.nio.file.Files.createTempDirectory("swprobe").toString
        val t0 = System.nanoTime()
        graft.sources.SrpStore.write(spark, sfDir, dir)
        val dt = (System.nanoTime() - t0) / 1e9
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(): Unit
        }
        rm(new java.io.File(dir))
        dt
      }
    }
    run(1).take(1) // warmup: codegen + banding plan, discarded
    val v1 = run(1)
    val v2 = run(2)
    hc.setInt("mapreduce.fileoutputcommitter.algorithm.version", 1)
    def fmt(xs: Seq[Double]) = xs.map(x => f"$x%.2f").mkString("[", ",", "]") +
      f" min ${xs.min}%.2f"
    // phase decomposition: where does the write actually spend time?
    // (banding compute+cache) vs (2048-dir partitioned write) vs
    // (compact banding/ write)
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.SaveMode
    val phases = (1 to reps).map { _ =>
      val dir = java.nio.file.Files.createTempDirectory("swphase").toString
      val emb = graft.Tables.embeddings(spark, sfDir)
        .filter(col("embedding").isNotNull &&
          size(col("embedding")) === graft.operators.SrpBanded.Dim)
        .select(col("vec_id"), col("embedding"))
      val t0 = System.nanoTime()
      val banded = graft.operators.SrpBanded
        .bandedOf(emb, graft.operators.SrpBanded.Dim, graft.operators.SrpBanded.RowsPerBand)
        .select(col("vec_id"), col("embedding"), col("band"), col("bk")).cache()
      banded.count()
      val t1 = System.nanoTime()
      banded.repartition(col("band"), col("bk"))
        .write.mode(SaveMode.Overwrite).partitionBy("band", "bk")
        .parquet(s"$dir/banded")
      val t2 = System.nanoTime()
      banded.select(col("vec_id"), col("band"), col("bk"))
        .withColumn("__ver", lit(0))
        .write.mode(SaveMode.Overwrite).partitionBy("__ver")
        .parquet(s"$dir/banding/data")
      val t3 = System.nanoTime()
      banded.unpersist()
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles().foreach(rm)
        f.delete(): Unit
      }
      rm(new java.io.File(dir))
      ((t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    val pj = phases.map { case (a, b, c) => f"""["$a%.2f","$b%.2f","$c%.2f"]""" }.mkString(",")
    // layout variants on the identical cached frame: is the cost per
    // DIR (2048 of them), per FILE, or per ROW?
    val banded2 = {
      val emb = graft.Tables.embeddings(spark, sfDir)
        .filter(col("embedding").isNotNull &&
          size(col("embedding")) === graft.operators.SrpBanded.Dim)
        .select(col("vec_id"), col("embedding"))
      val b = graft.operators.SrpBanded
        .bandedOf(emb, graft.operators.SrpBanded.Dim, graft.operators.SrpBanded.RowsPerBand)
        .select(col("vec_id"), col("embedding"), col("band"), col("bk")).cache()
      b.count(); b
    }
    def timedWrite(label: String)(f: String => Unit): (String, Double) = {
      val dir = java.nio.file.Files.createTempDirectory("swvar").toString
      val t0 = System.nanoTime()
      f(dir)
      val dt = (System.nanoTime() - t0) / 1e9
      def rm(g: java.io.File): Unit = {
        if (g.isDirectory) g.listFiles().foreach(rm)
        g.delete(): Unit
      }
      rm(new java.io.File(dir))
      label -> dt
    }
    val variants = Seq(
      timedWrite("flat_unpartitioned") { dir =>
        banded2.repartition(col("band"), col("bk")).write.parquet(s"$dir/x")
      },
      timedWrite("partitionBy_band_8dirs") { dir =>
        banded2.repartition(col("band")).sortWithinPartitions(col("bk"))
          .write.partitionBy("band").parquet(s"$dir/x")
      },
      timedWrite("partitionBy_band_bg_64dirs") { dir =>
        banded2.withColumn("bg", shiftright(col("bk"), 5))
          .repartition(col("band"), col("bg")).sortWithinPartitions(col("bk"))
          .write.partitionBy("band", "bg").parquet(s"$dir/x")
      },
      timedWrite("partitionBy_band_bk_2048dirs") { dir =>
        banded2.repartition(col("band"), col("bk"))
          .write.partitionBy("band", "bk").parquet(s"$dir/x")
      })
    val vj = variants.map { case (k, v) => s""""$k":${f"$v%.2f"}""" }.mkString(",")
    println(s"""{"probe":"srp_store_write","sf":"$sfDir","v1":${fmt(v1)},"v2":${fmt(v2)},"phases_band_part_compact":[$pj],"variants":{$vj}}""")
    spark.stop()
  }
}
