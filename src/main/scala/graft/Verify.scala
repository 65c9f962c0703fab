package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Usage: `graft.Verify <sfDir> <outDir> [name,name,...]` — the optional
  * third argument dumps only the named queries (a quick row check for
  * one operator, paired with `tools/check_oracle.py --only`). */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length == 2 || args.length == 3,
      "usage: graft.Verify <sfDir> <outDir> [comma-separated query names]")
    val Array(sfDir, outDir) = args.take(2)
    // default to every core when the driver doesn't set SPARK_GRAFT_CPUS
    val spark = LocalSpark.builder(LocalSpark.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(): Unit
    }
    // optional subset (comma list of query names); without it every
    // query is dumped, the gate's contract
    val only = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { s =>
      val bad = s.filterNot(SparkEntry.queries.contains)
      require(bad.isEmpty, s"unknown query names: ${bad.mkString(",")}")
    }
    val selected = only.map(s => SparkEntry.queries.filter(kv => s(kv._1)))
      .getOrElse(SparkEntry.queries)
    selected.foreach { case (name, fn) =>
      // drop any previous run's output FIRST: a query that now throws
      // before its write starts must not leave stale (green-looking)
      // parquet behind for the compare to read
      val target = new java.io.File(s"$outDir/$name")
      if (target.exists()) rm(target)
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
