package graft

import org.apache.spark.sql.SparkSession

/** The one local-mode session every graft main (and the test session)
  * starts from: `local[cpus]`, one shuffle partition per core, AQE,
  * UTC timestamps, no UI. Callers chain their own extras (app name,
  * scheduler mode, scale-specific shuffle settings) onto the builder;
  * a later `.config` of the same key wins. */
object LocalSpark {
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // typed top-k partial aggregates (TopKPairs) must stay on the hash
      // path: the 128-key default fallback re-SORTS (and at scale, spills)
      // the candidate stream the aggregate exists to avoid sorting
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.ui.enabled", "false")

  /** `SPARK_GRAFT_CPUS`, else every core on the box */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())
}
