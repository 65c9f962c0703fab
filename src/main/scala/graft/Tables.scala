package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated star schema (TESTDATA.md).
  *
  * Each loader is a bare parquet scan — projection and predicates are
  * left to the caller so Catalyst pushes them into the scan
  * (`PushedFilters` / `ReadSchema`). At cluster scale these paths
  * would be partitioned directories; the API shape is unchanged.
  */
object Tables {
  // Memoize the analyzed scan per (session, dir, table): a fresh
  // `spark.read.parquet` re-lists files and re-reads the footer schema
  // on EVERY call, a fixed ~50-100 ms tax on each of the ~70 inventory
  // queries. The DataFrame handle is lazy (no data pinned). The cache
  // pins the file listing captured at first read — writers that
  // rewrite a table directory must call [[invalidate]] (Ingest does).
  // On a real deployment this role is played by the catalog/metastore,
  // with the same REFRESH TABLE contract.
  private val scanCache = new SessionCache[(String, String), DataFrame](512, _._1)

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    scanCache.getOrElseUpdate(spark, (sfDir, name)) {
      spark.read.parquet(s"$sfDir/$name.parquet")
    }

  /** REFRESH TABLE: drop every memo derived from files under (or
    * containing) `pathPrefix` — cached scans, index models, stores,
    * checkpointed graphs — through [[SessionCache]]'s one registry.
    * Call after overwriting a directory outside the version protocol
    * (the corpus tables, an IVF store's lists, the filtered metadata);
    * a versioned store's memos follow its live version stamp instead
    * ([[graft.sources.Versioned.memo]]). */
  def invalidate(pathPrefix: String): Unit = SessionCache.invalidateAll(pathPrefix)

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** events.parquet stores TIMESTAMP(NANOS), which Spark's vectorized
    * reader rejects; read nanos as long and floor-convert to the
    * engine's micros timestamp (`div` stays in exact integer
    * arithmetic — ns epochs overflow double precision). */
  def eventsRaw(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    table(s, d, "events")
  }

  /** Normalize a raw events frame so every physical encoding the driver
    * has generated lands on the same UTC `TimestampType` column:
    *  - TIMESTAMP(NANOS) read as long (legacy flag above) → floor-divide
    *    to micros in exact integer arithmetic (ns epochs overflow double);
    *  - TIMESTAMP_MICROS with isAdjustedToUTC=false → Spark 4 infers
    *    TIMESTAMP_NTZ; the session TZ is pinned to UTC in every entry
    *    point, so a cast reinterprets the naive value as UTC — exactly
    *    what DuckDB's `epoch_ms` does on naive timestamps;
    *  - TIMESTAMP_MICROS/UTC → already TimestampType, pass through.
    */
  def eventsNormalize(raw: DataFrame): DataFrame =
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // the cast reinterprets the naive value in the SESSION zone;
        // every entry point here pins UTC (build.sbt, Bench, Verify,
        // the spec session) — fail loudly rather than silently
        // diverge from the oracle if an embedding application forgot
        val tz = raw.sparkSession.conf.get("spark.sql.session.timeZone", "")
        require(tz == "UTC",
          s"events.parquet carries TIMESTAMP_NTZ; set spark.sql.session.timeZone=UTC " +
            s"(found '$tz') so the naive->UTC reinterpretation matches the engine contract")
        raw.withColumn("ts",
          org.apache.spark.sql.functions.col("ts")
            .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }

  def events(s: SparkSession, d: String): DataFrame =
    eventsNormalize(eventsRaw(s, d))
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
