package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory + testdata table loader.
  *
  * Defaults follow the driver environment: `local[32]` (single JVM, 32
  * executor threads) with `spark.sql.shuffle.partitions` matched to the
  * core count rather than the 200 default — on a real cluster these are
  * set by the submitter, the library never hard-codes cluster topology.
  */
object Graft {

  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Session settings that let each generated class compile once per
    * JVM. Spark keys its codegen cache by (class loader, source), so:
    *  - artifact isolation off: every session and every streaming /
    *    `foreachBatch` clone shares the executor's default class loader
    *    instead of a fresh `ExecutorClassLoader` per clone (the engine
    *    adds no per-session artifacts), so a new stream reuses the
    *    task-side classes the last one compiled;
    *  - a 1000-entry cache: one corpus curation batch with its refresh
    *    increments needs about 190 (loader, source) entries, past the
    *    100-entry default, so each rerun evicted its own classes and
    *    compiled them again.
    * Static confs: set when the session is built. `Graft.session`,
    * `Verify`, `tools.ScaleBench` and the test base all apply them.
    */
  val codegenReuse: Map[String, String] = Map(
    "spark.sql.artifact.isolation.enabled" -> "false",
    "spark.sql.codegen.cache.maxEntries" -> "1000")

  def session(appName: String = "graft"): SparkSession =
    SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config(codegenReuse)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // engine-wide default: keep bucketed scans ON even when no
      // join/agg wants the hash distribution — bucket PRUNING (point
      // lookups on the bucket key) only fires on a bucketed scan, and
      // every other bucketed query here wants the bucketed scan too.
      // Set at bootstrap, not inside a query fn, so results never
      // depend on registry execution order.
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      // File-split sizing: Spark caps each scan's split size at
      // max(openCostInBytes, totalBytes/defaultParallelism). The 4 MB
      // default is tuned for clusters with thousands of input files;
      // on a single-file local fixture it floors every scan at ~2-15
      // splits, so the per-row CPU stages (normalization, shingling,
      // fingerprints) run on a fraction of the 32 cores. 16 KB lets
      // the totalBytes/parallelism term win — every scan self-scales
      // to ~defaultParallelism splits (row-group granularity
      // permitting), the splits >= cores regime a real cluster lives
      // in. Submitters on real clusters override via env.
      .config("spark.sql.files.openCostInBytes",
        sys.env.getOrElse("SPARK_GRAFT_OPEN_COST_BYTES", "16384"))
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** The localCheckpoint RDD backing a just-checkpointed frame — the
    * handle internal operators free checkpoint blocks through:
    * DataFrame.unpersist is a no-op on a LogicalRDD-backed frame, so
    * without an explicit release the blocks linger until the
    * ContextCleaner happens to collect them (a storage leak under
    * repeated calls — measured as 18.9→77 s run-over-run degradation
    * on the sf10 merge face before the release was added).
    */
  private[graft] def checkpointRdd(
      df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.analyzed.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** One TPC-H-ish testdata table (TESTDATA.md). Plain parquet scan so
    * Catalyst pushes filters/projections into the file source.
    *
    * Fixture vintages differ on `events.ts`: older generators wrote
    * parquet TIMESTAMP(NANOS) (readable only as long nanos via
    * `nanosAsLong`); newer ones write TIMESTAMP(MICROS)
    * isAdjustedToUTC=false, which Spark reads as TIMESTAMP_NTZ. The
    * engine's time arithmetic is integer-exact on epoch nanos, so
    * normalize a timestamp-typed `ts` to long epoch nanos here —
    * every use site (and `tsCol` below) then works on either vintage.
    * The rewrite is gated on `name == "events"` (the one fixture table
    * carrying `ts`): a future table with an unrelated timestamp column
    * named `ts` must NOT be silently converted to longs.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name != "events") return df
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(org.apache.spark.sql.types.TimestampType) |
          Some(org.apache.spark.sql.types.TimestampNTZType) =>
        // Session TZ is UTC, so the NTZ→instant cast is the identity
        // wall-clock mapping — the same interpretation DuckDB's
        // epoch_ns applies to naive timestamps. micros→nanos ×1000 is
        // lossless (epoch ~1.7e18 ns < 2^63).
        df.withColumn(
          "ts",
          org.apache.spark.sql.functions.unix_micros(
            org.apache.spark.sql.functions
              .col("ts")
              .cast(org.apache.spark.sql.types.TimestampType)) * 1000L)
      case _ => df
    }
  }

  /** events.ts (long nanos under nanosAsLong) → TimestampType. The
    * testdata carries microsecond resolution, so ns/1000 is lossless —
    * but ONLY with integer division: epoch nanos (~1.7e18) exceed
    * 2^53, so `c / 1000L` (double division) is off by ±1 µs. Decimal
    * division is exact (scale-6 result holds v/1000 exactly) and the
    * long cast truncates the (zero) fraction.
    */
  def tsCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.timestamp_micros(
      (c.cast("decimal(38,0)") / 1000).cast("long"))
}
