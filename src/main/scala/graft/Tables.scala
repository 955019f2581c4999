package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loader for the driver-provided synthetic star schema (TESTDATA.md).
  * One parquet file per table under the scale-factor directory.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // Per-(session, dir, table) memo of the LOADED PLAN — metadata
  // caching only (file listing + parquet footer schema), the same
  // thing a catalog-registered table gives a session for free. A bare
  // `spark.read.parquet(path)` re-lists the directory and re-reads the
  // footer on EVERY call (~120 ms measured warm at sf0.1), and the
  // bench surface issues ~550 loads per run — ~60 s/run of pure
  // metadata overhead (optimization guide §6: repeated listings are a
  // known scan-planning tax; formats with manifest metadata exist to
  // kill it). Execution is untouched: every action on the memoized
  // frame still scans the parquet files from disk — no row, column or
  // result is cached (the frame is a logical plan, not data). Keyed on
  // the session object so isolated sessions never share plans; the
  // fixture dirs are immutable for a session's lifetime (driver
  // contract), which is the precondition a catalog table relies on
  // anyway.
  private val memo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    memo.computeIfAbsent((spark, sfDir, name),
      _ => doLoad(spark, sfDir, name))

  /** Spread a frame over the session's full parallelism before HEAVY
    * per-row work, IF its scan arrives with fewer partitions than the
    * session can run. The driver fixtures are single-row-group parquet
    * files, so every scan is ONE Spark partition and a map-heavy stage
    * runs single-threaded on local[32]; at a real deployment the scan
    * already has ≥ parallelism splits and this adds NO shuffle.
    *
    * Deliberately an OPT-IN per-operator helper, not a universal
    * load-time repartition: the r14 A/B (12-query subset, runs=5,
    * idle) measured a universal version costing +8.0 s across cheap-
    * aggregation and multi-action queries — every extra driver action
    * re-pays the full-table exchange, and for a scan feeding one
    * aggregate the shuffle of whole rows costs more than the serial
    * map work it parallelizes (guide §2.4: remove shuffles outright;
    * §8: don't move payload bytes to make a cheap decision). Only
    * operators whose per-row work measurably dominates the exchange
    * (codecs, per-row hashing of every byte of text) should call this.
    * Hash (not round-robin) keeps the row→partition map deterministic
    * under retries; callers' outputs are partitioning-independent by
    * contract (the driver re-runs the bench at a lower core count).
    */
  def spread(df: DataFrame, key: String): DataFrame = {
    val par = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    if (df.rdd.getNumPartitions >= par) df
    else df.repartition(par, col(key))
  }

  private def doLoad(spark: SparkSession, sfDir: String,
                     name: String): DataFrame = {
    // events.ts is parquet TIMESTAMP(NANOS), which Spark's vectorized
    // reader rejects; sessions set spark.sql.legacy.parquet.nanosAsLong
    // so it arrives as a nanos-since-epoch long — normalize it back to a
    // proper TimestampType (µs, lossless for this data) here.
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events" &&
        df.schema.fields.exists(f => f.name == "ts" && f.dataType == LongType)) {
      df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
    } else if (name == "events" &&
        df.schema.fields.exists(f =>
          f.name == "ts" && f.dataType == TimestampNTZType)) {
      // the fixture has also shipped as TIMESTAMP(µs) without UTC
      // adjustment, which Spark reads as TIMESTAMP_NTZ; sessions pin
      // timeZone=UTC, so the NTZ→LTZ cast reinterprets the wall clock
      // at the same instant. Normalize to TimestampType here once, so
      // every reader sees one `ts` type whichever way the fixture shipped.
      df.withColumn("ts", col("ts").cast(TimestampType))
    } else df
  }
}
