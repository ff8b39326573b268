package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Parquet table loaders for the driver-generated corpus at
  * /root/testdata/sf*. One file per table (TESTDATA.md). All reads go
  * through here so scan options stay consistent engine-wide.
  */
object Tables {
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame    = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = load(s, d, "lineitem")
  /** events.ts arrives in one of three physical forms depending on
    * the corpus generation vintage, all meaning the same UTC instant:
    *   - parquet timestamp[ns]: Spark 4 refuses the scan unless
    *     spark.sql.legacy.parquet.nanosAsLong=true (set by
    *     [[Sessions.configure]]) turns it into LongType nanos; we
    *     floor-divide to micros with integer `div` (a double division
    *     would lose precision at 2^63-scale nanos) and rebuild the
    *     TimestampType column;
    *   - parquet timestamp[us] isAdjustedToUTC=false: Spark reads
    *     TIMESTAMP_NTZ, which unix_micros/window functions reject;
    *     the session TZ is pinned UTC, so a cast to TimestampType is
    *     an exact micros-preserving relabel;
    *   - TimestampType already: pass through.
    * DuckDB oracles CAST ts to TIMESTAMP (us) and see the identical
    * micros in every case.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Fan a compute-heavy input out to the session's parallelism when —
    * and only when — its scan has fewer splits than cores (r21, guide
    * §2.5 "unsplittable input → repartition immediately after the
    * read"): the fixture tables are single-row-group parquet files, so
    * a corpus-sized tokenize/signature pass before the first exchange
    * otherwise runs in ONE task. On a corpus whose scan already splits
    * ≥ parallelism no exchange is planned at all, so production plans
    * are untouched. Reserve for one-time BUILD passes whose per-row
    * work dwarfs the row's bytes; serves/deltas stay unfanned.
    */
  def fanOutScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    // the split-count probe (df.rdd.getNumPartitions) forces physical
    // planning + an RDD instantiation on the driver at every call
    // site; memoize it per (session, input file set) — r22, r21
    // ADVICE — so repeat invocations over the same files (every warm
    // bench pass, every estate-row rebuild) skip the probe. Callers
    // pass narrow scan+project shapes, whose RDD partition count IS
    // the scan's split count, so the file set determines it; the
    // decision is perf-only either way (fanned or not, results are
    // identical). A frame with no input files (in-memory, checkpointed)
    // has no file set to key on, so it is probed every time.
    val files = df.inputFiles
    val splits =
      if (files.isEmpty) df.rdd.getNumPartitions
      else fanSplitCache.computeIfAbsent(
        s"${System.identityHashCode(df.sparkSession)}|" +
          files.sorted.mkString(","),
        _ => df.rdd.getNumPartitions)
    if (splits < p) df.repartition(p) else df
  }
  private val fanSplitCache =
    new java.util.concurrent.ConcurrentHashMap[String, Int]()
}
