package graft.sources

import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Text source/sink surface of the reference engine:
  *
  *  - source: line-oriented text over ≥1 paths with file provenance
  *    (reference reads one whole file per map task,
  *    internal/worker/worker.go:75-81; per-file identity only affects
  *    task granularity, which Spark derives from splits — we expose
  *    provenance via input_file_name() for parity).
  *  - sink: one output file per reduce partition, lines "key value",
  *    keys sorted ascending (UTF-8 byte order, as Go's sort.Strings)
  *    within each file — byte-compatible with mr-out-{job}-{task}
  *    (worker.go:128-141).
  *
  * Scale notes: the sink's partition count maps to the reference's
  * nReduce; Spark's Murmur3 hash partitioning on the key is the same
  * routing as ihash(key) % nReduce (worker.go:84-88) modulo the hash
  * function, which the reference itself treats as an implementation
  * detail.
  */
object TextIO {

  /** Read text files line-by-line with source-file provenance. */
  def readLines(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.text(paths: _*)
      .select(input_file_name().as("file"), col("value").as("line"))

  /** Robust JSONL ingestion: explicit schema (no inference pass — at
    * 100 TB inference is a full extra read), PERMISSIVE parse, and
    * malformed lines QUARANTINED into `_corrupt_record` instead of
    * killing the job — on a web-scale corpus some fraction of lines
    * is always broken, and dropping them silently (or dying on the
    * first one) are both wrong defaults. Callers split the result on
    * `_corrupt_record IS NULL` into clean rows and a quarantine sink.
    *
    * Spark caveat encoded here: a query that selects ONLY the corrupt
    * column is disallowed (the parser would need to re-run), so the
    * quarantine split must keep at least one data column — the spec
    * pins this usage.
    */
  def readJsonlRobust(spark: SparkSession, paths: Seq[String],
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.read
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .json(paths: _*)

  /** The reference EP1 pipeline over raw text files: tokenize (alpha
    * runs) → count per word. Equivalent of
    * `spark.read.textFile(files) |> MapFunc |> shuffle |> ReduceFunc`.
    */
  def wordCountFromText(spark: SparkSession, paths: Seq[String]): DataFrame =
    readLines(spark, paths)
      .select(explode(TextFns.alphaTokens(col("line"))).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("cnt"))

  /** Write (key, value) rows as the reference's output format:
    * EXACTLY nReduce hash-partitioned files (empty partitions
    * included, like mr-out-{job}-{task}), "key value" lines, keys
    * sorted ascending within each file (worker.go:128-141). A null
    * key or value is written as `null`; null keys sort first.
    *
    * Routing and the per-file sort run in Spark SQL: one
    * `repartition(nReduce, k)` exchange (Murmur3 `pmod`, where the
    * reference uses `ihash`; it treats the hash function as a
    * detail), then `sortWithinPartitions(k)`, whose UTF-8 byte order
    * is Go's `sort.Strings` order. Only the last step drops to an RDD:
    * `saveAsTextFile` writes one `part-NNNNN` file per partition,
    * empty ones included, where the DataFrame writer skips them. The
    * file count holds because AQE never coalesces a
    * `repartition(n, col)`; when nReduce equals
    * `spark.sql.shuffle.partitions`, `EnsureRequirements` drops the
    * repartition into the aggregate's own exchange and AQE keeps that
    * exchange at nReduce partitions (TextIOJobSpec pins both).
    */
  def writeKV(df: DataFrame, keyCol: String, valCol: String,
              path: String, nReduce: Int): Unit = {
    val spark = df.sparkSession
    val hconf = spark.sparkContext.hadoopConfiguration
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(hconf)
    if (fs.exists(p)) fs.delete(p, true)
    kvPartitions(df, keyCol, valCol, nReduce)
      .queryExecution.toRdd
      .map(r => s"${r.getUTF8String(0)} ${r.getUTF8String(1)}")
      .saveAsTextFile(path)
  }

  /** The (k, v) string rows [[writeKV]] writes, in nReduce
    * hash-partitioned, key-sorted partitions. */
  private[graft] def kvPartitions(df: DataFrame, keyCol: String, valCol: String,
                                  nReduce: Int): DataFrame =
    df.select(col(keyCol).cast("string").as("k"), col(valCol).cast("string").as("v"))
      .repartition(nReduce, col("k"))
      .sortWithinPartitions("k")

  /** Full sink→source round trip through the reference's on-disk
    * format: word-count the documents table, write it as nReduce
    * `"key value"` reduce-output files (the reference's mr-out
    * contract), then read it back through the DataSource V2
    * (`KVDataSource`) as a real table. Oracle = the word count SQL
    * itself, so the compare proves byte-level sink/source fidelity
    * cross-engine, not just Spark-reads-what-Spark-wrote.
    */
  def kvRoundTrip(spark: SparkSession, dir: String, nReduce: Int = 10): DataFrame = {
    val out = s"/tmp/graft_kv_rt_${new java.io.File(dir).getName}"
    writeKV(graft.operators.WordCount.alpha(spark, dir), "word", "cnt", out, nReduce)
    spark.read.format("graft.sources.KVDataSource").load(out)
      .select(col("key").as("word"), col("value").as("cnt"))
      .orderBy("word")
  }

  /** Read back a writeKV directory into (key, value) rows. */
  def readKV(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(
        substring_index(col("value"), " ", 1).as("key"),
        substring_index(col("value"), " ", -1).as("value"))
}
