package graft

import org.apache.spark.sql.SparkSession

/** One place for engine session config so Verify, Bench, and tests
  * run identical settings.
  */
object Sessions {

  /** Apply graft's standard config to a session builder.
    *
    * @param cpus   local parallelism; shuffle partitions match it
    *               (local mode — on a real cluster this would be
    *               ~2-3× total executor cores).
    */
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // r21 (guide §2.2/§2.5): AQE coalescing sizes partitions by BYTES
      // (minPartitionSize default 1m), which serializes compute-dense
      // small shuffles — a few MB of (vector, cell) rows feeding a
      // Σ|cell|² verify join coalesced to 1-2 tasks while 30 cores sat
      // idle (measured: sim_neardup 4.6 s → 3.1 s with the floor
      // lowered). 64k keeps parallelismFirst effective for such stages;
      // at production shuffle sizes partitions are far above either
      // floor, so the setting is inert at scale — it only stops
      // byte-blind coalescing from under-parallelizing small inputs.
      // Parameterised (r22, the scale-dependent-settings rule): the
      // env override exists for scale A/B evidence (PLANS.md records a
      // 10×-corpus run where 64k vs the 1m default produced identical
      // stage task counts on the conf-family queries) — the default
      // stays 64k everywhere.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        sys.env.getOrElse("SPARK_GRAFT_AQE_MIN_PART", "64k"))
      // native function registration at session build
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // events.ts is timestamp[ns]; Spark 4 otherwise refuses the scan
      // (see Tables.events for the long→timestamp rebuild)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table demos (saveAsTable) write here, never the repo
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")

  /** Run `body` at `n` shuffle partitions, then restore the prior
    * width (or unset it) even when `body` throws — the narrow scope a
    * fixed-size fixture's many tiny jobs run under.
    */
  def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body finally prior match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val s = configure(SparkSession.builder().appName(appName), cpus).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
