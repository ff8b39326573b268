package perfbench

import graft.{SparkEntry, Tables}
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** curation_batch: non-eager, oracle-checked LLM-curation registry rows
  * run back to back, each pass in a seeded order, over a seeded corpus.
  * Every row is timed through a full materialization (collect), never
  * a count.
  */
final class CurationLoad extends Workload {
  val rows: Seq[String] = Seq("sim_neardup", "sem_dedup_keep",
    "dedup_minhash_md5", "dedup_simhash_md5", "dedup_ngram", "dedup_winnow",
    "tfidf_keywords", "text_repetition", "emb_kmeans", "emb_pq", "sim_topk",
    "mm_phash_dedup", "fuzzy_name_match", "batch_pack")
  private val (nDocs, nVecs, nCust) = (1000, 500, 2000)
  private var dir = ""
  private val reference = mutable.HashMap[String, Array[Row]]()
  private val runs = mutable.HashMap[String, Int]().withDefaultValue(0)
  private val passWalls = mutable.ArrayBuffer[Double]()

  override def prepare(ctx: Ctx, spark: SparkSession): Unit = {
    require(rows.forall(r => SparkEntry.queries.contains(r) &&
      SparkEntry.oracleSql.contains(r) && !SparkEntry.eagerQueries.contains(r)),
      "every curation row must be a non-eager registry row with an oracle")
    val d = ctx.args.inputs.resolve(s"corpus-s${ctx.args.seed}-$nDocs-$nVecs-$nCust")
    Gen.corpus(spark, d, ctx.args.seed, nDocs, nVecs, nCust)
    dir = d.toAbsolutePath.toString
  }

  /** Nothing to build: the fixture is resolving the corpus tables. */
  def fixture(ctx: Ctx, spark: SparkSession, iter: Int): Unit = {
    Tables.documents(spark, dir).schema
    Tables.embeddings(spark, dir).schema
    Tables.customer(spark, dir).schema
  }

  /** Drop the row's cached and checkpointed blocks between rows,
    * outside the timer, as graft.Bench does.
    */
  private def clearCaches(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def measure(ctx: Ctx, spark: SparkSession): Unit = {
    val rnd = ctx.rnd(17)
    // a traced run holds two passes, so each row has an untraced twin
    while (!ctx.pastDeadline || (ctx.tracer.isDefined && passWalls.size < 2)) {
      if (passWalls.nonEmpty) ctx.nextCycle()
      var pass = 0.0
      rnd.shuffle(rows).foreach { name =>
        var result: Array[Row] = null
        val op = ctx.timed(name) { op =>
          val df = SparkEntry.queries(name)(spark, dir)
          op.buildEndNs = System.nanoTime()
          op.df = Some(df)
          result = df.collect()
          op.rows = result.length
        }
        pass += op.wallS
        runs(name) += 1
        if (op.ok) verify(ctx, op, name, result)
        ctx.closeTraced(spark, op)
        clearCaches(spark)
      }
      passWalls += pass
    }
  }

  /** Each pass must reproduce the first pass's result, which run.py
    * checks against the DuckDB oracle.
    */
  private def verify(ctx: Ctx, op: Op, name: String, result: Array[Row]): Unit = {
    val df = op.df.get
    reference.get(name) match {
      case None =>
        reference(name) = result
        val out = ctx.args.work.resolve(s"curation-results/$name").toString
        df.sparkSession.createDataFrame(result.toSeq.asJava, df.schema)
          .coalesce(1).write.mode("overwrite").parquet(out)
      case Some(ref) =>
        if (!Rows.same(ref, result)) ctx.fail(op, "result differs from the first pass")
    }
  }

  def check(ctx: Ctx, spark: SparkSession): Unit =
    Files.write(ctx.args.work.resolve("curation-results/oracle_sql.json"),
      Json(reference.keys.map(k => k -> SparkEntry.oracleSql(k)).toMap)
        .getBytes(UTF_8))

  def primary(ctx: Ctx): Seq[Double] = ctx.ops.filter(_.ok).map(_.wallS).toSeq

  def metrics(ctx: Ctx): Seq[(String, Double, String)] =
    Seq(("curation_wall_s", Stats.median(passWalls.toSeq), "s"))

  /** Results are collected, not stored. */
  def storedPerInput(ctx: Ctx): Double = 0.0

  override def facts: Map[String, Any] = Map(
    "corpus" -> Map("documents" -> nDocs, "embeddings" -> nVecs, "customer" -> nCust),
    "corpus_factor" -> 1, "passes" -> passWalls.size,
    "row_runs" -> runs.toMap)
}

/** Row-set equality that tolerates last-digit float differences. */
object Rows {
  def same(a: Array[Row], b: Array[Row]): Boolean =
    a.length == b.length && a.indices.forall(i => value(a(i), b(i)))

  private def value(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) => p == q || math.abs(p - q) <= 1e-9 * math.max(1.0, math.abs(p))
    case (p: Float, q: Float) => value(p.toDouble, q.toDouble)
    case (p: Row, q: Row) => p.length == q.length && (0 until p.length).forall(i => value(p.get(i), q.get(i)))
    case (p: scala.collection.Seq[_], q: scala.collection.Seq[_]) =>
      p.length == q.length && p.zip(q).forall { case (u, v) => value(u, v) }
    case _ => x == y
  }
}
