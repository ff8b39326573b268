package perfbench

import graft.jobs.{JobHttpServer, JobRegistry}
import org.apache.spark.sql.SparkSession

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.concurrent.Executors
import scala.collection.mutable
import scala.concurrent.ExecutionContext
import scala.jdk.CollectionConverters._

/** mr_wordcount: the reference's own job loop over HTTP. A closed-loop
  * client POSTs /jobs (8 files of 256 KiB, nReduce 4), polls
  * GET /jobs/{id} until COMPLETED, and submits again.
  */
final class WordCountLoad extends Workload {
  /** One client: with two, the jobs' overlap drifted within a run and
    * median latency spread ±20% between identical runs; their CPU
    * saturation also kept the JIT compiling through the whole run. */
  private val clients = 1
  private val nReduce = 4
  private val fileBytes = 256 << 10
  private val smallBytes = 8 << 10
  private val smallWarmSeconds = 10.0
  private val warmSeconds = 8.0
  private var input: Gen.WcInput = _
  private var small: Gen.WcInput = _
  private var server: JobHttpServer = _
  private var pool: java.util.concurrent.ExecutorService = _
  private var port = 0
  private val outputs = mutable.ArrayBuffer[(Op, Path)]()

  /** set-up is ~1 s here, and noisy, and the first is a cold start
    * several times slower: take the median of more */
  override def setups: Int = 7

  override def prepare(ctx: Ctx, spark: SparkSession): Unit = {
    def gen(bytes: Int) = Gen.wordcount(
      ctx.args.inputs.resolve(s"wordcount-s${ctx.args.seed}-$bytes"), ctx.args.seed, fileBytes = bytes)
    input = gen(fileBytes)
    small = gen(smallBytes)
  }

  def fixture(ctx: Ctx, spark: SparkSession, iter: Int): Unit = {
    pool = Executors.newFixedThreadPool(clients)
    val registry = new JobRegistry(spark)(ExecutionContext.fromExecutorService(pool))
    server = new JobHttpServer(registry, 0)
    server.start()
    port = server.boundPort
    val (code, body) = http("GET", "/health", null)
    require(code == 200 && body == "OK", s"health check failed: $code $body")
  }

  override def teardown(): Unit = {
    if (server != null) server.stop()
    if (pool != null) pool.shutdownNow()
    server = null; pool = null
  }

  private def http(method: String, path: String, body: String): (Int, String) = {
    val c = URI.create(s"http://127.0.0.1:$port$path").toURL
      .openConnection().asInstanceOf[HttpURLConnection]
    c.setRequestMethod(method)
    if (body != null) {
      c.setDoOutput(true)
      c.getOutputStream.write(body.getBytes(UTF_8))
    }
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val s = if (in == null) "" else new String(in.readAllBytes(), UTF_8)
    c.disconnect()
    (code, s)
  }

  private def field(json: String, k: String): String =
    s""""$k":"?([^",}]*)""".r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")

  /** One job: POST, then poll until a terminal state. */
  private def job(ctx: Ctx, in: Gen.WcInput, n: Int, record: Boolean): Unit = {
    val op = ctx.newOp("wc_job")
    val out = ctx.args.work.resolve(s"wc-out/${if (record) "" else "warm-"}$n")
    val body = Json(Map("files" -> in.files, "nReduce" -> nReduce,
      "outPath" -> out.toString))
    op.traced = record && ctx.tracedAt(System.nanoTime())
    op.startNs = System.nanoTime()
    try {
      val (code, resp) = http("POST", "/jobs", body)
      op.buildEndNs = System.nanoTime()
      require(code == 200, s"POST /jobs -> $code $resp")
      val id = field(resp, "id")
      op.group = Some(s"graft-job-$id")
      var status = "IN_PROGRESS"
      var polls = 0
      while (status == "IN_PROGRESS") {
        Thread.sleep(5)
        val (c2, st) = http("GET", s"/jobs/$id", null)
        polls += 1
        require(c2 == 200, s"GET /jobs/$id -> $c2 $st")
        status = field(st, "status")
      }
      op.endNs = System.nanoTime()
      op.extra("jobs.polls") = polls
      require(status == "COMPLETED", s"job $id ended $status")
    } catch { case e: Throwable =>
      if (op.endNs == 0L) op.endNs = System.nanoTime()
      op.ok = false
      op.error = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
    }
    if (op.buildEndNs == 0L) op.buildEndNs = op.endNs
    op.extra("jobs.submit_ms") = (op.buildEndNs - op.startNs) / 1e6
    // a traced job's whole lifetime must sit inside one traced block
    op.mixed = op.traced != ctx.tracedAt(op.endNs)
    op.traced = op.traced && !op.mixed
    if (record) ctx.synchronized { ctx.ops += op; outputs += (op -> out) }
  }

  /** The client's closed loop until `untilNs`; warm-up jobs number
    * their outputs from `first`. */
  private def loopUntil(ctx: Ctx, in: Gen.WcInput, untilNs: Long, record: Boolean,
                        first: Int = 0): Unit = {
    var n = first
    while (System.nanoTime() < untilNs) { job(ctx, in, n, record); n += 1 }
  }

  /** The first jobs of a JVM run several times slower while the
    * text, shuffle and sink paths load and compile, and the per-job
    * paths (HTTP, Catalyst, scheduling, commit) take many jobs to get
    * compiled; measuring earlier makes a run's figures depend on how far
    * its compiler has got. Jobs over 8 KiB files make those paths hot
    * several times faster than full-size ones, which then follow. */
  override def warm(ctx: Ctx, spark: SparkSession): Unit = {
    loopUntil(ctx, small, System.nanoTime() + (smallWarmSeconds * 1e9).toLong, record = false)
    loopUntil(ctx, input, System.nanoTime() + (warmSeconds * 1e9).toLong, record = false,
      first = 1 << 20)
  }

  def measure(ctx: Ctx, spark: SparkSession): Unit = {
    // the tracer follows the block schedule: a job's Spark work runs
    // on the registry's threads, not the client's
    val toggler = ctx.tracer.map { t =>
      val th = new Thread(() => {
        try while (true) { t.enabled = ctx.tracedAt(System.nanoTime()); Thread.sleep(2) }
        catch { case _: InterruptedException => }
      })
      th.setDaemon(true); th.start(); th
    }
    loopUntil(ctx, input, ctx.deadlineNs, record = true)
    toggler.foreach(_.interrupt())
  }

  /** Each job's output holds exactly nReduce files, keys sorted within
    * each, and every count the generator knows.
    */
  def check(ctx: Ctx, spark: SparkSession): Unit = {
    outputs.foreach { case (op, out) =>
      if (op.ok) {
        val parts = Files.list(out).iterator().asScala.toSeq
          .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.toString)
        val got = mutable.HashMap[String, Long]()
        var sorted = true
        var bytes = 0L
        parts.foreach { p =>
          bytes += Files.size(p)
          val keys = Files.readAllLines(p, UTF_8).asScala.map { l =>
            val i = l.lastIndexOf(' ')
            got(l.substring(0, i)) = got.getOrElse(l.substring(0, i), 0L) +
              l.substring(i + 1).toLong
            l.substring(0, i)
          }
          if (keys != keys.sorted) sorted = false
        }
        op.extra("out.bytes") = bytes
        op.extra("out.files") = parts.size
        if (parts.size != nReduce) ctx.fail(op, s"${parts.size} output files, want $nReduce")
        else if (!sorted) ctx.fail(op, "keys not sorted within a file")
        else if (got != input.counts) ctx.fail(op,
          s"counts differ: ${got.size} words vs ${input.counts.size} expected")
      }
    }
    ctx.ops.filter(_.traced).foreach(op => ctx.closeTraced(spark, op))
  }

  private def jobs(ctx: Ctx) = ctx.ops.filter(o => o.ok && o.kind == "wc_job")

  def primary(ctx: Ctx): Seq[Double] = jobs(ctx).map(_.wallS).toSeq

  def metrics(ctx: Ctx): Seq[(String, Double, String)] = {
    val lat = primary(ctx)
    val wall = (ctx.measureEndNs - ctx.measureStartNs) / 1e9
    Seq(
      ("wc_job_p50_s", Stats.median(lat), "s"),
      ("wc_job_tail_s", Stats.tail(lat)._2, "s"),
      ("wc_mb_per_s", jobs(ctx).size * input.bytes / 1e6 / wall, "MB/s"))
  }

  def storedPerInput(ctx: Ctx): Double =
    Stats.mean(jobs(ctx).map(_.extra.getOrElse("out.bytes", 0.0)).toSeq) / input.bytes

  override def facts: Map[String, Any] = Map(
    "input_files" -> input.files.size, "input_bytes" -> input.bytes,
    "clients" -> clients, "n_reduce" -> nReduce, "corpus_factor" -> 1)
}
