package perfbench

import graft.Sessions
import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Run settings, from the command line run.py builds. */
final case class Args(workload: String, seed: Long, seconds: Double,
                      trace: Boolean, cores: Int, work: Path, inputs: Path,
                      out: Path, setups: Option[Int])

object Args {
  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def p(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(p("workload"), p("seed").toLong, p("seconds").toDouble,
      p("trace") == "1", p("cores").toInt, Paths.get(p("work")),
      Paths.get(p("inputs")), Paths.get(p("out")), m.get("setups").map(_.toInt))
  }
}

/** A workload: its fixtures (timed as set-up), its closed-loop client
  * operations (timed), and the correctness checks run afterwards
  * (untimed).
  */
trait Workload {
  /** seeded inputs written through Spark, before any timed set-up */
  def prepare(ctx: Ctx, spark: SparkSession): Unit = ()
  /** set-up repetitions; `setup_s` is their median */
  def setups: Int = 3
  /** the fixture part of set-up; `iter` names fresh directories */
  def fixture(ctx: Ctx, spark: SparkSession, iter: Int): Unit
  def teardown(): Unit = ()
  /** untimed first uses of the operation paths, after set-up: a
    * long-running service pays them once, not per request */
  def warm(ctx: Ctx, spark: SparkSession): Unit = ()
  def measure(ctx: Ctx, spark: SparkSession): Unit
  def check(ctx: Ctx, spark: SparkSession): Unit
  /** latencies (s) of the workload's primary operation */
  def primary(ctx: Ctx): Seq[Double]
  /** (median, tail, tail percentile, samples beyond it) of `primary` */
  def latency(ctx: Ctx): (Double, Double, Int, Int) = {
    val p = primary(ctx)
    val (pct, v, beyond) = Stats.tail(p)
    (Stats.median(p), v, pct, beyond)
  }
  /** operations completed per second of the measured window */
  def opsPerS(ctx: Ctx): Double =
    ctx.ops.size / ((ctx.measureEndNs - ctx.measureStartNs) / 1e9)
  /** Java threads' CPU seconds per operation over the measured window */
  def cpuPerOp(ctx: Ctx): Double = ctx.measureCpuS / ctx.ops.size
  /** the workload's own end-to-end metrics: name -> (value, unit) */
  def metrics(ctx: Ctx): Seq[(String, Double, String)]
  /** bytes the workload's outputs occupy on disk per input byte */
  def storedPerInput(ctx: Ctx): Double
  /** Operation kinds the tracing overhead is taken from. */
  def overheadKind(kind: String): Boolean = true
  /** run facts for the record (corpus size and the like) */
  def facts: Map[String, Any] = Map.empty
}

/** Shared state of one run: the settings, the timed operations, the
  * tracer and the correctness tally.
  */
final class Ctx(val args: Args) {
  val ops = mutable.ArrayBuffer[Op]()
  var tracer: Option[Tracer] = None
  var measureStartNs = 0L
  var measureEndNs = 0L
  /** JVM CPU time over the measured window (s) */
  var measureCpuS = 0.0
  val failures = mutable.ArrayBuffer[String]()
  val reconcileErrors = mutable.ArrayBuffer[String]()
  val spans = mutable.ArrayBuffer[Map[String, Any]]()
  val layerRows = mutable.ArrayBuffer[(Op, Map[String, Double])]()
  private var nextId = 0

  def rnd(salt: Long): Random = new Random(args.seed * 1000003L + salt)

  def deadlineNs: Long = measureStartNs + (args.seconds * 1e9).toLong
  def pastDeadline: Boolean = System.nanoTime() >= deadlineNs

  /** Word-count jobs run on the job registry's threads, where tracing
    * cannot be toggled per operation, so their traced runs alternate
    * four equal blocks: untraced, traced, untraced, traced.
    */
  def tracedAt(ns: Long): Boolean = tracer.isDefined && {
    val b = ((ns - measureStartNs) / (args.seconds * 1e9 / 4)).toInt
    b % 2 == 1
  }

  private var cycle = 0
  private val cycleRuns = mutable.HashMap[String, Int]().withDefaultValue(0)
  private val kindOrder = mutable.HashMap[String, Int]()

  /** A single client's operations come in cycles (index_mix's operation
    * cycle, curation_batch's pass); the workload opens each next one.
    */
  def nextCycle(): Unit = synchronized { cycle += 1; cycleRuns.clear() }

  /** Give a single client's operation its slot: its cycle and how many
    * operations of its kind came before it in that cycle. A traced run
    * traces each slot in one of two consecutive cycles and not in the
    * other, swapping by slot and by kind, so the tracing overhead can
    * compare a slot with itself, whatever its place in the cycle costs.
    */
  private def place(op: Op): Unit = synchronized {
    val k = cycleRuns(op.kind)
    cycleRuns(op.kind) = k + 1
    val order = kindOrder.getOrElseUpdate(op.kind, kindOrder.size)
    op.slot = (cycle, k)
    op.traced = tracer.isDefined && (k + cycle + order) % 2 == 0
  }

  def newOp(kind: String): Op = synchronized { nextId += 1; new Op(nextId, kind) }

  /** Forget the warm-up's operations and open the measured window. */
  def startMeasure(): Unit = synchronized {
    ops.clear()
    cycle = 0
    cycleRuns.clear()
    kindOrder.clear()
    measureStartNs = System.nanoTime()
  }

  def fail(op: Op, why: String): Unit = synchronized {
    op.ok = false
    if (failures.size < 20) failures += s"${op.kind}#${op.id}: $why"
  }

  /** Run one single-client operation under the timer. `body` marks the
    * end of its build step itself (op.buildEndNs) where it has one.
    */
  def timed(kind: String)(body: Op => Unit): Op = {
    val op = newOp(kind)
    place(op)
    tracer.foreach(_.enabled = op.traced)
    val cpu0 = Ctx.cpuSnapshot()
    op.startNs = System.nanoTime()
    try body(op)
    catch { case e: Throwable =>
      op.ok = false
      op.error = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}".take(300)
    }
    op.endNs = System.nanoTime()
    op.cpuNs = Ctx.cpuSinceNs(cpu0)
    // no DataFrame handed over: the whole call is the operation's work
    if (op.buildEndNs == 0L) op.buildEndNs = op.startNs
    // the timed action must have run the whole query: a plan that
    // dropped output columns (a count, a pruned projection) is refused
    if (op.ok) op.df.foreach { df =>
      val planned = df.queryExecution.executedPlan.output.map(a => (a.name, a.dataType))
      val declared = df.schema.fields.toSeq.map(f => (f.name, f.dataType))
      if (planned != declared) fail(op, s"timed plan output $planned != schema $declared")
    }
    synchronized(ops += op)
    op
  }

  /** Close a traced op's record: drain the listener bus, check that
    * every job the op started has been seen to end, split the op into
    * layers and reconcile them with its wall time.
    */
  def closeTraced(spark: SparkSession, op: Op): Unit = tracer.foreach { t =>
    if (op.traced) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val open = t.openJobs(op)
      if (open.nonEmpty)
        reconcileErrors += s"${op.kind}#${op.id}: jobs ${open.mkString(",")} not seen to end"
      val (m, span) = t.layers(op, args.cores)
      val wall = op.wallS
      val resid = math.abs(m("reconcile.residual_s"))
      if (resid > 0.05 * wall)
        reconcileErrors += f"${op.kind}#${op.id}: build+plan+exec+driver off wall by $resid%.4f s of $wall%.4f s"
      if (m("spark.job_union_s") > wall + 1e-3)
        reconcileErrors += f"${op.kind}#${op.id}: job union ${m("spark.job_union_s")}%.4f s > wall $wall%.4f s"
      synchronized {
        layerRows += (op -> m)
        spans += span
      }
    }
    op.df = None
  }
}

object Ctx {
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time so far (ns) of each of the JVM's Java threads: the
    * engine's work and the harness's. Unlike wall time it leaves out
    * time the host took the vCPUs away (steal), which on a shared
    * machine moves every wall-clock figure together. The JIT compiler
    * and garbage collector threads are not Java threads: a short-lived
    * JVM's compiling took a quarter of the word-count jobs' CPU and
    * varied from run to run; `jit_compile_s` and `gc_s` report both. */
  def cpuSnapshot(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU time of the Java threads since `snap` (ns); a thread that
    * ended in between loses its share. */
  def cpuSinceNs(snap: Map[Long, Long]): Long =
    cpuSnapshot().iterator.map { case (id, ns) => ns - snap.getOrElse(id, 0L) }.sum

  /** Time the JIT compilers have spent so far (ms): compiling inside
    * the measured window means the warm-up had not finished. */
  def jitMs(): Long = java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime

  /** Time the garbage collectors have spent so far (ms). */
  def gcMs(): Long = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(_.getCollectionTime).sum

  /** The machine's stolen and total CPU ticks so far, from /proc/stat. */
  def stealTicks(): (Long, Long) = {
    val f = scala.io.Source.fromFile("/proc/stat")
    try {
      val xs = f.getLines().next().split("\\s+").drop(1).map(_.toLong)
      (if (xs.length > 7) xs(7) else 0L, xs.sum)
    } finally f.close()
  }
}

object Main {
  val workloads: Map[String, () => Workload] = Map(
    "mr_wordcount" -> (() => new WordCountLoad),
    "curation_batch" -> (() => new CurationLoad),
    "index_mix" -> (() => new IndexMixLoad))

  def session(a: Args): SparkSession = {
    val s = Sessions.configure(SparkSession.builder().appName("perfbench"),
        a.cores.toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One small shuffle job through the SQL engine: loads the session's
    * codegen, shuffle and scheduling classes before anything is timed.
    * Workload-specific paths warm up in the first of the repeated
    * set-ups.
    */
  def warmup(spark: SparkSession): Unit = {
    import org.apache.spark.sql.functions._
    spark.range(10000).groupBy(pmod(col("id"), lit(97)).as("g"))
      .agg(sum(col("id")).as("s")).orderBy("g").collect()
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    HeapWatch.start()
    val wl = workloads.getOrElse(a.workload,
      sys.error(s"unknown workload ${a.workload}"))()
    Files.createDirectories(a.work)
    Files.createDirectories(a.inputs)
    val ctx = new Ctx(a)

    // set-up, repeated: session start, warm-up, fixtures
    val setups = mutable.ArrayBuffer[(Double, Double, Double)]()
    var spark: SparkSession = null
    val nSetups = a.setups.getOrElse(wl.setups)
    for (i <- 0 until nSetups) {
      val t0 = System.nanoTime()
      spark = session(a)
      val t1 = System.nanoTime()
      if (i == 0) wl.prepare(ctx, spark) // seeded inputs: untimed
      val t1b = System.nanoTime()
      warmup(spark)
      val t2 = System.nanoTime()
      wl.fixture(ctx, spark, i)
      val t3 = System.nanoTime()
      setups += (((t1 - t0) / 1e9, (t2 - t1b) / 1e9, (t3 - t2) / 1e9))
      if (i < nSetups - 1) { wl.teardown(); spark.stop() }
    }
    val setupTotals = setups.map { case (x, y, z) => x + y + z }.toSeq

    val tracer = if (a.trace) {
      val t = new Tracer
      spark.sparkContext.addSparkListener(t)
      Some(t)
    } else None
    ctx.tracer = tracer

    wl.warm(ctx, spark)
    val (steal0, total0) = Ctx.stealTicks()
    val cpu0 = Ctx.cpuSnapshot()
    val jit0 = Ctx.jitMs()
    val gc0 = Ctx.gcMs()
    ctx.startMeasure()
    wl.measure(ctx, spark)
    ctx.measureEndNs = System.nanoTime()
    ctx.measureCpuS = Ctx.cpuSinceNs(cpu0) / 1e9
    val jitS = (Ctx.jitMs() - jit0) / 1e3
    val gcS = (Ctx.gcMs() - gc0) / 1e3
    val (steal1, total1) = Ctx.stealTicks()
    tracer.foreach(_.enabled = false)
    val rss = peakRssMb()
    val retained = HeapWatch.retainedMb()
    wl.check(ctx, spark)
    wl.teardown()

    val measureS = (ctx.measureEndNs - ctx.measureStartNs) / 1e9
    val failedOps = ctx.ops.count(!_.ok)
    ctx.ops.filter(o => !o.ok && o.error.nonEmpty).take(5)
      .foreach(o => ctx.failures += s"${o.kind}#${o.id}: ${o.error}")
    val (p50, tailV, tailP, tailN) = wl.latency(ctx)
    val e2e = Map(
      "setup_s" -> (Stats.median(setupTotals), "s"),
      "op_p50_ms" -> (p50 * 1e3, "ms"),
      "op_tail_ms" -> (tailV * 1e3, "ms"),
      "ops_per_s" -> (wl.opsPerS(ctx), "1/s"),
      "cpu_ms_per_op" -> (wl.cpuPerOp(ctx) * 1e3, "ms"),
      "retained_heap_mb" -> (retained, "MB"),
      "bytes_per_input_byte" -> (wl.storedPerInput(ctx), "ratio"))
    val own = Seq(
      ("setup_s", Stats.median(setupTotals), "s"),
      ("peak_rss_mb", rss, "MB"),
      ("fail_ratio", failedOps.toDouble / math.max(1, ctx.ops.size), "ratio")) ++
      wl.metrics(ctx)

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "seconds" -> a.seconds, "cores" -> a.cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "heap_peak_after_gc_mb" -> HeapWatch.peakMb,
      "spark_version" -> spark.version,
      "tail_percentile" -> tailP, "tail_samples_beyond" -> tailN,
      "primary_samples" -> wl.primary(ctx).size,
      "setup_runs" -> setupTotals,
      "measure_s" -> measureS,
      "jit_compile_s" -> jitS,
      "gc_s" -> gcS,
      "host_steal_share" -> (steal1 - steal0).toDouble / math.max(1L, total1 - total0),
      "attempted" -> ctx.ops.size, "failed" -> failedOps,
      "failures" -> ctx.failures.toSeq,
      "op_walls_s" -> ctx.ops.groupBy(_.kind).map { case (k, os) =>
        k -> os.map(_.wallS).toSeq },
      "end_to_end" -> e2e.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
      "workload_metrics" -> own.map { case (k, v, u) =>
        k -> Map("value" -> v, "unit" -> u) }.toMap) ++ wl.facts

    if (a.trace) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val ids = tracer.get.seenJobIds.sorted
      if (ids.nonEmpty && ids.last - ids.head + 1 != ids.distinct.size)
        ctx.reconcileErrors += "job ids seen by the listener are not contiguous"
      val traced = ctx.layerRows.map(_._2).toSeq
      val keys = traced.flatMap(_.keys).distinct
      val layer = mutable.LinkedHashMap[String, Double]()
      layer("setup.session_s") = Stats.median(setups.map(_._1).toSeq)
      layer("setup.warmup_s") = Stats.median(setups.map(_._2).toSeq)
      layer("setup.fixture_s") = Stats.median(setups.map(_._3).toSeq)
      keys.foreach(k => layer(k) = Stats.mean(traced.map(_.getOrElse(k, 0.0))))
      // traced over untraced wall time of the same slot in two
      // consecutive cycles (single client), or of each kind's traced and
      // untraced medians (word-count jobs); the geometric mean of
      // those, in which a kind's slots traced in the first and in the
      // second cycle of a pair cancel what the later cycle saves
      val clean = ctx.ops.filter(o => o.ok && !o.mixed && wl.overheadKind(o.kind))
      val ratios =
        if (clean.exists(_.slot._2 >= 0))
          clean.groupBy(o => (o.kind, o.slot._2, o.slot._1 / 2)).values.flatMap { os =>
            val (t, u) = os.partition(_.traced)
            if (t.size == 1 && u.size == 1) Some(t.head.wallS / u.head.wallS) else None
          }.toSeq
        else clean.groupBy(_.kind).values.flatMap { os =>
          val (t, u) = os.partition(_.traced)
          if (t.isEmpty || u.isEmpty) None
          else Some(Stats.median(t.map(_.wallS).toSeq) / Stats.median(u.map(_.wallS).toSeq))
        }.toSeq
      layer("trace.overhead_ratio") =
        if (ratios.isEmpty) 0.0 else math.exp(Stats.mean(ratios.map(math.log)))
      layer("reconcile.max_residual_ratio") = ctx.layerRows.map { case (o, m) =>
        math.abs(m("reconcile.residual_s")) / math.max(o.wallS, 1e-9)
      }.foldLeft(0.0)(_ max _)
      record("per_layer") = layer.toMap
      record("traced_ops") = traced.size
      record("overhead_pairs") = ratios.size
      record("reconcile") = Map("ok" -> ctx.reconcileErrors.isEmpty,
        "errors" -> ctx.reconcileErrors.take(20).toSeq)
      record("spans") = ctx.spans.toSeq
    }
    Files.write(a.out, Json(record).getBytes(UTF_8))
    spark.stop()
  }
}
