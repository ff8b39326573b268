package perfbench

import graft.operators.{Dedup, Similarity, TextAnalysis}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import java.nio.file.{Files, Path}
import java.util.concurrent.{Callable, Executors}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** index_mix: one closed-loop client serving the three index families
  * (BM25, near-dup, IVF) while they take writes. Set-up builds each
  * index from a seeded 70% of the documents and vectors; the held-out
  * 30% arrives through the writes. Four fifths of operations are serves,
  * one fifth writes; after each write the family's fold-due check runs,
  * and a due compaction runs inside that write's timing.
  */
final class IndexMixLoad extends Workload {
  /** each set-up builds three indexes (~10 s): two keep a run short */
  override def setups: Int = 2
  private val (nDocs, nVecs) = (600, 300)
  private val chunks = 16
  private val topK = 10
  private val minJ = 0.2
  private val warmSeconds = 8.0
  /** BM25's fold policy here: fold as soon as the index holds a
    * segment, so every BM25 write compacts. The near-dup and IVF folds
    * fall due on removals only, which this workload does not make. */
  private val bm25MaxSegments = 0
  private var docs: IndexedSeq[Gen.Doc] = _
  private var vecs: IndexedSeq[Gen.Vec] = _
  private var words: Array[String] = _
  private var baseDocs: IndexedSeq[Gen.Doc] = _
  private var baseVecs: IndexedSeq[Gen.Vec] = _
  private var heldVecs: IndexedSeq[Gen.Vec] = _
  private var docChunks: IndexedSeq[IndexedSeq[Gen.Doc]] = _
  private var vecChunks: IndexedSeq[IndexedSeq[Gen.Vec]] = _
  private var idx: Map[String, String] = Map.empty
  // chunks appended so far, per family
  private val applied = mutable.HashMap("bm25" -> 0, "nd" -> 0, "ivf" -> 0)
  private var compactions = 0
  private val docSchema = StructType.fromDDL("doc_id bigint, text string")
  private val vecSchema = StructType.fromDDL("vec_id bigint, embedding array<float>")
  private val checks = mutable.ArrayBuffer[(Op, () => Option[String])]()
  private var probeId = 10000000L

  override def prepare(ctx: Ctx, spark: SparkSession): Unit = {
    val (ds, _, ws) = Gen.docs(ctx.args.seed, nDocs)
    docs = ds.toIndexedSeq
    words = ws
    vecs = Gen.vecs(ctx.args.seed, nVecs).map(_._1).toIndexedSeq
    val r = ctx.rnd(3)
    val (bd, hd) = docs.partition(_ => r.nextDouble() < 0.7)
    val (bv, hv) = vecs.partition(_ => r.nextDouble() < 0.7)
    baseDocs = bd
    baseVecs = bv
    heldVecs = hv
    docChunks = split(r.shuffle(hd))
    vecChunks = split(r.shuffle(hv))
  }

  private def split[T](xs: IndexedSeq[T]): IndexedSeq[IndexedSeq[T]] =
    xs.grouped(math.max(1, (xs.size + chunks - 1) / chunks)).toIndexedSeq

  private def docDf(spark: SparkSession, xs: Seq[Gen.Doc]): DataFrame =
    spark.createDataFrame(xs.map(d => Row(d.id, d.text)).asJava, docSchema)
  private def vecDf(spark: SparkSession, xs: Seq[Gen.Vec]): DataFrame =
    spark.createDataFrame(xs.map(v => Row(v.id, v.v.toSeq)).asJava, vecSchema)

  /** Builds the three indexes from the base 70% into fresh directories. */
  def fixture(ctx: Ctx, spark: SparkSession, iter: Int): Unit = {
    val root = ctx.args.work.resolve(s"index-$iter")
    idx = Seq("bm25", "nd", "ivf").map(f => f -> root.resolve(f).toString).toMap
    applied.keys.foreach(applied(_) = 0)
    val bd = docDf(spark, baseDocs)
    val bv = vecDf(spark, baseVecs)
    // the three families are independent: build them concurrently, as
    // a service starting up would
    val pool = Executors.newFixedThreadPool(3)
    try {
      val builds = Seq[() => Unit](
        () => TextAnalysis.bm25WriteIndexDocs(spark, bd, idx("bm25")),
        () => Dedup.neardupWriteIndex(spark, bd, idx("nd")),
        () => Similarity.ivfWriteIndexVecs(spark, bv, idx("ivf")))
        .map(b => pool.submit(new Callable[Unit] { def call(): Unit = b() }))
      builds.foreach(_.get())
    } finally pool.shutdown()
  }

  private def liveDocs(f: String): Seq[Gen.Doc] =
    baseDocs ++ docChunks.take(applied(f)).flatten
  private def liveVecs: Seq[Gen.Vec] =
    baseVecs ++ vecChunks.take(applied("ivf")).flatten

  /** Files under an index directory with their sizes. */
  private def listing(dir: String): Map[String, Long] = {
    val p = Path.of(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  /** The operation mix, one cycle: each family's write followed by its
    * serve, then three more serves of each family — 12 serves and 3
    * writes. A run replays whole cycles until the deadline has passed, a
    * traced run at least two, so every run holds the same operations:
    * per-kind medians then compare like with like, whatever the host's
    * speed. The seed picks what each operation reads and writes.
    */
  private val cycle = Seq("w:bm25", "s:bm25", "w:ivf", "s:ivf", "w:nd", "s:nd") ++
    Seq.fill(3)(Seq("s:bm25", "s:ivf", "s:nd")).flatten

  def measure(ctx: Ctx, spark: SparkSession): Unit = {
    val r = ctx.rnd(29)
    val zipf = new Gen.Zipf(words.length, 1.1)
    val minSteps = if (ctx.tracer.isDefined) 2 * cycle.size else 0
    var i = 0
    while (!ctx.pastDeadline || i % cycle.size != 0 || i < minSteps) {
      if (i > 0 && i % cycle.size == 0) ctx.nextCycle()
      val Array(kind, fam) = cycle(i % cycle.size).split(':')
      i += 1
      val write = kind == "w" &&
        applied(fam) < (if (fam == "ivf") vecChunks.size else docChunks.size)
      val sampled = r.nextDouble() < 0.3
      val before = if (ctx.tracer.isDefined) listing(idx(fam)) else Map.empty[String, Long]
      val op =
        if (write) writeOp(ctx, spark, fam)
        else serveOp(ctx, spark, fam, r, zipf, sampled)
      if (op.traced) diskLayers(spark, op, fam, before)
      ctx.closeTraced(spark, op)
    }
  }

  private def serveOp(ctx: Ctx, spark: SparkSession, fam: String,
                      r: scala.util.Random, zipf: Gen.Zipf, sampled: Boolean): Op =
    fam match {
      case "bm25" =>
        val terms = Iterator.continually(words(zipf.sample(r))).distinct.take(3).toSeq
        val live = liveDocs("bm25")
        var got: Array[Row] = Array.empty
        val op = ctx.timed("serve_bm25") { op =>
          val df = TextAnalysis.bm25QueryIndex(spark, idx("bm25"), terms, topK)
          op.buildEndNs = System.nanoTime(); op.df = Some(df)
          got = df.collect(); op.rows = got.length
        }
        if (sampled) checks += (op -> (() => checkBm25(terms, live, got)))
        op
      case "ivf" =>
        val q = Seq.fill(8)(heldVecs(r.nextInt(heldVecs.size))).distinct
        val live = liveVecs
        var got: Array[Row] = Array.empty
        val op = ctx.timed("serve_ivf") { op =>
          val df = Similarity.ivfQueryIndexVecs(spark, idx("ivf"), vecDf(spark, q))
          op.buildEndNs = System.nanoTime(); op.df = Some(df)
          got = df.collect(); op.rows = got.length
        }
        if (sampled) checks += (op -> (() => checkIvf(q, live, got)))
        op
      case _ =>
        val probes = probeBatch(r, zipf)
        var got: Array[Row] = Array.empty
        val op = ctx.timed("serve_nd") { op =>
          val df = Dedup.neardupLookup(spark, idx("nd"), docDf(spark, probes), minJ)
          op.buildEndNs = System.nanoTime(); op.df = Some(df)
          got = df.collect(); op.rows = got.length
        }
        val known = probes ++ liveDocs("nd")
        checks += (op -> (() => checkPairs(known, got)))
        op
    }

  /** Serves of each family in turn for `warmSeconds`, untimed: the
    * serve paths' first uses, and enough later ones that serve latency
    * no longer falls by a fifth through the measured cycle. Serves
    * leave the indexes as they are. */
  override def warm(ctx: Ctx, spark: SparkSession): Unit = {
    val (r, zipf) = (ctx.rnd(31), new Gen.Zipf(words.length, 1.1))
    val untilNs = System.nanoTime() + (warmSeconds * 1e9).toLong
    do Seq("bm25", "ivf", "nd").foreach(serveOp(ctx, spark, _, r, zipf, sampled = false))
    while (System.nanoTime() < untilNs)
    checks.clear()
  }

  /** Probe batch: perturbed copies of four live documents and four
    * fresh documents, under ids the index never holds.
    */
  private def probeBatch(r: scala.util.Random, zipf: Gen.Zipf): Seq[Gen.Doc] = {
    val live = liveDocs("nd")
    Seq.fill(4) {
      probeId += 1
      Gen.Doc(probeId, live(r.nextInt(live.size)).text.split(' ')
        .map(w => if (r.nextDouble() < 0.05) words(zipf.sample(r)) else w).mkString(" "))
    } ++ Seq.fill(4) {
      probeId += 1
      Gen.Doc(probeId, Seq.fill(20 + r.nextInt(71))(words(zipf.sample(r))).mkString(" "))
    }
  }

  private def writeOp(ctx: Ctx, spark: SparkSession, fam: String): Op = {
    val c = applied(fam)
    var pairs: Array[Row] = Array.empty
    val op = ctx.timed(s"write_$fam") { op =>
      def fold(compact: => Unit): Unit = {
        val t0 = System.nanoTime()
        compact
        op.extra("index.compactions") = 1
        op.extra("index.compact_s") = (System.nanoTime() - t0) / 1e9
      }
      fam match {
        case "bm25" =>
          TextAnalysis.bm25AppendSegment(spark, idx(fam), docDf(spark, docChunks(c)),
            docDf(spark, Seq.empty))
          applied(fam) = c + 1
          if (TextAnalysis.bm25FoldDue(spark, idx(fam), bm25MaxSegments))
            fold(TextAnalysis.bm25Compact(spark, idx(fam)))
        case "nd" =>
          pairs = Dedup.neardupCheckIn(spark, idx(fam), docDf(spark, docChunks(c)), minJ)
            .collect()
          applied(fam) = c + 1
          if (Dedup.neardupFoldDue(spark, idx(fam))) fold(Dedup.neardupCompact(spark, idx(fam)))
        case _ =>
          Similarity.ivfAppendVectors(spark, idx(fam), vecDf(spark, vecChunks(c)))
          applied(fam) = c + 1
          if (Similarity.ivfFoldDue(spark, idx(fam)))
            fold(Similarity.ivfWriteIndexVecs(spark, vecDf(spark, liveVecs), idx(fam)))
      }
    }
    if (op.extra.contains("index.compactions")) compactions += 1
    op.extra("index.user_bytes") =
      if (fam == "ivf") vecChunks(c).size * 4.0 * vecs.head.v.length
      else docChunks(c).map(_.text.getBytes("UTF-8").length).sum.toDouble
    if (fam == "nd") {
      val known = liveDocs("nd")
      checks += (op -> (() => checkPairs(known, pairs)))
    }
    op
  }

  /** On-disk effect of one traced operation on its family's index. */
  private def diskLayers(spark: SparkSession, op: Op, fam: String,
                         before: Map[String, Long]): Unit = {
    val after = listing(idx(fam))
    val written = after.collect { case (f, s) if before.get(f) != Some(s) => s }.sum.toDouble
    val user = op.extra.getOrElse("index.user_bytes", 0.0)
    op.extra("index.bytes_written") = written
    op.extra("index.write_amp") = if (user > 0) written / user else 0.0
    op.extra("index.bytes_live") = after.values.sum.toDouble
    op.extra("index.files") = after.size.toDouble
    // the committed generation (near-dup, IVF) or segment count (BM25),
    // from the families' public health cards
    op.extra("index.gen") = (fam match {
      case "bm25" => TextAnalysis.bm25Health(spark, idx(fam)).toMap.apply("bm25_segments")
      case "nd" => Dedup.neardupHealth(spark, idx(fam)).toMap.apply("nd_gen")
      case _ => Similarity.ivfHealth(spark, idx(fam)).toMap.apply("ivf_gen")
    }).toDouble
    val compacted = op.extra.getOrElse("index.compactions", 0.0)
    op.extra("index.compactions") = compacted
    op.extra("index.compact_s") = op.extra.getOrElse("index.compact_s", 0.0)
    op.extra("index.bytes_rewritten") = if (compacted > 0) written else 0.0
  }

  // ---------------------------------------------------------- checks

  /** BM25 brute force over the live documents: same tokens, same
    * Robertson/Lucene scoring, scores rounded to 6 places.
    */
  private def checkBm25(terms: Seq[String], live: Seq[Gen.Doc], got: Array[Row]): Option[String] = {
    val (k1, b) = (1.2, 0.75)
    val toks = live.map(d => d.id -> d.text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty))
    val n = toks.size.toDouble
    val avgdl = toks.map(_._2.length.toLong).sum.toDouble / n
    val df = terms.map(t => t -> toks.count(_._2.contains(t)).toDouble).toMap
    val scored = toks.flatMap { case (id, ts) =>
      val dl = ts.length.toDouble
      val per = terms.flatMap { t =>
        val tf = ts.count(_ == t).toDouble
        if (tf == 0) None
        else Some(math.log((n - df(t) + 0.5) / (df(t) + 0.5) + 1.0) * (tf * (k1 + 1)) /
          (tf + k1 * (1.0 - b + b * dl / avgdl)))
      }
      if (per.isEmpty) None else Some(id -> per.sum)
    }.sortBy { case (id, s) => (-s, id) }.take(topK)
    val want = scored.map { case (id, s) => (id, BigDecimal(s).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble) }
    val have = got.map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    val tol = 2e-6
    if (want.size != have.size) return Some(s"bm25 $terms: ${have.size} rows, want ${want.size}")
    if (want.zip(have).exists { case (w, h) => math.abs(w._2 - h._2) > tol })
      return Some(s"bm25 $terms: scores $have, want $want")
    // ids must agree wherever the score is not tied at the cut-off
    val kth = want.last._2
    val strict = (xs: Seq[(Long, Double)]) => xs.filter(_._2 > kth + tol).map(_._1).toSet
    if (strict(want) != strict(have)) Some(s"bm25 $terms: ids $have, want $want")
    else None
  }

  /** IVF recall against brute-force cosine top-5 over the live vectors
    * must reach the registry's 0.5 floor for the batch.
    */
  private def checkIvf(q: Seq[Gen.Vec], live: Seq[Gen.Vec], got: Array[Row]): Option[String] = {
    def cos(a: Array[Float], b: Array[Float]) = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i).toDouble; na += a(i) * a(i).toDouble
        nb += b(i) * b(i).toDouble; i += 1 }
      d / math.sqrt(na * nb)
    }
    val byQ = got.groupBy(_.getAs[Long]("qid")).map { case (k, rs) =>
      k -> rs.map(_.getAs[Long]("cid")).toSet }
    val recalls = q.map { v =>
      val truth = live.filter(_.id != v.id).sortBy(x => -cos(v.v, x.v)).take(5).map(_.id).toSet
      byQ.getOrElse(v.id, Set.empty[Long]).intersect(truth).size / 5.0
    }
    val rec = Stats.mean(recalls)
    if (rec < 0.5) Some(f"ivf recall $rec%.3f < 0.5") else None
  }

  /** Every near-dup pair must have exact word-3-shingle Jaccard ≥ minJ. */
  private def checkPairs(known: Seq[Gen.Doc], got: Array[Row]): Option[String] = {
    val text = known.map(d => d.id -> d.text).toMap
    def sh(t: String) = t.split("\\s+").filter(_.nonEmpty).sliding(3)
      .filter(_.length == 3).map(_.mkString(" ")).toSet
    got.iterator.map { r =>
      val (a, b) = (r.getAs[Long]("a"), r.getAs[Long]("b"))
      (a, b, text.get(a).zip(text.get(b)).map { case (x, y) =>
        val (sx, sy) = (sh(x), sh(y))
        (sx intersect sy).size.toDouble / (sx union sy).size
      })
    }.collectFirst {
      case (a, b, None) => s"near-dup pair ($a, $b) names an unknown document"
      case (a, b, Some(j)) if j < minJ - 1e-12 => f"near-dup pair ($a, $b) has Jaccard $j%.4f < $minJ"
    }
  }

  /** Serves only: half of each family's four serves of a cycle are
    * traced in the first cycle of a pair and half in the second, so the first cycle's colder operations
    * cancel out; a write, once per cycle, is always traced in the first. */
  override def overheadKind(kind: String): Boolean = kind.startsWith("serve_")

  def check(ctx: Ctx, spark: SparkSession): Unit =
    checks.foreach { case (op, c) => if (op.ok) c().foreach(ctx.fail(op, _)) }

  private def serves(ctx: Ctx) = ctx.ops.filter(o => o.ok && o.kind.startsWith("serve_"))

  def primary(ctx: Ctx): Seq[Double] = serves(ctx).map(_.wallS).toSeq

  private def kindMedians(ctx: Ctx): Map[String, Double] =
    ctx.ops.filter(_.ok).groupBy(_.kind).map { case (k, os) => k -> Stats.median(os.map(_.wallS).toSeq) }

  private def kindOf(step: String): String = step.split(':') match {
    case Array("s", f) => s"serve_$f"
    case Array(_, f) => s"write_$f"
  }

  /** A cycle holds four serves of each family, whose latencies differ by
    * family, so the pooled median would fall between two families. The
    * median is instead the geometric mean of the three families' serve
    * medians. With under 20 serves no percentile has ten samples beyond
    * it, and the tail is that same value.
    */
  override def latency(ctx: Ctx): (Double, Double, Int, Int) = {
    val m = kindMedians(ctx).filter(_._1.startsWith("serve_")).values
    val gm = math.exp(m.map(math.log).sum / m.size)
    val (pct, tail, beyond) = Stats.tail(primary(ctx))
    (gm, if (pct > 50) tail else gm, pct, beyond)
  }

  /** Closed-loop throughput of the cycle's mix: one over the mix's
    * mean operation time, from each kind's median latency weighted by
    * its share of the cycle.
    */
  override def opsPerS(ctx: Ctx): Double = {
    val m = kindMedians(ctx)
    val steps = cycle.map(kindOf).filter(m.contains)
    steps.size / steps.map(m).sum
  }

  /** The same mix weighting over each kind's median CPU time. */
  override def cpuPerOp(ctx: Ctx): Double = {
    val m = ctx.ops.filter(_.ok).groupBy(_.kind).map { case (k, os) =>
      k -> Stats.median(os.map(_.cpuNs / 1e9).toSeq) }
    val steps = cycle.map(kindOf).filter(m.contains)
    steps.map(m).sum / steps.size
  }

  /** Index bytes on disk per byte of user data ingested (documents'
    * text in the BM25 and near-dup indexes, 4 bytes per vector
    * component in the IVF index). */
  def storedPerInput(ctx: Ctx): Double = {
    val onDisk = idx.values.map(listing(_).values.sum).sum.toDouble
    val user = Seq("bm25", "nd").map(f =>
      liveDocs(f).map(_.text.getBytes("UTF-8").length.toLong).sum).sum +
      liveVecs.size * 4L * vecs.head.v.length
    onDisk / user
  }

  def metrics(ctx: Ctx): Seq[(String, Double, String)] = {
    val wall = (ctx.measureEndNs - ctx.measureStartNs) / 1e9
    val writes = ctx.ops.filter(o => o.ok && o.kind.startsWith("write_")).map(_.wallS).toSeq
    val lat = primary(ctx)
    Seq(
      ("serve_p50_ms", Stats.median(lat) * 1e3, "ms"),
      ("serve_tail_ms", Stats.tail(lat)._2 * 1e3, "ms"),
      ("write_p50_s", if (writes.isEmpty) 0.0 else Stats.median(writes), "s"),
      ("index_ops_per_s", ctx.ops.size / wall, "1/s"),
      ("index_bytes_per_user_byte", storedPerInput(ctx), "ratio"))
  }

  override def facts: Map[String, Any] = Map(
    "corpus" -> Map("documents" -> nDocs, "embeddings" -> nVecs),
    "corpus_factor" -> 1, "chunks_applied" -> applied.toMap,
    "compactions" -> compactions, "checked_ops" -> checks.size)
}
