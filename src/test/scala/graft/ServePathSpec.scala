package graft

import graft.operators.{Dedup, IndexPolicy, Similarity}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The small-probe serve paths of the near-dup and IVF indexes. A probe
  * already in driver memory (a LocalRelation with unique ids) is served
  * in a few Spark jobs. It must return the rows, in order, that the
  * distributed path returns for the same probe read from parquet.
  */
class ServePathSpec extends SparkSpec {

  private val docSchema = StructType.fromDDL("doc_id bigint, text string")
  private val vecSchema =
    StructType.fromDDL("vec_id bigint, embedding array<float>")

  /** Job ids the context started and ended, in listener-bus order. */
  private object jobs extends SparkListener {
    val started = new ConcurrentLinkedQueue[Int]()
    val ended = new ConcurrentLinkedQueue[Int]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      started.add(e.jobId)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = ended.add(e.jobId)
  }
  private lazy val listening = {
    spark.sparkContext.addSparkListener(jobs); true
  }

  /** `f`'s result and the number of Spark jobs it started. The bus is
    * drained before and after `f`, so every event posted inside it is
    * seen; each job `f` started must have ended by then.
    */
  private def jobsOf[T](what: String)(f: => T): (T, Int) = {
    assert(listening)
    TestBus.drain(spark.sparkContext)
    val before = jobs.started.asScala.toSet
    val r = f
    TestBus.drain(spark.sparkContext)
    val mine = jobs.started.asScala.toSet -- before
    val open = mine -- jobs.ended.asScala.toSet
    assert(open.isEmpty, s"$what returned with jobs $open still running")
    (r, mine.size)
  }

  private def local(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  /** The same rows read back from parquet: a probe the distributed
    * path serves. */
  private def onDisk(rows: Seq[Row], schema: StructType): DataFrame = {
    val d = Files.createTempDirectory("graft-serve-probe").toString + "/p"
    local(rows, schema).write.parquet(d)
    spark.read.schema(schema).parquet(d)
  }

  private def isLocal(docs: DataFrame): Boolean =
    IndexPolicy.localProbe(Dedup.rowDocSig(docs, 3, 16, 4), "doc_id").isDefined

  /** `serve` over the local and the parquet copy of `rows`: equal rows
    * in equal order, returned. */
  private def sameRows(what: String, rows: Seq[Row], schema: StructType)(
      serve: DataFrame => DataFrame): Seq[Row] = {
    val got = serve(local(rows, schema)).collect().toSeq
    val want = serve(onDisk(rows, schema)).collect().toSeq
    assert(got == want, s"$what: local path $got != distributed path $want")
    got
  }

  private lazy val corpus: IndexedSeq[(Long, String)] =
    Tables.documents(spark, sf).select(col("doc_id"), col("text"))
      .orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1)))
      .toIndexedSeq

  /** Near copies (first word dropped) of the documents with id ≡ 3 or
    * 4 (mod 25), two copies of a fresh text that only match each other,
    * a document with fewer than n = 3 tokens, an empty text and a copy
    * of the hot text. */
  private def probeRows(hot: String): Seq[Row] = {
    val fresh = (1 to 12).map(i => s"zq$i").mkString(" ")
    val near = corpus.filter(d => d._1 % 25 == 3 || d._1 % 25 == 4)
      .map { case (id, t) => (id + 1000000L, t.split(' ').drop(1).mkString(" ")) }
    (near ++ Seq(2000001L -> fresh, 2000002L -> fresh,
      2000003L -> "alpha beta", 2000004L -> "", 2000005L -> hot))
      .map { case (id, t) => Row(id, t) }
  }

  private val hot = "the quick brown fox jumps over the lazy dog again and again"

  private def ids(xs: Seq[Long]): DataFrame =
    local(xs.map(Row(_)), StructType.fromDDL("doc_id bigint"))

  private def docRows(ds: Seq[(Long, String)]): Seq[Row] =
    ds.map { case (id, t) => Row(id, t) }

  test("near-dup: the small-probe lookup returns the distributed lookup's rows in order, in every read state") {
    val idx = Files.createTempDirectory("graft-serve-nd").toString + "/idx"
    // three identical documents make a hot bucket for the finite cap
    val base = corpus.filter(_._1 % 4 != 1) ++
      Seq(900001L -> hot, 900002L -> hot, 900003L -> hot)
    // every 5th document, and some probed ones
    val removed = corpus.map(_._1).filter(i => i % 5 == 0 || i % 50 == 28)
    // probed documents checked in again under their own ids with their
    // tokens reversed: same set size, other digests — stale twins whose
    // tie the `best` rule breaks on the digest set's hash
    val twins = corpus.filter { case (id, _) =>
      (id % 25 == 3 || id % 25 == 4) && id % 4 != 1 && !removed.contains(id)
    }.map { case (id, t) => (id, t.split(' ').reverse.mkString(" ")) }
    val delta = corpus.filter(_._1 % 4 == 1) ++ twins
    spark.conf.set(IndexPolicy.SnapKeepConf, "10")
    try {
      Dedup.neardupWriteIndex(spark, local(docRows(base), docSchema), idx)
      Dedup.neardupCheckIn(spark, idx, local(docRows(delta), docSchema))
        .collect()                                                     // gen 1
      Dedup.neardupRemove(spark, idx, ids(removed))                    // gen 2
    } finally spark.conf.unset(IndexPolicy.SnapKeepConf)
    val probes = probeRows(hot)
    assert(isLocal(local(probes, docSchema)) &&
      !isLocal(onDisk(probes, docSchema)))
    def same(what: String)(f: DataFrame => DataFrame) =
      sameRows(what, probes, docSchema)(f)
    val live = same("live")(Dedup.neardupLookup(spark, idx, _))
    val gens = (0L to 2L).map(g =>
      same(s"as-of $g")(Dedup.neardupLookupAsOf(spark, idx, _, g)))
    val snaps = IndexPolicy.snapshotIds(spark, idx)
    assert(snaps.size >= 3, s"snapshots $snaps")
    snaps.foreach(v =>
      same(s"snapshot $v")(Dedup.neardupLookupSnapshot(spark, idx, v, _)))
    val capped =
      same("capBucket 2")(Dedup.neardupLookup(spark, idx, _, capBucket = 2))
    // the states differ, so each comparison above checked something
    assert(live == gens(2))
    assert(gens(0) != gens(1), "the check-in added no pair")
    assert(gens(1) != gens(2), "the removal suppressed no pair")
    assert(live.exists(r => r.getLong(0) == 2000001L && r.getLong(1) == 2000002L),
      "no delta-vs-delta pair")
    assert(live.exists(_.getLong(0) == 900001L) &&
      !capped.exists(_.getLong(0) == 900001L), "the cap dropped nothing")
    def pairOf(rows: Seq[Row], a: Long) =
      rows.find(r => r.getLong(0) == a && r.getLong(1) == a + 1000000L)
    assert(twins.exists(t => pairOf(gens(0), t._1).nonEmpty &&
        pairOf(gens(1), t._1).isEmpty),
      "no stale twin won its tie, so the tie-break was never exercised")
    // a torn commit: the committed watermark falls back behind gen 2
    IndexPolicy.publish(spark, idx,
      IndexPolicy.manifestOf(spark, idx) + ("gen_committed" -> "1"))
    assert(same("torn at 1")(Dedup.neardupLookup(spark, idx, _)) == gens(1))
    // duplicate probe ids: the distributed path serves both copies
    val dup = probes :+ Row(probes.head.getLong(0), "a different text here now")
    assert(!isLocal(local(dup, docSchema)))
    sameRows("duplicate ids", dup, docSchema)(Dedup.neardupLookup(spark, idx, _))
  }

  test("near-dup: the row-wise signature equals md5DocSig's: sig, sz and the sorted digest set") {
    val probes = probeRows(hot)
    def sigs(df: DataFrame) = df.collect().map(r =>
      r.getAs[Long]("doc_id") -> (r.getAs[scala.collection.Seq[Long]]("sig").toSeq,
        r.getAs[Int]("sz"), r.getAs[scala.collection.Seq[Long]]("dset").toSeq.sorted))
      .toMap
    val want = sigs(Dedup.md5DocSig(onDisk(probes, docSchema), 3, 16))
    val got = sigs(Dedup.rowDocSig(local(probes, docSchema), 3, 16, 4)
      .filter(col("sz") > 0))
    assert(got == want)
    // the short and the empty document have no signature on either side
    assert(!want.contains(2000003L) && !want.contains(2000004L))
  }

  test("IVF: the small-probe serve returns the distributed serve's rows in order: negative ids, tombstones, as-of") {
    val idx = Files.createTempDirectory("graft-serve-ivf").toString + "/idx"
    // the build seeds its cells from the vec_ids < 8: shifted, the
    // seeds and so the cells carry negative ids
    val vecs = Tables.embeddings(spark, sf)
      .select(when(col("vec_id") < 8, col("vec_id") - 8).otherwise(col("vec_id"))
        .as("vec_id"), col("embedding"))
      .collect().toSeq
    val (added, base) = vecs.partition(_.getLong(0) % 10 == 3)
    Similarity.ivfWriteIndexVecs(spark, local(base, vecSchema), idx)     // gen 0
    Similarity.ivfAppendVectors(spark, idx, local(added, vecSchema))     // gen 1
    Similarity.ivfRemove(spark, idx, local(                              // gen 2
      vecs.filter(r => r.getLong(0) % 7 == 0 || r.getLong(0) == -5L), vecSchema))
    // indexed vectors under their own ids (the serve skips the query's
    // own row), negative ids among them, and fresh copies of others
    val queries = vecs.filter(r => r.getLong(0) % 40 == 3 || r.getLong(0) < -4) ++
      vecs.filter(_.getLong(0) % 40 == 7).map(r => Row(r.getLong(0) + 1000000L, r.get(1)))
    def same(what: String)(f: DataFrame => DataFrame) =
      sameRows(what, queries, vecSchema)(f)
    val live = same("live")(Similarity.ivfQueryIndexVecs(spark, idx, _))
    val gens = (0L to 2L).map(g => same(s"as-of $g")(
      Similarity.ivfQueryIndexVecs(spark, idx, _, asOf = Some(g))))
    same("kNN 7, nProbe 3")(
      Similarity.ivfQueryIndexVecs(spark, idx, _, kNN = 7, nProbe = 3))
    assert(live == gens(2))
    assert(gens(0) != gens(1), "the append changed no ranking")
    assert(gens(1) != gens(2), "the removal changed no ranking")
    assert(live.exists(_.getLong(0) < 0) && live.exists(_.getLong(2) < 0),
      "no negative id served")
    assert(!live.exists(r => r.getLong(2) % 7 == 0 || r.getLong(2) == -5L),
      "a removed vector was served")
  }

  test("small-probe serves stay within their job budgets, and no serve leaves a job running") {
    val root = Files.createTempDirectory("graft-serve-jobs").toString
    val base = docRows(corpus.filter(_._1 % 4 != 1))
    val delta = docRows(corpus.filter(_._1 % 8 == 1))
    val removed = corpus.map(_._1).filter(_ % 5 == 0)
    // twin indexes, so the two check-ins below start from one state
    Seq("a", "b").foreach { t =>
      Dedup.neardupWriteIndex(spark, local(base, docSchema), s"$root/$t")
      Dedup.neardupRemove(spark, s"$root/$t",
        ids(removed))
    }
    val probes = probeRows(hot)
    val (pl, pd) = (local(probes, docSchema), onDisk(probes, docSchema))
    val (fromLocal, ndLocal) = jobsOf("local near-dup lookup")(
      Dedup.neardupLookup(spark, s"$root/a", pl).collect().toSeq)
    val (fromDisk, ndDist) = jobsOf("distributed near-dup lookup")(
      Dedup.neardupLookup(spark, s"$root/a", pd).collect().toSeq)
    assert(fromLocal.nonEmpty && fromLocal == fromDisk)
    assert(ndLocal <= 3 && ndLocal < ndDist,
      s"near-dup lookup: local $ndLocal jobs, distributed $ndDist")
    // a check-in: the lookup plus the admit's writes and commit
    val (dl, dd) = (local(delta, docSchema), onDisk(delta, docSchema))
    val (inLocal, ciLocal) = jobsOf("local near-dup check-in")(
      Dedup.neardupCheckIn(spark, s"$root/a", dl).collect().toSeq)
    val (inDisk, ciDist) = jobsOf("distributed near-dup check-in")(
      Dedup.neardupCheckIn(spark, s"$root/b", dd).collect().toSeq)
    assert(inLocal == inDisk)
    assert(ciLocal < ciDist,
      s"near-dup check-in: local $ciLocal jobs, distributed $ciDist")
    // IVF, with tombstones: centroids, tombstones, the scoring query
    val ivf = s"$root/ivf"
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
      .collect().toSeq
    Similarity.ivfWriteIndexVecs(spark, local(vecs, vecSchema), ivf)
    Similarity.ivfRemove(spark, ivf, local(vecs.filter(_.getLong(0) % 9 == 0), vecSchema))
    val qs = vecs.filter(_.getLong(0) % 60 == 1).map(r => Row(r.getLong(0) + 1000000L, r.get(1)))
    val (ql, qd) = (local(qs, vecSchema), onDisk(qs, vecSchema))
    val (served, ivLocal) = jobsOf("local IVF serve")(
      Similarity.ivfQueryIndexVecs(spark, ivf, ql).collect().toSeq)
    val (servedDisk, ivDist) = jobsOf("distributed IVF serve")(
      Similarity.ivfQueryIndexVecs(spark, ivf, qd).collect().toSeq)
    assert(served.nonEmpty && served == servedDisk)
    assert(ivLocal <= 4 && ivLocal < ivDist,
      s"IVF serve: local $ivLocal jobs, distributed $ivDist")
    info(s"Spark jobs, small-probe path vs distributed path: near-dup " +
      s"lookup $ndLocal vs $ndDist, near-dup check-in $ciLocal vs $ciDist, " +
      s"IVF serve $ivLocal vs $ivDist")
  }

  test("a small-probe lookup's pairs stay as they were after a later check-in admits the probed documents") {
    val idx = Files.createTempDirectory("graft-serve-snap").toString + "/idx"
    Dedup.neardupWriteIndex(spark,
      local(docRows(corpus.filter(_._1 % 4 != 1)), docSchema), idx)
    val probes = probeRows(hot)
    val held = Dedup.neardupLookup(spark, idx, local(probes, docSchema))
    val before = held.collect().toSeq
    assert(before.nonEmpty)
    // admit the probes themselves, then their texts under fresh ids:
    // a lookup run now pairs each probe with its admitted copy
    Dedup.neardupCheckIn(spark, idx, local(probes, docSchema)).collect()
    assert(held.collect().toSeq == before, "the held pairs moved")
    Dedup.neardupCheckIn(spark, idx, local(probes.map(r =>
      Row(r.getLong(0) + 5000000L, r.getString(1))), docSchema)).collect()
    assert(held.collect().toSeq == before, "the held pairs moved")
    assert(Dedup.neardupLookup(spark, idx, local(probes, docSchema))
      .collect().toSeq != before, "the check-ins changed no lookup")
  }
}
