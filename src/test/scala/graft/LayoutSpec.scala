package graft

import graft.sources.Layout
import org.apache.spark.sql.functions._

/** Storage-layout invariants: partitioned writes must prune at the
  * directory level, bucketed tables must join and aggregate with no
  * Exchange anywhere in the plan, and neither layout may change
  * results.
  */
class LayoutSpec extends SparkSpec {

  private val partDir = "/tmp/graft_test_docs_by_lang"

  /** Recursive delete for the as-of fail-fast cases (legacy-index
    * simulation: remove a stats_before snapshot or the manifest).
    */
  private def wipe(d: java.io.File): Unit = {
    if (d.isDirectory) d.listFiles().foreach(wipe)
    d.delete()
  }

  test("partitionBy write + lang filter prunes partitions, same rows") {
    Layout.writePartitionedDocs(spark, sf, partDir)
    val sliced = Layout.langSlice(spark, partDir, "en")
    val plan = sliced.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:") &&
      plan.contains("(lang"), s"no partition pruning:\n$plan")
    // the lang predicate must NOT appear as a pushed data filter —
    // it's resolved against directories before any file is opened
    assert(!plan.contains("PushedFilters: [IsNotNull(lang"), plan)
    val expected = graft.Tables.documents(spark, sf)
      .filter(col("lang") === "en").count()
    assert(sliced.count() == expected)
  }

  test("at-rest BM25 index: serving prunes to query-term letter buckets, equals direct") {
    import graft.operators.TextAnalysis
    val idx = "/tmp/graft_test_bm25_idx"
    TextAnalysis.bm25WriteIndex(spark, sf, idx)
    val served = TextAnalysis.bm25QueryIndex(spark, idx,
      Seq("data", "model", "system"), 20)
    // the served ranking must equal the direct (index-free) query
    val direct = TextAnalysis.bm25TopK(spark, sf)
    assert(served.collect().toSeq == direct.collect().toSeq)
    // REAL pruning proof: under the manifest's bucket map, routing is
    // DRIVER-SIDE — the scan is handed exactly the query terms'
    // (tb, tk) bucket dirs, so the executed postings scan must have
    // read exactly those buckets' files and strictly fewer than the
    // index holds (no listing, no partition-filter machinery needed)
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val scan = scans(served.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths
        .exists(_.toString.contains("postings"))).head
    val scanned = scan.metrics("numFiles").value
    def walkAll(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(walkAll) else Seq(d)
    def pq(dir: String): Int =
      walkAll(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    val phys = TextAnalysis.physicalBuckets(spark, idx, "postings")
    val total = phys.values.map(pq).sum
    val want = Seq("data", "model", "system")
      .map(t => (t.take(1), TextAnalysis.tkOf(t))).distinct
      .map(phys).map(pq).sum
    assert(scanned == want && scanned < total,
      s"bucket routing off: scanned $scanned, routed-bucket files " +
        s"$want, index total $total")
  }

  test("bm25 incremental refresh: only delta-touched letters rewrite, served == rebuild") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-refresh").toString
    val idx = s"$root/idx"
    // base corpus over letters {a,b,c,d,q}; doc 2 is the ONLY holder
    // of a q-term (its removal must delete the q partition), and no
    // delta document touches c (that partition must stay byte-
    // identical)
    val base = Seq(
      (1L, "apple banana cat dog"),
      (2L, "banana bear quince"),
      (3L, "apple dog dig"),
      (4L, "bear apple cherry dog")).toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndexDocs(spark, base, idx)
    // physical bucket dirs resolve through the manifest map (they
    // carry epoch tokens): same absolute paths + mtimes == the bucket
    // kept its old epoch and its files were never rewritten
    def files(sub: String): Map[String, Seq[(String, Long)]] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      TextAnalysis.physicalBuckets(spark, idx, sub).toSeq
        .groupBy { case ((b, _), _) => s"tb=$b" }
        .map { case (tb, ds) =>
          tb -> ds.flatMap { case (_, d) =>
            walk(new java.io.File(d)).filter(_.getName.endsWith(".parquet"))
              .map(f => (f.getAbsolutePath, f.lastModified))
          }.sortBy(_._1)
        }
    }
    val postBefore = files("postings")
    val termsBefore = files("terms")
    assert(postBefore.keySet == Set("tb=a", "tb=b", "tb=c", "tb=d", "tb=q"))
    // delta: remove doc 2 (letters b,q), change doc 3 (old a,d → new
    // a,z), add doc 5 (z). Touched = {a,b,d,q,z}; untouched = {c}.
    val newD = Seq((3L, "apple zebra"), (5L, "zulu zebra")).toDF("doc_id", "text")
    val oldD = Seq((2L, "banana bear quince"), (3L, "apple dog dig"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25RefreshIndex(spark, idx, newD, oldD)
    val postAfter = files("postings")
    // untouched letter: same files, same mtimes — never rewritten
    assert(postAfter("tb=c") == postBefore("tb=c"),
      s"untouched partition rewritten: ${postBefore("tb=c")} -> ${postAfter("tb=c")}")
    assert(files("terms")("tb=c") == termsBefore("tb=c"))
    // emptied letter: the stale q dir is gone from postings AND terms
    assert(!postAfter.contains("tb=q"), "stale q postings survived the refresh")
    assert(!files("terms").contains("tb=q"))
    // new letter appeared
    assert(postAfter.contains("tb=z"))
    // the refreshed index serves bit-identically to a from-scratch
    // rebuild over base+delta — including corpus stats (avgdl shifts
    // with every delta and is defined identically in both paths)
    val finalDocs = Seq(
      (1L, "apple banana cat dog"),
      (3L, "apple zebra"),
      (4L, "bear apple cherry dog"),
      (5L, "zulu zebra")).toDF("doc_id", "text")
    val rebuilt = s"$root/rebuilt"
    TextAnalysis.bm25WriteIndexDocs(spark, finalDocs, rebuilt)
    val q = Seq("apple", "banana", "zebra", "cat")
    assert(TextAnalysis.bm25QueryIndex(spark, idx, q, 10).collect().toSeq ==
      TextAnalysis.bm25QueryIndex(spark, rebuilt, q, 10).collect().toSeq)
    val statsOf = (p: String) => spark.read
      .schema("n_docs bigint, avgdl double, sum_dl bigint")
      .parquet(TextAnalysis.resolvedStats(spark, p)).head()
    assert(statsOf(idx) == statsOf(rebuilt))
  }

  test("bm25 refresh is term-bucket granular: same-letter different-bucket terms stay byte-identical") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    // two words sharing a first letter but hashing to DIFFERENT tk
    // buckets: a delta touching only one of them must leave the
    // other's (tb, tk) directory byte-identical — the granularity
    // the two-level layout adds over letter-only partitioning
    val aWords = Seq("apple", "avocado", "almond", "apricot", "anise",
      "acorn", "aster", "amber", "agate", "auburn")
    val tkOf = aWords.map(w => w -> TextAnalysis.tkOf(w)).toMap
    val pick = (for {
      x <- aWords; y <- aWords if tkOf(x) != tkOf(y)
    } yield (x, y)).head
    val (wa, wb) = pick
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-tk").toString
    val idx = s"$root/idx"
    TextAnalysis.bm25WriteIndexDocs(spark, Seq(
      (1L, s"$wa $wa banana"),
      (2L, s"$wb cherry"),
      (3L, s"$wa $wb dog")).toDF("doc_id", "text"), idx)
    def bucketFiles(sub: String, w: String): Seq[(String, Long)] = {
      val d = new java.io.File(TextAnalysis
        .physicalBuckets(spark, idx, sub)((w.take(1), TextAnalysis.tkOf(w))))
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.lastModified)).toSeq.sortBy(_._1)
    }
    val bBefore = bucketFiles("postings", wb)
    val tBefore = bucketFiles("terms", wb)
    // delta: doc 1's text changes wa-count and banana — touches wa's
    // bucket and b's letter, never wb's bucket (same letter as wa!)
    TextAnalysis.bm25RefreshIndex(spark, idx,
      Seq((1L, s"$wa banana banana")).toDF("doc_id", "text"),
      Seq((1L, s"$wa $wa banana")).toDF("doc_id", "text"))
    assert(bucketFiles("postings", wb) == bBefore,
      s"untouched same-letter bucket of '$wb' was rewritten")
    assert(bucketFiles("terms", wb) == tBefore)
    // and the refreshed index still serves == a from-scratch rebuild
    val rebuilt = s"$root/rebuilt"
    TextAnalysis.bm25WriteIndexDocs(spark, Seq(
      (1L, s"$wa banana banana"),
      (2L, s"$wb cherry"),
      (3L, s"$wa $wb dog")).toDF("doc_id", "text"), rebuilt)
    val q = Seq(wa, wb, "banana", "cherry", "dog")
    assert(TextAnalysis.bm25QueryIndex(spark, idx, q, 10).collect().toSeq ==
      TextAnalysis.bm25QueryIndex(spark, rebuilt, q, 10).collect().toSeq)
  }

  test("bm25 segment append: O(delta) ingest leaves the ENTIRE base untouched; compact folds it in") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-seg").toString
    val idx = s"$root/idx"
    val base = Seq(
      (1L, "apple banana cat dog"),
      (2L, "banana bear quince"),
      (3L, "apple dog dig"),
      (4L, "bear apple cherry dog")).toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndexDocs(spark, base, idx)
    def baseFiles(): Seq[(String, Long, Long)] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      (TextAnalysis.physicalBuckets(spark, idx, "postings").values ++
        TextAnalysis.physicalBuckets(spark, idx, "terms").values)
        .flatMap(d => walk(new java.io.File(d))).toSeq
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.lastModified, f.length))
        .sortBy(_._1)
    }
    val before = baseFiles()
    // same delta as the merge-refresh test: remove doc 2, change doc
    // 3, add doc 5 — but appended as a segment
    val newD = Seq((3L, "apple zebra"), (5L, "zulu zebra")).toDF("doc_id", "text")
    val oldD = Seq((2L, "banana bear quince"), (3L, "apple dog dig"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25AppendSegment(spark, idx, newD, oldD)
    // EVERY base file — all letters, postings and terms — untouched
    assert(baseFiles() == before, "segment append rewrote base files")
    val seg1Name = graft.operators.IndexPolicy.manifestOf(spark, idx)
      .apply("segments").split(",").head
    assert(new java.io.File(s"$idx/segments/$seg1Name/postings").exists)
    // serving through the tombstone filter == a from-scratch rebuild
    val finalDocs = Seq(
      (1L, "apple banana cat dog"),
      (3L, "apple zebra"),
      (4L, "bear apple cherry dog"),
      (5L, "zulu zebra")).toDF("doc_id", "text")
    val rebuilt = s"$root/rebuilt"
    TextAnalysis.bm25WriteIndexDocs(spark, finalDocs, rebuilt)
    val q = Seq("apple", "banana", "zebra", "quince", "cat")
    def served(p: String) =
      TextAnalysis.bm25QueryIndex(spark, p, q, 10).collect().toSeq
    assert(served(idx) == served(rebuilt))
    // a second segment on top of the first: doc 5 changes again —
    // its seg-1 postings must die to the seg-2 tombstone while the
    // seg-2 replacement survives
    TextAnalysis.bm25AppendSegment(spark, idx,
      Seq((5L, "zulu cat")).toDF("doc_id", "text"),
      Seq((5L, "zulu zebra")).toDF("doc_id", "text"))
    val rebuilt2 = s"$root/rebuilt2"
    TextAnalysis.bm25WriteIndexDocs(spark,
      finalDocs.filter(col("doc_id") =!= 5L)
        .unionByName(Seq((5L, "zulu cat")).toDF("doc_id", "text")), rebuilt2)
    assert(served(idx) == served(rebuilt2))
    // compaction: pure layout change — same rankings, segments gone
    // from the committed manifest, the letter held only by tombstoned
    // docs (q) gone from the bucket map
    val foldedSegs = graft.operators.IndexPolicy.manifestOf(spark, idx)
      .apply("segments").split(",").toSeq
    TextAnalysis.bm25Compact(spark, idx)
    assert(TextAnalysis.bm25Health(spark, idx).toMap
      .apply("bm25_segments") == 0L)
    assert(!TextAnalysis.physicalBuckets(spark, idx, "postings").keys
      .exists(_._1 == "q"), "stale q bucket survived the fold")
    assert(served(idx) == served(rebuilt2))
    val statsOf = (p: String) => spark.read
      .schema("n_docs bigint, avgdl double, sum_dl bigint")
      .parquet(TextAnalysis.resolvedStats(spark, p)).head()
    assert(statsOf(idx) == statsOf(rebuilt2))
    // the folded segments' dirs are unreferenced garbage until the
    // NEXT mutation's sweep reclaims them (readers of the pre-fold
    // manifest get a grace interval); an empty-delta append sweeps
    // without minting a segment
    assert(new java.io.File(s"$idx/segments").exists)
    TextAnalysis.bm25AppendSegment(spark, idx,
      base.limit(0), base.limit(0))
    foldedSegs.foreach(n => assert(
      !new java.io.File(s"$idx/segments/$n").exists,
      s"sweep did not reclaim the folded segment dir $n"))
    assert(served(idx) == served(rebuilt2))
  }

  test("bm25 as-of serve: every generation replays its historical ranking; compact folds history away") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-asof").toString
    val idx = s"$root/idx"
    val gen0 = Seq(
      (1L, "apple banana cat dog"),
      (2L, "banana bear quince"),
      (3L, "apple dog dig"),
      (4L, "bear apple cherry dog")).toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndexDocs(spark, gen0, idx)
    // gen 1: remove doc 2, change doc 3, add doc 5
    TextAnalysis.bm25AppendSegment(spark, idx,
      Seq((3L, "apple zebra"), (5L, "zulu zebra")).toDF("doc_id", "text"),
      Seq((2L, "banana bear quince"), (3L, "apple dog dig"))
        .toDF("doc_id", "text"))
    val gen1 = Seq(
      (1L, "apple banana cat dog"),
      (3L, "apple zebra"),
      (4L, "bear apple cherry dog"),
      (5L, "zulu zebra")).toDF("doc_id", "text")
    // gen 2: doc 5 changes again
    TextAnalysis.bm25AppendSegment(spark, idx,
      Seq((5L, "zulu cat")).toDF("doc_id", "text"),
      Seq((5L, "zulu zebra")).toDF("doc_id", "text"))
    val gen2 = gen1.filter(col("doc_id") =!= 5L)
      .unionByName(Seq((5L, "zulu cat")).toDF("doc_id", "text"))
    val q = Seq("apple", "banana", "zebra", "quince", "cat")
    def direct(docs: org.apache.spark.sql.DataFrame) = {
      val p = java.nio.file.Files
        .createTempDirectory("graft-bm25-asof-direct").toString
      TextAnalysis.bm25WriteIndexDocs(spark, docs, p)
      TextAnalysis.bm25QueryIndex(spark, p, q, 10).collect().toSeq
    }
    def asOf(g: Int) =
      TextAnalysis.bm25QueryIndex(spark, idx, q, 10, at = graft.operators.IndexPolicy.At.Gen(g)).collect().toSeq
    // each pinned generation == a from-scratch build of that corpus,
    // served from ONE at-rest index that has moved on since
    assert(asOf(0) == direct(gen0), "as-of 0 != v0 rebuild")
    assert(asOf(1) == direct(gen1), "as-of 1 != v1 rebuild")
    assert(asOf(2) == direct(gen2), "as-of 2 != v2 rebuild")
    // the newest generation is the ordinary serve
    assert(asOf(2) == TextAnalysis.bm25QueryIndex(spark, idx, q, 10)
      .collect().toSeq, "newest as-of != plain serve")
    // generation bounds fail fast
    intercept[IllegalArgumentException](asOf(3))
    intercept[IllegalArgumentException](asOf(-1))
    // a segment without the stats snapshot (pre-feature index) fails
    // fast instead of serving wrong stats
    val asofSeg1 = graft.operators.IndexPolicy.manifestOf(spark, idx)
      .apply("segments").split(",").head
    val legacy = new java.io.File(s"$idx/segments/$asofSeg1/stats_before")
    wipe(legacy)
    intercept[IllegalArgumentException](asOf(0))
    // compact folds segments into the base: history is gone BY DESIGN
    // — only the newest generation remains addressable, and it still
    // serves the post-delta ranking
    TextAnalysis.bm25Compact(spark, idx)
    intercept[IllegalArgumentException](asOf(1))
    assert(asOf(0) == direct(gen2), "post-compact gen 0 != newest corpus")
  }

  test("at-rest IVF index: serving scan prunes to the probed cells only") {
    import graft.operators.Similarity
    val idx = "/tmp/graft_test_ivf_idx"
    Similarity.ivfWriteIndex(spark, sf, idx)
    val served = Similarity.ivfQueryIndex(spark, sf, idx)
    val plan = served.queryExecution.executedPlan.toString
    // the cell IN-filter must resolve against directories, pruning
    // unprobed cells before any file is opened — since r22 it is a
    // RUNTIME PartitionFilter (dynamic partition pruning off the
    // routing broadcast), not a driver-collected literal IN-set
    assert(plan.contains("PartitionFilters:") && plan.contains("cell"),
      s"no cell pruning:\n$plan")
    // and serving must agree with the one-shot build+serve query
    val oneShot = Similarity.ivfIndexTopK(spark, sf)
    assert(served.collect().toSeq == oneShot.collect().toSeq)
    val nCellDirs = new java.io.File(
        graft.operators.IndexPolicy.resolvedTable(spark, idx, "lists").get).listFiles()
      .count(_.getName.startsWith("cell="))
    assert(nCellDirs >= 2, s"index should have multiple cell dirs")
    // REAL pruning proof (r22, the near-dup test's numFiles check):
    // a ONE-query serve probes nProbe=2 of the ≥2 cells, so its
    // executed lists scan must open strictly fewer files than exist —
    // i.e. the dynamic filter actually pruned at runtime (the 8-query
    // default serve above legitimately probes most cells)
    val one = Similarity.ivfQueryIndex(spark, sf, idx, nQueries = 1)
    one.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val listScan = scans(one.queryExecution.executedPlan)
      .filter(_.relation.location.rootPaths.exists(_.toString.contains("lists")))
    assert(listScan.nonEmpty, "no lists scan in served plan")
    assert(listScan.head.toString.contains("dynamicpruning"),
      s"lists scan lacks a dynamic partition filter:\n${listScan.head}")
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
    val totalListFiles = walk(new java.io.File(
        graft.operators.IndexPolicy.resolvedTable(spark, idx, "lists").get))
      .count(_.getName.endsWith(".parquet"))
    val scanned = listScan.head.metrics("numFiles").value
    assert(scanned > 0 && scanned < totalListFiles,
      s"lists not file-pruned: scanned $scanned of $totalListFiles")
  }

  test("ivf vector append: new list files only, existing files byte-identical") {
    import graft.operators.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-append").toString
    val idx = s"$root/idx"
    val base = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark,
      base.filter(pmod(col("vec_id"), lit(10)) =!= 3), idx)
    def listFiles(): Seq[(String, Long, Long)] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      walk(new java.io.File(
          graft.operators.IndexPolicy.resolvedTable(spark, idx, "lists").get))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.lastModified, f.length))
        .sortBy(_._1)
    }
    val before = listFiles()
    Similarity.ivfAppendVectors(spark, idx,
      base.filter(pmod(col("vec_id"), lit(10)) === 3))
    val after = listFiles()
    // every pre-append file survives unmodified; the delta landed as
    // strictly NEW part files inside the assigned cells
    assert(after.toSet.intersect(before.toSet) == before.toSet,
      "append rewrote existing list files")
    assert(after.size > before.size, "append added no files")
    // the index now holds every vector exactly once
    val total = spark.read.parquet(
      graft.operators.IndexPolicy.resolvedTable(spark, idx, "lists").get).count()
    assert(total == base.count(), s"index holds $total of ${base.count()}")
  }

  test("ivf retrain at same path clears tombstones: removed ids serve again") {
    import graft.operators.Similarity
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-retrain").toString
    val idx = s"$root/idx"
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark, all, idx)
    val fresh = Similarity.ivfQueryIndex(spark, sf, idx).collect().toSeq
    // remove every other candidate the fresh serve returned — the
    // removal set provably intersects the rankings
    import spark.implicits._
    val dead = fresh.map(_.getLong(2)).distinct.zipWithIndex
      .filter(_._2 % 2 == 0).map(_._1)
    assert(dead.nonEmpty)
    Similarity.ivfRemove(spark, idx, dead.toDF("vec_id"))
    val removedServe = Similarity.ivfQueryIndex(spark, sf, idx)
      .collect().toSeq
    assert(removedServe.map(_.getLong(2)).toSet
      .intersect(dead.toSet).isEmpty, "tombstoned ids still served")
    assert(removedServe != fresh)
    // FULL retrain at the SAME path (the compaction analogue): the
    // stale tombstones must not outlive the rebuild — the removed
    // ids are legitimately re-indexed and must serve again (r13
    // ADVICE medium). READ-WHILE-WRITE: a serve plan resolved before
    // the retrain keeps answering from its (pre-swing) epoch — the
    // old delete-then-rebuild made every read fail for the whole
    // retrain window
    val preSwing = Similarity.ivfQueryIndex(spark, sf, idx)
    assert(preSwing.collect().toSeq == removedServe)
    Similarity.ivfWriteIndexVecs(spark, all, idx)
    assert(preSwing.collect().toSeq == removedServe,
      "a reader racing a committed retrain must keep serving its " +
        "resolved (pre-swing) generation")
    assert(graft.operators.IndexPolicy.resolvedTable(spark, idx, "tombstones").isEmpty,
      "retrain left stale tombstones referenced")
    assert(Similarity.ivfQueryIndex(spark, sf, idx).collect().toSeq
      == fresh, "retrained serve differs from a fresh build's")
  }

  test("ivf as-of serve: every mutation generation replays its historical ranking; retrain resets the timeline") {
    import graft.operators.Similarity
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-asof").toString
    val idx = s"$root/idx"
    val all = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark, all, idx)                    // gen 0
    def serveNow() = Similarity.ivfQueryIndex(spark, sf, idx).collect().toSeq
    def asOf(g: Long) =
      Similarity.ivfQueryIndex(spark, sf, idx, at = graft.operators.IndexPolicy.At.Gen(g)).collect().toSeq
    val serve0 = serveNow()
    // gen 1: append exact duplicates of the query vectors — rank-1
    // hits, so the live serve provably changes
    Similarity.ivfAppendVectors(spark, idx,
      all.filter(col("vec_id") < 8)
        .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding")))
    val serve1 = serveNow()
    assert(serve1 != serve0, "append did not change the live serve")
    // gen 2: remove every other candidate of the CURRENT serve
    val dead = serve1.map(_.getLong(2)).distinct.zipWithIndex
      .filter(_._2 % 2 == 0).map(_._1)
    assert(dead.nonEmpty)
    Similarity.ivfRemove(spark, idx, dead.toDF("vec_id"))
    val serve2 = serveNow()
    assert(serve2 != serve1, "removal did not change the live serve")
    // each pinned generation replays its historical ranking from the
    // SAME at-rest index that has moved on since
    assert(asOf(0) == serve0, "as-of 0 != pre-mutation serve")
    assert(asOf(1) == serve1, "as-of 1 != post-append serve")
    assert(asOf(2) == serve2, "as-of 2 != live serve")
    // generation bounds fail fast
    intercept[IllegalArgumentException](asOf(3))
    intercept[IllegalArgumentException](asOf(-1))
    // retrain resets the timeline to gen 0 by design
    Similarity.ivfWriteIndexVecs(spark, all, idx)
    intercept[IllegalArgumentException](asOf(1))
    assert(asOf(0) == serve0, "post-retrain gen 0 != fresh-build serve")
    // an index with no manifest (pre-pointer-commit, or a build that
    // crashed before its publish) fails fast instead of serving an
    // unpinnable ranking
    wipe(new java.io.File(s"$idx/current"))
    wipe(new java.io.File(s"$idx/clog"))
    intercept[IllegalArgumentException](asOf(0))
    intercept[IllegalArgumentException](
      Similarity.ivfAppendVectors(spark, idx, all.limit(1)))
  }

  test("near-dup as-of lookup: every mutation generation replays its historical pairs; compact resets the timeline") {
    import graft.operators.Dedup
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-neardup-asof").toString
    val idx = s"$root/idx"
    // gen 0: docs 1-2; gen 1 checks in doc 3 (dup of 1) + novel doc
    // 4; gen 2 removes doc 1. The probe duplicates docs 1 and 4.
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
    val probe = Seq((9L, "a b c d e"), (8L, "q r s t u"))
      .toDF("doc_id", "text").localCheckpoint()
    def asOf(g: Long) =
      Dedup.neardupLookup(spark, idx, probe, at = graft.operators.IndexPolicy.At.Gen(g))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def live() = Dedup.neardupLookup(spark, idx, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live() == Set((1L, 9L)))
    Dedup.neardupCheckIn(spark, idx, Seq(
      (3L, "a b c d e"), (4L, "q r s t u")).toDF("doc_id", "text")).count()
    assert(live() == Set((1L, 9L), (3L, 9L), (4L, 8L)))
    Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
    assert(live() == Set((3L, 9L), (4L, 8L)))
    // each pinned generation replays its historical pairs from the
    // SAME at-rest index that has moved on since
    assert(asOf(0) == Set((1L, 9L)), "as-of 0 != pre-mutation pairs")
    assert(asOf(1) == Set((1L, 9L), (3L, 9L), (4L, 8L)),
      "as-of 1 != post-admit pairs")
    assert(asOf(2) == live(), "as-of 2 != live pairs")
    // generation bounds fail fast
    intercept[IllegalArgumentException](asOf(3))
    intercept[IllegalArgumentException](asOf(-1))
    // compact folds the tombstone in and resets the timeline: doc 1
    // is physically gone, history is no longer addressable
    Dedup.neardupCompact(spark, idx)
    intercept[IllegalArgumentException](asOf(1))
    assert(asOf(0) == Set((3L, 9L), (4L, 8L)),
      "post-compact gen 0 != folded state")
    // an index with no manifest fails fast
    wipe(new java.io.File(s"$idx/current"))
    wipe(new java.io.File(s"$idx/clog"))
    intercept[IllegalArgumentException](asOf(0))
    intercept[IllegalArgumentException](
      Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id")))
  }

  test("near-dup check-in: index never rewritten, pairs found across check-ins") {
    import graft.operators.Dedup
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-neardup-idx").toString
    val idx = s"$root/idx"
    // base docs 1-2; doc 3 (delta 1) duplicates doc 1; doc 4 is
    // novel; doc 5 (delta 2) duplicates doc 4 — found only if the
    // first check-in actually ADMITTED doc 4 into the index
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
    def files(): Seq[(String, Long, Long)] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      (walk(new java.io.File(
          graft.operators.IndexPolicy.resolvedTable(spark, idx, "buckets").get)) ++
        walk(new java.io.File(
          graft.operators.IndexPolicy.resolvedTable(spark, idx, "docsets").get)))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getAbsolutePath, f.lastModified, f.length))
        .sortBy(_._1)
    }
    val before = files()
    val p1 = Dedup.neardupCheckIn(spark, idx, Seq(
      (3L, "a b c d e"), (4L, "q r s t u")).toDF("doc_id", "text")).collect()
    assert(p1.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq((1L, 3L, 1.0)), s"check-in 1 pairs: ${p1.toSeq}")
    val mid = files()
    assert(mid.toSet.intersect(before.toSet) == before.toSet,
      "check-in rewrote existing index files")
    assert(mid.size > before.size, "check-in admitted no files")
    val p2 = Dedup.neardupCheckIn(spark, idx, Seq(
      (5L, "q r s t u")).toDF("doc_id", "text")).collect()
    assert(p2.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      == Seq((4L, 5L, 1.0)), s"check-in 2 pairs: ${p2.toSeq}")
    assert(files().toSet.intersect(mid.toSet) == mid.toSet,
      "second check-in rewrote existing index files")
    // removal: tombstone doc 4 (append-only — index files untouched);
    // a fresh duplicate of it must no longer be flagged, while doc
    // 1's duplicates still are
    val preRemove = files()
    Dedup.neardupRemove(spark, idx, Seq(4L).toDF("doc_id"))
    assert(files() == preRemove, "remove touched index files")
    val p3 = Dedup.neardupCheckIn(spark, idx, Seq(
      (6L, "q r s t u"), (7L, "a b c d e")).toDF("doc_id", "text")).collect()
    val got3 = p3.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got3 == Set((1L, 7L, 1.0), (3L, 7L, 1.0), (5L, 6L, 1.0)),
      s"post-removal pairs: $got3")
    // compact: physically drops doc 4, clears tombstones — a repeat
    // duplicate check finds the same pairs as the tombstone filter did
    Dedup.neardupCompact(spark, idx)
    assert(graft.operators.IndexPolicy.resolvedTable(spark, idx, "tombstones").isEmpty)
    assert(spark.read.parquet(graft.operators.IndexPolicy.resolvedTable(spark, idx, "docsets").get)
      .filter(col("doc_id") === 4L).count() == 0, "compact kept dead docsets")
    val p4 = Dedup.neardupCheckIn(spark, idx, Seq(
      (8L, "q r s t u")).toDF("doc_id", "text")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(p4 == Set((5L, 8L, 1.0), (6L, 8L, 1.0)),
      s"post-compact pairs: $p4")
  }

  test("near-dup lookup prunes BOTH index scans to the delta's hash buckets") {
    import graft.operators.Dedup
    val root = java.nio.file.Files
      .createTempDirectory("graft-neardup-prune").toString
    val idx = s"$root/idx"
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    Dedup.neardupWriteIndex(spark,
      docs.filter(pmod(col("doc_id"), lit(4)) =!= 1), idx)
    // pick ONE delta doc that provably has an indexed near-dup, so
    // the candidate path (and with it the docsets scan) is exercised
    val quarter = docs.filter(pmod(col("doc_id"), lit(4)) === 1)
    val anyPair = Dedup.neardupLookup(spark, idx, quarter).collect()
    assert(anyPair.nonEmpty, "fixture has no near-dup pairs")
    val deltaId = anyPair.flatMap(r => Seq(r.getLong(0), r.getLong(1)))
      .find(_ % 4 == 1).get
    val (pairs, _, candLazy) = Dedup.lookupPlan(spark, idx,
      docs.filter(col("doc_id") === deltaId), 0.2, 3, 16, 4, Int.MaxValue)
    assert(pairs.collect().nonEmpty)
    candLazy.collect() // the buckets scan lives in the lazy cand plan
    def scans(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        scans(q.plan)
      case f: org.apache.spark.sql.execution.FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    def totalFiles(sub: String): Int = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      walk(new java.io.File(graft.operators.IndexPolicy.resolvedTable(spark, idx, sub).get))
        .count(_.getName.endsWith(".parquet"))
    }
    // a single doc emits 4 band buckets → at most 4 of the 4×nPb
    // (band, pb) directories are opened; its candidates' ids hash to
    // a handful of the nDb db directories (nPb = nDb = 8 at fixture
    // scale)
    val allScans = scans(pairs.queryExecution.executedPlan) ++
      scans(candLazy.queryExecution.executedPlan)
    def pruned(sub: String, partCol: String): Unit = {
      // match by rootPaths: toString truncates long epoch-dir paths
      val ss = allScans.filter(_.relation.location.rootPaths
        .exists(_.toString.contains(sub)))
      assert(ss.nonEmpty, s"no $sub scan in plan")
      val s = ss.head
      val scanned = s.metrics("numFiles").value
      val total = totalFiles(sub)
      assert(scanned > 0 && scanned < total,
        s"$sub not file-pruned: scanned $scanned of $total")
      assert(s.toString.contains(s"$partCol IN") ||
        s.toString.contains(s"$partCol#"),
        s"$sub scan lacks $partCol partition filter:\n$s")
    }
    pruned("buckets", "pb")
    pruned("docsets", "db")
  }

  test("layout stamp: mismatched or missing params fail every read fast; stamp is the build-commit marker") {
    import graft.operators.{Dedup, TextAnalysis}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-layout-stamp").toString
    val nd = s"$root/nd"; val bm = s"$root/bm"
    val docs = Seq((1L, "a b c d e"), (2L, "x y z w v"))
      .toDF("doc_id", "text")
    Dedup.neardupWriteIndex(spark, docs, nd)
    TextAnalysis.bm25WriteIndexDocs(spark, docs, bm)
    val probe = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    // healthy reads work
    assert(Dedup.neardupLookup(spark, nd, probe).collect().nonEmpty)
    assert(TextAnalysis.bm25QueryIndex(spark, bm, Seq("a"), 5)
      .collect().nonEmpty)
    // a lookup whose banding params differ from the build's compares
    // incomparable signatures — fail fast, not silently-wrong pairs
    val eBands = intercept[IllegalArgumentException](
      Dedup.neardupLookup(spark, nd, probe, bands = 2))
    assert(eBands.getMessage.contains("layout mismatch on 'bands'"))
    // an index stamped under different hash constants is misread —
    // simulate by rewriting the manifest's stamp the way an old
    // binary's build would have published it
    import graft.operators.IndexPolicy
    IndexPolicy.publish(spark, nd, IndexPolicy.manifestOf(spark, nd) +
      ("layout" -> "v=1,nPb=16,nDb=8,n=3,k=16,bands=4"))
    val eNPb = intercept[IllegalArgumentException](
      Dedup.neardupLookup(spark, nd, probe))
    assert(eNPb.getMessage.contains("layout mismatch on 'nPb'"))
    intercept[IllegalArgumentException](Dedup.neardupRemove(spark, nd,
      Seq(1L).toDF("doc_id")))
    // missing manifest = crashed build or pre-pointer-commit index:
    // every reader and mutation fails fast instead of consuming a
    // partial index (the manifest is published LAST at build)
    wipe(new java.io.File(s"$bm/current"))
    wipe(new java.io.File(s"$bm/clog"))
    val eGone = intercept[IllegalArgumentException](
      TextAnalysis.bm25QueryIndex(spark, bm, Seq("a"), 5))
    assert(eGone.getMessage.contains("no manifest"))
    intercept[IllegalArgumentException](
      TextAnalysis.bm25RefreshIndex(spark, bm, docs.limit(0), docs.limit(0)))
    // rebuild restores service
    TextAnalysis.bm25WriteIndexDocs(spark, docs, bm)
    assert(TextAnalysis.bm25QueryIndex(spark, bm, Seq("a"), 5)
      .collect().nonEmpty)
  }

  test("pointer commit: serves never fail through mutations; a crash leaves the last generation serving; sweep reclaims garbage") {
    import graft.operators.{IndexPolicy, TextAnalysis}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-pointer").toString
    val bm = s"$root/bm"
    val v1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndexDocs(spark, v1, bm)
    // READ-WHILE-WRITE (the r16 verdict-#1 acceptance case): a serve
    // plan resolved BEFORE a refresh keeps executing correctly AFTER
    // the refresh commits — it reads the immutable pre-swing epochs,
    // returns the PRE-swing ranking, and never throws. A fresh serve
    // sees the post-swing state.
    val preSwing = TextAnalysis.bm25QueryIndex(spark, bm, Seq("alpha"), 5)
    val before = preSwing.collect().toSeq
    assert(before.map(_.getLong(0)).toSet == Set(1L))
    TextAnalysis.bm25RefreshIndex(spark, bm,
      Seq((3L, "alpha eta theta")).toDF("doc_id", "text"), v1.limit(0))
    assert(preSwing.collect().toSeq == before,
      "a reader racing a committed refresh must keep serving its " +
        "resolved (pre-swing) generation")
    val served = TextAnalysis.bm25QueryIndex(spark, bm, Seq("alpha"), 5)
      .collect().toSeq
    assert(served.map(_.getLong(0)).toSet == Set(1L, 3L))
    // CRASHED MUTATION: a refresh that died after its heavy epoch
    // writes but before the pointer swing leaves only unreferenced
    // dirs — every read serves the last committed generation,
    // unaware; mutations still work (no torn window to repair)
    val orphan = IndexPolicy.epochDir(bm, IndexPolicy.newEpoch())
    Files.createDirectories(Paths.get(s"$orphan/postings/tb=a/tk=0"))
    Files.write(Paths.get(s"$orphan/postings/tb=a/tk=0/part-gar.parquet"),
      "not even parquet".getBytes)
    assert(TextAnalysis.bm25QueryIndex(spark, bm, Seq("alpha"), 5)
      .collect().toSeq == served, "crash garbage changed a serve")
    // the NEXT mutation's sweep reclaims the orphan (single-writer;
    // readers of the previous manifest get a mutation interval of
    // grace — production GC widens this to a time-based expiry)
    TextAnalysis.bm25AppendSegment(spark, bm, v1.limit(0), v1.limit(0))
    assert(!Files.exists(Paths.get(orphan)),
      "sweep did not reclaim the crashed mutation's epoch")
    assert(TextAnalysis.bm25QueryIndex(spark, bm, Seq("alpha"), 5)
      .collect().toSeq == served)
    // superseded epochs (the pre-refresh generation) are likewise
    // unreferenced after the swing and were reclaimed by the same
    // sweep: exactly the LIVE epochs remain under ep/
    val live = graft.operators.IndexPolicy.EpochPat.findAllIn(
      IndexPolicy.manifestOf(spark, bm).toSeq
        .map { case (k, v) => s"$k=$v" }.mkString("\n")).toSet
    val onDisk = new java.io.File(s"$bm/ep").listFiles().map(_.getName).toSet
    assert(onDisk == live, s"ep/ holds $onDisk but manifest names $live")
    // TIME-BASED GRACE (deployments whose serves may span two rewrite
    // mutations): with sweep.grace.ms set, a freshly-unreferenced dir
    // SURVIVES the next mutation's sweep; with the default 0 it is
    // reclaimed — the expire-snapshots knob, spec-pinned
    val orphan2 = IndexPolicy.epochDir(bm, IndexPolicy.newEpoch())
    Files.createDirectories(Paths.get(orphan2))
    spark.conf.set("spark.graft.index.sweep.grace.ms", "3600000")
    try {
      TextAnalysis.bm25AppendSegment(spark, bm, v1.limit(0), v1.limit(0))
      assert(Files.exists(Paths.get(orphan2)),
        "grace window did not protect a young unreferenced dir")
    } finally spark.conf.set("spark.graft.index.sweep.grace.ms", "0")
    TextAnalysis.bm25AppendSegment(spark, bm, v1.limit(0), v1.limit(0))
    assert(!Files.exists(Paths.get(orphan2)),
      "zero-grace sweep did not reclaim the dir")
  }

  test("concurrent serve loop racing live mutations: never throws, always serves a committed generation") {
    serveRaceDrill(identity)
  }

  test("concurrent serve loop racing live mutations under a file:// index root (r17 verdict #2)") {
    // file:-schemed URIs must route through the same atomic-replace
    // primitive as bare paths — the reads-never-fail contract is
    // scheme-independent
    serveRaceDrill(p => s"file:$p")
  }

  private def serveRaceDrill(rootOf: String => String): Unit = {
    import graft.operators.TextAnalysis
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-race").toString
    val bm = rootOf(s"$root/bm")
    val v1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndexDocs(spark, v1, bm)
    // the mutation sequence the reader races: three appends and a
    // compact, each committing a new generation; every snapshot the
    // reader can legally observe is precomputed on a REFERENCE index
    // that replays the same sequence ahead of time
    val docsAt = Seq(
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta")),
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
        (3L, "alpha eta theta")),
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
        (3L, "alpha eta theta"), (4L, "alpha iota")),
      Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
        (3L, "alpha eta theta"), (4L, "alpha iota"), (5L, "alpha kappa")))
    val q = Seq("alpha", "beta", "eta")
    val refs = docsAt.zipWithIndex.map { case (docs, i) =>
      val p = s"$root/ref$i"
      TextAnalysis.bm25WriteIndexDocs(spark, docs.toDF("doc_id", "text"), p)
      TextAnalysis.bm25QueryIndex(spark, p, q, 10).collect().toSeq
    }
    val legal = refs.toSet
    // reader thread: serve in a tight loop while the writer mutates;
    // each result must be SOME committed generation's ranking (old or
    // new around each swing — never a mixture, never an exception)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val served = new java.util.concurrent.atomic.AtomicInteger(0)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reader = new Thread(() => {
      while (!stop.get()) {
        try {
          val r = TextAnalysis.bm25QueryIndex(spark, bm, q, 10)
            .collect().toSeq
          served.incrementAndGet()
          if (!legal.contains(r))
            failures.add(s"non-committed state served: $r")
        } catch {
          case e: Throwable =>
            failures.add(s"serve threw ${e.getClass.getSimpleName}: " +
              Option(e.getMessage).getOrElse("").take(120))
        }
      }
    })
    reader.start()
    // hot-reader deployment shape: the grace window keeps epochs a
    // racing serve resolved alive across the mutation AFTER the one
    // that dereferenced them (the compact below dereferences; the
    // final append's sweep would otherwise reclaim mid-scan)
    spark.conf.set("spark.graft.index.sweep.grace.ms", "3600000")
    try {
      // writer: three appends and a fold, live against the reader
      TextAnalysis.bm25AppendSegment(spark, bm,
        Seq((3L, "alpha eta theta")).toDF("doc_id", "text"), v1.limit(0))
      TextAnalysis.bm25AppendSegment(spark, bm,
        Seq((4L, "alpha iota")).toDF("doc_id", "text"), v1.limit(0))
      TextAnalysis.bm25Compact(spark, bm)
      TextAnalysis.bm25AppendSegment(spark, bm,
        Seq((5L, "alpha kappa")).toDF("doc_id", "text"), v1.limit(0))
    } finally {
      stop.set(true)
      reader.join(60000)
      spark.conf.set("spark.graft.index.sweep.grace.ms", "0")
    }
    assert(!reader.isAlive, "reader thread leaked past its join window")
    assert(failures.isEmpty, failures.toArray.mkString("\n"))
    // ≥ 1 keeps the race non-vacuous without being timing-flaky: on a
    // contended host the reader may only complete a couple of serves
    // while the writer runs, and that is still a genuine race
    assert(served.get() >= 1, s"reader completed no serves — vacuous race")
    // and the settled state serves the newest generation
    assert(TextAnalysis.bm25QueryIndex(spark, bm, q, 10).collect().toSeq ==
      refs.last, "settled serve != newest generation")
  }

  test("Hadoop-store atomic replace: FileContext rename(OVERWRITE) lands on top of an existing pointer, no delete window") {
    // r17 verdict #2 / ADVICE: the non-local writeAtomicFile used
    // delete-then-rename — a racing reader of `current` could observe
    // absence and its tmp recovery could abort a committed mutation.
    // The OVERWRITE-rename branch is unit-tested directly (local
    // paths route to nio in production code, so this drives the
    // Hadoop half explicitly through a FileContext-capable store).
    import graft.operators.IndexPolicy
    val root = java.nio.file.Files
      .createTempDirectory("graft-fc-rename").toString
    IndexPolicy.writeAtomicHadoop(spark, root, "current", "v=1")
    // second write REPLACES without clearing first — an existing
    // destination must not fail the rename and must end complete-new
    IndexPolicy.writeAtomicHadoop(spark, root, "current", "v=2\nk=x")
    val got = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/current")))
    assert(got.trim == "v=2\nk=x", s"overwrite rename lost content: $got")
    // a reinstated stale pointer (the reader-recovery race the old
    // branch could abort on) is simply overwritten by the next swing
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$root/current"), "stale=1".getBytes)
    IndexPolicy.writeAtomicHadoop(spark, root, "current", "v=3")
    assert(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$root/current"))).trim == "v=3")
  }

  test("two concurrent writers on one index: the lease serializes them, no commit is lost, the final state is a serial order") {
    // r17 verdict #1 acceptance: two threads mutating the SAME index
    // concurrently. Removal waves commute, so the serializable final
    // state is uniquely determined: every wave's tombstones present,
    // one committed generation per wave, one version bump per swing.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-two-writer").toString
    val idx = s"$root/idx"
    // 12 docs with DISJOINT vocabularies (letter-runs only — the
    // tokenizer collapses digit suffixes), each the exact twin of its
    // own probe: the only pairs are (i, i+100)
    def txt(i: Long) = (3 to 7)
      .map(n => ('a' + i.toInt).toChar.toString * n).mkString(" ")
    val docs = (0L until 12L).map(i => (i, txt(i))).toDF("doc_id", "text")
    Dedup.neardupWriteIndex(spark, docs, idx)
    val probe = (0L until 12L).map(i => (i + 100L, txt(i)))
      .toDF("doc_id", "text").localCheckpoint()
    def found(): Set[Long] = Dedup.neardupLookup(spark, idx, probe)
      .collect().map(_.getLong(0)).toSet
    assert(found() == (0L until 12L).toSet, "fixture pairs missing")
    val waves: Seq[Seq[Long]] =
      Seq(Seq(0L, 1L), Seq(2L, 3L), Seq(4L, 5L), // writer A
        Seq(6L, 7L), Seq(8L, 9L), Seq(10L, 11L)) // writer B
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = Seq(waves.take(3), waves.drop(3)).map(ws =>
      new Thread(() =>
        try ws.foreach(ids =>
          Dedup.neardupRemove(spark, idx, ids.toDF("doc_id")))
        catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "a writer thread hung")
    assert(errs.isEmpty,
      s"concurrent writers threw: ${errs.toArray.mkString("; ")}")
    // no lost update: ALL six waves' tombstones landed
    assert(found().isEmpty, s"lost removal wave: ${found()} still served")
    val m = IndexPolicy.manifestOf(spark, idx)
    assert(IndexPolicy.genOf(m) == 6L && IndexPolicy.committedOf(m) == 6L,
      s"expected 6 committed generations, manifest: $m")
    // one version per swing: build 0, then 6 × (alloc + commit)
    assert(IndexPolicy.versionOf(m).contains(12L),
      s"version drifted (lost or doubled swing): $m")
    // and the lock is released
    assert(!new java.io.File(s"$idx/wlock").exists, "lease leaked")
  }

  test("compare-and-swing: a publish carrying a stale manifest version fails loudly instead of erasing a commit") {
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-cas").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark,
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), idx)
    val stale = IndexPolicy.manifestOf(spark, idx)
    // first writer commits fine…
    IndexPolicy.publish(spark, idx, stale + ("k1" -> "v1"))
    // …the second, still holding the manifest it read BEFORE that
    // commit, must fail its swing rather than silently erase k1
    val e = intercept[java.util.ConcurrentModificationException](
      IndexPolicy.publish(spark, idx, stale + ("k2" -> "v2")))
    assert(e.getMessage.contains("moved underneath"))
    val m = IndexPolicy.manifestOf(spark, idx)
    assert(m.get("k1").contains("v1") && !m.contains("k2"))
  }

  test("writer lease: a stale lock is broken, a live lock fails the waiter loudly after its budget") {
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-lease").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark,
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), idx)
    // a crashed writer's lock: timestamp far beyond the lease window —
    // the next mutation breaks it and proceeds
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/wlock"),
      s"dead-writer ${System.currentTimeMillis() - 3600000L}".getBytes)
    Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
    assert(!new java.io.File(s"$idx/wlock").exists,
      "stale lease not cleaned after the mutation that broke it")
    // a LIVE lock (fresh timestamp): the waiter spins its budget out
    // and fails loudly — contention is a deployment bug, not a hang
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$idx/wlock"),
      s"live-writer ${System.currentTimeMillis()}".getBytes)
    spark.conf.set("spark.graft.index.lock.wait.ms", "300")
    try {
      val e = intercept[IllegalStateException](
        Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id")))
      assert(e.getMessage.contains("writer lease"))
    } finally {
      spark.conf.unset("spark.graft.index.lock.wait.ms")
      java.nio.file.Files.delete(java.nio.file.Paths.get(s"$idx/wlock"))
    }
  }

  test("fault injection: a conf-armed mid-flight crash leaves a torn index that serves committed state and repairs") {
    // r17 verdict #5: the crash is a REAL mid-mutation death (rows
    // landed, commit swing never ran) — not a manifest edit
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-inject").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
    val probe = Seq((9L, "a b c d e")).toDF("doc_id", "text").localCheckpoint()
    def live() = Dedup.neardupLookup(spark, idx, probe)
      .collect().map(_.getLong(0)).toSet
    assert(live() == Set(1L))
    spark.conf.set("spark.graft.index.crash.at", "after-rows")
    try {
      intercept[IndexPolicy.InjectedCrash](
        Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id")))
    } finally spark.conf.unset("spark.graft.index.crash.at")
    // rows are on disk, commit never ran: reads serve the committed
    // prefix, further mutations refuse, the fold repairs
    assert(live() == Set(1L), "torn tombstone leaked into a lookup")
    intercept[IllegalStateException](
      Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id")))
    Dedup.neardupCompact(spark, idx)
    assert(live() == Set(1L))
    Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
    assert(live() == Set.empty[Long], "index not mutable after repair")
    // point@path scoping: an entry for a DIFFERENT index never fires
    spark.conf.set("spark.graft.index.crash.at", "after-rows@/nowhere/")
    try Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id"))
    finally spark.conf.unset("spark.graft.index.crash.at")
  }

  test("snapshot log: a retained snapshot serves bit-identically across a rewrite; expiry lets the sweep reclaim it") {
    import graft.operators.{IndexPolicy, TextAnalysis}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap").toString
    val idx = s"$root/idx"
    val v1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val terms = Seq("alpha", "eta")
    spark.conf.set("spark.graft.index.snapshots.keep", "10")
    try {
      TextAnalysis.bm25WriteIndexDocs(spark, v1, idx)
      TextAnalysis.bm25AppendSegment(spark, idx,
        Seq((3L, "alpha eta theta")).toDF("doc_id", "text"), v1.limit(0))
      val snap = IndexPolicy.snapshotIds(spark, idx).last
      val want = TextAnalysis.bm25QueryIndex(spark, idx, terms, 10)
        .collect().toSeq
      // the rewrite that destroys the in-place generation timeline…
      TextAnalysis.bm25Compact(spark, idx)
      intercept[IllegalArgumentException](
        TextAnalysis.bm25QueryIndex(spark, idx, terms, 10, at = graft.operators.IndexPolicy.At.Gen(1)))
      // …and a further mutation whose sweep must NOT reclaim the
      // snapshot's dirs (retained snapshots pin their references)
      TextAnalysis.bm25AppendSegment(spark, idx,
        Seq((4L, "alpha iota")).toDF("doc_id", "text"), v1.limit(0))
      assert(TextAnalysis.bm25QueryIndex(spark, idx,
        terms, 10, at = graft.operators.IndexPolicy.At.Snap(snap)).collect().toSeq == want,
        "retained snapshot did not replay bit-identically after a rewrite")
      // expire everything but the newest, and the NEXT sweep reclaims:
      // the old serve plan's dirs go away and the snapshot read fails
      // fast instead of serving partially
      IndexPolicy.expireSnapshots(spark, idx, 1)
      TextAnalysis.bm25AppendSegment(spark, idx,
        Seq((5L, "alpha kappa")).toDF("doc_id", "text"), v1.limit(0))
      intercept[IllegalArgumentException](
        TextAnalysis.bm25QueryIndex(spark, idx, terms, 10, at = graft.operators.IndexPolicy.At.Snap(snap)))
      // non-vacuity of the reclaim: only live epochs remain under ep/
      val live = graft.operators.IndexPolicy.EpochPat.findAllIn(
        IndexPolicy.manifestOf(spark, idx).toSeq
          .map { case (k, v) => s"$k=$v" }.mkString("\n")).toSet
      val retained = IndexPolicy.snapshotIds(spark, idx).flatMap(v =>
        graft.operators.IndexPolicy.EpochPat.findAllIn(new String(
          java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
            s"$idx/snaps/v-$v")))).toSeq).toSet
      val onDisk = new java.io.File(s"$idx/ep")
        .listFiles().map(_.getName).toSet
      assert(onDisk == (live ++ retained),
        s"ep/ holds $onDisk but live+retained name ${live ++ retained}")
    } finally spark.conf.unset("spark.graft.index.snapshots.keep")
  }

  test("snapshot serves for near-dup and IVF replay bit-identically across compact and retrain") {
    import graft.operators.{Dedup, IndexPolicy, Similarity}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-ndivf").toString
    spark.conf.set("spark.graft.index.snapshots.keep", "10")
    try {
      // near-dup: snapshot after a removal, then COMPACT (which folds
      // the tombstones and resets the in-place timeline) — the
      // snapshot must still flag exactly the pre-compact pairs
      val nd = s"$root/nd"
      Dedup.neardupWriteIndex(spark, Seq(
        (1L, "a b c d e"), (2L, "x y z w v"), (3L, "p q r s t"))
        .toDF("doc_id", "text"), nd)
      val probe = Seq((9L, "a b c d e"), (8L, "x y z w v"))
        .toDF("doc_id", "text").localCheckpoint()
      Dedup.neardupRemove(spark, nd, Seq(2L).toDF("doc_id"))
      val ndSnap = IndexPolicy.snapshotIds(spark, nd).last
      val ndWant = Dedup.neardupLookup(spark, nd, probe).collect().toSeq
      assert(ndWant.map(_.getLong(0)).toSet == Set(1L),
        "fixture: the removal must suppress doc 2's pair")
      // IN-PLACE mutations after the snapshot write higher-generation
      // rows INTO the epoch dirs the snapshot references (a removal
      // reuses its tombstones epoch; a check-in appends into its data
      // epoch) — the snapshot read must cap at its own committed
      // watermark or they leak into the pinned state (r19 regression
      // pin: the estate snapshot row caught exactly this)
      Dedup.neardupRemove(spark, nd, Seq(1L).toDF("doc_id"))
      Dedup.neardupCheckIn(spark, nd,
        Seq((5L, "p q r s t")).toDF("doc_id", "text")).count()
      assert(Dedup.neardupLookup(spark, nd, probe, at = graft.operators.IndexPolicy.At.Snap(ndSnap))
        .collect().toSeq == ndWant,
        "a post-snapshot in-place mutation leaked into the snapshot lookup")
      Dedup.neardupCompact(spark, nd)
      Dedup.neardupCheckIn(spark, nd,
        Seq((4L, "x y z w v")).toDF("doc_id", "text")).count()
      // live has moved on (doc 4 now pairs with probe 8)…
      assert(Dedup.neardupLookup(spark, nd, probe).collect().toSeq
        != ndWant)
      // …but the retained snapshot replays the pre-compact state
      assert(Dedup.neardupLookup(spark, nd, probe, at = graft.operators.IndexPolicy.At.Snap(ndSnap))
        .collect().toSeq == ndWant,
        "nd snapshot lookup drifted across compact")
      // IVF: snapshot after an append, then RETRAIN (the rewrite that
      // resets the timeline and re-clusters everything)
      val iv = s"$root/iv"
      val vecs = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding"))
      Similarity.ivfWriteIndexVecs(spark,
        vecs.filter(col("vec_id") % 3 =!= 0), iv)
      Similarity.ivfAppendVectors(spark, iv,
        vecs.filter(col("vec_id") % 3 === 0))
      val ivSnap = IndexPolicy.snapshotIds(spark, iv).last
      val ivWant = Similarity.ivfQueryIndex(spark, sf, iv)
        .collect().toSeq
      // post-snapshot in-place append into the SAME lists epoch: the
      // snapshot serve must exclude its higher-generation rows (r19)
      Similarity.ivfAppendVectors(spark, iv,
        vecs.filter(col("vec_id") < 4)
          .select((col("vec_id") + 900000L).as("vec_id"), col("embedding")))
      assert(Similarity.ivfQueryIndex(spark, sf, iv, at = graft.operators.IndexPolicy.At.Snap(ivSnap))
        .collect().toSeq == ivWant,
        "a post-snapshot in-place append leaked into the snapshot serve")
      Similarity.ivfWriteIndexVecs(spark,
        vecs.filter(col("vec_id") % 5 =!= 0), iv) // retrain, fewer vecs
      assert(Similarity.ivfQueryIndex(spark, sf, iv).collect().toSeq
        != ivWant, "fixture: the retrain must change the serve")
      assert(Similarity.ivfQueryIndex(spark, sf, iv, at = graft.operators.IndexPolicy.At.Snap(ivSnap))
        .collect().toSeq == ivWant,
        "ivf snapshot serve drifted across retrain")
      // expiry: keep only the newest, next sweep reclaims, fail fast
      IndexPolicy.expireSnapshots(spark, iv, 1)
      Similarity.ivfRemove(spark, iv, Seq(1L).toDF("vec_id"))
      intercept[IllegalArgumentException](
        Similarity.ivfQueryIndex(spark, sf, iv, at = graft.operators.IndexPolicy.At.Snap(ivSnap)))
    } finally spark.conf.unset("spark.graft.index.snapshots.keep")
  }

  test("sweep grace keys on dereference time, not write time: an old epoch a rewrite just dropped survives the window") {
    // r17 ADVICE (medium): with the mtime cutoff, any epoch older
    // than the grace window was reclaimed the instant it became
    // unreferenced — grace only protected recently WRITTEN dirs
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-deref-grace").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
    val oldTok = IndexPolicy.manifestOf(spark, idx)("data")
    val oldEp = java.nio.file.Paths.get(IndexPolicy.epochDir(idx, oldTok))
    // age the epoch far past any window (the old design's kill shot)
    java.nio.file.Files.setLastModifiedTime(oldEp,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 7200000L))
    spark.conf.set("spark.graft.index.sweep.grace.ms", "3600000")
    try {
      Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id"))
      Dedup.neardupCompact(spark, idx) // dereferences the aged epoch
      // next sweeps: first stamps the dereference, none may delete
      // inside the window
      Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
      Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id"))
      assert(java.nio.file.Files.exists(oldEp),
        "grace reclaimed a long-lived epoch the moment it was " +
          "dereferenced (write-time keying)")
      // and past the window it goes: backdate the dereference stamp
      // (through the Hadoop fs, so its checksum sidecar stays valid)
      val marker = new org.apache.hadoop.fs.Path(s"$oldEp/.unref_at")
      val mfs = marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = mfs.create(marker, true)
      try out.write(
        (System.currentTimeMillis() - 7200000L).toString.getBytes)
      finally out.close()
      Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
      assert(!java.nio.file.Files.exists(oldEp),
        "sweep never reclaims past the dereference-time window")
    } finally spark.conf.set("spark.graft.index.sweep.grace.ms", "0")
  }

  test("post-compact append never reuses a segment name: the folded timeline's files survive the grace window") {
    // r17 ADVICE (high): ordinal segment names reset after a compact,
    // so the next append reminted seg-00001 and its Overwrite
    // physically deleted the previous timeline's dir — bypassing sweep
    // and the grace window. With unique tokens, the folded segment's
    // files must ALL survive a post-compact append under grace, and a
    // serve plan resolved on the pre-compact manifest must still
    // execute (fresh plan, never collected before — so this cannot be
    // satisfied by reused shuffle outputs).
    import graft.operators.TextAnalysis
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-segname").toString
    val bm = s"$root/bm"
    val v1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndexDocs(spark, v1, bm)
    TextAnalysis.bm25AppendSegment(spark, bm,
      Seq((3L, "alpha eta theta")).toDF("doc_id", "text"), v1.limit(0))
    val segName = graft.operators.IndexPolicy.manifestOf(spark, bm)
      .apply("segments").split(",").head
    def segFiles(): Set[String] = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      walk(new java.io.File(s"$bm/segments/$segName"))
        .filter(_.isFile).map(_.getAbsolutePath).toSet
    }
    val before = segFiles()
    assert(before.nonEmpty, "fixture segment wrote no files")
    val q = Seq("alpha", "eta")
    val preRanking = TextAnalysis.bm25QueryIndex(spark, bm, q, 10)
      .collect().toSeq
    // in-flight reader: plan resolved on the PRE-compact manifest,
    // executed only after the compact and the post-compact append
    val inflight = TextAnalysis.bm25QueryIndex(spark, bm, q, 10)
    spark.conf.set("spark.graft.index.sweep.grace.ms", "3600000")
    try {
      TextAnalysis.bm25Compact(spark, bm)
      TextAnalysis.bm25AppendSegment(spark, bm,
        Seq((4L, "alpha iota")).toDF("doc_id", "text"), v1.limit(0))
      val after = segFiles()
      assert(before.subsetOf(after),
        s"post-compact append destroyed ${(before -- after).size}/" +
          s"${before.size} files of folded segment $segName")
      assert(inflight.collect().toSeq == preRanking,
        "pre-compact plan lost its files to the post-compact append")
      // and the new segment is a different dir entirely
      val newSeg = graft.operators.IndexPolicy.manifestOf(spark, bm)
        .apply("segments").split(",").head
      assert(newSeg != segName, "segment name was reused")
    } finally spark.conf.set("spark.graft.index.sweep.grace.ms", "0")
  }

  test("segment visibility: a segment dir the manifest does not list (crashed append) is invisible to serves and health") {
    import graft.operators.TextAnalysis
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-seg-commit").toString
    val bm = s"$root/bm"
    val v1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    TextAnalysis.bm25WriteIndexDocs(spark, v1, bm)
    TextAnalysis.bm25AppendSegment(spark, bm,
      Seq((3L, "alpha eta theta")).toDF("doc_id", "text"), v1.limit(0))
    val served = TextAnalysis.bm25QueryIndex(spark, bm, Seq("alpha"), 5)
      .collect().toSeq
    assert(served.map(_.getLong(0)).toSet == Set(1L, 3L))
    assert(TextAnalysis.bm25Health(spark, bm).toMap
      .apply("bm25_segments") == 1L)
    // an orphan segment dir (append crashed before its pointer swing,
    // so the manifest's segment list never named it) must not change
    // what the index serves or reports
    Files.createDirectories(Paths.get(s"$bm/segments/seg-00099"))
    assert(TextAnalysis.bm25QueryIndex(spark, bm, Seq("alpha"), 5)
      .collect().toSeq == served)
    assert(TextAnalysis.bm25Health(spark, bm).toMap
      .apply("bm25_segments") == 1L)
  }

  test("torn generation commit: readers ignore uncommitted rows, mutations refuse, compact repairs") {
    import graft.operators.Dedup
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-torn-gen").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
    val probe = Seq((9L, "a b c d e"), (8L, "q r s t u"))
      .toDF("doc_id", "text").localCheckpoint()
    def live() = Dedup.neardupLookup(spark, idx, probe)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(live() == Set((1L, 9L)))
    // gen 1 check-in admits doc 4 (a near-dup of probe doc 8)
    Dedup.neardupCheckIn(spark, idx,
      Seq((4L, "q r s t u")).toDF("doc_id", "text")).count()
    assert(live() == Set((1L, 9L), (4L, 8L)))
    // simulate the check-in having CRASHED between its two appends:
    // roll the manifest's committed watermark back to 0 while the
    // allocated one stays at 1 and the gen-1 rows are on disk —
    // readers must treat gen 1 as never having happened instead of
    // serving its partial rows (and must NOT fail: a torn index still
    // serves its committed prefix under the pointer model)
    import graft.operators.IndexPolicy
    IndexPolicy.publish(spark, idx,
      IndexPolicy.manifestOf(spark, idx) + ("gen_committed" -> "0"))
    assert(live() == Set((1L, 9L)),
      "uncommitted generation leaked into a lookup")
    assert(Dedup.neardupHealth(spark, idx).toMap.apply("nd_gen") == 0L)
    // mutations refuse a torn index: committing past the orphan would
    // resurrect its partial rows
    val e = intercept[IllegalStateException](
      Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id")))
    assert(e.getMessage.contains("never committed"))
    // compact is the repair: it rewrites only committed rows and
    // resets the timeline — the orphan's rows are physically dropped
    Dedup.neardupCompact(spark, idx)
    assert(live() == Set((1L, 9L)), "repair changed committed state")
    Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id")) // mutable again
    assert(live() == Set.empty)
  }

  test("pointer crash recovery: a fully-written snapshot tmp is recovered") {
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-manifest-tmp").toString
    val idx = s"$root/idx"
    spark.conf.set(IndexPolicy.SnapKeepConf, "10")
    try Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e")).toDF("doc_id", "text"), idx)
    finally spark.conf.unset(IndexPolicy.SnapKeepConf)
    // the pointer put that crashed between its tmp write and its
    // rename: the tmp is complete and the snapshot file is gone
    val v = IndexPolicy.snapshotIds(spark, idx).last
    Files.move(Paths.get(s"$idx/snaps/v-$v"), Paths.get(s"$idx/snaps/.v-${v}_tmp"))
    val probe = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    // the read recovers the snapshot instead of reporting it expired
    assert(Dedup.neardupLookup(spark, idx, probe, at = graft.operators.IndexPolicy.At.Snap(v))
      .collect().nonEmpty)
    assert(Files.exists(Paths.get(s"$idx/snaps/v-$v")),
      "recovery did not reinstate the snapshot")
  }

  test("copyIndex routes URI-schemed paths through the generic FileSystem copy") {
    import graft.operators.{Dedup, TextAnalysis}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-copy-uri").toString
    val src = s"$root/src"; val dst = s"$root/dst"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e")).toDF("doc_id", "text"), src)
    // a file:-schemed source previously mis-resolved via Paths.get —
    // it must now copy correctly through Hadoop's FileUtil
    Fixtures.copyIndex(spark, s"file:$src", dst)
    val probe = Seq((9L, "a b c d e")).toDF("doc_id", "text")
    assert(Dedup.neardupLookup(spark, dst, probe).collect().nonEmpty)
  }

  test("bucketed tables join + aggregate with zero Exchange") {
    Layout.writeBucketedOrderTables(spark, sf)
    val df = Layout.bucketedOrderTotals(spark)
    df.count() // let AQE finalize
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"plan shuffles:\n$plan")
    // results identical to the raw-parquet join
    val expected = graft.Tables.lineitem(spark, sf)
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("sum_qty"))
      .join(graft.Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderkey"), col("o_orderpriority"), col("sum_qty"))
      .orderBy("o_orderkey").collect()
    val got = df.orderBy("o_orderkey").collect()
    assert(got.sameElements(expected))
  }

  test("z-order layout: per-file stats prune BOTH dimensions; linear sort only one") {
    // write the same rows twice, 16 files each: range-partitioned by
    // zkey vs by x (the linear layout a custkey sort produces), then
    // measure what min/max file stats can prune for single-dimension
    // box queries — exactly the decision the parquet reader makes
    // from row-group stats.
    val zo = Layout.zorderOrders(spark, sf).cache()
    val (xLo, xHi) = (10L, 30L)
    val Array(dLo, dHi) = zo.agg(
      expr("percentile(yday, 0.4)"), expr("percentile(yday, 0.6)"))
      .collect()(0).toSeq.map(v => math.round(v.toString.toDouble)).toArray
    def filesTouched(sortCol: String, dim: String, lo: Long, hi: Long): Int = {
      val out = s"/tmp/graft_test_zorder_$sortCol"
      zo.repartitionByRange(16, col(sortCol)).write
        .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(out)
      val files = new java.io.File(out).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      assert(files.length >= 12, s"expected ~16 files, got ${files.length}")
      files.count { f =>
        val r = spark.read.parquet(f)
          .agg(min(col(dim)), max(col(dim))).collect()(0)
        r.getLong(0) <= hi && r.getLong(1) >= lo // bbox overlaps query
      }
    }
    val nFiles = 16
    val zx = filesTouched("zkey", "x", xLo, xHi)
    val zy = filesTouched("zkey", "yday", dLo, dHi)
    val lx = filesTouched("x", "x", xLo, xHi)
    val ly = filesTouched("x", "yday", dLo, dHi)
    // linear-by-x: excellent on x, useless on yday (every file spans
    // the full date range)
    assert(lx <= nFiles / 2, s"x-sorted layout should prune x query: $lx")
    assert(ly >= nFiles - 2, s"x-sorted layout can't prune yday: $ly")
    // z-order: prunes BOTH dimensions meaningfully
    assert(zx <= (nFiles * 3) / 4, s"zorder should prune x query: $zx")
    assert(zy <= (nFiles * 3) / 4, s"zorder should prune yday query: $zy")
    assert(zy < ly, s"zorder must beat linear on the non-leading dim: $zy vs $ly")
    zo.unpersist()
  }

  test("compaction rewrites a fragmented directory to the sized file count, same rows") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-compact").toString
    val frag = s"$base/frag"
    val out = s"$base/out"
    // fragment: 64 tiny files
    Tables.lineitem(spark, sf).repartition(64)
      .write.mode("overwrite").parquet(frag)
    val want = spark.read.parquet(frag).count()
    val bytes = new java.io.File(frag).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum
    val target = math.max(1L, bytes / 4) // force ~4-5 output files
    val (before, after) = Layout.compact(spark, frag, out, target)
    assert(before == 64, s"fragmented count $before")
    val expected = math.ceil(bytes.toDouble / target).toInt
    assert(after == expected, s"after=$after expected=$expected")
    assert(after < before / 8, s"compaction barely reduced files: $after")
    assert(spark.read.parquet(out).count() == want, "row count changed")
  }

  test("the pointer protocol runs end-to-end on a conditional-PUT object store") {
    // r18: the seam that makes the object-store claim executable —
    // an index root routed through S3PointerStore (over the loopback
    // fake) keeps its mutable pointer objects (current, snaps/v-*,
    // wlock) in the store, its immutable parquet epochs on disk, and
    // every lifecycle op + snapshot time travel behaves exactly as on
    // the filesystem store
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-cas-store").toString
    val fsRoot = java.nio.file.Files
      .createTempDirectory("graft-cas-fstwin").toString
    spark.conf.set("spark.graft.index.snapshots.keep", "10")
    try S3Fake.withS3Root(spark, root) {
      val cas = s"$root/idx"
      val fsIdx = s"$fsRoot/idx"
      val docs = Seq((1L, "a b c d e"), (2L, "x y z w v"),
        (3L, "p q r s t")).toDF("doc_id", "text")
      val probe = Seq((9L, "a b c d e"), (8L, "x y z w v"))
        .toDF("doc_id", "text").localCheckpoint()
      for (idx <- Seq(cas, fsIdx)) {
        Dedup.neardupWriteIndex(spark, docs, idx)
        Dedup.neardupCheckIn(spark, idx,
          Seq((4L, "m n o u k")).toDF("doc_id", "text")).count()
        Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id"))
      }
      // identical serves through both stores, live and as-of
      val want = Dedup.neardupLookup(spark, cas, probe).collect().toSeq
      assert(want == Dedup.neardupLookup(spark, fsIdx, probe)
        .collect().toSeq, "CAS-store serve drifted from the FS twin")
      assert(want.map(_.getLong(0)).toSet == Set(1L),
        "fixture: the removal must suppress doc 2's pair")
      assert(Dedup.neardupLookup(spark, cas, probe, at = graft.operators.IndexPolicy.At.Gen(0L))
        .collect().toSeq ==
        Dedup.neardupLookup(spark, fsIdx, probe, at = graft.operators.IndexPolicy.At.Gen(0L)).collect().toSeq,
        "CAS-store as-of drifted from the FS twin")
      // the mutable surface lives in the STORE, never on disk…
      for (leak <- Seq("current", "wlock", "snaps", "clog"))
        assert(!new java.io.File(s"$cas/$leak").exists,
          s"pointer object '$leak' leaked to disk on a CAS root")
      // …while the immutable epochs are real parquet on the real path
      val ep = new java.io.File(s"$cas/ep")
      assert(ep.isDirectory && ep.list().nonEmpty, "no epoch dirs on disk")
      // snapshot time travel through the store: hold S, COMPACT (the
      // rewrite in-place generations cannot survive), mutate further —
      // the retained snapshot replays bit-identically
      val snap = IndexPolicy.snapshotIds(spark, cas).last
      Dedup.neardupCompact(spark, cas)
      Dedup.neardupCheckIn(spark, cas,
        Seq((5L, "x y z w v")).toDF("doc_id", "text")).count()
      assert(Dedup.neardupLookup(spark, cas, probe).collect().toSeq
        != want, "fixture: the post-compact check-in must move the live serve")
      assert(Dedup.neardupLookup(spark, cas, probe, at = graft.operators.IndexPolicy.At.Snap(snap))
        .collect().toSeq == want,
        "CAS-store snapshot lookup drifted across compact")
      // expiry through the store: retention drops S, the read fails fast
      IndexPolicy.expireSnapshots(spark, cas, 1)
      intercept[IllegalArgumentException](
        Dedup.neardupLookup(spark, cas, probe, at = graft.operators.IndexPolicy.At.Snap(snap)))
    } finally spark.conf.unset("spark.graft.index.snapshots.keep")
  }

  test("conditional-PUT swing with NO lease: concurrent publishes award each version exactly once, zero lost updates") {
    // the property the primitive buys: on a CAS store, publish alone
    // is lost-update-safe — four threads hammer publish directly
    // (bypassing the writer lease entirely), losers retry on the loud
    // ConcurrentModificationException, and every successful swing owns
    // a distinct contiguous version. On the filesystem approximation
    // this would be the double-lease-break hole; here it is closed by
    // the store's compare-and-swap itself.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-cas-race").toString
    S3Fake.withS3Root(spark, root) {
      val idx = s"$root/idx"
      Dedup.neardupWriteIndex(spark,
        Seq((1L, "a b c d e")).toDF("doc_id", "text"), idx)
      val v0 = IndexPolicy.versionOf(IndexPolicy.manifestOf(spark, idx)).get
      val perThread = 40
      val won = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until 4).map(t => new Thread(() =>
        try {
          var i = 0
          while (i < perThread) {
            val m = IndexPolicy.manifestOf(spark, idx)
            try {
              val m2 = IndexPolicy.publish(spark, idx,
                m + (s"w$t" -> i.toString))
              won.add(IndexPolicy.versionOf(m2).get)
              i += 1
            } catch { // loser: re-read and retry, the contract
              case _: java.util.ConcurrentModificationException =>
            }
          }
        } catch { case e: Throwable => errs.add(e) }))
      threads.foreach(_.start())
      threads.foreach(_.join(300000))
      assert(threads.forall(!_.isAlive), "a publisher thread hung")
      assert(errs.isEmpty, s"unexpected: ${errs.toArray.mkString("; ")}")
      val versions = won.toArray(Array.empty[java.lang.Long])
        .map(_.longValue).sorted.toList
      assert(versions == (v0 + 1 to v0 + 4L * perThread).toList,
        s"version ownership broke (lost or doubled swing): $versions")
      assert(IndexPolicy.versionOf(IndexPolicy.manifestOf(spark, idx))
        .contains(v0 + 4L * perThread), "final version drifted")
    }
  }

  test("the exactly-once stream watermark is family-generic: a replayed IVF batch appends nothing") {
    // r18: stream_index_ingest driver-gates the discipline on the
    // near-dup family; this pins the same watermark riding the IVF
    // commit swing — rows and watermark cannot land separately
    import graft.operators.{IndexPolicy, Similarity}
    val root = java.nio.file.Files
      .createTempDirectory("graft-ivf-stream").toString
    val idx = s"$root/idx"
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark,
      vecs.filter(pmod(col("vec_id"), lit(2)) === 0), idx)
    assert(Similarity.ivfStreamIngest(spark, idx,
      vecs.filter(pmod(col("vec_id"), lit(4)) === 1), 0L), "batch 0 must land")
    assert(Similarity.ivfStreamIngest(spark, idx,
      vecs.filter(pmod(col("vec_id"), lit(4)) === 3), 1L), "batch 1 must land")
    val m1 = IndexPolicy.manifestOf(spark, idx)
    assert(IndexPolicy.committedOf(m1) == 2L)
    // at-least-once replay of batch 1: nothing lands, nothing swings
    assert(!Similarity.ivfStreamIngest(spark, idx,
      vecs.filter(pmod(col("vec_id"), lit(4)) === 3), 1L),
      "a replayed batch must be refused by the watermark")
    assert(IndexPolicy.manifestOf(spark, idx) == m1,
      "the replay must leave the manifest byte-identical")
    // and the stream moves on: the NEXT id lands
    assert(Similarity.ivfStreamIngest(spark, idx, vecs.limit(0), 2L))
    assert(IndexPolicy.committedOf(
      IndexPolicy.manifestOf(spark, idx)) == 3L)
  }

  test("snapshot age window: count retention cannot expire a young snapshot; an aged one goes") {
    // r18: the Iceberg expire_snapshots composition — older_than AND
    // retain_last. A publish burst must not rotate a recent snapshot
    // out of the log while readers pinned to it are inside the window.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-snap-age").toString
    val idx = s"$root/idx"
    spark.conf.set("spark.graft.index.snapshots.keep", "10")
    try {
      Dedup.neardupWriteIndex(spark, Seq(
        (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
      Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id"))
      Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
      val ids = IndexPolicy.snapshotIds(spark, idx)
      // one snapshot per COMMIT (build + two removals) — allocGen's
      // mid-mutation swings mint none (r18 review: they'd halve
      // effective keep-count retention)
      assert(ids.size == 3, s"fixture: expected 3 commit snapshots, got $ids")
      // with the window on, keep-count alone expires nothing young
      spark.conf.set("spark.graft.index.snapshots.keep.ms", "3600000")
      IndexPolicy.expireSnapshots(spark, idx, 1)
      assert(IndexPolicy.snapshotIds(spark, idx) == ids,
        "a young snapshot was rotated out inside the age window")
      // age the oldest snapshot by rewriting its snap_at stamp
      val p = java.nio.file.Paths.get(s"$idx/snaps/v-${ids.head}")
      val aged = new String(java.nio.file.Files.readAllBytes(p))
        .linesIterator.map(l =>
          if (l.startsWith("snap_at="))
            s"snap_at=${System.currentTimeMillis() - 7200000L}"
          else l).mkString("\n")
      java.nio.file.Files.write(p, aged.getBytes)
      IndexPolicy.expireSnapshots(spark, idx, 1)
      assert(IndexPolicy.snapshotIds(spark, idx) == ids.tail,
        "exactly the aged snapshot must expire; younger ones stay")
      // window off: pure keep-count prunes to the newest
      spark.conf.unset("spark.graft.index.snapshots.keep.ms")
      IndexPolicy.expireSnapshots(spark, idx, 1)
      assert(IndexPolicy.snapshotIds(spark, idx) == Seq(ids.last))
    } finally {
      spark.conf.unset("spark.graft.index.snapshots.keep")
      spark.conf.unset("spark.graft.index.snapshots.keep.ms")
    }
  }

  test("CAS pointer-store primitives: putIfAbsent, putIfMatch, list, purge") {
    import graft.operators.IndexPolicy.{S3PointerStore => S}
    val d = s"/cas-prim-${java.util.UUID.randomUUID()}"
    S3Fake.withS3Root(spark, d) {
      assert(S.get(spark, d, "current").isEmpty)
      assert(S.putIfAbsent(spark, d, "current", "v=0"))
      assert(!S.putIfAbsent(spark, d, "current", "v=X"), "create-exclusive lost")
      assert(!S.putIfMatch(spark, d, "current", Some("v=9"), "v=1"),
        "if-match must refuse a stale expectation")
      assert(!S.putIfMatch(spark, d, "current", None, "v=1"),
        "if-none-match must refuse an existing object")
      assert(S.putIfMatch(spark, d, "current", Some("v=0"), "v=1"))
      assert(S.get(spark, d, "current").contains("v=1"))
      S.put(spark, s"$d/snaps", "v-1", "s")
      S.put(spark, s"$d/snaps", "v-2", "s")
      assert(S.list(spark, s"$d/snaps", "v-").sorted == Seq("v-1", "v-2"))
      assert(S.list(spark, d, "").sorted == Seq("current"),
        "list must not descend into snaps/")
      S.putIfAbsent(spark, d, "wlock", "me")
      S.purge(spark, d, "wlock")
      assert(S.get(spark, d, "current").isEmpty &&
        S.list(spark, s"$d/snaps", "v-").isEmpty &&
        S.get(spark, d, "wlock").contains("me"),
        "purge must drop everything except the held lease")
      S.delete(spark, d, "wlock")
    }
  }

  test("version-chain swing on the FILE store with NO lease: concurrent publishes award each version exactly once") {
    // r18 verdict #1 acceptance: the filesystem commit no longer
    // approximates a conditional replace — it wins the
    // create-exclusive chain slot clog/v-<n>, a single atomic syscall
    // with NO JVM monitor anywhere in the path (putIfAbsent never
    // touches the per-object monitors), so the no-lease hammer that
    // previously needed the CAS store passes on a PLAIN filesystem
    // index: the primitive, not same-JVM synchronization, closes the
    // lost-update window — which is exactly the cross-process claim.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-chain-race").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark,
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), idx)
    assert(!new java.io.File(s"$idx/current").exists,
      "a chain-committed index must not maintain a legacy current file")
    val v0 = IndexPolicy.versionOf(IndexPolicy.manifestOf(spark, idx)).get
    val perThread = 40
    val won = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (0 until 4).map(t => new Thread(() =>
      try {
        var i = 0
        while (i < perThread) {
          val m = IndexPolicy.manifestOf(spark, idx)
          try {
            val m2 = IndexPolicy.publish(spark, idx,
              m + (s"w$t" -> i.toString))
            won.add(IndexPolicy.versionOf(m2).get)
            i += 1
          } catch { // loser: re-read and retry, the contract
            case _: java.util.ConcurrentModificationException =>
          }
        }
      } catch { case e: Throwable => errs.add(e) }))
    threads.foreach(_.start())
    threads.foreach(_.join(300000))
    assert(threads.forall(!_.isAlive), "a publisher thread hung")
    assert(errs.isEmpty, s"unexpected: ${errs.toArray.mkString("; ")}")
    val versions = won.toArray(Array.empty[java.lang.Long])
      .map(_.longValue).sorted.toList
    assert(versions == (v0 + 1 to v0 + 4L * perThread).toList,
      s"version ownership broke (lost or doubled swing): $versions")
    assert(IndexPolicy.versionOf(IndexPolicy.manifestOf(spark, idx))
      .contains(v0 + 4L * perThread), "final version drifted")
    def clog() = new java.io.File(s"$idx/clog").list().toSeq
      .filter(_.startsWith("v-"))
    // under the default AGE retention nothing this young is pruned —
    // deleting a young name would re-open create-exclusivity for a
    // writer stalled since before the commit (the zombie-award hole
    // this very test caught under load): every awarded slot is still
    // on disk
    assert(clog().size == (v0 + 4L * perThread + 1L).toInt,
      s"young chain entries vanished: ${clog().size}")
    // with the window forced to 0 (test-only eager mode), the next
    // publish prunes to the tip + grace entries and reads still
    // resolve the tip
    spark.conf.set(IndexPolicy.ChainKeepMsConf, "0")
    try {
      val mTip = IndexPolicy.publish(spark, idx,
        IndexPolicy.manifestOf(spark, idx) + ("final" -> "1"))
      assert(clog().size <= 3, s"eager prune did not bound the chain: ${clog()}")
      assert(IndexPolicy.manifestOf(spark, idx) == mTip)
    } finally spark.conf.unset(IndexPolicy.ChainKeepMsConf)
  }

  test("lease heartbeat: a mutation slower than the lease window keeps its lease; a dead holder is still broken") {
    // r18 verdict #2: the lease is stamped at acquire AND re-stamped
    // every lease.ms/3 while the mutation runs — a fold that
    // legitimately outlives the window (an IVF retrain at real scale
    // is minutes to hours) is never presumed dead while alive; only a
    // holder that stopped heartbeating expires.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-heartbeat").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark,
      Seq((1L, "a b c d e")).toDF("doc_id", "text"), idx)
    // margins sized for a CONTENDED host (the full suite runs ~25
    // suites in parallel on 4 cores): the lease is 2 s with a ~666 ms
    // heartbeat, so only a multi-second scheduler stall of the
    // heartbeat thread — not ordinary load — could break the holder
    spark.conf.set("spark.graft.index.lock.lease.ms", "2000")
    spark.conf.set("spark.graft.index.lock.wait.ms", "60000")
    try {
      @volatile var aEnd = 0L
      @volatile var bStart = 0L
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val aAcquired = new java.util.concurrent.CountDownLatch(1)
      val a = new Thread(() =>
        try IndexPolicy.mutate(spark, idx) {
          aAcquired.countDown()
          Thread.sleep(5000) // 2.5× the lease window
          aEnd = System.nanoTime()
        } catch { case e: Throwable => errs.add(e) })
      a.start()
      assert(aAcquired.await(30, java.util.concurrent.TimeUnit.SECONDS),
        "holder never acquired") // let A acquire
      val b = new Thread(() =>
        try IndexPolicy.mutate(spark, idx) { bStart = System.nanoTime() }
        catch { case e: Throwable => errs.add(e) })
      b.start()
      a.join(60000); b.join(60000)
      assert(!a.isAlive && !b.isAlive, "a mutation hung")
      assert(errs.isEmpty, s"mutations threw: ${errs.toArray.mkString("; ")}")
      assert(aEnd != 0L && bStart != 0L)
      assert(bStart >= aEnd,
        "the waiter broke a heartbeat-renewed lease while its holder " +
          "was alive — the slow fold lost its lease by design, not death")
      assert(!new java.io.File(s"$idx/wlock").exists, "lease leaked")
      // a genuinely DEAD holder (stale stamp, no heartbeat) is still
      // broken at the window: the next mutation proceeds promptly
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$idx/wlock"),
        s"dead-writer ${System.currentTimeMillis() - 3600000L}".getBytes)
      IndexPolicy.mutate(spark, idx)(())
      assert(!new java.io.File(s"$idx/wlock").exists,
        "stale lease not cleaned after the mutation that broke it")
    } finally {
      spark.conf.unset("spark.graft.index.lock.lease.ms")
      spark.conf.unset("spark.graft.index.lock.wait.ms")
    }
  }

  test("stream watermarks are scoped by app id: a second stream into the same index is not dropped as the first one's replay") {
    // r18 ADVICE (the Delta txnAppId+txnVersion discipline): without a
    // stream identity, a rebuilt checkpoint (batch ids restart at 0)
    // or a second ingesting query would have its batches silently
    // dropped as replays — silent data loss. Each app id owns an
    // independent watermark key committed in the same swing.
    import graft.operators.{IndexPolicy, Similarity}
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-app").toString
    val idx = s"$root/idx"
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark,
      vecs.filter(pmod(col("vec_id"), lit(2)) === 0), idx)
    def slice(r: Int) = vecs.filter(pmod(col("vec_id"), lit(8)) === r)
    assert(Similarity.ivfStreamIngest(spark, idx, slice(1), 0L, app = "qa"))
    assert(Similarity.ivfStreamIngest(spark, idx, slice(3), 1L, app = "qa"))
    // a DIFFERENT stream's batch 0 must land even though 0 <= qa's
    // watermark — it is a new stream, not a replay
    assert(Similarity.ivfStreamIngest(spark, idx, slice(5), 0L, app = "qb"),
      "an independent stream's batch was dropped as another stream's replay")
    // replay semantics still hold WITHIN each app
    assert(!Similarity.ivfStreamIngest(spark, idx, slice(3), 1L, app = "qa"))
    assert(!Similarity.ivfStreamIngest(spark, idx, slice(5), 0L, app = "qb"))
    val m = IndexPolicy.manifestOf(spark, idx)
    assert(m.get(IndexPolicy.streamKey("qa")).contains("1") &&
      m.get(IndexPolicy.streamKey("qb")).contains("0"),
      s"per-app watermarks missing: $m")
    // and the legacy bare key is untouched by app-scoped streams
    assert(!m.contains("stream_batch"), s"legacy key leaked: $m")
  }

  test("stream ingest self-repairs a torn index: the retried batch folds the orphans and lands instead of wedging") {
    // r18 ADVICE: a crash BETWEEN a streaming batch's generation
    // publish and its commit used to wedge the stream — every retry
    // threw allocGen's torn-index refusal until a manual compact. The
    // retry now detects the torn manifest under its own lease, runs
    // the family's fold (near-dup: compact; IVF: drop-uncommitted),
    // and admits the batch normally.
    import graft.operators.{Dedup, IndexPolicy, Similarity}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-stream-torn").toString
    // ---- near-dup ----
    val nd = s"$root/nd"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), nd)
    val b0 = Seq((10L, "m n o u k")).toDF("doc_id", "text")
    val b1 = Seq((11L, "f g h i j"), (12L, "a b c d e"))
      .toDF("doc_id", "text")
    assert(Dedup.neardupStreamIngest(spark, nd, b0, 0L) == ((1L, 0L)))
    IndexPolicy.armCrash(nd, "after-rows")
    intercept[IndexPolicy.InjectedCrash](
      Dedup.neardupStreamIngest(spark, nd, b1, 1L))
    val mTorn = IndexPolicy.manifestOf(spark, nd)
    assert(IndexPolicy.tornCeiling(mTorn).isDefined,
      "fixture: the injected crash must leave a torn manifest")
    // Structured Streaming redelivers batch 1: it must LAND (doc 11
    // admitted once, doc 12 rejected as doc 1's near-dup), not wedge
    assert(Dedup.neardupStreamIngest(spark, nd, b1, 1L) == ((1L, 1L)),
      "the retried batch did not land after the in-band repair")
    val mFixed = IndexPolicy.manifestOf(spark, nd)
    assert(IndexPolicy.tornCeiling(mFixed).isEmpty, "index still torn")
    assert(mFixed.get(IndexPolicy.streamKey("")).contains("1"))
    val ids = Dedup.neardupIndexedIds(spark, nd)
      .collect().map(_.getLong(0)).toSet
    assert(ids == Set(1L, 2L, 10L, 11L),
      s"indexed set drifted through crash+retry: $ids")
    // ---- IVF ----
    val iv = s"$root/iv"
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark,
      vecs.filter(pmod(col("vec_id"), lit(2)) === 0), iv)
    def slice(r: Int) = vecs.filter(pmod(col("vec_id"), lit(8)) === r)
    assert(Similarity.ivfStreamIngest(spark, iv, slice(1), 0L))
    IndexPolicy.armCrash(iv, "after-rows")
    intercept[IndexPolicy.InjectedCrash](
      Similarity.ivfStreamIngest(spark, iv, slice(3), 1L))
    assert(IndexPolicy.tornCeiling(
      IndexPolicy.manifestOf(spark, iv)).isDefined)
    assert(Similarity.ivfStreamIngest(spark, iv, slice(3), 1L),
      "the retried IVF batch did not land after the in-band repair")
    val mIv = IndexPolicy.manifestOf(spark, iv)
    assert(IndexPolicy.tornCeiling(mIv).isEmpty, "IVF index still torn")
    // every ingested vector present EXACTLY once — the crashed
    // attempt's orphan rows were dropped, not resurrected
    val lists = spark.read.parquet(
      IndexPolicy.resolvedTable(spark, iv, "lists").get)
    val want = vecs.filter(pmod(col("vec_id"), lit(2)) === 0)
      .unionByName(slice(1)).unionByName(slice(3))
      .select(col("vec_id")).distinct().count()
    assert(lists.count() == want && lists.select("vec_id").distinct()
      .count() == want, "orphan rows survived the repair")
  }

  test("bm25 stream ingest: segments land exactly once per batch; a replayed batch is a byte-identical no-op") {
    // r18 verdict missing #3: the third family's streaming twin. The
    // watermark rides the SAME single swing as the segment list and
    // adjusted stats, so rows and watermark can never commit
    // separately; bm25 needs no torn-state repair (the append is
    // single-swing — a mid-batch crash leaves only unreferenced
    // segment dirs for the sweep).
    import graft.operators.{IndexPolicy, TextAnalysis}
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft-bm25-stream").toString
    val idx = s"$root/idx"
    TextAnalysis.bm25WriteIndexDocs(spark, Seq(
      (1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text"), idx)
    def segs() = IndexPolicy.manifestOf(spark, idx)
      .get("segments").map(_.split(",").count(_.nonEmpty)).getOrElse(0)
    def serve() = TextAnalysis.bm25QueryIndex(spark, idx,
      Seq("alpha", "eta"), 10).collect().toSeq
    assert(TextAnalysis.bm25StreamIngest(spark, idx,
      Seq((3L, "alpha eta theta")).toDF("doc_id", "text"), 0L))
    assert(segs() == 1)
    assert(TextAnalysis.bm25StreamIngest(spark, idx,
      Seq((4L, "alpha iota")).toDF("doc_id", "text"), 1L))
    assert(segs() == 2)
    val m1 = IndexPolicy.manifestOf(spark, idx)
    val s1 = serve()
    assert(s1.map(_.getLong(0)).toSet == Set(1L, 3L, 4L),
      "streamed docs not served")
    // at-least-once redelivery of batch 1: nothing lands, no swing
    assert(!TextAnalysis.bm25StreamIngest(spark, idx,
      Seq((4L, "alpha iota")).toDF("doc_id", "text"), 1L),
      "a replayed batch must be refused by the watermark")
    assert(IndexPolicy.manifestOf(spark, idx) == m1 && serve() == s1,
      "the replay must leave manifest and serve byte-identical")
    // an EMPTY batch mints no segment, advances no watermark, and
    // reports NOT-landed (r19 ADVICE #3 — callers counting landed
    // batches by the return value must not see phantom lands); its
    // own redelivery is a deterministic no-op, and the next real
    // batch still lands
    assert(!TextAnalysis.bm25StreamIngest(spark, idx,
      Seq.empty[(Long, String)].toDF("doc_id", "text"), 2L),
      "an empty batch that landed nothing must not report landed")
    assert(segs() == 2 && IndexPolicy.manifestOf(spark, idx) == m1)
    assert(TextAnalysis.bm25StreamIngest(spark, idx,
      Seq((5L, "alpha kappa")).toDF("doc_id", "text"), 3L))
    assert(segs() == 3 &&
      IndexPolicy.manifestOf(spark, idx)
        .get(IndexPolicy.streamKey("")).contains("3"))
  }

  test("torn chain slot: a publish repairs a half-written clog entry and retakes its version") {
    // the no-hardlink-filesystem crash shape: a writer died between
    // creating clog/v-<n> and writing it, leaving content that does
    // not parse back to version n. Readers skip it; the next writer
    // needing that version deletes it conditionally and retakes the
    // slot — the index never wedges.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-torn-chain").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e")).toDF("doc_id", "text"), idx)
    val m0 = IndexPolicy.manifestOf(spark, idx)
    val v0 = IndexPolicy.versionOf(m0).get
    // plant the torn entry at the NEXT version (empty content — the
    // crashed-create shape; also covers partial garbage)
    Files.write(Paths.get(s"$idx/clog/v-${v0 + 1}"), "".getBytes)
    // readers skip the torn tip and keep serving the committed state
    assert(IndexPolicy.manifestOf(spark, idx) == m0,
      "a torn chain tip changed what readers resolve")
    // the next publish repairs the slot and wins it
    val m1 = IndexPolicy.publish(spark, idx, m0 + ("k" -> "v"))
    assert(IndexPolicy.versionOf(m1).contains(v0 + 1L))
    assert(IndexPolicy.manifestOf(spark, idx) == m1)
    assert(new String(Files.readAllBytes(
      Paths.get(s"$idx/clog/v-${v0 + 1}"))).contains("k=v"),
      "the torn slot was not retaken with the real commit")
  }

  test("chain retention is best-effort: a store fault during prune never fails a landed commit; the next publish retries") {
    // r19 verdict #1: prune runs AFTER the version is awarded, so a
    // transient store error there must never tell the caller a
    // COMMITTED mutation failed (an orchestrator retrying the whole
    // mutation would double-apply it). A REAL injected IOException
    // inside the retention pass: publish succeeds, the tip is the new
    // version, and the next publish (fault disarmed) prunes.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-prune-fault").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e")).toDF("doc_id", "text"), idx)
    def clog() = new java.io.File(s"$idx/clog").list().toSeq
      .filter(_.startsWith("v-"))
    // eager mode so retention has real work at every publish
    spark.conf.set(IndexPolicy.ChainKeepMsConf, "0")
    try {
      (0 until 4).foreach { i =>
        IndexPolicy.publish(spark, idx,
          IndexPolicy.manifestOf(spark, idx) + ("i" -> i.toString))
      }
      val nBefore = clog().size
      IndexPolicy.armPruneFault(idx)
      val mGot = IndexPolicy.publish(spark, idx,
        IndexPolicy.manifestOf(spark, idx) + ("faulted" -> "1"))
      assert(IndexPolicy.manifestOf(spark, idx) == mGot,
        "the commit must land and be the tip despite the retention fault")
      assert(clog().size == nBefore + 1,
        "the faulted pass must have pruned nothing (it threw first)")
      // disarmed: the next publish retries retention and bounds the
      // chain again (tip + ChainKeepBack entries)
      val mNext = IndexPolicy.publish(spark, idx,
        IndexPolicy.manifestOf(spark, idx) + ("after" -> "1"))
      assert(IndexPolicy.manifestOf(spark, idx) == mNext)
      assert(clog().size <= 3,
        s"retention was not retried at the next publish: ${clog()}")
    } finally spark.conf.unset(IndexPolicy.ChainKeepMsConf)
  }

  test("chain aging is store-clock-relative: a pruner clock ahead of the store cannot recycle young slots") {
    // r19 verdict missing #1: retention ages superseded slots against
    // the mtime of the entry the commit just created — both
    // timestamps come from the STORE's clock. Simulated skew: every
    // clog mtime sits 2 h in the past (a store clock 2 h behind the
    // pruner's local clock); slots superseded seconds before the tip
    // are YOUNG in store time and must survive a 1 h window, even
    // though local-now minus their mtime is far past it.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("graft-chain-skew").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e")).toDF("doc_id", "text"), idx)
    (0 until 5).foreach { i =>
      IndexPolicy.publish(spark, idx,
        IndexPolicy.manifestOf(spark, idx) + ("i" -> i.toString))
    }
    val tipV = IndexPolicy.versionOf(IndexPolicy.manifestOf(spark, idx)).get
    def clog() = new java.io.File(s"$idx/clog").list().toSeq
      .filter(_.startsWith("v-")).sorted
    val all = clog()
    assert(all.size == tipV.toInt + 1, s"retention ran early: $all")
    val skew = 2L * 3600 * 1000
    val base = System.currentTimeMillis() - skew
    all.foreach { n =>
      val v = n.drop(2).toLong
      // store-time: each version committed 1 s after the previous
      Files.setLastModifiedTime(Paths.get(s"$idx/clog/$n"),
        FileTime.fromMillis(base + v * 1000L))
    }
    spark.conf.set(IndexPolicy.ChainKeepMsConf, (3600 * 1000).toString)
    try {
      IndexPolicy.chainPrune(spark, idx,
        IndexPolicy.FsPointerStore, tipV)
      assert(clog() == all,
        "slots young relative to the store's own clock were recycled " +
          s"under a skewed pruner clock: ${clog()} vs $all")
      // and genuinely OLD slots (in store time) still go: re-date the
      // count-prunable ones 2 h older than the tip
      val prunable = all.map(_.drop(2).toLong).filter(_ <= tipV - 3)
      prunable.foreach(v => Files.setLastModifiedTime(
        Paths.get(s"$idx/clog/v-$v"),
        FileTime.fromMillis(base - 2L * 3600 * 1000)))
      IndexPolicy.chainPrune(spark, idx,
        IndexPolicy.FsPointerStore, tipV)
      assert(clog().map(_.drop(2).toLong).toSet ==
        all.map(_.drop(2).toLong).toSet -- prunable,
        s"store-old slots must still be reclaimed: ${clog()}")
    } finally spark.conf.unset(IndexPolicy.ChainKeepMsConf)
  }

  test("torn-slot repair is claim-serialized: a live claim blocks the slot, a stale one is broken, success cleans up") {
    // r19 ADVICE #1: the repair of a torn clog entry runs under a
    // content-keyed create-exclusive claim, so two repairers can
    // never interleave delete+retake on one slot (the lost-commit
    // shape: B passes the compare on the torn bytes, stalls, then
    // deletes the entry A repaired and committed).
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val root = Files.createTempDirectory("graft-repair-claim").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e")).toDF("doc_id", "text"), idx)
    val m0 = IndexPolicy.manifestOf(spark, idx)
    val v1 = IndexPolicy.versionOf(m0).get + 1
    val torn = "partial garbage"
    val claim = s".repair_v-$v1-${IndexPolicy.md5hex8(torn)}"
    Files.write(Paths.get(s"$idx/clog/v-$v1"), torn.getBytes)
    // a LIVE claim (another repairer, fresh timestamp): this publish
    // must not touch the slot — it fails loudly like any lost swing
    Files.write(Paths.get(s"$idx/clog/$claim"),
      System.currentTimeMillis().toString.getBytes)
    intercept[java.util.ConcurrentModificationException] {
      IndexPolicy.publish(spark, idx, m0 + ("k" -> "v"))
    }
    assert(new String(Files.readAllBytes(
      Paths.get(s"$idx/clog/v-$v1"))) == torn,
      "a publish blocked by a live repair claim must not touch the slot")
    // the claim goes STALE (its holder died): the next publish breaks
    // it, repairs the slot, commits, and removes its own claim
    Files.write(Paths.get(s"$idx/clog/$claim"),
      (System.currentTimeMillis() - 10L * 60 * 1000).toString.getBytes)
    val m1 = IndexPolicy.publish(spark, idx, m0 + ("k" -> "v"))
    assert(IndexPolicy.versionOf(m1).contains(v1))
    assert(IndexPolicy.manifestOf(spark, idx) == m1)
    assert(new String(Files.readAllBytes(
      Paths.get(s"$idx/clog/v-$v1"))).contains("k=v"))
    assert(!Files.exists(Paths.get(s"$idx/clog/$claim")),
      "a successful repair must release its claim")
  }

  test("chain-born index that lost clog/: reads, publishes and mutations fail fast") {
    // the chain tip IS a file-store index's committed manifest; once
    // clog/ is lost (partial restore, a copy tool skipping the dir)
    // there is no committed state, and readers and writers must
    // refuse loudly rather than serve nothing or restart the version
    // line over epochs that may already be swept.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    import java.nio.file.Files
    val root = Files.createTempDirectory("graft-chain-lost").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
    Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
    val m1 = IndexPolicy.manifestOf(spark, idx)
    assert(!new java.io.File(s"$idx/current").exists,
      "a chain-born index keeps no current object")
    // clog/ is lost: reads and mutations fail fast, naming the cause
    wipe(new java.io.File(s"$idx/clog"))
    val e = intercept[IllegalArgumentException] {
      IndexPolicy.manifestOf(spark, idx)
    }
    assert(e.getMessage.contains("clog/"))
    intercept[java.util.ConcurrentModificationException] {
      IndexPolicy.publish(spark, idx, m1 + ("k" -> "v"))
    }
    intercept[IllegalArgumentException] {
      Dedup.neardupRemove(spark, idx, Seq(2L).toDF("doc_id"))
    }
  }

  test("a TORN lock or repair claim (unparsable content) ages by store mtime instead of wedging forever") {
    // self-review r20: on a no-hardlink store a crash between a lock
    // or claim's create and its write leaves UNPARSABLE content (an
    // empty file is the common shape). The timestamp-staleness check
    // alone would judge it live forever — every future mutation of
    // the index (or every publish of that version) then fails loudly
    // with NO repair path, because retention itself only runs after a
    // successful commit. Unparsable content falls back to store-mtime
    // aging: young (its writer may be alive mid-write) → still live;
    // past the lease window → breakable.
    import graft.operators.{Dedup, IndexPolicy}
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val root = Files.createTempDirectory("graft-torn-lock").toString
    val idx = s"$root/idx"
    Dedup.neardupWriteIndex(spark, Seq(
      (1L, "a b c d e"), (2L, "x y z w v")).toDF("doc_id", "text"), idx)
    // torn wlock, YOUNG mtime: treated live — the waiter spins out
    Files.write(Paths.get(s"$idx/wlock"), "".getBytes)
    spark.conf.set("spark.graft.index.lock.wait.ms", "300")
    try intercept[IllegalStateException](
      Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id")))
    finally spark.conf.unset("spark.graft.index.lock.wait.ms")
    // the same torn wlock past the lease window: broken, mutation lands
    Files.setLastModifiedTime(Paths.get(s"$idx/wlock"),
      FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id"))
    assert(!Files.exists(Paths.get(s"$idx/wlock")),
      "the aged torn lock was not broken")
    // torn repair claim on a torn slot: young blocks the version,
    // aged is broken and the slot repaired
    val m0 = IndexPolicy.manifestOf(spark, idx)
    val v1 = IndexPolicy.versionOf(m0).get + 1
    val torn = "partial garbage"
    val claim = s".repair_v-$v1-${IndexPolicy.md5hex8(torn)}"
    Files.write(Paths.get(s"$idx/clog/v-$v1"), torn.getBytes)
    Files.write(Paths.get(s"$idx/clog/$claim"), "".getBytes)
    intercept[java.util.ConcurrentModificationException] {
      IndexPolicy.publish(spark, idx, m0 + ("k" -> "v"))
    }
    Files.setLastModifiedTime(Paths.get(s"$idx/clog/$claim"),
      FileTime.fromMillis(System.currentTimeMillis() - 3600000L))
    val m1 = IndexPolicy.publish(spark, idx, m0 + ("k" -> "v"))
    assert(IndexPolicy.versionOf(m1).contains(v1))
    assert(IndexPolicy.manifestOf(spark, idx) == m1)
    assert(!Files.exists(Paths.get(s"$idx/clog/$claim")),
      "the broken torn claim must not survive the repair")
  }

  test("stream app keys: sanitization collisions get distinct watermark keys; clean ids keep stable keys") {
    // r19 ADVICE #5: two distinct raw app ids that collide after
    // sanitization must never share a watermark — an id the
    // sanitization changed carries an md5 suffix of the RAW id.
    import graft.operators.IndexPolicy
    assert(IndexPolicy.streamKey("") == "stream_batch")
    assert(IndexPolicy.streamKey("app-1.q") == "stream_batch.app-1.q",
      "already-clean ids keep their stable un-suffixed key")
    val a = IndexPolicy.streamKey("app 1")
    val b = IndexPolicy.streamKey("app&1")
    assert(a.startsWith("stream_batch.app_1.") &&
      b.startsWith("stream_batch.app_1."))
    assert(a != b,
      "raw ids colliding after sanitization must get distinct keys")
  }

  test("small-probe lookup and serve prune their index scans through static partition filters") {
    import graft.operators.{Dedup, Similarity}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files
      .createTempDirectory("graft-small-probe-prune").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val nd = s"$root/nd"
    Dedup.neardupWriteIndex(spark,
      docs.filter(pmod(col("doc_id"), lit(4)) =!= 1), nd)
    // an indexed document under a fresh id, as an in-memory probe: its
    // copy in the index makes the docsets scan run too
    val probe = spark.createDataFrame(docs.filter(col("doc_id") === 4L)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .collect().toSeq.asJava, docs.schema)
    val iv = s"$root/ivf"
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark, vecs, iv)
    val query = spark.createDataFrame(vecs.filter(col("vec_id") === 1L)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
      .collect().toSeq.asJava, vecs.schema)
    // the small-probe lookup runs its scans inside the call: catch
    // every executed plan from the session's listener
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val (pairs, served) =
      try {
        val p = Dedup.neardupLookup(spark, nd, probe).collect()
        val s = Similarity.ivfQueryIndexVecs(spark, iv, query)
        s.collect()
        org.apache.spark.TestBus.drain(spark.sparkContext)
        (p, s)
      } finally spark.listenerManager.unregister(listener)
    assert(pairs.nonEmpty, "the probe found no near-dup")
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    def files(dir: String): Int = {
      def walk(d: java.io.File): Seq[java.io.File] =
        if (d.isDirectory) d.listFiles().toSeq.flatMap(walk) else Seq(d)
      walk(new java.io.File(dir)).count(_.getName.endsWith(".parquet"))
    }
    val all = plans.asScala.toSeq.flatMap(scans) ++
      scans(served.queryExecution.executedPlan)
    Seq((nd, "buckets", "pb"), (nd, "docsets", "db"), (iv, "lists", "cell"))
      .foreach { case (idx, table, partCol) =>
        val dir = graft.operators.IndexPolicy.resolvedTable(spark, idx, table).get
        // match by rootPaths: toString truncates long epoch-dir paths
        val ss = all.filter(_.relation.location.rootPaths
          .exists(_.toString.contains(table)))
        assert(ss.nonEmpty, s"no $table scan")
        ss.foreach { scan =>
          val scanned = scan.metrics("numFiles").value
          assert(scanned > 0 && scanned < files(dir),
            s"$table not file-pruned: scanned $scanned of ${files(dir)}")
          val filters = scan.partitionFilters.mkString(", ")
          assert(scan.partitionFilters
              .exists(_.references.exists(_.name == partCol)),
            s"$table scan lacks a $partCol partition filter: [$filters]")
          assert(!filters.contains("dynamicpruning"),
            s"$table scan filters at runtime, not statically: [$filters]")
        }
      }
  }

  test("withSnapshotsKept restores a set or an unset retention conf, also when its body throws") {
    import graft.operators.{IndexPolicy, TextAnalysis}
    val k = IndexPolicy.SnapKeepConf
    val prior = spark.conf.getOption(k)
    val idx = java.nio.file.Files.createTempDirectory("graft-keep").toString + "/idx"
    import spark.implicits._
    val docs = Seq((1L, "alpha beta gamma"), (2L, "beta gamma delta"))
      .toDF("doc_id", "text")
    try {
      spark.conf.unset(k)
      TextAnalysis.bm25WriteIndexDocs(spark, docs, idx)
      assert(IndexPolicy.snapshotIds(spark, idx).isEmpty)
      IndexPolicy.withSnapshotsKept(spark, 3) {
        assert(spark.conf.get(k) == "3")
        TextAnalysis.bm25AppendSegment(spark, idx,
          Seq((3L, "gamma delta epsilon")).toDF("doc_id", "text"), docs.limit(0))
      }
      assert(spark.conf.getOption(k).isEmpty, "an unset conf came back set")
      val kept = IndexPolicy.snapshotIds(spark, idx)
      assert(kept.size == 1, s"snapshots taken in the scope: $kept")
      assert(IndexPolicy.manifestAtSnapshot(spark, idx, kept.head) - "snap_at" ==
        IndexPolicy.manifestOf(spark, idx))
      intercept[IllegalStateException](IndexPolicy.withSnapshotsKept(spark, 5) {
        throw new IllegalStateException("body failed")
      })
      assert(spark.conf.getOption(k).isEmpty, "a throwing body left the conf set")
      spark.conf.set(k, "7")
      IndexPolicy.withSnapshotsKept(spark, 2)(assert(spark.conf.get(k) == "2"))
      assert(spark.conf.get(k) == "7")
      intercept[IllegalStateException](IndexPolicy.withSnapshotsKept(spark, 2) {
        throw new IllegalStateException("body failed")
      })
      assert(spark.conf.get(k) == "7", "a throwing body lost the prior value")
    } finally prior.fold(spark.conf.unset(k))(spark.conf.set(k, _))
  }

  test("withShufflePartitions restores the prior shuffle width, also when its body throws") {
    val k = "spark.sql.shuffle.partitions"
    val prior = spark.conf.get(k)
    assert(prior != "3")
    assert(Sessions.withShufflePartitions(spark, 3)(spark.conf.get(k)) == "3")
    assert(spark.conf.get(k) == prior, "a normal body lost the prior width")
    intercept[IllegalStateException](Sessions.withShufflePartitions(spark, 3) {
      throw new IllegalStateException("body failed")
    })
    assert(spark.conf.get(k) == prior, "a throwing body lost the prior width")
  }

  test("every index write dies at its crash point and leaves the committed state serving") {
    import graft.operators.{Dedup, IndexPolicy, Similarity, TextAnalysis}
    import IndexPolicy.{AfterEpoch, AfterRows}
    import org.apache.spark.sql.{DataFrame, Row}
    val root = java.nio.file.Files.createTempDirectory("graft-write-crash").toString
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val vecs = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    def docSlice(m: Int, r: Int): DataFrame =
      docs.filter(pmod(col("doc_id"), lit(m)) === r)
    def vecSlice(m: Int, r: Int): DataFrame =
      vecs.filter(pmod(col("vec_id"), lit(m)) === r)
    val base = docs.filter(pmod(col("doc_id"), lit(4)) =!= 1)
    // live indexes with something to fold: a near-dup removal, a bm25 segment
    val nd = s"$root/nd"
    Dedup.neardupWriteIndex(spark, base, nd)
    Dedup.neardupRemove(spark, nd, docSlice(5, 0).select(col("doc_id")))
    val iv = s"$root/iv"
    Similarity.ivfWriteIndexVecs(spark,
      vecs.filter(pmod(col("vec_id"), lit(4)) =!= 1), iv)
    val bm = s"$root/bm"
    TextAnalysis.bm25WriteIndexDocs(spark, base, bm)
    TextAnalysis.bm25AppendSegment(spark, bm, docSlice(8, 1), docs.limit(0))
    val ndServe = (i: String) =>
      Dedup.neardupLookup(spark, i, docSlice(4, 1)).collect().toSeq
    val ivServe = (i: String) =>
      Similarity.ivfQueryIndex(spark, sf, i).collect().toSeq
    val bmServe = (i: String) => TextAnalysis.bm25QueryIndex(spark, i,
      Seq("data", "model", "system"), 20).collect().toSeq
    val edited = docSlice(16, 3)
    // (write, live index it runs on, its crash point, its family's serve, the write)
    val writes: Seq[(String, String, String, String => Seq[Row], String => Unit)] = Seq(
      ("nd rebuild", nd, AfterEpoch, ndServe, Dedup.neardupWriteIndex(spark, docs, _)),
      ("ivf retrain", iv, AfterEpoch, ivServe, Similarity.ivfWriteIndexVecs(spark, vecs, _)),
      ("bm25 rebuild", bm, AfterEpoch, bmServe, TextAnalysis.bm25WriteIndexDocs(spark, docs, _)),
      ("bm25 append segment", bm, AfterEpoch, bmServe, i =>
        TextAnalysis.bm25AppendSegment(spark, i, docSlice(8, 5), edited)),
      ("bm25 refresh", bm, AfterEpoch, bmServe, TextAnalysis.bm25RefreshIndex(spark, _,
        edited.select(col("doc_id"), concat(lit("zeta "), col("text")).as("text")), edited)),
      ("bm25 compact", bm, AfterEpoch, bmServe, TextAnalysis.bm25Compact(spark, _)),
      ("nd compact", nd, AfterEpoch, ndServe, Dedup.neardupCompact(spark, _)),
      ("nd check-in", nd, AfterRows, ndServe, Dedup.neardupCheckIn(spark, _, docSlice(8, 5))),
      ("ivf append", iv, AfterRows, ivServe, Similarity.ivfAppendVectors(spark, _, vecSlice(4, 1))),
      ("nd remove", nd, AfterRows, ndServe, Dedup.neardupRemove(spark, _,
        docSlice(7, 3).select(col("doc_id")))),
      ("ivf remove", iv, AfterRows, ivServe, Similarity.ivfRemove(spark, _,
        vecSlice(9, 0).select(col("vec_id")))))
    writes.foreach { case (what, live, point, serve, write) =>
      val idx = s"$root/${what.replace(' ', '_')}"
      Fixtures.copyIndex(spark, live, idx)
      val m0 = IndexPolicy.manifestOf(spark, idx)
      val served = serve(idx)
      assert(served.nonEmpty, s"$what: the fixture serves nothing")
      IndexPolicy.armCrash(idx, point)
      val e = intercept[IndexPolicy.InjectedCrash](write(idx))
      assert(e.getMessage.contains(point), s"$what: ${e.getMessage}")
      val m1 = IndexPolicy.manifestOf(spark, idx)
      // an append dies after its generation allocation, a swing of its
      // own; nothing else may have swung
      val swung = if (point == AfterRows) 1L else 0L
      assert(IndexPolicy.versionOf(m1) == IndexPolicy.versionOf(m0).map(_ + swung),
        s"$what: manifest version ${IndexPolicy.versionOf(m0)} -> ${IndexPolicy.versionOf(m1)}")
      assert(IndexPolicy.committedOf(m1) == IndexPolicy.committedOf(m0),
        s"$what: committed generation moved")
      assert(serve(idx) == served, s"$what: the live serve changed")
    }
  }
}
