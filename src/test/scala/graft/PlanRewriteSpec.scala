package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** The injected optimizer rule (LevenshteinPrefilter) must engage on
  * fuzzy predicates and must never change results.
  */
class PlanRewriteSpec extends SparkSpec {
  import spark.implicits._

  test("fuzzy filter is rewritten to length guard + thresholded DP") {
    val plan = TextAnalysis.fuzzyNameMatch(spark, sf)
      .queryExecution.optimizedPlan.toString
    // the guard and the 3-arg (banded) levenshtein replace the bare
    // 2-arg comparison in the filter condition
    assert(plan.contains("abs((length("), plan)
    assert("levenshtein\\([^)]*Some\\(2\\)\\) >= 0".r.findFirstIn(plan).isDefined, plan)
  }

  test("rewrite preserves results, including nulls and boundary distances") {
    val df = Seq[(String, String)](
      ("kitten", "sitting"),   // dist 3
      ("kitten", "kitten"),    // dist 0
      ("kitten", "mitten"),    // dist 1
      ("abc", "abcd"),         // dist 1
      ("abc", "xyzabc"),       // dist 3 (length guard prunes at k<=2)
      ("abc", null),           // null comparison drops
      (null, "abc")
    ).toDF("a", "b")
    def got(k: Int) = df.filter(levenshtein(col("a"), col("b")) <= k)
      .select("a", "b").collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got(0) == Set(("kitten", "kitten")))
    assert(got(1) == Set(("kitten", "kitten"), ("kitten", "mitten"), ("abc", "abcd")))
    assert(got(3) == Set(("kitten", "sitting"), ("kitten", "kitten"),
      ("kitten", "mitten"), ("abc", "abcd"), ("abc", "xyzabc")))
    // strict form goes through the k-1 rewrite
    val strict = df.filter(levenshtein(col("a"), col("b")) < 2)
      .select("a").collect().length
    assert(strict == 3)
  }

  test("sim_topk is two-phase: map-side k-selection feeds the per-query window") {
    val df = graft.operators.Similarity.bruteForceTopK(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val winIdx = plan.indexOf("Window")
    val mpIdx = plan.indexOf("MapPartitions")
    // treeString is top-down: the window must sit ABOVE the map-side
    // selection, i.e. it only ever ranks the bounded per-partition
    // survivors — never raw corpus-sized scored rows
    assert(winIdx >= 0, s"no Window in plan:\n$plan")
    assert(mpIdx >= 0, s"no MapPartitions phase in plan:\n$plan")
    assert(winIdx < mpIdx, s"Window not above MapPartitions:\n$plan")
    // and the selection is correct: identical to the single-window form
    import org.apache.spark.sql.expressions.Window
    val ndot = graft.functions.GraftFunctions.dot _
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("nrm", sqrt(ndot(col("v"), col("v"))))
    val q = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val c = emb.select(col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))
    val w = Window.partitionBy(col("qid")).orderBy(col("sim").desc, col("cid").asc)
    val ref = c.join(broadcast(q), col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"),
        (ndot(col("qv"), col("cv")) / (col("qn") * col("cn"))).as("sim"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("qid"), col("rnk"), col("cid"), round(col("sim"), 6).as("sim"))
      .orderBy("qid", "rnk")
    assert(df.collect().toSeq == ref.collect().toSeq)
  }

  test("stratified_sample is two-phase: per-partition heaps feed the per-group window") {
    val df = graft.operators.Curation.stratifiedSample(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    val winIdx = plan.indexOf("Window")
    val mpIdx = plan.indexOf("MapPartitions")
    assert(winIdx >= 0 && mpIdx >= 0, s"missing phase:\n$plan")
    // window ABOVE the map-side selection: it ranks <= n*P survivors,
    // never whole language groups through one task
    assert(winIdx < mpIdx, s"Window not above MapPartitions:\n$plan")
    // and the selection matches the naive single-window form
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("lang")).orderBy(col("h").asc, col("doc_id").asc)
    val ref = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("doc_id"),
        md5(concat(lit("strat:"), col("doc_id").cast("string"))).as("h"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 50)
      .select(col("lang"), col("rnk"), col("doc_id"))
      .orderBy("lang", "rnk")
    assert(df.collect().toSeq == ref.collect().toSeq)
  }

  test("hybrid_rrf: both rankers two-phase, scoring joins broadcast the query side") {
    val plan = graft.operators.Similarity.hybridRrf(spark, sf)
      .queryExecution.executedPlan.toString
    // each ranked list passes through a map-side bounded-heap phase
    assert("MapPartitions".r.findAllIn(plan).size == 2,
      s"expected 2 map-side selection phases:\n$plan")
    // corpus streams against a broadcast query side — dense is a
    // broadcast NLJ (inequality condition), lexical a broadcast join
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // no per-query window ever sees raw corpus-sized scored rows: the
    // first (fusion) window sits above every MapPartitions phase
    assert(plan.indexOf("Window") < plan.indexOf("MapPartitions"), plan)
  }

  test("dedup_prune: boilerplate set broadcast, reconstruction is one partial agg") {
    val plan = graft.operators.Dedup.boilerplatePrune(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"boiler join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"no corpus-sized join allowed:\n$plan")
    // reconstruction: partial collect_list below the doc_id exchange
    assert(plan.contains("partial_collect_list"), plan)
  }

  test("curate_pipeline: two corpus scans, one digest shuffle, no corpus window") {
    val df = graft.operators.Curation.curatePipeline(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert("FileScan".r.findAllIn(plan).size == 2,
      s"funnel counts must share one scan (2 total):\n$plan")
    // the share denominator is a window over the per-source funnel
    // frame, never a re-run of the kept pipeline
    // one partial+final stage pair → exactly 2 SortAggregate nodes
    assert("SortAggregate".r.findAllIn(plan).size == 2,
      s"kept pipeline must run once:\n$plan")
  }

  test("emb_kmeans: centroids broadcast, argmax is partial-agg, no corpus window") {
    val df = graft.operators.Similarity.embKmeans(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    // scoring joins are broadcast (centroids are the tiny side)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    // the per-vector argmax is an aggregate with a partial phase —
    // NOT a row_number window over the corpus × k score matrix
    assert(plan.contains("partial_max"), plan)
    assert(!plan.contains("row_number"), plan)
  }

  test("rewrite applies inside join conditions") {
    val l = Seq("alpha", "beta").toDF("x")
    val r = Seq("alphb", "gamma").toDF("y")
    val j = l.join(r, levenshtein(col("x"), col("y")) <= 1)
    assert(j.queryExecution.optimizedPlan.toString.contains("abs((length("))
    assert(j.collect().map(r => (r.getString(0), r.getString(1))).toSet ==
      Set(("alpha", "alphb")))
  }

  test("fanOutScan probes every file-less frame instead of reusing one memo") {
    // in-memory and checkpointed frames have no input files, so a memo
    // keyed on the file set would hand the first frame's split count
    // to every later one
    def repartitions(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical.Repartition => r
      }.size
    val p = spark.sparkContext.defaultParallelism
    val narrow = spark.range(0, 100, 1, 1).toDF("id").localCheckpoint()
    val wide = spark.range(0, 100, 1, p).toDF("id").localCheckpoint()
    assert(narrow.inputFiles.isEmpty && wide.rdd.getNumPartitions >= p)
    assert(repartitions(Tables.fanOutScan(narrow)) == 1)
    assert(repartitions(Tables.fanOutScan(wide)) == 0)
  }
}
