package graft

import scala.jdk.CollectionConverters._

/** Registry-wide physical-plan lint: the anti-patterns that sink a
  * 100 TB run must not appear in ANY query's plan, not just the
  * hand-audited flagships. Complements the per-query guards in
  * OperatorSpec/CooccurSpec/PlanRewriteSpec.
  */
class PlanLintSpec extends SparkSpec {

  // queries whose construction runs driver-side jobs (iterative loops,
  // sink writes) — their plan shape is guarded by their own specs
  private val eagerBuilders = SparkEntry.eagerQueries

  // The EXACT set of queries that legitimately plan a
  // BroadcastNestedLoopJoin (enumerated by scanning the registry, kept
  // tight so a new accidental NLJ fails this test):
  //  - 1-row scalar-aggregate broadcasts (decorrelated subqueries /
  //    corpus totals): q11, q22, lm_score, lm_score2, tfidf_keywords,
  //    layout_zorder, sketch_cms, sketch_hll_merge, bm25_topk
  //  - intentional tiny-side range/theta joins: join_range_tiers,
  //    fuzzy_name_match (edit-distance over the broadcast dim,
  //    pre-pruned by the LevenshteinPrefilter length guard)
  //  - broadcast query/centroid sides in the similarity family (few
  //    rows against the corpus by design): sim_topk, sim_ivf,
  //    sim_ann(_md5) (broadcast query projections scored against the
  //    corpus signature stream), sim_*_recall, hybrid_rrf, emb_kmeans,
  //    emb_pq_recall. (r11: sim_neardup / sem_dedup_keep dropped —
  //    their centroid broadcasts now live behind the assignment
  //    localCheckpoint, so the visible plan has no NLJ at all.)
  private val nljAllowed = Set(
    "q11_important", "q22_idle_balance", "lm_score", "lm_score2",
    "tfidf_keywords", "layout_zorder", "sketch_cms", "sketch_hll_merge",
    "bm25_topk", "join_range_tiers", "fuzzy_name_match",
    "histogram_equidepth_approx", // 1-row sketch-edges + 1-row total broadcasts
    "batch_pack",       // 1-row global-quartiles broadcast
    "sketch_kll_merge", // 1-row merged-median-estimate broadcast
    "colloc_pmi",    // 1-row bigram-total broadcast
    "heavy_hitters", // 1-row corpus-total broadcast
    "graph_triangles", // two 1-row census-total broadcasts
    "sim_topk", "sim_ivf", "sim_ann", "sim_ann_md5", "sim_ann_recall",
    "sim_ivf_recall", "hybrid_rrf",
    "emb_kmeans", "emb_pq_recall",
    "dsir_sample",  // 1-row distribution-totals broadcast
    "profile_stats", // three 1-row distinct-count broadcasts (r21)
    "ppl_buckets",  // 1-row vocab-total broadcast (the lm_score shape)
    "contamination_semantic") // broadcast eval vectors scored against the corpus (similarity-family shape)

  // driver-side fork-join goes through graft.Par alone; graft/jobs/
  // keeps its fire-and-forget Future for asynchronous job submission
  test("no hand-rolled Future/Await/addSuppressed outside Par and jobs") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val banned = ("""scala\.concurrent\.(Future|Await|_|\{[^}]*\b(Future|Await)\b)""" +
      """|\bAwait\.|addSuppressed""").r
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      if (rel == "graft/Par.scala" || rel.startsWith("graft/jobs/")) Nil
      else java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (l, i) if banned.findFirstIn(l).isDefined => s"$rel:${i + 1}: ${l.trim}"
      }
    }
    assert(offenders.isEmpty, "use graft.Par.all instead:\n" + offenders.mkString("\n"))
  }

  // tokenizing goes through TextFns' byte-scan Tokenize alone; Scala's
  // String.split (the typed flatMap demo) is not Spark's split(
  test("no regex-split tokenizer in src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val banned = """(?<![\w.])split\s*\(.*(\[\^a-zA-Z\]\+|\\\\s\+)""".r
    Seq("""filter(split(c, "[^a-zA-Z]+"), t => length(t) > 0)""", """split(col("t"), "\\s+")""",
        """spark.sql("SELECT split(text, '[^a-zA-Z]+') FROM d")""")
      .foreach(l => assert(banned.findFirstIn(l).isDefined, l))
    Seq("""text.split("[^a-zA-Z]+")""", """string_split_regex(text, '[^a-zA-Z]+')""",
        """regexp_replace(lower(c), "\\s+", " ")""")
      .foreach(l => assert(banned.findFirstIn(l).isEmpty, l))
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if banned.findFirstIn(l).isDefined => s"${root.relativize(f)}:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty, "use TextFns.alphaTokens/wsTokens:\n" + offenders.mkString("\n"))
  }

  // a canceled test reads as green in an offline run while checking
  // nothing; a spec that needs a service brings a loopback fake of it
  test("no canceled tests: no assume/cancel in src/test/scala") {
    val root = java.nio.file.Paths.get("src/test/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val banned = """(?<![\w.])(assume|cancel)\s*\(""".r
    Seq("assume" + "(ep.isDefined)", "cancel" + " (\"offline\")")
      .foreach(l => assert(banned.findFirstIn(l).isDefined, l))
    Seq("job.cancel" + "(true)", "assumeResult(x)", "cancelJobGroup(g)")
      .foreach(l => assert(banned.findFirstIn(l).isEmpty, l))
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if banned.findFirstIn(l).isDefined => s"${root.relativize(f)}:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty, "tests must run, not cancel:\n" + offenders.mkString("\n"))
  }

  // the snapshot-retention scope, the per-JVM fixture token and the
  // fixture path tag are written once, in IndexPolicy and Fixtures
  test("no hand-rolled retention scope, fixture token or fixture tag outside IndexPolicy and Fixtures") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val banned = ("""\bconf\.(set|unset)\(\s*(\w+\.)*(SnapKeepConf\b|"spark\.graft\.index\.snapshots\.keep")""" +
      """|lazy val \w*Token\s*=[^\n]*\n?[^\n]*\bUUID\b|replaceAll\("\[\^A-Za-z0-9\]"""").r
    Seq("""spark.conf.set(IndexPolicy.SnapKeepConf, "10")""",
        """case None => spark.conf.unset("spark.graft.index.snapshots.keep")""",
        "private lazy val scratchToken =\n    java.util.UUID.randomUUID().toString.take(8)",
        """val tag = dir.replaceAll("[^A-Za-z0-9]", "_")""")
      .foreach(l => assert(banned.findFirstIn(l).isDefined, l))
    Seq("""spark.conf.set("spark.graft.index.snapshots.keep.ms", "0")""",
        """val keep = spark.conf.get(SnapKeepConf, "0").toInt""",
        """val segName = "seg-" + IndexPolicy.newToken()""",
        """val safe = app.replaceAll("[^A-Za-z0-9._-]", "_")""")
      .foreach(l => assert(banned.findFirstIn(l).isEmpty, l))
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = files.flatMap { f =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      if (rel == "graft/operators/IndexPolicy.scala" || rel == "graft/Fixtures.scala") Nil
      else {
        val text = new String(java.nio.file.Files.readAllBytes(f), "UTF-8")
        banned.findAllMatchIn(text).map { m =>
          val line = text.substring(0, m.start).count(_ == '\n') + 1
          s"$rel:$line: ${m.matched.trim}"
        }.toSeq
      }
    }
    assert(offenders.isEmpty,
      "use IndexPolicy.withSnapshotsKept and graft.Fixtures instead:\n" + offenders.mkString("\n"))
  }

  // a serve resolves its manifest, as-of pin and visibility ceiling
  // through IndexPolicy.readPoint alone, and a narrowed shuffle width
  // goes through Sessions.withShufflePartitions
  test("no hand-rolled read ceiling or shuffle-width scope outside IndexPolicy, Sessions and tools") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val banned = ("""\bceil\.fold\(|\btornCeiling\(|\bpinnedGen\b|\bmanifestAtSnapshot\(""" +
      """|\bconf\.set\(\s*"spark\.sql\.shuffle\.partitions"""").r
    Seq("""ceil.fold(df)(g => df.filter(col("gen") <= g))""",
        """val ceil = IndexPolicy.tornCeiling(m)""",
        """asOf = IndexPolicy.pinnedGen(spark, idx, gen))._1""",
        """manifest = Some(IndexPolicy.manifestAtSnapshot(spark, idx, snap)))""",
        """spark.conf.set("spark.sql.shuffle.partitions", "8")""")
      .foreach(l => assert(banned.findFirstIn(l).isDefined, l))
    Seq("""rp.visible(spark.read.schema(listsSchema).parquet(s"$ed/lists"))""",
        """when(count(lit(1)) > routeAt, ceil(sqrt(count(lit(1)))))""",
        """val prevParts = spark.conf.get("spark.sql.shuffle.partitions")""",
        """.config("spark.sql.shuffle.partitions", cpus)""",
        """refTokens(snapshotManifest(spark, idx, v))""")
      .foreach(l => assert(banned.findFirstIn(l).isEmpty, l))
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        val rel = root.relativize(f).toString.replace('\\', '/')
        if (rel == "graft/operators/IndexPolicy.scala" || rel == "graft/Sessions.scala" ||
            rel.startsWith("graft/tools/")) Nil
        else java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if banned.findFirstIn(l).isDefined => s"$rel:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty,
      "use IndexPolicy.readPoint and Sessions.withShufflePartitions instead:\n" +
        offenders.mkString("\n"))
  }

  test("no write-protocol crash point spelled outside IndexPolicy") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under ${sys.props("user.dir")}")
    val banned = """"after-(epoch|rows)"""".r
    Seq("""IndexPolicy.crashPoint(spark, idx, "after-epoch")""",
        """IndexPolicy.crashPoint(spark, idx, "after-rows")""",
        """IndexPolicy.armCrash(nd, "after-rows")""",
        """spark.conf.set("spark.graft.index.crash.at", "after-epoch")""")
      .foreach(l => assert(banned.findFirstIn(l).isDefined, l))
    Seq("""IndexPolicy.armCrash(bm, IndexPolicy.AfterEpoch)""",
        """IndexPolicy.crashPoint(spark, ndIdx, "estate-after-nd")""",
        """IndexPolicy.crashPoint(spark, bmIdx, "estate-after-bm25")""",
        """// `after-rows` (in-place append/remove rows landed)""",
        """crashPoint(spark, idx, "before-swing")""")
      .foreach(l => assert(banned.findFirstIn(l).isEmpty, l))
    val offenders = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.flatMap { f =>
        val rel = root.relativize(f).toString.replace('\\', '/')
        if (rel == "graft/operators/IndexPolicy.scala") Nil
        else java.nio.file.Files.readAllLines(f).asScala.zipWithIndex.collect {
          case (l, i) if banned.findFirstIn(l).isDefined => s"$rel:${i + 1}: ${l.trim}"
        }
      }
    assert(offenders.isEmpty,
      "write through IndexPolicy.rebuild/rewriteEpoch/appendGen, or arm " +
        "IndexPolicy.AfterEpoch/AfterRows:\n" + offenders.mkString("\n"))
  }

  test("no CartesianProduct in any registered query plan") {
    val offenders = SparkEntry.queries
      .filterNot { case (name, _) => eagerBuilders(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("BroadcastNestedLoopJoin only where a scalar/tiny broadcast is intended") {
    val offenders = SparkEntry.queries
      .filterNot { case (name, _) => eagerBuilders(name) || nljAllowed(name) }
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("BroadcastNestedLoopJoin")) Some(name) else None
      }
    assert(offenders.isEmpty,
      s"unexpected nested-loop joins in: $offenders (add to allowlist ONLY for 1-row/tiny broadcasts)")
  }

  // GOLDEN SHUFFLE BUDGETS — the exact (shuffle, broadcast) exchange
  // counts of the most expensive / flagship queries, measured from the
  // AQE initial plan at the spec SF. Every shuffle is a full
  // materialize-and-repartition of its input at 100 TB, so an
  // ACCIDENTAL extra exchange (a lost partitioning, a join that
  // stopped broadcasting, an optimizer regression after a refactor)
  // must fail CI — not surface as a silent 2× on the next bench.
  // A legitimate plan change updates the budget IN THE SAME COMMIT
  // with a note on why the new count is right.
  private val shuffleBudgets: Map[String, (Int, Int)] = Map(
    // (shuffles, broadcasts)
    "assoc_pairs"        -> (6, 1), // distinct + capped pair expansion
    // r7: the Lloyd-train + assignment subplan is materialized once
    // behind a lazy localCheckpoint (the cell self-join would
    // otherwise compute it twice), so its exchanges live in the RDD
    // lineage — the visible plan starts at the vector-carrying
    // assignment rows. r11: exact-collapse groups bit-identical
    // vectors first (vector-keyed groupBy + member join), and pairs
    // are scored INSIDE the rep-level cell self-join then min-
    // aggregated per group map-side — the pair distinct() and both
    // vector-lookup joins are gone (three pair-sized exchanges
    // removed; nothing pair-shaped shuffles anymore)
    "sim_neardup"        -> (6, 1), // collapse agg + member join + cell self-join ×2 + nb agg + sort
    "sem_dedup_keep"     -> (6, 0), // collapse agg ×2 (groups feeds two trees) + self-join + nb agg + keep join + sort
    "dedup_spans"        -> (3, 0),
    "dedup_span_regions" -> (4, 2),
    "dedup_minhash_md5"  -> (6, 3),
    "dedup_simhash_md5"  -> (5, 1),
    "dedup_ngram"        -> (16, 7), // shingle/Jaccard pipeline
    "dedup_exact"        -> (2, 0),
    "sim_topk"           -> (2, 1), // two-phase heap top-k
    // r9: asymmetric-hashing rebuild — the banding distinct() shuffle
    // is gone; the two survivors are the shortlist heap window and the
    // re-rank window
    "sim_ann_md5"        -> (2, 3),
    "bm25_topk"          -> (9, 4),
    "tfidf_keywords"     -> (7, 2),
    "curate_pipeline"    -> (4, 1), // two corpus scans, full funnel
    "contamination"      -> (4, 1), // re-pinned reuse-off (r7)
    "cross_dedup"        -> (1, 1),
    "q1_pricing"         -> (2, 0), // partial agg + final + sort
    "q9_profit"          -> (2, 4), // all dims broadcast
    "q21_waiting"        -> (4, 3), // one-shuffle collapse (r6)
    "sql_q1"             -> (2, 0),
    "text_repetition"    -> (3, 0),
    "mm_phash_dedup"     -> (2, 1),
    "event_funnel"       -> (8, 3),
    "ts_sessionize"      -> (2, 0),
    "seq_pack_sql"       -> (2, 0), // cumsum window + final agg
    "wordcount_alpha"    -> (2, 0),
    // r7 extension: remaining TPC-H shapes + flagship families — the
    // whole oracle-green surface a refactor is most likely to touch
    "q2_min_cost"        -> (5, 8),
    "join_q3_shipping"   -> (1, 2),
    "q4_priority"        -> (2, 1),
    "q5_local_supplier"  -> (2, 5),
    "q6_forecast"        -> (1, 0), // scan + scalar agg, zero shuffle joins
    "q7_nation_volume"   -> (2, 5),
    "q8_market_share"    -> (2, 6),
    "q10_returned_items" -> (1, 3),
    "q11_important"      -> (4, 7),
    "q12_late_mix"       -> (2, 1),
    "q13_custdist"       -> (3, 1),
    "q14_promo_share"    -> (1, 1),
    "q15_top_supplier"   -> (4, 2),
    "q16_supplier_cnt"   -> (4, 2),
    "q17_small_qty"      -> (2, 2),
    "q18_large_orders"   -> (2, 2),
    "q19_brand_quantity" -> (1, 1),
    "q20_excess"         -> (7, 4),
    "q22_idle_balance"   -> (3, 2),
    "emb_kmeans"         -> (6, 2),
    "emb_pq"             -> (5, 2),
    "emb_rp"             -> (1, 0), // map-only projection + sort
    "dedup_winnow"       -> (12, 3),
    "dedup_blocks"       -> (4, 1),
    "dedup_prune"        -> (4, 1),
    "text_vocab"         -> (3, 0),
    "text_langid_ngram"  -> (1, 0), // pure column math
    "win_quartiles"      -> (2, 0),
    "ts_asof"            -> (2, 0),
    "ts_fill"            -> (3, 1),
    "retention_cohorts"  -> (6, 2),
    "mixture_sample"     -> (1, 1),
    "stratified_sample"  -> (2, 0),
    "quality_gate"       -> (3, 1),
    "hybrid_rrf"         -> (6, 2),
    "lm_score2"          -> (7, 4),
    "layout_zorder"      -> (2, 1),
    // r21: the sketch is now built from the per-key exact counts (the
    // d×|table| md5s ran per ROW before — measured 3.9 s → 1.2 s warm
    // at sf0.1); +2 shuffles are the keyCnt aggregate feeding sketch
    // and total (reuse-off counts each consumer's copy)
    "sketch_cms"         -> (8, 3),
    "salted_wordcount"   -> (3, 0), // two-stage salted agg
    "join_skew_salted"   -> (6, 2),
    "seq_pack"           -> (3, 0), // ONE range exchange under the pack node
    // r13: histogram_equidepth moved to eagerQueries — its edges now
    // come from a driver-orchestrated distributed rank selection (two
    // bounded collects), so the builder runs jobs and the visible
    // final plan is just scan → bucket-count agg → sort
    "histogram_equidepth_approx" -> (4, 2),
    // r7 additions (contamination_bloom is excluded: eager Bloom build)
    "weighted_sample"    -> (0, 0), // TakeOrdered: zero exchanges
    "colloc_pmi"         -> (5, 3), // bigram+unigram aggs, vocab joins, 1-row total
    "heavy_hitters"      -> (4, 2), // MG candidate agg + exact re-count
    "mask_spans"         -> (2, 0), // doc_id window shuffle + reassembly agg
    "split_leak_free"    -> (2, 0), // md5(text) window + final sort
    "skew_profile"       -> (3, 0), // key counts + 64-bucket histogram + sort
    "merge_upsert"       -> (3, 0), // base/changes co-partition + final sort
    "ts_m4"              -> (2, 0), // one algebraic agg + final sort
    "graph_triangles"    -> (9, 7), // pair-gen + degree joins + wedge closure
    // r10 additions
    "train_shuffle"      -> (2, 0), // shard window shuffle + final sort
    "train_manifest"     -> (3, 0), // digest dedup agg + shard rollup + sort
    "corpus_diff"        -> (4, 0), // two co-partitioned sides + rollup + sort
    "source_datacard"    -> (5, 1), // digest-distinct expand + lang rollup; source-key join broadcast
    "batch_pack"         -> (3, 1), // quartile agg + (shard,bucket) window + rollup; 1-row quartile broadcast
    // r11 full-coverage extension: every remaining non-eager query,
    // measured with graft.tools.PlanCount (reuse-off, sf0.001) — the
    // whole registry is now exchange-budget-pinned, so ANY query
    // silently growing a shuffle fails CI
    "above_avg" -> (2, 1),
    "agg_stats" -> (2, 0),
    "array_stats" -> (1, 0),
    "bool_aggs" -> (2, 0),
    "bpe_pairs" -> (1, 0),
    "cube_orders" -> (2, 0),
    "date_arith" -> (1, 0),
    "dedup_minhash" -> (6, 3),
    "dedup_simhash" -> (6, 1),
    "distinct_agg" -> (2, 0),
    "doc_chunks" -> (1, 0),
    "emb_pq_recall" -> (15, 7),
    "emb_quantize" -> (1, 0),
    "filter_project" -> (1, 0),
    "fuzzy_name_match" -> (1, 1),
    "grouping_sets" -> (2, 0),
    "histogram_prices" -> (2, 0),
    "join_anti_noorders" -> (1, 1),
    "join_broadcast_dims" -> (2, 2),
    "join_inner_nation" -> (2, 2),
    "join_interval" -> (1, 1),
    "join_left_orders" -> (2, 1),
    "join_range_tiers" -> (2, 1),
    "join_semi_highval" -> (1, 1),
    "json_extract" -> (2, 0),
    "lm_score" -> (5, 2),
    "map_funcs" -> (3, 0),
    "mm_audio" -> (1, 0),
    "mm_features" -> (1, 0),
    "mm_frames" -> (2, 0),
    "mm_meta" -> (1, 0),
    "percentiles" -> (2, 0),
    "pii_scan" -> (1, 0),
    "pivot_orders" -> (3, 0),
    // r21: the fused expand-distinct aggregate (2,0) planned as a 4×
    // expanded Sort+SortAggregate over the whole table — now three
    // separate two-phase distinct counts (2 shuffles each) + the base
    // scalar agg + final sort, with the 1-row results broadcast
    // (measured 5× faster warm at sf0.1; bytes shuffled unchanged)
    "profile_stats" -> (7, 3),
    "quality_rules" -> (1, 0),
    "rollup_qty" -> (2, 0),
    "sample_split" -> (2, 0),
    "scalar_date" -> (1, 0),
    "scalar_math" -> (1, 0),
    "scalar_regex" -> (1, 0),
    "scalar_string" -> (1, 0),
    "set_except" -> (2, 1),
    "set_intersect" -> (2, 1),
    "set_union" -> (2, 0),
    "set_union_all" -> (2, 0),
    "sim_ann" -> (2, 3),
    "sim_ann_recall" -> (6, 4),
    "sim_ivf" -> (12, 4),
    "sim_ivf_recall" -> (16, 5),
    "sketch_approx" -> (3, 0),
    "sketch_hll_merge" -> (7, 1),
    "sketch_kll_merge" -> (9, 4),
    "stats_moments" -> (2, 0),
    "text_entropy" -> (3, 0),
    "text_fingerprint" -> (2, 0),
    "text_langid" -> (1, 0),
    "text_langstats" -> (2, 0),
    "text_quality" -> (1, 0),
    "text_rollhash" -> (1, 0),
    "text_tokens" -> (2, 0),
    "topk_orders" -> (0, 0),
    "ts_anomaly" -> (3, 0),
    "ts_asof_nearest" -> (2, 0),
    "ts_hourly" -> (2, 0),
    "ts_session_window" -> (2, 0),
    "typed_order_gaps" -> (2, 0),
    "udaf_geomean" -> (2, 0),
    "unpivot_part" -> (1, 0),
    "win_distribution" -> (2, 0),
    "win_lag" -> (2, 0),
    "win_range_frame" -> (2, 0),
    "win_rank" -> (2, 0),
    "win_running" -> (2, 0),
    "wordcount_filtered" -> (2, 0),
    "wordcount_flatmap" -> (3, 0),
    // late-r11 additions
    "dsir_sample" -> (4, 2),   // counts agg + 1-row totals + doc_id agg + rank/sort; bucket+totals broadcast; the (doc,bucket) histogram exchange lives behind the lazy checkpoint (r12: one corpus pass)
    "ppl_buckets" -> (6, 2),   // lm_score pipeline (5,2) + per-lang ntile window
    "emb_outliers" -> (2, 1),  // stats agg + final sort; Lloyd subplan materialized once behind the lazy checkpoint (k-row stats broadcast)
    "contamination_semantic" -> (2, 1), // map-side argmax collapse + sort; eval-set broadcast
    "dp_release" -> (2, 0))    // one map-side-combined (lang) agg + final sort; noise is pure column math

  test("golden shuffle budgets: no flagship query grows an extra exchange") {
    // Two sources make raw exchange counts history-dependent, so this
    // test neutralizes both to get numbers that are stable regardless
    // of which tests (or parallel suites) planned queries first:
    //  1. exchange/subquery REUSE: the printed count of the SAME query
    //     shifts with earlier canonicalizations — disabled here, so
    //     the full logical exchange set is counted.
    //  2. CacheManager splicing: operators that .cache() a subtree
    //     (e.g. dedup_ngram's shingle posting list) REGISTER it in the
    //     shared CacheManager at plan-construction time; any later
    //     plan containing a canonically-equal subtree gets the cached
    //     fragment spliced in, changing its exchange count. Cleared
    //     up front, and a mismatch re-measures once after a re-clear
    //     (a parallel suite can re-register a cache mid-iteration).
    // Pin source: graft.tools.PlanCount (same recipe, fresh session).
    val prevEx = spark.conf.get("spark.sql.exchangeReuseEnabled", "true")
    val prevSq = spark.conf.get("spark.sql.execution.reuseSubquery", "true")
    spark.conf.set("spark.sql.exchangeReuseEnabled", "false")
    spark.conf.set("spark.sql.execution.reuseSubquery", "false")
    spark.sharedState.cacheManager.clearCache()
    try {
      val shufRe = "(?<!Broadcast)Exchange (hash|range|SinglePartition)".r
      val bcastRe = "BroadcastExchange".r
      def measure(name: String): (Int, Int) = {
        val plan = SparkEntry.queries(name)(spark, sf)
          .queryExecution.executedPlan.toString
        (shufRe.findAllIn(plan).length, bcastRe.findAllIn(plan).length)
      }
      val diffs = shuffleBudgets.toSeq.sortBy(_._1).flatMap { case (name, want) =>
        var got = measure(name)
        if (got != want) {
          spark.sharedState.cacheManager.clearCache()
          got = measure(name)
        }
        if (got != want)
          Some(s"$name: want shuffle=${want._1} broadcast=${want._2}, " +
            s"got shuffle=${got._1} broadcast=${got._2}")
        else None
      }
      assert(diffs.isEmpty, "shuffle budget violations:\n" + diffs.mkString("\n"))
    } finally {
      spark.conf.set("spark.sql.exchangeReuseEnabled", prevEx)
      spark.conf.set("spark.sql.execution.reuseSubquery", prevSq)
    }
  }
}
