package graft

import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._

class DedupSimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup: cluster sizes sum to document count") {
    val docs = Tables.documents(spark, sf).count()
    val summed = Dedup.exact(spark, sf).agg(sum("n_copies")).as[Long].collect().head
    assert(summed == docs)
  }

  test("minhash LSH pairs are a subset of exact n-gram Jaccard pairs") {
    // the verify step recomputes exact Jaccard on candidates, so every
    // emitted pair must appear in the exhaustive inverted-index result
    // with the identical score. minhashLsh scores over the UNCAPPED
    // shingle universe, so the reference must too (maxDf off)
    val exact = Dedup.ngramJaccard(spark, sf, maxDf = Int.MaxValue)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val lsh = Dedup.minhashLsh(spark, sf, minJ = 0.2)
      .as[(Long, Long, Double)].collect()
    assert(lsh.nonEmpty)
    lsh.foreach { case (a, b, j) =>
      assert(exact.contains((a, b)), s"LSH pair ($a,$b) not in exact set")
      assert(math.abs(exact((a, b)) - j) < 1e-9)
    }
  }

  test("minhash LSH recall >= 0.9 on pairs with J >= 0.3") {
    val exact = Dedup.ngramJaccard(spark, sf, maxDf = Int.MaxValue)
      .filter(col("jaccard") >= 0.3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val lsh = Dedup.minhashLsh(spark, sf, minJ = 0.3)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    if (exact.nonEmpty) {
      val recall = exact.intersect(lsh).size.toDouble / exact.size
      assert(recall >= 0.9, s"recall=$recall over ${exact.size} true pairs")
    }
  }

  test("winnow fingerprint recall >= 0.8 on pairs with J >= 0.8") {
    // fixture near-dups are edit-variants (long shared word runs), so
    // block-winnow candidates must recover most high-Jaccard pairs;
    // measured 0.89 at sf0.001 — 0.8 is the regression floor
    val exact = Dedup.ngramJaccard(spark, sf, maxDf = Int.MaxValue)
      .filter(col("jaccard") >= 0.8)
      .as[(Long, Long, Double)].collect().map(t => (t._1, t._2)).toSet
    val winnow = Dedup.winnowPairs(spark, sf)
      .as[(Long, Long, Long)].collect().map(t => (t._1, t._2)).toSet
    assert(exact.nonEmpty && winnow.nonEmpty)
    val recall = exact.intersect(winnow).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall=$recall over ${exact.size} true pairs")
  }

  test("boilerplate prune: reconstruction exact for untouched docs, bounded for pruned") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), md5(col("text")).as("full_md5"),
        length(col("text")).cast("long").as("len"))
    val pruned = Dedup.boilerplatePrune(spark, sf).join(docs, "doc_id")
      .as[(Long, Long, Long, Long, String, String, Long)].collect()
    assert(pruned.nonEmpty)
    var touched = 0
    pruned.foreach { case (id, nBlocks, nKept, keptChars, keptMd5, fullMd5, len) =>
      assert(nKept <= nBlocks && keptChars <= len, s"doc $id bounds")
      if (nKept == nBlocks) // nothing pruned → reconstruction must be byte-identical
        assert(keptMd5 == fullMd5, s"doc $id reconstruction drifted")
      else touched += 1
    }
    assert(touched > 0, "fixture should contain boilerplate blocks (df > 2)")
  }

  test("dedup clusters: consistent with the pair graph") {
    val clusters = Dedup.dedupClusters(spark, sf, minJ = 0.5)
      .as[(Long, Long, String)].collect()
    val memberOf = clusters.flatMap { case (keep, _, ms) =>
      ms.split(",").map(_.toLong -> keep)
    }.toMap
    // keep_id is the minimum member; sizes match the member lists
    clusters.foreach { case (keep, size, ms) =>
      val ids = ms.split(",").map(_.toLong)
      assert(ids.min == keep)
      assert(ids.length.toLong == size && size >= 2)
    }
    // no doc in two clusters
    assert(memberOf.size == clusters.map(_._3.split(",").length).sum)
    // every >=0.5 pair is within one cluster
    Dedup.ngramJaccard(spark, sf, minJ = 0.5)
      .as[(Long, Long, Double)].collect().foreach { case (a, b, _) =>
        assert(memberOf(a) == memberOf(b), s"pair ($a,$b) split across clusters")
      }
  }

  test("hot-bucket cap: hand-built hot bucket drops index-side candidates, keeps delta-delta pairs") {
    // three IDENTICAL indexed docs form one hot posting cluster:
    // every (band, bucket) they occupy holds 3 live postings, so at
    // capBucket = 1 NO index-side candidate may survive — while the
    // two identical delta docs' internal pair must (delta-delta is
    // uncapped by contract)
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val idx = java.nio.file.Files
      .createTempDirectory("graft-hotbucket").toString + "/idx"
    Dedup.neardupWriteIndex(spark,
      Seq((2L, base), (4L, base), (6L, base)).toDF("doc_id", "text"), idx)
    val delta = Seq((1L, base), (3L, base)).toDF("doc_id", "text")
    val uncapped = Dedup.neardupLookup(spark, idx, delta)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped == Set((1L, 2L), (1L, 3L), (1L, 4L), (1L, 6L),
      (2L, 3L), (3L, 4L), (3L, 6L)), s"uncapped=$uncapped")
    val capped = Dedup.neardupLookup(spark, idx, delta, capBucket = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((1L, 3L)), s"capped=$capped")
  }

  test("simhash: near-identical docs collide, signatures deterministic") {
    val s1 = Dedup.simhashSigs(spark, sf).orderBy("doc_id")
      .as[(Long, Long)].collect()
    val s2 = Dedup.simhashSigs(spark, sf).orderBy("doc_id")
      .as[(Long, Long)].collect()
    assert(s1.sameElements(s2))
    assert(s1.length == Tables.documents(spark, sf).count())
  }

  test("simhash pairs have hamming <= 3 and are symmetric-free (a<b)") {
    val pairs = Dedup.simhashPairs(spark, sf)
      .as[(Long, Long, Int)].collect()
    pairs.foreach { case (a, b, h) =>
      assert(a < b); assert(h <= 3)
    }
  }

  test("hybrid RRF: fusion arithmetic exact, members come from a source list") {
    val rows = Similarity.hybridRrf(spark, sf)
      .as[(Long, Long, Long, Double, Long, Long)].collect()
    assert(rows.nonEmpty)
    val qids = rows.map(_._1).distinct
    assert(qids.forall(q => q % 10 == 0 && q < 50))
    rows.foreach { case (_, rnk, _, rrf, rd, rl) =>
      assert(rnk >= 1 && rnk <= 10)
      assert(rd > 0 || rl > 0, "fused item must appear in at least one list")
      val expect = (if (rd > 0) 1.0 / (60 + rd) else 0.0) +
        (if (rl > 0) 1.0 / (60 + rl) else 0.0)
      assert(math.abs(rrf - expect) < 1e-6, s"rrf drifted: $rrf vs $expect")
    }
    // an item ranked #1 in BOTH lists must fuse to the top slot
    rows.groupBy(_._1).foreach { case (_, rs) =>
      rs.find(r => r._5 == 1 && r._6 == 1)
        .foreach(r => assert(r._2 == 1, "double-#1 item must rank first"))
    }
  }

  test("cosine of a vector with itself is 1") {
    val one = Seq((Seq(0.6, 0.8), Seq(0.6, 0.8))).toDF("a", "b")
      .select(Similarity.cosine(col("a"), col("b")).as("c"))
      .as[Double].collect().head
    assert(math.abs(one - 1.0) < 1e-12)
  }

  test("ANN recall: mean >= 0.9, every query >= 0.8, vs brute force top-5") {
    val bf = Similarity.bruteForceTopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val ann = Similarity.annTopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = bf.map { case (q, trueSet) =>
      ann.getOrElse(q, Set.empty).intersect(trueSet).size.toDouble / trueSet.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean ANN recall $mean")
    // per-query bar — the same contract sim_ann_recall oracle-checks
    assert(recalls.forall(_ >= 0.8), s"per-query ANN recalls $recalls")
  }

  test("IVF over negative vec_ids serves like the same vectors under shifted ids") {
    // the build seeds its cells from the vec_ids < k (8): relabel so
    // the same 8 vectors seed both builds (seeds -8..-1 vs 0..7, the
    // rest 8.. vs 16..), then every ordering the serve breaks ties on
    // is preserved by the +8 shift
    val emb = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    val neg = emb.select(
      when(col("vec_id") < 8, col("vec_id") - 8).otherwise(col("vec_id"))
        .as("vec_id"), col("embedding"))
    val shifted = neg.select((col("vec_id") + 8).as("vec_id"), col("embedding"))
    val queries = emb.filter(pmod(col("vec_id"), lit(50)) === 1)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val root = java.nio.file.Files.createTempDirectory("graft-ivf-neg").toString
    def serve(vecs: org.apache.spark.sql.DataFrame, idx: String) = {
      Similarity.ivfWriteIndexVecs(spark, vecs, idx)
      Similarity.ivfQueryIndexVecs(spark, idx, queries)
        .as[(Long, Long, Long, Double)].collect().toSeq
    }
    val fromNeg = serve(neg, s"$root/neg")
    val fromShifted = serve(shifted, s"$root/shifted")
    assert(fromShifted.nonEmpty)
    assert(fromNeg.map { case (q, r, c, s) => (q, r, c + 8, s) } == fromShifted)
  }

  test("IVF serve over an appended index returns unique (qid, cid) rows") {
    // ivf_append_recall joins each serve onto the exact rows: a
    // repeated (qid, cid) would count twice in both recalls
    val idx = java.nio.file.Files.createTempDirectory("graft-ivf-uniq").toString + "/idx"
    val all = Tables.embeddings(spark, sf).select(col("vec_id"), col("embedding"))
    Similarity.ivfWriteIndexVecs(spark, all.filter(pmod(col("vec_id"), lit(10)) =!= 3), idx)
    Similarity.ivfAppendVectors(spark, idx, all.filter(pmod(col("vec_id"), lit(10)) === 3))
    val qpred = pmod(col("vec_id"), lit(10)) === 3 && col("vec_id") < 80L
    val hits = Similarity.ivfQueryIndexWhere(spark, sf, idx, qpred, kNN = 5, nProbe = 4)
      .select("qid", "cid").as[(Long, Long)].collect().toSeq
    assert(hits.nonEmpty)
    assert(hits.distinct.size == hits.size, hits.diff(hits.distinct))
  }

  test("IVF recall: mean >= 0.9, every query >= 0.8; deterministic") {
    val bf = Similarity.bruteForceTopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val ivf1 = Similarity.ivfTopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    val ivf2 = Similarity.ivfTopK(spark, sf)
      .as[(Long, Long, Long, Double)].collect()
    assert(ivf1.sameElements(ivf2)) // no RNG anywhere
    val byQ = ivf1.groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = bf.map { case (q, t) =>
      byQ.getOrElse(q, Set.empty).intersect(t).size.toDouble / t.size
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.9, s"mean IVF recall $mean")
    assert(recalls.forall(_ >= 0.8), s"per-query IVF recalls $recalls")
  }

  test("md5-family ANN: deterministic, k rows per query, exact re-rank sims") {
    // the full pipeline is oracle-hash-checked (sim_ann_md5); here we
    // pin determinism and that every emitted sim matches the exact
    // cosine from the brute-force result for the same (qid, cid)
    val bf = Similarity.bruteForceTopK(spark, sf, k = 500)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._3) -> r._4).toMap
    val a1 = Similarity.annTopKMd5(spark, sf).as[(Long, Long, Long, Double)].collect()
    val a2 = Similarity.annTopKMd5(spark, sf).as[(Long, Long, Long, Double)].collect()
    assert(a1.sameElements(a2))
    assert(a1.nonEmpty && a1.groupBy(_._1).forall(_._2.length <= 5))
    a1.foreach { case (q, _, c, s) =>
      bf.get((q, c)).foreach(exact => assert(math.abs(exact - s) < 1e-9,
        s"re-rank sim for ($q,$c): $s vs exact $exact"))
    }
  }

  test("star-contraction CC produces the identical clustering to label propagation") {
    val lp = Dedup.dedupClusters(spark, sf).as[(Long, Long, String)].collect().toSeq
    val star = Dedup.dedupClustersStar(spark, sf).as[(Long, Long, String)].collect().toSeq
    assert(lp.nonEmpty)
    assert(star == lp)
  }

  test("quantized k-means: total membership, improvement over seed pass, deterministic") {
    val n = Tables.embeddings(spark, sf).count()
    val k1 = Similarity.embKmeans(spark, sf).as[(Long, Long, Double)].collect()
    val k2 = Similarity.embKmeans(spark, sf).as[(Long, Long, Double)].collect()
    assert(k1.sameElements(k2)) // exact integer math — no float drift
    assert(k1.map(_._2).sum == n, "every vector assigned exactly once")
    // one Lloyd iteration should not make the fit worse: weighted
    // mean similarity after refinement >= after the seed-only pass
    val seedPass = Similarity.embKmeans(spark, sf, iters = 1)
      .as[(Long, Long, Double)].collect()
    def fit(rows: Array[(Long, Long, Double)]) =
      rows.map(r => r._2 * r._3).sum / rows.map(_._2).sum
    assert(fit(k1) >= fit(seedPass) - 1e-9,
      s"refined=${fit(k1)} seed=${fit(seedPass)}")
  }

  test("embedding outliers: full coverage, flag consistent with z, bounded share") {
    val n = Tables.embeddings(spark, sf).count()
    val rows = Similarity.embOutliers(spark, sf)
      .as[(Long, Long, Double, Double, Boolean)].collect()
    assert(rows.length == n, "every vector scored exactly once")
    assert(rows.map(_._1).distinct.length == rows.length, "one row per vec_id")
    rows.foreach { case (vid, _, sim, z, flag) =>
      assert(sim >= -1.0 - 1e-9 && sim <= 1.0 + 1e-9, s"vec $vid cosine range")
      assert(flag == (z < -2.0), s"vec $vid flag/z mismatch")
    }
    // a z<-2 cut on any distribution flags a minority; catches a
    // degenerate stats join (all-flagged / none-scored) without
    // pinning fixture-specific counts
    val share = rows.count(_._5).toDouble / rows.length
    assert(share < 0.15, s"outlier share $share")
    // determinism: integer-exact assignment + rounded moments
    val again = Similarity.embOutliers(spark, sf)
      .as[(Long, Long, Double, Double, Boolean)].collect()
    assert(rows.sameElements(again))
  }

  test("semantic decontamination: coverage, argmax valid, flag consistent") {
    val evalMax = 20L
    val n = Tables.embeddings(spark, sf).count()
    val rows = Similarity.contaminationSemantic(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect()
    assert(rows.length == n - evalMax, "one verdict per corpus vector")
    rows.foreach { case (vid, eid, maxSim, flag) =>
      assert(vid >= evalMax && eid < evalMax, s"$vid/$eid side mix-up")
      assert(maxSim >= -1.0 - 1e-9 && maxSim <= 1.0 + 1e-9)
      // flag decided on the raw exact sim; rounded report must agree
      // up to the rounding step
      if (flag) assert(maxSim >= 0.8 - 5e-7, s"$vid flagged below tau")
      else assert(maxSim < 0.8 + 5e-7, s"$vid unflagged above tau")
    }
    // brute-force cross-check on a few vectors: reported max_sim is
    // the true max cosine over the eval set
    val emb = Tables.embeddings(spark, sf)
      .as[(Long, Array[Float], Int)].collect()
      .map(r => r._1 -> r._2.map(x => math.round(x.toDouble * 1024)))
      .toMap
    def cos(a: Array[Long], b: Array[Long]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum.toDouble
      dot / (math.sqrt(a.map(x => x * x).sum.toDouble) *
        math.sqrt(b.map(x => x * x).sum.toDouble))
    }
    rows.take(5).foreach { case (vid, _, maxSim, _) =>
      val want = (0L until evalMax).map(e => cos(emb(vid), emb(e))).max
      assert(math.abs(maxSim - want) < 1e-6, s"$vid argmax drift")
    }
  }

  test("near-dup forest: exact edges, drop-set recall >= 0.9 vs all-pairs, deterministic") {
    // ground truth: exhaustive all-pairs cosine on the driver (fine at
    // spec scale; the operator itself never goes all-pairs)
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    def cos(x: Array[Float], y: Array[Float]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      while (i < x.length) {
        d += x(i).toDouble * y(i).toDouble
        nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i); i += 1
      }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val truth = (for {
      (a, va) <- vecs; (b, vb) <- vecs if a < b
      s = cos(va, vb) if s >= 0.3
    } yield (a, b) -> s).toMap
    val got1 = Similarity.embeddingNearDup(spark, sf)
      .as[(Long, Long, Double)].collect()
    val got2 = Similarity.embeddingNearDup(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(got1.sameElements(got2)) // no RNG anywhere in the blocking
    // forest shape: at most one edge per b, always pointing down-id
    assert(got1.map(_._2).distinct.length == got1.length)
    // precision 1.0: every emitted edge is a true pair with the exact score
    got1.foreach { case (a, b, s) =>
      assert(a < b)
      assert(truth.contains((a, b)), s"emitted edge ($a,$b) not a true near-dup")
      assert(math.abs(truth((a, b)) - s) < 1e-6)
    }
    // drop-set recall vs exact all-pairs: a vector is truly droppable
    // iff SOME smaller-id vector is within minSim; the forest must
    // cover >= 0.9 of those. minSim=0.3 sits ON the blocking decision
    // boundary (production near-dup bars are ~0.85+); vectors with a
    // STRONG smaller neighbor — the ones a real dedup must never
    // lose — must ALL be identified.
    val truthDrops = truth.keySet.map(_._2)
    val gotDrops = got1.map(_._2).toSet
    assert(gotDrops.subsetOf(truthDrops))
    val recall = truthDrops.count(gotDrops.contains).toDouble / truthDrops.size
    assert(truthDrops.nonEmpty && recall >= 0.9,
      s"drop recall=$recall of ${truthDrops.size}")
    val strongDrops = truth.filter(_._2 >= 0.45).keySet.map(_._2)
    val strongRecall = strongDrops.count(gotDrops.contains).toDouble / strongDrops.size
    assert(strongDrops.nonEmpty && strongRecall == 1.0,
      s"strong drop recall=$strongRecall of ${strongDrops.size}")
  }

  test("product quantization: valid codes, deterministic, shortlist recall holds") {
    val codes = Similarity.productQuantize(spark, sf)
      .as[(Long, Long, Long)].collect()
    val nVecs = Tables.embeddings(spark, sf).count()
    assert(codes.length == nVecs * 8, "8 codes per vector")
    assert(codes.forall { case (_, m, c) => m >= 0 && m < 8 && c >= 0 && c < 32 })
    // deterministic end-to-end (no RNG in seeding or Lloyd)
    val again = Similarity.productQuantize(spark, sf)
      .as[(Long, Long, Long)].collect()
    assert(codes.sameElements(again))
    // shortlist-then-rerank recall floors (measured 0.85 mean /
    // 0.6 min at sf0.001; floors leave regression margin)
    val rec = Similarity.pqRecall(spark, sf)
      .as[(Long, Double)].collect().map(_._2)
    assert(rec.length == 8)
    assert(rec.sum / rec.length >= 0.7, s"mean recall ${rec.sum / rec.length}")
    assert(rec.min >= 0.4, s"min recall ${rec.min}")
  }

  test("random projection preserves cosine structure (JL property)") {
    // compare exact 64-dim cosines with 32-dim projected cosines over
    // ALL pairs of the sf0.001 corpus (500 vecs → 125k pairs). Floors
    // are measured-on-fixture minus margin: corr 0.577 → 0.45; mean
    // |err| 0.136 → 0.2; true-pair (≥0.45) projected mean 0.452 → 0.3
    // with every such pair staying positive (min 0.105 → 0.0) — the
    // separation property a blocking key actually needs.
    val proj = Similarity.randomProjection(spark, sf)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1)
      .map { case (id, rs) => id -> rs.sortBy(_._2).map(_._3.toDouble).toArray }
    val orig = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
      .sortBy(_._1)
      .map { case (id, v) => id -> v.map(_.toDouble) }
    def cos(x: Array[Double], y: Array[Double]): Double = {
      var d = 0.0; var nx = 0.0; var ny = 0.0
      for (i <- x.indices) { d += x(i) * y(i); nx += x(i) * x(i); ny += y(i) * y(i) }
      d / (math.sqrt(nx) * math.sqrt(ny))
    }
    val pairs = for { (a, va) <- orig; (b, vb) <- orig if a < b }
      yield (cos(va, vb), cos(proj(a), proj(b)))
    val errs = pairs.map { case (t, p) => math.abs(t - p) }
    assert(errs.sum / errs.length <= 0.2,
      s"mean |cos64 - cos32| = ${errs.sum / errs.length}")
    val (ts, ps) = pairs.unzip
    def corr(x: Seq[Double], y: Seq[Double]): Double = {
      val n = x.length; val mx = x.sum / n; val my = y.sum / n
      val cov = x.zip(y).map { case (a, b) => (a - mx) * (b - my) }.sum
      val sx = math.sqrt(x.map(a => (a - mx) * (a - mx)).sum)
      val sy = math.sqrt(y.map(a => (a - my) * (a - my)).sum)
      cov / (sx * sy)
    }
    val r = corr(ts, ps)
    assert(r >= 0.45, s"similarity correlation after projection = $r")
    val truePairs = pairs.filter(_._1 >= 0.45).map(_._2)
    assert(truePairs.nonEmpty)
    assert(truePairs.min > 0.0,
      s"a true near-dup pair projected to ${truePairs.min}")
    assert(truePairs.sum / truePairs.length >= 0.3,
      s"true-pair projected mean = ${truePairs.sum / truePairs.length}")
  }
}
