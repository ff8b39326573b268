package graft

import graft.functions.TextFns
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the combiner-correctness and tokenizer laws the
  * reference's hw02 variants exercise by construction. Uses plain
  * ScalaCheck generators with fixed seeds (no scalatestplus bridge —
  * offline dependency set).
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private val wordGen = Gen.listOfN(40,
    Gen.oneOf("map", "reduce", "Spark", "shuffle", "key", "q", "M1x", "a.b", "", "7"))

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("tokenize-then-count equals brute-force count (random inputs)") {
    samples(wordGen, 10).foreach { words =>
      val text = words.mkString(" ")
      val got = Seq(text).toDF("text")
        .select(explode(TextFns.alphaTokens(col("text"))).as("w"))
        .groupBy("w").count().as[(String, Long)].collect().toMap
      val want = "[a-zA-Z]+".r.findAllIn(text).toSeq
        .groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"for input: $text")
    }
  }

  // ASCII letters, digits, punctuation, Java's \s whitespace,
  // non-ASCII BMP (NEL, NBSP, U+2028 included: not \s) and
  // supplementary characters
  private val tokChar: Gen[String] = Gen.frequency(
    6 -> Gen.alphaChar.map(_.toString),
    2 -> Gen.numChar.map(_.toString),
    2 -> Gen.oneOf("!\"#$%&'()*+,-./:;<=>?@[\\]^_`{|}~".map(_.toString)),
    3 -> Gen.oneOf(" ", "\t", "\n", "\u000B", "\f", "\r"),
    1 -> Gen.oneOf("\u0085", "\u00A0", "\u2028", "\u3000"),
    2 -> Gen.oneOf(Gen.choose(0x80, 0xD7FF), Gen.choose(0xE000, 0xFFFD))
      .map(c => c.toChar.toString),
    1 -> Gen.choose(0x10000, 0x10FFFF).map(cp => new String(Character.toChars(cp))))
  private val textGen: Gen[Option[String]] = Gen.frequency(
    1 -> Gen.const(None), 1 -> Gen.const(Some("")),
    12 -> Gen.choose(0, 40).flatMap(Gen.listOfN(_, tokChar)).map(cs => Some(cs.mkString)))

  test("byte-scan tokenizers == the regex split they replace, codegen and interpreted") {
    // every byte of a multi-byte UTF-8 sequence is >= 0x80, never a
    // letter or whitespace byte, so on valid UTF-8 a byte run and a
    // char run cut the string at the same places
    val texts = samples(Gen.listOfN(400, textGen), 3).flatten
    val df = spark.sparkContext.parallelize(texts.zipWithIndex.map(_.swap), 3).toDF("id", "s")
    val oracles = Seq(
      "alpha" -> ((c: org.apache.spark.sql.Column) =>
        (TextFns.alphaTokens(c), filter(split(c, "[^a-zA-Z]+"), t => length(t) > 0))),
      "ws" -> ((c: org.apache.spark.sql.Column) =>
        (TextFns.wsTokens(c), filter(split(c, "\\s+"), t => length(t) > 0))))
    def run(tok: org.apache.spark.sql.Column) = {
      val q = df.select(col("id"), tok.as("t"))
      (q.queryExecution.executedPlan.toString,
        q.as[(Int, Option[Seq[String]])].collect().sortBy(_._1).toSeq)
    }
    def mode(wholeStage: Boolean): Unit =
      oracles.foreach { case (name, both) =>
        val (tok, oracle) = both(col("s"))
        val (plan, got) = run(tok)
        if (wholeStage)
          assert(("""\*\(\d+\) Project .*graft_""" + name).r.findFirstIn(plan).isDefined, plan)
        val want = run(oracle)._2
        assert(got.map(_._2.isEmpty) == texts.map(_.isEmpty), name)
        got.zip(want).foreach { case (g, w) =>
          assert(g == w, s"$name tokens of ${texts(g._1).map(_.map(_.toInt.toHexString))}")
        }
      }
    mode(wholeStage = true)
    val keys = Seq("spark.sql.codegen.wholeStage", "spark.sql.codegen.factoryMode")
    val prev = keys.map(k => spark.conf.getOption(k))
    try {
      spark.conf.set(keys(0), "false")
      spark.conf.set(keys(1), "NO_CODEGEN")
      mode(wholeStage = false)
    } finally keys.zip(prev).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    assert(!org.apache.spark.sql.GraftSqlShims.expression(TextFns.wsTokens(col("s")))
      .isInstanceOf[org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback])
  }

  test("partial+final sum invariant under any repartitioning") {
    val base = Tables.lineitem(spark, sf).select("l_returnflag", "l_quantity")
    val direct = base.groupBy("l_returnflag").agg(sum("l_quantity"))
      .as[(String, Double)].collect().toMap
    Seq(1, 3, 17).foreach { n =>
      val re = base.repartition(n).groupBy("l_returnflag").agg(sum("l_quantity"))
        .as[(String, Double)].collect().toMap
      direct.foreach { case (k, v) =>
        assert(math.abs(re(k) - v) < 1e-6 * math.abs(v).max(1.0))
      }
    }
  }

  // an INDEPENDENT implementation of the md5 Kirsch–Mitzenmacher
  // family (MessageDigest + plain collections — no Spark, no shared
  // helpers), so a bug in the column-expression pipeline cannot
  // cancel itself out of the comparison
  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def refFamily(text: String): Option[(Set[Long], Seq[(Int, String)])] = {
    val mask = (1L << 48) - 1
    val toks = text.split("\\s+").filter(_.nonEmpty).toSeq
    val shingles = toks.sliding(3).filter(_.size == 3)
      .map(_.mkString(" ")).toSeq.distinct
    if (shingles.isEmpty) return None
    val hs = shingles.map { s =>
      val h = md5Hex(s)
      (java.lang.Long.parseLong(h.substring(0, 12), 16),
        java.lang.Long.parseLong(h.substring(12, 24), 16))
    }
    val sig = (0 until 16).map(i =>
      hs.map { case (h1, h2) => (h1 + i * h2) & mask }.min)
    val buckets = (0 until 4).map(bd =>
      bd -> md5Hex((0 until 4).map(r => sig(bd * 4 + r)).mkString("|")))
    Some((hs.map(_._1).toSet, buckets))
  }

  private def referencePairs(docs: Seq[(Long, String)],
                             deltaIds: Set[Long]): Set[(Long, Long, Double)] = {
    val fam = docs.flatMap { case (id, t) => refFamily(t).map(id -> _) }.toMap
    val pairs = for {
      (a, (setA, bkA)) <- fam.toSeq
      (b, (setB, bkB)) <- fam.toSeq
      if a < b && (deltaIds(a) || deltaIds(b))
      if bkA.exists(bkB.contains)
    } yield {
      val inter = setA.intersect(setB).size
      val j = inter.toDouble / (setA.size + setB.size - inter)
      (a, b, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    pairs.filter(_._3 >= 0.2).toSet
  }

  // originals + exact/near copies of random originals, so every
  // corpus contains genuine duplicate structure to find
  private val neardupCorpusGen = {
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps",
      "zeta", "eta", "theta")
    val docGen = Gen.chooseNum(0, 10)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    for {
      n <- Gen.chooseNum(6, 10)
      originals <- Gen.listOfN(n, docGen)
      dupOf <- Gen.listOfN(4, Gen.chooseNum(0, n - 1))
      sfx <- Gen.listOfN(4, Gen.oneOf("", "", " omega"))
    } yield originals ++ dupOf.zip(sfx).map { case (i, s) => originals(i) + s }
  }

  test("near-dup check-in == independent plain-Scala reference on random corpora") {
    import graft.operators.Dedup
    var totalPairs = 0
    samples(neardupCorpusGen, 6).zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val (delta, base) = docs.partition(_._1 % 3 == 0)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-prop-ndx").toString + "/idx"
      Dedup.neardupWriteIndex(spark, base.toDF("doc_id", "text"), idx)
      val got = Dedup.neardupCheckIn(spark, idx, delta.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want = referencePairs(docs, delta.map(_._1).toSet)
      assert(got == want, s"corpus $ci: got=$got want=$want texts=$texts")
      totalPairs += want.size
    }
    // the comparison must have exercised real pairs, not empty==empty
    assert(totalPairs > 0, "generator produced no near-dup pairs at all")
  }

  test("near-dup removal: tombstoned docs vanish from lookups, == reference on corpus-minus-removed") {
    import graft.operators.Dedup
    var totalPairs = 0
    var totalSuppressed = 0
    samples(neardupCorpusGen, 4).zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val idx = java.nio.file.Files
        .createTempDirectory("graft-prop-ndrm").toString + "/idx"
      Dedup.neardupWriteIndex(spark, docs.toDF("doc_id", "text"), idx)
      // remove the even ids, then probe with near-copies of EVERY
      // original (ids +1000): removed docs must not be flagged
      // against, surviving docs must still be
      val removed = docs.map(_._1).filter(_ % 2 == 0)
      Dedup.neardupRemove(spark, idx, removed.toDF("doc_id"))
      val probes = docs.map { case (id, t) => (id + 1000L, t) }
      val got = Dedup.neardupLookup(spark, idx, probes.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val surviving = docs.filterNot { case (id, _) => id % 2 == 0 }
      val want = referencePairs(surviving ++ probes, probes.map(_._1).toSet)
      assert(got == want, s"corpus $ci: got=$got want=$want texts=$texts")
      // the same lookup WITHOUT removal must flag more: the removed
      // docs' suppressed pairs are the delta between the references
      val wantAll = referencePairs(docs ++ probes, probes.map(_._1).toSet)
      totalSuppressed += wantAll.size - want.size
      totalPairs += want.size
      // compaction is a pure layout change for lookups
      Dedup.neardupCompact(spark, idx)
      val got2 = Dedup.neardupLookup(spark, idx, probes.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(got2 == want, s"corpus $ci post-compact: got=$got2 want=$want")
    }
    assert(totalPairs > 0, "no pairs survived removal anywhere — vacuous")
    assert(totalSuppressed > 0, "removal never suppressed a pair — vacuous")
  }

  test("near-dup as-of: every generation == reference over that generation's corpus, on random corpora") {
    import graft.operators.Dedup
    var moved = 0
    samples(neardupCorpusGen, 4).zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val (delta, base) = docs.partition(_._1 % 3 == 0)
      val idx = java.nio.file.Files
        .createTempDirectory("graft-prop-ndasof").toString + "/idx"
      Dedup.neardupWriteIndex(spark, base.toDF("doc_id", "text"), idx)  // gen 0
      Dedup.neardupCheckIn(spark, idx,
        delta.toDF("doc_id", "text")).count()                           // gen 1
      val removed = base.map(_._1).filter(_ % 2 == 0)
      Dedup.neardupRemove(spark, idx, removed.toDF("doc_id"))           // gen 2
      // probe with near-copies of every original: each pinned
      // generation must flag exactly what the reference computes over
      // THAT generation's corpus
      val probes = docs.map { case (id, t) => (id + 1000L, t) }
      val pids = probes.map(_._1).toSet
      def asOf(g: Long) = Dedup
        .neardupLookup(spark, idx, probes.toDF("doc_id", "text"), at = graft.operators.IndexPolicy.At.Gen(g))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      val want0 = referencePairs(base ++ probes, pids)
      val want1 = referencePairs(base ++ delta ++ probes, pids)
      val want2 = referencePairs(
        base.filterNot(d => removed.contains(d._1)) ++ delta ++ probes, pids)
      assert(asOf(0) == want0, s"corpus $ci gen 0: texts=$texts")
      assert(asOf(1) == want1, s"corpus $ci gen 1: texts=$texts")
      assert(asOf(2) == want2, s"corpus $ci gen 2: texts=$texts")
      val live = Dedup.neardupLookup(spark, idx, probes.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      assert(asOf(2) == live, s"corpus $ci: newest as-of != live lookup")
      if (want0 != want1 || want1 != want2) moved += 1
    }
    assert(moved > 0,
      "no corpus's pairs changed across generations — vacuous property")
  }

  test("pointer commit: plans resolved at every generation keep serving that generation after the timeline moves on (random corpora)") {
    import graft.operators.TextAnalysis
    var moved = 0
    samples(neardupCorpusGen, 3).zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val idx = java.nio.file.Files
        .createTempDirectory(s"graft-prop-ptr$ci").toString + "/idx"
      val terms = Seq("alpha", "beta", "omega")
      // timeline: build on wave 1, append wave 2, fold, append wave 3
      val (w1, rest) = docs.partition(_._1 % 3 == 0)
      val (w2, w3) = rest.partition(_._1 % 3 == 1)
      val none = docs.toDF("doc_id", "text").limit(0)
      TextAnalysis.bm25WriteIndexDocs(spark, w1.toDF("doc_id", "text"), idx)
      // hot-reader deployment shape: the grace window keeps every
      // resolved generation's epochs alive across later sweeps
      spark.conf.set("spark.graft.index.sweep.grace.ms", "3600000")
      try {
        val plans = scala.collection.mutable.ArrayBuffer(
          TextAnalysis.bm25QueryIndex(spark, idx, terms, 10))
        val want = scala.collection.mutable.ArrayBuffer(
          plans.last.collect().toSeq)
        // capture each plan's resolved INPUT FILES at resolution time:
        // re-collecting an already-executed DataFrame can reuse its
        // materialized shuffle outputs and return the old result even
        // when the files are gone (r17 ADVICE — the property passed
        // through the seg-name-collision deletion), so the stability
        // claim must also prove the files themselves survived
        val files = scala.collection.mutable.ArrayBuffer(
          plans.last.inputFiles.toSeq)
        def step(body: => Unit): Unit = {
          body
          plans += TextAnalysis.bm25QueryIndex(spark, idx, terms, 10)
          want += plans.last.collect().toSeq
          files += plans.last.inputFiles.toSeq
        }
        step(TextAnalysis.bm25AppendSegment(spark, idx,
          w2.toDF("doc_id", "text"), none))
        step(TextAnalysis.bm25Compact(spark, idx))
        step(TextAnalysis.bm25AppendSegment(spark, idx,
          w3.toDF("doc_id", "text"), none))
        // THE pointer property: every plan, resolved at its own
        // generation, still evaluates to that generation bit-for-bit
        // after all later mutations (rewrites included) have landed —
        // immutable epochs + grace make historical resolutions stable
        plans.zip(want).zipWithIndex.foreach { case ((p, w), gi) =>
          val gone = files(gi).filterNot(f => new java.io.File(
            java.net.URI.create(f).getPath).exists)
          assert(gone.isEmpty,
            s"corpus $ci: generation $gi's resolved plan lost " +
              s"${gone.size}/${files(gi).size} input files: " +
              gone.take(3).mkString(", "))
          assert(p.collect().toSeq == w,
            s"corpus $ci: generation $gi's resolved plan drifted")
        }
        if (want.distinct.size > 1) moved += 1
      } finally spark.conf.set("spark.graft.index.sweep.grace.ms", "0")
    }
    assert(moved > 0,
      "no corpus's serve changed across the timeline — vacuous property")
  }

  test("near-dup torn commit: lookups == reference over the committed prefix, compact repairs, on random corpora") {
    import graft.operators.Dedup
    import java.nio.file.{Files, Paths}
    var suppressed = 0
    samples(neardupCorpusGen, 4).zipWithIndex.foreach { case (texts, ci) =>
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val (delta, base) = docs.partition(_._1 % 3 == 0)
      val idx = Files.createTempDirectory("graft-prop-ndtorn").toString + "/idx"
      Dedup.neardupWriteIndex(spark, base.toDF("doc_id", "text"), idx) // gen 0
      Dedup.neardupCheckIn(spark, idx,
        delta.toDF("doc_id", "text")).count()                          // gen 1
      val removed = base.map(_._1).filter(_ % 2 == 0)
      Dedup.neardupRemove(spark, idx, removed.toDF("doc_id"))          // gen 2
      val probes = docs.map { case (id, t) => (id + 1000L, t) }
      val pids = probes.map(_._1).toSet
      def live() = Dedup
        .neardupLookup(spark, idx, probes.toDF("doc_id", "text"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      // roll the committed counter back to a corpus-dependent interior
      // generation — as if the NEXT mutation's rows half-landed and its
      // commit never happened: readers must see exactly the committed
      // prefix, with the later generations' on-disk rows invisible
      val g = ci % 2 // 0 or 1, both interior
      // tamper through the manifest the way a crashed mutation's
      // stale pointer would read: committed watermark behind allocated
      graft.operators.IndexPolicy.publish(spark, idx,
        graft.operators.IndexPolicy.manifestOf(spark, idx) +
          ("gen_committed" -> g.toString))
      val want = Seq(
        referencePairs(base ++ probes, pids),
        referencePairs(base ++ delta ++ probes, pids))(g)
      val wantLive = referencePairs(
        base.filterNot(d => removed.contains(d._1)) ++ delta ++ probes, pids)
      assert(live() == want,
        s"corpus $ci torn@$g: got=${live()} want=$want texts=$texts")
      if (want != wantLive) suppressed += 1
      // mutating a torn index would let a later commit resurrect the
      // orphan rows — it must refuse
      intercept[IllegalStateException](
        Dedup.neardupRemove(spark, idx, Seq(1L).toDF("doc_id")))
      // compact is the repair: rewrites ONLY the committed prefix
      // (minus its live tombstones), resets the timeline, and the
      // index is mutable again
      Dedup.neardupCompact(spark, idx)
      assert(live() == want, s"corpus $ci post-repair: got=${live()} want=$want")
      Dedup.neardupRemove(spark, idx,
        base.map(_._1).filter(_ % 2 == 1).toDF("doc_id"))
      val wantAfter = Seq(
        referencePairs(base.filterNot(_._1 % 2 == 1) ++ probes, pids),
        referencePairs(base.filterNot(_._1 % 2 == 1) ++ delta ++ probes,
          pids))(g)
      assert(live() == wantAfter,
        s"corpus $ci post-repair mutation: got=${live()} want=$wantAfter")
    }
    assert(suppressed > 0,
      "rollback never hid a later generation's pairs — vacuous property")
  }

  // capped twin of [[referencePairs]]: index-side candidates only
  // from buckets whose INDEX posting count is <= cap (the
  // neardupCheckIn capBucket contract); delta-delta pairs uncapped
  private def referencePairsCapped(base: Seq[(Long, String)],
                                   delta: Seq[(Long, String)],
                                   cap: Int): Set[(Long, Long, Double)] = {
    val famB = base.flatMap { case (id, t) => refFamily(t).map(id -> _) }.toMap
    val famD = delta.flatMap { case (id, t) => refFamily(t).map(id -> _) }.toMap
    val nPost = famB.toSeq.flatMap(_._2._2).groupBy(identity)
      .view.mapValues(_.size).toMap
    val candI = for {
      (d, (_, bkD)) <- famD.toSeq
      (i, (_, bkI)) <- famB.toSeq
      if bkD.exists(bk => bkI.contains(bk) && nPost(bk) <= cap)
    } yield (math.min(d, i), math.max(d, i))
    val candD = for {
      (a, (_, bkA)) <- famD.toSeq
      (b, (_, bkB)) <- famD.toSeq
      if a < b && bkA.exists(bkB.contains)
    } yield (a, b)
    val fam = famB ++ famD
    (candI ++ candD).distinct.map { case (a, b) =>
      val sa = fam(a)._1; val sb = fam(b)._1
      val inter = sa.intersect(sb).size
      val j = inter.toDouble / (sa.size + sb.size - inter)
      (a, b, BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.filter(_._3 >= 0.2).toSet
  }

  // pathologically duplicated corpus: a hot cluster of identical
  // index docs (every bucket they share exceeds cap=1), a few
  // single-word mutants, and a delta identical to the cluster —
  // every doc is a near-dup of every other, the degenerate load the
  // hot-bucket cap exists for
  private val hotCorpusGen = {
    val vocab = Vector("ion", "flux", "core", "node", "grid", "mesh",
      "atom", "bond")
    for {
      baseWords <- Gen.listOfN(12, Gen.oneOf(vocab))
      nIdxDup <- Gen.chooseNum(3, 6)
      nIdxMut <- Gen.chooseNum(0, 3)
      mutPos <- Gen.listOfN(nIdxMut, Gen.chooseNum(0, 11))
      mutW <- Gen.listOfN(nIdxMut, Gen.oneOf(vocab))
      nDelta <- Gen.chooseNum(2, 4)
    } yield {
      val base = baseWords.mkString(" ")
      val idxTexts = Seq.fill(nIdxDup)(base) ++
        mutPos.zip(mutW).map { case (p, w) =>
          baseWords.updated(p, w).mkString(" ") }
      (idxTexts, Seq.fill(nDelta)(base))
    }
  }

  test("hot-bucket cap on pathological corpora: candidates stay O(delta*cap), exclusions real, == capped reference") {
    import graft.operators.Dedup
    val bands = 4
    var totalExcluded = 0
    samples(hotCorpusGen, 6).zipWithIndex.foreach {
      case ((idxTexts, deltaTexts), ci) =>
        val base = idxTexts.zipWithIndex.map { case (t, i) => (100L + i, t) }
        val delta = deltaTexts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        val idx = java.nio.file.Files
          .createTempDirectory("graft-prop-hot").toString + "/idx"
        Dedup.neardupWriteIndex(spark, base.toDF("doc_id", "text"), idx)
        val capped = Dedup.neardupLookup(spark, idx,
            delta.toDF("doc_id", "text"), capBucket = 1)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        // 1) exact agreement with the independent capped reference
        val want = referencePairsCapped(base, delta, cap = 1)
        assert(capped == want, s"corpus $ci: got=$capped want=$want")
        // 2) cap only removes: capped subset of uncapped, and the
        // excluded set is NON-EMPTY on every pathological corpus
        // (the hot cluster's delta-vs-index pairs share only hot
        // buckets, so cap=1 must drop all of them)
        val uncapped = Dedup.neardupLookup(spark, idx,
            delta.toDF("doc_id", "text"))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
        assert(capped.subsetOf(uncapped))
        val excluded = uncapped -- capped
        assert(excluded.nonEmpty, s"corpus $ci: cap=1 excluded nothing")
        totalExcluded += excluded.size
        // 3) delta-internal pairs are never capped: every delta-delta
        // pair present uncapped survives the cap
        val dIds = delta.map(_._1).toSet
        val dd = uncapped.filter(p => dIds(p._1) && dIds(p._2))
        assert(dd.nonEmpty && dd.subsetOf(capped),
          s"corpus $ci: delta-delta pairs lost under cap")
        // 4) the candidate set stays O(delta*cap): <= delta*bands*cap
        // index-side + C(delta,2) internal — while the UNCAPPED
        // candidate count degenerates toward delta*cluster
        val (_, _, candCap) = Dedup.lookupPlan(spark, idx,
          delta.toDF("doc_id", "text"), 0.2, 3, 16, bands, 1)
        val nCap = candCap.count()
        val bound = delta.size * bands * 1 + delta.size * (delta.size - 1) / 2
        assert(nCap <= bound, s"corpus $ci: $nCap candidates > bound $bound")
        val (_, _, candAll) = Dedup.lookupPlan(spark, idx,
          delta.toDF("doc_id", "text"), 0.2, 3, 16, bands, Int.MaxValue)
        assert(candAll.count() >= delta.size.toLong * idxTexts.count(_ == deltaTexts.head),
          s"corpus $ci: uncapped candidates did not degenerate")
    }
    assert(totalExcluded >= 6, s"only $totalExcluded exclusions across corpora")
  }

  test("bm25 lifecycle == from-scratch rebuild on random corpora and deltas") {
    // randomized generalization of LayoutSpec's hand-built cases:
    // every lifecycle path (in-place merge-refresh; segment append;
    // append + compact) must serve bit-identically to a from-scratch
    // build over the post-delta corpus — including deltas that empty
    // documents, touch no letters, or remove a letter's only holder
    import graft.operators.TextAnalysis
    val vocab = Vector("apple", "banana", "cherry", "dog", "emu",
      "fig", "grape", "quince", "zebra", "")
    val docGen = Gen.chooseNum(0, 6)
      .flatMap(n => Gen.listOfN(n, Gen.oneOf(vocab))).map(_.mkString(" "))
    val corpusGen = Gen.chooseNum(4, 8).flatMap(n => Gen.listOfN(n, docGen))
    val terms = Seq("apple", "banana", "quince", "zebra", "dog")
    def served(p: String) =
      TextAnalysis.bm25QueryIndex(spark, p, terms, 20).collect().toSeq
    samples(corpusGen, 4).zipWithIndex.foreach { case (texts, ci) =>
      val v1docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      // deterministic delta from ids: remove ≡1 (mod 3), change ≡2
      // (append " zebra zulu"), add two fresh docs
      val removed = v1docs.filter(_._1 % 3 == 1)
      val changed = v1docs.filter(_._1 % 3 == 2)
      val added = Seq((100L, "quince dog apple"), (101L, ""))
      val newD = changed.map { case (id, t) => (id, s"$t zebra zulu") } ++ added
      val oldD = removed ++ changed
      val v2docs = v1docs.filter(_._1 % 3 == 0) ++ newD
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-prop-bm25-$ci").toString
      TextAnalysis.bm25WriteIndexDocs(spark, v2docs.toDF("doc_id", "text"),
        s"$root/rebuilt")
      val want = served(s"$root/rebuilt")
      // path 1: in-place merge-refresh
      TextAnalysis.bm25WriteIndexDocs(spark, v1docs.toDF("doc_id", "text"),
        s"$root/refresh")
      TextAnalysis.bm25RefreshIndex(spark, s"$root/refresh",
        newD.toDF("doc_id", "text"), oldD.toDF("doc_id", "text"))
      assert(served(s"$root/refresh") == want, s"refresh != rebuild, corpus $ci: $texts")
      // path 2: segment append, then path 3: compact
      TextAnalysis.bm25WriteIndexDocs(spark, v1docs.toDF("doc_id", "text"),
        s"$root/seg")
      TextAnalysis.bm25AppendSegment(spark, s"$root/seg",
        newD.toDF("doc_id", "text"), oldD.toDF("doc_id", "text"))
      assert(served(s"$root/seg") == want, s"append != rebuild, corpus $ci: $texts")
      TextAnalysis.bm25Compact(spark, s"$root/seg")
      assert(served(s"$root/seg") == want, s"compact != rebuild, corpus $ci: $texts")
    }
  }

  test("ivf build+append routing == plain-Scala Lloyd reference on random vectors") {
    // the full at-rest routing pipeline — integer quantization, seed
    // cells, one exact-integer-sum Lloyd update, argmax assignment,
    // FAISS-style fixed-centroid append — replayed in plain Scala.
    // All arithmetic is exact-long dots + IEEE double division in the
    // same order, so the reference is bit-identical, not approximate.
    import graft.operators.Similarity
    val k = 3
    def quant(v: Seq[Float]): Seq[Long] =
      v.map(x => math.round(x.toDouble * 1024))
    def cos(a: Seq[Long], b: Seq[Long]): Double = {
      def dot(x: Seq[Long], y: Seq[Long]): Long =
        x.zip(y).map { case (p, q) => p * q }.sum
      dot(a, b).toDouble /
        (math.sqrt(dot(a, a).toDouble) * math.sqrt(dot(b, b).toDouble))
    }
    def assign(vq: Seq[Long], cents: Seq[(Long, Seq[Long])]): Long =
      cents.map { case (c, cv) => (cos(vq, cv), c) }
        .minBy { case (s, c) => (-s, c) }._2
    val vecGen = Gen.listOfN(3,
      Gen.chooseNum(-1000, 1000).map(_ / 1024.0f))
      .map(v => 0.5f +: v) // fixed nonzero head: no zero-norm vectors
    val corpusGen = Gen.chooseNum(8, 16).flatMap(n => Gen.listOfN(n, vecGen))
    samples(corpusGen, 4).zipWithIndex.foreach { case (vecs, ci) =>
      val rows = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v.toArray) }
      val (delta, base) = rows.partition(_._1 % 3 == 0)
      val root = java.nio.file.Files
        .createTempDirectory(s"graft-prop-ivf-$ci").toString
      val idx = s"$root/idx"
      Similarity.ivfWriteIndexVecs(spark,
        base.toDF("vec_id", "embedding"), idx, k = k)
      Similarity.ivfAppendVectors(spark, idx,
        delta.toDF("vec_id", "embedding"))
      // schema-inferred partition column comes back as int — cast
      val got = spark.read.parquet(
          graft.operators.IndexPolicy.resolvedTable(spark, idx, "lists").get)
        .select(col("vec_id"), col("cell").cast("long"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // reference: seeds = base ids < k; one update over base; final
      // assignment of base by lloydOn's a2, delta by the append rule
      // (identical argmax vs the stored centroids)
      val q = rows.map { case (id, v) => id -> quant(v.toSeq) }.toMap
      val seeds = base.map(_._1).filter(_ < k).sorted
        .map(id => id -> q(id))
      val a1 = base.map { case (id, _) => id -> assign(q(id), seeds) }
      val cents = seeds.collect { case (c, _)
          if a1.exists(_._2 == c) =>
        c -> a1.filter(_._2 == c).map { case (id, _) => q(id) }
          .transpose.map(_.sum)
      }
      val want = rows.map { case (id, _) => id -> assign(q(id), cents) }.toMap
      assert(got == want, s"corpus $ci: got=$got want=$want")
    }
  }

  test("dedup idempotence: dropDuplicates twice == once") {
    val docs = Tables.documents(spark, sf)
    val once = docs.dropDuplicates("text")
    assert(once.count() == once.dropDuplicates("text").count())
  }

  test("rolling hash matches a plain-Scala reference fold") {
    def ref(s: String): Long =
      s.foldLeft(0L)((h, c) => (h * 31 + c.toInt) % 1000000007L)
    val texts = Tables.documents(spark, sf).select("doc_id", "text")
      .as[(Long, String)].collect().take(20)
    val got = graft.operators.TextAnalysis.rollingHash(spark, sf)
      .as[(Long, Long)].collect().toMap
    texts.foreach { case (id, t) => assert(got(id) == ref(t), s"doc $id") }
  }

  test("fingerprint is whitespace/case-normalization invariant") {
    val df = Seq("Hello  World", "hello world", " HELLO WORLD ").toDF("text")
      .select(TextFns.fingerprint(col("text")).as("fp"))
      .as[String].collect()
    assert(df.distinct.length == 1)
  }

  test("gopher rules: keep is exactly the conjunction; signals in range") {
    val rows = graft.operators.TextAnalysis.gopherRules(spark, sf).collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.foreach { r =>
      val flags = Seq("ok_words", "ok_mwl", "ok_alpha", "ok_symbol", "ok_stop")
        .map(f => r.getAs[Boolean](f))
      assert(r.getAs[Boolean]("keep") == flags.forall(identity))
      assert(r.getAs[Long]("n_words") > 0)
      val af = r.getAs[Double]("alpha_frac")
      assert(af >= 0.0 && af <= 1.0)
      assert(r.getAs[Double]("mean_word_len") > 0.0)
      assert(r.getAs[Double]("symbol_ratio") >= 0.0)
    }
    // the fixture is clean prose: the content rules must pass broadly
    // (word-count band is the only rule expected to reject docs here)
    val nOkAlpha = rows.count(_.getAs[Boolean]("ok_alpha"))
    assert(nOkAlpha.toDouble / rows.length >= 0.95)
  }

  test("Misra-Gries: superset of true heavy hitters under skew, any split") {
    // adversarial zipf-ish stream: item i appears ~N/i times, well
    // beyond the sketch width, so eviction is genuinely exercised
    val k = 16
    val stream: Seq[String] =
      (1 to 200).flatMap(i => Seq.fill(2000 / i)(s"w$i"))
    val n = stream.length
    val truth = stream.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val mustKeep = truth.collect { case (w, c) if c > n.toLong / k => w }.toSet
    assert(mustKeep.nonEmpty && truth.size > k) // non-degenerate fixture
    val mg = new graft.functions.Aggregators.MisraGries(k)
    // arbitrary partition splits + both merge orders
    Seq(1, 3, 7, 32).foreach { parts =>
      val chunks = stream.grouped((n + parts - 1) / parts).toSeq
      val buffers = chunks.map(_.foldLeft(mg.zero)(mg.reduce))
      val fwd = buffers.reduce(mg.merge)
      val rev = buffers.reverse.reduce(mg.merge)
      Seq(fwd, rev).foreach { buf =>
        assert(buf.size <= k)
        val cands = mg.finish(buf).toSet
        assert(mustKeep.subsetOf(cands),
          s"parts=$parts missing=${mustKeep -- cands}")
        // counter underestimate bound: est <= true, true - est <= n/k
        buf.foreach { case (w, est) =>
          assert(est <= truth(w) && truth(w) - est <= n.toLong / k)
        }
      }
    }
    // distributed path: candidates cover every bigram above phi*N
    val hh = graft.operators.TextAnalysis.heavyHitters(spark, sf).collect()
    assert(hh.nonEmpty)
    assert(hh.map(_.getAs[Long]("cnt")).toSeq == // exact counts, sorted
      hh.map(_.getAs[Long]("cnt")).sortBy(-_).toSeq)
  }

  test("mask_spans: reconstruction, rate, and sentinel discipline") {
    val rows = graft.operators.TextAnalysis.maskSpans(spark, sf).collect()
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(rows.length == docs.size)
    val sentinel = "<extra_id_(\\d+)>".r
    var masked = 0L; var total = 0L
    rows.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val input = r.getAs[String]("input_text")
      val target = r.getAs[String]("target_text")
      val orig = docs(id).split("\\s+").filter(_.nonEmpty).toSeq
      masked += r.getAs[Long]("n_masked"); total += orig.length
      // sentinels appear in order 0,1,2,... and match between sides
      val inIds = sentinel.findAllMatchIn(input).map(_.group(1).toInt).toSeq
      val tgIds = sentinel.findAllMatchIn(target).map(_.group(1).toInt).toSeq
      assert(inIds == inIds.indices.toSeq)
      assert(tgIds == inIds)
      // splicing each target span back over its sentinel restores the doc
      val spans = target.split("<extra_id_\\d+> ").filter(_.nonEmpty)
        .map(_.trim.split(" ").toSeq)
      val rebuilt = input.split(" ").filter(_.nonEmpty).toSeq.flatMap { t =>
        sentinel.findFirstMatchIn(t) match {
          case Some(m) => spans(m.group(1).toInt)
          case None    => Seq(t)
        }
      }
      assert(rebuilt == orig, s"doc $id reconstruction failed")
    }
    // deterministic 12.5% expected mask rate, generous band
    val rate = masked.toDouble / total
    assert(rate > 0.08 && rate < 0.17, s"rate=$rate")
  }

  test("weighted sample: deterministic, ranked, weight-monotone inclusion") {
    val a = graft.operators.Curation.weightedSample(spark, sf).collect()
    val b = graft.operators.Curation.weightedSample(spark, sf).collect()
    assert(a.map(_.toString).toSeq == b.map(_.toString).toSeq)
    assert(a.map(_.getAs[Long]("rnk")).toSeq == (1L to a.length).toSeq)
    val keys = a.map(_.getAs[Double]("skey")).toSeq
    assert(keys == keys.sortBy(-_)) // descending A-ES keys
    // longer docs must be over-represented: mean n_chars of the sample
    // exceeds the corpus mean (w = n_chars drives inclusion)
    val sampled = a.map(_.getAs[Long]("doc_id")).toSet
    val chars = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").as[(Long, Long)].collect()
    val corpusMean = chars.map(_._2).sum.toDouble / chars.length
    val sampleMean = chars.filter(c => sampled(c._1)).map(_._2).sum.toDouble /
      sampled.size
    assert(sampleMean > corpusMean, s"sample=$sampleMean corpus=$corpusMean")
  }
}
