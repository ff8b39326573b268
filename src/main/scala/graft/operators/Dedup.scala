package graft.operators

import graft.{Fixtures, Par, Tables}
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Deduplication family for training-data pipelines, over the
  * documents table: exact, n-gram Jaccard (inverted index), MinHash
  * + LSH banding, and SimHash. 100 TB posture for each:
  *
  *  - exact: one hash-groupBy shuffle on a 128-bit digest — never on
  *    raw text, so shuffle rows are ~50 bytes regardless of doc size.
  *  - ngramJaccard: inverted-index join on shingle ids. Candidate
  *    pairs are only those sharing ≥1 shingle (pairs sharing none
  *    have J=0, so this is EXACT, not approximate). Hot shingles are
  *    capped by document frequency to bound the per-key pair blowup —
  *    the standard scalable exact-Jaccard shape.
  *  - minhashLsh: per-doc signature (k hashes) → band buckets →
  *    bucket join on (band, bucket-hash) → verify candidates with
  *    exact Jaccard. Join keys are 64-bit ints; no all-pairs anywhere.
  *  - simhash: 64-bit signature by per-bit voting over token hashes;
  *    candidate pairs via Manku-style combinatorial block keys
  *    (6 blocks, every 3-block triple a band — Hamming ≤ 3 touches
  *    ≤ 3 blocks, so ≥1 triple matches exactly), then exact
  *    popcount filter.
  */
object Dedup {

  /** Exact dedup keyed on the md5 of the exact text bytes: per
    * duplicate-cluster keeper id + cluster size.
    */
  def exact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), md5(col("text")).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("keep_id")

  /** Distinct (doc, shingle) pairs — shared candidate-generation
    * input for the Jaccard variants (and corpus-curation ops like
    * [[Curation.benchmarkContamination]]).
    */
  private[operators] def docShingles(spark: SparkSession, dir: String,
                                     n: Int): DataFrame =
    // fanOutScan (r21 wave 2, guide §2.5): tokenize + shingle explode
    // + the distinct's partial agg otherwise run inside the
    // single-split fixture scan task; conditional no-op on a corpus
    // whose scan splits ≥ cores, and (doc, shingle) distinctness is
    // partitioning-independent.
    Tables.fanOutScan(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextFns.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFns.shinglesOf(col("toks"), n)).as("shingle"))
      .distinct()

  /** N-gram (word 3-gram) Jaccard similarity for every document pair
    * sharing at least one surviving shingle, J >= minJ. Inverted-index
    * self-join on the shingle — no all-pairs product.
    *
    * maxDf drops shingles present in more than maxDf documents
    * (boilerplate/stopword runs) BEFORE both the intersection and the
    * per-doc size, so the score is EXACT Jaccard over the df-capped
    * shingle universe — sizes and intersections always agree (a cap
    * applied to intersections only would silently underestimate J).
    * The DuckDB oracle applies the identical cap. The default (8) is
    * binding on the sf0.1 fixture — its 31-word-vocab word soup makes
    * shingles pathologically hot (median df 9), so the cap drops ~60%
    * of shingles and cuts candidate pairs ~6× (1.13M → 190k); a real
    * Zipfian corpus loses well under 1% of shingles to the same cap.
    * It is
    * non-binding at sf0.001/sf0.01 (max df there is 7), where the
    * result equals fully-exact Jaccard. This is the standard scalable
    * near-dup shape: at 100 TB the df cap is what bounds the
    * per-shingle pair blowup (a df-D shingle contributes D² candidate
    * rows).
    */
  def ngramJaccard(spark: SparkSession, dir: String, n: Int = 3,
                   minJ: Double = 0.0, maxDf: Int = 8): DataFrame = {
    val sh = docShingles(spark, dir, n).cache()
    // inverted-index self-join on the shingle. (A collect_list +
    // nested-transform pair expansion was measured ~2× slower cold —
    // lambda-heavy codegen and large intermediate pair arrays — so the
    // join form stays.)
    val capped = sh.join(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxDf)
        .select(col("shingle")),
      "shingle").cache()
    val sizes = capped.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("sz"))
    val a = capped.select(col("doc_id").as("a"), col("shingle"))
    val b = capped.select(col("doc_id").as("b"), col("shingle"))
    val inter = a.join(b, "shingle")
      .filter(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sz_a")), "a")
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("sz_b")), "b")
      .select(col("a"), col("b"),
        round(col("inter") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJ)
      .orderBy("a", "b")
  }

  /** MinHash + LSH near-dup: k=16 hashes, 8 bands × 2 rows. Bucket
    * key = xxhash64 of the band slice; candidates = pairs sharing a
    * bucket in any band; final answer verified with EXACT Jaccard on
    * the candidate set only (so false positives are filtered; LSH
    * controls recall/cost, correctness comes from the verify step).
    *
    * One aggregation computes signature + shingle set + size per doc;
    * the verify step then joins the (small, LSH-pruned) candidate
    * list back to the per-doc shingle arrays and intersects in-place —
    * no shuffle of the full shingle inverted index, which at 100 TB is
    * the difference between two corpus-wide exchanges and a broadcast
    * of the candidate ids.
    *
    * k=16 halves the O(|set|·k) signature cost vs k=32; with 2-row
    * bands the per-pair miss probability is (1-J²)^8 — ≤ 1.6e-3 at
    * J=0.8 (every true near-dup in the fixtures scores ≥ 0.8, and the
    * recall≥0.9 spec is the gate). Looser bands admit more low-J
    * candidates, but candidates are exact-verified, so that trades a
    * little verify work for half the signature work — the right side
    * of the trade when signatures touch every doc and verify touches
    * only collisions.
    */
  def minhashLsh(spark: SparkSession, dir: String, n: Int = 3,
                 k: Int = 16, bands: Int = 8,
                 minJ: Double = 0.2): DataFrame = {
    val rows = k / bands
    val sh = docShingles(spark, dir, n)
    // one collect_set aggregate, then the k minhashes as a single
    // higher-order-function projection (seq(0..k-1) × array_min over
    // hashed shingles) — far smaller generated code than k separate
    // min() aggregates, and the same O(|set|·k) work per doc
    val docs = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("shset"))
      .select(col("doc_id"), col("shset"), size(col("shset")).as("sz"),
        transform(sequence(lit(0), lit(k - 1)),
          i => array_min(transform(col("shset"), s => xxhash64(s, i))))
          .as("sig"))
      .cache()
    val banded = docs.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(bd =>
        xxhash64(lit(bd) +:
          (0 until rows).map(r => col("sig").getItem(bd * rows + r)): _*)
      ): _*)).as(Seq("band", "bucket")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    // exact-verify candidates against the per-doc shingle arrays
    verified(cand
      .join(docs.select(col("doc_id").as("a"), col("shset").as("set_a"),
        col("sz").as("sz_a")), "a")
      .join(docs.select(col("doc_id").as("b"), col("shset").as("set_b"),
        col("sz").as("sz_b")), "b"), minJ)
      .orderBy("a", "b")
  }

  /** MinHash + LSH near-dup with an md5 hash family — functionally
    * the same banded pipeline as [[minhashLsh]], but every hash is
    * `md5(seed ':' shingle)` (a lowercase hex STRING; the per-seed
    * minhash is the lexicographic min, identical in any engine) and
    * the band bucket is `md5(mh_0 '|' mh_1 ...)`. Since DuckDB has
    * md5, the ENTIRE pipeline — signatures, banding, candidate set,
    * exact-Jaccard verify — is end-to-end SQL-checkable: the oracle
    * recomputes the same candidates bit-for-bit, so this LSH variant
    * gets a full hash-compared CORRECTNESS row rather than a
    * unit-test bridge. xxhash64 ([[minhashLsh]]) stays the production
    * path (8-byte ints vs 32-char strings through the shuffle);
    * this variant proves the banding logic against an independent
    * engine.
    */
  /** Block-level (sub-document) dedup — boilerplate detection at the
    * granularity real pipelines strip it: fixed 64-char blocks per
    * doc, a block is "shared" when its md5 occurs in more than one
    * distinct document. Per-doc output is the shared-block ratio (a
    * doc that is mostly shared blocks is template/boilerplate). The
    * only corpus-wide state is the shared-hash set — 16-byte digests
    * with df>1, a tiny fraction of the corpus — joined back to block
    * positions; raw text never shuffles twice. The full-document
    * exact/near dedup family handles whole-doc copies; this catches
    * the headers/footers/navigation they miss.
    */
  def blockDedup(spark: SparkSession, dir: String,
                 blockLen: Int = 64): DataFrame = {
    val blocks = Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        explode(expr(
          s"""transform(
             |  sequence(0, cast(ceil(length(text) / $blockLen.0) as int) - 1),
             |  i -> substring(text, i * $blockLen + 1, $blockLen))
             |""".stripMargin)).as("block"))
      .select(col("doc_id"), md5(col("block")).as("h"))
    val shared = blocks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > 1)
      .select(col("h").as("sh"))
    blocks
      .join(broadcast(shared), col("h") === col("sh"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("sh").isNotNull, 1L).otherwise(0L)).as("n_shared"))
      .select(col("doc_id"), col("n_blocks"), col("n_shared"),
        round(col("n_shared") / col("n_blocks").cast("double"), 6)
          .as("shared_ratio"))
      .orderBy("doc_id")
  }

  /** Boilerplate REMOVAL with document reconstruction — the step
    * after [[blockDedup]]'s detection: drop every fixed-size block
    * whose digest occurs in more than maxDf distinct documents
    * (headers/footers/navigation shared corpus-wide), stitch the
    * surviving blocks back together in position order, and emit the
    * cleaned document's stats plus the md5 of the reconstructed text
    * (so the whole prune is hash-verifiable end-to-end — the oracle
    * re-derives the cleaned text independently).
    *
    * 100 TB shape: the boilerplate set is digests with df > maxDf — a
    * tiny fraction of the corpus — broadcast to the block stream. Raw
    * text shuffles exactly once (the per-doc reconstruction groupBy,
    * unavoidable for reassembly and bounded per key by the largest
    * single document). The df aggregation itself carries only 16-byte
    * digests with map-side partial aggregation.
    */
  def boilerplatePrune(spark: SparkSession, dir: String,
                       blockLen: Int = 64, maxDf: Int = 2): DataFrame = {
    val blocks = Tables.documents(spark, dir)
      .filter(length(col("text")) > 0)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(
             |  sequence(0, cast(ceil(length(text) / $blockLen.0) as int) - 1),
             |  i -> substring(text, i * $blockLen + 1, $blockLen))
             |""".stripMargin)).as(Seq("pos", "block")))
      .withColumn("h", md5(col("block")))
    val boiler = blocks.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
      .select(col("h").as("bh"))
    blocks
      .join(broadcast(boiler), col("h") === col("bh"), "left_outer")
      // kb: the block's contribution to the cleaned text ("" if pruned)
      .select(col("doc_id"), col("pos"),
        when(col("bh").isNull, col("block")).otherwise(lit("")).as("kb"),
        when(col("bh").isNull, 1L).otherwise(0L).as("keep"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(col("keep")).as("n_kept"),
        sum(length(col("kb")).cast("long")).as("kept_chars"),
        expr("md5(concat_ws('', transform(sort_array(collect_list(struct(pos, kb))), s -> s.kb)))")
          .as("kept_md5"))
      .orderBy("doc_id")
  }

  /** Fixed-block winnowing fingerprints over word k-gram shingles:
    * hash every shingle, keep only the MINIMUM hash of each
    * non-overlapping w-shingle block. Any shared run of ≥ 2w+k−2
    * words fully covers some block on both sides, so the two docs
    * share that block's minimum — the classic winnowing guarantee
    * with a 2× detection floor, selecting only ~1/w of the shingles
    * (so the inverted index is ~w× smaller than full shingling).
    * Pairs sharing ≥ minShared fingerprints are near-dup candidates;
    * same df cap as dedup_ngram so one boilerplate shingle can't
    * quadratically explode the pair join.
    *
    * Physical shape, chosen by measurement over two rejected forms:
    * block minima come from a hash AGGREGATE on (doc, pos/w) —
    * codegen'd, partial-agg map-side, no sort. A sliding-window
    * `min().over(rowsBetween(0, w−1))` form cost ~10× more (window
    * sort + non-codegen frame re-scan per row), and a nested array
    * lambda `transform(…, j -> array_min(slice(hs, …)))` form was
    * catastrophically worse: CollapseProject inlines the staged hash
    * array back into the per-window lambda and recomputes every
    * shingle's md5 per window (O(len·w) — minutes on a 500-doc
    * fixture). The shingle generator also explodes DIRECTLY in the
    * projection (docShingles-style); materializing the shingle array
    * first and exploding it in a later select measured 4–6× slower.
    */
  def winnowPairs(spark: SparkSession, dir: String, k: Int = 3,
                  w: Int = 8, minShared: Int = 3,
                  maxDf: Int = 30): DataFrame = {
    // cached: referenced three times (df agg + both pair-join sides)
    // fanOutScan (r21 wave 2, guide §2.5): shingle md5 + per-block
    // min partials dominated a ~1.9 s single-split scan task;
    // conditional no-op at scale, min/distinct are order-independent.
    val posts = Tables.fanOutScan(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), TextFns.wsTokens(lower(col("text"))).as("toks"))
      .select(col("doc_id"),
        posexplode(TextFns.shinglesOf(col("toks"), k)).as(Seq("pos", "shingle")))
      .select(col("doc_id"), (col("pos") / w).cast("int").as("blk"),
        md5(col("shingle")).as("h"))
      .groupBy(col("doc_id"), col("blk"))
      .agg(min(col("h")).as("fp"))
      .select(col("doc_id"), col("fp"))
      .distinct()
      .cache()
    val keep = posts.groupBy(col("fp")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select(col("fp"))
    val capped = posts.join(keep, "fp").cache()
    capped.as("x").join(capped.as("y"),
        col("x.fp") === col("y.fp") && col("x.doc_id") < col("y.doc_id"))
      .groupBy(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
      .orderBy("a", "b")
  }

  def minhashLshMd5(spark: SparkSession, dir: String, n: Int = 3,
                    k: Int = 16, bands: Int = 4,
                    minJ: Double = 0.2): DataFrame = {
    val mask = (1L << 48) - 1
    val sh = docShingles(spark, dir, n)
    // Kirsch-Mitzenmacher double hashing: ONE md5 per shingle, split
    // into two 48-bit halves (hex chars 1-12 / 13-24); permutation i
    // is (h1 + i·h2) & (2^48-1). Replaces k independent
    // md5(i ++ shingle) calls per shingle — 16× less hashing, which
    // at 100 TB is the dominant map-side cost of MinHash — while
    // staying closed-form enough for DuckDB to replay bit-for-bit.
    // i·h2 ≤ 15·2^48 + 2^48 < 2^63: no overflow in the long.
    // The digest is materialized BEFORE splitting: lambda bodies run
    // interpreted (no codegen subexpression elimination), so writing
    // md5(s) once per half would hash every shingle twice.
    val docs = sh.groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("shset"))
      .select(col("doc_id"), col("shset"), size(col("shset")).as("sz"),
        transform(col("shset"), s => md5(s)).as("hhex"))
      .select(col("doc_id"), col("shset"), col("sz"),
        transform(col("hhex"), h => struct(
          conv(substring(h, 1, 12), 16, 10).cast("long").as("h1"),
          conv(substring(h, 13, 12), 16, 10).cast("long").as("h2"))).as("hs"))
      .select(col("doc_id"), col("shset"), col("sz"),
        transform(sequence(lit(0), lit(k - 1)),
          i => array_min(transform(col("hs"), p =>
            (p.getField("h1") + i * p.getField("h2"))
              .bitwiseAND(lit(mask))))).as("sig"))
      .cache()
    val banded = bandedOf(docs, k, bands)
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    cand
      .join(docs.select(col("doc_id").as("a"), col("shset").as("set_a"),
        col("sz").as("sz_a")), "a")
      .join(docs.select(col("doc_id").as("b"), col("shset").as("set_b"),
        col("sz").as("sz_b")), "b")
      .select(col("a"), col("b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("inter"),
        col("sz_a"), col("sz_b"))
      .select(col("a"), col("b"),
        round(col("inter") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJ)
      .orderBy("a", "b")
  }

  // ---- At-rest near-dup index: the third index-lifecycle family ----
  // (bm25 = lexical, ivf = vector, this = near-duplicate identity.)
  // The operation a continuously-ingesting training pipeline runs:
  // check a delta of new documents against the ENTIRE indexed corpus
  // for near-duplicates, then admit the delta into the index — all in
  // O(delta + collisions) shuffle, never a corpus re-signature.

  /** (doc_id, dset, sz, sig) of a document set in the md5
    * Kirsch–Mitzenmacher family — the ONE hashing pass shared by the
    * index build and the delta check-in (identical math to
    * [[minhashLshMd5]], so index-derived pairs equal the batch
    * operator's). `dset` is the DISTINCT 48-bit shingle digests (h1):
    * the at-rest verify store keeps 8-byte longs instead of raw
    * shingle strings (~5× smaller, and the digests are exactly what
    * the signature already computed — zero extra hashing). Jaccard
    * over digest sets equals Jaccard over shingle sets absent a
    * 48-bit collision inside a compared pair (P ≈ m²·2⁻⁴⁹ per pair —
    * negligible, and deterministic: the DuckDB oracle replays the
    * digest form, so both engines always agree).
    */
  private[graft] def md5DocSig(docs: DataFrame, n: Int, k: Int): DataFrame =
    sigOfSets(docs
      .select(col("doc_id"), TextFns.wsTokens(col("text")).as("toks"))
      .select(col("doc_id"),
        explode(TextFns.shinglesOf(col("toks"), n)).as("shingle"))
      // no pre-distinct: collect_set dedupes (map-side partial agg
      // included) — a distinct() here is a second full shuffle
      .groupBy(col("doc_id"))
      .agg(collect_set(col("shingle")).as("shset")), k)

  /** [[md5DocSig]] for a frame whose doc_ids are UNIQUE: each row's
    * shingle set is taken in place (`array_distinct`), not by the
    * explode + `collect_set` shuffle, and feeds the same hashing
    * projection — so `sig` and `sz` are equal and `dset` holds the same
    * digests (in another order). A document with no shingle (fewer
    * than `n` tokens, empty or null text) keeps its row with `sz` 0 or
    * null here, where [[md5DocSig]] has no row. Adds the band keys
    * `bks` and their pb hash buckets `pbs`, in band order. It is
    * projections only, so over a LocalRelation it folds on the driver
    * and runs no Spark job.
    */
  private[graft] def rowDocSig(docs: DataFrame, n: Int, k: Int,
                                bands: Int): DataFrame =
    sigOfSets(docs.select(col("doc_id"), array_distinct(
        TextFns.shinglesOf(TextFns.wsTokens(col("text")), n)).as("shset")), k)
      .withColumn("bks", bandKeys(col("sig"), k, bands))
      .withColumn("pbs", transform(col("bks"), pbOf(_)))

  /** The hashing half of [[md5DocSig]]: (doc_id, shset) with shset a
    * shingle SET → (doc_id, dset, sz, sig).
    */
  private def sigOfSets(sets: DataFrame, k: Int): DataFrame = {
    val mask = (1L << 48) - 1
    sets
      .select(col("doc_id"), transform(col("shset"), s => md5(s)).as("hhex"))
      .select(col("doc_id"),
        transform(col("hhex"), h => struct(
          conv(substring(h, 1, 12), 16, 10).cast("long").as("h1"),
          conv(substring(h, 13, 12), 16, 10).cast("long").as("h2"))).as("hs"))
      .select(col("doc_id"),
        array_distinct(transform(col("hs"), p => p.getField("h1"))).as("dset"),
        transform(sequence(lit(0), lit(k - 1)),
          i => array_min(transform(col("hs"), p =>
            (p.getField("h1") + i * p.getField("h2"))
              .bitwiseAND(lit(mask))))).as("sig"))
      .select(col("doc_id"), col("dset"), size(col("dset")).as("sz"),
        col("sig"))
  }

  /** One (band, bucket) row per band per doc — [[minhashLshMd5]]'s
    * banding over a precomputed signature column.
    */
  private def bandedOf(sigs: DataFrame, k: Int, bands: Int): DataFrame =
    sigs.select(col("doc_id"),
      posexplode(bandKeys(col("sig"), k, bands)).as(Seq("band", "bucket")))

  /** The band keys of a signature, band order: md5 of each band's
    * `k / bands` signature values joined by "|".
    */
  private def bandKeys(sig: org.apache.spark.sql.Column, k: Int,
                       bands: Int): org.apache.spark.sql.Column = {
    val rows = k / bands
    array((0 until bands).map(bd =>
      md5(concat_ws("|",
        (0 until rows).map(r => sig.getItem(bd * rows + r)
          .cast("string")): _*))): _*)
  }

  /** The verify shared by every near-dup pair producer: exact Jaccard
    * of each candidate's two digest (or shingle) sets, rounded to 6
    * places, kept at `>= minJ`. Input columns: a, b, set_a, set_b,
    * sz_a, sz_b.
    */
  private def verified(cand: DataFrame, minJ: Double): DataFrame =
    cand
      .select(col("a"), col("b"),
        size(array_intersect(col("set_a"), col("set_b"))).as("inter"),
        col("sz_a"), col("sz_b"))
      .select(col("a"), col("b"),
        round(col("inter") /
          (col("sz_a") + col("sz_b") - col("inter")).cast("double"), 6)
          .as("jaccard"))
      .filter(col("jaccard") >= minJ)

  /** At-rest layouts, stated at every read (empty corpus → 0 rows).
    * `buckets` is hive-partitioned by (band, pb) and `docsets` by db,
    * where pb/db are hash buckets of the LSH bucket key / doc id
    * (r13 verdict gap #1: the KV-store shape of a dedicated LSH
    * service) — a check-in's two index lookups derive pb/db IN-sets
    * at runtime via dynamic partition pruning (r22), or, for a delta
    * in driver memory, as literals ([[lookupLocal]]), so they become
    * parquet PartitionFilters and read only the delta's hash buckets'
    * files instead of scanning the corpus.
    * nPb hash buckets per band (8 at fixture scale) keeps fixture
    * file counts sane; a 100 TB deployment raises nPb/nDb (they only
    * shape directories — results are layout-invariant, LayoutSpec
    * pins the pruning).
    */
  private val bucketsSchema =
    "doc_id bigint, bucket string, band int, pb int, gen bigint"
  private val docsetsSchema =
    "doc_id bigint, dset array<bigint>, sz int, db int, gen bigint"
  // 8 hash buckets each at fixture scale (r15: 16 → 8 halved the
  // per-check-in partitioned-write + fixture-copy file counts with
  // identical pruning semantics; a 100 TB deployment raises these —
  // they only shape directories, results are layout-invariant)
  private val nPb = 8
  private val nDb = 8
  /** The layout stamp written at build and validated by every reader
    * and mutation (r15 ADVICE, medium): an index written under
    * different hash constants would otherwise be silently misread —
    * a delta's pb computed mod 8 misses rows stored under pb 8..15,
    * partial results, no error. The query-family params (n/k/bands)
    * are stamped too: a lookup shingling differently than the build
    * compares incomparable signatures.
    */
  private def ndLayout(n: Int, k: Int, bands: Int): Seq[(String, Long)] =
    Seq("v" -> 1L, "nPb" -> nPb.toLong, "nDb" -> nDb.toLong,
      "n" -> n.toLong, "k" -> k.toLong, "bands" -> bands.toLong)
  private val ndLayoutBase: Seq[(String, Long)] =
    Seq("v" -> 1L, "nPb" -> nPb.toLong, "nDb" -> nDb.toLong)
  private val ndTombs = IndexPolicy.Tombstoned("doc_id", "docsets",
    docsetsSchema, ndLayoutBase, "nd")
  private def pbOf(bucket: org.apache.spark.sql.Column) =
    pmod(xxhash64(bucket), lit(nPb)).cast("int")
  private def dbOf(docId: org.apache.spark.sql.Column) =
    pmod(xxhash64(docId), lit(nDb)).cast("int")

  /** Write signatured docs into epoch dir `ed` as generation `g`: the
    * `buckets` postings and the `docsets` rows, as two concurrent jobs
    * (disjoint subdirs, both reading the checkpointed sigs — r21), so
    * the write pays the wider job's wall-clock, not the sum. Each side
    * repartitions on its partition columns first: a task then holds
    * whole partitions and a write emits one file per directory
    * instead of files×tasks. A build fills a fresh epoch (Overwrite),
    * a check-in appends.
    */
  private def writeSigs(sigs: DataFrame, k: Int, bands: Int, g: Long,
                        ed: String, mode: SaveMode): Unit =
    Par.all(Seq(
      () => bandedOf(sigs, k, bands)
        .select(col("band"), pbOf(col("bucket")).as("pb"),
          col("doc_id"), col("bucket"), lit(g).as("gen"))
        .repartition(col("band"), col("pb"))
        .write.mode(mode).partitionBy("band", "pb").parquet(s"$ed/buckets"),
      () => sigs.select(dbOf(col("doc_id")).as("db"),
          col("doc_id"), col("dset"), col("sz"), lit(g).as("gen"))
        .repartition(col("db"))
        .write.mode(mode).partitionBy("db").parquet(s"$ed/docsets")))

  /** Build the near-dup index at rest: `buckets` — one slim
    * (doc_id, bucket) posting per band, hive-partitioned by (band,
    * pb) — and `docsets` — the per-doc digest sets the exact verify
    * reads. One hashing pass feeds both tables.
    */
  def neardupWriteIndex(spark: SparkSession, docs: DataFrame, idx: String,
                        n: Int = 3, k: Int = 16, bands: Int = 4): Unit =
      IndexPolicy.rebuild(spark, idx, ndLayout(n, k, bands)) { tok =>
    val ed = IndexPolicy.epochDir(idx, tok)
    // fanOutScan (r21): the shingle+minhash signature pass is the
    // build's dominant per-row work and otherwise runs inside the
    // (single-row-group fixture) scan's one task; inert on a
    // multi-split corpus
    val sigs = md5DocSig(graft.Tables.fanOutScan(docs), n, k)
      .localCheckpoint()
    writeSigs(sigs, k, bands, 0L, ed, SaveMode.Overwrite)
    // generation 0 is the timeline origin of a generation-pinned
    // [[neardupLookup]]
    Map("gen" -> "0", "gen_committed" -> "0", "data" -> tok)
  }

  /** Check a document delta in against the at-rest index: emit every
    * near-dup pair (J ≥ minJ) with AT LEAST ONE delta member —
    * delta-vs-corpus and delta-vs-delta — then ADMIT the delta
    * (append-mode files only; existing index files are never opened,
    * LayoutSpec asserts byte-identity).
    *
    * 100 TB shape: the delta's banded rows BROADCAST into the buckets
    * scan (the corpus-sized index never shuffles and never rewrites);
    * candidate pairs die in-stage to collision size. The digest-set
    * verify runs as two broadcast-prefiltered `docsets` scans (the
    * candidate id set is tiny) plus one candidate-sized shuffle join —
    * no corpus-sized exchange anywhere. Both index lookups PRUNE at
    * the directory level (r13 verdict gap #1): the buckets scan is
    * dynamically pruned to the delta's pb hash buckets and the
    * docsets scan to the candidates' db buckets (runtime
    * PartitionFilters derived from the broadcast joins — r22), so a
    * check-in's I/O is bounded by the delta's hash buckets — the
    * KV-store lookup shape of a dedicated LSH service — instead of
    * two corpus-sized scans (LayoutSpec asserts both prunings). A
    * delta already in driver memory (a LocalRelation with unique ids —
    * the serving and small-ingest shape) skips the broadcasts and the
    * checkpoints: [[lookupLocal]] prunes the same scans with literal
    * partition filters in at most three Spark jobs. On a
    * pathologically duplicated corpus a single hot bucket can hold
    * O(corpus) postings and the candidate set degenerates toward
    * delta×bucket — `capBucket` is the guard (r13 verdict gap #2, the
    * maxDf discipline of [[ngramJaccard]] applied at lookup): a
    * (band, bucket) whose LIVE index posting count exceeds the cap
    * contributes no index-side candidates (delta-internal pairs are
    * uncapped — the delta is ingest-sized by definition). Capping is
    * standard LSH recall/cost trade: a pair usually shares several
    * band buckets, so only pairs matching EXCLUSIVELY in hot buckets
    * are lost. Default = uncapped.
    * Emitted pairs equal [[minhashLshMd5]] over (indexed ∪ delta)
    * restricted to pairs with a delta member — same family, same
    * banding; the verify runs over digest sets rather than raw
    * shingles (equal absent an in-pair 48-bit collision), and the
    * oracle replays the digest form exactly.
    *
    * Concurrent check-ins to one index serialize on its writer lease
    * ([[IndexPolicy.mutate]]). FRESH-ID precondition
    * (r13 ADVICE): delta doc_ids must not already be present in the
    * index — a re-checked-in id appends a second docsets row (the
    * verify guards itself by keeping only the newest row per id, so
    * pairs stay single, but the stale postings linger until
    * [[neardupCompact]]); an id REMOVED via [[neardupRemove]] stays
    * tombstoned even if re-admitted — compact first to re-admit.
    */
  def neardupCheckIn(spark: SparkSession, idx: String, newDocs: DataFrame,
                     minJ: Double = 0.2, n: Int = 3, k: Int = 16,
                     bands: Int = 4,
                     capBucket: Int = Int.MaxValue): DataFrame =
      IndexPolicy.mutate(spark, idx) {
    val (pairs, sigs) =
      lookupWithSigs(spark, idx, newDocs, minJ, n, k, bands, capBucket)
    admitSigs(spark, idx, sigs, k, bands)
    pairs
  }

  /** The ADMIT half of [[neardupCheckIn]] — append the (already
    * signatured) rows as one committed generation
    * ([[IndexPolicy.appendGen]]), with optional extra manifest entries
    * riding the commit swing. Caller holds the writer lease; `held` is
    * the manifest it already read under it, if any.
    */
  private def admitSigs(spark: SparkSession, idx: String, sigs: DataFrame,
                        k: Int, bands: Int,
                        held: Option[IndexPolicy.Manifest] = None,
                        extra: IndexPolicy.Manifest = Map.empty): Unit =
      IndexPolicy.appendGen(spark, idx, ndLayoutBase, held) { (g, m) =>
    writeSigs(sigs, k, bands, g, IndexPolicy.epochDir(idx, m("data")),
      SaveMode.Append)
    // both appends landed — the generation commits (r15 ADVICE): a
    // crash before the swing leaves committed at g-1, so readers
    // treat the partial generation as never having happened instead
    // of silently dropping pairs whose docsets rows are missing
    extra
  }

  /** One STREAMING micro-batch of the continuous-ingest funnel — the
    * foreachBatch body behind
    * [[graft.streaming.Streaming.indexIngestContract]]: gate the
    * arriving docs against the index (base ∪ earlier batches'
    * survivors ∪ this batch's smaller-id members — the
    * [[Curation.ingestPipeline]] first-wins rule), admit ONLY the
    * survivors, and commit the batch watermark in the SAME pointer
    * swing as the admit, through [[IndexPolicy.streamBatch]]: a
    * replayed batch returns (0, 0) without reading or writing
    * anything, and a torn index is first repaired by the family's
    * fold under the held lease.
    *
    * The rejected side of a flagged pair is the member of THIS batch
    * (pairs are (a < b); when both sides are in the batch the larger
    * id loses — first-wins by id). Membership is decided by joining
    * against the batch's own ids, never by an id-shape predicate: an
    * arriving doc's twin may be an EARLIER batch's survivor with a
    * larger id, and a shape test cannot tell those apart (r18 review
    * — the original `pmod`-based test rejected the already-indexed
    * survivor and silently admitted its incoming near-dup).
    *
    * 100 TB shape: per micro-batch exactly the [[neardupCheckIn]]
    * cost — the delta broadcasts into the band-partitioned postings
    * scan, O(delta) rows append, one swing commits. The gate's
    * signatures are computed ONCE and reused for the admit (the
    * survivors filter is an anti-join on the delta-sized rejected
    * set, not a re-signature).
    */
  def neardupStreamIngest(spark: SparkSession, idx: String,
                          arriving: DataFrame, batchId: Long,
                          minJ: Double = 0.2, n: Int = 3, k: Int = 16,
                          bands: Int = 4, app: String = ""): (Long, Long) =
    IndexPolicy.streamBatch(spark, idx, batchId, app, (0L, 0L),
        compactBody(spark, idx)) { (m, mark) =>
      val (pairs, sigs) =
        lookupWithSigs(spark, idx, arriving, minJ, n, k, bands,
          Int.MaxValue)
      val inBatch = arriving.select(col("doc_id").as("b"),
        lit(1).as("__inb"))
      val rejected = pairs
        .join(broadcast(inBatch), Seq("b"), "left")
        .select(when(col("__inb").isNotNull, col("b")).otherwise(col("a"))
          .as("doc_id")).distinct().localCheckpoint()
      val survivors = sigs.join(rejected, Seq("doc_id"), "left_anti")
      admitSigs(spark, idx, survivors, k, bands, Some(m), mark)
      // counts without recomputing the anti-join: arriving ids are
      // unique per batch and rejected ⊆ arriving, so admitted =
      // |arriving| − |rejected| (both cheap: a parquet-metadata count
      // and a checkpointed-RDD count)
      val nRej = rejected.count()
      (arriving.count() - nRej, nRej)
    }

  /** Distinct COMMITTED doc_ids stored in the index (docsets side,
    * live read point; no tombstone filtering — callers comparing
    * ingest end-states never remove). The contract-compare read
    * behind [[graft.streaming.Streaming.indexIngestContract]].
    */
  def neardupIndexedIds(spark: SparkSession, idx: String): DataFrame = {
    val rp = IndexPolicy.readPoint(spark, idx, ndLayoutBase,
      IndexPolicy.At.Live)
    rp.visible(spark.read.schema(docsetsSchema)
      .parquet(s"${IndexPolicy.epochDir(idx, rp.m("data"))}/docsets"))
      .select(col("doc_id")).distinct()
  }

  /** The lookup HALF of [[neardupCheckIn]] — flag the delta against
    * the index (and itself) WITHOUT admitting it: the dry-run a gate
    * runs when rejected documents must never enter the index at all
    * (the [[Curation.ingestPipeline]] shape). Same pairs, same cost,
    * no mutation. `at` pins the index state read
    * ([[IndexPolicy.At]]): a generation pin is the reproducibility pin
    * for a re-run ingest gate, which [[neardupCompact]] folds away; a
    * snapshot pin replays the flagged pairs across that fold.
    */
  def neardupLookup(spark: SparkSession, idx: String, newDocs: DataFrame,
                    minJ: Double = 0.2, n: Int = 3, k: Int = 16,
                    bands: Int = 4,
                    capBucket: Int = Int.MaxValue,
                    at: IndexPolicy.At = IndexPolicy.At.Live): DataFrame =
    lookupWithSigs(spark, idx, newDocs, minJ, n, k, bands, capBucket, at)._1

  /** A lookup's (pairs, sigs): pairs sorted by (a, b) and already
    * materialized, so a later admit into the index cannot change them;
    * sigs feeds that admit. A probe held in driver memory (a
    * LocalRelation with unique doc_ids) takes [[lookupLocal]]; any
    * other probe takes the distributed [[lookupPlan]] and an eager
    * checkpoint of its pairs.
    */
  private def lookupWithSigs(spark: SparkSession, idx: String,
                             newDocs: DataFrame, minJ: Double, n: Int,
                             k: Int, bands: Int, capBucket: Int,
                             at: IndexPolicy.At = IndexPolicy.At.Live)
      : (DataFrame, DataFrame) = {
    val probe = rowDocSig(newDocs, n, k, bands)
    IndexPolicy.localProbe(probe, "doc_id") match {
      case Some(rows) =>
        lookupLocal(spark, idx,
          IndexPolicy.readPoint(spark, idx, ndLayout(n, k, bands), at),
          probe.schema, rows, minJ, capBucket)
      case None =>
        val (pairs, sigs, _) =
          lookupPlan(spark, idx, newDocs, minJ, n, k, bands, capBucket, at)
        // eager snapshot BEFORE any admit mutates the index — a returned
        // plan must never see the delta's own appended postings
        (pairs.localCheckpoint().orderBy("a", "b"), sigs)
    }
  }

  /** The small-probe lookup: [[lookupPlan]]'s pairs for a probe whose
    * [[rowDocSig]] rows are already on the driver, in at most three
    * Spark jobs and with no checkpoint. Tombstones are collected when
    * the manifest names any. The `buckets` scan reads only the probe's
    * (band, pb) directories, through literal partition filters, and
    * only its band keys (`bucket IN`); with a finite `capBucket` a
    * window count drops hot keys before the collect. The `docsets` scan
    * reads only the index-side candidates' db directories and ids and
    * hashes each digest set there. Candidate generation, the cap, the
    * delta-vs-delta pairs and the `best` rule run on the driver over
    * candidate-sized sets (the ones [[lookupPlan]] broadcasts); the
    * Jaccard verify is the shared projection over a LocalRelation, so
    * it folds on the driver too. Returns (pairs sorted by (a, b), sigs),
    * both LocalRelations.
    */
  private def lookupLocal(spark: SparkSession, idx: String,
                          rp: IndexPolicy.ReadPoint,
                          schema: StructType, rows: Array[Row], minJ: Double,
                          capBucket: Int): (DataFrame, DataFrame) = {
    import scala.jdk.CollectionConverters._
    val ed = IndexPolicy.epochDir(idx, rp.m("data"))
    // md5DocSig has no row for a shingle-less document
    val docs = rows.filter(r =>
      !r.isNullAt(r.fieldIndex("sz")) && r.getAs[Int]("sz") > 0)
    val sigCols = Seq("doc_id", "dset", "sz", "sig")
    val sigs = spark.createDataFrame(
      docs.map(r => Row.fromSeq(sigCols.map(r.getAs[Any]))).toSeq.asJava,
      StructType(sigCols.map(schema(_))))
    // (band, bucket, pb, doc_id) of every probe posting
    val keys = docs.toSeq.flatMap { r =>
      val id = r.getAs[Long]("doc_id")
      seqOf[String](r, "bks").zip(seqOf[Int](r, "pbs"))
        .zipWithIndex.map { case ((bk, pb), band) => (band, bk, pb, id) }
    }
    val probeAt = keys.groupMap(x => (x._1, x._2))(_._4)
    val postings: Seq[(Int, String, Long, Int)] =
      if (keys.isEmpty) Nil
      else {
        val dead = IndexPolicy.deadIds(rp, ndTombs.of(spark, idx, rp.m),
          "doc_id")
        val inDirs = keys.groupMap(_._1)(_._3).map { case (band, pbs) =>
          col("band") === band && col("pb").isin(pbs.distinct: _*)
        }.reduce(_ || _)
        val scan = rp.visible(spark.read.schema(bucketsSchema)
            .parquet(s"$ed/buckets"))
          .filter(inDirs && col("bucket").isin(keys.map(_._2).distinct: _*))
        val live =
          if (dead.isEmpty) scan else scan.filter(!col("doc_id").isin(dead: _*))
        // hot-bucket guard: a (band, bucket) whose live posting count
        // exceeds the cap contributes no index-side candidates
        val cooled =
          if (capBucket == Int.MaxValue) live
          else live.withColumn("bsz", count(lit(1)).over(
              Window.partitionBy(col("band"), col("bucket"))))
            .filter(col("bsz") <= capBucket)
        cooled.select(col("band"), col("bucket"), col("doc_id"),
            dbOf(col("doc_id")).as("db")).collect().toSeq
          .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getInt(3)))
      }
    val cIdx = for {
      (band, bk, id, _) <- postings
      d <- probeAt.getOrElse((band, bk), Nil) if d != id
    } yield (math.min(id, d), math.max(id, d))
    val cNew = for {
      ids <- probeAt.values.toSeq
      x <- ids; y <- ids if x < y
    } yield (x, y)
    val cand = (cIdx ++ cNew).distinct.sorted
    // the `best` rule: a probe's own set beats any indexed twin; among
    // indexed rows of one id, the larger set, then the larger
    // xxhash64 of the set (what lookupPlan's window orders by)
    val probeSets = docs.map(r => r.getAs[Long]("doc_id") ->
      (seqOf[Long](r, "dset"), r.getAs[Int]("sz"))).toMap
    val need = cand.flatMap { case (a, b) => Seq(a, b) }.distinct
      .filterNot(probeSets.contains)
    val idxSets: Map[Long, (Seq[Long], Int)] =
      if (need.isEmpty) Map.empty
      else {
        val dbOfId = postings.map(p => p._3 -> p._4).toMap
        rp.visible(spark.read.schema(docsetsSchema).parquet(s"$ed/docsets"))
          .filter(col("db").isin(need.map(dbOfId).distinct: _*) &&
            col("doc_id").isin(need: _*))
          .select(col("doc_id"), col("dset"), col("sz"),
            xxhash64(col("dset")).as("h"))
          .collect().toSeq
          .groupBy(_.getLong(0)).map { case (id, rs) =>
            val r = rs.maxBy(r => (r.getInt(2), r.getLong(3)))
            id -> (seqOf[Long](r, "dset"), r.getInt(2))
          }
      }
    def setOf(id: Long) = probeSets.get(id).orElse(idxSets.get(id))
    val dset = schema("dset").dataType
    val candRows = for {
      (a, b) <- cand
      (setA, szA) <- setOf(a)
      (setB, szB) <- setOf(b)
    } yield Row(a, b, setA, setB, szA, szB)
    val pairs = verified(spark.createDataFrame(candRows.asJava, StructType(Seq(
      StructField("a", LongType, nullable = false),
      StructField("b", LongType, nullable = false),
      StructField("set_a", dset), StructField("set_b", dset),
      StructField("sz_a", IntegerType), StructField("sz_b", IntegerType)))),
      minJ)
    (spark.createDataFrame(pairs.collect().toSeq.asJava, pairs.schema), sigs)
  }

  private def seqOf[T](r: Row, field: String): Seq[T] =
    r.getAs[scala.collection.Seq[T]](field).toSeq

  /** The distributed lookup plan, for probes that are not a
    * LocalRelation with unique ids (package-private so LayoutSpec can
    * assert the two index scans' partition pruning before the
    * checkpoint snapshots hide them; the third element is the LAZY
    * candidate plan — the buckets scan lives there now that candidates
    * are checkpointed). No driver-side collects (r22): both hash-bucket
    * IN-sets are derived at runtime by dynamic partition pruning from
    * the joins' broadcast sides. That is still many Spark jobs, not
    * one: AQE runs each broadcast stage and each DPP subquery as a job
    * of its own, and each checkpoint is a job boundary — a traced
    * 8-probe lookup ran 14 jobs, 3 of them the caller's sort of the
    * checkpointed pairs.
    */
  private[graft] def lookupPlan(spark: SparkSession, idx: String,
                                newDocs: DataFrame, minJ: Double, n: Int,
                                k: Int, bands: Int,
                                capBucket: Int,
                                at: IndexPolicy.At = IndexPolicy.At.Live)
      : (DataFrame, DataFrame, DataFrame) = {
    val rp = IndexPolicy.readPoint(spark, idx, ndLayout(n, k, bands), at)
    val ed = IndexPolicy.epochDir(idx, rp.m("data"))
    // LAZY checkpoint (r21): materialized by the first action over the
    // plan — since r22 that is the caller's single pairs snapshot; the
    // admit writes then reuse the persisted blocks. Lineage is
    // truncated at job end exactly as with the eager form.
    val sigs = md5DocSig(newDocs, n, k).localCheckpoint(eager = false)
    // the pb hash bucket rides the banded rows as a regular column and
    // the trailing `pb >= 0` is a semantic no-op (pmod is
    // non-negative) whose only purpose is DPP eligibility: Spark's
    // PartitionPruning rule requires a likely-selective predicate on
    // the filtering side, and the checkpointed sigs plan (a
    // LogicalRDD) carries none of the upstream filters (r22,
    // guide §1.2 driver floor / §6 pushdown)
    val dBand = bandedOf(sigs, k, bands)
      .withColumn("pb", pbOf(col("bucket")))
      .filter(col("pb") >= 0)
    // the delta's pb hash buckets (≤ nPb values) prune the buckets
    // scan via DYNAMIC partition pruning (r22): joining on the (band,
    // pb) partition columns lets Spark derive the IN-set from the
    // already-broadcast delta at runtime — same directories opened as
    // the old driver-collected literal IN-set, without the collect's
    // extra job per lookup (LayoutSpec still asserts scanned < total
    // files). pb is a deterministic function of bucket, so the extra
    // join key never drops a row.
    // as-of / torn-commit: rows and tombstones ABOVE the ceiling
    // don't exist from this read's point of view
    val rawBand = rp.visible(
      spark.read.schema(bucketsSchema).parquet(s"$ed/buckets"))
    // tombstoned (removed) docs stop matching immediately: the dead-id
    // set is removal-sized and broadcasts into an anti-join over the
    // postings scan — no index file rewrite until neardupCompact
    val iBand = ndTombs.of(spark, idx, rp.m).map(rp.visible)
      .fold(rawBand)(dead =>
        rawBand.join(broadcast(dead.select(col("doc_id"))),
          Seq("doc_id"), "left_anti"))
    val hits = iBand
      .join(broadcast(dBand.select(col("band"), col("pb"), col("bucket"),
        col("doc_id").as("d"))), Seq("band", "pb", "bucket"))
      .filter(col("doc_id") =!= col("d"))
    // hot-bucket guard: drop index-side candidates from (band, bucket)
    // keys whose live posting count exceeds the cap — the count is
    // computed on the pruned, tombstone-filtered scan and the cool-
    // bucket key set broadcasts back (collision-sized at most)
    val cooled =
      if (capBucket == Int.MaxValue) hits
      else hits.join(broadcast(
          iBand.join(broadcast(dBand
              .select(col("band"), col("pb"), col("bucket"))
              .distinct()), Seq("band", "pb", "bucket"))
            .groupBy(col("band"), col("bucket"))
            .agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") <= capBucket)
            .select(col("band"), col("bucket"))),
        Seq("band", "bucket"))
    val cIdx = cooled
      .select(least(col("doc_id"), col("d")).as("a"),
        greatest(col("doc_id"), col("d")).as("b"))
    val cNew = dBand.as("x").join(dBand.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
    val candLazy = cIdx.unionByName(cNew).distinct()
    // collision-sized snapshot (r14 ADVICE): checkpoint the candidate
    // set so the pruned buckets scan and the candidate joins execute
    // exactly ONCE — the candidate-id broadcast below, the verify
    // joins, and the caller's eager pairs snapshot all read this
    // materialization instead of re-running candidate generation.
    // LAZY (r21/r22): the caller's pairs snapshot is now the FIRST
    // action over the whole lookup — it materializes sigs and cand in
    // the same job, so a lookup costs one driver action, not three.
    val cand = candLazy.localCheckpoint(eager = false)
    // the candidates' db hash buckets (≤ nDb values) prune the
    // docsets scan via DYNAMIC partition pruning, like the buckets
    // scan above — the verify reads only directories that can hold a
    // candidate's digest set, without the old dbs collect's extra
    // job. db is a deterministic function of doc_id (the layout's own
    // placement rule), so joining on it alongside doc_id never drops
    // a row; the `db >= 0` no-op marks the broadcast side
    // likely-selective for the DPP rule (the checkpointed cand plan
    // carries no filters).
    val candIds = cand.select(explode(array(col("a"), col("b"))).as("doc_id"))
      .distinct()
      .withColumn("db", dbOf(col("doc_id")))
      .filter(col("db") >= 0)
    val idxSets = rp.visible(
        spark.read.schema(docsetsSchema).parquet(s"$ed/docsets"))
      .join(broadcast(candIds), Seq("db", "doc_id"))
      .select(col("doc_id"), col("dset"), col("sz"), lit(0).as("ord"))
    val deltaSets = sigs
      .join(broadcast(candIds.select(col("doc_id"))), Seq("doc_id"))
      .select(col("doc_id"), col("dset"), col("sz"), lit(1).as("ord"))
    // fresh-id guard (r13 ADVICE): if a delta id already has an
    // indexed docsets row, keep only the NEWEST (delta beats index;
    // among stale index twins, the larger set; equal-size twins with
    // different content tie-break on the set digest so repeated
    // lookups always keep the SAME row — r14 ADVICE) so the verify
    // join cannot emit duplicate pair rows — candidate-sized window.
    // ONE window SHAPE over the union of both candidate sides (r22):
    // per doc_id the partition contents — and so the winner — are
    // identical to the old per-side windows. The a/b lookups reference
    // the same `best` plan, which Spark duplicates per join side (no
    // checkpoint here — it would cost back the driver action this
    // rewrite removes); each copy's docsets scan is DPP-pruned to the
    // candidates' db buckets and the window is candidate-sized, so the
    // duplication is delta-bound, never corpus-bound.
    val best = idxSets.unionByName(deltaSets)
      .withColumn("rn", row_number().over(Window
        .partitionBy(col("doc_id"))
        .orderBy(col("ord").desc, col("sz").desc,
          xxhash64(col("dset")).desc)))
      .filter(col("rn") === 1)
      .select(col("doc_id"), col("dset"), col("sz"))
    def lookup(side: String): DataFrame =
      best.select(col("doc_id").as(side), col("dset").as(s"set_$side"),
        col("sz").as(s"sz_$side"))
    val pairs = verified(cand.join(lookup("a"), "a").join(lookup("b"), "b"),
      minJ)
    (pairs, sigs, candLazy)
  }

  /** REMOVE documents from the at-rest index — the takedown /
    * license-revocation path a compliance pipeline needs: the ids
    * land in an append-only `tombstones` table (delta-sized files;
    * no index file is opened, the Lucene dead-docs model), and every
    * subsequent [[neardupCheckIn]] stops flagging against them.
    * [[neardupCompact]] is the amortized fold: physically drop
    * tombstoned postings/docsets and clear the tombstones — a pure
    * layout change (check-in results identical before and after).
    */
  def neardupRemove(spark: SparkSession, idx: String,
                    docIds: DataFrame): Unit =
    IndexPolicy.removeIds(spark, idx, ndTombs, docIds)

  /** Fold-trigger policy (r13 stretch item 8): the near-dup index is
    * DUE for [[neardupCompact]] once live tombstones exceed
    * `maxFrac` of the stored docsets rows — every tombstone rides
    * the anti-join of every lookup, so the fraction bounds
    * per-check-in overhead ([[IndexPolicy.foldDue]]).
    */
  def neardupFoldDue(spark: SparkSession, idx: String,
                     maxFrac: Double = 0.1): Boolean =
    IndexPolicy.foldDue(spark, idx, ndTombs, maxFrac)

  /** Footer-count health of a near-dup index ([[IndexPolicy
    * .healthCard]]): `nd_docsets`, `nd_tombstones`, `nd_gen` and
    * `nd_fold_due`.
    */
  def neardupHealth(spark: SparkSession, idx: String,
                    maxFrac: Double = 0.1): Seq[(String, Long)] =
    IndexPolicy.healthCard(spark, idx, ndTombs, maxFrac)

  /** Physically drop tombstoned docs: rewrite `buckets` and
    * `docsets` without them (corpus-order, the rebuild-shaped
    * amortization — exactly like [[TextAnalysis.bm25Compact]]) into a
    * FRESH epoch, then commit everything — new epoch, tombstones
    * dropped, timeline reset to generation 0 — in one pointer swing.
    * Readers racing the fold keep serving the old epoch (it is never
    * touched; the next mutation's sweep reclaims it). Also the REPAIR
    * path for a torn index: uncommitted-generation rows (a crashed
    * check-in's orphans) are dropped by the same ceiling the readers
    * apply, and both watermarks reset to 0.
    */
  def neardupCompact(spark: SparkSession, idx: String): Unit =
    IndexPolicy.mutate(spark, idx)(compactBody(spark, idx))

  /** The fold under an ALREADY-HELD lease — [[neardupCompact]]'s body,
    * also the in-band torn-state repair of [[neardupStreamIngest]]
    * (r18 ADVICE: a crash between a batch's watermark publish and its
    * commit used to wedge the retried batch on [[IndexPolicy
    * .allocGen]]'s refusal until a manual compact).
    */
  private def compactBody(spark: SparkSession, idx: String): Unit =
      IndexPolicy.rewriteEpoch(spark, idx, ndLayoutBase) { (rp, tok) =>
    // the live read point: committed rows only, so a torn index's
    // orphans drop out of the rewrite
    val m = rp.m
    // healthy and tombstone-free: nothing to fold, nothing to repair;
    // torn but tombstone-free: still rewrite to repair
    val tombs = ndTombs.of(spark, idx, m).map(rp.visible).orElse(rp.ceil.map(_ =>
      spark.range(0).select(col("id").as("doc_id"), lit(0L).as("gen"))))
    tombs.map { dead =>
      val ed = IndexPolicy.epochDir(idx, m("data"))
      val ed2 = IndexPolicy.epochDir(idx, tok)
      // the two side rewrites are independent (disjoint subdirs of the
      // not-yet-visible epoch, both reading the immutable old epoch) —
      // run them as concurrent jobs (r21, the [[writeSigs]] pattern), so
      // the fold's wall-clock is the wider rewrite, not the sum.
      Par.all(Seq(
        () => rp.visible(
            spark.read.schema(bucketsSchema).parquet(s"$ed/buckets"))
          .join(broadcast(dead.select(col("doc_id"))), Seq("doc_id"), "left_anti")
          .select(col("band"), col("pb"), col("doc_id"), col("bucket"),
            lit(0L).as("gen"))
          .repartition(col("band"), col("pb"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("band", "pb").parquet(s"$ed2/buckets"),
        () => rp.visible(
            spark.read.schema(docsetsSchema).parquet(s"$ed/docsets"))
          .join(broadcast(dead.select(col("doc_id"))), Seq("doc_id"), "left_anti")
          .select(col("db"), col("doc_id"), col("dset"), col("sz"),
            lit(0L).as("gen"))
          .repartition(col("db"))
          .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .partitionBy("db").parquet(s"$ed2/docsets")))
      // ONE swing commits the fold: the new epoch replaces the old, the
      // tombstones key vanishes, and the as-of timeline resets (the
      // ivf-retrain analogue) — rewritten rows are generation 0 again
      m - "tombstones" ++ Map(
        "gen" -> "0", "gen_committed" -> "0", "data" -> tok)
    }
  }

  /** Registry fixture for the check-in (the bm25 lifecycle pattern):
    * the index holds 3/4 of the corpus (doc_id ≢ 1 mod 4) — built at
    * most once per JVM per corpus dir and kept pristine; each
    * invocation copies it, checks the held-out quarter in, and emits
    * the found pairs. The oracle replays the batch md5 family over
    * the FULL corpus restricted to pairs with a delta member — the
    * check-in is correct iff it finds exactly the pairs a full batch
    * re-dedup would, without ever re-signaturing the indexed 3/4.
    */
  private val neardupBaseCache = new Fixtures.Index("neardup_base")

  private def pristineBase(spark: SparkSession, dir: String,
                           docs: DataFrame): String =
    neardupBaseCache(dir) { p =>
      neardupWriteIndex(spark, docs.filter(pmod(col("doc_id"), lit(4)) =!= 1), p)
    }

  /** The shared pristine base (3/4-corpus index, doc_id ≢ 1 mod 4)
    * for fixtures OUTSIDE this object — the streaming ingest contract
    * copies it like every lifecycle row here does.
    */
  private[graft] def pristineBaseFor(spark: SparkSession,
                                     dir: String): String =
    pristineBase(spark, dir,
      Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  def neardupUpsert(spark: SparkSession, dir: String,
                    minJ: Double = 0.2): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val idx = Fixtures.copyOf(spark, pristineBase(spark, dir, docs),
      "neardup_upsert", dir)
    neardupCheckIn(spark, idx,
      docs.filter(pmod(col("doc_id"), lit(4)) === 1), minJ)
  }

  /** Generation-pinned [[neardupLookup]] registry row: a copy of the pristine
    * base index absorbs two mutations — gen 1 CHECKS IN the held-out
    * quarter (doc_id ≡ 1 mod 4, admitted), gen 2 REMOVES the base
    * docs with doc_id ≡ 0 (mod 8) — then a probe delta of re-tagged
    * COPIES (originals with doc_id % 8 ≤ 1, ids +1000000) is looked
    * up AS OF generation 0. The copies of removed docs must still be
    * flagged (their tombstones don't exist at gen 0 — a misapplied
    * tombstone loses those pairs) and the copies of gen-1-admitted
    * docs must NOT flag against their originals (not yet indexed at
    * gen 0 — a leaked admit row adds J=1 pairs). The oracle replays
    * the batch md5 family over base ∪ probe copies restricted to
    * probe pairs. Mutated fixture built once per JVM per corpus dir;
    * the row times the generation-pinned lookup.
    */
  def neardupLookupAsOfRow(spark: SparkSession, dir: String,
                           minJ: Double = 0.2): DataFrame =
    asOfFixtureLookup(spark, dir, gen = 0L, minJ)

  /** MID-timeline twin (r16, the bm25_serve_asof_mid analogue for
    * this family): the SAME mutated fixture pinned AS OF generation
    * 1 — after the quarter's admit, before the removals. The probe
    * copies must flag against both the base and the gen-1-admitted
    * docs, and the gen-2 tombstones must not exist yet — so the
    * oracle replays the family over ALL documents ∪ probe copies.
    * An interior point of the timeline, driver-hashed (previously
    * only spec-checked).
    */
  def neardupLookupAsOfMidRow(spark: SparkSession, dir: String,
                              minJ: Double = 0.2): DataFrame =
    asOfFixtureLookup(spark, dir, gen = 1L, minJ)

  private def asOfFixtureLookup(spark: SparkSession, dir: String,
                                gen: Long, minJ: Double): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val idx = asofIdxCache(dir) { p =>
      Fixtures.copyIndex(spark, pristineBase(spark, dir, docs), p)
      neardupCheckIn(spark, p,
        docs.filter(pmod(col("doc_id"), lit(4)) === 1), minJ).count()
      neardupRemove(spark, p,
        docs.filter(pmod(col("doc_id"), lit(8)) === 0).select(col("doc_id")))
    }
    val probe = docs.filter(pmod(col("doc_id"), lit(8)) <= 1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    neardupLookup(spark, idx, probe, minJ, at = IndexPolicy.At.Gen(gen))
  }

  private val asofIdxCache = new Fixtures.Index("neardup_asof")

  /** Removal twin of [[neardupUpsert]]: before the check-in, the base
    * docs with doc_id ≡ 0 (mod 8) are REMOVED via [[neardupRemove]]
    * (append-only tombstones, no index rewrite) — the takedown path.
    * The oracle replays the batch family over the corpus WITHOUT the
    * removed docs, so the row hashes green only if tombstoned docs
    * really stop being flagged against (the removal set provably
    * intersects the found pairs at every SF).
    */
  def neardupUpsertRemoved(spark: SparkSession, dir: String,
                           minJ: Double = 0.2): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val idx = Fixtures.copyOf(spark, pristineBase(spark, dir, docs),
      "neardup_rm", dir)
    neardupRemove(spark, idx,
      docs.filter(pmod(col("doc_id"), lit(8)) === 0).select(col("doc_id")))
    neardupCheckIn(spark, idx,
      docs.filter(pmod(col("doc_id"), lit(4)) === 1), minJ)
  }

  /** Hot-bucket-cap twin of [[neardupUpsert]] (r13 verdict gap #2):
    * same pristine-base copy, same held-out-quarter check-in, but
    * with `capBucket = 1` — index buckets holding more than one live
    * posting contribute no index-side candidates. The oracle replays
    * the same cap over the banded corpus, so the row hashes green
    * only if the operator drops EXACTLY the hot buckets' candidates.
    * cap = 1 is the only value the fixtures' natural duplicate load
    * makes binding (measured index-side bucket sizes: max 4/2/3 at
    * sf0.001/0.01/0.1; pairs shrink 114 → 111 at sf0.1, smaller SFs
    * lose no pair because every hot-bucket pair also shares a cool
    * bucket — the multi-band redundancy the cap trades on).
    * DedupSimilaritySpec pins a deterministic hand-built hot bucket.
    */
  def neardupUpsertCapped(spark: SparkSession, dir: String,
                          minJ: Double = 0.2): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val idx = Fixtures.copyOf(spark, pristineBase(spark, dir, docs),
      "neardup_cap", dir)
    neardupCheckIn(spark, idx,
      docs.filter(pmod(col("doc_id"), lit(4)) === 1), minJ, capBucket = 1)
  }

  /** SNAPSHOT TIME TRAVEL for the near-dup family
    * ([[IndexPolicy.snapshotAsOfDrill]]): the snapshotted base REMOVEs
    * doc_id ≡ 0 (mod 8) from the pristine base and holds the flagged
    * pairs of a probe of re-tagged copies (doc_id ≡ 2 mod 16, ids
    * +2000000 — guaranteed J=1 twins of their originals); the rewrite
    * is COMPACT; the drift CHECKS IN fresh copies of a probe subset
    * (≡ 2 mod 32, ids +3000000), so the live lookup provably moves
    * on; the post-expiry mutation removes doc_id ≡ 4 (mod 32). The
    * reclaimed dirs are the pre-compact data + tombstones epochs.
    */
  def neardupSnapshotAsOf(spark: SparkSession, dir: String,
                          minJ: Double = 0.2): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    // probe = re-tagged copies of doc_id ≡ 2 (mod 16) — a delta-sized
    // slice (31 docs at sf0.001) whose members all have J=1 twins in
    // the base; ⊇ the ≡ 2 (mod 32) check-in slice, so the admitted
    // copies provably intersect the probe's pairs
    def probe = docs.filter(pmod(col("doc_id"), lit(16)) === 2)
      .select((col("doc_id") + 2000000L).as("doc_id"), col("text"))
    def removeMod(m: Int, r: Int)(idx: String): Unit = neardupRemove(spark,
      idx, docs.filter(pmod(col("doc_id"), lit(m)) === r).select(col("doc_id")))
    IndexPolicy.snapshotAsOfDrill(spark, "nd", dir, docs,
      pristineBase(spark, dir, docs),
      IndexPolicy.SnapHooks(
        build = removeMod(8, 0),
        serve = (idx, at) => neardupLookup(spark, idx, probe, minJ, at = at),
        rewrite = neardupCompact(spark, _),
        drift = neardupCheckIn(spark, _,
          docs.filter(pmod(col("doc_id"), lit(32)) === 2)
            .select((col("doc_id") + 3000000L).as("doc_id"), col("text")),
          minJ).count(),
        expire = removeMod(32, 4)))
  }

  /** Duplicate-cluster assignment: connected components over the
    * near-dup pair graph (edges = [[ngramJaccard]] pairs with J ≥
    * minJ), so each document maps to a canonical keeper (the minimum
    * doc id reachable from it) — the step that turns pairwise
    * similarity into actual keep/drop decisions.
    *
    * Algorithm: iterative min-label propagation (each round joins the
    * current labels across the symmetric edge list and takes the
    * min). Rounds are whole DataFrame jobs — the driver loop only
    * orchestrates; per-round work is one shuffle join, the standard
    * large-graph CC shape (label propagation converges in O(diameter)
    * rounds; near-dup cluster diameters are tiny).
    */
  def dedupClusters(spark: SparkSession, dir: String,
                    minJ: Double = 0.5, maxRounds: Int = 20,
                    maxDf: Int = 8): DataFrame =
    clusterLabelsLP(spark, dir, minJ, maxRounds, maxDf)
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"),
        array_sort(collect_list(col("doc_id"))).as("members"))
      .select(col("label").as("keep_id"), col("cluster_size"),
        array_join(transform(col("members"), _.cast("string")), ",")
          .as("members"))
      .filter(col("cluster_size") >= 2) // singletons aren't duplicates
      .orderBy("keep_id")

  /** The per-document label assignment behind [[dedupClusters]]:
    * (doc_id, label) for every edge-connected document, label = min
    * reachable doc id. Exposed privately so keep-policy variants
    * ([[dedupKeepLongest]]) reuse the converged propagation.
    */
  private def clusterLabelsLP(spark: SparkSession, dir: String,
                              minJ: Double, maxRounds: Int,
                              maxDf: Int): DataFrame = {
    // materialize the pair graph ONCE — localCheckpoint caches AND
    // truncates lineage, so the union below and every propagation
    // round read the stored pairs instead of re-running the whole
    // inverted-index pipeline (previously each union branch recomputed
    // ngramJaccard from scratch)
    // (maxDf passes through to the shingle df cap: it must be sized
    // relative to the corpus's expected duplication ceiling — the 10×
    // replication smoke degenerates to zero pairs at the default 8,
    // see PLANS.md scale sweep)
    // LAZY (r21): localCheckpoint persists blocks on first compute
    // either way; marking pairs and the seed labels lazy folds their
    // materialization into round 1's convergence job instead of two
    // setup jobs — same blocks, same truncated lineage, fewer driver
    // round-trips. (Unlike the reverted pagerank per-round experiment,
    // every round below still materializes via its own action.)
    val pairs = ngramJaccard(spark, dir, minJ = minJ, maxDf = maxDf)
      .select(col("a"), col("b"))
      .localCheckpoint(eager = false)
    val edges = pairs
      .union(pairs.select(col("b").as("a"), col("a").as("b")))
      .cache()
    // only edge-connected docs can form a cluster of size >= 2, so
    // propagation runs on the near-dup subgraph — at 100 TB that is
    // orders of magnitude smaller than the corpus (singletons rejoin
    // as size-1 clusters and are filtered below either way)
    var labels = edges.select(col("a").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("label"))
      .localCheckpoint(eager = false)
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val viaNeighbors = edges
        .join(labels.select(col("doc_id").as("b"), col("label")), "b")
        .groupBy(col("a")).agg(min(col("label")).as("nlabel"))
      // fold the convergence flag into the propagation output, and
      // fuse the round's checkpoint with its convergence probe (r21):
      // the LAZY checkpoint persists next's blocks while the
      // max(changed) action computes them — ONE job per round where
      // the eager form paid a materialization job plus a probe job.
      // The per-round plan stays flat (blocks persist on first
      // compute; lineage cut at job end), so rounds never re-plan
      // their predecessors.
      val next = labels
        .join(viaNeighbors.select(col("a").as("doc_id"), col("nlabel")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("label"), coalesce(col("nlabel"), col("label")))
            .as("label"),
          when(col("nlabel") < col("label"), 1).otherwise(0).as("changed"))
        .localCheckpoint(eager = false)
      val anyChanged = next.agg(coalesce(max(col("changed")), lit(0)))
        .head().getInt(0)
      // superseded rounds' checkpoint blocks are reclaimed by the
      // ContextCleaner once unreferenced (unpersist() is a no-op on
      // localCheckpoint-backed plans)
      labels = next.select(col("doc_id"), col("label"))
      converged = anyChanged == 0
      round += 1
    }
    if (!converged)
      // surface it loudly — an unconverged run would silently split
      // clusters; with path lengths this needs diameter > maxRounds
      System.err.println(
        s"[graft] dedupClusters hit maxRounds=$maxRounds before convergence")
    labels
  }

  /** Keep-LONGEST dedup policy (the CCNet/RefinedWeb-style keep rule):
    * within each duplicate cluster, the keeper is the member with the
    * most characters — min doc id breaks exact-length ties — rather
    * than [[dedupClusters]]'s min-id keeper. Comparison keys are the
    * stored integer n_chars, so the argmax is cross-engine exact and
    * the whole policy (clusters + keeper choice) oracle-hash-checks.
    *
    * Scale: reuses the converged label propagation; the keeper argmax
    * is one struct-max partial agg per cluster — state is one row per
    * cluster, never the member lists.
    */
  def dedupKeepLongest(spark: SparkSession, dir: String,
                       minJ: Double = 0.5, maxRounds: Int = 20,
                       maxDf: Int = 8): DataFrame = {
    val labels = clusterLabelsLP(spark, dir, minJ, maxRounds, maxDf)
    val chars = Tables.documents(spark, dir)
      .select(col("doc_id"), col("n_chars"))
    labels.join(chars, "doc_id")
      .groupBy(col("label"))
      .agg(
        count(lit(1)).as("cluster_size"),
        sum(col("n_chars")).as("total_chars"),
        // argmax by (n_chars desc, doc_id asc): negated id makes the
        // struct max pick the LOWEST id among equal-length members
        max(struct(col("n_chars"), negate(col("doc_id")).as("negid"))).as("m"))
      .filter(col("cluster_size") >= 2)
      .select(col("label").as("cluster_id"),
        negate(col("m.negid")).as("keeper_id"),
        col("m.n_chars").as("keeper_chars"),
        col("cluster_size"), col("total_chars"),
        (col("cluster_size") - 1).as("dropped_docs"))
      .orderBy("cluster_id")
  }

  /** One large-star round: every node u attaches each STRICTLY LARGER
    * neighbor v to the minimum of its closed neighborhood
    * m = min(Γ(u) ∪ {u}). Emitted edges satisfy a > b.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val mins = sym.groupBy(col("u")).agg(min(col("v")).as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .distinct()
  }

  /** One small-star round over a>b edges: every center u attaches its
    * smaller neighbors AND itself to m = min of those neighbors.
    * Output keeps the a > b invariant.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("a")).agg(min(col("b")).as("m"))
    val withM = e.join(mins, "a")
    withM.filter(col("b") =!= col("m"))
      .select(col("b").as("a"), col("m").as("b"))
      .union(withM.select(col("a"), col("m").as("b")))
      .distinct()
  }

  /** Connected components by the ALTERNATING large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce
    * and Beyond") — same output contract as [[dedupClusters]], but
    * convergence is O(log n) rounds instead of O(cluster diameter):
    * on a path-shaped near-dup chain of length 10⁶ (boilerplate
    * corpora produce exactly these), label propagation needs ~10⁶
    * rounds while star contraction needs ~20. Per round: two
    * groupBy-min + join passes over the current edge set, which
    * SHRINKS toward one star edge per non-root node (propagation
    * carries the full edge list every round). Convergence is detected
    * exactly: equal edge count plus an empty one-sided set difference
    * (both sides are distinct sets, so size-equality + one empty diff
    * ⇒ equal). DedupSimilaritySpec pins output equality with
    * [[dedupClusters]]; the DuckDB oracle is the same recursive-CTE
    * reachability replay.
    */
  def dedupClustersStar(spark: SparkSession, dir: String,
                        minJ: Double = 0.5, maxRounds: Int = 25,
                        maxDf: Int = 8): DataFrame = {
    // LAZY checkpoints fused with each round's count (r21): blocks
    // persist on first compute either way, so the count job both
    // materializes the round's edge set and returns the convergence
    // count — one job per round instead of two, and the pair-gen
    // checkpoint folds into round 1.
    val pairs = ngramJaccard(spark, dir, minJ = minJ, maxDf = maxDf)
      .select(col("b").as("a"), col("a").as("b")) // normalize to a > b
      .localCheckpoint(eager = false)
    var edges = pairs
    var prevCount = -1L
    var converged = false
    var round = 0
    while (!converged && round < maxRounds) {
      val next = smallStar(largeStar(edges)).localCheckpoint(eager = false)
      // ONE action per round (r22, guide §1.2 driver floor): the
      // count and the set-difference probe come back from the same
      // aggregate — a left join against the previous round's
      // (checkpointed, distinct) edge set flags rows missing there.
      // count == prevCount && no new row ⇔ next ⊆ edges with equal
      // cardinality ⇔ set equality — the exact convergence decision
      // the old count + exceptAll pair made, minus its second job.
      val probe = next
        .join(edges.select(col("a"), col("b"), lit(1).as("__old")),
          Seq("a", "b"), "left")
        .agg(count(lit(1)).as("cnt"),
          coalesce(max(when(col("__old").isNull, 1).otherwise(0)), lit(0))
            .as("anyNew"))
        .head()
      val (cnt, anyNew) = (probe.getLong(0), probe.getInt(1))
      if (cnt == prevCount && anyNew == 0) converged = true
      prevCount = cnt
      edges = next
      round += 1
    }
    if (!converged)
      System.err.println(
        s"[graft] dedupClustersStar hit maxRounds=$maxRounds before convergence")
    // converged edges are stars (child, root); roots self-label
    val labels = edges.select(col("a").as("doc_id"), col("b").as("label"))
      .union(edges.select(col("b").as("doc_id"), col("b").as("label")))
      .groupBy(col("doc_id")).agg(min(col("label")).as("label"))
    labels
      .groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"),
        array_sort(collect_list(col("doc_id"))).as("members"))
      .select(col("label").as("keep_id"), col("cluster_size"),
        array_join(transform(col("members"), _.cast("string")), ",")
          .as("members"))
      .filter(col("cluster_size") >= 2)
      .orderBy("keep_id")
  }

  /** SimHash-64 signatures as one LongType column: hash each distinct
    * token with xxhash64, vote per bit (+1 set / −1 clear), signature
    * bit i = sign of vote i. The 64 per-bit votes are 64 aggregate
    * columns over the token rows — partial-aggregated map-side, no
    * row blowup, one shuffle on doc_id.
    */
  def simhashSigs(spark: SparkSession, dir: String): DataFrame = {
    // fanOutScan (r21 wave 2, guide §2.5): token explode + distinct
    // partial agg + 64 per-bit vote partials ran in the single-split
    // scan task; conditional no-op at scale, vote sums are
    // order-independent integer math.
    val tok = Tables.fanOutScan(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(TextFns.wsTokens(col("text"))).as("t"))
      .distinct()
      .select(col("doc_id"), xxhash64(col("t")).as("h"))
    val votes = (0 until 64).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$i"))
    tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until 64).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** Oracle-checkable SimHash: [[simhashPairs]] with the token hash
    * swapped from xxhash64 (Spark-private) to the first 15 md5 hex
    * chars as a 60-bit integer — a standard digest both engines
    * compute identically, so DuckDB replays token hashing, all 60
    * per-bit votes, signature assembly, combinatorial block keys, and
    * the popcount verify bit-for-bit. 15 hex chars (not 16) keeps
    * every hex-fold intermediate under 2⁶³ — a 16-char fold would
    * overflow signed BIGINT in both engines' ANSI modes.
    *
    * Blocking is Manku et al. (WWW'07) combinatorial: the 60-bit
    * signature splits into 6 blocks of 10 bits, and each of the
    * C(6,3) = 20 block-triples is a 30-bit band key. Pigeonhole:
    * ≤ 3 differing bits touch ≤ 3 blocks, so ≥ 3 of 6 blocks agree
    * and some triple matches exactly — blocking stays COMPLETE (the
    * output is every Hamming ≤ 3 pair, same as all-pairs). The prior
    * 4×15-bit single-block bands were also complete but kept 18% of
    * the sf0.01 pair space as candidates (simhash bits correlate
    * heavily across same-vocabulary docs, so 15-bit agreement is
    * common); requiring 30 agreeing bits cuts that ~50×
    * (CandidateRatioSpec pins the bound) — the difference between
    * Σ|bucket|² blowing up quadratically at 100 TB and staying
    * near-linear.
    */
  def simhashPairsMd5(spark: SparkSession, dir: String,
                      maxHamming: Int = 3): DataFrame = {
    val nBits = 60
    // fanned for the same reason as [[simhashSigs]] (md5 per token)
    val tok = Tables.fanOutScan(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), explode(TextFns.wsTokens(col("text"))).as("t"))
      .distinct()
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)").as("h"))
    val votes = (0 until nBits).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1L)
        .otherwise(-1L)).as(s"v$i"))
    val sigs = tok.groupBy(col("doc_id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("doc_id"),
        (0 until nBits).map(i =>
          when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
    // C(6,3) = 20 block-triples, lexicographic; key packs the three
    // 10-bit block values into 30 bits
    def block(b: Int) = shiftright(col("simhash"), b * 10).bitwiseAND(lit(1023L))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 6).combinations(3).toSeq.map { c =>
        block(c(0)) * lit(1L << 20) + block(c(1)) * lit(1L << 10) + block(c(2))
      }: _*)).as(Seq("band", "bkey")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming").cast("bigint").as("hamming"))
      .orderBy("a", "b")
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming,
    * blocked combinatorially like [[simhashPairsMd5]]: the 64-bit
    * signature splits into 6 blocks (4×11 + 2×10 bits) and each of
    * the C(6,3) = 20 block-triples is a band key — ≤ 3 differing bits
    * touch ≤ 3 blocks, so ≥ 1 triple matches exactly (complete), and
    * a false candidate must agree on ≥ 31 bits rather than 16.
    */
  def simhashPairs(spark: SparkSession, dir: String,
                   maxHamming: Int = 3): DataFrame = {
    val sigs = simhashSigs(spark, dir).cache()
    // (shift, width) of the 6 blocks covering bits 0..63
    val blocks = Seq((0, 11), (11, 11), (22, 11), (33, 11), (44, 10), (54, 10))
    def block(b: Int) = shiftright(col("simhash"), blocks(b)._1)
      .bitwiseAND(lit((1L << blocks(b)._2) - 1))
    val banded = sigs.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 6).combinations(3).toSeq.map { c =>
        block(c(0)) * lit(1L << 22) + block(c(1)) * lit(1L << 11) + block(c(2))
      }: _*)).as(Seq("band", "bkey")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"),
        col("x.simhash").as("sa"), col("y.simhash").as("sb"))
      .distinct()
    cand
      .withColumn("hamming", bit_count(col("sa").bitwiseXOR(col("sb"))).cast("int"))
      .filter(col("hamming") <= maxHamming)
      .select(col("a"), col("b"), col("hamming"))
      .orderBy("a", "b")
  }

  /** Span-level exact substring dedup (the Lee et al. 2022
    * "Deduplicating Training Data" shape): slide a fixed window of
    * `win` chars with stride `stride` over the normalized text, hash
    * each window with md5, and report every span hash that occurs in
    * ≥ 2 distinct documents. Unlike the whole-doc dedup family above,
    * this finds REPEATED PASSAGES inside otherwise-distinct documents
    * — the boilerplate/quote/license-block class of duplication.
    *
    * Scale: window hashing is map-side (explode of a per-row
    * sequence); the shuffle carries (16-byte digest, doc_id), never
    * text, and the stride divides shuffle volume by `stride`. The
    * ≥2-doc HAVING filter runs inside the partial agg. md5 keeps the
    * whole pipeline DuckDB-recomputable, so this query is
    * oracle-hash-checked end-to-end.
    */
  def spanDedup(spark: SparkSession, dir: String,
                win: Int = 40, stride: Int = 10): DataFrame = {
    // explicit whitespace class, NOT \s: Java \s includes U+000B but
    // RE2 (DuckDB) \s does not — the explicit class is identical under
    // both engines, so oracle hash parity can't silently break on a
    // vertical-tab-bearing document
    val norm = lower(regexp_replace(col("text"), "[ \\t\\n\\f\\r\\x0B]+", " "))
    // fanOutScan (r21 wave 2, guide §2.5): the per-window md5 explode
    // ran in the single-split scan task; conditional no-op at scale,
    // and the span aggregate is partitioning-independent.
    Tables.fanOutScan(Tables.documents(spark, dir)
        .select(col("doc_id"), col("text")))
      .select(col("doc_id"), norm.as("n"))
      .where(length(col("n")) >= win)
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), length(col("n")) - (win - 1), lit(stride)),
          p => md5(col("n").substr(p, lit(win))))).as("span_md5"))
      .groupBy("span_md5")
      .agg(
        countDistinct("doc_id").as("n_docs"),
        count(lit(1)).as("n_hits"),
        min("doc_id").as("first_doc"))
      .where(col("n_docs") >= 2)
      .orderBy("span_md5")
  }

  /** The cut list [[spanDedup]] feeds: per document, merge the
    * duplicated span windows into maximal regions (the classic
    * gaps-and-islands merge — running max of interval ends marks
    * region starts, a running sum numbers them) and report how many
    * chars of the doc are cross-document duplicated. This is the
    * actionable output of substring dedup: the char ranges a curation
    * pass would excise.
    *
    * Scale: same digest-only shuffle as spanDedup for the duplicated-
    * hash set; the islands windows partition by doc_id, so per-task
    * state is one document's hit list (≤ len/stride rows) — never the
    * corpus.
    */
  def spanRegions(spark: SparkSession, dir: String,
                  win: Int = 40, stride: Int = 10): DataFrame = {
    // same explicit whitespace class as spanDedup (Java-vs-RE2 \s parity)
    val norm = Tables.documents(spark, dir)
      .select(col("doc_id"),
        lower(regexp_replace(col("text"), "[ \\t\\n\\f\\r\\x0B]+", " ")).as("n"))
    // hash every window exactly ONCE: the span stream is materialized
    // (localCheckpoint) and both consumers — the duplicated-hash set
    // and the join back — read the stored rows. Deliberately NOT a
    // per-hash collect_list: a boilerplate span shared corpus-wide
    // would concentrate its whole hit list in one task's array,
    // whereas the join streams those rows through a shuffle.
    // fanOutScan (r22, the r21-wave-2 pattern + r21 ADVICE: this site
    // was missed — its corpus-sized per-window md5 explode still ran
    // in the single-split scan task): conditional no-op at scale, and
    // the span stream sits behind the lazy checkpoint, so the visible
    // post-checkpoint plan is unchanged. The doc_chars join below
    // deliberately keeps reading the unfanned scan (cheap projection).
    val spans = Tables.fanOutScan(norm)
      .where(length(col("n")) >= win)
      .select(col("doc_id"), col("n"),
        explode(sequence(lit(1), length(col("n")) - (win - 1), lit(stride))).as("p"))
      .select(col("doc_id"), col("p").cast("long").as("p"),
        md5(col("n").substr(col("p"), lit(win))).as("h"))
      .localCheckpoint(eager = false) // lazy: plan construction stays
      // action-free (the analysis-only smoke tests don't run a job);
      // the RDD is persisted at first compute, both consumers reuse it
    val dups = spans.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2)
      .select(col("h"))
    val hits = spans.join(dups, "h")
      .select(col("doc_id"), col("p"))
    val byDoc = Window.partitionBy("doc_id").orderBy("p")
    val regions = hits
      .withColumn("prev_end",
        max(col("p") + win).over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_reg",
        when(col("prev_end").isNull || col("p") > col("prev_end"), 1L).otherwise(0L))
      .withColumn("reg",
        sum(col("new_reg")).over(byDoc.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "reg")
      .agg(min(col("p")).as("rs"), max(col("p") + win).as("re"))
    regions
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_regions"),
        sum(col("re") - col("rs")).as("dup_chars"))
      .join(norm.select(col("doc_id"), length(col("n")).cast("long").as("doc_chars")),
        "doc_id")
      .select(col("doc_id"), col("n_regions"), col("dup_chars"), col("doc_chars"),
        round(col("dup_chars") / col("doc_chars").cast("double"), 6).as("dup_ratio"))
      .orderBy("doc_id")
  }
}
