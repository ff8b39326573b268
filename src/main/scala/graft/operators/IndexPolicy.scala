package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.LongType

/** Policy and bookkeeping shared by the index families: the
  * lifecycle steps written once for all of them — read resolution
  * ([[readPoint]]: live, as-of and snapshot serves), near-dup and
  * IVF tombstone removal, fold-due and health card ([[Tombstoned]];
  * bm25's segment-count budget is a genuinely different knob and
  * stays in [[TextAnalysis]]), the stream-batch gate
  * ([[streamBatch]]), the snapshot-retention scope and
  * snapshot-as-of drill — and the POINTER-COMMIT protocol every
  * index mutation publishes through, in one of three write shapes:
  * [[rebuild]] (build, retrain), [[rewriteEpoch]] (refresh, segment
  * append, compact) and [[appendGen]] (check-in, vector append,
  * removal). Each owns its steps' order and its crash point
  * ([[AfterEpoch]], [[AfterRows]]); a family passes in only its writes.
  *
  * ==Pointer-commit protocol== (r16 verdict #1 — the port of the old
  * rename-swap design note): each index root holds exactly ONE small
  * mutable object, the manifest file `current`. Everything else is
  * IMMUTABLE once referenced: rewrites (build, refresh, compact,
  * retrain) write their output under fresh uniquely-named epoch dirs
  * (`idx/ep/e-<token>/...`), appends add rows/files to dirs the
  * manifest already references (made visible only by the generation
  * watermark the manifest carries), and the single commit step of any
  * mutation is an atomic replace of `current`. Consequences:
  *
  *  - READERS NEVER FAIL during healthy mutations: a serve resolves
  *    the manifest once and reads the immutable dirs it names; a
  *    mutation that commits mid-serve cannot touch those dirs. A crash
  *    mid-mutation leaves a stale pointer — the last committed
  *    generation keeps serving (no sentinel, no fail-fast window).
  *  - OBJECT-STORE SAFE: the only atomicity requirement is awarding
  *    each manifest version to exactly one writer. The requirement is
  *    a SEAM ([[PointerStore]]) with one store per storage class: on
  *    S3-compatible stores one conditional PUT of `current`
  *    ([[S3PointerStore]]); on HDFS/local a create-exclusive version
  *    chain (`clog/v-<n>`, the Delta `_delta_log` discipline,
  *    [[FsPointerStore]]) — create(2)/link(2) with O_EXCL is atomic
  *    across processes on any real filesystem. The specs drive both
  *    stores, the S3 one over a loopback S3-compatible fake. No
  *    multi-object rename window exists anywhere.
  *  - GC is decoupled from commit: dirs a crashed or superseded
  *    mutation left behind are unreferenced by the current manifest
  *    (and every retained snapshot) and reclaimed by [[sweep]] at the
  *    START of the next mutation, giving in-flight readers of the
  *    previous manifest a full mutation interval of grace; a
  *    production deployment widens that with the dereference-time
  *    grace window and the snapshot log (the Iceberg expire-snapshots
  *    discipline, both implemented below).
  *  - WRITERS are safe too (r17 verdict #1): mutations run under the
  *    per-index writer lease of [[mutate]] (heartbeat-renewed, so a
  *    long fold is never presumed dead while alive), and every
  *    [[publish]] awards its version through a genuinely atomic
  *    primitive — two overlapping writers can never silently lose a
  *    commit; the loser fails loudly and its fully-written output
  *    stays unreferenced garbage.
  *
  * The manifest carries the layout stamp (validated by every read — an
  * index written under different directory-hash constants would be
  * silently misread), the mutation-generation watermarks behind
  * in-place appends and as-of reads, the per-table epoch pointers, and
  * (bm25) the bucket→epoch map and committed segment list.
  */
private[graft] object IndexPolicy {

  // ---------------------------------------------------------------
  // pointer-object store — the ONE mutable surface per index. The
  // mutable objects (the manifest, the `snaps/v-*` log, the writer
  // lease `wlock`) all go through [[PointerStore]]; the data
  // (epoch/segment parquet dirs) is immutable and never does. The
  // commit step needs exactly one primitive per storage class, and
  // each class has one store with a genuinely atomic one:
  //  - [[S3PointerStore]] commits with the conditional PUT of an
  //    S3-compatible object store (If-Match / If-None-Match) — one
  //    compare-and-swap of the single `current` object.
  //  - [[FsPointerStore]] commits through a create-exclusive VERSION
  //    CHAIN (`clog/v-<n>`, the Delta `_delta_log` discipline):
  //    create(2)/link(2) with O_EXCL IS atomic across processes on
  //    any real filesystem, so awarding version n+1 to exactly one
  //    writer needs no read-compare-replace approximation at all.
  // On either store [[publish]] alone is lost-update-safe, lease or
  // no lease; the writer lease remains purely a LIVENESS layer (it
  // serializes whole mutations so losers wait instead of wasting a
  // full rewrite to lose the swing).
  // ---------------------------------------------------------------

  /** Local filesystem path of an index root, when it has one: bare
    * absolute paths AND `file:`-schemed URIs (r17 verdict #2: the
    * latter used to fall through to the Hadoop branch and its weaker
    * replace primitive, so the reads-never-fail contract held only on
    * bare paths). The replace-in-place primitive differs per store;
    * see [[FsPointerStore.put]].
    */
  private def localPathOf(s: String): Option[String] =
    if (s.startsWith("/")) Some(s)
    else if (s.startsWith("file:"))
      // a file: string that is not a LEGAL URI (spaces, brackets)
      // falls through to the Hadoop branch, whose Path constructor
      // encodes such characters — never throw on the read path
      try Option(java.net.URI.create(s).getPath).filter(_.nonEmpty)
      catch { case _: IllegalArgumentException => None }
    else None

  /** The store one index's pointer objects live in. `dir` is the
    * directory the object sits in (the index root for `current` and
    * `wlock`, `<root>/snaps` for the log, `<root>/clog` for the
    * chain), `name` the flat object name. [[storeFor]] picks
    * [[S3PointerStore]] for roots under [[S3RootsConf]] and
    * [[FsPointerStore]] for everything else.
    */
  private[graft] sealed trait PointerStore {
    def get(spark: SparkSession, dir: String, name: String): Option[String]
    /** Unconditional ATOMIC replace — readers see the complete old or
      * complete new value, never an absence or a prefix.
      */
    def put(spark: SparkSession, dir: String, name: String,
            value: String): Unit
    /** CONDITIONAL replace: commit iff the object currently holds
      * exactly `expected` (None = must not exist) — the pointer-swing
      * primitive. Genuinely atomic only when [[atomicCas]] is true.
      */
    def putIfMatch(spark: SparkSession, dir: String, name: String,
                   expected: Option[String], value: String): Boolean
    /** Create-exclusive (the lease acquire): commit iff absent. */
    def putIfAbsent(spark: SparkSession, dir: String, name: String,
                    value: String): Boolean
    def delete(spark: SparkSession, dir: String, name: String): Unit
    /** Conditional delete: remove iff the object currently holds
      * exactly `expected` — the stale-lease-break primitive (a plain
      * read-compare-delete can remove a lock another writer JUST
      * acquired, r18 review). Atomic on the S3 store; in-JVM-atomic on
      * the filesystem store.
      */
    def deleteIfMatch(spark: SparkSession, dir: String, name: String,
                      expected: String): Boolean
    /** Names (flat, under `dir`) starting with `prefix`. */
    def list(spark: SparkSession, dir: String, prefix: String): Seq[String]
    /** Last-modified wall-clock of an object, if it exists — drives
      * the version chain's AGE-based retention ([[chainKeepMs]]).
      */
    def modifiedAt(spark: SparkSession, dir: String,
                   name: String): Option[Long]
    /** Drop every pointer object of index `root` except `except` — the
      * store-side half of [[clearForRebuild]].
      */
    def purge(spark: SparkSession, root: String, except: String): Unit
    /** Whether [[putIfMatch]] is one atomic primitive (an object
      * store's conditional PUT). Selects the COMMIT strategy: the S3
      * store swings the single `current` object conditionally; a
      * store without the primitive commits through the
      * create-exclusive version chain instead ([[chainCommit]]), so
      * its [[putIfMatch]] (same-JVM-atomic only) is never on the
      * commit path — it serves the lease heartbeat alone.
      */
    def atomicCas: Boolean
  }

  /** Comma-separated path PREFIXES; an index root equal to one (or
    * under it) routes its pointer objects through [[S3PointerStore]].
    * Data dirs stay on the real path — only the mutable pointer
    * surface moves. Prefix match, never substring containment (r18
    * ADVICE: a short or generic entry like `/tmp` would silently move
    * unrelated indexes' pointers into the object store). Requires
    * `spark.graft.index.s3.endpoint` / `.bucket` (and credentials).
    */
  private[graft] val S3RootsConf = "spark.graft.index.s3.roots"

  private def storeFor(spark: SparkSession, dir: String): PointerStore =
    if (spark.conf.get(S3RootsConf, "").split(",").map(_.trim)
        .exists(s => s.nonEmpty && (dir == s || dir.startsWith(s + "/"))))
      S3PointerStore
    else FsPointerStore

  private def readAtomicFile(spark: SparkSession, dir: String,
                             name: String): Option[String] =
    storeFor(spark, dir).get(spark, dir, name)

  private def writeAtomicFile(spark: SparkSession, dir: String,
                              name: String, content: String): Unit =
    storeFor(spark, dir).put(spark, dir, name, content)

  /** Filesystem pointer store — local nio and Hadoop-FS paths.
    *
    * READ: local filesystems (every fixture and test) go through raw
    * nio so writes and reads agree on the no-checksum-sidecar
    * representation of [[put]]'s atomic replace. Recovery branch
    * (non-local stores, or a manually restored dir): if the main file
    * is missing but a fully-written `.{name}_tmp` exists, the VALUE is
    * recovered from the tmp and the reinstating rename is best-effort
    * only — a read must never fail because a concurrent reader won the
    * rename race or the index lives on a read-only snapshot.
    *
    * WRITE (the atomic-replace primitive behind [[put]] — the
    * snapshot-log copies, not the commit swing, which goes through
    * the version chain's [[putIfAbsent]]): on a local filesystem,
    * temp-write + one rename(2) with REPLACE_EXISTING + ATOMIC_MOVE
    * (raw nio, so no Hadoop checksum sidecar can go stale) — a
    * concurrent reader sees the complete old or complete new value,
    * NEVER an absence (r17 review: the previous delete-then-rename
    * had a window where a racing read threw, and a reader's tmp
    * recovery could abort a committed write). On HDFS-like stores the same
    * contract holds via FileContext.rename(Options.Rename.OVERWRITE)
    * — the atomic rename2 primitive (r17 verdict #2).
    */
  private[graft] object FsPointerStore extends PointerStore {
    def atomicCas: Boolean = false

    /** Per-object JVM-wide monitors for the conditional ops
      * ([[putIfMatch]], [[deleteIfMatch]]). Since r19 the COMMIT path
      * never uses these: publish on a filesystem store goes through
      * the create-exclusive version chain ([[chainCommit]]), whose
      * putIfAbsent is a single atomic syscall with no monitor in the
      * path — cross-process-safe on its own. The monitors remain only
      * for the lease-liveness ops (heartbeat re-stamp, stale-break,
      * conditional release), where same-JVM atomicity plus the
      * commit-layer safety net is exactly enough.
      */
    private val monitors =
      new java.util.concurrent.ConcurrentHashMap[String, Object]()
    private def monitorFor(k: String): Object =
      monitors.computeIfAbsent(k, _ => new Object)

    def get(spark: SparkSession, dir: String,
            name: String): Option[String] = {
      localPathOf(dir) match {
        case Some(local) => return getLocal(local, name)
        case None =>
      }
      val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
      val tmp = new org.apache.hadoop.fs.Path(s"$dir/.${name}_tmp")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      def readAll(q: org.apache.hadoop.fs.Path): String = {
        val buf = new Array[Byte](fs.getFileStatus(q).getLen.toInt)
        val in = fs.open(q)
        try in.readFully(0L, buf) finally in.close()
        new String(buf, java.nio.charset.StandardCharsets.UTF_8).trim
      }
      // exists→read is not atomic: a concurrent prune/expiry can
      // delete between the two — an object that vanished mid-read is
      // simply absent NOW, never a reader failure
      if (fs.exists(p))
        try return Some(readAll(p))
        catch { case _: java.io.FileNotFoundException => }
      if (fs.exists(tmp)) {
        val v =
          try readAll(tmp)
          catch { // lost a recovery race: the winner reinstated p
            case e: java.io.IOException if fs.exists(p) => readAll(p)
          }
        try fs.rename(tmp, p) catch { case _: java.io.IOException => }
        Some(v)
      } else None
    }

    /** Local (nio) half of [[get]]: the replace is one atomic
      * rename(2), so the main file is the complete old or complete new
      * value. A leftover COMPLETE tmp with no main file can only be a
      * crash before the very first publish (or a manual restore) —
      * recover it; the reinstating move is best-effort (a concurrent
      * reader may win it, and the value already read stays correct).
      */
    private def getLocal(local: String, name: String): Option[String] = {
      import java.nio.file.{Files, Paths}
      val p = Paths.get(s"$local/$name")
      val tmp = Paths.get(s"$local/.${name}_tmp")
      // exists→read is not atomic: a concurrent prune/expiry can
      // delete between the two (the no-lease hammer surfaced this as
      // reader NoSuchFileException under load) — an object that
      // vanished mid-read is simply absent NOW
      if (Files.exists(p))
        try return Some(new String(Files.readAllBytes(p),
          java.nio.charset.StandardCharsets.UTF_8).trim)
        catch { case _: java.nio.file.NoSuchFileException => }
      if (Files.exists(tmp))
        try {
          val v = new String(Files.readAllBytes(tmp),
            java.nio.charset.StandardCharsets.UTF_8).trim
          try Files.move(tmp, p)
          catch { case _: java.io.IOException => } // lost the race: fine
          Some(v)
        } catch { case _: java.nio.file.NoSuchFileException => None }
      else None
    }

    def put(spark: SparkSession, dir: String, name: String,
            value: String): Unit =
      localPathOf(dir) match {
        case Some(local) =>
          import java.nio.file.{Files, Paths, StandardCopyOption}
          Files.createDirectories(Paths.get(local))
          val tmp = Paths.get(s"$local/.${name}_tmp")
          Files.write(tmp,
            value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          Files.move(tmp, Paths.get(s"$local/$name"),
            StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        case None => writeAtomicHadoop(spark, dir, name, value)
      }

    /** Re-read + compare, atomic replace, verify re-read, under the
      * per-object monitor — genuinely conditional same-JVM, an
      * approximation across processes. NOT in the commit path (the
      * manifest swing uses [[chainCommit]]'s create-exclusive chain,
      * atomic cross-process); used only for the lease heartbeat's
      * conditional re-stamp, where a cross-process near-miss costs at
      * worst a loudly-failed mutation, never a lost commit.
      */
    def putIfMatch(spark: SparkSession, dir: String, name: String,
                   expected: Option[String], value: String): Boolean =
      monitorFor(s"$dir/$name").synchronized {
        if (get(spark, dir, name) != expected) false
        else {
          put(spark, dir, name, value)
          get(spark, dir, name).contains(value)
        }
      }

    def deleteIfMatch(spark: SparkSession, dir: String, name: String,
                      expected: String): Boolean =
      monitorFor(s"$dir/$name").synchronized {
        if (!get(spark, dir, name).contains(expected)) false
        else { delete(spark, dir, name); true }
      }

    /** Create-exclusive WITH atomic content on local filesystems: the
      * value is fully written to a private tmp file and the visible
      * name is created by one hard link — link(2) either lands the
      * complete object or throws EEXIST, so a crash can never leave a
      * half-written object under the committed name. This is what
      * lets the version-chain commit ([[chainCommit]]) treat every
      * existing chain entry as a complete committed state. Filesystems
      * without hard links fall back to CREATE_NEW (create + write are
      * then two steps; the chain-commit torn-entry repair covers it).
      */
    def putIfAbsent(spark: SparkSession, dir: String, name: String,
                    value: String): Boolean =
      localPathOf(dir) match {
        case Some(local) =>
          import java.nio.file.{Files, Paths}
          val bytes = value.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          Files.createDirectories(Paths.get(local))
          val target = Paths.get(s"$local/$name")
          if (Files.exists(target)) return false
          val tmp = Paths.get(s"$local/.${name}_pia_" +
            java.util.UUID.randomUUID().toString.take(8))
          try {
            Files.write(tmp, bytes)
            try { Files.createLink(target, tmp); true }
            catch {
              case _: java.nio.file.FileAlreadyExistsException => false
              case _: UnsupportedOperationException =>
                try {
                  Files.write(target, bytes,
                    java.nio.file.StandardOpenOption.CREATE_NEW)
                  true
                } catch {
                  case _: java.nio.file.FileAlreadyExistsException => false
                }
            }
          } finally { Files.deleteIfExists(tmp); () }
        case None =>
          val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          try {
            val out = fs.create(p, false)
            try out.write(
              value.getBytes(java.nio.charset.StandardCharsets.UTF_8))
            finally out.close()
            true
          } catch {
            // ONLY already-exists means "held" — a generic IOException
            // (outage, quota, permission) must surface as itself, not
            // spin the caller through its full lease-wait budget and a
            // misleading concurrent-writer diagnosis (r18 review)
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
          }
      }

    def delete(spark: SparkSession, dir: String, name: String): Unit =
      localPathOf(dir) match {
        case Some(local) =>
          java.nio.file.Files.deleteIfExists(
            java.nio.file.Paths.get(s"$local/$name"))
          ()
        case None =>
          val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
          p.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(p, false)
          ()
      }

    def list(spark: SparkSession, dir: String,
             prefix: String): Seq[String] =
      localPathOf(dir) match {
        case Some(local) =>
          // null on a dir deleted between the check and the listing
          // (or an IO hiccup) — absent either way
          Option(new java.io.File(local).list()).fold(Seq.empty[String])(
            _.toSeq.filter(_.startsWith(prefix)))
        case None =>
          val p = new org.apache.hadoop.fs.Path(dir)
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          try fs.listStatus(p).map(_.getPath.getName).toSeq
            .filter(_.startsWith(prefix))
          catch { case _: java.io.FileNotFoundException => Seq.empty }
      }

    /** No-op: filesystem pointer objects live under the index dir
      * itself, so [[clearForRebuild]]'s directory delete removes them.
      */
    def purge(spark: SparkSession, root: String, except: String): Unit = ()

    def modifiedAt(spark: SparkSession, dir: String,
                   name: String): Option[Long] =
      localPathOf(dir) match {
        case Some(local) =>
          try Some(java.nio.file.Files.getLastModifiedTime(
            java.nio.file.Paths.get(s"$local/$name")).toMillis)
          catch { case _: java.io.IOException => None }
        case None =>
          val p = new org.apache.hadoop.fs.Path(s"$dir/$name")
          val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
          // IOException, not just FileNotFound (r19 verdict #1): the
          // only caller is chain retention, where "unknown mtime" is
          // the safe never-prune direction and a transient store error
          // must not propagate out of a commit that already landed
          try Some(fs.getFileStatus(p).getModificationTime)
          catch { case _: java.io.IOException => None }
      }
  }

  /** Conf-gated S3-compatible pointer store — the object-store
    * binding of the conditional-PUT commit: pointer objects live as
    * `<bucket>/<index-path>/<name>` on any endpoint speaking the S3
    * REST dialect WITH conditional writes (AWS S3 since 2024-11,
    * MinIO, GCS interop). The swing primitive is one conditional PUT:
    * `If-None-Match: *` for create-exclusive, `If-Match: <etag>` —
    * after verifying the read content — for the compare-and-swap, so
    * a concurrent replace between the read and the PUT fails with 412
    * instead of silently losing the commit. Data epochs stay parquet
    * on the data path; only the mutable pointer surface moves. Conf:
    * `spark.graft.index.s3.{endpoint,bucket,region,access,secret}`
    * (credentials fall back to the standard AWS env vars). The specs
    * drive it over a loopback S3-compatible fake that checks every
    * request's signature (SigV4Spec, LayoutSpec), or over a real
    * endpoint when GRAFT_S3_TEST_ENDPOINT is set.
    */
  private[graft] object S3PointerStore extends PointerStore {
    import java.nio.charset.StandardCharsets.UTF_8

    def atomicCas: Boolean = true

    private val clients = new java.util.concurrent.ConcurrentHashMap[
      (String, String, String, String, String), S3Http]()

    private def cli(spark: SparkSession): S3Http = {
      val ep = spark.conf.get("spark.graft.index.s3.endpoint")
      val bucket = spark.conf.get("spark.graft.index.s3.bucket")
      val region = spark.conf.get("spark.graft.index.s3.region", "us-east-1")
      val access = spark.conf.get("spark.graft.index.s3.access",
        sys.env.getOrElse("AWS_ACCESS_KEY_ID", ""))
      val secret = spark.conf.get("spark.graft.index.s3.secret",
        sys.env.getOrElse("AWS_SECRET_ACCESS_KEY", ""))
      clients.computeIfAbsent((ep, bucket, region, access, secret),
        _ => new S3Http(ep, bucket, region, access, secret))
    }

    private def key(dir: String, name: String) =
      s"${dir.stripPrefix("/")}/$name"

    /** 2xx success; the listed statuses map to the primitive's false/
      * absent; anything else is a loud store error (the putIfAbsent
      * r18 rule: an outage must never read as "held").
      */
    private def expect(st: Int, body: Array[Byte], ok: Int => Boolean,
                       what: String): Boolean =
      if (st / 100 == 2) true
      else if (ok(st)) false
      else throw new java.io.IOException(
        s"S3 $what failed: HTTP $st ${new String(body, UTF_8).take(200)}")

    /** Content and ETag of object `k`, None when absent. Any other
      * status is a store error, never "absent" or "mismatch" (the r18
      * rule again): the conditional ops read through this, so a
      * rejected signature cannot pass for a lost compare.
      */
    private def read(spark: SparkSession,
                     k: String): Option[(String, String)] = {
      val (st, body, etag) = cli(spark).request("GET", k)
      if (st == 404) None
      else if (st == 200 && etag.isDefined)
        Some((new String(body, UTF_8).trim, etag.get))
      else throw new java.io.IOException(
        s"S3 GET $k failed: HTTP $st ${new String(body, UTF_8).take(200)}")
    }

    def get(spark: SparkSession, dir: String,
            name: String): Option[String] =
      read(spark, key(dir, name)).map(_._1)

    def put(spark: SparkSession, dir: String, name: String,
            value: String): Unit = {
      val (st, body, _) =
        cli(spark).request("PUT", key(dir, name), body = value.getBytes(UTF_8))
      expect(st, body, _ => false, s"PUT ${key(dir, name)}")
      ()
    }

    def putIfAbsent(spark: SparkSession, dir: String, name: String,
                    value: String): Boolean = {
      val (st, body, _) = cli(spark).request("PUT", key(dir, name),
        body = value.getBytes(UTF_8),
        extra = Seq("If-None-Match" -> "*"))
      // 412 = exists; 409 = a concurrent conflicting write lost the
      // race (AWS surfaces either depending on timing) — both "held"
      expect(st, body, s => s == 412 || s == 409,
        s"conditional PUT ${key(dir, name)}")
    }

    /** Read-verify the CONTENT equals `expected`, then swap
      * conditionally on the exact ETag of that read — the If-Match
      * PUT is the atomic step, so a writer that replaces the object
      * between our read and our PUT fails us with 412 (never a lost
      * update). Content-compare first keeps the [[PointerStore]]
      * contract (expected is a value, not a version tag). An If-Match
      * write to a key deleted since the read answers 404 on S3: the
      * compare failed, so that is false too.
      */
    def putIfMatch(spark: SparkSession, dir: String, name: String,
                   expected: Option[String], value: String): Boolean =
      expected match {
        case None => putIfAbsent(spark, dir, name, value)
        case Some(e) => read(spark, key(dir, name)) match {
          case Some((cur, etag)) if cur == e.trim =>
            val (st, body, _) = cli(spark).request("PUT", key(dir, name),
              body = value.getBytes(UTF_8), extra = Seq("If-Match" -> etag))
            expect(st, body, s => s == 412 || s == 409 || s == 404,
              s"conditional PUT ${key(dir, name)}")
          case _ => false
        }
      }

    /** Honesty note on store coverage: conditional DELETE (If-Match)
      * is honored by MinIO and S3 directory buckets; a store that
      * silently IGNORES the header degrades this op to read-verify +
      * unconditional delete — the FsPointerStore-grade approximation,
      * affecting only the lease-liveness ops (release, stale-break,
      * claim-break), never the COMMIT path: the swing is [[putIfMatch]]'s
      * conditional PUT, which every store with conditional writes
      * honors. Verify DELETE+If-Match support when onboarding a store.
      */
    def deleteIfMatch(spark: SparkSession, dir: String, name: String,
                      expected: String): Boolean =
      read(spark, key(dir, name)) match {
        case Some((cur, etag)) if cur == expected.trim =>
          val (st, body, _) = cli(spark).request("DELETE", key(dir, name),
            extra = Seq("If-Match" -> etag))
          expect(st, body, s => s == 412 || s == 409 || s == 404,
            s"conditional DELETE ${key(dir, name)}")
        case _ => false
      }

    def delete(spark: SparkSession, dir: String, name: String): Unit = {
      val (st, body, _) = cli(spark).request("DELETE", key(dir, name))
      expect(st, body, _ == 404, s"DELETE ${key(dir, name)}")
      ()
    }

    def list(spark: SparkSession, dir: String,
             prefix: String): Seq[String] = {
      val under = key(dir, prefix)
      val lead = key(dir, "")
      cli(spark).listKeys(under)
        .map(_.stripPrefix(lead)).filterNot(_.contains("/"))
    }

    def purge(spark: SparkSession, root: String, except: String): Unit = {
      val lead = key(root, "")
      cli(spark).listKeys(lead).foreach { k =>
        if (k != key(root, except)) {
          val (st, body, _) = cli(spark).request("DELETE", k)
          expect(st, body, _ == 404, s"DELETE $k")
          ()
        }
      }
    }

    /** Unknown: this store commits through the conditional PUT, not
      * the version chain, so nothing ages by mtime here (and
      * Last-Modified's second granularity would be useless to the
      * chain's age gate anyway).
      */
    def modifiedAt(spark: SparkSession, dir: String,
                   name: String): Option[Long] = None
  }

  /** Hadoop-store half of [[writeAtomicFile]], separated so the
    * OVERWRITE-rename mechanics stay unit-testable even though every
    * local path routes to the nio branch above: temp-write then ONE
    * FileContext.rename(OVERWRITE) — no delete window, so a racing
    * reader of `current` sees the complete old or complete new value
    * and a reader-side tmp recovery can never abort this commit (the
    * overwrite simply lands on top of whatever was reinstated).
    */
  private[graft] def writeAtomicHadoop(spark: SparkSession, idx: String,
                                       name: String, content: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(idx).getFileSystem(conf)
    val p = fs.makeQualified(new org.apache.hadoop.fs.Path(s"$idx/$name"))
    val tmp = fs.makeQualified(
      new org.apache.hadoop.fs.Path(s"$idx/.${name}_tmp"))
    // the write path goes through FileContext where the store binds
    // one: its local AbstractFileSystem is raw (no client-side
    // checksum sidecar that a rename would strand), and on HDFS
    // rename2's OVERWRITE is the atomic replace. Stores WITHOUT an
    // AbstractFileSystem binding (stock s3a/gs/abfs) fall back to the
    // FileSystem delete+rename — non-atomic, with the reader-side tmp
    // recovery closing the crash window; a production object-store
    // deployment should commit via one conditional PUT instead (the
    // protocol's only atomicity requirement).
    val fcOpt =
      try Some(org.apache.hadoop.fs.FileContext.getFileContext(p.toUri, conf))
      catch {
        case _: org.apache.hadoop.fs.UnsupportedFileSystemException => None
      }
    fcOpt match {
      case Some(fc) =>
        val out = fc.create(tmp,
          java.util.EnumSet.of(org.apache.hadoop.fs.CreateFlag.CREATE,
            org.apache.hadoop.fs.CreateFlag.OVERWRITE),
          org.apache.hadoop.fs.Options.CreateOpts.createParent())
        try out.write(
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
      case None =>
        val out = fs.create(tmp, true)
        try out.write(
          content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        require(!fs.exists(p) || fs.delete(p, false),
          s"writeAtomicHadoop: could not clear $p")
        require(fs.rename(tmp, p),
          s"writeAtomicHadoop: rename $tmp -> $p failed")
    }
  }

  // ---------------------------------------------------------------
  // the manifest
  // ---------------------------------------------------------------

  /** Flat key→value map, serialized one `k=v` line per key (values may
    * contain '=' — parsing splits on the first only). Raw FS I/O, NOT
    * a Spark job: it rides every read and mutation.
    */
  type Manifest = Map[String, String]

  private val ManifestName = "current"

  private def parseManifest(s: String): Manifest =
    s.split("\n").map(_.trim).filter(_.nonEmpty).map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap

  // ---------------------------------------------------------------
  // version chain (r18 verdict #1 — cross-process atomic commit on
  // plain filesystems): the S3 store commits by one conditional PUT of
  // the single `current` object; a FILE store has no native
  // conditional replace, but it HAS a genuinely atomic cross-process
  // primitive — create-exclusive. So the file-store commit is a
  // create-exclusive version CHAIN (the Delta `_delta_log`
  // discipline): publishing version n+1 means winning the
  // putIfAbsent of `clog/v-<n+1>`; the committed manifest is the
  // highest complete chain entry. Exactly one writer can ever own a
  // version — on stores with link(2) (entries land whole, no torn
  // state can exist) lost updates are structurally impossible across
  // processes, monitors or no monitors, lease or no lease. On
  // NO-HARDLINK stores a crash can leave a torn entry; its repair is
  // serialized by a create-exclusive claim ([[repairTornSlot]]), and
  // the one actor the claim cannot exclude — the torn entry's
  // original writer, still ALIVE mid-create-then-write — is excluded
  // by the lease, which such deployments must keep enabled. The chain
  // is pruned at publish (the tip plus a couple of predecessors stay,
  // so a reader that listed just before a commit still finds the
  // entry it chose). A file-store index has no `current` object: the
  // chain tip IS the committed manifest, so an index whose clog/ is
  // lost (partial restore, a copy tool skipping the dir) has no
  // committed state and every read and mutation of it fails fast.
  // ---------------------------------------------------------------

  private def clogDir(idx: String) = s"$idx/clog"

  /** Superseded chain entries kept behind the tip: a reader that
    * listed the chain immediately before a commit (or two) can still
    * read the entry it selected. Older entries are garbage — snapshot
    * retention (`snaps/v-*`), not the chain, is the time-travel log.
    */
  private val ChainKeepBack = 2

  /** Minimum AGE (ms) a superseded chain entry must reach before
    * pruning may delete it — the Delta logRetentionDuration
    * discipline, and a CORRECTNESS knob, not a convenience: the
    * create-exclusive award is exclusive only while the name exists.
    * The no-lease hammer caught the failure mode under load: a writer
    * stalled between its manifest read and its create-exclusive link
    * (a GC pause is enough) can otherwise land on a slot that was
    * committed AND eagerly pruned inside its stall window — the
    * create succeeds on the recycled name and mints a ZOMBIE commit
    * below the tip that readers never resolve, i.e. a silently lost
    * update reported as success. With the age window, minting a
    * zombie requires a stall LONGER than the window between read and
    * link — the default 10 minutes is two orders beyond any real
    * pause, and mutations under the heartbeat lease are bounded far
    * tighter. 0 restores eager pruning (test-only: it reopens the
    * window by construction).
    */
  private[graft] val ChainKeepMsConf = "spark.graft.index.clog.keep.ms"

  private def chainKeepMs(spark: SparkSession): Long =
    spark.conf.get(ChainKeepMsConf, "600000").toLong

  /** The committed chain tip: the highest `clog/v-<n>` whose content
    * parses back to version n. An entry failing that check is TORN (a
    * writer on a no-hardlink filesystem died between create and
    * write — [[FsPointerStore.putIfAbsent]] makes this impossible on
    * filesystems with link(2)): readers skip past it; the writer that
    * next needs its version repairs it ([[chainCommit]]).
    */
  private def chainTip(spark: SparkSession, idx: String,
                       store: PointerStore): Option[(Long, Manifest)] = {
    // bounded retry: a listing can go stale if ≥ ChainKeepBack+1
    // commits land (and prune) between the list and the reads — a
    // fresh listing always contains the newest tip, so losing the
    // race repeatedly per attempt decays geometrically
    var attempt = 0
    while (attempt < 5) {
      val vs = store.list(spark, clogDir(idx), "v-")
        .flatMap(_.drop(2).toLongOption).sorted.reverse
      if (vs.isEmpty) return None
      val tip = vs.iterator
        .map(v => store.get(spark, clogDir(idx), s"v-$v").map(parseManifest)
          .filter(versionOf(_).contains(v)).map(v -> _))
        .collectFirst { case Some(t) => t }
      if (tip.isDefined) return tip
      attempt += 1
    }
    throw new IllegalStateException(
      s"$idx: version chain unreadable after 5 fresh listings — every " +
        "listed clog entry vanished or was torn each time; the store is " +
        "pruning far faster than it can be read or is corrupting writes")
  }

  /** One retention pass over the chain: superseded entries go only
    * once BOTH the keep-count floor and the AGE window pass
    * ([[ChainKeepMsConf]] — deleting a young name would re-open
    * create-exclusivity for a writer stalled since before the commit,
    * the zombie-award hole the hammer caught); entries whose mtime
    * the store cannot produce are never pruned (the safe direction).
    *
    * STORE-clock-relative aging (r19 verdict missing #1): each slot's
    * age is measured against the mtime of the entry this commit just
    * created — BOTH timestamps then come from the store's own clock,
    * so a pruning writer whose local clock runs ahead of the store's
    * (NFS/HDFS multi-host estates) can no longer judge young slots
    * old and recycle their names. Local time is the fallback only
    * when the tip's mtime is unavailable. Also sweeps repair claims
    * ([[repairTornSlot]]) abandoned by dead repairers, aged the same
    * store-relative way against the wider of the two windows.
    *
    * Exposed `private[graft]` so the clock-skew spec can drive a
    * pass directly with back-dated store mtimes.
    */
  private[graft] def chainPrune(spark: SparkSession, idx: String,
                                store: PointerStore, v: Long): Unit = {
    if (armedPruneFaults.remove(idx))
      throw new java.io.IOException(
        s"injected store fault during chain retention of $idx")
    val keepMs = chainKeepMs(spark)
    lazy val storeNow = store.modifiedAt(spark, clogDir(idx), s"v-$v")
      .getOrElse(System.currentTimeMillis())
    store.list(spark, clogDir(idx), "v-")
      .flatMap(_.drop(2).toLongOption)
      .filter(_ <= v - ChainKeepBack - 1)
      .filter(o => keepMs <= 0L ||
        store.modifiedAt(spark, clogDir(idx), s"v-$o")
          .exists(at => storeNow - at >= keepMs))
      .foreach(o => store.delete(spark, clogDir(idx), s"v-$o"))
    val claimAge = math.max(keepMs, lockLeaseMs(spark))
    store.list(spark, clogDir(idx), ".repair_")
      .filter(c => store.modifiedAt(spark, clogDir(idx), c)
        .exists(at => storeNow - at >= claimAge))
      .foreach(c => store.delete(spark, clogDir(idx), c))
  }

  /** Retention must NEVER fail a commit that already landed (r19
    * verdict wrong #1): [[chainPrune]] runs after the version was
    * awarded, so a transient store error here would otherwise tell
    * the caller a COMMITTED mutation failed — and an orchestrator
    * that retries the whole mutation would re-read the new tip and
    * apply it a second time (double-append). GC is best-effort by
    * contract: log and continue; the next publish retries retention
    * over the same entries anyway.
    */
  private def chainPruneBestEffort(spark: SparkSession, idx: String,
                                   store: PointerStore, v: Long): Unit =
    try chainPrune(spark, idx, store, v)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[chain] $idx: retention pass failed AFTER " +
          s"the v-$v commit landed (${e.getClass.getSimpleName}: " +
          s"${e.getMessage}) — ignored; retention retries at the next " +
          "publish")
    }

  /** One-shot injected store fault inside the next [[chainPrune]]
    * pass for `idx` — test-only, the [[armCrash]] discipline: the
    * best-effort-GC spec proves a retention failure cannot fail a
    * landed commit with a REAL throw inside the real path.
    */
  private[graft] def armPruneFault(idx: String): Unit = {
    armedPruneFaults.add(idx)
    ()
  }

  private val armedPruneFaults =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Repair a TORN chain slot (a writer on a no-hardlink filesystem
    * died between create and write) under a content-keyed
    * create-exclusive REPAIR CLAIM, then retake the slot (r19 ADVICE
    * #1): the bare deleteIfMatch→putIfAbsent form is not atomic
    * cross-process — repairer B could pass the read-compare against
    * the torn bytes, stall, then delete the entry repairer A had
    * meanwhile repaired AND committed into the same slot, silently
    * losing A's commit. The claim closes that: `.repair_v-<v>-<md5 of
    * the torn bytes>` is awarded by putIfAbsent to exactly ONE
    * repairer per torn content, so no second actor ever runs the
    * delete+retake for the same wreckage; after the slot is
    * committed, a late claimant's deleteIfMatch fails its compare
    * (the slot no longer holds the torn bytes) and backs off. A claim
    * abandoned by a dead repairer is broken after the lease window
    * (and swept by [[chainPrune]]). The one actor the claim cannot
    * exclude is the torn entry's ORIGINAL writer, still alive and
    * completing its create-then-write — that shape exists only on
    * no-hardlink stores (link(2) lands entries whole) and is excluded
    * by the writer lease, which such deployments must keep enabled.
    */
  private def repairTornSlot(spark: SparkSession, idx: String,
                             store: PointerStore, v: Long,
                             torn: String, ser: String): Boolean = {
    System.err.println(s"[chain] $idx v-$v judged TORN " +
      s"(${torn.length} bytes): ${torn.take(120).replace("\n", "\\n")}")
    val claim = s".repair_v-$v-${md5hex8(torn)}"
    store.get(spark, clogDir(idx), claim) match {
      case Some(held) =>
        // staleness by the claim's own timestamp; a claim whose
        // content doesn't parse (itself torn on a no-hardlink store —
        // a crash between the claim's create and write) ages by store
        // mtime instead, because "never stale" would wedge the whole
        // version line forever: no publish of v can proceed, so not
        // even retention ever runs again (self-review r20). A claim
        // with neither a timestamp nor an mtime is breakable —
        // liveness over an unreachable corner.
        val now = System.currentTimeMillis()
        val age = held.trim.toLongOption.map(now - _)
          .orElse(store.modifiedAt(spark, clogDir(idx), claim)
            .map(now - _))
        // a LIVE claim: another repairer owns this torn content —
        // never touch the slot; fail loudly and let the caller retry
        // from a fresh manifest read (the claimant commits or dies)
        if (age.exists(_ <= lockLeaseMs(spark))) return false
        // dead repairer: break its claim conditionally on its bytes
        if (!store.deleteIfMatch(spark, clogDir(idx), claim, held))
          return false
      case None =>
    }
    if (!store.putIfAbsent(spark, clogDir(idx), claim,
        System.currentTimeMillis().toString)) return false
    try
      store.deleteIfMatch(spark, clogDir(idx), s"v-$v", torn) &&
        store.putIfAbsent(spark, clogDir(idx), s"v-$v", ser)
    finally store.delete(spark, clogDir(idx), claim)
  }

  /** Win version `v` on the chain, or report a genuine concurrent
    * commit. An occupied slot whose content does NOT parse back to
    * version v is a torn entry (never a committed state — committed
    * entries land whole, see [[FsPointerStore.putIfAbsent]]):
    * repaired under the exclusive claim of [[repairTornSlot]].
    */
  private def chainCommit(spark: SparkSession, idx: String,
                          store: PointerStore, v: Long,
                          ser: String): Boolean = {
    if (store.putIfAbsent(spark, clogDir(idx), s"v-$v", ser)) {
      chainPruneBestEffort(spark, idx, store, v); true
    } else store.get(spark, clogDir(idx), s"v-$v") match {
      case Some(c) if parseManifest(c).get(VersionKey)
          .contains(v.toString) => false // a concurrent writer owns v
      case Some(torn) =>
        repairTornSlot(spark, idx, store, v, torn, ser) &&
          { chainPruneBestEffort(spark, idx, store, v); true }
      case None =>
        // the slot was occupied an instant ago and is GONE now —
        // NEVER retake it (the no-lease hammer caught a double-award
        // here: commits landed and PRUNED the slot inside a slow
        // loser's fail→re-read window, and retaking it minted a
        // zombie commit below the tip — reported success, never
        // resolvable by readers, i.e. a lost update). Whether the
        // occupant was a since-pruned commit or a torn entry another
        // repairer consumed, the safe answer is the same: this
        // version is not ours — fail loudly and let the caller retry
        // from a fresh manifest read (liveness holds: some writer
        // committed or will commit this version).
        false
    }
  }

  private[graft] def readManifest(spark: SparkSession,
                                  idx: String): Option[Manifest] = {
    val store = storeFor(spark, idx)
    if (store.atomicCas)
      store.get(spark, idx, ManifestName).map(parseManifest)
    else chainTip(spark, idx, store).map(_._2)
  }

  /** The committed state of an index — fails only when the dir has no
    * manifest at all (a build that crashed before its publish, a dir
    * that is not an index, or a file-store index whose clog/ was
    * lost): there is no committed state to serve.
    */
  def manifestOf(spark: SparkSession, idx: String): Manifest =
    readManifest(spark, idx).getOrElse(
      throw new IllegalArgumentException(
        s"$idx has no manifest — the build crashed before committing, " +
          "the dir is not an index, or its clog/ version chain was " +
          "lost: restore clog/ from backup or (re)build it"))

  // ---------------------------------------------------------------
  // compare-and-swing + writer lease (r17 verdict #1): two layers
  // against the concurrent-writer lost update. The LEASE serializes
  // mutations (liveness: the loser waits, then fails loudly); the CAS
  // in [[publish]] is the safety net if lease discipline is ever
  // violated (a broken lease, a mutation bypassing [[mutate]]): the
  // swing verifies `current` still carries the version this mutation
  // read, so a concurrent commit can no longer be silently erased —
  // the loser's work stays unreferenced garbage for the next sweep.
  // ---------------------------------------------------------------

  private val VersionKey = "version"

  def versionOf(m: Manifest): Option[Long] = m.get(VersionKey).map(_.toLong)

  /** THE pointer swing — the single atomic commit step of every index
    * mutation. Everything the new manifest references must already be
    * fully written; everything it stops referencing becomes garbage
    * for the next mutation's [[sweep]]. Compare-and-swing: `m` must
    * carry the version of the committed manifest this mutation READ
    * (absent for the first publish into a fresh dir; the replaced
    * manifest's for a [[rebuild]]); if `current` moved underneath, the
    * swing throws and the mutation's fully-written output stays
    * invisible — retry the whole mutation. Returns the manifest as
    * published (version bumped) so multi-swing mutations
    * ([[appendGen]]) thread it forward. When
    * `spark.graft.index.snapshots.keep` > 0, every committed manifest
    * is also copied to an immutable `snaps/v-<version>` file — the
    * manifest LOG behind [[manifestAtSnapshot]] / [[expireSnapshots]].
    * `snapshot = false` suppresses the copy for MID-MUTATION swings
    * ([[allocGen]]'s watermark bump): snapshotting the gen-ahead
    * state would halve effective keep-count retention and fill the
    * log with states that serve the prior generation anyway (via
    * [[tornCeiling]]) under a different id (r18 review).
    */
  private[graft] def publish(spark: SparkSession, idx: String,
                             m: Manifest,
                             snapshot: Boolean = true): Manifest = {
    crashPoint(spark, idx, "before-swing")
    val store = storeFor(spark, idx)
    val expected = versionOf(m)
    // the committed version right now: the S3 store's single object,
    // or the chain tip
    val curSer: Option[String] =
      if (store.atomicCas) store.get(spark, idx, ManifestName) else None
    val cur: Option[Long] =
      if (store.atomicCas) curSer.map(parseManifest).flatMap(versionOf)
      else chainTip(spark, idx, store).map(_._1)
    if (cur != expected)
      throw new java.util.ConcurrentModificationException(
        s"$idx: manifest version moved underneath this mutation (read " +
          s"${expected.fold("none")(_.toString)}, now " +
          s"${cur.fold("none")(_.toString)}) — a concurrent writer " +
          "committed; this mutation's output is unreferenced garbage " +
          "(swept later). Retry the whole mutation under the writer lease.")
    val v = expected.getOrElse(-1L) + 1L
    val m2 = m + (VersionKey -> v.toString)
    val ser = m2.toSeq.sortBy(_._1)
      .map { case (k, x) => s"$k=$x" }.mkString("\n")
    // THE swing — one genuinely atomic primitive on EITHER store
    // class: a conditional PUT of `current` (expected = the exact
    // serialization this mutation read) on the S3 store, or winning
    // the create-exclusive chain slot `clog/v-<v>` on a file store.
    // Both award each version to exactly one writer across processes;
    // the loser fails LOUDLY here and its fully-written output stays
    // unreferenced garbage for the next sweep.
    val won =
      if (store.atomicCas)
        store.putIfMatch(spark, idx, ManifestName, curSer, ser)
      else chainCommit(spark, idx, store, v, ser)
    if (!won)
      throw new java.util.ConcurrentModificationException(
        s"$idx: another writer committed between this mutation's read " +
          s"and its swing (version $v refused) — this mutation is LOST " +
          "and must be retried; check writer scheduling")
    val keep = spark.conf.get(SnapKeepConf, "0").toInt
    if (keep > 0 && snapshot) {
      // the snapshot copy carries its commit wall-clock (snap_at) so
      // age-based retention can reason about it later; `current`
      // stays timestamp-free (its serialization is what the CAS
      // compares — no reason to make it vary beyond its content)
      writeAtomicFile(spark, s"$idx/snaps", s"v-$v",
        ser + s"\nsnap_at=${System.currentTimeMillis()}")
      // retention is enforced AT PUBLISH (the Iceberg write-path
      // expire policy): the keep-count bounds the log without an
      // operator ever calling expireSnapshots by hand
      expireSnapshots(spark, idx, keep)
    }
    m2
  }

  // ---------------------------------------------------------------
  // snapshot log — the Iceberg expire-snapshots discipline (r17
  // verdict #3): with `spark.graft.index.snapshots.keep` > 0 every
  // publish copies the committed manifest to an immutable
  // `snaps/v-<version>` file. A snapshot is a complete serve plan
  // (epochs, segments, stats, bucket map, watermarks), so serving
  // as-of a snapshot survives REWRITES (refresh/compact/retrain) —
  // which the in-place generation watermarks cannot (they reset at
  // every fold). [[sweep]] unions every retained snapshot's
  // references, so GC provably never deletes a retained snapshot's
  // dirs; [[expireSnapshots]] drops old snapshots and the NEXT sweep
  // reclaims whatever only they referenced.
  // ---------------------------------------------------------------

  private[graft] val SnapKeepConf = "spark.graft.index.snapshots.keep"

  private def snapDir(idx: String) = s"$idx/snaps"

  /** Retained snapshot versions, ascending. One listing of small
    * pointer objects.
    */
  def snapshotIds(spark: SparkSession, idx: String): Seq[Long] =
    storeFor(spark, idx).list(spark, snapDir(idx), "v-")
      .map(_.drop(2).toLong).sorted

  /** The committed manifest AS OF snapshot `v` — the time-travel read:
    * resolve serves through this instead of [[manifestOf]] and the
    * index state at that commit replays bit-identically, as long as
    * the snapshot is retained. Expired (or never-kept) snapshots fail
    * fast here.
    */
  def manifestAtSnapshot(spark: SparkSession, idx: String,
                         v: Long): Manifest =
    readAtomicFile(spark, snapDir(idx), s"v-$v")
      .map(parseManifest)
      .getOrElse(throw new IllegalArgumentException(
        s"$idx has no retained snapshot v-$v — it expired or the index " +
          s"was never published with $SnapKeepConf > 0; retained: " +
          s"${snapshotIds(spark, idx).mkString(",")}"))

  /** Minimum age (ms) a snapshot must reach before count-based
    * retention may expire it — the Iceberg `expire_snapshots`
    * composition (`older_than` AND `retain_last`): with the window
    * set, a burst of publishes cannot rotate a recent snapshot out of
    * the log before readers pinned to it have had it for the window.
    * 0 (default) keeps pure keep-count semantics (fixture GC stays
    * deterministic). Snapshots written before the `snap_at` stamp
    * existed count as infinitely old.
    */
  private[graft] val SnapKeepMsConf = "spark.graft.index.snapshots.keep.ms"

  /** Epoch tokens a retained snapshot's manifest references — the
    * reclaim-proof half of the three `*_snapshot_asof` rows, ONE
    * implementation (r18 review: three verbatim copies would silently
    * diverge if the reference-set definition ever changed).
    */
  def snapshotRefTokens(spark: SparkSession, idx: String,
                        v: Long): Set[String] =
    refTokens(manifestAtSnapshot(spark, idx, v))

  /** Epoch tokens manifest `m` references. */
  def refTokens(m: Manifest): Set[String] =
    EpochPat.findAllIn(m.toSeq.map { case (k, x) => s"$k=$x" }.mkString("\n"))
      .toSet

  /** Epoch tokens reachable from the committed manifest plus EVERY
    * retained snapshot — the live reference set GC must preserve.
    */
  def liveRefTokens(spark: SparkSession, idx: String): Set[String] =
    refTokens(manifestOf(spark, idx)) ++
      snapshotIds(spark, idx).flatMap(snapshotRefTokens(spark, idx, _))

  /** Expire snapshots beyond the newest `keep` — and, when
    * [[SnapKeepMsConf]] is set, only those also OLDER than the age
    * window. Deleting the file lets the NEXT mutation's sweep reclaim
    * dirs only they referenced. The current manifest is never a
    * snapshot file and is never expired.
    */
  def expireSnapshots(spark: SparkSession, idx: String, keep: Int): Unit = {
    val ids = snapshotIds(spark, idx)
    val keepMs = spark.conf.get(SnapKeepMsConf, "0").toLong
    val now = System.currentTimeMillis()
    val store = storeFor(spark, idx)
    val drop = ids.dropRight(keep).filter { v =>
      keepMs <= 0L || readAtomicFile(spark, snapDir(idx), s"v-$v")
        .flatMap(parseManifest(_).get("snap_at")).map(_.toLong)
        .forall(at => now - at >= keepMs)
    }
    drop.foreach(v => store.delete(spark, snapDir(idx), s"v-$v"))
  }

  /** Run `body` with every publish keeping the newest `n` snapshots,
    * then restore [[SnapKeepConf]] to its prior value, or to unset,
    * even when `body` throws.
    */
  def withSnapshotsKept[T](spark: SparkSession, n: Int)(body: => T): T = {
    val priorKeep = spark.conf.getOption(SnapKeepConf)
    spark.conf.set(SnapKeepConf, n.toString)
    try body finally priorKeep match {
      case Some(v) => spark.conf.set(SnapKeepConf, v)
      case None => spark.conf.unset(SnapKeepConf)
    }
  }

  /** Some of `refs` are unreferenced now, and all of those are gone
    * from disk — false when nothing was reclaimed. */
  def refsReclaimed(spark: SparkSession, idx: String,
                    refs: Set[String]): Boolean = {
    val dead = refs -- liveRefTokens(spark, idx)
    val fs = new org.apache.hadoop.fs.Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    dead.nonEmpty && dead.forall(t =>
      !fs.exists(new org.apache.hadoop.fs.Path(epochDir(idx, t))))
  }

  /** A family's [[snapshotAsOfDrill]] steps, each given the index
    * path: `build` mutates the pristine copy into the snapshotted
    * base; `serve` is the family serve at a read point; `rewrite` is
    * the history-destroying fold; `drift` moves the live serve on (a
    * no-op when the rewrite already does); `expire` runs the sweep
    * after S expired.
    */
  final case class SnapHooks(build: String => Unit,
                             serve: (String, At) => DataFrame,
                             rewrite: String => Unit,
                             drift: String => Unit,
                             expire: String => Unit)

  private val snapBases = new graft.Fixtures.Memo[(Long, Seq[Row])]

  /** The SNAPSHOT TIME TRAVEL contract of one family (the
    * `*_snapshot_asof` rows), on a copy of the snapshotted base with
    * retention on: the rewrite makes the read as of interior
    * generation 1 fail fast; after the drift, serving as of the
    * base's snapshot S replays its captured rows bit-identically
    * while the live serve has moved on; once S expires, the next
    * sweep reclaims the dirs only S referenced and the snapshot read
    * fails fast. Rows (metric, ok), oracle-pinned TRUE; none when the
    * base mutation left no snapshot or `corpus` is empty. The base (kind
    * `<kind>_snapbase`) is built once per JVM per corpus dir from
    * `pristine`, which is built OUTSIDE the retention window (a
    * baked-in snapshot would pin every copying fixture's epochs
    * against every sweep).
    */
  def snapshotAsOfDrill(spark: SparkSession, kind: String, dir: String,
                        corpus: DataFrame, pristine: => String,
                        h: SnapHooks): DataFrame = {
    import spark.implicits._
    def failsFast(read: => DataFrame): Boolean =
      try { read; false } catch { case _: IllegalArgumentException => true }
    val rows = if (corpus.isEmpty) Seq.empty[(String, Boolean)] else {
      val vb = pristine
      withSnapshotsKept(spark, 10) {
        val base = graft.Fixtures.path(s"${kind}_snapbase", dir)
        val (snap, want) = snapBases(base) {
          graft.Fixtures.copyIndex(spark, vb, base)
          h.build(base)
          snapshotIds(spark, base).lastOption.fold((-1L, Seq.empty[Row]))(
            s => (s, h.serve(base, At.Live).collect().toSeq))
        }
        if (snap < 0L) Seq.empty[(String, Boolean)]
        else {
          val idx = graft.Fixtures.copyOf(spark, base, s"${kind}_snap", dir)
          val snapToks = snapshotRefTokens(spark, idx, snap)
          h.rewrite(idx)
          val killed = failsFast(h.serve(idx, At.Gen(1L)))
          h.drift(idx)
          val replays = h.serve(idx, At.Snap(snap)).collect().toSeq == want
          val moved = h.serve(idx, At.Live).collect().toSeq != want
          expireSnapshots(spark, idx, 1)
          h.expire(idx)
          Seq("snap_rewrite_kills_inplace_asof" -> killed,
            "snap_retained_replays_after_rewrite" -> replays,
            "snap_live_moved_on" -> moved,
            "snap_expired_fails_fast" -> failsFast(h.serve(idx, At.Snap(snap))),
            "snap_expiry_reclaims_dirs" -> refsReclaimed(spark, idx, snapToks))
        }
      }
    }
    rows.toDF("metric", "ok").orderBy("metric")
  }

  // ---------------------------------------------------------------
  // writer lease — mutual exclusion between concurrent mutations of
  // one index (r17 verdict #1). The lock file `wlock` is acquired by
  // atomic create-exclusive at mutation start and conditionally
  // deleted at the end; while the mutation runs, a HEARTBEAT thread
  // re-stamps the lock every lease.ms/3 (r18 verdict #2: a fold that
  // legitimately runs longer than the lease — an IVF retrain at real
  // scale is minutes to hours — must not have its lease broken while
  // alive; only a holder that stops heartbeating, i.e. a genuinely
  // dead one, expires). A crashed writer's lock goes stale after
  // `spark.graft.index.lock.lease.ms` and the next writer breaks it
  // conditionally on its exact bytes. The lease is the LIVENESS
  // layer; the publish-time version award is what guarantees no lost
  // update even if two writers ever hold overlapping leases — the
  // second swing fails loudly instead of erasing the first.
  // ---------------------------------------------------------------

  private val LockName = "wlock"

  private def tryCreateLock(spark: SparkSession, idx: String,
                            content: String): Boolean =
    storeFor(spark, idx).putIfAbsent(spark, idx, LockName, content)

  private def readLock(spark: SparkSession, idx: String): Option[String] =
    storeFor(spark, idx).get(spark, idx, LockName)

  private def lockLeaseMs(spark: SparkSession): Long =
    spark.conf.get("spark.graft.index.lock.lease.ms", "120000").toLong

  /** Acquire the writer lease: spin (50 ms) until create-exclusive
    * wins, breaking a lock whose timestamp is older than the lease
    * window (holder stopped heartbeating — presumed dead), failing
    * LOUDLY after the wait budget — contention is a deployment bug
    * (two schedulers mutating one index), never something to paper
    * over. Returns the exact lock CONTENT (`<token> <ts>`) — the
    * heartbeat re-stamps conditionally on it and [[releaseLock]]
    * deletes conditionally on its latest value.
    */
  private def acquireLock(spark: SparkSession, idx: String): String = {
    val me = java.util.UUID.randomUUID().toString
    val leaseMs = lockLeaseMs(spark)
    val waitMs =
      spark.conf.get("spark.graft.index.lock.wait.ms", "120000").toLong
    val deadline = System.currentTimeMillis() + waitMs
    while (System.currentTimeMillis() <= deadline) {
      val content = s"$me ${System.currentTimeMillis()}"
      if (tryCreateLock(spark, idx, content))
        return content
      readLock(spark, idx).foreach { held =>
        // staleness by the lock's own heartbeat stamp; a lock whose
        // content doesn't parse (itself torn on a no-hardlink store —
        // a crash between the lock's create and write) ages by store
        // mtime instead, because "never stale" would wedge every
        // future mutation of the index behind a loud failure with no
        // repair path (self-review r20, same shape as the repair
        // claim). Neither a stamp nor an mtime = breakable.
        val now = System.currentTimeMillis()
        val age = held.split(" ").lift(1).flatMap(_.trim.toLongOption)
          .map(now - _)
          .orElse(storeFor(spark, idx).modifiedAt(spark, idx, LockName)
            .map(now - _))
        if (age.forall(_ > leaseMs)) {
          // stale lease: CONDITIONAL break — delete only if the lock
          // still holds exactly the stale value, so a just-acquired
          // or just-re-stamped fresh lock survives (r18 review: the
          // read-compare-delete form could remove a lock another
          // writer won between the re-read and the delete).
          storeFor(spark, idx).deleteIfMatch(spark, idx, LockName, held)
          ()
        }
      }
      Thread.sleep(50)
    }
    throw new IllegalStateException(
      s"$idx: writer lease held by another mutation for over $waitMs ms — " +
        "concurrent writers on one index indicate a scheduling bug; " +
        "serialize mutations or raise spark.graft.index.lock.wait.ms")
  }

  /** Release the lease conditionally on its exact latest content
    * (r18 verdict #3: the read-then-delete form could, if our lease
    * expired between the read and the delete, remove the FRESH lock a
    * breaker had just acquired in that window). A failed conditional
    * delete means the lock is no longer exactly ours — leave it
    * alone: if a breaker committed, our own publish already failed
    * its version award; deleting their lock would just widen the
    * damage.
    */
  private def releaseLock(spark: SparkSession, idx: String,
                          held: String): Unit = {
    storeFor(spark, idx).deleteIfMatch(spark, idx, LockName, held)
    ()
  }

  /** Run `body` (a whole index mutation: read manifest → sweep → write
    * → swing) under the index's writer lease, heartbeat-renewed every
    * lease.ms/3 so a long-running fold keeps its lease for as long as
    * it is actually alive (r18 verdict #2). The heartbeat re-stamp is
    * CONDITIONAL on the lock's exact current content: if it ever
    * fails, our lease was broken and stolen — stop renewing (never
    * fight the breaker for the lock; the publish-time version award
    * decides the race loudly). Every mutation entry point wraps
    * itself in this; reads never touch the lock.
    */
  private[graft] def mutate[T](spark: SparkSession, idx: String)
                              (body: => T): T = {
    val holder = new java.util.concurrent.atomic.AtomicReference(
      acquireLock(spark, idx))
    val me = holder.get.split(" ").head
    val stop = new java.util.concurrent.CountDownLatch(1)
    val periodMs = math.max(lockLeaseMs(spark) / 3, 25L)
    val hb = new Thread(() => {
      var ours = true
      while (ours && !stop.await(periodMs,
          java.util.concurrent.TimeUnit.MILLISECONDS)) {
        val cur = holder.get
        val fresh = s"$me ${System.currentTimeMillis()}"
        if (storeFor(spark, idx)
            .putIfMatch(spark, idx, LockName, Some(cur), fresh))
          holder.set(fresh)
        else ours = false
      }
    }, s"graft-lease-heartbeat")
    hb.setDaemon(true)
    hb.start()
    try body finally {
      stop.countDown()
      hb.join(30000)
      releaseLock(spark, idx, holder.get)
    }
  }

  /** Clear a manifest-less dir (fresh path / foreign content) for a
    * from-scratch build — everything EXCEPT the writer lock the
    * calling mutation holds (a recursive delete of the root would
    * silently release the lease mid-mutation).
    */
  private def clearForRebuild(spark: SparkSession, idx: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(idx)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      if (st.getPath.getName != LockName)
        require(fs.delete(st.getPath, true),
          s"clearForRebuild: could not delete ${st.getPath}")
    }
    // store-side half: pointer objects that don't live under the index
    // dir (the S3 store's manifest/snapshots) go too — except the
    // lease the calling mutation holds
    storeFor(spark, idx).purge(spark, idx, LockName)
  }

  // ---------------------------------------------------------------
  // fault injection (r17 verdict #5) — test-only crash hooks INSIDE
  // the mutation paths, so drills and specs can prove crash
  // consistency with real mid-flight deaths instead of editing
  // manifests. Two arming surfaces: the conf
  // `spark.graft.index.crash.at` (comma-joined entries, each
  // `<point>` or `<point>@<path-substring>`), and [[armCrash]] —
  // one-shot, per-index, race-free under concurrent sections that
  // each need a different injection.
  // ---------------------------------------------------------------

  /** An injected mid-mutation death. Deliberately NOT
    * IllegalStateException, so refusal pins (torn-index guards) can
    * never be satisfied by an injection.
    */
  final class InjectedCrash(point: String, idx: String)
    extends RuntimeException(s"injected crash at $point in $idx")

  private val armedCrashes =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Arm a ONE-SHOT crash at `point` for mutations of `idx`: the next
    * matching [[crashPoint]] fires exactly once, then disarms.
    */
  def armCrash(idx: String, point: String): Unit =
    armedCrashes.add(s"$point@$idx")

  /** Named points: the write shapes' [[AfterEpoch]] and [[AfterRows]],
    * and `before-swing` (inside every [[publish]], immediately before
    * the atomic replace).
    */
  private[graft] def crashPoint(spark: SparkSession, idx: String,
                                point: String): Unit = {
    if (armedCrashes.remove(s"$point@$idx"))
      throw new InjectedCrash(point, idx)
    val conf = spark.conf.get("spark.graft.index.crash.at", "")
    if (conf.nonEmpty && conf.split(",").map(_.trim).exists { e =>
      e.split("@", 2) match {
        case Array(p) => p == point
        case Array(p, sub) => p == point && idx.contains(sub)
      }
    }) throw new InjectedCrash(point, idx)
  }

  // ---------------------------------------------------------------
  // epochs — immutable generation-addressed data dirs
  // ---------------------------------------------------------------

  /** The epoch-token shape — the ONE definition every orphan-detection
    * and reference-extraction site shares (r18 review: four literal
    * copies would silently stop matching if [[newToken]]'s width ever
    * changed, turning forall-style reclaim pins vacuous).
    */
  private[graft] val EpochPat = "e-[0-9a-f]{12}".r

  /** Fresh 12-hex uniqueness token — shared by epoch dirs and bm25
    * segment dirs, because BOTH must never reuse a name: a reused dir
    * name lets a later mutation's Overwrite physically delete a
    * previous timeline's files, bypassing [[sweep]] and its grace
    * window entirely (r17 ADVICE: post-compact ordinal segment names
    * did exactly that).
    */
  def newToken(): String =
    java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  def newEpoch(): String = "e-" + newToken()

  def epochDir(idx: String, tok: String): String = s"$idx/ep/$tok"

  /** Reclaim dirs no longer reachable from the committed manifest:
    * epoch dirs whose token appears nowhere in it (a crashed
    * mutation's partial output, or a superseded rewrite's old data)
    * and — when the family keeps a `segments` list — segment dirs the
    * list no longer names. Called at the START of each mutation
    * ([[open]], [[rebuild]]) under the writer lease.
    *
    * Reader-grace guarantee, stated precisely (r17 review + r17
    * ADVICE): a reader that resolved manifest M keeps its dirs at
    * least until the NEXT mutation after the one that dereferences
    * them — and only REWRITES (refresh/compact/retrain) ever
    * dereference; the high-frequency mutations (check-ins, appends,
    * removals) add references without dropping any, so their sweeps
    * reclaim only crash orphans. A serve can therefore lose files only
    * if it is still scanning when a SECOND rewrite lands — and
    * rewrites are the scheduled, periodic folds. Deployments whose
    * serves may span two folds set
    * `spark.graft.index.sweep.grace.ms`, and the window is keyed on
    * DEREFERENCE time, not write time (r17 ADVICE: an mtime cutoff
    * only protected recently WRITTEN dirs — a long-lived epoch a
    * rewrite just dropped was reclaimed immediately): the sweep that
    * first discovers an unreferenced dir stamps a `.unref_at` marker
    * inside it and keeps it; only a later sweep past the window
    * deletes — the expire-snapshots model keyed on supersession time.
    * The default 0 keeps fixture GC deterministic (reclaim on first
    * discovery). Retained snapshots ([[SnapKeepConf]]) also pin their
    * dirs: the reference set unions every `snaps/v-*` manifest, so GC
    * provably never deletes a dir a retained snapshot can still
    * serve.
    */
  def sweep(spark: SparkSession, idx: String, m: Manifest): Unit = {
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val grace =
      spark.conf.get("spark.graft.index.sweep.grace.ms", "0").toLong
    val now = System.currentTimeMillis()
    val snapManifests = snapshotIds(spark, idx)
      .flatMap(v => readAtomicFile(spark, snapDir(idx), s"v-$v"))
    val allSer = (m.toSeq.map { case (k, v) => s"$k=$v" }.mkString("\n") +:
      snapManifests).mkString("\n")
    val refs = EpochPat.findAllIn(allSer).toSet
    val segRefs = (m.get("segments").toSeq ++ snapManifests.flatMap(
      _.split("\n").find(_.startsWith("segments=")).map(_.drop(9))))
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty)).toSet
    // delete an unreferenced dir immediately (grace 0), or stamp it on
    // first discovery and delete only a grace window after it became
    // unreferenced
    def reclaim(st: org.apache.hadoop.fs.FileStatus): Unit =
      if (grace <= 0L)
        require(fs.delete(st.getPath, true),
          s"sweep: could not delete ${st.getPath}")
      else {
        val marker = new Path(st.getPath, ".unref_at")
        if (!fs.exists(marker)) {
          val out = fs.create(marker, true)
          try out.write(now.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
        } else {
          val buf = new Array[Byte](fs.getFileStatus(marker).getLen.toInt)
          val in = fs.open(marker)
          try in.readFully(0L, buf) finally in.close()
          new String(buf, java.nio.charset.StandardCharsets.UTF_8)
            .trim.toLongOption match {
            case Some(unrefAt) =>
              if (now - unrefAt >= grace)
                require(fs.delete(st.getPath, true),
                  s"sweep: could not delete ${st.getPath}")
            case None =>
              // torn stamp (a crash between the marker's create and
              // its write): RE-STAMP rather than throw — an empty
              // marker must not wedge every future mutation of the
              // index (r18 review), and must not be deleted early
              // either (the grace clock restarts, the safe direction)
              val out = fs.create(marker, true)
              try out.write(now.toString
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
              finally out.close()
          }
        }
      }
    val ep = new Path(s"$idx/ep")
    if (fs.exists(ep)) fs.listStatus(ep).foreach { st =>
      if (!refs.contains(st.getPath.getName)) reclaim(st)
    }
    val segRoot = new Path(s"$idx/segments")
    if (fs.exists(segRoot)) fs.listStatus(segRoot).foreach { st =>
      if (!segRefs.contains(st.getPath.getName)) reclaim(st)
    }
  }

  /** Resolved physical dir of a near-dup or IVF index table under the
    * committed manifest, for the layout specs' byte-identity asserts —
    * tombstones resolve through their own epoch key, every other table
    * through the family's shared `data` epoch. ONE implementation (r17
    * review: Dedup and Similarity carried verbatim copies).
    */
  private[graft] def resolvedTable(spark: SparkSession, idx: String,
                                   name: String): Option[String] = {
    val m = manifestOf(spark, idx)
    val key = if (name == "tombstones") "tombstones" else "data"
    m.get(key).map(tok => s"${epochDir(idx, tok)}/$name")
  }

  // ---------------------------------------------------------------
  // layout stamp — carried IN the manifest: an index written under
  // different directory-hash constants (nPb/nDb/nTk) would otherwise
  // be silently MISREAD (a delta's pb computed mod 8 misses rows
  // stored under pb 8..15 — partial results, no error). Because the
  // manifest is published LAST at build, its presence doubles as the
  // build-commit marker.
  // ---------------------------------------------------------------

  /** Validate the params this reader depends on against the build's
    * stamp — SUBSET semantics, so an operator that only uses the
    * directory-hash constants (compact, remove) needn't know the
    * query-family params (n/k/bands) to validate its own.
    */
  def checkLayout(m: Manifest, idx: String,
                  expected: Seq[(String, Long)]): Unit = {
    val line = m.getOrElse("layout",
      throw new IllegalArgumentException(
        s"$idx manifest has no layout stamp — rebuild the index"))
    val found = line.split(",").map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v.toLong }.toMap
    expected.foreach { case (k, v) =>
      require(found.get(k).contains(v),
        s"$idx layout mismatch on '$k': index was built with " +
          s"${found.get(k).fold("no value")(_.toString)} but this " +
          s"reader expects $v — results would be silently partial; " +
          "rebuild the index (or run a binary built with its constants)")
    }
  }

  // ---------------------------------------------------------------
  // generation watermarks (near-dup / IVF in-place appends) — both
  // counters live IN the manifest, so a compact's epoch swap and its
  // timeline reset commit in the same pointer swing.
  // ---------------------------------------------------------------

  def genOf(m: Manifest): Long = m.get("gen").map(_.toLong).getOrElse(0L)

  def committedOf(m: Manifest): Long =
    m.get("gen_committed").map(_.toLong).getOrElse(genOf(m))

  /** Read ceiling for a torn index: Some(committed) iff some allocated
    * generation never committed — readers cap visible rows there, so a
    * torn mutation reads as "never happened" instead of serving
    * partial state (e.g. buckets rows whose docsets twins are
    * missing). None (the healthy, common case) adds no filter to any
    * live read path.
    */
  def tornCeiling(m: Manifest): Option[Long] = {
    val g = genOf(m); val c = committedOf(m)
    if (c < g) Some(c) else None
  }

  /** Allocate the generation the next mutation tags its rows with —
    * published to the manifest BEFORE any row lands, so a crashed
    * mutation's orphan rows can never share a tag with (and merge
    * into) a later mutation's. REFUSES a torn index: committing past
    * an uncommitted generation would raise the watermark over the
    * orphan's rows and resurrect them — the repair is the family's
    * fold (compact/retrain), which rewrites only committed rows and
    * resets both watermarks.
    */
  private def allocGen(spark: SparkSession, idx: String,
                       m: Manifest): (Long, Manifest) = {
    val g = genOf(m)
    tornCeiling(m).foreach(c =>
      throw new IllegalStateException(
        s"$idx generations ${c + 1}..$g never committed (crashed " +
          "mutation left partial rows) — fold/compact the index " +
          "to repair before mutating"))
    // thread the PUBLISHED manifest (version bumped by the swing)
    // forward, so the mutation's commit swing passes its CAS; no
    // snapshot for this mid-mutation state — only commits are
    // recovery points anyone wants to travel to
    val m2 = publish(spark, idx, m + ("gen" -> (g + 1L).toString),
      snapshot = false)
    (g + 1L, m2)
  }

  // ---------------------------------------------------------------
  // write shapes — the ONE order every index mutation takes its steps
  // in, and where a drill may kill it: the family passes in only its
  // writes, into dirs no committed manifest names yet (or rows under
  // an uncommitted generation), and the swing here makes them visible.
  // ---------------------------------------------------------------

  /** Crash point of a rewrite: fresh dirs written, pointer not swung. */
  val AfterEpoch = "after-epoch"

  /** Crash point of an append: rows landed, generation not committed. */
  val AfterRows = "after-rows"

  /** The manifest the caller holds under its lease, or one read of
    * `current`; layout-checked and swept. */
  private def open(spark: SparkSession, idx: String,
                   layout: Seq[(String, Long)],
                   held: Option[Manifest]): Manifest = {
    val m = held.getOrElse(manifestOf(spark, idx))
    checkLayout(m, idx, layout)
    sweep(spark, idx, m)
    m
  }

  /** REBUILD (build, retrain) under its own lease. Rebuild means
    * rebuild: the fresh manifest names the layout stamp and the
    * entries `write` returns for the epoch token it is handed — no
    * tombstones (removed ids serve again once re-indexed), no bm25
    * segments (r12 ADVICE), the generation timeline restarts — and
    * carries the replaced manifest's version, so the swing passes the
    * CAS like any mutation's. Over a LIVE index the old epochs serve
    * until the swing (then are garbage for the next sweep); a dir with
    * no manifest is cleared first, and a build that dies before its
    * swing leaves none, so readers fail fast instead of reading a
    * partial index.
    */
  private[graft] def rebuild(spark: SparkSession, idx: String,
                             layout: Seq[(String, Long)])
                            (write: String => Manifest): Unit =
    mutate(spark, idx) {
      val prior = readManifest(spark, idx)
      prior match {
        case Some(m) => sweep(spark, idx, m)
        case None => clearForRebuild(spark, idx)
      }
      val fresh = write(newEpoch()) +
        ("layout" -> layout.map { case (k, v) => s"$k=$v" }.mkString(","))
      crashPoint(spark, idx, AfterEpoch)
      publish(spark, idx, prior.flatMap(versionOf)
        .fold(fresh)(v => fresh + (VersionKey -> v.toString)))
      ()
    }

  /** EPOCH REWRITE (refresh, segment append, compact) under the
    * caller's lease: `body` gets the [[open]]ed index's live read
    * point and a fresh epoch token, writes fresh dirs and returns the
    * manifest to swing to (published and returned), or None to commit
    * nothing.
    */
  private[graft] def rewriteEpoch(spark: SparkSession, idx: String,
                                  layout: Seq[(String, Long)],
                                  held: Option[Manifest] = None)
                                 (body: (ReadPoint, String) => Option[Manifest])
      : Option[Manifest] = {
    val m = open(spark, idx, layout, held)
    body(ReadPoint(m, tornCeiling(m)), newEpoch()).map { next =>
      crashPoint(spark, idx, AfterEpoch)
      publish(spark, idx, next)
    }
  }

  /** GENERATION APPEND (check-in, vector append, removal) under the
    * caller's lease: [[allocGen]] on the [[open]]ed index, then `rows`
    * appends rows tagged `g` and returns the entries that ride the ONE
    * commit swing (a minted tombstones epoch, a stream watermark).
    */
  private[graft] def appendGen(spark: SparkSession, idx: String,
                               layout: Seq[(String, Long)],
                               held: Option[Manifest] = None)
                              (rows: (Long, Manifest) => Manifest): Unit = {
    val (g, m) = allocGen(spark, idx, open(spark, idx, layout, held))
    val extra = rows(g, m)
    crashPoint(spark, idx, AfterRows)
    publish(spark, idx, m ++ extra + ("gen_committed" -> g.toString))
    ()
  }

  // ---------------------------------------------------------------
  // read resolution — the ONE place a serve decides what it reads.
  // The manifest resolves ONCE: everything a serve reads is an
  // immutable epoch dir that manifest names, so a mutation that
  // commits mid-serve cannot touch those dirs and the serve returns
  // the pre-swing state instead of failing (r16 #1). The same read
  // validates an as-of pin, so a fold that commits between the check
  // and the serve cannot relabel the folded index as the pinned
  // generation.
  // ---------------------------------------------------------------

  /** The state of an index a family serve reads. */
  sealed trait At
  object At {
    /** The committed state: the current manifest, capped at its last
      * COMMITTED generation when a crashed mutation left the allocated
      * watermark ahead of its rows (r15 ADVICE) — a torn mutation
      * reads as "never happened", not as buckets rows missing their
      * docsets twins. A healthy index gets no ceiling and no filter.
      */
    case object Live extends At

    /** AS OF mutation generation `g`: the index after its first `g`
      * mutations (gen 0 = the fresh build), regardless of what landed
      * since — rows and tombstones above `g` don't exist from that
      * generation's point of view, and the IVF centroids never move
      * on an append, so a historical serve routes as it did then.
      * The reproducibility pin a training manifest records. A bm25
      * generation counts SEGMENTS: the serve reads the base plus the
      * first `g` segments with the pre-append stats snapshot of
      * segment g+1. `g` must lie in [0, the committed generation] of
      * the manifest the serve reads, or the read fails fast; a fold
      * (compact, retrain) resets the timeline to generation 0 by
      * design, so a pin taken before it fails fast after it.
      */
    final case class Gen(g: Long) extends At

    /** AS OF retained manifest snapshot `id` (r17 verdict #3, the
      * manifest-log form of time travel): the serve reads the
      * immutable `snaps/v-<id>` manifest instead of `current`, so the
      * result at that commit replays bit-identically even across the
      * folds that reset the generation timeline. The ceiling is the
      * snapshot's OWN committed generation (r19): in-place appends and
      * removals after the snapshot land higher-generation rows INTO
      * the epoch dirs it references, which the manifest alone cannot
      * exclude. Holds while the snapshot is retained ([[sweep]] pins
      * its dirs); an expired one fails fast.
      */
    final case class Snap(id: Long) extends At
  }

  /** A resolved read: the manifest `m` a serve reads and its
    * visibility ceiling — rows (and tombstones) tagged above `ceil`
    * are invisible. None reads every row.
    */
  final case class ReadPoint(m: Manifest, ceil: Option[Long]) {
    def visible(df: DataFrame): DataFrame =
      ceil.fold(df)(g => df.filter(col("gen") <= g))
  }

  /** Resolve `at` on `idx`: read `current` or the retained snapshot
    * ONCE, check its layout stamp against `layout`, validate a
    * [[At.Gen]] pin against that same manifest, and cap the ceiling
    * at the minimum of the pin, the torn ceiling and a snapshot's own
    * committed generation. `committed` counts the family's
    * generations (bm25: its segments).
    */
  def readPoint(spark: SparkSession, idx: String, layout: Seq[(String, Long)],
                at: At, committed: Manifest => Long = committedOf): ReadPoint = {
    val m = at match {
      case At.Snap(v) => manifestAtSnapshot(spark, idx, v)
      case _ => manifestOf(spark, idx)
    }
    checkLayout(m, idx, layout)
    val pin = at match {
      case At.Live => None
      case At.Gen(g) =>
        val cur = committed(m)
        require(g >= 0L && g <= cur,
          s"as-of generation $g outside [0, $cur] for $idx")
        Some(g)
      case At.Snap(_) => Some(committed(m))
    }
    ReadPoint(m, (pin.toSeq ++ tornCeiling(m)).reduceOption(_ min _))
  }

  /** The per-stream exactly-once watermark key (r18 ADVICE — the
    * Delta txnAppId+txnVersion scoping): a bare `stream_batch` key
    * carries no stream identity, so a rebuilt checkpoint (batch ids
    * restart at 0) or a SECOND query ingesting into the same index
    * would have its batches silently dropped as "replays" of the
    * other stream's — silent data loss. Scoping the watermark by the
    * caller's app id gives each stream its own independent key; the
    * empty app keeps the legacy bare key. App ids are sanitized to
    * manifest-safe characters; an id the sanitization CHANGED also
    * carries 8 hex of the raw id's md5 (r19 ADVICE #5), so two
    * distinct raw ids that collide after sanitization can never share
    * a watermark — while already-clean ids (a Structured Streaming
    * query id, the fixtures) keep their stable un-suffixed key.
    */
  def streamKey(app: String): String =
    if (app.isEmpty) "stream_batch"
    else {
      val safe = app.replaceAll("[^A-Za-z0-9._-]", "_")
      if (safe == app) "stream_batch." + safe
      else s"stream_batch.$safe.${md5hex8(app)}"
    }

  /** 8 hex chars of md5 — the collision-proofing suffix shared by
    * [[streamKey]] and the torn-slot repair claim's content key.
    */
  private[graft] def md5hex8(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .take(4).map("%02x".format(_)).mkString

  /** DUE once live tombstones exceed `maxFrac` of stored rows.
    * `total` is by-name: the dead == 0 fast path (the common,
    * pristine-index case) never reads the stored table's footers.
    * The denominator is stored ROWS, not distinct entities — the
    * cheap, slightly-conservative choice (re-admitted ids add rows
    * until the fold).
    */
  def tombstoneFoldDue(dead: Long, total: => Long, maxFrac: Double): Boolean =
    dead > 0L && {
      val t = total
      t > 0L && dead.toDouble / t > maxFrac
    }

  // ---------------------------------------------------------------
  // tombstone lifecycle (near-dup, IVF): a Tombstoned names the id
  // column, the stored table fold-due weighs tombstones against, its
  // schema, the layout a removal validates and the metric prefix.
  // ---------------------------------------------------------------

  final case class Tombstoned(id: String, table: String, schema: String,
                              layout: Seq[(String, Long)], prefix: String) {
    /** The tombstones table, when the manifest names one. */
    def of(spark: SparkSession, idx: String, m: Manifest): Option[DataFrame] =
      m.get("tombstones").map(tok => spark.read.schema(s"$id bigint, gen bigint")
        .parquet(s"${epochDir(idx, tok)}/tombstones"))
  }

  /** REMOVE ids: they land in the append-only `tombstones` table under
    * a fresh generation (no index file is opened); the family's fold
    * drops them physically. The tombstones epoch is the manifest's, or
    * a fresh one whose key lands ONLY in the commit swing — a crash
    * before it leaves the dir unreferenced (swept later) instead of
    * half-visible (r17 review).
    */
  def removeIds(spark: SparkSession, idx: String, f: Tombstoned,
                ids: DataFrame): Unit = mutate(spark, idx) {
    appendGen(spark, idx, f.layout) { (g, m) =>
      val tok = m.getOrElse("tombstones", newEpoch())
      ids.select(col(f.id)).distinct()
        .select(col(f.id), lit(g).as("gen"))
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"${epochDir(idx, tok)}/tombstones")
      Map("tombstones" -> tok)
    }
  }

  /** Footer counts of the live read point: live tombstones (no job
    * when there are none) and, on first use, stored rows. */
  private final class FooterCounts(spark: SparkSession, idx: String,
                                    f: Tombstoned) {
    private val rp = readPoint(spark, idx, f.layout, At.Live)
    val m: Manifest = rp.m
    val dead: Long =
      f.of(spark, idx, m).map(d => rp.visible(d).count()).getOrElse(0L)
    lazy val rows: Long = rp.visible(spark.read.schema(f.schema)
      .parquet(s"${epochDir(idx, m("data"))}/${f.table}")).count()
    def foldDue(maxFrac: Double): Boolean =
      tombstoneFoldDue(dead, rows, maxFrac)
  }

  /** DUE for the family's fold: [[tombstoneFoldDue]] over footer
    * counts, reading no stored-table footer when nothing is dead. */
  def foldDue(spark: SparkSession, idx: String, f: Tombstoned,
              maxFrac: Double): Boolean =
    new FooterCounts(spark, idx, f).foldDue(maxFrac)

  /** The footer-count health card read before deciding to fold:
    * `<prefix>_<table>` stored rows, `<prefix>_tombstones`,
    * `<prefix>_gen` (the COMMITTED generation, what a reader can pin)
    * and `<prefix>_fold_due` (1 or 0). No data pages are read.
    */
  def healthCard(spark: SparkSession, idx: String, f: Tombstoned,
                 maxFrac: Double): Seq[(String, Long)] = {
    val c = new FooterCounts(spark, idx, f)
    Seq(s"${f.prefix}_${f.table}" -> c.rows,
      s"${f.prefix}_tombstones" -> c.dead,
      s"${f.prefix}_gen" -> committedOf(c.m),
      s"${f.prefix}_fold_due" -> (if (c.foldDue(maxFrac)) 1L else 0L))
  }

  /** The stream-batch gate of every `*StreamIngest`, under the lease:
    * a batch at or below the app-scoped [[streamKey]] watermark is a
    * replay and returns `replayed` untouched; otherwise a torn
    * manifest is first repaired by the family's `repair` (the retried
    * batch must land, not wedge on [[allocGen]]'s refusal), and
    * `admit` gets the manifest plus the watermark entry that must ride
    * its commit swing — at-least-once redelivery, exactly-once effect.
    */
  private[graft] def streamBatch[T](spark: SparkSession, idx: String,
                                    batchId: Long, app: String, replayed: T,
                                    repair: => Unit = ())
                                   (admit: (Manifest, Manifest) => T): T =
    mutate(spark, idx) {
      val key = streamKey(app)
      val m0 = manifestOf(spark, idx)
      if (m0.get(key).map(_.toLong).exists(batchId <= _)) replayed
      else {
        val m =
          if (tornCeiling(m0).isEmpty) m0
          else { repair; manifestOf(spark, idx) }
        admit(m, Map(key -> batchId.toString))
      }
    }

  // ---------------------------------------------------------------
  // small-probe serving (near-dup lookups, IVF serves): a probe whose
  // rows already sit in driver memory is served with literal partition
  // filters and driver-side joins instead of the broadcast/DPP plan,
  // whose every broadcast stage and runtime filter is a Spark job.
  // ---------------------------------------------------------------

  /** The rows of `df` when its optimized plan is a non-streaming
    * `LocalRelation` and its bigint `id` column is non-null and
    * unique: the probe is then already in driver memory, the
    * projections `df` stacks on it fold into the relation
    * (`ConvertToLocalRelation`), and collecting it runs no Spark job.
    * None otherwise — the caller takes its distributed path, which
    * also owns the duplicate-id semantics (per-id grouping) the
    * row-wise local path cannot give.
    */
  def localProbe(df: DataFrame, id: String): Option[Array[Row]] =
    df.queryExecution.optimizedPlan match {
      case r: LocalRelation
          if !r.isStreaming && df.schema(id).dataType == LongType =>
        val rows = df.collect()
        val i = df.schema.fieldIndex(id)
        val unique = rows.forall(!_.isNullAt(i)) &&
          rows.iterator.map(_.getLong(i)).toSet.size == rows.length
        if (unique) Some(rows) else None
      case _ => None
    }

  /** The distinct ids of a family's tombstones table visible at read
    * point `rp`, collected for a small-probe read's literal NOT IN
    * filter: one Spark job, none when the manifest names no
    * tombstones. Tombstones are removal-sized, and the fold policy
    * ([[tombstoneFoldDue]]) bounds them to a fraction of stored rows.
    */
  def deadIds(rp: ReadPoint, tombstones: Option[DataFrame],
              id: String): Seq[Long] =
    tombstones.fold(Seq.empty[Long])(d =>
      rp.visible(d).select(col(id)).collect().map(_.getLong(0)).distinct.toSeq)
}
