package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Scratch scaffolding for the registry rows' fixtures: one per-JVM
  * token, one path rule, one index copy and typed once-per-JVM memos.
  *
  * A fixture of kind `k` for corpus dir `d` lives at
  * `/tmp/graft_<k>_<token>_<tag(d)>`. The token keeps two processes
  * replaying rows over one corpus dir out of each other's paths (one
  * process's Overwrite re-stage could otherwise corrupt the other's
  * in-flight read); within one JVM a path is stable, so repeat runs of
  * a row reuse or overwrite their own fixture. Two rows share a
  * fixture exactly when they name the same kind.
  */
object Fixtures {

  lazy val token: String = java.util.UUID.randomUUID().toString.take(8)

  /** `dir` with every character outside [A-Za-z0-9] replaced by `_`. */
  def tag(dir: String): String = dir.replaceAll("[^A-Za-z0-9]", "_")

  /** The scratch path of fixture `kind` for corpus dir `dir`. */
  def path(kind: String, dir: String): String =
    s"/tmp/graft_${kind}_${token}_${tag(dir)}"

  /** A fresh copy of index `src` at fixture `kind`'s path for `dir`. */
  def copyOf(spark: SparkSession, src: String, kind: String,
             dir: String): String = {
    val p = path(kind, dir)
    copyIndex(spark, src, p)
    p
  }

  /** Delete-then-copy of an at-rest index dir, so the destination is
    * exactly the source — base-only, no stale segments or partitions.
    * Every family's lifecycle fixtures copy a pristine base this way.
    */
  def copyIndex(spark: SparkSession, src: String, dst: String): Unit = {
    // FIXTURE helper (a deployment clones an index with distcp): the
    // fast path is a plain-nio parallel copy — Hadoop's FileUtil.copy
    // pays per-file checksum/stream setup, measured ~1 s for the
    // ~80-file bucketed near-dup index vs ~0.07 s raw, and every
    // lifecycle registry row pays it once per invocation. nio only
    // resolves BARE ABSOLUTE LOCAL paths, so anything carrying a URI
    // scheme (hdfs://, file:) or relative routes through
    // FileUtil.copy instead of mis-resolving at runtime (r15 ADVICE).
    def isBareLocal(s: String) =
      s.startsWith("/") && !s.matches("[A-Za-z][A-Za-z0-9+.\\-]*:.*")
    if (!isBareLocal(src) || !isBareLocal(dst)) {
      import org.apache.hadoop.fs.{FileUtil, Path}
      val conf = spark.sparkContext.hadoopConfiguration
      val sp = new Path(src); val dp = new Path(dst)
      val dfs = dp.getFileSystem(conf)
      require(!dfs.exists(dp) || dfs.delete(dp, true),
        s"copyIndex: could not clear $dp")
      require(FileUtil.copy(sp.getFileSystem(conf), sp, dfs, dp,
        false, conf), s"copyIndex: $src -> $dst failed")
      return
    }
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import scala.collection.parallel.CollectionConverters._
    val s = Paths.get(src); val d = Paths.get(dst)
    if (Files.exists(d)) {
      val st = Files.walk(d)
      val del = try st.iterator().asScala.toSeq.reverse finally st.close()
      del.foreach(Files.deleteIfExists(_))
    }
    val files = {
      val st = Files.walk(s)
      try st.iterator().asScala.filter(Files.isRegularFile(_)).toVector
      finally st.close()
    }
    files.par.foreach { p =>
      val t = d.resolve(s.relativize(p).toString)
      Files.createDirectories(t.getParent)
      Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  /** Values built at most once per JVM per key (a corpus dir or a
    * fixture path). One memo per kind: a build may consult another
    * kind's memo, never its own.
    */
  final class Memo[V] {
    private val built = new ConcurrentHashMap[String, V]()
    def apply(key: String)(build: => V): V =
      built.computeIfAbsent(key, _ => build)
  }

  /** A fixture of one kind built at its [[path]] once per JVM per
    * corpus dir; yields the path. */
  final class Index(kind: String) {
    private val memo = new Memo[String]
    def apply(dir: String)(build: String => Unit): String =
      memo(dir) { val p = path(kind, dir); build(p); p }
  }
}
