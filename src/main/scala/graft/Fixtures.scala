package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.SparkSession

/** Scratch scaffolding for the registry rows' fixtures: one per-JVM
  * token, one path rule and typed once-per-JVM memos.
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
    graft.operators.TextAnalysis.copyIndex(spark, src, p)
    p
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
