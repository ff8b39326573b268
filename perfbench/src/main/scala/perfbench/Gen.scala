package perfbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

/** Seeded input generation. The same seed always yields the same
  * bytes; generated inputs are cached per seed under the inputs
  * directory and never count toward set-up time.
  */
object Gen {

  /** `n` distinct lowercase alphabetic words of 3 to 10 letters: at
    * random, or with `byRank` word i is 3 + i % 8 letters long, so that
    * the seed picks the letters but not how many bytes the frequent
    * words take. */
  def vocab(rnd: Random, n: Int, byRank: Boolean = false): Array[String] = {
    val seen = mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val len = if (byRank) 3 + seen.size % 8 else 3 + rnd.nextInt(8)
      seen += Array.fill(len)(('a' + rnd.nextInt(26)).toChar).mkString
    }
    seen.toArray
  }

  /** Zipf(s) over ranks 0 until n, sampled by inverting the CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def sample(rnd: Random): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  private def done(dir: Path): Boolean = Files.exists(dir.resolve("_DONE"))
  private def markDone(dir: Path): Unit = Files.write(dir.resolve("_DONE"), Array[Byte]())

  // ---------------------------------------------------------------- wc

  final case class WcInput(files: Seq[String], bytes: Long,
                           counts: Map[String, Long])

  /** `nFiles` text files of ~`fileBytes` each: Zipf(1.1) words over a
    * 50k-word alphabetic vocabulary, ~12 words a line. Word lengths go
    * by rank, so every seed gives about as many words to count. Every
    * word count is known exactly (counts.tsv).
    */
  def wordcount(dir: Path, seed: Long, nFiles: Int = 8,
                fileBytes: Int = 1 << 20): WcInput = {
    val files = (0 until nFiles).map(i => dir.resolve(f"part-$i%02d.txt"))
    val countsFile = dir.resolve("counts.tsv")
    if (!done(dir)) {
      Files.createDirectories(dir)
      val rnd = new Random(seed)
      val words = vocab(rnd, 50000, byRank = true)
      val zipf = new Zipf(words.length, 1.1)
      val counts = new Array[Long](words.length)
      files.foreach { f =>
        val sb = new java.lang.StringBuilder(fileBytes + 64)
        var onLine = 0
        while (sb.length < fileBytes) {
          val w = zipf.sample(rnd)
          counts(w) += 1
          sb.append(words(w))
          onLine += 1
          if (onLine == 12) { sb.append('\n'); onLine = 0 } else sb.append(' ')
        }
        sb.append('\n')
        Files.write(f, sb.toString.getBytes(UTF_8))
      }
      Files.write(countsFile, words.indices.filter(counts(_) > 0)
        .map(i => s"${words(i)}\t${counts(i)}").asJava, UTF_8)
      markDone(dir)
    }
    val counts = Files.readAllLines(countsFile, UTF_8).asScala.map { l =>
      val Array(w, c) = l.split('\t'); w -> c.toLong
    }.toMap
    WcInput(files.map(_.toAbsolutePath.toString), files.map(Files.size).sum, counts)
  }

  // ------------------------------------------------------------ corpus

  final case class Doc(id: Long, text: String)
  final case class Vec(id: Long, v: Array[Float])

  /** Documents in the fixture corpus's shape (doc_id, text, lang,
    * source, n_chars): 20–90 Zipf(1.1) words over a 2000-word
    * vocabulary, and ~11% near-duplicates of an earlier document with
    * ~5% of their words replaced, so the dedup rows find pairs.
    */
  def docs(seed: Long, n: Int): (Seq[Doc], Seq[(String, String)], Array[String]) = {
    val rnd = new Random(seed * 31 + 7)
    val words = vocab(rnd, 2000)
    val zipf = new Zipf(words.length, 1.1)
    val langs = Seq("en" -> 0.5, "de" -> 0.62, "es" -> 0.75, "fr" -> 0.87, "zh" -> 1.0)
    val texts = new Array[Array[String]](n)
    val meta = new Array[(String, String)](n)
    for (i <- 0 until n) {
      texts(i) =
        if (i > n / 10 && rnd.nextDouble() < 0.12)
          texts(rnd.nextInt(i)).map(w =>
            if (rnd.nextDouble() < 0.05) words(zipf.sample(rnd)) else w)
        else Array.fill(20 + rnd.nextInt(71))(words(zipf.sample(rnd)))
      val u = rnd.nextDouble()
      meta(i) = (langs.find(u <= _._2).get._1, "src" + rnd.nextInt(20))
    }
    (texts.indices.map(i => Doc(i.toLong, texts(i).mkString(" "))), meta.toSeq, words)
  }

  /** 64-dim float embeddings around 10 labelled centres, ~8% of them
    * ±0.01 perturbations of an earlier vector (the near-duplicates the
    * semantic dedup rows look for).
    */
  def vecs(seed: Long, n: Int, dim: Int = 64): Seq[(Vec, Int)] = {
    val rnd = new Random(seed * 131 + 11)
    val centres = Array.fill(10, dim)(rnd.nextGaussian() * 0.15)
    val out = new Array[(Vec, Int)](n)
    for (i <- 0 until n) {
      out(i) =
        if (i > n / 10 && rnd.nextDouble() < 0.08) {
          val (src, label) = out(rnd.nextInt(i))
          (Vec(i, src.v.map(x => (x + (rnd.nextDouble() * 0.02 - 0.01)).toFloat)), label)
        } else {
          val label = rnd.nextInt(10)
          (Vec(i, Array.tabulate(dim)(d =>
            (centres(label)(d) + rnd.nextGaussian() * 0.08).toFloat)), label)
        }
    }
    out.toSeq
  }

  /** Writes documents, embeddings and customer as single-file parquet
    * tables (the fixture layout `graft.Tables` reads) under `dir`.
    */
  def corpus(spark: SparkSession, dir: Path, seed: Long, nDocs: Int,
             nVecs: Int, nCust: Int): Unit = if (!done(dir)) {
    Files.createDirectories(dir)
    val d = dir.toAbsolutePath.toString
    def write(rows: Seq[Row], schema: StructType, name: String): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$d/$name.parquet")
    val (ds, meta, _) = docs(seed, nDocs)
    write(ds.zip(meta).map { case (x, (lang, src)) =>
      Row(x.id, x.text, lang, src, x.text.length.toLong) },
      StructType.fromDDL("doc_id bigint, text string, lang string, " +
        "source string, n_chars bigint"), "documents")
    write(vecs(seed, nVecs).map { case (v, label) =>
      Row(v.id, v.v.toSeq, label) },
      StructType.fromDDL("vec_id bigint, embedding array<float>, label int"),
      "embeddings")
    val rnd = new Random(seed * 17 + 3)
    val segs = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    write((0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d",
      rnd.nextInt(25), math.round(rnd.nextDouble() * 1099999 - 99999) / 100.0,
      segs(rnd.nextInt(5)))),
      StructType.fromDDL("c_custkey bigint, c_name string, c_nationkey int, " +
        "c_acctbal double, c_mktsegment string"), "customer")
    markDone(dir)
  }
}
