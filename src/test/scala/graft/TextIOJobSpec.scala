package graft

import graft.jobs.JobRegistry
import graft.sources.TextIO

import java.nio.file.Files

class TextIOJobSpec extends SparkSpec {
  import spark.implicits._

  private def demoDir(): String = {
    // the reference's own demo inputs (data/input/test{1,2,3}.txt)
    val dir = Files.createTempDirectory("graft-text").toFile
    Seq("Hello world hello", "World map reduce", "New job test")
      .zipWithIndex.foreach { case (s, i) =>
        Files.writeString(new java.io.File(dir, s"test${i + 1}.txt").toPath, s + "\n")
      }
    dir.getAbsolutePath
  }

  private val expected = Map("Hello" -> "1", "hello" -> "1", "world" -> "1",
    "World" -> "1", "map" -> "1", "reduce" -> "1", "New" -> "1",
    "job" -> "1", "test" -> "1")

  test("text source → word count → KV text sink round-trips (EP1 parity)") {
    val in = demoDir()
    val out = Files.createTempDirectory("graft-out").toFile.getAbsolutePath + "/wc"
    val wc = TextIO.wordCountFromText(spark, Seq(s"$in/*.txt"))
    TextIO.writeKV(wc, "word", "cnt", out, nReduce = 4)
    sinkContract(out, nReduce = 4)
  }

  // exactly nReduce part- files from part-00000 on, keys sorted within
  // each file, and the demo counts; returns the files' line counts
  private def sinkContract(out: String, nReduce: Int): Seq[Int] = {
    val parts = new java.io.File(out).listFiles()
      .filter(_.getName.startsWith("part-")).sortBy(_.getName).toSeq
    assert(parts.length == nReduce)
    assert(parts.head.getName == "part-00000")
    val keys = parts.map(f => Files.readAllLines(f.toPath).toArray.toSeq
      .map(_.toString.split(" ")(0)))
    keys.zip(parts).foreach { case (ks, f) =>
      assert(ks == ks.sorted, s"unsorted keys in ${f.getName}")
    }
    assert(TextIO.readKV(spark, out).as[(String, String)].collect().toMap == expected)
    keys.map(_.size)
  }

  test("KV sink keeps nReduce files when nReduce == shuffle partitions (one exchange)") {
    // EnsureRequirements folds the repartition into the aggregate's
    // exchange, which AQE would coalesce on this tiny input were the
    // partition count not required
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val wc = TextIO.wordCountFromText(spark, Seq(s"${demoDir()}/*.txt"))
    val out = Files.createTempDirectory("graft-kv-fold").toFile.getAbsolutePath + "/wc"
    TextIO.writeKV(wc, "word", "cnt", out, n)
    sinkContract(out, n)
    val q = TextIO.kvPartitions(wc, "word", "cnt", n)
    assert(q.queryExecution.toRdd.getNumPartitions == n)
    val plan = q.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    assert("Exchange hashpartitioning\\(word".r.findAllIn(plan.toString).size == 1, plan)
  }

  test("KV sink writes exactly nReduce sorted files for nReduce 3 and 7") {
    val wc = TextIO.wordCountFromText(spark, Seq(s"${demoDir()}/*.txt"))
    Seq(3, 7).foreach { n =>
      val out = Files.createTempDirectory("graft-kv-n").toFile.getAbsolutePath + "/wc"
      TextIO.writeKV(wc, "word", "cnt", out, n)
      sinkContract(out, n)
    }
  }

  test("KV sink writes the empty files when nReduce exceeds the distinct words") {
    val wc = TextIO.wordCountFromText(spark, Seq(s"${demoDir()}/*.txt"))
    val out = Files.createTempDirectory("graft-kv-empty").toFile.getAbsolutePath + "/wc"
    val n = expected.size + 7
    TextIO.writeKV(wc, "word", "cnt", out, n)
    val lines = sinkContract(out, n)
    assert(lines.count(_ == 0) >= 7)
    assert(lines.sum == expected.size)
  }

  test("line source carries file provenance") {
    val in = demoDir()
    val files = TextIO.readLines(spark, Seq(s"$in/*.txt"))
      .select("file").distinct().as[String].collect()
    assert(files.length == 3)
    assert(files.forall(_.contains("test")))
  }

  test("job API: submit → COMPLETED with reference status fields") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val reg = new JobRegistry(spark)
    assert(reg.health == "OK")

    val in = demoDir()
    val out = Files.createTempDirectory("graft-job").toFile.getAbsolutePath + "/j1"
    val id = reg.submit(Seq(s"$in/*.txt"), nReduce = 3, out)

    val deadline = System.nanoTime() + 60L * 1000000000L
    while (reg.status(id).exists(_.status == reg.State.InProgress) &&
           System.nanoTime() < deadline) Thread.sleep(100)

    val st = reg.status(id).get
    assert(st.status == reg.State.Completed, st)
    assert(st.filesCount == 1)
    assert(st.mapTasksCompleted > 0)
    assert(st.reduceTasksCompleted > 0)
    val got = TextIO.readKV(spark, out).as[(String, String)].collect().toMap
    assert(got == expected)
  }

  test("csv and json sinks/sources round-trip") {
    val out = Files.createTempDirectory("graft-fmt").toFile.getAbsolutePath
    val orig = Tables.orders(spark, sf)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey").limit(50)

    orig.write.option("header", "true").csv(s"$out/csv")
    val fromCsv = spark.read.option("header", "true")
      .option("inferSchema", "true").csv(s"$out/csv")
    assert(fromCsv.count() == 50)
    assert(fromCsv.columns.toSeq == orig.columns.toSeq)

    orig.write.json(s"$out/json")
    val fromJson = spark.read.json(s"$out/json")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    val a = orig.as[(Long, String, Double)].collect().toSet
    val b = fromJson.as[(Long, String, Double)].collect().toSet
    assert(a == b)
  }

  test("job API validation mirrors the REST handler") {
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val reg = new JobRegistry(spark)
    intercept[IllegalArgumentException](reg.submit(Nil, 1, "/tmp/x"))
    intercept[IllegalArgumentException](reg.submit(Seq("f"), 0, "/tmp/x"))
    assert(reg.status(9999).isEmpty)
  }
}
