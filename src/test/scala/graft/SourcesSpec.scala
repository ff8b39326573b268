package graft

import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Source/sink format coverage beyond text/csv/json/parquet, plus the
  * partition-pruning pattern that matters most at 100 TB: data laid
  * out by a partition column so filters skip whole directories.
  */
class SourcesSpec extends SparkSpec {
  import spark.implicits._

  test("orc sink/source round-trips values and schema") {
    val out = Files.createTempDirectory("graft-orc").toFile.getAbsolutePath
    val orig = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber").limit(100)
    orig.write.orc(s"$out/li")
    val back = spark.read.orc(s"$out/li")
    assert(back.schema == orig.schema)
    assert(back.as[(Long, Int, Double, String)].collect().toSet ==
      orig.as[(Long, Int, Double, String)].collect().toSet)
  }

  test("jsonl sink/source round-trips documents (the corpus interchange format)") {
    val out = Files.createTempDirectory("graft-jsonl").toFile.getAbsolutePath
    val orig = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "text")
    orig.write.json(s"$out/docs") // JSON Lines, one object per row
    // schema-on-read with an explicit schema: at 100 TB schema
    // inference is a full extra pass — production readers pin it
    val back = spark.read.schema(orig.schema).json(s"$out/docs")
    assert(back.schema == orig.schema)
    assert(back.count() == orig.count())
    assert(back.as[(Long, String, String, String)].collect().toSet ==
      orig.as[(Long, String, String, String)].collect().toSet)
  }

  test("robust jsonl read quarantines corrupt lines without losing clean rows") {
    val dir = Files.createTempDirectory("graft-jsonl-bad").toFile.getAbsolutePath
    val lines = Seq(
      """{"doc_id": 1, "text": "alpha beta"}""",
      """{"doc_id": 2, "text": "gamma""",          // truncated json
      """{"doc_id": 3, "text": "delta epsilon"}""",
      """not json at all""",
      """{"doc_id": 4, "text": "zeta"}""")
    Files.write(java.nio.file.Paths.get(dir, "part-0.jsonl"),
      lines.mkString("\n").getBytes)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val df = graft.sources.TextIO.readJsonlRobust(spark, Seq(dir), schema)
    val rows = df.select("doc_id", "text", "_corrupt_record").collect()
    assert(rows.length == 5, "PERMISSIVE keeps every input line")
    val clean = rows.filter(_.isNullAt(2))
    val quarantined = rows.filter(!_.isNullAt(2))
    assert(clean.map(_.getLong(0)).toSet == Set(1L, 3L, 4L))
    assert(quarantined.length == 2)
    assert(quarantined.forall(r => r.isNullAt(0) && r.isNullAt(1)),
      "corrupt rows must not half-parse")
    // DROPMALFORMED is the lossy alternative — count must match clean
    val dropped = spark.read.schema(schema)
      .option("mode", "DROPMALFORMED").json(dir)
    assert(dropped.count() == 3)
  }

  test("KV DataSource V2 round-trips writeKV output exactly") {
    val out = Files.createTempDirectory("graft-kv-v2").toFile.getAbsolutePath + "/wc"
    val wc = graft.operators.WordCount.alpha(spark, sf)
    graft.sources.TextIO.writeKV(wc, "word", "cnt", out, nReduce = 4)
    val back = spark.read.format("graft.sources.KVDataSource").load(out)
    assert(back.schema.fieldNames.toSeq == Seq("key", "value"))
    val expect = wc.as[(String, Long)].collect().toMap
    val got = back.as[(String, Long)].collect().toMap
    assert(got == expect)
    // one InputPartition per reduce-output file
    assert(back.rdd.getNumPartitions == 4)
  }

  test("writeKV writes a null key and a null value as null, null keys first") {
    val out = Files.createTempDirectory("graft-kv-null").toFile.getAbsolutePath + "/kv"
    val df = Seq[(String, java.lang.Long)](("b", 2L), (null, 1L), ("a", null))
      .toDF("k", "v")
    graft.sources.TextIO.writeKV(df, "k", "v", out, nReduce = 1)
    val lines = Files.readAllLines(java.nio.file.Paths.get(out, "part-00000"))
    assert(lines.toArray.toSeq == Seq("null 1", "a null", "b 2"))
  }

  test("KV DataSource V2 prunes columns and pushes key filters") {
    val out = Files.createTempDirectory("graft-kv-v2p").toFile.getAbsolutePath + "/wc"
    val wc = graft.operators.WordCount.alpha(spark, sf)
    graft.sources.TextIO.writeKV(wc, "word", "cnt", out, nReduce = 2)
    val q = spark.read.format("graft.sources.KVDataSource").load(out)
      .filter(col("key").startsWith("t"))
      .select("key")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<key:string>"), plan)
    assert(plan.contains("PushedFilters: [StringStartsWith(key,t)"), plan)
    val expect = wc.filter(col("word").startsWith("t"))
      .select("word").as[String].collect().toSet
    assert(q.as[String].collect().toSet == expect)
    // unsupported filters stay post-scan and still evaluate correctly
    val q2 = spark.read.format("graft.sources.KVDataSource").load(out)
      .filter(col("value") > 100L)
    val expect2 = wc.filter(col("cnt") > 100L).count()
    assert(q2.count() == expect2)
  }

  test("bucketed tables: co-located join with ZERO exchanges") {
    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
    // the in-memory catalog forgets tables between JVMs but the
    // warehouse directories persist — clear them or CTAS refuses
    Seq("orders_b", "lineitem_b").foreach { t =>
      val p = new org.apache.hadoop.fs.Path(s"/tmp/graft_warehouse/$t")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
    }
    Tables.orders(spark, sf).select("o_orderkey", "o_totalprice")
      .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .mode("overwrite").saveAsTable("orders_b")
    Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .mode("overwrite").saveAsTable("lineitem_b")

    val joined = spark.table("lineitem_b").hint("merge")
      .join(spark.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
    joined.count() // finalize AQE
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), plan)
    // bucket layout satisfies both sides' distribution — no shuffle
    assert(!plan.contains("Exchange hashpartitioning"), plan)

    val expected = Tables.lineitem(spark, sf)
      .join(Tables.orders(spark, sf),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == expected)
  }

  test("partitioned parquet write → scan prunes partitions on filter") {
    val out = Files.createTempDirectory("graft-part").toFile.getAbsolutePath
    Tables.orders(spark, sf)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").parquet(s"$out/orders")

    // physical layout: one directory per year
    val dirs = new java.io.File(s"$out/orders").listFiles()
      .filter(_.getName.startsWith("order_year=")).map(_.getName).sorted
    assert(dirs.length > 1, s"expected multiple year partitions, got ${dirs.toSeq}")

    val q = spark.read.parquet(s"$out/orders")
      .filter(col("order_year") === 1995)
      .agg(count(lit(1)))
    val plan = q.queryExecution.executedPlan.toString
    // the year filter must appear as a PartitionFilter (pruning whole
    // directories), not a post-scan data filter
    assert(plan.contains("PartitionFilters: [isnotnull(order_year"), plan)

    val expected = Tables.orders(spark, sf)
      .filter(year(col("o_orderdate")) === 1995).count()
    assert(q.as[Long].collect().head == expected)
  }
}
