package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSpec, Tables}

/** The DSv2 text-table source: round-trip fidelity against the parquet
  * original, column-pruning and filter pushdown reaching the scan (plan-
  * asserted, not just result-asserted), file-granular parallelism, and
  * the `.det` sidecar grammar including the reference's testcase
  * sidecar layout (a reconstructed CUSTOMER.det, see
  * ReferenceTestcasesSpec). */
class TextTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-txt-spec").toString

  private def customerCols = Tables.customer(spark, sf)
    .select(col("c_custkey").cast(IntegerType),
      col("c_name"), col("c_nationkey").cast(IntegerType),
      col("c_mktsegment"))

  private def scanOf(df: org.apache.spark.sql.DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail(s"no BatchScan in:\n${df.queryExecution.executedPlan}"))

  test("round-trips a table byte-for-byte against the parquet original") {
    val dir = tmp()
    TextTables.write(customerCols, dir)
    val back = TextTables.read(spark, dir)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      customerCols.schema.map(f => (f.name, f.dataType)))
    assert(back.collect().map(_.toSeq).toSet ==
      customerCols.collect().map(_.toSeq).toSet)
  }

  test("REAL (float) columns survive the text round-trip") {
    val dir = tmp()
    val df = Seq((1, 1.5f, "a"), (2, -0.25f, "b"), (3, 1234.5625f, "c"))
      .toDF("id", "v", "s")
    TextTables.write(df, dir)
    val back = TextTables.read(spark, dir)
    assert(back.schema("v").dataType == FloatType)
    assert(back.collect().map(_.toSeq).toSet == df.collect().map(_.toSeq).toSet)
  }

  test("column pruning reaches the scan: ReadSchema is the projection only") {
    val dir = tmp()
    TextTables.write(customerCols, dir)
    val df = TextTables.read(spark, dir).select("c_custkey")
    val scan = scanOf(df)
    assert(scan.scan.readSchema().fieldNames.toSeq == Seq("c_custkey"),
      s"unpruned read schema: ${scan.scan.readSchema()}")
    assert(df.count() == customerCols.count())
  }

  test("comparison filters push into the scan and filter correctly") {
    val dir = tmp()
    TextTables.write(customerCols, dir)
    val df = TextTables.read(spark, dir)
      .filter(col("c_nationkey") >= 10 && col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    val desc = scanOf(df).scan.description()
    assert(desc.contains("GreaterThanOrEqual(c_nationkey,10)") &&
      desc.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"filters not pushed: $desc")
    val expect = customerCols
      .filter(col("c_nationkey") >= 10 && col("c_mktsegment") === "BUILDING")
      .select("c_custkey", "c_name")
    assert(df.collect().map(_.toSeq).toSet ==
      expect.collect().map(_.toSeq).toSet)
  }

  test("an unsupported filter stays with Spark and results remain exact") {
    val dir = tmp()
    TextTables.write(customerCols, dir)
    // IsNotNull and string EndsWith are not in the pushdown set
    val df = TextTables.read(spark, dir)
      .filter(col("c_name").endsWith("1") && col("c_custkey") < 500)
    val desc = scanOf(df).scan.description()
    assert(desc.contains("LessThan(c_custkey,500)"), desc)
    assert(!desc.contains("EndsWith"), desc)
    val expect = customerCols
      .filter(col("c_name").endsWith("1") && col("c_custkey") < 500)
    assert(df.collect().map(_.toSeq).toSet ==
      expect.collect().map(_.toSeq).toSet)
  }

  test("a sharded table scans with one partition per data file") {
    val dir = tmp()
    TextTables.write(customerCols.repartition(4), dir)
    val nFiles = TextTables.dataFiles(dir).length
    assert(nFiles >= 2, s"expected a sharded layout, got $nFiles file(s)")
    val back = TextTables.read(spark, dir)
    assert(back.rdd.getNumPartitions == nFiles)
    assert(back.count() == customerCols.count())
  }

  test("reported statistics let a small text table broadcast in a join") {
    val dir = tmp()
    TextTables.write(Tables.nation(spark, sf)
      .select(col("n_nationkey").cast(IntegerType), col("n_name")), dir)
    val bytes = TextTables.dataBytes(dir)
    assert(bytes > 0 && bytes < 64 * 1024, s"nation text size: $bytes")
    // un-hinted join: the planner must see the true (tiny) size through
    // SupportsReportStatistics and pick a broadcast join on its own
    val joined = customerCols.join(TextTables.read(spark, dir),
      col("c_nationkey") === col("n_nationkey"))
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"small text side not broadcast:\n$plan")
    assert(joined.count() == customerCols.count())
  }

  test("parses the reference's .det sidecar layout (header lines, extra fields)") {
    val schema = TextTables.schemaAt(
      SparkSpec.resource("reference/testcases/CUSTOMER.det"))
    assert(schema == StructType(Seq(
      StructField("cid", IntegerType, nullable = false),
      StructField("gender", IntegerType, nullable = false),
      StructField("firstname", StringType, nullable = false),
      StructField("lastname", StringType, nullable = false),
      StructField("address", StringType, nullable = false))))
  }

  test("V2 write: append adds a generation, overwrite replaces it") {
    val dir = tmp()
    val a = Seq((1, "a"), (2, "b")).toDF("id", "s")
    val b = Seq((3, "c")).toDF("id", "s")
    a.write.format("graft-txt").mode("overwrite").save(dir)
    b.write.format("graft-txt").mode("append").save(dir)
    assert(TextTables.read(spark, dir).collect().map(_.toSeq).toSet ==
      Set(Seq(1, "a"), Seq(2, "b"), Seq(3, "c")))
    b.write.format("graft-txt").mode("overwrite").save(dir)
    assert(TextTables.read(spark, dir).collect().map(_.toSeq).toSet ==
      Set(Seq(3, "c")))
  }

  test("V2 write commit leaves no temp files and shards per input partition") {
    val dir = tmp()
    customerCols.repartition(4).write.format("graft-txt")
      .mode("overwrite").save(dir)
    val names = new java.io.File(dir).listFiles().map(_.getName)
    // (.crc siblings are the local filesystem's checksum files — dot-
    // prefixed, so readers skip them like any uncommitted temp)
    assert(!names.exists(_.endsWith(".tmp")),
      s"uncommitted temps left behind: ${names.mkString(", ")}")
    assert(names.count(_.startsWith("part-")) == 4,
      s"expected 4 shards: ${names.mkString(", ")}")
    assert(names.contains("schema.det"))
    assert(TextTables.read(spark, dir).count() == customerCols.count())
  }

  test("V2 append rejects a mismatched schema before launching tasks") {
    val dir = tmp()
    Seq((1, "a")).toDF("id", "s")
      .write.format("graft-txt").mode("overwrite").save(dir)
    val e = intercept[Exception] {
      // same columns, swapped order -> old shards would misparse
      Seq(("b", 2)).toDF("s", "id")
        .write.format("graft-txt").mode("append").save(dir)
    }
    assert(e.getMessage.contains("does not match"),
      s"unexpected error: ${e.getMessage}")
    // overwrite with the new schema is the sanctioned path
    Seq(("b", 2)).toDF("s", "id")
      .write.format("graft-txt").mode("overwrite").save(dir)
    assert(TextTables.read(spark, dir).collect().map(_.toSeq).toSet ==
      Set(Seq("b", 2)))
  }

  test("V2 write rejects NULL values loudly (the format cannot hold them)") {
    val dir = tmp()
    val e = intercept[Exception] {
      Seq((1, "a"), (2, null)).toDF("id", "s")
        .write.format("graft-txt").mode("overwrite").save(dir)
    }
    assert(e.getMessage != null)
  }

  test("V2 write rejects a non-reference column type before launching tasks") {
    val dir = tmp()
    val e = intercept[Exception] {
      Seq((1L, "a")).toDF("id", "s")
        .write.format("graft-txt").mode("overwrite").save(dir)
    }
    assert(e.getMessage.contains("INTEGER/STRING/REAL"),
      s"unexpected error: ${e.getMessage}")
  }

  test("V2 append fails loudly on a corrupt sidecar instead of replacing it") {
    val dir = tmp()
    Seq((1, "a")).toDF("id", "s")
      .write.format("graft-txt").mode("overwrite").save(dir)
    val side = new java.io.File(dir, "schema.det")
    val original = Files.readAllBytes(side.toPath)
    // out-of-band mutation: drop the LocalFS checksum sibling so the
    // reader sees the corrupt CONTENT, not a checksum mismatch
    new java.io.File(dir, ".schema.det.crc").delete()
    Files.write(side.toPath, "2\n24\nid BOGUS 10 PK 4\ns STRING 5 NK 10\n"
      .getBytes("UTF-8"))
    val e = intercept[Exception] {
      Seq((2, "b")).toDF("id", "s")
        .write.format("graft-txt").mode("append").save(dir)
    }
    assert(e.getMessage.contains("BOGUS"), s"unexpected error: ${e.getMessage}")
    // the append must NOT have run: the corrupt sidecar is untouched and
    // no new shard appeared beside the original one
    assert(Files.readAllBytes(side.toPath).sameElements(
      "2\n24\nid BOGUS 10 PK 4\ns STRING 5 NK 10\n".getBytes("UTF-8")))
    assert(new java.io.File(dir).listFiles()
      .count(_.getName.startsWith("part-")) == 1)
    Files.write(side.toPath, original)
    assert(TextTables.read(spark, dir).collect().map(_.toSeq).toSet ==
      Set(Seq(1, "a")))
  }

  test("a type-mismatched literal declines pushdown instead of failing the scan") {
    import org.apache.spark.sql.sources.EqualTo
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("s", StringType, nullable = false),
      StructField("v", FloatType, nullable = false)))
    assert(TextFilters.supports(EqualTo("id", 5), schema))
    assert(TextFilters.supports(EqualTo("s", "x"), schema))
    assert(TextFilters.supports(EqualTo("v", 1.5f), schema))
    // wrong runtime type for the column -> stays with Spark
    assert(!TextFilters.supports(EqualTo("id", "5"), schema))
    assert(!TextFilters.supports(EqualTo("s", 7), schema))
    assert(!TextFilters.supports(EqualTo("v", 1.5), schema)) // Double, not Float
    assert(!TextFilters.supports(EqualTo("missing", 1), schema))
  }

  test("streaming V2 sink appends exactly-once across a restart") {
    import java.nio.file.{Paths, StandardCopyOption}
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val root = Files.createTempDirectory("graft-txt-stream")
    val (src, out, chk) = (s"$root/src", s"$root/out", s"$root/chk")
    Files.createDirectories(Paths.get(src))
    val schema = StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("s", StringType, nullable = false)))
    // the streaming sink APPENDS to an existing table (schema inference
    // reads the sidecar) — create it with an empty V2 batch write
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      .write.format("graft-txt").mode("overwrite").save(out)
    def drop(name: String, ids: Seq[Int]): Unit = {
      val tmpDir = s"$root/tmp-$name"
      ids.map(i => (i, s"row-$i")).toDF("id", "s")
        .coalesce(1).write.parquet(tmpDir)
      val part = Paths.get(tmpDir).toFile.listFiles()
        .find(_.getName.endsWith(".parquet")).get.toPath
      Files.move(part, Paths.get(s"$src/$name.parquet"),
        StandardCopyOption.ATOMIC_MOVE): Unit
    }
    def runOnce(): Unit = {
      val q = spark.readStream.schema(schema).parquet(src)
        .writeStream.format("graft-txt")
        .option("path", out).option("checkpointLocation", chk)
        .outputMode(OutputMode.Append)
        .trigger(Trigger.AvailableNow())
        .start()
      assert(q.awaitTermination(60000))
      assert(q.exception.isEmpty, q.exception.toString)
    }
    drop("b1", Seq(1, 2, 3))
    runOnce()
    assert(TextTables.read(spark, out).count() == 3)
    drop("b2", Seq(4, 5))
    runOnce()
    // the restart consumed ONLY the new file: 5 rows, no b1 re-append
    val back = TextTables.read(spark, out)
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).sorted
      .toSeq == (1 to 5).map(i => (i, s"row-$i")))
    // streaming shards are epoch-addressed, so a replayed epoch would
    // overwrite its own files instead of duplicating rows (the uuid-named
    // empty shard is the initial batch write's)
    val shards = Paths.get(out).toFile.listFiles()
      .map(_.getName).filter(_.startsWith("part-"))
    assert(shards.count(_.contains("-epoch-")) == 2, shards.mkString(", "))
  }

  test("streaming V2 sink refuses Complete output mode") {
    import org.apache.spark.sql.streaming.OutputMode
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Int, String)]
    val dir = tmp()
    val e = intercept[Exception] {
      val q = in.toDF().toDF("id", "s")
        .groupBy("id").agg(first("s").as("s"))
        .writeStream.format("graft-txt")
        .option("path", dir)
        .option("checkpointLocation", s"$dir-chk")
        .outputMode(OutputMode.Complete())
        .start()
      try { in.addData((1, "a")); q.processAllAvailable() }
      finally q.stop()
    }
    def all(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ all(x.getCause))
    assert(all(e).exists(m => m.contains("Append") ||
      m.contains("Complete") || m.contains("Truncate")), e.toString)
  }

  test("single-file table with a sibling .det reads too") {
    val dir = tmp()
    val data = new java.io.File(dir, "MINI.txt")
    val side = new java.io.File(dir, "MINI.det")
    Files.write(data.toPath,
      "1\talpha\t1.5\n2\tbeta\t-0.5\n".getBytes("UTF-8"))
    Files.write(side.toPath,
      "3\n28\nid INTEGER 10 PK 4\nname STRING 5 NK 10\nscore REAL 2 NK 4\n"
        .getBytes("UTF-8"))
    val back = spark.read.format("graft-txt").load(data.toString)
    assert(back.collect().map(_.toSeq).toSet ==
      Set(Seq(1, "alpha", 1.5f), Seq(2, "beta", -0.5f)))
  }
}
