package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.types._

import graft.SparkSpec

class IngestSpec extends SparkSpec {

  test("csvToParquet round-trips typed rows") {
    val dir = Files.createTempDirectory("graft-ingest")
    val txt = dir.resolve("in.txt")
    Files.writeString(txt, "1\talice\t10.5\n2\tbob\t20.25\n")
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("bal", FloatType)))
    val out = dir.resolve("out.parquet").toString
    Ingest.csvToParquet(spark, txt.toString, schema, out)
    val back = spark.read.parquet(out).orderBy("id").collect()
    assert(back.length == 2)
    assert(back(0).getInt(0) == 1 && back(0).getString(1) == "alice"
      && back(0).getFloat(2) == 10.5f)
    assert(back(1).getInt(0) == 2 && back(1).getString(1) == "bob"
      && back(1).getFloat(2) == 20.25f)
  }

  test("writeDelimited emits the reference result format and round-trips") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-sink")
    val out = dir.resolve("result.tsv").toString
    val df = Seq((1, "alice", 10.5f), (2, "bob", 20.25f))
      .toDF("id", "name", "bal")
    Ingest.writeDelimited(df, out)
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("name", StringType),
      StructField("bal", FloatType)))
    val back = Ingest.readDelimited(spark, out, schema, header = true)
      .orderBy("id").collect()
    assert(back.map(r => (r.getInt(0), r.getString(1), r.getFloat(2))).toSeq
      == Seq((1, "alice", 10.5f), (2, "bob", 20.25f)))
  }
}
