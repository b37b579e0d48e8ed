package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.Portable._

/** Engine-portable hash/text/vector expressions. The h60 constant below
  * was computed independently in DuckDB 1.0
  * (`SELECT CAST('0x' || substr(md5('0:foo bar baz'), 1, 15) AS BIGINT)`) —
  * the whole oracle strategy rests on this equality. */
class PortableSpec extends SparkSpec {
  import spark.implicits._

  test("h60 matches the DuckDB-computed value") {
    val got = Seq("foo bar baz").toDF("s")
      .select(h60Seeded(lit(0), col("s"))).head.getLong(0)
    assert(got == 835883353591363636L)
  }

  test("h60 is non-negative (60-bit) and stable") {
    val df = Seq("a", "b", "c", "").toDF("s").select(h60(col("s")).as("h"))
    val hs = df.collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0 && h < (1L << 60)))
    assert(hs.distinct.length == 4)
  }

  test("shingles produce distinct w-grams in order") {
    val got = Seq("a b c d e").toDF("t")
      .select(shingles(tokens(col("t")), 3)).head.getSeq[String](0)
    assert(got == Seq("a b c", "b c d", "c d e"))
  }

  test("shingles of short docs are empty, not descending-sequence garbage") {
    val got = Seq("a b").toDF("t")
      .select(shingles(tokens(col("t")), 3)).head.getSeq[String](0)
    assert(got.isEmpty)
  }
}
