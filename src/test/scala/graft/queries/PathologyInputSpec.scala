package graft.queries

import java.nio.file.Files

import org.scalatest.BeforeAndAfterAll

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pathological-CONTENT robustness (the sibling of EmptyInputSpec's
  * empty-TABLE contract): every p-query in `Pipeline.queries` runs
  * without crashing on a corpus of empty texts, 1-token docs,
  * stopword-only docs, one-token-repeated docs, and a zero-norm
  * 64-dim embedding. This is exactly the input class that crashed the
  * cosine family under Spark 4 ANSI before round-13's cos6 guard
  * (DIVIDE_BY_ZERO on a zero-norm vector) — kept green mechanically
  * so the next ratio expression can't reintroduce it. One test per
  * registered name, so a new p-query is covered the day it lands. */
object PathologyInputSpec {
  lazy val dir: String = {
    val spark = graft.SparkSpec.spark
    import spark.implicits._
    val d = Files.createTempDirectory("graft-pathology-spec").toString
    val texts = Seq("", "x", "x y", "the", "the the the the",
      "a b c d e f g h i j")
    (0 until 35).map { i =>
      (i.toLong, texts(i % texts.length), "en", s"src${i % 3}",
        texts(i % texts.length).length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    (0 until 35).map(i => (i.toLong,
        if (i == 3) Seq.fill(64)(0f)
        else (0 until 64).map(x => ((i * 7 + x * 3) % 9 - 4).toFloat),
        i.toLong % 5))
      .toDF("vec_id", "embedding", "label")
      .write.mode(SaveMode.Overwrite).parquet(s"$d/embeddings.parquet")
    graft.Tables.names.filterNot(Set("documents", "embeddings")).foreach {
      t =>
        spark.read.parquet(s"${graft.SparkSpec.Sf}/$t.parquet")
          .write.mode(SaveMode.Overwrite).parquet(s"$d/$t.parquet")
    }
    d
  }
}

class PathologyInputSpec extends SparkSpec with BeforeAndAfterAll {

  override def afterAll(): Unit =
    try removeDirectory(PathologyInputSpec.dir) finally super.afterAll()

  Pipeline.queries.toSeq.sortBy(_._1).foreach { case (name, q) =>
    test(s"$name survives pathological content") {
      // contract: no crash; rows are whatever the op's semantics say
      q(spark, PathologyInputSpec.dir)
        .write.mode("overwrite").format("noop").save()
    }
  }
}
