package graft.tools

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.Session

/** Materialize a full scale-factor directory one decade (default 10×)
  * above an existing one, so the WHOLE 226-query gate and the bench can
  * run a rung above the driver's largest shipped data (sf0.1 → "sf1.0").
  *
  * This is deliberately NOT the corpus behind PLANS.md "Measured
  * scaling" (which planted 50% exact/near duplicate copies to stress the
  * dedup families): a real 10×
  * corpus has roughly the SAME duplicate rate, not 10× of it, so here
  * every replica is made disjoint while in-replica structure is kept:
  *
  *  - relational tables replicate with key-space offsets that preserve
  *    referential integrity (replica k's lineitem joins replica k's
  *    orders/part/supplier, exactly like TPC-H's dense-key scaling);
  *    region/nation stay fixed (TPC-H scales them at 1);
  *  - documents replicate with per-TOKEN suffix `_rk`, so replicas share
  *    no shingles/grams with the original (exact, MinHash, SimHash,
  *    substring and containment dedup all see a 10× corpus at the 1×
  *    duplicate RATE — in-replica dups remain dups since the transform
  *    is applied uniformly); n_chars is recomputed to stay consistent;
  *  - embeddings replicate with a deterministic per-element hash
  *    perturbation (±0.1), giving genuinely new vectors; one copy of the
  *    reserved codebook ids (vec_id < 16) is kept, matching that
  *    record's convention for the ops that treat them as centroids;
  *  - events replicate with shifted event ids AND user ids, so per-user
  *    volume (session shape) stays constant while the user space grows.
  *
  * Everything is deterministic (explode over a replica sequence + Spark's
  * fixed-seed murmur3 hash), so a regenerated directory is bit-compatible
  * with a prior one at the logical-value level. The correctness gate then
  * compares Spark vs DuckDB on the SAME generated parquet, so the
  * oracle's validity is unchanged by how the data was made.
  *
  *   sbt "runMain graft.tools.ScaleUp <srcSfDir> <dstDir> [mult]"
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: ScaleUp <srcSfDir> <dstDir> [mult]")
    val src = args(0)
    val dst = args(1)
    val mult = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = Session.local()
    build(spark, src, dst, mult)
    spark.stop()
  }

  /** Replicate `df` mult×: adds a replica column `r` in [0, mult) via
    * explode (stays one distributed scan — no driver-side union of mult
    * plans), applies `f(df, r)`, drops `r`. */
  private def blow(df: DataFrame, mult: Int)(
      f: (DataFrame, Column) => DataFrame): DataFrame = {
    val withR = df.withColumn("r",
      explode(sequence(lit(0L), lit(mult - 1L))))
    f(withR, col("r")).drop("r")
  }

  /** Dense-key stride: max(key)+1 (driver keys are 0-based dense). */
  private def strideOf(df: DataFrame, key: String): Long =
    df.agg(max(col(key))).head.getLong(0) + 1

  def build(spark: SparkSession, src: String, dst: String,
      mult: Int): Unit = {
    def rd(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def wr(df: DataFrame, t: String, parts: Int): Unit =
      df.repartition(parts)
        .write.mode(SaveMode.Overwrite).parquet(s"$dst/$t.parquet")

    // fixed tables (TPC-H holds them constant across scale factors)
    Seq("region", "nation").foreach(t => wr(rd(t), t, 1))

    val cust = rd("customer")
    val custStride = strideOf(cust, "c_custkey")
    wr(blow(cust, mult)((d, r) =>
      d.withColumn("c_custkey", col("c_custkey") + r * custStride)),
      "customer", 2)

    val supp = rd("supplier")
    val suppStride = strideOf(supp, "s_suppkey")
    wr(blow(supp, mult)((d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + r * suppStride)),
      "supplier", 1)

    val part = rd("part")
    val partStride = strideOf(part, "p_partkey")
    wr(blow(part, mult)((d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + r * partStride)),
      "part", 2)

    val ord = rd("orders")
    val ordStride = strideOf(ord, "o_orderkey")
    wr(blow(ord, mult)((d, r) => d
      .withColumn("o_orderkey", col("o_orderkey") + r * ordStride)
      .withColumn("o_custkey", col("o_custkey") + r * custStride)),
      "orders", 8)

    wr(blow(rd("lineitem"), mult)((d, r) => d
      .withColumn("l_orderkey", col("l_orderkey") + r * ordStride)
      .withColumn("l_partkey", col("l_partkey") + r * partStride)
      .withColumn("l_suppkey", col("l_suppkey") + r * suppStride)),
      "lineitem", 16)

    val ev = rd("events") // raw read: ts keeps the driver's encoding
    val evStride = strideOf(ev, "event_id")
    val userStride = strideOf(ev, "user_id")
    wr(blow(ev, mult)((d, r) => d
      .withColumn("event_id", col("event_id") + r * evStride)
      .withColumn("user_id", col("user_id") + r * userStride)),
      "events", 8)

    val docs = rd("documents")
    val docStride = strideOf(docs, "doc_id")
    wr(blow(docs, mult)((d, r) => d
      .withColumn("doc_id", col("doc_id") + r * docStride)
      .withColumn("text", when(r === 0L, col("text")).otherwise(
        // per-token suffix: replica k shares NO token (hence no
        // shingle/gram) with any other replica — dup RATE preserved
        array_join(transform(split(col("text"), " "),
          t => when(length(t) > 0, concat(t, lit("_r"), r))
            .otherwise(t)), " ")))
      .withColumn("n_chars", length(col("text")))),
      "documents", 8)

    val emb = rd("embeddings")
    val vecStride = strideOf(emb, "vec_id")
    wr(blow(emb, mult)((d, r) => d
      // one copy of the reserved codebook ids (the convention above)
      .filter(r === 0L || col("vec_id") >= 16L)
      .withColumn("vec_id", col("vec_id") + r * vecStride)
      .withColumn("embedding", when(r === 0L, col("embedding")).otherwise(
        // deterministic ±0.1 per-element perturbation: genuinely new
        // vectors per replica (murmur3 is fixed-seed → reproducible)
        transform(col("embedding"), (x, j) =>
          (x + (pmod(hash(col("vec_id"), r, j), lit(201)) - lit(100))
            .cast("float") / lit(1000.0f)).cast("float"))))),
      "embeddings", 4)
  }
}
