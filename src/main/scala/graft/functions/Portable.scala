package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

/** Deterministic, engine-portable building blocks for the data-pipeline
  * operators (dedup / LSH / ANN / text analysis).
  *
  * Everything here is chosen so the SAME value is computable in DuckDB by
  * the oracle SQL: md5 is a standard digest (unlike Spark's murmur `hash`,
  * whose seed/variant is engine-specific), and a 15-hex-digit prefix is a
  * 60-bit integer that fits a signed 64-bit long in both engines. At
  * cluster scale these are pure codegen-friendly expressions — no UDFs,
  * no driver-side state, fully partition-parallel.
  */
object Portable {

  /** 60-bit hash of a string: first 15 hex digits of md5, base-16→10 —
    * computed by the native [[Hash60]] expression (digest → bits, no
    * hex-string round trip). DuckDB twin:
    * `CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)`. */
  def h60(c: Column): Column = Hash60.h60native(c)

  /** The declarative string form of [[h60]] — the exact shape of the
    * DuckDB twin — kept as the equivalence-test baseline (Hash60Spec). */
  def h60String(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast(LongType)

  /** Seeded hash family for MinHash: h_i(s) = h60(i || ':' || s). */
  def h60Seeded(seed: Column, c: Column): Column =
    h60(concat(seed.cast(StringType), lit(":"), c))

  /** MinHash family from ONE md5 per key: x_i = (h1 + i·h2) mod p, then
    * h_i = (x_i² + x_i + i) mod p with p = 2^31−1. h1/h2 are the first 60
    * and next 40 bits of the digest. The quadratic term matters: a plain
    * Kirsch–Mitzenmacher combination h1 + i·h2 is a LINE in (h1,h2)-space,
    * so one set element with small h1 AND h2 captures the minimum for
    * every i (observed: a Jaccard-0.9 pair with 0/12 minhash agreement);
    * squaring breaks the linear order and restores ≈j agreement. All
    * intermediates stay positive and < 2^62 — no 64-bit overflow, and
    * both engines' `%` agree on positive operands.
    * DuckDB twin: `sqlHashFam(i, s)`. */
  def hashFam(i: Int, c: Column): Column = {
    val d = md5(c)
    hashFamFrom(i,
      conv(substring(d, 1, 15), 16, 10).cast(LongType),
      conv(substring(d, 16, 10), 16, 10).cast(LongType))
  }

  /** `hashFam` from the two precomputed digest halves. Callers evaluating
    * many family members per row (MinHash sketches) should compute
    * `h1`/`h2` once as columns and use this — one md5 per row instead of
    * one per (row × family member). */
  def hashFamFrom(i: Int, h1: Column, h2: Column): Column = {
    val x = (h1 + lit(i.toLong) * h2) % lit(HashP)
    (x * x + x + lit(i.toLong)) % lit(HashP)
  }

  val HashP: Long = 2147483647L // 2^31 - 1

  def sqlH60(s: String): String =
    s"CAST('0x' || substr(md5($s), 1, 15) AS BIGINT)"

  def sqlH60Seeded(seed: String, s: String): String =
    sqlH60(s"CAST($seed AS VARCHAR) || ':' || $s")

  def sqlHashFam(i: Int, s: String): String = {
    val x = s"((CAST('0x' || substr(md5($s), 1, 15) AS BIGINT) + " +
      s"$i * CAST('0x' || substr(md5($s), 16, 10) AS BIGINT)) % $HashP)"
    s"(($x * $x + $x + $i) % $HashP)"
  }

  /** Whitespace tokens. DuckDB twin: `string_split(s, ' ')`. */
  def tokens(c: Column): Column = split(c, " ")

  /** Distinct w-word shingles of a token array (n-gram set for Jaccard /
    * MinHash). Guarded so short docs yield an empty set — Spark's
    * `sequence(1, n)` would count DOWN for n < 1, unlike DuckDB's
    * `generate_series`. DuckDB twin:
    * `list_distinct(list_transform(generate_series(1, len(t)-w+1),
    *    i -> array_to_string(t[i:i+w-1], ' ')))`. */
  def shingles(toks: Column, w: Int): Column =
    when(size(toks) >= w,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (w - 1)),
        i => concat_ws(" ", slice(toks, i, lit(w))))))
      .otherwise(array().cast("array<string>"))

  def sqlShingles(t: String, w: Int): String =
    s"list_distinct(list_transform(generate_series(1, len($t)-${w - 1}), " +
      s"i -> array_to_string($t[i:i+${w - 1}], ' ')))"

  /** Element-wise double view of a float-array embedding. */
  def asDouble(vec: Column): Column =
    transform(vec, x => x.cast(DoubleType))

  /** Dot product via a left-to-right fold (deterministic order). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
}
