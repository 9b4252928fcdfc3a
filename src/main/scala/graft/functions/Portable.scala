package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash/sketch building blocks that evaluate IDENTICALLY in Spark and in the
  * DuckDB oracle, so sketch-based operators (MinHash, SimHash, deterministic
  * sampling) are hash-checkable end to end.
  *
  * Foundation: md5 (bit-identical everywhere) → first 15 hex digits → 60-bit
  * non-negative BIGINT. Spark: conv(substr(md5(x),1,15),16,10)::long.
  * DuckDB:  CAST('0x'||substr(md5(x),1,15) AS BIGINT).
  *
  * Scale posture: every function here is a pure codegen'd expression chain
  * (md5/conv/substr/pmod are all whole-stage-codegen capable) — no UDFs, no
  * shuffles, safe inside a 100 TB scan.
  */
object Portable {

  /** 60-bit stable hash of the string form of a column. */
  def stableHash64(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** DuckDB SQL for the same value, given a SQL expression string. */
  def stableHash64Sql(expr: String): String =
    s"CAST(concat('0x', substr(md5(CAST($expr AS VARCHAR)),1,15)) AS BIGINT)"

  /** Deterministic "bernoulli" sample: keep rows whose hash lands in
    * [0, pct) of 100 buckets. Replaces seed-based sample() for oracle
    * parity (reference Sample: basicOperators.scala:62). */
  def deterministicSample(key: Column, pct: Int): Column =
    stableHash64(key) % 100 < pct

  def deterministicSampleSql(expr: String, pct: Int): String =
    s"(${stableHash64Sql(expr)} % 100) < $pct"

  // ---- MinHash ----------------------------------------------------------
  // h_i(x) = (a_i * (H(x) mod 2^30) + b_i) mod P  with P = 2^31-1 prime.
  // a_i*x <= 2^30 * 2^30 = 2^60 < 2^63: no overflow in either engine.

  val MinHashP: Long = 2147483647L // 2^31 - 1, prime
  val MinHashDomain: Long = 1073741824L // 2^30

  /** Fixed (a,b) parameter pairs — single source of truth for both engines. */
  val MinHashParams: Seq[(Long, Long)] = (0 until 16).map { i =>
    val a = (2L * i + 1L) * 1299709L % MinHashDomain
    val b = (i.toLong * 104729L + 12582917L) % MinHashDomain
    (a, b)
  }

  /** Base hashes of each shingle, computed ONCE per document — the md5 is
    * the expensive step, so the 16 minhash functions must share it
    * (16× less hash work in the scan stage; the (a,b) affine transforms
    * below are nearly free). */
  def shingleHashes(shingles: Column): Column =
    transform(shingles, s => stableHash64(s) % MinHashDomain)

  def shingleHashesSql(shinglesExpr: String): String =
    s"list_transform($shinglesExpr, s -> (${stableHash64Sql("s")} % $MinHashDomain))"

  /** Minhash i from the shared base hashes (array<long>). */
  def minhashFromHashes(hs: Column, i: Int): Column = {
    val (a, b) = MinHashParams(i)
    array_min(transform(hs, h => (lit(a) * h + lit(b)) % MinHashP))
  }

  def minhashFromHashesSql(hsExpr: String, i: Int): String = {
    val (a, b) = MinHashParams(i)
    s"list_min(list_transform($hsExpr, h -> ($a * h + $b) % $MinHashP))"
  }

  /** One minhash value: min over `shingles` (array<string>) of h_i.
    * (Convenience composition; batch callers should hash once via
    * shingleHashes + minhashFromHashes.) */
  def minhashValue(shingles: Column, i: Int): Column =
    minhashFromHashes(shingleHashes(shingles), i)

  /** Word 3-shingles from an ALREADY-MATERIALIZED tokens column.
    * Callers must stage `split(text, " ")` as its own projection first:
    * passing the split expression directly re-evaluates it inside every
    * element_at (O(tokens²) per document). */
  def shingles3FromTokens(toks: Column): Column =
    // positions 0 .. size-3 → tok[i] ' ' tok[i+1] ' ' tok[i+2]
    filter(
      transform(sequence(lit(0), greatest(size(toks) - 3, lit(0))), i =>
        when(i <= size(toks) - 3,
          concat_ws(" ", element_at(toks, i + 1), element_at(toks, i + 2), element_at(toks, i + 3)))),
      s => s.isNotNull)

  /** Word 3-shingles from a text column (convenience for small inputs;
    * batch pipelines should stage tokens + shingles3FromTokens). */
  def shingles3(text: Column): Column = shingles3FromTokens(split(text, " "))

  /** DuckDB: same word 3-shingles (1-based list indexing). */
  def shingles3Sql(textExpr: String): String =
    s"""list_transform(range(1, greatest(len(string_split($textExpr,' ')) - 1, 1)),
        i -> string_split($textExpr,' ')[i] || ' ' || string_split($textExpr,' ')[i+1] || ' ' || string_split($textExpr,' ')[i+2])"""
      .replaceAll("\\s+", " ")
}
