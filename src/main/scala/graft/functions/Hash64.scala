package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Pluggable 64-bit hash for the sketch operators (minhash, simhash,
  * SRP-LSH, IVF centroid sampling).
  *
  *   - [[Hash64.Xx]] (default): xxhash64 — codegen'd, fast, the
  *     production path. Not portable: no other engine computes Spark's
  *     xxhash64 over Spark's internal row encoding.
  *   - [[Hash64.Portable]]: the low 60 bits of md5 over the operand's
  *     canonical STRING form — computable bit-identically in DuckDB as
  *     `('0x' || substr(md5(s), 18, 15))::BIGINT`, which is what lets the
  *     driver hash-check the FULL sketch pipelines (banding, candidate
  *     joins, bucket routing, verify) against a SQL oracle instead of a
  *     rows-only count. ~60 effective bits (top 4 of 64 are zero) — ample
  *     for dedup/ANN sketching; md5-per-token costs a few x more than
  *     xxhash64, which is why it is the ORACLE mode, not the default.
  *
  * Seeding is canonicalized so both modes have identical call shapes:
  * seeded Xx hashes (operand, seed) as a two-column xxhash64; seeded
  * Portable appends "#seed" to the string form. Pair-hash (two operands,
  * e.g. SRP's (bit, dim) hyperplane seed) joins with ",".
  */
sealed trait Hash64 {
  /** Hash of one column (longs hashed as-is for Xx, as decimal strings
    * for Portable — both deterministic and engine-stable).
    */
  def one(s: Column): Column

  /** Seeded hash; seed may itself be a column (e.g. a lambda index). */
  def seeded(s: Column, seed: Column): Column

  final def seeded(s: Column, seed: Int): Column = seeded(s, lit(seed))

  /** Hash of an (a, b) operand pair (SRP hyperplane entries). */
  def pair(a: Column, b: Column): Column

  /** `one(lit(s))`, computed in a task (spec-pinned for both modes). */
  private[graft] def oneOf(s: String): Long

  /** `seed => seeded(lit(s), seed)`, computed in a task. Apply it once
    * per seed: Xx hashes the bytes of `s` once and each seed costs one
    * more `hashInt` round.
    */
  private[graft] def seededOf(s: String): Int => Long
}

object Hash64 {

  case object Xx extends Hash64 {
    def one(s: Column): Column = xxhash64(s)
    def seeded(s: Column, seed: Column): Column = xxhash64(s, seed)
    def pair(a: Column, b: Column): Column = xxhash64(a, b)
    // xxhash64 folds its operands left to right from seed 42, so
    // xxhash64(s, h) = hashInt(h, xxhash64(s))
    private[graft] def oneOf(s: String): Long =
      XXH64.hashUTF8String(UTF8String.fromString(s), 42L)
    private[graft] def seededOf(s: String): Int => Long = {
      val base = oneOf(s)
      seed => XXH64.hashInt(seed, base)
    }
  }

  case object Portable extends Hash64 {
    def one(s: Column): Column =
      conv(substring(md5(s.cast("string")), 18, 15), 16, 10).cast("long")
    def seeded(s: Column, seed: Column): Column =
      one(concat(s.cast("string"), lit("#"), seed.cast("string")))
    def pair(a: Column, b: Column): Column =
      one(concat(a.cast("string"), lit(","), b.cast("string")))
    // the last 15 hex digits of the md5 are its low 60 bits
    private[graft] def oneOf(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.ByteBuffer.wrap(d, 8, 8).getLong & ((1L << 60) - 1)
    }
    private[graft] def seededOf(s: String): Int => Long =
      seed => oneOf(s + "#" + seed)
  }

  /** The DuckDB expression mirroring [[Portable]].one over a string
    * expression — kept next to the Scala form so they can only drift
    * together. Used by the SparkEntry oracle SQL.
    */
  def duckdb(sqlExpr: String): String =
    s"('0x' || substr(md5($sqlExpr), 18, 15))::BIGINT"
}
