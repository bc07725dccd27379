package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine deterministic hashing.
  *
  * The correctness gate hash-compares Spark output against a DuckDB oracle, so
  * every hash the engine exposes must be computable bit-identically in both
  * engines. We derive a 60-bit non-negative integer from the first 15 hex chars
  * of md5 (UTF-8 bytes) — `conv` on the Spark side, a per-character fold on the
  * DuckDB side (DuckDB has no hex→int conversion; its `md5_number_*` halves are
  * little-endian and therefore awkward to reproduce portably).
  *
  * 60 bits keeps every intermediate (including small sums of hashes, used for
  * order-independent band signatures) comfortably inside a signed int64 even
  * with ANSI overflow checking enabled.
  */
object Hashing {

  /** 60-bit hash of a string column: first 15 hex chars of md5, base-16.
    * Implemented as the native codegen expression [[graft.plans.Hash60]]
    * (one static call on the digest bytes); [[hash60Composed]] is the
    * built-in-composition twin kept for the equivalence test.
    */
  def hash60(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.Hash60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c.cast("string"))))

  /** The same hash from Spark built-ins only (md5 → substring → conv). */
  def hash60Composed(c: Column): Column =
    conv(substring(md5(c.cast("string")), 1, 15), 16, 10).cast("long")

  /** Driver-side twin of [[hash60]] for values known at plan time (e.g. the
    * LSH hyperplane components, which depend only on (table, plane, dim) and
    * would otherwise cost one md5 per ROW per component inside codegen).
    */
  def hash60JVM(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** DuckDB SQL fragment computing the same 60-bit hash of expression `e`.
    * `e` must be a SQL expression of type VARCHAR. Evaluates md5 once per
    * character via the inner alias to stay a single expression.
    */
  def duckHash60(e: String): String =
    s"""list_reduce(list_transform(range(1,16), hxi -> CAST(CASE WHEN substring(md5($e), hxi, 1) BETWEEN '0' AND '9' THEN ascii(substring(md5($e), hxi, 1)) - 48 ELSE ascii(substring(md5($e), hxi, 1)) - 87 END AS BIGINT)), (hxa, hxb) -> hxa * 16 + hxb)"""

  /** DuckDB fragment folding an ALREADY-COMPUTED md5 hex column `m` (cheap
    * path for hot oracle queries: compute `md5(x) AS m` once in a CTE, then
    * fold its first 15 chars — avoids re-evaluating md5 per character).
    */
  def duckFoldHexCol(m: String): String =
    s"""list_reduce(list_transform(range(1,16), hxi -> CAST(CASE WHEN substring($m, hxi, 1) BETWEEN '0' AND '9' THEN ascii(substring($m, hxi, 1)) - 48 ELSE ascii(substring($m, hxi, 1)) - 87 END AS BIGINT)), (hxa, hxb) -> hxa * 16 + hxb)"""

  // ---------------------------------------------------------------------
  // Arithmetic universal-hash family over a single base hash.
  //
  // MinHash needs k hash functions per shingle; evaluating k md5s per
  // shingle multiplies the dominant cost k-fold. Instead both engines hash
  // each input ONCE (hash60 → base, reduced mod 2^30) and derive family
  // member i as h_i = (A(i) * base + B(i)) mod P — the classic (a*x+b) mod p
  // universal family. Bounds: base < 2^30 and A(i) < P < 2^30, so every
  // intermediate stays under 2^60 + 2^30 (safe in int64 with ANSI overflow
  // checks on). Constants are Murmur/Knuth multipliers reduced mod P so the
  // DuckDB oracle can inline them as plain literals.
  // ---------------------------------------------------------------------

  // ---------------------------------------------------------------------
  // Bloom filter (native aggregate + built-in-composed membership probe)

  /** Bloom-filter aggregate over a string column (the engine's third native
    * Catalyst aggregate — [[graft.plans.BloomFilter60]]). Evals to the
    * packed `numBits / 64`-long bit array; probe with [[bloomMightContain]].
    * Bits are ORs of per-row contributions, so the array is deterministic
    * under any partitioning or merge order.
    */
  def bloomFilterAgg(c: Column, numBits: Int, numHashes: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.BloomFilter60(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c.cast("string")),
        numBits, numHashes).toAggregateExpression())

  /** Membership probe against a [[bloomFilterAgg]] array: true iff every one
    * of the `numHashes` bits for `key` is set. NO false negatives; false
    * positives at ≈ (1 − e^(−kn/m))^k — always confirm positives with an
    * exact verify stage when exactness matters. Pure codegen'd column
    * arithmetic around the native hash60 (variable shifts go through
    * `shiftleft(1L, h mod 64)`; the bit index is 60-bit non-negative, so
    * `pmod` is unnecessary).
    */
  def bloomMightContain(bloom: Column, key: Column, numBits: Int, numHashes: Int): Column =
    (0 until numHashes).map { j =>
      val h = hash60(concat(lit(s"bf$j-"), key.cast("string"))) % lit(numBits.toLong)
      val word = element_at(bloom, shiftright(h, 6).cast("int") + lit(1))
      val mask = call_function("shiftleft", lit(1L), h.bitwiseAND(lit(63L)).cast("int"))
      word.bitwiseAND(mask) =!= lit(0L)
    }.reduce(_ && _)

  /** Theta sketch aggregate over a BIGINT column ([[graft.plans
    * .ThetaSketchAgg]]): evals to the serialized ordered CompactSketch —
    * durable, mergeable, and (unlike HLL) supporting set operations on the
    * stored bytes. Deterministic under any partitioning (k-smallest-hash
    * retention over the distinct item set).
    */
  def thetaSketchAgg(c: Column, lgK: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.ThetaSketchAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(c.cast("long")),
        lgK).toAggregateExpression())

  /** Distinct-count estimate of a stored theta sketch (binary column). */
  def thetaEstimate(sk: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.ThetaEstimate(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(sk)))

  /** |A ∩ B| estimate from two stored theta sketches. */
  def thetaIntersectEstimate(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.ThetaIntersectEstimate(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** Union aggregate over STORED theta sketch bytes (shard rollups). */
  def thetaUnionAgg(sk: Column, lgK: Int): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.ThetaUnionAgg(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(sk),
        lgK).toAggregateExpression())

  /** |A \ B| estimate from two stored theta sketches. */
  def thetaAnotBEstimate(a: Column, b: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.plans.ThetaAnotBEstimate(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(a),
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(b)))

  /** Largest prime below 2^30. */
  val FamilyP: Long = 1073741789L

  /** Modulus for the base-hash reduction (2^30). */
  val FamilyBase: Long = 1073741824L

  /** Multiplier for family member i: odd Knuth multiplier, nonzero mod P. */
  def familyA(i: Int): Long = ((2L * i + 1L) * 2654435761L) % FamilyP

  /** Offset for family member i. */
  def familyB(i: Int): Long = (i.toLong * 2246822519L + 3266489917L) % FamilyP

  /** hash60 reduced into the family's base domain [0, 2^30). */
  def familyBaseHash(c: Column): Column = hash60(c) % lit(FamilyBase)

  /** Family member i applied to a base-hash column. */
  def familyHash(base: Column, i: Int): Column =
    (lit(familyA(i)) * base + lit(familyB(i))) % lit(FamilyP)

  /** Seed-tagging constants for order-independent band signatures
    * (sum over band rows of (mh*C1 + (seed+1)*C2) mod P).
    */
  val BandC1: Long = 2654435761L % FamilyP // Knuth multiplier mod P
  val BandC2: Long = 2246822519L % FamilyP // Murmur3 c2 mod P
}
