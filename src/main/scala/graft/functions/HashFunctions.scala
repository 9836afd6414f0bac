package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic, engine-portable hashing primitives.
  *
  * Everything is built from `md5` (identical hex output in Spark and DuckDB)
  * so that minhash / simhash / LSH-bucket / fingerprint results hash-match the
  * driver's DuckDB oracle bit-for-bit. All are pure Catalyst built-in
  * compositions — codegen-friendly, no UDFs, no JVM-specific hash (xxhash64 /
  * murmur would not be reproducible in the oracle).
  */
object HashFunctions {

  /** Mersenne-ish prime used for universal-hash arithmetic. Products stay
    * below 2^63: a,b < 2^20 and hash32 < 2^32 so a*h+b < 2^52.
    */
  val Prime: Long = 2147483647L

  /** Uniform 32-bit hash of a string column: first 8 hex chars of md5 as a
    * bigint in [0, 2^32). DuckDB equivalent: `('0x' || substr(md5(x),1,8))::BIGINT`.
    */
  def hash32(c: Column): Column =
    conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Independent 32-bit hash from a different 8-hex-char window of the SAME
    * md5 digest (pos is 1-based into the 32-char hex string) — a second hash
    * without a second digest computation.
    */
  def hash32At(c: Column, pos: Int): Column =
    conv(substring(md5(c), pos, 8), 16, 10).cast("long")

  /** Fixed (a, b) parameters for the minhash family — deterministic, shared
    * with the SQL oracle. Small odd multipliers chosen < 2^20.
    */
  val MinhashParams: Seq[(Long, Long)] = Seq(
    (387433L, 100663L), (775807L, 122299L), (655373L, 198491L), (729611L, 4057L),
    (577939L, 931517L), (913921L, 569483L), (824233L, 351061L), (963301L, 817504L))

  /** Minhash value for one hash-family member over an array<string> column:
    * min_i (a*hash32(token_i) + b) mod Prime. Null/empty arrays yield null.
    */
  def minhash(tokens: Column, a: Long, b: Long): Column =
    array_min(transform(tokens, t => pmod(lit(a) * hash32(t) + lit(b), lit(Prime))))

  /** 32-bit simhash from pre-hashed tokens (array<long> of hash32 values):
    * bit b of the result is set iff sum over tokens of (+1 if bit b of the
    * hash else -1) > 0. Taking hashes (not strings) keeps each token hashed
    * once instead of once per bit.
    */
  def simhashFromHashes(hashes: Column): Column =
    aggregate(
      sequence(lit(0), lit(31)),
      lit(0L),
      (acc, b) =>
        acc + when(
          aggregate(hashes, lit(0L),
            (s, h) => s + when((call_function("shiftright", h, b) % 2) === 1, 1L).otherwise(-1L)
          ) > 0,
          call_function("shiftleft", lit(1L), b)).otherwise(0L))
}
