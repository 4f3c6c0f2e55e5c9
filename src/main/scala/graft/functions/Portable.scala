package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine ("portable") deterministic hashing & quantization.
  *
  * The driver's correctness gate hash-compares Spark output against a
  * DuckDB oracle, so every pseudo-random ingredient (minhash, simhash,
  * LSH hyperplanes) must be computable bit-identically in BOTH engines.
  * Spark's `xxhash64`/`hash` have no DuckDB equivalent; md5 does. We
  * derive all hashes from md5 hex prefixes:
  *
  *   Spark : CAST(conv(substr(md5(s), 1, 15), 16, 10) AS BIGINT)
  *   DuckDB: ('0x' || substr(md5(s), 1, 15))::BIGINT
  *
  * 15 hex chars = 60 bits → always a positive BIGINT in both engines.
  *
  * Floating-point is the other determinism hazard: float→decimal casts
  * and double summation order differ across engines/partitionings. For
  * embeddings we sidestep it entirely by quantizing each component to
  * an exact integer (`round(x * 1e7)` as BIGINT); dot products and
  * norms are then exact int64 arithmetic (|x| ≤ ~0.6 ⇒ components ≤
  * 6e6, 64-dim dot ≤ ~2.4e15 « 2^63), and only the final cosine does
  * correctly-rounded double sqrt/divide — identical everywhere.
  */
object Portable {

  /** Mersenne prime 2^31 − 1; modulus for minhash permutations. */
  val P: Long = 2147483647L

  /** 60-bit md5-prefix hash. DuckDB: `('0x'||substr(md5(s),1,15))::BIGINT`. */
  def hash60(c: Column): Column = conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** 32-bit md5-prefix hash. DuckDB: `('0x'||substr(md5(s),1,8))::BIGINT`. */
  def hash32(c: Column): Column = conv(substring(md5(c), 1, 8), 16, 10).cast("long")

  /** Deterministic basis-point sample gate: TRUE for the `rateBps`
    * /10000 fraction of ids (a pure function of the id — partition-,
    * engine- and retry-invariant; the gate every sampled mode in the
    * library shares). DuckDB:
    * `('0x'||substr(md5(seed||'_'||id),1,15))::BIGINT % 10000 < rateBps`. */
  def sampleGate(id: Column, rateBps: Int, seed: String): Column =
    pmod(hash60(concat(lit(seed), lit("_"), id.cast("string"))), lit(10000L)) < rateBps

  /** Minhash permutation k, fixed at plan time (for unrolled plans):
    * h ↦ (a_k·h + b_k) mod P with a_k = (k+1)·2654435761 mod P,
    * b_k = (k+7)·976369 mod P. Same closed form is embedded in the
    * oracle SQL — no literal tables to keep in sync. a_k < P and
    * h < P ⇒ product < 2^62, no overflow. */
  def minhashPermAt(k: Int, h: Column): Column = {
    val a = ((k + 1) * 2654435761L) % P
    val b = ((k + 7) * 976369L) % P
    pmod(lit(a) * h + lit(b), lit(P))
  }

  /** Quantize a float/double vector to exact int64:
    * `transform(v, x -> CAST(round(CAST(x AS DOUBLE) * 1e7) AS BIGINT))`.
    * DuckDB: `list_transform(v, x -> CAST(round(CAST(x AS DOUBLE)*10000000) AS BIGINT))`. */
  def quantize(v: Column): Column =
    transform(v, x => round(x.cast("double") * lit(10000000.0)).cast("long"))

  /** Exact int64 dot product of two quantized vectors — native
    * codegen'd [[LongDotProduct]] expression (the higher-order
    * `aggregate(zip_with(...))` form is interpreted and allocates a
    * zipped array per row; this is the per-candidate-pair hot path). */
  def dotQ(a: Column, b: Column): Column = LongDotProduct(a, b)

  /** Driver-side (plan-time) 60-bit md5-prefix hash of a string — same
    * value `hash60` would compute, for baking deterministic constants
    * (e.g. LSH hyperplanes) into plans as literals. */
  def hash60Local(s: String): Long = {
    val md  = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.take(15), 16)
  }
}
