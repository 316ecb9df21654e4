package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spark-only text kernels of the dedup operators: MinHash signatures,
  * LSH band keys, the exact fingerprint, SimHash and hamming distance.
  * They have no DuckDB twin: each oracle replays its operator's outcome
  * in its own SQL (the fingerprint oracle groups by the normalized text).
  * Tokens, normalized text, the stop-word list, the quality ratios and
  * shingles are cross-engine, so they live in [[Parity]] beside their
  * DuckDB twins.
  *
  * Everything here composes codegen'd built-ins (`functions._`) — no Scala
  * UDFs in the hot path — so whole-stage codegen spans survive and the
  * expressions run identically on a 1000-executor cluster. SimHash, which
  * built-ins cannot express, is a native Catalyst expression in
  * [[SimHash]].
  */
object TextFunctions {

  /** MinHash signature: k independent min-hashes over the shingle set.
    * Seeded by mixing the permutation index into xxhash64 (codegen'd);
    * deterministic across runs and executors. */
  def minhashSignature(shingleCol: Column, k: Int): Column =
    array((0 until k).map(i => array_min(transform(shingleCol, s => xxhash64(lit(i), s)))): _*)

  /** LSH band keys for a minhash signature: b bands of r rows; a band key
    * collides iff the r signature slots agree. Join on a band key is the
    * scale path: candidates shuffle on the key instead of a cross join. */
  def lshBandKeys(sig: Column, bands: Int, rowsPerBand: Int): Column =
    array((0 until bands).map(b => xxhash64(lit(b), slice(sig, b * rowsPerBand + 1, rowsPerBand))): _*)

  /** Exact 64-bit document fingerprint of normalized text. */
  def fingerprint(text: Column): Column = xxhash64(Parity.normalized(text))

  /** SimHash over tokens (custom Catalyst expression, see [[SimHash]]). */
  def simhash(toks: Column): Column = SimHash.simhash(toks)

  /** Hamming distance between two 64-bit simhashes (codegen'd built-ins). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** 16-bit chunk of a 64-bit hash (for hamming-banded candidate joins:
    * hamming <= 3 implies at least one of 4 chunks is equal). */
  def hashChunk(h: Column, chunk: Int): Column =
    shiftrightunsigned(h, chunk * 16).bitwiseAND(lit(0xFFFFL))
}
