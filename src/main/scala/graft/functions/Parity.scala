package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine parity kernel: each expression the DuckDB oracles must
  * replay bit for bit, spelled once for Spark (a `Column`) and once for
  * DuckDB (an SQL string), side by side, so the two spellings cannot
  * drift apart. Operators and queries build these expressions only
  * through here.
  *
  *  - md5-prefix keys: the first hex digits of md5 over the value's
  *    string form, read as a non-negative long. Both engines compute the
  *    same md5 bytes, and Spark's integer-to-string cast prints the same
  *    digits as DuckDB's CAST to VARCHAR, so unlike xxhash64 the oracle
  *    can recompute every key. Widths in use: 4 hex digits (a 16-bit
  *    bucket), 8 (a 32-bit key) and 15 (a 60-bit key; 15 is the widest
  *    prefix that stays a positive BIGINT). A key collision yields the
  *    same spurious match on both engines, so the gate stays consistent.
  *  - micro-nats: ln(x)·10⁶ rounded to a long, so log-domain scores sum
  *    as exact integers on both engines (the JVM spelling is
  *    [[CharEntropy]]'s).
  *  - word n-grams: contiguous n-token windows joined by one space.
  *  - DuckDB list sums: `list_sum` over a transformed list, the one
  *    left-to-right accumulation the dot products and norms are built
  *    on; Spark computes those through [[VectorOps]].
  */
object Parity {

  /** First `hexDigits` hex digits of md5(string form of `c`) as a long. */
  def md5Key(c: Column, hexDigits: Int): Column =
    conv(substring(md5(c.cast("string")), 1, checkWidth(hexDigits)), 16, 10).cast("long")

  /** DuckDB twin of [[md5Key]]. */
  def md5KeySql(x: String, hexDigits: Int): String =
    s"CAST(concat('0x', substring(md5(CAST($x AS VARCHAR)), 1, ${checkWidth(hexDigits)})) AS BIGINT)"

  /** All 64 bits of the md5 prefix as a DuckDB UBIGINT: the twin of
    * [[SimHash.tokenHash64]], which computes the same bits on the JVM. */
  def md5U64Sql(x: String): String =
    s"CAST(concat('0x', substring(md5(CAST($x AS VARCHAR)), 1, 16)) AS UBIGINT)"

  private def checkWidth(hexDigits: Int): Int = {
    require(hexDigits >= 1 && hexDigits <= 15,
      s"md5 key width must be 1..15 hex digits to fit a BIGINT, got $hexDigits")
    hexDigits
  }

  /** ln(x)·10⁶ rounded half-up to a long. */
  def microNats(x: Column): Column = round(log(x.cast("double")) * 1e6).cast("long")

  /** DuckDB twin of [[microNats]]. */
  def microNatsSql(x: String): String =
    s"CAST(round(ln(CAST($x AS DOUBLE)) * 1000000.0) AS BIGINT)"

  /** Contiguous n-grams of a token array as strings. Guarded: sequence()
    * with a stop below its start counts DOWN, so a short doc must yield
    * an empty array, not reversed garbage. */
  def ngrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => array_join(slice(toks, i, lit(n)), " ")))
      .otherwise(array())

  /** DuckDB twin of [[ngrams]]; `range` with a stop at or below its start
    * is empty, so a short list needs no guard. */
  def ngramsSql(toks: String, n: Int): String =
    s"list_transform(range(1, len($toks) - ${n - 2}), i -> array_to_string($toks[i:i+${n - 1}], ' '))"

  /** DuckDB `list_sum` of `lambda` mapped over `list`. */
  def listSumSql(list: String, lambda: String): String =
    s"list_sum(list_transform($list, $lambda))"

  /** DuckDB dot product of two float lists, accumulated in double. */
  def dotSql(a: String, b: String): String =
    listSumSql(s"range(1, len($a)+1)", s"i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)")

  /** DuckDB L2 norm of a float list. */
  def normSql(a: String): String = s"sqrt(${dotSql(a, a)})"

  /** DuckDB cosine similarity of two float lists. */
  def cosineSql(a: String, b: String): String =
    s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})"
}
