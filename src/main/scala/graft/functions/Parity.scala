package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
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
  *  - the text kernel: tokens are the space-trimmed text split on
  *    whitespace runs, and everything built on tokens goes through here
  *    too: the normalized text, the stop-word list, the three quality
  *    ratios (stop-word share, punctuation share, mean token length) and
  *    word shingles.
  *  - word n-grams: contiguous n-token windows joined by one space, and
  *    bigrams: adjacent token pairs as `(w1, w2)` rows.
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

  /** Whitespace tokens of space-trimmed text: `split` keeps the empty
    * strings a leading tab or newline leaves, as DuckDB's
    * `string_split_regex` does, and empty text yields one empty token. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  /** DuckDB twin of [[tokens]]. */
  def tokensSql(x: String): String = s"string_split_regex(trim($x), '\\s+')"

  /** Canonical text for fingerprinting: lowercased tokens joined by one
    * space. */
  def normalized(text: Column): Column = concat_ws(" ", tokens(lower(text)))

  /** DuckDB twin of [[normalized]]. */
  def normalizedSql(x: String): String = s"array_to_string(${tokensSql(s"lower($x)")}, ' ')"

  /** English-ish stop-word list of the quality metrics (fixed, tiny: the
    * point is the ratio computation pattern, not linguistics). */
  val StopWords: Seq[String] = Seq(
    "the", "a", "an", "of", "to", "and", "in", "is", "it", "for")

  /** Share of tokens that are in `words`. */
  def hitRatio(toks: Column, words: Seq[String]): Column = {
    val arr = array(words.map(lit): _*)
    size(filter(toks, t => array_contains(arr, t))).cast("double") / size(toks)
  }

  /** DuckDB twin of [[hitRatio]]; the lambda parameter is named apart
    * from the list it filters. */
  def hitRatioSql(toks: String, words: Seq[String]): String = {
    val v = if (toks == "t") "x" else "t"
    val list = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"CAST(len(list_filter($toks, $v -> list_contains($list, $v))) AS DOUBLE) / len($toks)"
  }

  /** Share of tokens that are stop words. */
  def stopwordRatio(toks: Column): Column = hitRatio(toks, StopWords)

  /** DuckDB twin of [[stopwordRatio]]. */
  def stopwordRatioSql(toks: String): String = hitRatioSql(toks, StopWords)

  /** Share of characters that are neither ASCII alphanumerics nor spaces. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^a-zA-Z0-9 ]", "")))
      .cast("double") / length(text)

  /** DuckDB twin of [[punctRatio]]. */
  def punctRatioSql(x: String): String =
    s"CAST(LENGTH($x) - LENGTH(regexp_replace($x, '[^a-zA-Z0-9 ]', '', 'g')) AS DOUBLE) / LENGTH($x)"

  /** Mean token length: an exact integer sum over the token count. */
  def meanTokenLength(toks: Column): Column =
    aggregate(transform(toks, t => length(t)), lit(0), (acc, x) => acc + x)
      .cast("double") / size(toks)

  /** DuckDB twin of [[meanTokenLength]]. */
  def meanTokenLengthSql(toks: String): String =
    s"CAST(${listSumSql(toks, "t -> LENGTH(t)")} AS DOUBLE) / len($toks)"

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

  /** Adjacent token pairs: one `(doc_id, w1, w2)` row per neighbouring
    * pair in the token array `t` of each `(doc_id, t)` row. Arrays of
    * fewer than two tokens, and null arrays, yield no row; they are
    * filtered out first because `slice` with a negative length throws. */
  def bigrams(docs: DataFrame): DataFrame = {
    val t = col("t")
    docs.filter(size(t) >= 2)
      .select(col("doc_id"), explode(zip_with(
        slice(t, lit(1), size(t) - 1),
        slice(t, lit(2), size(t) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
  }

  /** DuckDB twin of [[bigrams]] over `docs`, a FROM clause of `(doc_id, t)`
    * rows: `range` with a stop at or below its start is empty, and a null
    * range unnests to no row, so short and null arrays need no guard. */
  def bigramsSql(docs: String): String =
    "SELECT doc_id, t[i] AS w1, t[i + 1] AS w2 " +
      s"FROM (SELECT doc_id, t, unnest(range(1, len(t))) AS i FROM $docs)"

  /** Distinct word n-gram shingles, the unit of Jaccard similarity. Not
    * `array_distinct(ngrams(...))`: that maps a null token array to an
    * empty one, where this keeps it null. */
  def shingles(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(array_distinct(
        transform(
          sequence(lit(0), size(toks) - n),
          i => concat_ws(" ", slice(toks, i + 1, lit(n))))))

  /** DuckDB twin of [[shingles]]. */
  def shinglesSql(toks: String, n: Int): String = s"list_distinct(${ngramsSql(toks, n)})"

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
