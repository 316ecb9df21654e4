package graft.functions

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.sys.process._
import scala.util.Try

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Parity]]'s Spark spellings against independent JVM computations on
  * fixed inputs (the DuckDB twins are checked by the oracle gate), and a
  * source scan that keeps every cross-engine spelling inside Parity:
  * md5 keys, list sums, the tokenizer, the punctuation class, the
  * rendered stop-word list and the bigram split. The bigram twin is
  * also run on DuckDB here, where a `python3` with `duckdb` exists. */
class ParitySpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  test("md5Key: the first 4, 8 and 15 hex digits of md5 over the string form") {
    val s = spark; import s.implicits._
    val texts = Seq("", "a", "the quick brown fox", "ünïcödé 字")
    val ids = Seq(0L, 7L, 123456789012L, -42L)
    for (w <- Seq(4, 8, 15)) {
      val gotText = texts.toDF("v").select(Parity.md5Key(col("v"), w)).as[Long].collect().toSeq
      assert(gotText == texts.map(t => java.lang.Long.parseLong(md5Hex(t).take(w), 16)), s"width $w")
      val gotId = ids.toDF("v").select(Parity.md5Key(col("v"), w)).as[Long].collect().toSeq
      assert(gotId == ids.map(i => java.lang.Long.parseLong(md5Hex(i.toString).take(w), 16)),
        s"width $w over longs")
    }
    intercept[IllegalArgumentException](Parity.md5Key(col("v"), 16))
  }

  test("microNats: ln(x) * 1e6 rounded half-up") {
    val s = spark; import s.implicits._
    val xs = Seq(1.0, 2.0, 0.5, 1e-3, 3.0 / 7.0, 12345.0, 1e12)
    val got = xs.toDF("x").select(Parity.microNats(col("x"))).as[Long].collect().toSeq
    val want = xs.map(x =>
      BigDecimal(math.log(x) * 1e6).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong)
    assert(got == want)
    val gotLong = Seq(1L, 10L, 999L).toDF("x").select(Parity.microNats(col("x"))).as[Long]
      .collect().toSeq
    assert(gotLong == Seq(0L, 2302585L, 6906755L))
  }

  test("ngrams: contiguous windows joined by a space; shorter inputs yield none") {
    val s = spark; import s.implicits._
    val n = 3
    val arrays = Seq(Seq.empty[String], Seq("a", "b"), Seq("a", "b", "c"),
      (1 to 12).map(i => s"t$i"))
    val got = arrays.toDF("t").select(Parity.ngrams(col("t"), n)).as[Seq[String]].collect().toSeq
    val want = arrays.map(t =>
      if (t.size < n) Seq.empty else t.sliding(n).map(_.mkString(" ")).toSeq)
    assert(got == want)
    assert(got.last.size == 10 && got.last.head == "t1 t2 t3")
  }

  /** Spark's trim strips ASCII spaces only; the split keeps the empty
    * strings Java's `split(regex, -1)` keeps. */
  private def jvmTokens(x: String): Seq[String] =
    x.replaceAll("^ +| +$", "").split("\\s+", -1).toSeq

  test("tokens: trimmed whitespace split, empty and whitespace-only text included") {
    val s = spark; import s.implicits._
    val texts = Seq("", "   ", "  lead and trail  ", "a\tb\nc  d", "\tx y\n", "one")
    val got = texts.toDF("x").select(Parity.tokens(col("x"))).as[Seq[String]]
      .collect().toSeq
    assert(got == texts.map(jvmTokens))
    assert(got == Seq(Seq(""), Seq(""), Seq("lead", "and", "trail"), Seq("a", "b", "c", "d"),
      Seq("", "x", "y", ""), Seq("one")))
    val nul = Seq(Option.empty[String]).toDF("x").select(Parity.tokens(col("x")))
    assert(nul.head().isNullAt(0))
  }

  test("quality ratios: stop-word share, punctuation share, mean token length") {
    val s = spark; import s.implicits._
    val texts = Seq("the cat sat on a mat", "Hello, world! It is 2024.",
      "no stop words here", "of to and in is it for an the a", "x", "C'est   déjà vu...")
    val stops = Parity.StopWords.toSet
    val got = texts.toDF("text")
      .select(Parity.stopwordRatio(Parity.tokens(col("text"))),
        Parity.punctRatio(col("text")),
        Parity.meanTokenLength(Parity.tokens(col("text"))))
      .as[(Double, Double, Double)].collect().toSeq
    val want = texts.map { t =>
      val toks = jvmTokens(t)
      (toks.count(stops).toDouble / toks.size,
        (t.length - t.replaceAll("[^a-zA-Z0-9 ]", "").length).toDouble / t.length,
        toks.map(_.length).sum.toDouble / toks.size)
    }
    assert(got == want)
    assert(got(3)._1 == 1.0 && got(2)._1 == 0.0)
  }

  test("shingles: distinct n-token windows; short, empty and null token arrays") {
    val s = spark; import s.implicits._
    val n = 3
    val arrays: Seq[Option[Seq[String]]] = Seq(Some(Seq.empty), Some(Seq("a", "b")),
      Some(Seq("a", "b", "c")), Some(Seq("a", "b", "a", "b", "a", "b")),
      Some(Seq("x", "x", "x", "x", "x")), None)
    val got = arrays.toDF("t").select(Parity.shingles(col("t"), n))
      .as[Option[Seq[String]]].collect().toSeq
    val want = arrays.map(_.map(t =>
      if (t.size < n) Seq.empty else t.sliding(n).map(_.mkString(" ")).toSeq.distinct))
    assert(got.init == want.init)
    assert(got(3) == Some(Seq("a b a", "b a b")) && got(4) == Some(Seq("x x x")))
    assert(got.last.isEmpty, s"null token array -> ${got.last}")
  }

  /** `(doc_id, t)` token arrays: empty, one token, two, four with a
    * repeat, null. */
  private val bigramDocs: Seq[(Long, Option[Seq[String]])] = Seq(
    1L -> Some(Seq.empty), 2L -> Some(Seq("a")), 3L -> Some(Seq("a", "b")),
    4L -> Some(Seq("a", "b", "c", "a")), 5L -> None)
  private val wantBigrams: Seq[(Long, String, String)] = for {
    (id, Some(t)) <- bigramDocs
    Seq(w1, w2) <- t.sliding(2).toSeq
  } yield (id, w1, w2)

  test("bigrams: adjacent token pairs; empty, one-token and null arrays yield none") {
    val s = spark; import s.implicits._
    val got = Parity.bigrams(bigramDocs.toDF("doc_id", "t"))
      .as[(Long, String, String)].collect().toSeq
    assert(got.sorted == wantBigrams.sorted)
    assert(got.count(_._1 == 4L) == 3 && got.forall(_._1 >= 3L))
  }

  test("bigramsSql: DuckDB yields the same pairs as bigrams") {
    val hasDuckDb = Try(Seq("python3", "-c", "import duckdb")
      .!(ProcessLogger(_ => (), _ => ())) == 0).getOrElse(false)
    assume(hasDuckDb, "python3 with duckdb not available")
    def listSql(t: Option[Seq[String]]): String = t match {
      case None => "NULL::VARCHAR[]"
      case Some(ts) => ts.map(w => s"'$w'").mkString("[", ", ", "]::VARCHAR[]")
    }
    val values = bigramDocs.map { case (id, t) => s"($id, ${listSql(t)})" }.mkString(", ")
    val sql = s"WITH docs AS (SELECT * FROM (VALUES $values) v(doc_id, t)) " +
      Parity.bigramsSql("docs")
    val out = Seq("python3", "-c",
      "import sys, duckdb\nfor r in duckdb.sql(sys.argv[1]).fetchall(): print(*r, sep='\\t')",
      sql).!!
    val got = out.linesIterator.filter(_.nonEmpty).map(_.split("\t")).map {
      case Array(id, w1, w2) => (id.toLong, w1, w2)
    }.toSeq
    assert(got.sorted == wantBigrams.sorted, sql)
  }

  test("source scan: only Parity.scala spells md5-prefix keys or DuckDB list sums") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root; ${root.toAbsolutePath} missing")
    val spellings = Seq("substring(md5(", "list_sum(list_transform(",
      "string_split_regex(", "split(trim(", "'[^a-zA-Z0-9 ]'",
      "StopWords.map(", ".mkString(\"[\", \", \", \"]\")", "'the', 'a', 'an'",
      "struct(a.as(\"w1\"), b.as(\"w2\"))", "t[i] AS w1, t[i + 1] AS w2")
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    assert(files.exists(_.endsWith("Parity.scala")))
    val offenders = for {
      f: Path <- files if f.getFileName.toString != "Parity.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      sp <- spellings if line.contains(sp)
    } yield s"$f:${i + 1}: $sp"
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
