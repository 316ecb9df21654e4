package graft.functions

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** [[Parity]]'s Spark spellings against independent JVM computations on
  * fixed inputs (the DuckDB twins are checked by the oracle gate), and a
  * source scan that keeps every cross-engine spelling inside Parity. */
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

  test("source scan: only Parity.scala spells md5-prefix keys or DuckDB list sums") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root; ${root.toAbsolutePath} missing")
    val spellings = Seq("substring(md5(", "list_sum(list_transform(")
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
