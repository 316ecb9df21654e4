package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

import graft.SparkEntry

/** Seeded stand-in for the repository's test tables: the ten parquet tables
  * the `stream_*` rows read, with their column names and types, at about
  * the smallest fixture's size (1,000 events, 500 documents, 500
  * embeddings). Value domains follow the real tables: five event types,
  * `{"k": n}` props, word texts in five languages from twenty sources,
  * 64-float embeddings with ten labels. */
object RowsFixture {
  private val Words = ("the a fast slow big small key order sort table scan merge part window hash join " +
    "batch stream spark dup group query row data filter customer line value agg column vector").split(" ")
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")
  private val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  private val Regions = Array("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val Base = LocalDateTime.of(2024, 1, 1, 0, 0)

  private def f(name: String, t: DataType) = StructField(name, t)

  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed ^ 0x5deece66dL)
    def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))
    def money(lo: Double, hi: Double): Double = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100) / 100.0
    def day(maxDays: Int): LocalDateTime = Base.plusDays(rnd.nextInt(maxDays).toLong)
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .write.parquet(dir.resolve(s"$name.parquet").toString)

    save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Regions.indices.map(i => Row(i, Regions(i))))
    save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION$i", i % 5)))
    save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (1 to 150).map(i => Row(i.toLong, f"Customer#$i%09d", rnd.nextInt(25), money(-999, 9999), pick(Segments))))
    save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (1 to 10).map(i => Row(i.toLong, f"Supplier#$i%09d", rnd.nextInt(25), money(-999, 9999))))
    save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType), f("p_brand", StringType),
      f("p_type", StringType), f("p_size", IntegerType), f("p_retailprice", DoubleType))),
      (1 to 200).map(i => Row(i.toLong, s"${pick(Words)} ${pick(Words)}", s"Brand#${1 + rnd.nextInt(5)}${1 + rnd.nextInt(5)}",
        s"TYPE${rnd.nextInt(6)}", 1 + rnd.nextInt(50), money(900, 2000))))
    save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType), f("o_orderdate", TimestampNTZType),
      f("o_orderpriority", StringType))),
      (1 to 1500).map(i => Row(i.toLong, 1L + rnd.nextInt(150), pick(Array("F", "O", "P")), money(1000, 400000),
        day(2400), pick(Priorities))))
    save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
      (0 until 6000).map { i =>
        val qty = (1 + rnd.nextInt(50)).toDouble
        Row(1L + i / 4, 1L + rnd.nextInt(200), 1L + rnd.nextInt(10), 1 + i % 4, qty, money(qty * 900, qty * 2000),
          rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0, pick(Array("A", "N", "R")), pick(Array("F", "O")),
          day(2500))
      })
    save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType), f("user_id", LongType),
      f("event_type", StringType), f("value", DoubleType), f("props", StringType))), {
      var t = Base
      (0 until 1000).map { i =>
        t = t.plusNanos((rnd.nextInt(5200) * 1000000L) + rnd.nextInt(1000000) / 1000 * 1000L)
        Row(i.toLong, t, rnd.nextInt(15).toLong, pick(EventTypes), money(0, 330), s"""{"k": ${rnd.nextInt(100)}}""")
      }
    })
    save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType))),
      {
        // a tenth of the documents repeat an earlier one with one word changed
        val texts = mutable.ArrayBuffer[Array[String]]()
        (0 until 500).map { i =>
          val words =
            if (i > 0 && rnd.nextInt(10) == 0) texts(rnd.nextInt(i)).updated(0, pick(Words))
            else Array.fill(8 + rnd.nextInt(80))(pick(Words))
          texts += words
          val text = words.mkString(" ")
          Row(i.toLong, text, pick(Langs), s"src${rnd.nextInt(20)}", text.length.toLong)
        }
      })
    save("embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType)),
      f("label", IntegerType))),
      (0 until 500).map { i =>
        Row(i.toLong, Array.fill(64)((rnd.nextGaussian() * 0.1).toFloat).toSeq, rnd.nextInt(10))
      })
  }
}

/** [[RowsRun.Rows]] of the `stream_*` rows of [[SparkEntry.queries]] on a
  * [[RowsFixture]]: each row is materialised into parquet, in an order the
  * seed permutes, and timed. Spark jobs are credited to the row during
  * which they started. A row that throws counts as a failure; next to the
  * outputs of the others it writes their DuckDB oracle SQL, which `run.py`
  * checks the outputs against. */
final class RowsRun(ctx: RunContext) {
  private val r = ctx.report

  def run(s: Session): Unit = {
    val fixture = ctx.work.resolve("rows-fixture")
    val out = ctx.work.resolve("rows-out")
    s.spark.conf.set("spark.sql.codegen.maxFields", "256")
    try {
      RowsFixture.write(s.spark, fixture, ctx.seed)
      val names = RowsRun.Rows
      val order = InputFiles.shuffled(names.size, ctx.seed).map(i => names(i.toInt))
      val timed = order.map { name =>
        val t0 = Clock.nowMs
        val ok =
          try {
            SparkEntry.queries(name)(s.spark, fixture.toString).coalesce(1).write
              .parquet(out.resolve(name).toString)
            true
          } catch {
            case e: Exception =>
              r.fail(1, s"rows: $name threw ${e.getMessage}")
              false
          }
        (name, t0, Clock.nowMs, ok)
      }
      s.drainBus()
      r.attempted += names.size
      val jobs = s.exec.all
      var total = 0.0
      timed.foreach { case (name, t0, t1, _) =>
        r.put(s"rows.${name}_s", (t1 - t0) / 1000, "s")
        total += t1 - t0
      }
      val inRows = jobs.filter(j => timed.exists { case (_, t0, t1, _) =>
        j.startMs >= t0 - Spans.SlackMs && j.startMs <= t1 + Spans.SlackMs })
      r.put("rows.total_s", total / 1000, "s", names.size.toLong)
      r.put("rows.jobs", inRows.size.toDouble, "count", names.size.toLong)
      r.put("rows.task_s", inRows.map(_.runMs).sum / 1000.0, "s", inRows.map(_.tasks).sum)
      r.put("rows.shuffle_write_mb", inRows.map(_.shuffleWriteBytes).sum / (1024.0 * 1024.0), "MB")
      r.put("rows.spill_mb", inRows.map(_.spillBytes).sum / (1024.0 * 1024.0), "MB")
      val done = timed.collect { case (name, _, _, true) => name }.toSet
      val oracles = SparkEntry.oracleSql.filter { case (k, _) => done(k) }
      Files.write(out.resolve("oracle_sql.json"), Json.obj(oracles).getBytes(StandardCharsets.UTF_8))
    } finally s.spark.conf.unset("spark.sql.codegen.maxFields")
  }
}

object RowsRun {
  /** One row per operator family that dominates the rows layer: connected
    * components over a near-duplicate delta, language-model scoring, two
    * sketches, and three kinds of streaming state (watermarked dedup,
    * session windows, the RocksDB state store). All 29 rows take about two
    * minutes on 4 cores, more than one run may last. */
  val Rows: IndexedSeq[String] = IndexedSeq(
    "stream_cc_delta", "stream_lm_score", "stream_kmv_distinct", "stream_cms_monitor", "stream_dedup_within_watermark",
    "stream_session_window", "stream_exactly_once_rocksdb")
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def obj(m: Map[String, String]): String =
    m.toSeq.sorted.map { case (k, v) => s"${str(k)}: ${str(v)}" }.mkString("{", ", ", "}")
}
