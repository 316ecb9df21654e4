package graft.queries

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.TempDirs

/** Storage-layout queries: the two layout techniques that remove whole
  * cost classes at 100 TB — bucketed co-located joins (the join's
  * shuffle disappears because both sides are pre-hashed into the same
  * bucket scheme) and hive-style partition pruning (the scan's IO
  * shrinks to the selected partition directories before a single row is
  * read).
  *
  * Each query REWRITES a driver table into the layout once per
  * (sf dir, layout kind) — the write cost is the amortized one-time layout
  * investment a 100 TB pipeline makes at ingest — then runs the query
  * against the rewritten layout. The oracle runs plain SQL against the
  * ORIGINAL table, so the correctness gate also proves the rewrite is
  * lossless. `LayoutSpec` asserts the plan-shape claims: no join-key
  * shuffle in q46, partition filters + pruned input files in q47.
  */
object Layout {
  private val D = DecimalType(12, 2)
  private def dec(c: Column): Column = c.cast(D)

  /** One rewrite per (sf dir, layout kind); values are layout roots
    * (temp dirs). Bench's min-of-two re-run and repeated spec calls hit
    * the cache, so only the first call pays the write.
    *
    * The key is CONTENT-derived (dir + kind), never session identity:
    * the plain-parquet layouts are session-independent data, and the
    * catalog-backed one is shared through the JVM's single external
    * catalog (every session in a JVM shares one SparkContext and so one
    * SharedState), so any session may reuse the rewrite. Collisions
    * across data dirs are handled by the full dir string being IN the
    * key. A cached root is never trusted blindly — [[preparedRoot]]
    * re-validates `_SUCCESS` markers (and catalog tables, where the
    * layout lives in the catalog) on every hit, so a crash mid-write,
    * an external temp-dir cleaner, or a fresh catalog after
    * `spark.stop()` triggers a rebuild instead of serving half a
    * layout. */
  private val prepared = new ConcurrentHashMap[String, String]()

  /** Cache lookup that re-validates before trusting: a hit is served
    * only if every expected output dir under the cached value still
    * carries `_SUCCESS` AND the layout's extra liveness check (catalog
    * tables, for the bucketed layout) passes; anything else rebuilds
    * under the key's lock. The stale root is left for [[cleanup]] /
    * the shutdown hook — deleting it here could race a concurrent
    * reader of the old layout. */
  private def preparedRoot(key: String, outDirs: String => Seq[String],
      alsoValid: String => Boolean = _ => true)(build: => String): String = {
    def ok(v: String): Boolean =
      v != null && outDirs(v).forall(TempDirs.committed) && alsoValid(v)
    val hit = prepared.get(key)
    if (ok(hit)) hit
    else prepared.compute(key, (_, cur) => if (ok(cur)) cur else build)
  }

  /** Layout temp dirs created this JVM, deleted on [[cleanup]] or JVM
    * shutdown — a long-lived driver must not accrete one rewrite per
    * (session, dir) forever. */
  private val tempRoots = new TempDirs

  /** Drop every layout table this session registered and delete all
    * layout temp dirs. Idempotent; the next query call re-prepares. */
  private[graft] def cleanup(s: SparkSession): Unit = {
    s.catalog.listTables().collect()
      .filter(_.name.startsWith("graft_bucketed_"))
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS `${t.name}`"))
    prepared.clear()
    tempRoots.deleteAll()
  }

  /** Collision-safe per-dir name component: 16 hex chars of SHA-256 of
    * the full dir string. `String.hashCode` (32 bits, trivially
    * collidable — "Aa"/"BB") would let two distinct data dirs silently
    * share one catalog table, reading the wrong dir's data; a 64-bit
    * cryptographic prefix makes that probability negligible. */
  private def suffix(d: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(d.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** Orders + customer co-bucketed on custkey (8 buckets, sorted within)
    * as external tables — bucket metadata must live in the catalog for
    * the planner to use it, the data lives in a temp dir. */
  private[graft] def bucketedTables(s: SparkSession, d: String): (String, String) = {
    val ot = s"graft_bucketed_orders_${suffix(d)}"
    val ct = s"graft_bucketed_customer_${suffix(d)}"
    // the bucket metadata lives in the catalog, so a valid cached root
    // also requires both tables to still resolve in THIS session's
    // catalog (a fresh catalog after spark.stop() loses them even
    // though the parquet data survived)
    preparedRoot(s"$d|bucketed",
      root => Seq(s"$root/orders", s"$root/customer"),
      _ => s.catalog.tableExists(ot) && s.catalog.tableExists(ct)) {
      val root = tempRoots.create("graft-layout-bucketed")
      s.read.parquet(s"$d/orders.parquet")
        .write.mode("overwrite")
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .option("path", s"$root/orders").saveAsTable(ot)
      s.read.parquet(s"$d/customer.parquet")
        .write.mode("overwrite")
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .option("path", s"$root/customer").saveAsTable(ct)
      root
    }
    (ot, ct)
  }

  /** Events rewritten hive-partitioned by event_type. Plain parquet
    * directories — partition pruning needs no catalog. */
  private[graft] def partitionedEvents(s: SparkSession, d: String): String =
    preparedRoot(s"$d|events_by_type", dir => Seq(dir)) {
      val root = tempRoots.create("graft-layout-parts")
      s.read.parquet(s"$d/events.parquet")
        .write.mode("overwrite").partitionBy("event_type")
        .parquet(s"$root/events_by_type")
      s"$root/events_by_type"
    }

  // ---------------------------------------------------------------- q46
  /** Revenue per market segment over a co-located orders ⋈ customer.
    *
    * The merge hint forces the sort-merge strategy a 100 TB run would
    * use (customer is broadcast-sized only at toy scale); with both
    * sides bucketed by the join key the planner satisfies the join's
    * distribution requirement straight from the scans, so the ONLY
    * shuffle in the plan is the final per-segment aggregate — vs three
    * (both join sides + aggregate) over raw parquet. */
  def q46BucketedJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (ot, ct) = bucketedTables(s, d)
    s.table(ot).hint("merge")
      .join(s.table(ct), $"o_custkey" === $"c_custkey")
      .groupBy($"c_mktsegment")
      .agg(sum(dec($"o_totalprice")).cast("double").as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy($"c_mktsegment")
  }
  val q46Sql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue,
      |  COUNT(*) AS n_orders
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q47
  /** Per-type stats over two event types, read from the hive-partitioned
    * layout: the event_type predicate becomes a PartitionFilter, so the
    * scan never opens the other types' files — at 100 TB, the difference
    * between reading 2 directories and reading all of them. */
  def q47PartitionPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    typeStats(s.read.parquet(partitionedEvents(s, d))
      .filter($"event_type".isin("purchase", "view")))
  }
  val q47Sql: String = typeStatsSql("event_type IN ('purchase', 'view')")

  /** Per-event-type stats of the layout rows (q47, q49, q50), whose
    * oracles read the original events table. min/max of value (not sum)
    * keeps the double aggregates order-independent. */
  private def typeStats(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("event_id")).as("id_sum"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("event_type"))

  /** Oracle for [[typeStats]] over the events satisfying `pred`. */
  private def typeStatsSql(pred: String): String =
    s"""SELECT event_type, COUNT(*) AS n, COUNT(DISTINCT user_id) AS n_users,
      |  CAST(SUM(event_id) AS BIGINT) AS id_sum,
      |  MIN(value) AS min_value, MAX(value) AS max_value
      |FROM events WHERE $pred
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  /** Small-file fixture + compaction, once per sf dir: events
    * shattered into many tiny parquet files (what a streaming ingest
    * leaves behind), then compacted into byte-targeted files. Returns
    * (smallDir, compactDir). Compaction is coalesce-based — merging
    * partitions needs NO shuffle, so compacting N small files moves each
    * byte exactly once with no network cost; the output file count is
    * computed from the actual input bytes, not guessed. */
  private[graft] val CompactTargetBytes: Long = 4L * 1024 * 1024
  private[graft] def compactedEvents(s: SparkSession, d: String): (String, String) = {
    val root = preparedRoot(s"$d|events_compacted",
      r => Seq(s"$r/events_small", s"$r/events_compact")) {
      val r = tempRoots.create("graft-layout-compact")
      s.read.parquet(s"$d/events.parquet")
        .repartition(256)
        .write.mode("overwrite").parquet(s"$r/events_small")
      val inputBytes = {
        val walk = Files.walk(java.nio.file.Paths.get(s"$r/events_small"))
        try {
          import scala.jdk.CollectionConverters._
          walk.iterator().asScala
            .filter(_.toString.endsWith(".parquet")).map(Files.size).sum
        } finally walk.close()
      }
      val nOut = math.max(1L, (inputBytes + CompactTargetBytes - 1) / CompactTargetBytes).toInt
      s.read.parquet(s"$r/events_small")
        .coalesce(nOut)
        .write.mode("overwrite").parquet(s"$r/events_compact")
      r
    }
    (s"$root/events_small", s"$root/events_compact")
  }

  // ---------------------------------------------------------------- q48
  /** Skewed-key join: ~92% of lineitem rows are funneled onto one hot
    * join key (0), the classic shape that stalls a 1000-executor shuffle
    * join on a single straggler task. The cure at scale is AQE's
    * skew-join split (`spark.sql.adaptive.skewJoin`): the hot partition
    * is split into advisory-sized sub-partitions and the matching dim
    * rows are duplicated per split — same results, straggler gone.
    * `SkewJoinSpec` runs this query in a session with the skew thresholds
    * scaled down to the test data and asserts the executed plan actually
    * split (`skew=true` on the sort-merge join); the gate here proves the
    * values are right under whatever AQE decides. The merge hint keeps
    * the toy-scale dim from broadcasting (a broadcast join has no skew
    * problem — at 100 TB the build side often can't broadcast, which is
    * when skew bites). */
  def q48SkewJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // AQE splits a skewed reduce partition at MAP-output granularity. A
    // 100 TB scan always has thousands of mappers; the toy fixture is one
    // parquet row group = one mapper with data, which would leave the hot
    // partition a single unsplittable block. The round-robin repartition
    // restores the many-mapper shape the technique operates on.
    val skewed = s.read.parquet(s"$d/lineitem.parquet")
      .repartition(16)
      .select(
        when($"l_orderkey" % 25 < 23, lit(0L))
          .otherwise(($"l_orderkey" % 25).cast("long")).as("skew_key"),
        $"l_quantity", $"l_extendedprice")
    val dim = s.read.parquet(s"$d/nation.parquet")
      .select($"n_nationkey".cast("long").as("skew_key"), $"n_name")
    skewed.hint("merge").join(dim, "skew_key")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n"),
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_price"))
      .orderBy($"n_name")
  }
  val q48Sql: String =
    """SELECT n_name, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_price
      |FROM (SELECT CASE WHEN l_orderkey % 25 < 23 THEN 0
      |             ELSE l_orderkey % 25 END AS skew_key,
      |        l_quantity, l_extendedprice FROM lineitem) l
      |JOIN nation ON l.skew_key = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q49
  /** Per-type stats over the COMPACTED small-file layout. The oracle runs
    * against the original events table, so the gate proves the
    * shatter-then-compact round trip is lossless; `LayoutSpec` asserts
    * the layout claims (file count collapses to the byte-computed
    * target, compaction plans no shuffle). This is the ingest-side
    * technique the other layout queries assume away: a streaming source
    * lands O(triggers) small files, and at 100 TB an uncompacted table
    * pays per-file open/list/schedule costs that dwarf the data scan. */
  def q49CompactSmallFiles(s: SparkSession, d: String): DataFrame =
    typeStats(s.read.parquet(compactedEvents(s, d)._2))
  val q49Sql: String = typeStatsSql("TRUE")

  /** Z-order (Morton) interleave of two non-negative long columns, as a
    * pure composition of codegen'd bitwise builtins — no UDF. Each input
    * is clamped to its low 32 bits and spread onto even bit positions
    * with the classic 5-step mask/shift ladder; the second operand lands
    * on odd positions. Sorting by the result clusters rows so that BOTH
    * dimensions are locally narrow, which is what lets min/max stats
    * (parquet row-group / file footers) skip data for predicates on
    * EITHER column — a 1-D sort can only do that for its own column. */
  private def spreadBits(c: Column): Column = {
    val steps = Seq(
      (16, 0x0000FFFF0000FFFFL), (8, 0x00FF00FF00FF00FFL),
      (4, 0x0F0F0F0F0F0F0F0FL), (2, 0x3333333333333333L),
      (1, 0x5555555555555555L))
    steps.foldLeft(c.bitwiseAND(lit(0xFFFFFFFFL))) { case (x, (n, m)) =>
      x.bitwiseOR(shiftleft(x, n)).bitwiseAND(lit(m))
    }
  }
  private[graft] def zvalue(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Events rewritten z-ordered on (user_id, event_id): each column is
    * first bucketized to 32 equal-width buckets (from a one-pass global
    * min/max — 4 driver-side scalars, never data), the bucket ids are
    * bit-interleaved, and the table is range-partitioned + sorted by the
    * z-value. The bucketization step is what production z-order
    * implementations do with range boundaries: interleaving RAW values
    * degenerates to a 1-D sort on whichever column has more significant
    * bits, because its high bits alone decide the z ordering. One
    * rewrite per sf dir, like the other layouts. */
  private[graft] val ZorderFiles = 16
  private[graft] val ZorderBuckets = 32
  private[graft] def zorderedEvents(s: SparkSession, d: String): String =
    preparedRoot(s"$d|events_zorder", dir => Seq(dir)) {
      val r = tempRoots.create("graft-layout-zorder")
      val ev = s.read.parquet(s"$d/events.parquet")
      val b = ev.agg(min(col("user_id")), max(col("user_id")),
        min(col("event_id")), max(col("event_id"))).head()
      def bucket(c: Column, lo: Long, hi: Long): Column =
        ((c - lit(lo)) * lit(ZorderBuckets.toLong) / lit(hi - lo + 1)).cast("long")
      val z = zvalue(
        bucket(col("user_id"), b.getLong(0), b.getLong(1)),
        bucket(col("event_id"), b.getLong(2), b.getLong(3)))
      ev.withColumn("z", z)
        .repartitionByRange(ZorderFiles, col("z"))
        .sortWithinPartitions(col("z"))
        .drop("z")
        .write.mode("overwrite").parquet(s"$r/events_zorder")
      s"$r/events_zorder"
    }

  // ---------------------------------------------------------------- q50
  /** Two-dimensional range predicate over the z-ordered layout. Hive
    * partitioning (q47) prunes on ONE low-cardinality column; z-order is
    * the layout for selective predicates on SEVERAL high-cardinality
    * columns: every file covers a narrow range of BOTH user_id and
    * event_id, so footer min/max stats let the reader skip most files /
    * row groups for either predicate — at 100 TB the difference between
    * scanning everything and scanning the few files whose stats overlap
    * the query box. The oracle runs on the ORIGINAL table (rewrite
    * proven lossless); `LayoutSpec` asserts the clustering property
    * itself: per-file spans of BOTH columns shrink well below the global
    * span (impossible for a 1-D sort), and both predicates reach the
    * scan as PushedFilters. */
  def q50ZorderCluster(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    typeStats(s.read.parquet(zorderedEvents(s, d))
      .filter($"user_id".between(10, 75) && $"event_id".between(100, 5000)))
  }
  val q50Sql: String =
    typeStatsSql("user_id BETWEEN 10 AND 75 AND event_id BETWEEN 100 AND 5000")

  // ---------------------------------------------------------------- q52
  /** Tiny event-type dimension derived deterministically from events
    * (distinct types + a category rollup), written as its own parquet
    * table — the classic star-schema dim whose predicate should prune
    * the partitioned fact at runtime. */
  private[graft] def eventTypeDim(s: SparkSession, d: String): String =
    preparedRoot(s"$d|event_type_dim", dir => Seq(dir)) {
      val r = tempRoots.create("graft-layout-dim")
      s.read.parquet(s"$d/events.parquet")
        .select(col("event_type")).distinct()
        .withColumn("category",
          when(col("event_type").isin("purchase", "signup"), "conversion")
            .when(col("event_type").isin("click", "view"), "traffic")
            .otherwise("ops"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$r/event_type_dim")
      s"$r/event_type_dim"
    }

  /** Dynamic partition pruning: the fact side carries NO literal
    * event_type predicate — the selected partitions are only knowable
    * after the dim's `category = 'conversion'` filter runs, and Spark's
    * DPP rule turns the dim join into a runtime partition filter on the
    * fact scan (reusing the dim's broadcast). q47 prunes on a literal
    * the user typed; this prunes on a predicate over ANOTHER table,
    * which is how star-schema scans at 100 TB avoid reading partitions
    * no dim row selects. The oracle re-derives the dim inline from the
    * original events table, so the gate also proves the dim rewrite and
    * the join semantics; `LayoutSpec` asserts the pruning itself: a
    * DynamicPruningExpression in the fact scan's partition filters and
    * a runtime numFiles equal to the selected partitions' files. */
  def q52DppPrune(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val fact = s.read.parquet(partitionedEvents(s, d))
    val dim = s.read.parquet(eventTypeDim(s, d)).filter($"category" === "conversion")
    fact.join(dim, Seq("event_type"))
      .groupBy($"event_type")
      .agg(count(lit(1)).as("n"),
        countDistinct($"user_id").as("n_users"),
        sum(dec($"value")).cast("double").as("sum_value"))
      .orderBy($"event_type")
  }
  val q52Sql: String =
    """WITH dim AS (
      |  SELECT DISTINCT event_type,
      |    CASE WHEN event_type IN ('purchase','signup') THEN 'conversion'
      |         WHEN event_type IN ('click','view') THEN 'traffic'
      |         ELSE 'ops' END AS category
      |  FROM events)
      |SELECT e.event_type, COUNT(*) AS n, COUNT(DISTINCT e.user_id) AS n_users,
      |  CAST(SUM(CAST(e.value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value
      |FROM events e JOIN dim USING (event_type)
      |WHERE dim.category = 'conversion'
      |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin

  // ---------------------------------------------------------------- q54
  /** Per-customer order rollup straight off the bucketed layout: the
    * 8-bucket o_custkey layout already satisfies the aggregation's
    * distribution requirement, so the plan contains NO hash exchange at
    * all — the per-key rollup a 100 TB fact table serves shuffle-free
    * when it is stored pre-bucketed on the rollup key (the agg sibling
    * of q46's shuffle-free join; over raw parquet the same rollup
    * shuffles the whole table). The only exchange is the presentation
    * sort. The oracle runs against the ORIGINAL orders table, so the
    * gate also re-proves the bucketed rewrite lossless. */
  def q54BucketedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (ot, _) = bucketedTables(s, d)
    s.table(ot)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("total_spend"),
        min($"o_orderkey").as("first_order"))
      .orderBy($"o_custkey")
  }
  val q54Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_spend,
      |  MIN(o_orderkey) AS first_order
      |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q55
  /** Per-customer windowed order features (order index, previous spend)
    * straight off the bucketed layout: Window's ClusteredDistribution on
    * o_custkey is satisfied by the bucketed scan, so the plan contains
    * NO hash exchange — only the cheap in-partition sort the window's
    * ordering needs. This is the per-entity sequence-feature extraction
    * a training pipeline runs constantly (per-user event features, per-
    * document revision features); stored pre-bucketed on the entity key
    * it never shuffles the fact table. */
  def q55BucketedWindow(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val (ot, _) = bucketedTables(s, d)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"o_custkey").orderBy($"o_orderkey")
    s.table(ot)
      .select($"o_custkey", $"o_orderkey",
        row_number().over(w).as("order_idx"),
        coalesce(lag(dec($"o_totalprice"), 1).over(w), lit(BigDecimal(0)).cast(D))
          .cast("double").as("prev_spend"))
      .orderBy($"o_custkey", $"o_orderkey")
  }
  val q55Sql: String =
    """SELECT o_custkey, o_orderkey,
      |  row_number() OVER w AS order_idx,
      |  CAST(COALESCE(lag(CAST(o_totalprice AS DECIMAL(12,2)), 1) OVER w,
      |                CAST(0 AS DECIMAL(12,2))) AS DOUBLE) AS prev_spend
      |FROM orders
      |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
      |ORDER BY o_custkey, o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q58
  /** Standing shingle index persisted as a table bucketed on the 64-bit
    * shingle hash: the one-time ingest investment that makes every
    * subsequent incremental-dedup probe batch join WITHOUT shuffling
    * the index side. The index is corpus-dictionary-sized; at 100 TB
    * re-shuffling it per ingest batch is the dominant cost of
    * [[graft.operators.Dedup2.dedupIncremental]]'s recompute-everything
    * shape — bucketing moves that shuffle to write time, once. */
  private[graft] def shingleIndexTable(s: SparkSession, d: String): String = {
    val it = s"graft_bucketed_shingle_index_${suffix(d)}"
    preparedRoot(s"$d|shingle_index",
      root => Seq(s"$root/index"), _ => s.catalog.tableExists(it)) {
      val root = tempRoots.create("graft-layout-shidx")
      val base = s.read.parquet(s"$d/documents.parquet")
        .filter(col("doc_id") % 5 =!= 0)
      val sets = graft.operators.Dedup.docShinglesOf(base).persist()
      sets.count() // cache boundary: see Dedup.docShinglesOf scaladoc
      graft.operators.Dedup2.explodeSets(sets)
        .write.mode("overwrite")
        .bucketBy(16, "s").sortBy("s")
        .option("path", s"$root/index").saveAsTable(it)
      root
    }
    it
  }

  /** Incremental dedup against the PERSISTED index: same verdicts as
    * `dedup_incremental` (the oracle is shared, so the gate proves the
    * layout lossless), but the standing-corpus side reads straight from
    * its buckets — the probe batch is the only join input that
    * shuffles. The merge hint keeps the strategy at sort-merge, where
    * the bucket metadata satisfies the index side's distribution
    * requirement from the scan (broadcast at toy scale would hide
    * exactly the shuffle this layout deletes; LayoutSpec asserts the
    * one-sided exchange). */
  def q58DedupIndex(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val it = shingleIndexTable(s, d)
    val index = s.table(it).hint("merge")
    val deltaDocs = Tables.documents(s, d).filter($"doc_id" % 5 === 0)
    val deltaSets = graft.operators.Dedup.docShinglesOf(deltaDocs).persist()
    deltaSets.count()
    val delta = graft.operators.Dedup2.explodeSets(deltaSets)
      .select($"doc_id".as("d_id"), $"sz".as("sz_d"), $"s")
    graft.operators.Dedup2.incrementalVerdicts(
        deltaDocs.select($"doc_id"), delta, index)
      .orderBy($"doc_id")
  }

  // ---------------------------------------------------------------- q62
  /** Embeddings persisted PARTITIONED BY their IVF coarse-cluster id —
    * the inverted file made literal as a storage layout: at 100 TB "a
    * probe searches nprobe/K of the data" only becomes IO truth when
    * the cluster id is a partition directory the scan can prune, which
    * is exactly what `ann_topk_ivf`'s scaladoc promises this layout
    * delivers. The one-time write assigns each vector to its nearest
    * standing centroid ([[graft.operators.Similarity.ivfCentroids]],
    * the Models train-once table) and writes `partitionBy(cid)`. */
  private[graft] def ivfLayoutDir(s: SparkSession, d: String): String = {
    import s.implicits._
    val root = preparedRoot(s"$d|emb_ivf", r => Seq(s"$r/emb_by_cluster")) {
      val r = tempRoots.create("graft-layout-ivf")
      val centroids = graft.operators.Similarity.ivfCentroids(s, d)
      graft.operators.Similarity
        .ivfAssign(centroids, graft.operators.Similarity.normedEmb(s, d), "vec_id", 1)
        .select($"cid", $"vec_id", $"embedding", $"vn")
        .write.mode("overwrite").partitionBy("cid").parquet(s"$r/emb_by_cluster")
      r
    }
    s"$root/emb_by_cluster"
  }

  /** IVF search against the PARTITIONED layout (q62): the probes'
    * nprobe cluster ids collect to a literal IN filter (≤ K=16 values —
    * driver-bounded by the centroid count, the Lloyd-coordination
    * class), so the scan's PartitionFilters prune to those directories
    * BEFORE any row is read; the verify stage is the same exact rank as
    * `ann_topk_ivf`, whose oracle this row shares — the gate proves the
    * layout lossless and the pruned search complete. */
  def q62IvfLayout(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val probes = graft.operators.Similarity.ivfProbes(s, d).persist()
    val cids = probes.select($"cid").distinct().collect().map(_.getLong(0))
    val corpus = s.read.parquet(ivfLayoutDir(s, d))
      .withColumn("cid", $"cid".cast("long"))
      .filter($"cid".isin(cids.toIndexedSeq: _*))
    graft.operators.Similarity.ivfRank(corpus, probes)
  }

  // ----------------------------------------------------------------
  val rows: Seq[QueryDef] = Seq(
    // shared with ann_topk_ivf: identical neighbors from the raw table
    // prove the cluster-partitioned layout lossless + the pruned search
    // complete
    QueryDef("q62_ivf_layout", q62IvfLayout _, graft.operators.Similarity.annTopKIvfSql),
    // shared with dedup_incremental: identical verdict semantics from the
    // raw table prove the bucketed index layout lossless
    QueryDef("q58_dedup_index", q58DedupIndex _, graft.operators.Dedup2.dedupIncrementalSql),
    QueryDef("q55_bucketed_window", q55BucketedWindow _, q55Sql),
    QueryDef("q54_bucketed_agg", q54BucketedAgg _, q54Sql),
    QueryDef("q46_bucketed_join", q46BucketedJoin _, q46Sql),
    QueryDef("q47_partition_prune", q47PartitionPrune _, q47Sql),
    QueryDef("q48_skew_join", q48SkewJoin _, q48Sql),
    QueryDef("q49_compact_small_files", q49CompactSmallFiles _, q49Sql),
    QueryDef("q50_zorder_cluster", q50ZorderCluster _, q50Sql),
    QueryDef("q52_dpp_prune", q52DppPrune _, q52Sql),
  )
}
