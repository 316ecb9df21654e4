package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.QueryDef.noOracle

/** Round-2 relational surface: percentiles, as-of join, range join,
  * grouping sets, correlated EXISTS, navigation-window suite.
  *
  * Same design rules as [[Relational]] (decimal-exact aggregates, total
  * ORDER BY, broadcast dims). The two time-series joins (as-of, range)
  * deliberately avoid BroadcastNestedLoopJoin — at 100 TB a nested-loop
  * over events is unrunnable, so both are re-expressed as single-shuffle
  * equi-joins:
  *  - as-of  = union both sides, one window pass per user
  *    (the classic "merge the streams" as-of; cost = 1 shuffle on user_id)
  *  - range  = coarse time-bucket equi-key + exact residual filter
  *    (each probe explodes to its 3 candidate buckets; join stays hash)
  */
object Relational2 {
  private val D = DecimalType(12, 2)
  private def dec(c: Column): Column = c.cast(D)

  /** All event-time arithmetic happens in microseconds — the engines'
    * common precision. [[Tables.tsUs]] dispatches on the fixture
    * generation (timestamp[us] today, epoch-nanos long historically). */
  private def withTsUs(df: DataFrame): DataFrame =
    df.withColumn("ts_us", Tables.tsUs(df))

  // ---------------------------------------------------------------- q33
  /** Exact discrete percentiles (SQL-standard percentile_disc semantics,
    * spelled out via cume_dist so Spark and the oracle share one
    * definition): per priority class, p50/p90/p99 of order value. The
    * window pass and the aggregate pass shuffle on the same key, so AQE
    * coalesces them into one exchange. */
  def q33Percentiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")
    Tables.orders(s, d)
      .withColumn("cd", cume_dist().over(w))
      .groupBy($"o_orderpriority")
      .agg(
        min(when($"cd" >= 0.5, $"o_totalprice")).as("p50"),
        min(when($"cd" >= 0.9, $"o_totalprice")).as("p90"),
        min(when($"cd" >= 0.99, $"o_totalprice")).as("p99"),
        count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }
  val q33Sql: String =
    """SELECT o_orderpriority,
      |  MIN(CASE WHEN cd >= 0.5 THEN o_totalprice END) AS p50,
      |  MIN(CASE WHEN cd >= 0.9 THEN o_totalprice END) AS p90,
      |  MIN(CASE WHEN cd >= 0.99 THEN o_totalprice END) AS p99,
      |  COUNT(*) AS n
      |FROM (SELECT o_orderpriority, o_totalprice,
      |        cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cd
      |      FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q34
  /** As-of join: each purchase matched to the user's most recent view at
    * or before it. Views are first deduped to one per (user, ts_us) —
    * max event_id wins — so the "latest" row is unique on both engines.
    * Then both sides union into one stream; a single last-ignoring-nulls
    * window over (user, ts, side) finds the prevailing view for every
    * purchase without any range join. */
  def q34AsofJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = withTsUs(Tables.events(s, d))
    val views = ev.filter($"event_type" === "view")
      .groupBy($"user_id", $"ts_us").agg(max($"event_id").as("v_event_id"))
      .select($"user_id", $"ts_us", lit(0).as("side"),
        lit(null).cast("long").as("p_event_id"), $"v_event_id")
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us", lit(1).as("side"),
        $"event_id".as("p_event_id"), lit(null).cast("long").as("v_event_id"))
    // side=0 sorts before side=1 at equal ts, making the match inclusive
    // (a view at exactly the purchase timestamp counts).
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"side")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purchases)
      .withColumn("matched_view", last($"v_event_id", ignoreNulls = true).over(w))
      .withColumn("matched_ts", last(when($"side" === 0, $"ts_us"), ignoreNulls = true).over(w))
      .filter($"side" === 1)
      .select($"p_event_id", $"user_id", $"matched_view",
        ($"ts_us" - $"matched_ts").as("gap_us"))
      .orderBy($"p_event_id")
  }
  val q34Sql: String =
    """SELECT p.event_id AS p_event_id, p.user_id, v.v_event_id AS matched_view,
      |  epoch_us(p.ts) - v.ts_us AS gap_us
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (
      |  SELECT user_id, epoch_us(ts) AS ts_us, MAX(event_id) AS v_event_id
      |  FROM events WHERE event_type = 'view' GROUP BY user_id, epoch_us(ts)) v
      |ON p.user_id = v.user_id AND epoch_us(p.ts) >= v.ts_us
      |ORDER BY p_event_id""".stripMargin

  // ---------------------------------------------------------------- q35
  /** Range join, bucketized: for each purchase, how many error events the
    * same user produced within ±5 minutes. Errors carry their 5-minute
    * bucket; each purchase probes its 3 candidate buckets (b-1, b, b+1 via
    * explode), the join is a plain hash equi-join on (user_id, bucket),
    * and the exact |Δt| ≤ 5 min predicate filters the residue. Matches are
    * deduped by error id before counting (an error can sit in two probed
    * buckets... it cannot — each error lands in exactly one bucket and each
    * probe bucket is distinct per purchase, so pairs are already unique). */
  def q35RangeJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bucketUs = 5L * 60 * 1000000L // 5 min
    val ev = withTsUs(Tables.events(s, d))
    val errors = ev.filter($"event_type" === "error")
      .select($"user_id", $"ts_us".as("e_ts"), $"event_id".as("e_id"),
        expr(s"ts_us div $bucketUs").as("bucket"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"ts_us".as("p_ts"), $"event_id".as("p_id"),
        expr(s"ts_us div $bucketUs").as("b"))
      .withColumn("bucket", explode(array($"b" - 1, $"b", $"b" + 1)))
    purchases.join(errors, Seq("user_id", "bucket"), "left")
      .groupBy($"p_id", $"user_id")
      .agg(sum(when($"e_id".isNotNull && abs($"p_ts" - $"e_ts") <= bucketUs, 1L)
        .otherwise(0L)).as("n_errors_5min"))
      .orderBy($"p_id")
  }
  val q35Sql: String =
    """SELECT p.event_id AS p_id, p.user_id,
      |  COUNT(e.event_id) AS n_errors_5min
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |LEFT JOIN (SELECT * FROM events WHERE event_type = 'error') e
      |  ON p.user_id = e.user_id
      | AND abs(epoch_us(p.ts) - epoch_us(e.ts)) <= CAST(5 AS BIGINT)*60*1000000
      |GROUP BY p.event_id, p.user_id ORDER BY p_id""".stripMargin

  // ---------------------------------------------------------------- q36
  /** CUBE over (segment, nation) with grouping flags — all four grouping
    * sets in one pass (Expand + single shuffle). */
  def q36GroupingSets(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .cube($"c_mktsegment", $"n_name")
      .agg(count(lit(1)).as("n"),
        grouping($"c_mktsegment").as("g_seg"),
        grouping($"n_name").as("g_nat"))
      .orderBy($"c_mktsegment".asc_nulls_first, $"n_name".asc_nulls_first)
  }
  val q36Sql: String =
    """SELECT c_mktsegment, n_name, COUNT(*) AS n,
      |  CAST(GROUPING(c_mktsegment) AS TINYINT) AS g_seg,
      |  CAST(GROUPING(n_name) AS TINYINT) AS g_nat
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY CUBE (c_mktsegment, n_name)
      |ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q37
  /** Correlated EXISTS / NOT EXISTS through SQL text — exercises Catalyst
    * subquery decorrelation (both rewrite to semi/anti joins; the oracle
    * runs the identical statement). */
  def q37Exists(s: SparkSession, d: String): DataFrame = {
    Tables.customer(s, d).createOrReplaceTempView("g37_customer")
    Tables.orders(s, d).createOrReplaceTempView("g37_orders")
    s.sql(
      """SELECT c_custkey, c_name FROM g37_customer c
        |WHERE EXISTS (SELECT 1 FROM g37_orders o
        |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
        |  AND NOT EXISTS (SELECT 1 FROM g37_orders o
        |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
        |ORDER BY c_custkey""".stripMargin)
  }
  val q37Sql: String =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q38
  /** Navigation-window suite: ntile / percent_rank / cume_dist /
    * first_value / nth_value over a total per-partition order. The
    * value-navigation frames are pinned to the full partition so both
    * engines read the same rows. */
  def q38WindowSuite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Seq($"o_totalprice".desc, $"o_orderkey".asc)
    val w = Window.partitionBy($"o_orderpriority").orderBy(ord: _*)
    val wFull = w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_orderpriority", $"o_totalprice",
        ntile(4).over(w).as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        first($"o_orderkey").over(wFull).as("top_orderkey"),
        nth_value($"o_orderkey", 2).over(wFull).as("second_orderkey"))
      .orderBy($"o_orderkey")
  }
  val q38Sql: String =
    """SELECT o_orderkey, o_orderpriority, o_totalprice,
      |  ntile(4)       OVER w AS quartile,
      |  percent_rank() OVER w AS pr,
      |  cume_dist()    OVER w AS cd,
      |  first_value(o_orderkey) OVER wf AS top_orderkey,
      |  nth_value(o_orderkey, 2) OVER wf AS second_orderkey
      |FROM orders
      |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey),
      |  wf AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q39
  /** Explicit runtime-filter pattern, spelled on the same primitives
    * Catalyst's InjectRuntimeFilter uses (q53 demonstrates the
    * optimizer-injected form): ONE distributed `bloom_filter_agg` job
    * folds the filtered dim keys into a bloom filter — map-side partial
    * sketches merged once, the bloom's bytes the only driver traffic —
    * and the probe is the codegen'd `might_contain` expression over
    * `xxhash64` on the fact side, pruning most of the fact BEFORE its
    * shuffle. The exact semi join then runs on the survivors, so bloom
    * false positives cannot leak into the result. Spelled manually
    * rather than relying on q53's injection because the injection is
    * heuristic-gated (size thresholds, join-shape checks): a pipeline
    * that KNOWS its dim is selective states the filter explicitly and
    * is guaranteed the pruning. (The previous spelling here paid two
    * driver-side row-scale actions — dim.count() then stat.bloomFilter,
    * each a separate dim scan — and probed through a per-row Scala UDF;
    * that pattern is exactly what q53's documentation calls out as the
    * non-scalable spelling, and this query no longer uses it.) */
  def q39BloomSemi(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.graftshim.GraftShims
    import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    val dim = Tables.orders(s, d)
      .filter($"o_orderpriority" === "1-URGENT" && $"o_orderstatus" === "F")
      .select($"o_orderkey")
    // one distributed aggregation; the driver receives only bloom bytes
    // (the expressions aren't in the FunctionRegistry — InjectRuntimeFilter
    // builds them directly, and so does this query, through the shim)
    val bloom = dim.agg(GraftShims.column(
        new BloomFilterAggregate(GraftShims.expression(xxhash64($"o_orderkey")))
          .toAggregateExpression()))
      .head().getAs[Array[Byte]](0)
    val probe = // empty dim => null sketch => nothing can match
      if (bloom == null) lit(false)
      else GraftShims.column(BloomFilterMightContain(
        GraftShims.expression(lit(bloom)), GraftShims.expression(xxhash64($"l_orderkey"))))
    Tables.lineitem(s, d)
      .filter(probe) // ~fpp of the non-matching fact survives
      .join(dim, $"l_orderkey" === $"o_orderkey", "left_semi")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"), sum(dec($"l_quantity")).cast("double").as("qty"))
      .orderBy($"l_returnflag")
  }
  val q39Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM lineitem WHERE l_orderkey IN (
      |  SELECT o_orderkey FROM orders
      |  WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F')
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------- q40
  /** Datetime scalar-function suite: extraction fields, truncation,
    * month arithmetic with end-of-month clamping, day diffs. All pure
    * maps over the scan (codegen'd); DATE casts on both engines pin the
    * output type. */
  def q40DatetimeSuite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey",
        year($"o_orderdate").as("y"), quarter($"o_orderdate").as("q"),
        month($"o_orderdate").as("m"), dayofmonth($"o_orderdate").as("dom"),
        dayofweek($"o_orderdate").as("dow"), weekofyear($"o_orderdate").as("woy"),
        date_trunc("month", $"o_orderdate").cast("date").as("month_start"),
        last_day($"o_orderdate").as("month_end"),
        add_months($"o_orderdate", 1).as("next_month"),
        datediff($"o_orderdate", lit("1992-01-01").cast("timestamp")).as("days_since"))
      .orderBy($"o_orderkey")
  }
  val q40Sql: String =
    """SELECT o_orderkey,
      |  year(o_orderdate) AS y, quarter(o_orderdate) AS q,
      |  month(o_orderdate) AS m, dayofmonth(o_orderdate) AS dom,
      |  dayofweek(o_orderdate) + 1 AS dow, week(o_orderdate) AS woy,
      |  CAST(date_trunc('month', o_orderdate) AS DATE) AS month_start,
      |  last_day(o_orderdate) AS month_end,
      |  CAST(o_orderdate + INTERVAL 1 MONTH AS DATE) AS next_month,
      |  datediff('day', TIMESTAMP '1992-01-01', o_orderdate) AS days_since
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q41
  /** String + bitwise scalar suite: padding, translate, reverse, repeat,
    * ascii, left/right, levenshtein, and integer bit ops. */
  def q41StringBitwise(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .select($"p_partkey",
        lpad($"p_partkey".cast("string"), 9, "0").as("padded_key"),
        rpad($"p_brand", 12, ".").as("brand_pad"),
        translate($"p_type", "aeiou", "AEIOU").as("type_upvowel"),
        reverse($"p_name").as("name_rev"),
        repeat(left($"p_brand", lit(2)), 2).as("brand2x"),
        ascii($"p_name").as("first_cp"),
        right($"p_type", lit(4)).as("type_tail"),
        levenshtein($"p_brand", $"p_type").as("brand_type_dist"),
        ($"p_size".bitwiseAND(lit(12))).as("sz_and"),
        ($"p_size".bitwiseOR(lit(3))).as("sz_or"),
        ($"p_size".bitwiseXOR(lit(21))).as("sz_xor"),
        shiftleft($"p_size", 2).as("sz_shl"))
      .orderBy($"p_partkey")
  }
  val q41Sql: String =
    """SELECT p_partkey,
      |  lpad(CAST(p_partkey AS VARCHAR), 9, '0') AS padded_key,
      |  rpad(p_brand, 12, '.') AS brand_pad,
      |  translate(p_type, 'aeiou', 'AEIOU') AS type_upvowel,
      |  reverse(p_name) AS name_rev,
      |  repeat(left(p_brand, 2), 2) AS brand2x,
      |  ascii(p_name) AS first_cp,
      |  right(p_type, 4) AS type_tail,
      |  levenshtein(p_brand, p_type) AS brand_type_dist,
      |  p_size & 12 AS sz_and, p_size | 3 AS sz_or,
      |  xor(p_size, 21) AS sz_xor, p_size << 2 AS sz_shl
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q42
  /** HLL sketch cardinalities (approx_count_distinct) per event type —
    * the sketch that replaces exact count-distinct at 100 TB (mergeable,
    * map-side combinable, constant memory). No SQL oracle: the driver
    * records rows-only, and Round2OpsSpec bounds the relative error
    * against the exact cardinality. */
  def q42ApproxSketches(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"event_type")
      .agg(approx_count_distinct($"user_id").as("approx_users"),
        approx_count_distinct($"event_id").as("approx_events"),
        count(lit(1)).as("n"))
      .orderBy($"event_type")
  }

  /** Deterministic-bound companion to [[q42ApproxSketches]]: the sketch
    * row itself can't be oracled (HLL implementations differ engine to
    * engine), but the ACCURACY CLAIM can. Per event type this emits the
    * exact distinct counts plus booleans asserting the HLL estimate
    * (rsd=0.02 — measured max error 2.6% across sf0.001-0.1 vs 8% at the
    * default rsd) lands within 5% of exact. The oracle recomputes the
    * exact counts and pins the booleans to TRUE, so a sketch drifting out
    * of bound hash-fails the row instead of passing rows-only. */
  def q42SketchBound(s: SparkSession, d: String): DataFrame =
    q42SketchBoundOf(Tables.events(s, d))
  private[graft] def q42SketchBoundOf(ev: DataFrame): DataFrame = {
    // exact and approx sides aggregated SEPARATELY, joined on the
    // 15-row group key (r22). Fused, Spark's multi-distinct Expand
    // rewrite keys the first aggregate on (event_type, user_id,
    // event_id, gid) — near-ROW granularity, since event_id is unique —
    // and drags BOTH partial HLL sketches (rsd 0.02 ⇒ ~410 words each)
    // through every one of those per-row groups: ~820 buffer fields per
    // input row ×3 Expand copies, measured 3.3 s steady at sf0.1 for a
    // 15-row answer. Split, the approx side is one partial-aggregated
    // pass (15 HLL sketches total) and the exact side's Expand carries
    // only counts. HLL estimates are multiset-determined, so the values
    // (and the oracle hash) are unchanged. The join is null-safe (<=>):
    // an equi-join would drop the NULL event_type group that GROUP BY
    // keeps.
    val exact = ev.groupBy(col("event_type"))
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        countDistinct(col("event_id")).as("exact_events"))
    val approx = ev.groupBy(col("event_type").as("approx_type"))
      .agg(
        approx_count_distinct(col("user_id"), 0.02).as("au"),
        approx_count_distinct(col("event_id"), 0.02).as("ae"))
    exact.join(approx, col("event_type") <=> col("approx_type"))
      .select(col("event_type"), col("exact_users"), col("exact_events"),
        (abs(col("au") - col("exact_users")) <= col("exact_users") * 0.05).as("users_in_bound"),
        (abs(col("ae") - col("exact_events")) <= col("exact_events") * 0.05).as("events_in_bound"))
      .orderBy(col("event_type"))
  }
  val q42BoundSql: String =
    """SELECT event_type,
      |  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
      |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS exact_events,
      |  TRUE AS users_in_bound,
      |  TRUE AS events_in_bound
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- q43
  /** Null-handling + numeric guard suite: nullif/coalesce, greatest/
    * least, modulo, and division that returns NULL instead of a runtime
    * error on zero denominators (the nullif-divide idiom). */
  def q43NullNumeric(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey",
        coalesce(nullif($"o_orderstatus", lit("O")), lit("OPEN")).as("status_or_open"),
        greatest($"o_totalprice", lit(150000.0)).as("hi"),
        least($"o_totalprice", lit(150000.0)).as("lo"),
        ($"o_custkey" % 10).as("mod10"),
        ($"o_totalprice" / nullif($"o_custkey" % 10, lit(0))).as("safe_ratio"))
      .orderBy($"o_orderkey")
  }
  val q43Sql: String =
    """SELECT o_orderkey,
      |  coalesce(nullif(o_orderstatus, 'O'), 'OPEN') AS status_or_open,
      |  greatest(o_totalprice, 150000.0) AS hi,
      |  least(o_totalprice, 150000.0) AS lo,
      |  o_custkey % 10 AS mod10,
      |  o_totalprice / nullif(o_custkey % 10, 0) AS safe_ratio
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- q44
  /** Nested-type aggregation: per-user event arrays (sorted for
    * determinism — collect order is partitioning-dependent), a distinct
    * set, and a struct. The gate projects the nested values through
    * deterministic scalar serializations (CSV join / struct fields) —
    * the driver's pandas comparator cannot hash array/struct cells;
    * the serialization is a bijection so semantics stay fully checked. */
  def q44NestedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .filter($"event_id" < 500)
      .groupBy($"user_id")
      .agg(
        sort_array(collect_list($"event_type")).as("types_arr"),
        sort_array(collect_set($"event_type")).as("distinct_arr"),
        struct(count(lit(1)).as("n"), min($"event_id").as("first_id"),
          max($"event_id").as("last_id")).as("stats"))
      .select($"user_id",
        array_join($"types_arr", ",").as("types"),
        array_join($"distinct_arr", ",").as("distinct_types"),
        $"stats.n".as("n"), $"stats.first_id".as("first_id"),
        $"stats.last_id".as("last_id"))
      .orderBy($"user_id")
  }
  val q44Sql: String =
    """SELECT user_id,
      |  array_to_string(list(event_type ORDER BY event_type), ',') AS types,
      |  array_to_string(list(DISTINCT event_type ORDER BY event_type), ',') AS distinct_types,
      |  COUNT(*) AS n, MIN(event_id) AS first_id, MAX(event_id) AS last_id
      |FROM events WHERE event_id < 500
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  // ---------------------------------------------------------------- q45
  /** Multiset set ops (EXCEPT ALL / INTERSECT ALL): duplicates are
    * preserved per SQL bag semantics — one tagged result for both. */
  def q45SetAll(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val li = Tables.lineitem(s, d)
    val upTo2 = li.filter($"l_linenumber" <= 2).select($"l_orderkey")
    val first = li.filter($"l_linenumber" === 1).select($"l_orderkey")
    val third = li.filter($"l_linenumber" === 3).select($"l_orderkey")
    upTo2.exceptAll(first).withColumn("op", lit("except_all"))
      .unionByName(upTo2.intersectAll(third).withColumn("op", lit("intersect_all")))
      .groupBy($"op").agg(count(lit(1)).as("n"),
        countDistinct($"l_orderkey").as("nd"))
      .orderBy($"op")
  }
  val q45Sql: String =
    """SELECT op, COUNT(*) AS n, COUNT(DISTINCT l_orderkey) AS nd FROM (
      |  SELECT 'except_all' AS op, l_orderkey FROM (
      |    SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2
      |    EXCEPT ALL SELECT l_orderkey FROM lineitem WHERE l_linenumber = 1)
      |  UNION ALL
      |  SELECT 'intersect_all' AS op, l_orderkey FROM (
      |    SELECT l_orderkey FROM lineitem WHERE l_linenumber <= 2
      |    INTERSECT ALL SELECT l_orderkey FROM lineitem WHERE l_linenumber = 3))
      |GROUP BY op ORDER BY op""".stripMargin

  // ---------------------------------------------------------------- q51
  /** Approximate quantiles (Greenwald-Khanna via percentile_approx) per
    * priority class — the single-pass, mergeable, constant-memory sketch
    * that replaces q33's exact window-sort percentiles at 100 TB, where
    * a full per-group sort is the wrong plan. Rows-only like q42 (GK
    * implementations differ engine to engine); the accuracy claim is
    * oracled by [[q51QuantileBound]]. Scalar a50/a90/a99 columns (not an
    * ArrayType) so the driver harness can sort/hash the frame. */
  def q51ApproxQuantiles(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderpriority")
      .agg(
        percentile_approx($"o_totalprice", lit(0.5), lit(10000)).as("a50"),
        percentile_approx($"o_totalprice", lit(0.9), lit(10000)).as("a90"),
        percentile_approx($"o_totalprice", lit(0.99), lit(10000)).as("a99"),
        count(lit(1)).as("n"))
      .orderBy($"o_orderpriority")
  }

  /** Deterministic-bound companion to [[q51ApproxQuantiles]], same scheme
    * as q42_sketch_bound: per group it emits the exact discrete
    * percentiles (raw data values — hash-stable, q33 proves it) plus
    * booleans asserting each GK estimate lands between the exact discrete
    * values at p±0.01. Accuracy 10000 bounds GK's rank error at n/10000,
    * two orders of magnitude inside the ±0.01-rank bracket, so the
    * booleans are deterministically TRUE for a correct sketch and the
    * oracle pins them; a sketch drifting out of bound hash-fails the row
    * instead of passing rows-only. */
  def q51QuantileBound(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_orderpriority").orderBy($"o_totalprice")
    Tables.orders(s, d)
      .withColumn("cd", cume_dist().over(w))
      .groupBy($"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        min(when($"cd" >= 0.5, $"o_totalprice")).as("p50"),
        min(when($"cd" >= 0.9, $"o_totalprice")).as("p90"),
        min(when($"cd" >= 0.99, $"o_totalprice")).as("p99"),
        min(when($"cd" >= 0.49, $"o_totalprice")).as("lo50"),
        min(when($"cd" >= 0.89, $"o_totalprice")).as("lo90"),
        min(when($"cd" >= 0.98, $"o_totalprice")).as("lo99"),
        min(when($"cd" >= 0.51, $"o_totalprice")).as("hi50"),
        min(when($"cd" >= 0.91, $"o_totalprice")).as("hi90"),
        max($"o_totalprice").as("hi99"),
        percentile_approx($"o_totalprice", lit(0.5), lit(10000)).as("a50"),
        percentile_approx($"o_totalprice", lit(0.9), lit(10000)).as("a90"),
        percentile_approx($"o_totalprice", lit(0.99), lit(10000)).as("a99"))
      .select($"o_orderpriority", $"n", $"p50", $"p90", $"p99",
        ($"a50" >= $"lo50" && $"a50" <= $"hi50").as("p50_in_bound"),
        ($"a90" >= $"lo90" && $"a90" <= $"hi90").as("p90_in_bound"),
        ($"a99" >= $"lo99" && $"a99" <= $"hi99").as("p99_in_bound"))
      .orderBy($"o_orderpriority")
  }
  val q51BoundSql: String =
    """SELECT o_orderpriority, COUNT(*) AS n,
      |  MIN(CASE WHEN cd >= 0.5 THEN o_totalprice END) AS p50,
      |  MIN(CASE WHEN cd >= 0.9 THEN o_totalprice END) AS p90,
      |  MIN(CASE WHEN cd >= 0.99 THEN o_totalprice END) AS p99,
      |  TRUE AS p50_in_bound, TRUE AS p90_in_bound, TRUE AS p99_in_bound
      |FROM (SELECT o_orderpriority, o_totalprice,
      |        cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cd
      |      FROM orders)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // ---------------------------------------------------------------- q53
  /** Optimizer-injected runtime bloom-filter join — the heuristic twin
    * of q39's explicit pattern (both now run on the same primitives):
    * Catalyst's InjectRuntimeFilter plants a distributed
    * `bloom_filter_agg` over the filtered dim keys and a codegen'd
    * `might_contain` probe on the fact side, so rows of
    * lineitem that can't join are dropped BEFORE the join shuffle —
    * at 100 TB that's the difference between shuffling the whole fact
    * table and shuffling ~the matching fifth. Runs in an isolated
    * `newSession` because the injection is gated behind a 10 GB
    * application-side threshold meant for real clusters (lowered here
    * to demonstrate the plan at test scale) and because broadcast must
    * be off for the fact join to take the SMJ shape the technique
    * exists for — session isolation keeps both conf changes away from
    * every other query. `Round2OpsSpec` pins the injection (bloom agg +
    * might_contain in the plan, absent in a no-selective-filter
    * control) and measures the probe actually filtering. */
  def q53BloomJoin(s: SparkSession, d: String): DataFrame = {
    val s2 = s.newSession()
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s2.implicits._
    val orders = Tables.orders(s2, d).filter($"o_orderpriority" === "1-URGENT")
    Tables.lineitem(s2, d).join(orders, $"l_orderkey" === $"o_orderkey")
      .groupBy($"l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(dec($"l_extendedprice")).cast("double").as("revenue"))
      .orderBy($"l_returnflag")
  }
  val q53Sql: String =
    """SELECT l_returnflag, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS revenue
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE o_orderpriority = '1-URGENT'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ----------------------------------------------------------------
  // ---------------------------------------------------------------- q56
  /** Ordered funnel analysis: users progressing view → click → purchase
    * IN ORDER, each later step strictly after the user's FIRST occurrence
    * of the previous step (the standard product-analytics funnel; order
    * matters — a purchase before the first view does not convert). Every
    * funnel depth reports, zeros included.
    *
    * Scale shape: one narrow filtered pass per step, each a per-user
    * hash agg (map-side combined); the step joins are user-level frames
    * meeting on the user key — the raw events table is never joined to
    * itself. All event-time arithmetic in micros (the engines' common
    * precision; see [[Tables.tsUs]]). */
  def q56Funnel(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev0 = Tables.events(s, d)
    val ev = ev0.select($"user_id", $"event_type", Tables.tsUs(ev0).as("us"))
    val s1 = ev.filter($"event_type" === "view")
      .groupBy($"user_id").agg(min($"us").as("t1"))
    val s2 = ev.filter($"event_type" === "click").join(s1, "user_id")
      .filter($"us" > $"t1").groupBy($"user_id").agg(min($"us").as("t2"))
    val s3 = ev.filter($"event_type" === "purchase").join(s2, "user_id")
      .filter($"us" > $"t2").groupBy($"user_id").agg(min($"us").as("t3"))
    val reached = s1.select(lit(1).as("depth"), $"user_id")
      .unionByName(s2.select(lit(2).as("depth"), $"user_id"))
      .unionByName(s3.select(lit(3).as("depth"), $"user_id"))
      .groupBy($"depth")
      .agg(count(lit(1)).as("n_users"), min($"user_id").as("first_user"))
    Seq((1, "view"), (2, "view>click"), (3, "view>click>purchase"))
      .toDF("depth", "step")
      .join(reached, Seq("depth"), "left")
      .select($"depth", $"step",
        coalesce($"n_users", lit(0L)).as("n_users"), $"first_user")
      .orderBy($"depth")
  }
  val q56Sql: String =
    """WITH s1 AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS t1 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id
      |), s2 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t2
      |  FROM events e JOIN s1 ON e.user_id = s1.user_id
      |  WHERE e.event_type = 'click' AND epoch_us(e.ts) > s1.t1
      |  GROUP BY e.user_id
      |), s3 AS (
      |  SELECT e.user_id, MIN(epoch_us(e.ts)) AS t3
      |  FROM events e JOIN s2 ON e.user_id = s2.user_id
      |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s2.t2
      |  GROUP BY e.user_id
      |), reached AS (
      |  SELECT depth, CAST(COUNT(*) AS BIGINT) AS n_users, MIN(user_id) AS first_user
      |  FROM (SELECT 1 AS depth, user_id FROM s1
      |        UNION ALL SELECT 2, user_id FROM s2
      |        UNION ALL SELECT 3, user_id FROM s3)
      |  GROUP BY depth)
      |SELECT d.depth, d.step, COALESCE(r.n_users, 0) AS n_users, r.first_user
      |FROM (VALUES (1, 'view'), (2, 'view>click'), (3, 'view>click>purchase')) AS d(depth, step)
      |LEFT JOIN reached r ON d.depth = r.depth
      |ORDER BY d.depth""".stripMargin

  // ---------------------------------------------------------------- q57
  /** Revenue share per nation: each nation's revenue joined against the
    * grand total derived FROM THE SAME aggregated frame. Spark's
    * ReuseExchange rule detects the two identical shuffles and executes
    * ONE — the share-a-shuffle pattern that matters at 100 TB whenever a
    * report needs both group-level and whole-corpus figures (the naive
    * spelling shuffles the fact table twice). The plan law pins the
    * `ReusedExchange` node. The grand total is a one-row frame, so the
    * share join broadcasts. */
  def q57ReuseExchange(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // same proven-portable revenue arithmetic as q26 (decimal term, double out)
    val term = (dec($"l_extendedprice") * (lit(1) - dec($"l_discount")))
      .cast(DecimalType(18, 4))
    // decimals all the way to the output casts: a double grand total would
    // be summation-order-dependent (house rule — see Relational scaladoc)
    val rev = Tables.lineitem(s, d)
      .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey")
      .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum(term).as("rev_dec"))
    val total = rev.agg(sum($"rev_dec").as("total_dec"))
    rev.crossJoin(total)
      .select($"n_name", $"rev_dec".cast("double").as("revenue"),
        ($"rev_dec".cast("double") / $"total_dec".cast("double")).as("share"))
      .orderBy($"n_name")
  }
  val q57Sql: String = {
    val rev = "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))"
    s"""WITH rev AS (
       |  SELECT n_name, SUM($rev) AS rev_dec
       |  FROM lineitem
       |  JOIN supplier ON l_suppkey = s_suppkey
       |  JOIN nation ON s_nationkey = n_nationkey
       |  GROUP BY n_name)
       |SELECT n_name, CAST(rev_dec AS DOUBLE) AS revenue,
       |  CAST(rev_dec AS DOUBLE) / CAST((SELECT SUM(rev_dec) FROM rev) AS DOUBLE) AS share
       |FROM rev ORDER BY n_name""".stripMargin
  }

  val rows: Seq[QueryDef] = Seq(
    QueryDef("q57_reuse_exchange", q57ReuseExchange _, q57Sql),
    QueryDef("q56_funnel", q56Funnel _, q56Sql),
    QueryDef("q33_percentiles", q33Percentiles _, q33Sql),
    QueryDef("q34_asof_join", q34AsofJoin _, q34Sql),
    QueryDef("q35_range_join", q35RangeJoin _, q35Sql),
    QueryDef("q36_grouping_sets", q36GroupingSets _, q36Sql),
    QueryDef("q37_exists", q37Exists _, q37Sql),
    QueryDef("q38_window_suite", q38WindowSuite _, q38Sql),
    QueryDef("q39_bloom_semi", q39BloomSemi _, q39Sql),
    QueryDef("q40_datetime_suite", q40DatetimeSuite _, q40Sql),
    QueryDef("q41_string_bitwise", q41StringBitwise _, q41Sql),
    // intentionally no oracle (sketch output; HLL impls differ
    // engine-to-engine) — its accuracy claim is gated by q42_sketch_bound
    // below and error-bounded in Round2OpsSpec
    QueryDef("q42_approx_sketches", q42ApproxSketches _,
      noOracle(boundBy = "q42_sketch_bound")),
    QueryDef("q42_sketch_bound", q42SketchBound _, q42BoundSql),
    QueryDef("q43_null_numeric", q43NullNumeric _, q43Sql),
    QueryDef("q44_nested_agg", q44NestedAgg _, q44Sql),
    QueryDef("q45_set_all", q45SetAll _, q45Sql),
    // intentionally no oracle (GK sketch output differs engine-to-engine)
    // — its accuracy claim is gated by q51_quantile_bound below
    QueryDef("q51_approx_quantiles", q51ApproxQuantiles _,
      noOracle(boundBy = "q51_quantile_bound")),
    QueryDef("q51_quantile_bound", q51QuantileBound _, q51BoundSql),
    QueryDef("q53_bloom_join", q53BloomJoin _, q53Sql),
  )
}
