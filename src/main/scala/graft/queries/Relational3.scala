package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef

/** Round-13 relational additions, part 3: interval algebra over event
  * time. Same contract as [[Relational]]/[[Relational2]]: every query is
  * a declarative DataFrame plan with a DuckDB oracle, event time derived
  * once via [[Tables.tsUs]] (exact epoch micros, both fixture
  * generations).
  */
object Relational3 {

  /** Activity interval length attributed to each event. */
  private[graft] val IntervalUs: Long = 30L * 60 * 1000000

  /** Per-user interval-union coverage (q59): each event opens a 30-minute
    * activity interval; report, per user, the total time covered by the
    * UNION of those intervals (overlaps counted once), the number of
    * disjoint activity islands, and the raw event count. The classic
    * sweep-line/gaps-and-islands computation — utilization, uptime, and
    * "active hours" metrics are all this query.
    *
    * Why this shape scales: the naive formulation self-joins events on
    * range overlap (quadratic in the hot key). This plan never joins —
    * ONE shuffle on user_id, then per-partition sorted windows:
    * `pmax` = running max of interval ends over all PRECEDING rows (a
    * pinned ROWS frame, so the value depends only on the preceding SET,
    * deterministic under the (start, event_id) sort), each row's novel
    * contribution is `end − max(start, pmax)` clamped at 0, and an
    * island opens where `start > pmax`. Integer micros throughout —
    * both engines sum identical longs. */
  def q59IntervalUnion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val base = ev.select($"user_id", $"event_id", Tables.tsUs(ev).as("st"))
      .withColumn("en", $"st" + IntervalUs)
    val w = Window.partitionBy($"user_id").orderBy($"st", $"event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    base.withColumn("pmax", max($"en").over(w))
      .withColumn("contrib",
        greatest($"en" - greatest($"st", coalesce($"pmax", lit(Long.MinValue))), lit(0L)))
      .withColumn("island",
        when($"pmax".isNull || $"st" > $"pmax", 1L).otherwise(0L))
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_events"),
        sum($"island").as("n_islands"),
        sum($"contrib").as("covered_us"))
      .orderBy($"user_id")
  }
  val q59IntervalUnionSql: String =
    s"""WITH iv AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS st,
       |    epoch_us(ts) + $IntervalUs AS en
       |  FROM events
       |), sweep AS (
       |  SELECT user_id, st, en,
       |    MAX(en) OVER (PARTITION BY user_id ORDER BY st, event_id
       |                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
       |  FROM iv)
       |SELECT user_id, COUNT(*) AS n_events,
       |  CAST(SUM(CASE WHEN pmax IS NULL OR st > pmax THEN 1 ELSE 0 END) AS BIGINT) AS n_islands,
       |  CAST(SUM(GREATEST(en - GREATEST(st, COALESCE(pmax, ${Long.MinValue})), 0)) AS BIGINT) AS covered_us
       |FROM sweep GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Latest-record compaction (q60): the newest event per
    * (user_id, event_type) — the upsert/merge-on-read materialization
    * every CDC lake and feature store runs constantly ("current value
    * per key").
    *
    * Why this shape scales: the textbook spelling is a row_number
    * window, which SHUFFLES the entire history (every version of every
    * key crosses the network) and sorts it per key. This plan instead
    * reduces each key with an aggregate — `max` over a struct ordered
    * (ts, event_id, …): lexicographic struct comparison picks the
    * latest row with a deterministic event_id tie-break, and map-side
    * partial aggregation collapses history BEFORE the exchange, so
    * shuffle volume is O(live keys), not O(history) — the difference
    * that matters at CDC scale. (The struct buffer isn't
    * hash-aggregable, so the physical plan is SortAggregate: a local,
    * spillable group-key sort on each side of the collapsed exchange —
    * plan-checked in `Curation5Spec`, partial-before-shuffle pinned.)
    * The DuckDB oracle deliberately uses the window spelling — two
    * independent formulations agreeing is a stronger check than one
    * replayed. */
  def q60LatestByKey(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    latestByKey(ev.select($"user_id", $"event_type", Tables.tsUs(ev).as("ts_us"),
        $"event_id", $"value"))
      .orderBy($"user_id", $"event_type")
  }
  /** The q60 reduction over `(user_id, event_type, ts_us, event_id,
    * value)` rows; shared with the streaming twin. */
  private[graft] def latestByKey(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n_versions"),
        max(struct(col("ts_us"), col("event_id"), col("value"))).as("last"))
      .select(col("user_id"), col("event_type"), col("n_versions"),
        col("last.ts_us").as("last_ts_us"), col("last.event_id").as("last_event_id"),
        col("last.value").as("last_value"))
  /** Oracle for [[latestByKey]] over the events satisfying `pred`. */
  def q60LatestByKeySqlWhere(pred: String): String =
    s"""WITH rk AS (
       |  SELECT user_id, event_type, epoch_us(ts) AS ts_us, event_id, value,
       |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
       |                       ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk,
       |    COUNT(*) OVER (PARTITION BY user_id, event_type) AS n_versions
       |  FROM events WHERE $pred)
       |SELECT user_id, event_type, CAST(n_versions AS BIGINT) AS n_versions,
       |  ts_us AS last_ts_us, event_id AS last_event_id, value AS last_value
       |FROM rk WHERE rk = 1 ORDER BY user_id, event_type""".stripMargin
  val q60LatestByKeySql: String = q60LatestByKeySqlWhere("TRUE")

  /** Nearest-match window for [[q61AsofNearest]]. */
  private[graft] val NearestUs: Long = 3600L * 1000000

  /** Bidirectional nearest-event join (q61): every `purchase` finds the
    * same user's nearest `click` in EITHER direction within ±1 h —
    * attribution's "closest touchpoint" join, where the plain as-of
    * (q34, backward-only) mis-attributes a purchase that happened just
    * before its click burst. Signed `delta_us` reports direction
    * (negative = click preceded purchase); ties prefer the earlier
    * click.
    *
    * Why this shape scales: the naive spelling is a range self-join
    * (quadratic in the hot user). This is the q34 union trick doubled —
    * ONE shuffle on user_id, a union of tagged rows sorted once per
    * user, then `last(click, ignoreNulls)` over the preceding frame and
    * `first(click, ignoreNulls)` over the following frame. The paired
    * (ts, id) columns use the same ignore-nulls windows, so both fields
    * come from the same click row by construction (click ts/id are null
    * on exactly the same rows). Clicks sort before purchases at equal
    * ts (tag asc), so a same-instant click is the preceding candidate
    * at distance 0. */
  def q61AsofNearest(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val base = ev.select($"user_id", $"event_id", $"event_type", Tables.tsUs(ev).as("ts_us"))
      .filter($"event_type".isin("click", "purchase"))
      .withColumn("tag", when($"event_type" === "click", 0).otherwise(1))
      .withColumn("c_ts", when($"tag" === 0, $"ts_us"))
      .withColumn("c_id", when($"tag" === 0, $"event_id"))
    val order = Seq($"ts_us", $"tag", $"event_id")
    val back = Window.partitionBy($"user_id").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy($"user_id").orderBy(order: _*)
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    base
      .withColumn("p_ts", last($"c_ts", ignoreNulls = true).over(back))
      .withColumn("p_id", last($"c_id", ignoreNulls = true).over(back))
      .withColumn("n_ts", first($"c_ts", ignoreNulls = true).over(fwd))
      .withColumn("n_id", first($"c_id", ignoreNulls = true).over(fwd))
      .filter($"tag" === 1)
      .withColumn("pd", when($"p_ts".isNotNull, $"ts_us" - $"p_ts"))
      .withColumn("nd", when($"n_ts".isNotNull, $"n_ts" - $"ts_us"))
      .withColumn("use_prev",
        $"pd".isNotNull && $"pd" <= NearestUs &&
          ($"nd".isNull || $"nd" > NearestUs || $"pd" <= $"nd"))
      .withColumn("use_next",
        !$"use_prev" && $"nd".isNotNull && $"nd" <= NearestUs)
      .select($"user_id", $"event_id".as("purchase_id"), $"ts_us",
        when($"use_prev", $"p_id").when($"use_next", $"n_id").as("nearest_click_id"),
        when($"use_prev", -$"pd").when($"use_next", $"nd").as("delta_us"))
      .orderBy($"user_id", $"purchase_id")
  }
  val q61AsofNearestSql: String =
    s"""WITH base AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS ts_us,
       |    CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS tag,
       |    CASE WHEN event_type = 'click' THEN epoch_us(ts) END AS c_ts,
       |    CASE WHEN event_type = 'click' THEN event_id END AS c_id
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |), win AS (
       |  SELECT *,
       |    LAST_VALUE(c_ts IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_ts,
       |    LAST_VALUE(c_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS p_id,
       |    FIRST_VALUE(c_ts IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_ts,
       |    FIRST_VALUE(c_id IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY ts_us, tag, event_id
       |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS n_id
       |  FROM base
       |), d AS (
       |  SELECT user_id, event_id, ts_us,
       |    ts_us - p_ts AS pd, n_ts - ts_us AS nd, p_id, n_id,
       |    (p_ts IS NOT NULL AND ts_us - p_ts <= $NearestUs AND
       |     (n_ts IS NULL OR n_ts - ts_us > $NearestUs OR ts_us - p_ts <= n_ts - ts_us)) AS use_prev
       |  FROM win WHERE tag = 1)
       |SELECT user_id, event_id AS purchase_id, ts_us,
       |  CASE WHEN use_prev THEN p_id
       |       WHEN nd IS NOT NULL AND nd <= $NearestUs THEN n_id END AS nearest_click_id,
       |  CASE WHEN use_prev THEN -pd
       |       WHEN nd IS NOT NULL AND nd <= $NearestUs THEN nd END AS delta_us
       |FROM d ORDER BY user_id, purchase_id""".stripMargin

  /** Microseconds per day. */
  private[graft] val DayUs: Long = 86400L * 1000000

  /** Rolling engagement (q63): per active day, the distinct users active
    * that day (DAU) and the distinct users active in the trailing 7-day
    * window (WAU) — the retention dashboard every event pipeline feeds.
    *
    * Why this shape scales: a window `COUNT(DISTINCT)` doesn't exist
    * (distinct isn't decomposable over sliding frames) and the naive
    * days×events range join re-scans the event history once per day. This
    * plan compacts FIRST — `(user_id, day)` distinct is one map-side-
    * combinable aggregation that collapses the 100 TB history to
    * O(users × active days) — then every later stage runs on the compact
    * frame: DAU is a count per day, and WAU attributes each (user, day)
    * to the 7 window-ends it can serve via a 7× `sequence` explode (a
    * narrow map) and counts distinct users per window-end. Integer day
    * numbers (floor-div of epoch micros) keep both engines exact; windows
    * whose end-day had no activity are inner-joined away, matching the
    * dashboard convention of reporting only observed days. */
  def q63RollingActive(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val ud = ev.select($"user_id", Tables.tsUs(ev).as("ts_us"))
      .selectExpr("user_id", s"ts_us div $DayUs as day") // integer div: exact, engine-parity
      .distinct()
    val dau = ud.groupBy($"day").agg(count(lit(1)).as("dau"))
    val wau = ud.select($"user_id", explode(sequence($"day", $"day" + 6)).as("day"))
      .groupBy($"day").agg(countDistinct($"user_id").as("wau"))
    dau.join(wau, Seq("day"))
      .select($"day", $"dau", $"wau")
      .orderBy($"day")
  }
  /** DuckDB replica — deliberately the independent correlated-range
    * spelling (per-day re-scan) the Spark plan avoids. */
  val q63RollingActiveSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events
       |), days AS (SELECT DISTINCT day FROM ud)
       |SELECT d.day,
       |  CAST((SELECT COUNT(*) FROM ud u WHERE u.day = d.day) AS BIGINT) AS dau,
       |  CAST((SELECT COUNT(DISTINCT user_id) FROM ud u
       |        WHERE u.day BETWEEN d.day - 6 AND d.day) AS BIGINT) AS wau
       |FROM days d ORDER BY d.day""".stripMargin

  /** Retention cohorts (q64): users grouped by first-active day (their
    * cohort), reporting how many are still active k days later — the
    * triangle table behind every retention curve.
    *
    * Why this shape scales: the textbook spelling computes first-active
    * per user, then joins it back against the full activity history
    * (second shuffle of the big side). This plan makes ONE shuffle on
    * user_id: `collect_set(day)` per user dedups activity in the
    * aggregate buffer (map-side partial collapses repeats before the
    * exchange) and min(day) rides the same aggregation; cohort offsets
    * then explode from the per-user set — a narrow map — and the final
    * (cohort, offset) rollup counts each user at most once per offset by
    * construction. The per-user set is bounded by the calendar horizon
    * (days, not events), so the buffer can't blow up on a hot user. */
  def q64RetentionCohorts(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    ev.select($"user_id", Tables.tsUs(ev).as("ts_us"))
      .selectExpr("user_id", s"ts_us div $DayUs as day")
      .groupBy($"user_id")
      .agg(min($"day").as("cohort"), collect_set($"day").as("days"))
      .select($"cohort", explode($"days").as("day"))
      .withColumn("day_offset", $"day" - $"cohort")
      .groupBy($"cohort", $"day_offset")
      .agg(count(lit(1)).as("n_active"))
      .orderBy($"cohort", $"day_offset")
  }
  /** DuckDB replica — deliberately the independent join-back spelling. */
  val q64RetentionCohortsSql: String =
    s"""WITH ud AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // $DayUs AS day FROM events
       |), f AS (SELECT user_id, MIN(day) AS cohort FROM ud GROUP BY user_id)
       |SELECT f.cohort, u.day - f.cohort AS day_offset,
       |  CAST(COUNT(*) AS BIGINT) AS n_active
       |FROM ud u JOIN f ON u.user_id = f.user_id
       |GROUP BY f.cohort, u.day - f.cohort
       |ORDER BY cohort, day_offset""".stripMargin

  /** Skyline bucket-count cap: the driver-collected bucket table holds at
    * most this many + 1 rows, for ANY price distribution — the width is
    * derived from the observed price range, not a domain constant (a
    * corpus with a 1000x wider o_totalprice range used to quietly grow
    * the collected array under the old fixed 10k width). */
  private[graft] val SkyBucketCap = 64

  /** Attach a data-derived `bucket` column to the per-price aggregate:
    * width = (max-min)/[[SkyBucketCap]] via one exact min/max reduce.
    * Deterministic (exact extremes, not a sketch); bucket ids are in
    * [0, SkyBucketCap]. Empty input short-circuits to bucket 0. */
  private[graft] def withSkyBuckets(perPrice: DataFrame): DataFrame = {
    import perPrice.sparkSession.implicits._
    val ext = perPrice
      .agg(min($"o_totalprice").cast("double"), max($"o_totalprice").cast("double"))
      .collect()(0)
    if (ext.isNullAt(0)) perPrice.withColumn("bucket", lit(0L))
    else {
      val (lo, hi) = (ext.getDouble(0), ext.getDouble(1))
      val width = math.max((hi - lo) / SkyBucketCap, java.lang.Double.MIN_NORMAL)
      perPrice.withColumn("bucket",
        least(floor(($"o_totalprice" - lit(lo)) / lit(width)), lit(SkyBucketCap.toLong))
          .cast("long"))
    }
  }

  /** Pareto frontier of orders (q65): orders not dominated on
    * (totalprice MAX, orderdate MIN) — "the earliest order at every
    * spend level", the skyline operator of the multi-criteria
    * literature. Dominance: another order with price ≥ AND date ≤,
    * strict in at least one.
    *
    * Why this shape scales: the textbook spellings are a NOT EXISTS
    * self-join (quadratic) or one global sort + running min (a
    * single-task Window.orderBy). This plan exploits 2D structure:
    * a row is skyline iff its date beats BOTH the min date of all
    * strictly-higher prices and every earlier same-price date. It
    * reduces rows per distinct price (shuffle on price, map-side
    * partials), seeds each price BUCKET with the min date of all
    * strictly higher buckets (bucket width is DERIVED FROM THE DATA —
    * (max-min)/[[SkyBucketCap]] — so the collected-and-suffix-min'd
    * driver table is ≤ SkyBucketCap+1 rows under ANY price
    * distribution, not just the fixture's; the K-bounded coordination
    * class by construction), and refines within each bucket with a
    * window PARTITIONED BY bucket — every window partition is one
    * bucket's distinct prices, so no global single-task sort exists
    * anywhere. Dominance checks use exact integer micros. The extra
    * cost of deriving the width is one exact min/max over the
    * per-price aggregate — a two-column scan + map-side-combined
    * single-row reduce, not a quantile sketch (exactness keeps the
    * bucketing deterministic run to run). */
  def q65Skyline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ord = Tables.orders(s, d)
    val rows = ord.select($"o_orderkey", $"o_totalprice",
      Tables.tsUs(ord, "o_orderdate").as("t_us"))
    val perPrice0 = rows.groupBy($"o_totalprice").agg(min($"t_us").as("dmin"))
    val perPrice = withSkyBuckets(perPrice0)
    // K-bounded bucket mins -> exclusive suffix min on the driver
    val bmins = perPrice.groupBy($"bucket").agg(min($"dmin").as("bmin"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val suffix = bmins.scanRight(Long.MaxValue) { case ((_, m), acc) => math.min(m, acc) }
    val seeds = bmins.map(_._1).zip(suffix.drop(1)) // bucket -> min over HIGHER buckets
    val seedDf = broadcast(seeds.toSeq.toDF("bucket", "seed"))
    val wHigher = Window.partitionBy($"bucket").orderBy($"o_totalprice".desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val sky = perPrice.join(seedDf, "bucket")
      .withColumn("mh", least(
        coalesce(min($"dmin").over(wHigher), lit(Long.MaxValue)), $"seed"))
      .filter($"mh" > $"dmin") // mh <= dmin => dominated by a higher price
      .select($"o_totalprice", $"dmin", $"mh")
    rows.join(sky, Seq("o_totalprice"))
      .filter($"t_us" === $"dmin") // same-price later dates are dominated
      .select($"o_orderkey", $"o_totalprice", $"t_us")
      .orderBy($"o_orderkey")
  }
  /** DuckDB replica — deliberately the NOT EXISTS dominance spelling. */
  val q65SkylineSql: String =
    """WITH o AS (
      |  SELECT o_orderkey, o_totalprice, epoch_us(o_orderdate) AS t_us
      |  FROM orders)
      |SELECT o_orderkey, o_totalprice, t_us FROM o a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM o b
      |  WHERE b.o_totalprice >= a.o_totalprice AND b.t_us <= a.t_us
      |    AND (b.o_totalprice > a.o_totalprice OR b.t_us < a.t_us))
      |ORDER BY o_orderkey""".stripMargin

  /** A/B experiment readout (ab_test_report): per event_type, group
    * sizes, milli-unit means, and the Welch t statistic between the
    * two user buckets (user_id % 2) — the report every experimentation
    * platform materializes continuously.
    *
    * Scale + parity shape: ONE aggregation over the events scan
    * (conditional aggregates per bucket, map-side partials; shuffle
    * carries ≤ #event_types rows). Values quantize to exact integer
    * millis BEFORE any sum (floor — one correctly-rounded IEEE product
    * then an exact truncation, identical on both engines); sums of
    * squares accumulate in DECIMAL(38,0) (exact, overflow-proof at any
    * n — DuckDB's BIGINT sums land in HUGEINT, same exactness). The
    * Welch statistic is then a FIXED DAG of correctly-rounded double
    * ops over exact integers — spelled in the same nesting order in
    * both engines — and the result quantizes to millis with floor, so
    * even the final sqrt/divisions are hash-exact. */
  /** The A/B aggregation + Welch projection over any (event_type,
    * user_id, value) frame — batch ([[abTestReport]]) and streaming
    * (`stream_ab_monitor`) share it, so both spell the identical
    * arithmetic. Count/sum aggregates are associative, so micro-batch
    * slices merge into exactly the whole-slice answer. */
  private[graft] def abAgg(base0: DataFrame): DataFrame = {
    val s = base0.sparkSession
    import s.implicits._
    val vm = floor($"value" * lit(1000.0)).cast("long")
    val isA = ($"user_id" % 2 === 0)
    val base = base0.select($"event_type", $"user_id", vm.as("vmil"))
    val agg = base.groupBy($"event_type").agg(
      sum(when(isA, 1L).otherwise(0L)).as("n_a"),
      sum(when(!isA, 1L).otherwise(0L)).as("n_b"),
      sum(when(isA, $"vmil").otherwise(0L)).as("s_a"),
      sum(when(!isA, $"vmil").otherwise(0L)).as("s_b"),
      sum(when(isA, ($"vmil" * $"vmil").cast(DecimalType(38, 0))).otherwise(lit(0).cast(DecimalType(38, 0)))).as("q_a"),
      sum(when(!isA, ($"vmil" * $"vmil").cast(DecimalType(38, 0))).otherwise(lit(0).cast(DecimalType(38, 0)))).as("q_b"))
    // the Welch DAG: identical op nesting in the oracle SQL
    val t = expr(
      """((CAST(s_a AS DOUBLE) / n_a) - (CAST(s_b AS DOUBLE) / n_b)) /
        |sqrt(
        |  ((CAST(q_a AS DOUBLE) - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)) / n_a) / (n_a - 1)) / n_a +
        |  ((CAST(q_b AS DOUBLE) - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)) / n_b) / (n_b - 1)) / n_b)""".stripMargin)
    agg.select($"event_type", $"n_a", $"n_b",
      // floor-division via the double DAG: sign-robust and identical
      // across engines (Spark div truncates, DuckDB // floors)
      floor(expr("CAST(s_a AS DOUBLE) / n_a")).cast("long").as("mean_a_milli"),
      floor(expr("CAST(s_b AS DOUBLE) / n_b")).cast("long").as("mean_b_milli"),
      floor(t * lit(1000.0)).cast("long").as("t_milli"))
  }

  def abTestReport(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    abAgg(Tables.events(s, d)).orderBy($"event_type")
  }
  /** Oracle for [[abAgg]] over the events slice satisfying `pred` —
    * parameterized (rather than post-hoc string surgery on the batch
    * SQL) so a caller restricting to a streamed slice gets a
    * compile-time-visible predicate seam instead of a silent
    * `.replace` that no-ops if this SQL is ever reworded. */
  def abTestReportSqlWhere(pred: String): String =
    s"""WITH base AS (
      |  SELECT event_type, user_id,
      |    CAST(FLOOR(value * 1000.0) AS BIGINT) AS vmil
      |  FROM events WHERE $pred
      |), agg AS (
      |  SELECT event_type,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
      |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN vmil ELSE 0 END) AS BIGINT) AS s_a,
      |    CAST(SUM(CASE WHEN user_id % 2 <> 0 THEN vmil ELSE 0 END) AS BIGINT) AS s_b,
      |    SUM(CASE WHEN user_id % 2 = 0 THEN vmil * vmil ELSE 0 END) AS q_a,
      |    SUM(CASE WHEN user_id % 2 <> 0 THEN vmil * vmil ELSE 0 END) AS q_b
      |  FROM base GROUP BY event_type)
      |SELECT event_type, n_a, n_b,
      |  CAST(FLOOR(CAST(s_a AS DOUBLE) / n_a) AS BIGINT) AS mean_a_milli,
      |  CAST(FLOOR(CAST(s_b AS DOUBLE) / n_b) AS BIGINT) AS mean_b_milli,
      |  CAST(FLOOR((
      |    ((CAST(s_a AS DOUBLE) / n_a) - (CAST(s_b AS DOUBLE) / n_b)) /
      |    sqrt(
      |      ((CAST(q_a AS DOUBLE) - (CAST(s_a AS DOUBLE) * CAST(s_a AS DOUBLE)) / n_a) / (n_a - 1)) / n_a +
      |      ((CAST(q_b AS DOUBLE) - (CAST(s_b AS DOUBLE) * CAST(s_b AS DOUBLE)) / n_b) / (n_b - 1)) / n_b)
      |  ) * 1000.0) AS BIGINT) AS t_milli
      |FROM agg ORDER BY event_type""".stripMargin
  val abTestReportSql: String = abTestReportSqlWhere("TRUE")

  /** Linear multi-touch attribution (attribution_linear): each purchase
    * splits its value equally across the same user's clicks in the
    * trailing hour — the ad-tech workhorse between last-touch (q34) and
    * nearest-touch (q61).
    *
    * Why this shape scales: no click×purchase range join. ONE shuffle
    * on user_id, then a RANGE-framed window (frame bounds are event-time
    * offsets, so membership depends only on timestamps, never row
    * slicing) counts the trailing clicks per purchase; the credit split
    * is integer micro division. Same-instant clicks are excluded by the
    * `-1` upper bound (a click must strictly precede its purchase). */
  def attributionLinear(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val base = ev.select($"user_id", $"event_id", $"event_type",
        Tables.tsUs(ev).as("ts_us"), $"value")
      .filter($"event_type".isin("click", "purchase"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us")
      .rangeBetween(-NearestUs, -1L)
    base
      .withColumn("n_touch",
        sum(when($"event_type" === "click", 1L).otherwise(0L)).over(w))
      .filter($"event_type" === "purchase" && $"n_touch" > 0)
      .select($"user_id", $"event_id".as("purchase_id"), $"ts_us", $"n_touch",
        // Floor'd-double division (the abAgg pattern), NOT integer `div`:
        // Spark `div` truncates toward zero while DuckDB `//` floors, and
        // they disagree on negative numerators not exactly divisible by
        // n_touch. FLOOR over one identically-ordered double DAG is
        // engine-independent for any sign of `value` (refunds included).
        expr("CAST(FLOOR(CAST(CAST(FLOOR(value * 1000000.0) AS BIGINT) AS DOUBLE)" +
          " / CAST(n_touch AS DOUBLE)) AS BIGINT)").as("credit_micro_each"))
      .orderBy($"user_id", $"purchase_id")
  }
  val attributionLinearSql: String =
    s"""WITH base AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us, value
       |  FROM events WHERE event_type IN ('click', 'purchase')
       |), win AS (
       |  SELECT *,
       |    SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) OVER (
       |      PARTITION BY user_id ORDER BY ts_us
       |      RANGE BETWEEN $NearestUs PRECEDING AND 1 PRECEDING) AS n_touch
       |  FROM base)
       |SELECT user_id, event_id AS purchase_id, ts_us,
       |  CAST(n_touch AS BIGINT) AS n_touch,
       |  CAST(FLOOR(CAST(CAST(FLOOR(value * 1000000.0) AS BIGINT) AS DOUBLE)
       |       / CAST(n_touch AS DOUBLE)) AS BIGINT) AS credit_micro_each
       |FROM win WHERE event_type = 'purchase' AND n_touch > 0
       |ORDER BY user_id, purchase_id""".stripMargin

  /** Deletion-request keyspace: customers with c_custkey % 97 == 13 —
    * a deterministic ~1% "right-to-be-forgotten" batch. */
  private[graft] val ForgetMod = 97L
  private[graft] val ForgetRem = 13L

  /** Cascade-delete audit (forget_users): given a deletion batch of
    * customers, report per table how many rows the cascade removes —
    * customer → their orders → those orders' lineitems. The compliance
    * report every data platform files before (and after) executing a
    * GDPR/CCPA erasure run.
    *
    * Why this shape scales: the deletion LIST is broadcast (bounded by
    * the request batch, not the corpus) for the first hop; the second
    * hop (lineitems of deleted orders) is a SHUFFLE semi-join — the
    * deleted-order keyset grows with the data, so broadcasting it would
    * be the classic cascade-delete OOM; per-table counts are map-side-
    * combined single-row aggregates unioned at the end. */
  def forgetUsers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val delC = Tables.customer(s, d)
      .filter($"c_custkey" % ForgetMod === ForgetRem).select($"c_custkey")
    val orders = Tables.orders(s, d)
    val delO = orders.join(broadcast(delC), $"o_custkey" === $"c_custkey")
      .select($"o_orderkey")
    val li = Tables.lineitem(s, d)
    def report(name: String, total: DataFrame, deleted: DataFrame): DataFrame =
      total.agg(count(lit(1)).as("n_total")).crossJoin(
        deleted.agg(count(lit(1)).as("n_deleted")))
        .select(lit(name).as("table_name"), $"n_total", $"n_deleted",
          ($"n_total" - $"n_deleted").as("n_kept"))
    report("customer", Tables.customer(s, d), delC)
      .unionAll(report("orders", orders, delO))
      .unionAll(report("lineitem", li,
        li.join(delO, $"l_orderkey" === delO("o_orderkey"), "left_semi")))
      .orderBy($"table_name")
  }
  val forgetUsersSql: String =
    s"""WITH delc AS (SELECT c_custkey FROM customer WHERE c_custkey % $ForgetMod = $ForgetRem),
       |delo AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM delc))
       |SELECT * FROM (
       |  SELECT 'customer' AS table_name,
       |    CAST((SELECT COUNT(*) FROM customer) AS BIGINT) AS n_total,
       |    CAST((SELECT COUNT(*) FROM delc) AS BIGINT) AS n_deleted,
       |    CAST((SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM delc) AS BIGINT) AS n_kept
       |  UNION ALL
       |  SELECT 'orders',
       |    CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
       |    CAST((SELECT COUNT(*) FROM delo) AS BIGINT),
       |    CAST((SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM delo) AS BIGINT)
       |  UNION ALL
       |  SELECT 'lineitem',
       |    CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
       |    CAST((SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM delo)) AS BIGINT),
       |    CAST((SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM delo)) AS BIGINT)
       |) ORDER BY table_name""".stripMargin

  /** Time-weighted average (twa_value): per user, the average of
    * `value` weighted by how long each reading was current (value holds
    * until the next event) — the IoT/finance aggregate where plain AVG
    * lies whenever sampling is irregular. The last reading has no
    * holding interval and single-event users have no coverage (dropped).
    *
    * Scale + parity: ONE user_id shuffle; `lead` supplies the interval
    * end, weights are exact micros, values exact millis, and the
    * value·duration products sum in DECIMAL(38,0) (a per-product bound
    * of ~1.3e18 would overflow a long SUM immediately at scale). The
    * final division is one double DAG + floor, identical both engines. */
  def twaValue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    ev.select($"user_id", $"event_id", Tables.tsUs(ev).as("ts_us"),
        floor($"value" * lit(1000.0)).cast("long").as("vmil"))
      .withColumn("dt", lead($"ts_us", 1).over(w) - $"ts_us")
      .filter($"dt".isNotNull)
      .groupBy($"user_id")
      .agg(count(lit(1)).as("n_intervals"),
        sum($"dt").as("covered_us"),
        sum(($"vmil" * $"dt").cast(DecimalType(38, 0))).as("vdt"))
      .select($"user_id", $"n_intervals", $"covered_us",
        floor(expr("CAST(vdt AS DOUBLE) / CAST(covered_us AS DOUBLE)"))
          .cast("long").as("twa_milli"))
      .orderBy($"user_id")
  }
  val twaValueSql: String =
    """WITH iv AS (
      |  SELECT user_id,
      |    CAST(FLOOR(value * 1000.0) AS BIGINT) AS vmil,
      |    LEAD(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |      - epoch_us(ts) AS dt
      |  FROM events)
      |SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_intervals,
      |  CAST(SUM(dt) AS BIGINT) AS covered_us,
      |  CAST(FLOOR(CAST(SUM(vmil * dt) AS DOUBLE) / CAST(CAST(SUM(dt) AS BIGINT) AS DOUBLE)) AS BIGINT) AS twa_milli
      |FROM iv WHERE dt IS NOT NULL
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Calendar densification + forward fill (gap_fill_ffill): each
    * user's daily last `value`, with missing days filled from the most
    * recent earlier reading — the report-table shape behind every
    * "as-of each day" dashboard join.
    *
    * Scale shape: daily compaction FIRST (`max(struct)` per (user, day)
    * — map-side partials, the q60 reduction), THEN the dense calendar
    * explodes from each user's own [min, max] span (bounded by the
    * calendar horizon, not the event count) as a narrow map, and ONE
    * user-partitioned window forward-fills. Values exact millis. */
  def gapFillFfill(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val daily = ev.select($"user_id", Tables.tsUs(ev).as("ts_us"), $"event_id",
        floor($"value" * lit(1000.0)).cast("long").as("vmil"))
      .selectExpr("user_id", s"ts_us div $DayUs as day", "ts_us", "event_id", "vmil")
      .groupBy($"user_id", $"day")
      .agg(max(struct($"ts_us", $"event_id", $"vmil")).as("last"))
      .select($"user_id", $"day", $"last.vmil".as("vmil"))
    val dense = daily.groupBy($"user_id")
      .agg(min($"day").as("d0"), max($"day").as("d1"))
      .select($"user_id", explode(sequence($"d0", $"d1")).as("day"))
    val w = Window.partitionBy($"user_id").orderBy($"day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dense.join(daily, Seq("user_id", "day"), "left")
      .withColumn("filled", $"vmil".isNull)
      .withColumn("value_milli", last($"vmil", ignoreNulls = true).over(w))
      .select($"user_id", $"day", $"value_milli",
        when($"filled", 1L).otherwise(0L).as("is_filled"))
      .orderBy($"user_id", $"day")
  }
  val gapFillFfillSql: String =
    s"""WITH daily AS (
       |  SELECT user_id, day, vmil FROM (
       |    SELECT user_id, epoch_us(ts) // $DayUs AS day,
       |      CAST(FLOOR(value * 1000.0) AS BIGINT) AS vmil,
       |      ROW_NUMBER() OVER (PARTITION BY user_id, epoch_us(ts) // $DayUs
       |                         ORDER BY epoch_us(ts) DESC, event_id DESC) AS rk
       |    FROM events) WHERE rk = 1
       |), dense AS (
       |  SELECT user_id, unnest(range(d0, d1 + 1)) AS day
       |  FROM (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id)
       |)
       |SELECT d.user_id, d.day,
       |  LAST_VALUE(x.vmil IGNORE NULLS) OVER (
       |    PARTITION BY d.user_id ORDER BY d.day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_milli,
       |  CAST(CASE WHEN x.vmil IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_filled
       |FROM dense d LEFT JOIN daily x ON d.user_id = x.user_id AND d.day = x.day
       |ORDER BY d.user_id, d.day""".stripMargin

  /** Period-over-period movers (q66): yearly revenue per nation with
    * the prior-year delta and a per-year movement rank — the BI
    * "biggest movers" report.
    *
    * Scale shape: orders⋈customer shuffle on the key (customer is a
    * FACT at scale — never broadcast), nation broadcast (true dim);
    * revenue sums in DECIMAL(12,2)-widened exactness (the Relational
    * float-safety rule), the year-over-year delta is a lag window over
    * (nation, year) — partitions of ≤ #years rows — and the movement
    * rank partitions by year over ≤ #nations rows. One double cast at
    * the very end. */
  def q66PeriodMovers(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = (c: Column) => c.cast(DecimalType(12, 2))
    val o = Tables.orders(s, d)
    val rev = o.join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name", year($"o_orderdate").as("yr"))
      .agg(sum(dec($"o_totalprice")).as("rev"))
    val wLag = Window.partitionBy($"n_name").orderBy($"yr")
    val wRank = Window.partitionBy($"yr").orderBy($"delta".desc, $"n_name")
    // delta vs the previous OBSERVED year (LAG semantics, mirrored in
    // the oracle) — a nation absent for a year compares to its last
    // active one
    rev.withColumn("prev", lag($"rev", 1).over(wLag))
      .filter($"prev".isNotNull)
      .withColumn("delta", $"rev" - $"prev")
      .withColumn("mover_rank", row_number().over(wRank))
      .select($"yr", $"n_name", $"rev".cast("double").as("revenue"),
        $"delta".cast("double").as("delta"), $"mover_rank")
      .orderBy($"yr", $"mover_rank")
  }
  val q66PeriodMoversSql: String =
    """WITH rev AS (
      |  SELECT n.n_name, YEAR(o.o_orderdate) AS yr,
      |    SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) AS rev
      |  FROM orders o
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN nation n ON c.c_nationkey = n.n_nationkey
      |  GROUP BY n.n_name, YEAR(o.o_orderdate)
      |), lagged AS (
      |  SELECT n_name, yr, rev,
      |    LAG(rev, 1) OVER (PARTITION BY n_name ORDER BY yr) AS prev
      |  FROM rev)
      |SELECT yr, n_name,
      |  CAST(rev AS DOUBLE) AS revenue,
      |  CAST(rev - prev AS DOUBLE) AS delta,
      |  CAST(ROW_NUMBER() OVER (PARTITION BY yr ORDER BY rev - prev DESC, n_name) AS BIGINT) AS mover_rank
      |FROM lagged WHERE prev IS NOT NULL
      |ORDER BY yr, mover_rank""".stripMargin

  /** Cumulative unique users (q67): per active day, first-time users
    * and the running total of distinct users ever seen — the growth
    * curve on every product dashboard.
    *
    * Why this shape scales: a naive cumulative COUNT(DISTINCT) re-scans
    * history per day. Here each user reduces to their FIRST day (one
    * map-side-combinable aggregation over the compacted (user, day)
    * pairs), daily new-user counts are a ≤calendar-days frame, and the
    * running sum is a window over that domain-bounded frame — the only
    * unpartitioned window in the inventory small enough to be free by
    * construction. */
  def q67CumulativeUnique(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val firstDay = ev.select($"user_id", Tables.tsUs(ev).as("ts_us"))
      .selectExpr("user_id", s"ts_us div $DayUs as day")
      .groupBy($"user_id").agg(min($"day").as("day"))
    val daily = firstDay.groupBy($"day").agg(count(lit(1)).as("n_new"))
    // calendar-bounded frame: the window input is <= #days rows
    val w = Window.orderBy($"day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.withColumn("cum_users", sum($"n_new").over(w))
      .select($"day", $"n_new", $"cum_users")
      .orderBy($"day")
  }
  val q67CumulativeUniqueSql: String =
    s"""WITH fd AS (
       |  SELECT user_id, MIN(epoch_us(ts) // $DayUs) AS day FROM events GROUP BY user_id
       |), daily AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_new FROM fd GROUP BY day)
       |SELECT day, n_new,
       |  CAST(SUM(n_new) OVER (ORDER BY day
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_users
       |FROM daily ORDER BY day""".stripMargin

  // ------------------------------------------------ q68 journey Markov
  /** First-order user-journey transition matrix (`q68_journey_markov`):
    * for every consecutive event pair within a user's timeline, the
    * count and probability (ppm) of moving from one event type to the
    * next — the Markov chain product analytics reads funnels, loops,
    * and dead-ends from (an `error → error` self-loop spike is an
    * incident signature; a fat `view → purchase` edge is conversion
    * health).
    *
    * Scale shape: one `lead` window per user partition (the journey
    * order), one (from,to)-keyed aggregate of at most |types|² rows,
    * and a per-from normalizing window over that K-bounded frame.
    * Probabilities are non-negative integer divisions to ppm — exact in
    * both engines. Ties inside a user's timeline break on event_id, so
    * the chain is deterministic. */
  def q68JourneyMarkov(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = Tables.events(s, d)
    val base = ev.select($"user_id", $"event_id", $"event_type",
      Tables.tsUs(ev).as("ts_us"))
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    transitionMatrix(base
      .withColumn("to_type", lead($"event_type", 1).over(w))
      .filter($"to_type".isNotNull)
      .groupBy($"event_type".as("from_type"), $"to_type")
      .agg(count(lit(1)).as("n_transitions")))
  }
  /** The q68 `p_ppm` normalization of a `(from_type, to_type,
    * n_transitions)` table, ordered; shared with the streaming twin. */
  private[graft] def transitionMatrix(trans: DataFrame): DataFrame = {
    val wFrom = Window.partitionBy(col("from_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    trans
      .withColumn("from_total", sum(col("n_transitions")).over(wFrom))
      .withColumn("p_ppm", expr("(n_transitions * 1000000) div from_total"))
      .select(col("from_type"), col("to_type"), col("n_transitions"), col("p_ppm"))
      .orderBy(col("from_type"), col("to_type"))
  }
  /** Oracle for q68 over the events satisfying `pred`. */
  def q68JourneyMarkovSqlWhere(pred: String): String =
    s"""WITH t AS (
       |  SELECT event_type AS from_type,
       |    LEAD(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS to_type
       |  FROM events WHERE $pred
       |), g AS (
       |  SELECT from_type, to_type, CAST(COUNT(*) AS BIGINT) AS n_transitions
       |  FROM t WHERE to_type IS NOT NULL GROUP BY from_type, to_type
       |)
       |SELECT from_type, to_type, n_transitions,
       |  (n_transitions * 1000000) // CAST(SUM(n_transitions) OVER (PARTITION BY from_type) AS BIGINT) AS p_ppm
       |FROM g ORDER BY from_type, to_type""".stripMargin
  val q68JourneyMarkovSql: String = q68JourneyMarkovSqlWhere("TRUE")

  // ------------------------------------------------ q69 value anomaly
  /** Robust daily-anomaly flags (`q69_value_anomaly`): per event type,
    * each day's value sum against the type's median and MAD (median
    * absolute deviation) — a day is anomalous when it deviates from the
    * median by more than 3×MAD, the standard robust alternative to
    * z-scores (one incident day cannot drag the baseline the way it
    * drags a mean/stddev). The ops dashboard row: an `error`-type spike
    * day lights up here without any threshold tuning.
    *
    * Engine-exactness: per-event values quantize to integer micros
    * before summing; median and MAD use the RANK rule (lower median at
    * position (n+1) div 2, ties broken by day) — never interpolation —
    * so every comparison is integer. The daily frame is types × days
    * (bounded by the retention window, not event volume); both medians
    * are windows over that K-bounded frame and join back broadcast. */
  def q69ValueAnomaly(s: SparkSession, d: String): DataFrame =
    anomalyVerdicts(dailyMicroSums(Tables.events(s, d), "day_sum_micro"))

  /** Per `(event_type, day_idx)`, the sum of the events' values quantized
    * to integer micros, named `sumAs`; shared by q69 and q70. */
  private def dailyMicroSums(ev: DataFrame, sumAs: String): DataFrame =
    ev.select(col("event_type"), Tables.tsUs(ev).as("ts_us"),
        round(col("value") * 1e6).cast("long").as("v_micro"))
      .withColumn("day_idx", expr("ts_us div 86400000000"))
      .groupBy(col("event_type"), col("day_idx"))
      .agg(sum(col("v_micro")).as(sumAs))

  /** DuckDB twin of [[dailyMicroSums]] over the events satisfying `pred`. */
  private def dailyMicroSumsSql(sumAs: String, pred: String): String =
    s"""SELECT event_type, epoch_us(ts) // 86400000000 AS day_idx,
       |    CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS BIGINT) AS $sumAs
       |  FROM events WHERE $pred GROUP BY 1, 2""".stripMargin
  /** The rank-rule median/MAD verdicts over a daily `(event_type,
    * day_idx, day_sum_micro)` table, ordered; shared with the streaming
    * twin. */
  private[graft] def anomalyVerdicts(daily: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("event_type")).orderBy(col("day_sum_micro"), col("day_idx"))
    val wAll = Window.partitionBy(col("event_type"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val med = daily
      .withColumn("rn", row_number().over(wRank))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("day_sum_micro").as("med_micro"))
    val withMed = daily.join(broadcast(med), Seq("event_type"))
      .withColumn("dev", abs(col("day_sum_micro") - col("med_micro")))
    val wDev = Window.partitionBy(col("event_type")).orderBy(col("dev"), col("day_idx"))
    val mad = withMed
      .withColumn("rn", row_number().over(wDev))
      .withColumn("n", count(lit(1)).over(wAll))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), col("dev").as("mad_micro"))
    withMed.join(broadcast(mad), Seq("event_type"))
      .withColumn("is_anomaly", col("dev") > col("mad_micro") * 3)
      .select(col("event_type"), col("day_idx"), col("day_sum_micro"), col("med_micro"),
        col("mad_micro"), col("is_anomaly"))
      .orderBy(col("event_type"), col("day_idx"))
  }
  /** Oracle for q69 over the events satisfying `pred`. */
  def q69ValueAnomalySqlWhere(pred: String): String =
    s"""WITH daily AS (
       |  ${dailyMicroSumsSql("day_sum_micro", pred)}
       |), med AS (
       |  SELECT event_type, day_sum_micro AS med_micro FROM (
       |    SELECT event_type, day_sum_micro,
       |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day_sum_micro, day_idx) AS rn,
       |      COUNT(*) OVER (PARTITION BY event_type) AS n
       |    FROM daily)
       |  WHERE rn = (n + 1) // 2
       |), wm AS (
       |  SELECT d.*, m.med_micro, abs(d.day_sum_micro - m.med_micro) AS dev
       |  FROM daily d JOIN med m USING (event_type)
       |), mad AS (
       |  SELECT event_type, dev AS mad_micro FROM (
       |    SELECT event_type, dev, day_idx,
       |      ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY dev, day_idx) AS rn,
       |      COUNT(*) OVER (PARTITION BY event_type) AS n
       |    FROM wm)
       |  WHERE rn = (n + 1) // 2
       |)
       |SELECT wm.event_type, wm.day_idx, wm.day_sum_micro, wm.med_micro,
       |  mad.mad_micro, (wm.dev > mad.mad_micro * 3) AS is_anomaly
       |FROM wm JOIN mad USING (event_type)
       |ORDER BY wm.event_type, wm.day_idx""".stripMargin
  val q69ValueAnomalySql: String = q69ValueAnomalySqlWhere("TRUE")

  // ------------------------------------------- q70 seasonal baseline
  /** Seasonal-naive forecast audit (`q70_seasonal_baseline`): per event
    * type and weekday, how well the classic same-weekday-average
    * baseline would have predicted each day — the first question any
    * forecasting effort answers ("beat the seasonal naive or go home"),
    * and a capacity-planning sanity row in its own right. For each day,
    * the baseline is the LEAVE-ONE-OUT mean of the other same-weekday
    * days; the absolute error sums as an exact integer numerator
    * against the common (n−1) denominator, so no division happens
    * before comparison and both engines agree bit-for-bit:
    * err = Σ_days |x·(n−1) − (S−x)|, reported with its denominator.
    *
    * Scale shape: the daily frame is types × retention-window days; one
    * weekday aggregate over it and a broadcast join back — K-bounded
    * after the first event-table aggregate. */
  def q70SeasonalBaseline(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val daily = dailyMicroSums(Tables.events(s, d), "x")
      .withColumn("weekday", expr("day_idx % 7"))
    val wd = daily.groupBy($"event_type", $"weekday")
      .agg(count(lit(1)).as("n_days"), sum($"x").as("s"))
    daily.join(broadcast(wd), Seq("event_type", "weekday"))
      .filter($"n_days" > 1)
      .groupBy($"event_type", $"weekday")
      .agg(max($"n_days").as("n_days"),
        sum(abs($"x" * ($"n_days" - 1) - ($"s" - $"x"))).as("err_num"))
      .withColumn("err_den", $"n_days" - 1)
      .select($"event_type", $"weekday", $"n_days", $"err_num", $"err_den")
      .orderBy($"event_type", $"weekday")
  }
  val q70SeasonalBaselineSql: String =
    s"""WITH daily AS (
       |  ${dailyMicroSumsSql("x", "TRUE")}
       |), d2 AS (
       |  SELECT *, day_idx % 7 AS weekday FROM daily
       |), wd AS (
       |  SELECT event_type, weekday, CAST(COUNT(*) AS BIGINT) AS n_days,
       |    CAST(SUM(x) AS BIGINT) AS s
       |  FROM d2 GROUP BY 1, 2
       |)
       |SELECT d.event_type, d.weekday, MAX(w.n_days) AS n_days,
       |  CAST(SUM(abs(d.x * (w.n_days - 1) - (w.s - d.x))) AS BIGINT) AS err_num,
       |  MAX(w.n_days) - 1 AS err_den
       |FROM d2 d JOIN wd w ON d.event_type = w.event_type AND d.weekday = w.weekday
       |WHERE w.n_days > 1
       |GROUP BY d.event_type, d.weekday
       |ORDER BY d.event_type, d.weekday""".stripMargin

  // ------------------------------------------- q71 FK integrity audit
  /** Star-schema referential-integrity audit (`q71_fk_integrity`): for
    * every foreign-key edge in the warehouse, the child row count and
    * the orphan count (child keys with no parent) — the data-quality
    * dashboard a lakehouse runs after every load, because parquet
    * enforces nothing. Zero orphans is the healthy state; any non-zero
    * cell names the edge that broke.
    *
    * Scale shape: one anti-join per edge, each keyed on the FK (the
    * dimension side broadcasts where small); the result is
    * edges-count rows. */
  def q71FkIntegrity(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    def edge(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame = {
      val orphans = child.select(col(key)).join(
        parent.select(col(pkey).as(key)), Seq(key), "left_anti")
      child.agg(count(lit(1)).as("n_child"))
        .crossJoin(orphans.agg(count(lit(1)).as("n_orphan")))
        .select(lit(name).as("fk_edge"), $"n_child", $"n_orphan")
    }
    val li = Tables.lineitem(s, d); val o = Tables.orders(s, d)
    val c = Tables.customer(s, d); val p = Tables.part(s, d)
    val su = Tables.supplier(s, d); val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    Seq(
      edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey"),
      edge("lineitem->part", li, "l_partkey", p, "p_partkey"),
      edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"),
      edge("orders->customer", o, "o_custkey", c, "c_custkey"),
      edge("customer->nation", c, "c_nationkey", n, "n_nationkey"),
      edge("supplier->nation", su, "s_nationkey", n, "n_nationkey"),
      edge("nation->region", n, "n_regionkey", r, "r_regionkey"),
    ).reduce(_ unionByName _).orderBy($"fk_edge")
  }
  val q71FkIntegritySql: String = {
    def edgeSql(name: String, child: String, key: String,
        parent: String, pkey: String): String =
      s"""SELECT '$name' AS fk_edge,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child) AS n_child,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $child c
         |   WHERE NOT EXISTS (SELECT 1 FROM $parent p WHERE p.$pkey = c.$key)) AS n_orphan""".stripMargin
    Seq(
      edgeSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
      edgeSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
      edgeSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
      edgeSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
      edgeSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
      edgeSql("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
      edgeSql("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ).mkString("", "\nUNION ALL\n", "\nORDER BY fk_edge")
  }

  // ------------------------------------------- q72 PK uniqueness audit
  /** Primary-key uniqueness audit (`q72_pk_uniqueness`): for every
    * table's declared key, row count, distinct-key count, and duplicate
    * surplus — [[q71FkIntegrity]]'s sibling and the other half of the
    * after-load data-quality dashboard (a double-applied CDC batch
    * shows up here before any downstream join fans out). One aggregate
    * per table; the lineitem key is composite (orderkey, linenumber).
    *
    * NULL-key semantics, pinned explicitly on both engines: single-column
    * COUNT(DISTINCT k) drops NULL keys identically in Spark and DuckDB;
    * composite keys diverge (Spark's countDistinct(a,b) drops a tuple if
    * ANY component is NULL, DuckDB's COUNT(DISTINCT (a,b)) keeps it), so
    * the composite audit counts a canonical NULL-tagged concat spelled
    * the same way in both engines — a tuple with a NULL component counts
    * as one distinct key, matching the single-column "a NULL key is
    * still a row the surplus must explain" reading. */
  def q72PkUniqueness(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    // NUMERIC-KEY assumption: '|' and '<null>' are unambiguous because
    // every composite key here is numeric (lineitem's orderkey +
    // linenumber). A STRING component containing '|' or the literal
    // '<null>' could make distinct tuples collide and undercount — if
    // audit() ever gains a string composite key, switch to hashing the
    // components individually (e.g. countDistinct over xxhash64 of a
    // struct, spelled equivalently in the oracle).
    def canon(keys: Seq[String]): Column =
      keys.map(k => coalesce(col(k).cast("string"), lit("<null>")))
        .reduce((a, b) => concat(a, lit("|"), b))
    def audit(name: String, df: DataFrame, keys: Seq[String]): DataFrame =
      df.agg(count(lit(1)).as("n_rows"),
          (if (keys.size == 1) countDistinct(keys.head)
           else countDistinct(canon(keys))).as("n_distinct_keys"))
        .select(lit(name).as("table_key"), $"n_rows", $"n_distinct_keys",
          ($"n_rows" - $"n_distinct_keys").as("n_dup_surplus"))
    Seq(
      audit("customer(c_custkey)", Tables.customer(s, d), Seq("c_custkey")),
      audit("events(event_id)", Tables.events(s, d), Seq("event_id")),
      audit("lineitem(l_orderkey,l_linenumber)", Tables.lineitem(s, d),
        Seq("l_orderkey", "l_linenumber")),
      audit("nation(n_nationkey)", Tables.nation(s, d), Seq("n_nationkey")),
      audit("orders(o_orderkey)", Tables.orders(s, d), Seq("o_orderkey")),
      audit("part(p_partkey)", Tables.part(s, d), Seq("p_partkey")),
      audit("region(r_regionkey)", Tables.region(s, d), Seq("r_regionkey")),
      audit("supplier(s_suppkey)", Tables.supplier(s, d), Seq("s_suppkey")),
    ).reduce(_ unionByName _).orderBy($"table_key")
  }
  val q72PkUniquenessSql: String = {
    def a(name: String, table: String, keyExpr: String): String =
      s"""SELECT '$name' AS table_key, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(COUNT(DISTINCT $keyExpr) AS BIGINT) AS n_distinct_keys,
         |  CAST(COUNT(*) - COUNT(DISTINCT $keyExpr) AS BIGINT) AS n_dup_surplus
         |FROM $table""".stripMargin
    Seq(
      a("customer(c_custkey)", "customer", "c_custkey"),
      a("events(event_id)", "events", "event_id"),
      a("lineitem(l_orderkey,l_linenumber)", "lineitem",
        "concat(COALESCE(CAST(l_orderkey AS VARCHAR), '<null>'), '|', " +
          "COALESCE(CAST(l_linenumber AS VARCHAR), '<null>'))"),
      a("nation(n_nationkey)", "nation", "n_nationkey"),
      a("orders(o_orderkey)", "orders", "o_orderkey"),
      a("part(p_partkey)", "part", "p_partkey"),
      a("region(r_regionkey)", "region", "r_regionkey"),
      a("supplier(s_suppkey)", "supplier", "s_suppkey"),
    ).mkString("", "\nUNION ALL\n", "\nORDER BY table_key")
  }

  val rows: Seq[QueryDef] = Seq(
    QueryDef("q72_pk_uniqueness", q72PkUniqueness _, q72PkUniquenessSql),
    QueryDef("q71_fk_integrity", q71FkIntegrity _, q71FkIntegritySql),
    QueryDef("q70_seasonal_baseline", q70SeasonalBaseline _, q70SeasonalBaselineSql),
    QueryDef("q69_value_anomaly", q69ValueAnomaly _, q69ValueAnomalySql),
    QueryDef("q67_cumulative_unique", q67CumulativeUnique _, q67CumulativeUniqueSql),
    QueryDef("q68_journey_markov", q68JourneyMarkov _, q68JourneyMarkovSql),
    QueryDef("q66_period_movers", q66PeriodMovers _, q66PeriodMoversSql),
    QueryDef("twa_value", twaValue _, twaValueSql),
    QueryDef("gap_fill_ffill", gapFillFfill _, gapFillFfillSql),
    QueryDef("attribution_linear", attributionLinear _, attributionLinearSql),
    QueryDef("forget_users", forgetUsers _, forgetUsersSql),
    QueryDef("q65_skyline", q65Skyline _, q65SkylineSql),
    QueryDef("ab_test_report", abTestReport _, abTestReportSql),
    QueryDef("q64_retention_cohorts", q64RetentionCohorts _, q64RetentionCohortsSql),
    QueryDef("q63_rolling_active", q63RollingActive _, q63RollingActiveSql),
    QueryDef("q59_interval_union", q59IntervalUnion _, q59IntervalUnionSql),
    QueryDef("q60_latest_by_key", q60LatestByKey _, q60LatestByKeySql),
    QueryDef("q61_asof_nearest", q61AsofNearest _, q61AsofNearestSql),
  )
}
