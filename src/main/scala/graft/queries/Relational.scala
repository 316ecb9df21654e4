package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.functions.Parity.{tokens, tokensSql}

/** The delegated relational surface (SURVEY.md §2.2): scans, projection,
  * filter, aggregation, joins of every flavor, window functions, sorts,
  * set ops, scalar functions, grouping sets, pivot, subquery shapes.
  *
  * Design rules (these are what make the DuckDB-oracle hash-compare pass
  * bit-for-bit, and what keep the plans scale-clean):
  *
  *  - Float-safety: any aggregate over a double column goes through a
  *    decimal cast first (`sum(dec(c))`), because a sum of doubles is
  *    order-dependent and Spark/DuckDB would disagree in the last ulp.
  *    Decimal sums are exact, and the final `cast("double")` is a single
  *    correctly-rounded conversion both engines agree on. Raw column
  *    passthrough (min/max/select) needs no cast — same parquet bits.
  *  - Determinism: every query ends in a total ORDER BY (ties broken by a
  *    unique key). Oracle SQL mirrors it with explicit NULLS FIRST where a
  *    sort key is nullable (Spark's asc default) since DuckDB defaults to
  *    NULLS LAST.
  *  - Scale: dimension joins are `broadcast(...)`; fact-fact joins shuffle
  *    on their join key only after filters are pushed below the join.
  *    Nothing here collects to the driver.
  */
object Relational {
  private val D = DecimalType(12, 2)
  /** Exactness cast for double money/quantity columns (2 dp by construction). */
  private def dec(c: Column): Column = c.cast(D)
  /** Exact revenue term: extendedprice * (1 - discount), as decimal(18,4). */
  private def revenueTerm(ep: Column, disc: Column): Column =
    (dec(ep) * (lit(1) - dec(disc))).cast(DecimalType(18, 4))
  private val REV_SQL =
    "CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * (1 - CAST(l_discount AS DECIMAL(12,2))) AS DECIMAL(18,4))"

  // ---------------------------------------------------------------- q01
  /** TPC-H Q1 shape: filtered scan -> partial+final hash aggregate.
    * Filter and the 7-column projection push to the parquet scan. */
  def q01PricingSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= lit("1998-09-02").cast("timestamp"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        sum(dec($"l_quantity")).cast("double").as("sum_qty"),
        sum(dec($"l_extendedprice")).cast("double").as("sum_base_price"),
        sum(revenueTerm($"l_extendedprice", $"l_discount")).cast("double").as("sum_disc_price"),
        sum((revenueTerm($"l_extendedprice", $"l_discount") * (lit(1) + dec($"l_tax")))
          .cast(DecimalType(24, 6))).cast("double").as("sum_charge"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }
  val q01Sql: String =
    s"""SELECT l_returnflag, l_linestatus,
       |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty,
       |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       |  CAST(SUM($REV_SQL) AS DOUBLE) AS sum_disc_price,
       |  CAST(SUM(CAST($REV_SQL * (1 + CAST(l_tax AS DECIMAL(12,2))) AS DECIMAL(24,6))) AS DOUBLE) AS sum_charge,
       |  COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q02
  /** Pushdown probe: selective filter + narrow projection; the scan should
    * show PushedFilters on shipdate/discount/quantity and a 3-col ReadSchema. */
  def q02FilterProject(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" >= lit("1995-01-01").cast("timestamp") &&
        $"l_shipdate" < lit("1996-01-01").cast("timestamp") &&
        $"l_discount" >= 0.05 && $"l_quantity" < 24)
      .select($"l_orderkey", $"l_linenumber", $"l_extendedprice")
      .orderBy($"l_orderkey", $"l_linenumber")
  }
  val q02Sql: String =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM lineitem
      |WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1996-01-01'
      |  AND l_discount >= 0.05 AND l_quantity < 24
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------------------------- q03
  /** TPC-H Q3 shape: dim-filtered customer ⋈ orders ⋈ lineitem, agg, top-k.
    * Selective filters sit below both joins; customer side broadcasts at
    * real scale once the segment filter prunes it. */
  def q03TopRevenue(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey")
      .filter($"o_orderdate" < lit("1995-03-15").cast("timestamp"))
      .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
      .filter($"l_shipdate" > lit("1995-03-15").cast("timestamp"))
      .withColumn("o_orderdate", to_date($"o_orderdate"))
      .groupBy($"l_orderkey", $"o_orderdate", $"o_orderpriority")
      .agg(sum(revenueTerm($"l_extendedprice", $"l_discount")).cast("double").as("revenue"))
      .orderBy($"revenue".desc, $"l_orderkey")
      .limit(10)
  }
  val q03Sql: String =
    s"""SELECT l_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority,
       |  CAST(SUM($REV_SQL) AS DOUBLE) AS revenue
       |FROM customer JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON o_orderkey = l_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1995-03-15' AND l_shipdate > TIMESTAMP '1995-03-15'
       |GROUP BY l_orderkey, CAST(o_orderdate AS DATE), o_orderpriority
       |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin

  // ---------------------------------------------------------------- q04
  /** Broadcast star join over the two smallest dims. */
  def q04DimJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" === $"r_regionkey")
      .groupBy($"r_name")
      .agg(count(lit(1)).as("n_customers"), countDistinct($"c_nationkey").as("n_nations"))
      .orderBy($"r_name")
  }
  val q04Sql: String =
    """SELECT r_name, COUNT(*) AS n_customers, COUNT(DISTINCT c_nationkey) AS n_nations
      |FROM customer JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name ORDER BY r_name""".stripMargin

  // ---------------------------------------------------------------- q05
  /** Left-semi join (EXISTS). */
  def q05SemiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_semi")
      .filter($"c_acctbal" > 9000)
      .select($"c_custkey", $"c_name", $"c_acctbal")
      .orderBy($"c_custkey")
  }
  val q05Sql: String =
    """SELECT c_custkey, c_name, c_acctbal FROM customer
      |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |  AND c_acctbal > 9000
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q06
  /** Left-anti join (NOT EXISTS). */
  def q06AntiJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left_anti")
      .select($"c_custkey", $"c_name", $"c_mktsegment")
      .orderBy($"c_custkey")
  }
  val q06Sql: String =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
      |ORDER BY c_custkey""".stripMargin

  // ---------------------------------------------------------------- q07
  /** Ranked window: top-2 orders per customer; deterministic tie-break on
    * the unique key keeps row_number stable across engines. */
  def q07WindowTopN(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"o_custkey").orderBy($"o_totalprice".desc, $"o_orderkey")
    Tables.orders(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 2)
      .select($"o_custkey", $"o_orderkey", $"o_totalprice", $"rn")
      .orderBy($"o_custkey", $"rn")
  }
  val q07Sql: String =
    """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      |  SELECT o_custkey, o_orderkey, o_totalprice,
      |    ROW_NUMBER() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
      |  FROM orders) WHERE rn <= 2
      |ORDER BY o_custkey, rn""".stripMargin

  // ---------------------------------------------------------------- q08
  /** Running-total window frame (exact via decimal accumulation). */
  def q08WindowRunning(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("running_value", sum(dec($"value")).over(w).cast("double"))
      .select($"user_id", $"event_id", $"running_value")
      .orderBy($"user_id", $"event_id")
  }
  val q08Sql: String =
    """SELECT user_id, event_id,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) OVER (
      |    PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_value
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q09
  /** lag/lead navigation window. */
  def q09WindowLag(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"user_id").orderBy($"event_id")
    Tables.events(s, d)
      .select($"user_id", $"event_id", $"value",
        lag($"value", 1).over(w).as("prev_value"),
        lead($"event_type", 1).over(w).as("next_type"))
      .orderBy($"user_id", $"event_id")
  }
  val q09Sql: String =
    """SELECT user_id, event_id, value,
      |  LAG(value, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_value,
      |  LEAD(event_type, 1) OVER (PARTITION BY user_id ORDER BY event_id) AS next_type
      |FROM events ORDER BY user_id, event_id""".stripMargin

  // ---------------------------------------------------------------- q10
  def q10Distinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).select($"o_orderpriority", $"o_orderstatus")
      .distinct().orderBy($"o_orderpriority", $"o_orderstatus")
  }
  val q10Sql: String =
    """SELECT DISTINCT o_orderpriority, o_orderstatus FROM orders
      |ORDER BY o_orderpriority, o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q11
  /** Global sort + limit: Spark plans TakeOrderedAndProject (no full sort). */
  def q11TopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .select($"o_orderkey", $"o_custkey", $"o_totalprice")
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(15)
  }
  val q11Sql: String =
    """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 15""".stripMargin

  // ---------------------------------------------------------------- q12
  /** Union + dedup across heterogeneous sources. */
  def q12Union(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).select($"o_orderpriority".as("val"))
      .union(Tables.events(s, d).select($"event_type".as("val")))
      .distinct().orderBy($"val")
  }
  val q12Sql: String =
    """SELECT o_orderpriority AS val FROM orders
      |UNION SELECT event_type AS val FROM events
      |ORDER BY val""".stripMargin

  // ---------------------------------------------------------------- q13
  def q13Intersect(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d).select($"o_custkey".as("custkey"))
      .intersect(Tables.customer(s, d).filter($"c_acctbal" > 5000).select($"c_custkey".as("custkey")))
      .orderBy($"custkey")
  }
  val q13Sql: String =
    """SELECT o_custkey AS custkey FROM orders
      |INTERSECT SELECT c_custkey AS custkey FROM customer WHERE c_acctbal > 5000
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q14
  def q14Except(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d).select($"c_custkey".as("custkey"))
      .except(Tables.orders(s, d).select($"o_custkey".as("custkey")))
      .orderBy($"custkey")
  }
  val q14Sql: String =
    """SELECT c_custkey AS custkey FROM customer
      |EXCEPT SELECT o_custkey AS custkey FROM orders
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q15
  /** count distinct + plain count per group after a broadcast dim join. */
  def q15CountDistinct(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.supplier(s, d)
      .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(countDistinct($"s_suppkey").as("n_suppliers"),
        count(lit(1)).as("n_rows"),
        max($"s_acctbal").as("max_bal"))
      .orderBy($"n_name")
  }
  val q15Sql: String =
    """SELECT n_name, COUNT(DISTINCT s_suppkey) AS n_suppliers, COUNT(*) AS n_rows,
      |  MAX(s_acctbal) AS max_bal
      |FROM supplier JOIN nation ON s_nationkey = n_nationkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q16
  /** Conditional aggregation (CASE WHEN inside agg). */
  def q16CaseWhen(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderstatus")
      .agg(
        sum(when($"o_totalprice" > 150000, 1L).otherwise(0L)).as("n_big"),
        sum(when($"o_orderpriority" === "1-URGENT", 1L).otherwise(0L)).as("n_urgent"),
        count(lit(1)).as("n_total"))
      .orderBy($"o_orderstatus")
  }
  val q16Sql: String =
    """SELECT o_orderstatus,
      |  CAST(SUM(CASE WHEN o_totalprice > 150000 THEN 1 ELSE 0 END) AS BIGINT) AS n_big,
      |  CAST(SUM(CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
      |  COUNT(*) AS n_total
      |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q17
  /** Scalar math + exact avg (decimal sum, then one double division). */
  def q17MathAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .groupBy($"c_mktsegment")
      .agg(
        (sum(dec($"c_acctbal")).cast("double") / count(lit(1))).as("avg_bal"),
        min($"c_acctbal").as("min_bal"),
        max($"c_acctbal").as("max_bal"),
        sum(when($"c_acctbal" < 0, 1L).otherwise(0L)).as("n_negative"),
        count(lit(1)).as("n"))
      .orderBy($"c_mktsegment")
  }
  val q17Sql: String =
    """SELECT c_mktsegment,
      |  CAST(SUM(CAST(c_acctbal AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_bal,
      |  MIN(c_acctbal) AS min_bal, MAX(c_acctbal) AS max_bal,
      |  CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_negative,
      |  COUNT(*) AS n
      |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- q18
  /** String scalar functions (codegen'd built-ins, no UDFs). */
  def q18StringFns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .select($"p_partkey",
        upper($"p_brand").as("brand_u"),
        lower($"p_type").as("type_l"),
        length($"p_name").as("name_len"),
        substring($"p_name", 1, 12).as("name_prefix"),
        concat_ws("/", $"p_brand", $"p_type").as("brand_type"),
        trim(lit(" x ")).as("trimmed"))
      .orderBy($"p_partkey")
  }
  val q18Sql: String =
    """SELECT p_partkey, UPPER(p_brand) AS brand_u, LOWER(p_type) AS type_l,
      |  LENGTH(p_name) AS name_len, SUBSTR(p_name, 1, 12) AS name_prefix,
      |  CONCAT_WS('/', p_brand, p_type) AS brand_type, TRIM(' x ') AS trimmed
      |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q19
  /** Date/time extraction + group. */
  def q19DateAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy(year($"o_orderdate").as("yr"), month($"o_orderdate").as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        sum(dec($"o_totalprice")).cast("double").as("total_price"))
      .orderBy($"yr", $"mo")
  }
  val q19Sql: String =
    """SELECT YEAR(o_orderdate) AS yr, MONTH(o_orderdate) AS mo, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total_price
      |FROM orders GROUP BY YEAR(o_orderdate), MONTH(o_orderdate) ORDER BY yr, mo""".stripMargin

  // ---------------------------------------------------------------- q20
  /** HAVING (post-aggregation filter). */
  def q20Having(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_orders"))
      .filter($"n_orders" >= 20)
      .orderBy($"o_custkey")
  }
  val q20Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders FROM orders
      |GROUP BY o_custkey HAVING COUNT(*) >= 20 ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q21
  /** IN-subquery shape (planned as a semi join — no driver round trip). */
  def q21InSubquery(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val building = Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      .select($"c_custkey")
    Tables.orders(s, d)
      .join(building, $"o_custkey" === $"c_custkey", "left_semi")
      .groupBy($"o_orderstatus")
      .agg(count(lit(1)).as("n"),
        sum(dec($"o_totalprice")).cast("double").as("total"))
      .orderBy($"o_orderstatus")
  }
  val q21Sql: String =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) AS total
      |FROM orders
      |WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---------------------------------------------------------------- q22
  /** ROLLUP grouping sets; NULLS FIRST pinned to match Spark's asc default. */
  def q22Rollup(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .rollup($"l_returnflag", $"l_linestatus")
      .agg(count(lit(1)).as("n"), sum(dec($"l_quantity")).cast("double").as("qty"))
      .orderBy($"l_returnflag".asc_nulls_first, $"l_linestatus".asc_nulls_first)
  }
  val q22Sql: String =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |  CAST(SUM(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS qty
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin

  // ---------------------------------------------------------------- q23
  /** Pivot (wide conditional aggregation); null cells filled to 0 so the
    * oracle's FILTER counts (which return 0) line up. */
  def q23Pivot(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_linestatus")
      .pivot("l_returnflag", Seq("A", "N", "R"))
      .agg(count(lit(1)))
      .na.fill(0L, Seq("A", "N", "R"))
      .orderBy($"l_linestatus")
  }
  val q23Sql: String =
    """SELECT l_linestatus,
      |  COUNT(*) FILTER (WHERE l_returnflag = 'A') AS "A",
      |  COUNT(*) FILTER (WHERE l_returnflag = 'N') AS "N",
      |  COUNT(*) FILTER (WHERE l_returnflag = 'R') AS "R"
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  // ---------------------------------------------------------------- q24
  /** Non-equi (theta) join — fine here because both sides are tiny dims;
    * at scale a theta join must stay dim×dim or be banded into an equi key. */
  def q24ThetaJoin(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.nation(s, d)
      .join(broadcast(Tables.region(s, d)), $"n_regionkey" =!= $"r_regionkey")
      .groupBy($"n_name")
      .agg(count(lit(1)).as("n_other_regions"))
      .orderBy($"n_name")
  }
  val q24Sql: String =
    """SELECT n_name, COUNT(*) AS n_other_regions
      |FROM nation JOIN region ON n_regionkey <> r_regionkey
      |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q25
  /** JSON extraction from a string column (events.props). */
  def q25Json(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .select($"event_id",
        get_json_object($"props", "$.k").cast("int").as("k"))
      .filter($"k" % 7 === 0)
      .orderBy($"event_id")
  }
  val q25Sql: String =
    """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
      |FROM events WHERE CAST(json_extract_string(props, '$.k') AS INT) % 7 = 0
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- q26
  /** TPC-H Q5 shape: two fact joins + broadcast dim chain, revenue per nation. */
  def q26RevenueByNation(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), $"l_orderkey" === $"o_orderkey")
      .join(Tables.customer(s, d), $"o_custkey" === $"c_custkey")
      .join(broadcast(Tables.nation(s, d)), $"c_nationkey" === $"n_nationkey")
      .groupBy($"n_name")
      .agg(sum(revenueTerm($"l_extendedprice", $"l_discount")).cast("double").as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy($"n_name")
  }
  val q26Sql: String =
    s"""SELECT n_name, CAST(SUM($REV_SQL) AS DOUBLE) AS revenue, COUNT(*) AS n_items
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  // ---------------------------------------------------------------- q27
  /** Full outer join + coalesced key. */
  def q27FullOuter(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val bigCust = Tables.customer(s, d).filter($"c_acctbal" > 7000)
      .select($"c_custkey", $"c_acctbal")
    val bigOrd = Tables.orders(s, d).filter($"o_totalprice" > 250000)
      .groupBy($"o_custkey").agg(count(lit(1)).as("n_big_orders"))
    bigCust.join(bigOrd, $"c_custkey" === $"o_custkey", "full_outer")
      .select(coalesce($"c_custkey", $"o_custkey").as("custkey"),
        $"c_acctbal", $"n_big_orders")
      .orderBy($"custkey")
  }
  val q27Sql: String =
    """SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_acctbal, n_big_orders
      |FROM (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 7000) c
      |FULL OUTER JOIN (SELECT o_custkey, COUNT(*) AS n_big_orders FROM orders
      |  WHERE o_totalprice > 250000 GROUP BY o_custkey) o
      |ON c_custkey = o_custkey
      |ORDER BY custkey""".stripMargin

  // ---------------------------------------------------------------- q28
  /** Correlated-aggregate shape: orders above their customer's average,
    * expressed as agg + re-join (the scalable plan for this pattern). */
  def q28AboveAvg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val o = Tables.orders(s, d)
    val avgs = o.groupBy($"o_custkey".as("ck"))
      .agg((sum(dec($"o_totalprice")).cast("double") / count(lit(1))).as("avg_price"))
    o.join(avgs, $"o_custkey" === $"ck")
      .filter($"o_totalprice" > $"avg_price")
      .groupBy($"o_custkey")
      .agg(count(lit(1)).as("n_above"))
      .orderBy($"o_custkey")
  }
  val q28Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_above
      |FROM orders o JOIN (
      |  SELECT o_custkey AS ck,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price
      |  FROM orders GROUP BY o_custkey) a ON o.o_custkey = a.ck
      |WHERE o_totalprice > avg_price
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- q29
  /** Gap-based sessionization with windows (lag -> gap flag -> running
    * sum = session id -> per-session aggregate). Both sides work in
    * microseconds ([[Tables.tsUs]] — the engines' common precision),
    * all exact integer arithmetic. */
  def q29Sessionize(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val gapUs = 30L * 60 * 1000000L // 30 min in micros
    val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ev = Tables.events(s, d)
    ev.withColumn("ts_us", Tables.tsUs(ev))
      .withColumn("prev_ts", lag($"ts_us", 1).over(w))
      .withColumn("new_session",
        when($"prev_ts".isNull || $"ts_us" - $"prev_ts" > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum($"new_session").over(wRun))
      .groupBy($"user_id", $"session_id")
      .agg(count(lit(1)).as("n_events"),
        (max($"ts_us") - min($"ts_us")).as("duration_us"))
      .orderBy($"user_id", $"session_id")
  }
  val q29Sql: String =
    """SELECT user_id, CAST(session_id AS BIGINT) AS session_id, COUNT(*) AS n_events,
      |  MAX(ts_us) - MIN(ts_us) AS duration_us
      |FROM (
      |  SELECT user_id, ts_us, event_id,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM (
      |    SELECT user_id, event_id, epoch_us(ts) AS ts_us,
      |      CASE WHEN LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) IS NULL
      |             OR epoch_us(ts) - LAG(epoch_us(ts), 1) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |                > CAST(30 AS BIGINT)*60*1000000 THEN 1 ELSE 0 END AS new_session
      |    FROM events))
      |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin

  // ---------------------------------------------------------------- q30
  /** Array functions over tokenized text: size/contains/sort/slice/join. */
  def q30ArrayFns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d)
      .withColumn("toks", tokens($"text"))
      .select($"doc_id",
        size($"toks").as("n"),
        array_contains($"toks", "spark").as("has_spark"),
        concat_ws("|", slice(sort_array($"toks"), 1, 3)).as("first3_sorted"),
        size(array_distinct($"toks")).as("n_distinct"))
      .orderBy($"doc_id")
  }
  val q30Sql: String =
    raw"""SELECT doc_id, len(toks) AS n,
         |  list_contains(toks, 'spark') AS has_spark,
         |  array_to_string(list_sort(toks)[1:3], '|') AS first3_sorted,
         |  len(list_distinct(toks)) AS n_distinct
         |FROM (SELECT doc_id, ${tokensSql("text")} AS toks FROM documents)
         |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- q31
  /** Regexp scalar functions (extract group, replace). */
  def q31Regexp(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.part(s, d)
      .select($"p_partkey",
        regexp_extract($"p_name", "^(\\w+)", 1).as("first_word"),
        regexp_replace($"p_type", "[aeiou]", "_").as("devoweled"))
      .orderBy($"p_partkey")
  }
  val q31Sql: String =
    raw"""SELECT p_partkey, regexp_extract(p_name, '^(\w+)', 1) AS first_word,
         |  regexp_replace(p_type, '[aeiou]', '_', 'g') AS devoweled
         |FROM part ORDER BY p_partkey""".stripMargin

  // ---------------------------------------------------------------- q32
  /** Two-phase salted aggregation: events.event_type has ~5 distinct
    * values, so a direct groupBy shuffles everything onto 5 reducers at
    * scale. Phase 1 aggregates on (key, salt) — 32-way parallel — phase 2
    * merges the partials per key. Decimal sums keep the result identical
    * to the unsalted oracle regardless of how rows split across salts. */
  def q32SaltedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.events(s, d)
      .withColumn("salt", pmod(xxhash64($"event_id"), lit(32)))
      .groupBy($"event_type", $"salt")
      .agg(count(lit(1)).as("pn"), sum(dec($"value")).as("pv")) // phase 1: partials
      .groupBy($"event_type")
      .agg(sum($"pn").as("n"), sum($"pv").cast("double").as("total_value")) // phase 2: merge
      .orderBy($"event_type")
  }
  val q32Sql: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS total_value
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ----------------------------------------------------------------
  val rows: Seq[QueryDef] = Seq(
    QueryDef("q01_pricing_summary", q01PricingSummary _, q01Sql),
    QueryDef("q02_filter_project", q02FilterProject _, q02Sql),
    QueryDef("q03_top_revenue", q03TopRevenue _, q03Sql),
    QueryDef("q04_dim_join", q04DimJoin _, q04Sql),
    QueryDef("q05_semi_join", q05SemiJoin _, q05Sql),
    QueryDef("q06_anti_join", q06AntiJoin _, q06Sql),
    QueryDef("q07_window_topn", q07WindowTopN _, q07Sql),
    QueryDef("q08_window_running", q08WindowRunning _, q08Sql),
    QueryDef("q09_window_lag", q09WindowLag _, q09Sql),
    QueryDef("q10_distinct", q10Distinct _, q10Sql),
    QueryDef("q11_topk", q11TopK _, q11Sql),
    QueryDef("q12_union", q12Union _, q12Sql),
    QueryDef("q13_intersect", q13Intersect _, q13Sql),
    QueryDef("q14_except", q14Except _, q14Sql),
    QueryDef("q15_count_distinct", q15CountDistinct _, q15Sql),
    QueryDef("q16_case_when", q16CaseWhen _, q16Sql),
    QueryDef("q17_math_agg", q17MathAgg _, q17Sql),
    QueryDef("q18_string_fns", q18StringFns _, q18Sql),
    QueryDef("q19_date_agg", q19DateAgg _, q19Sql),
    QueryDef("q20_having", q20Having _, q20Sql),
    QueryDef("q21_in_subquery", q21InSubquery _, q21Sql),
    QueryDef("q22_rollup", q22Rollup _, q22Sql),
    QueryDef("q23_pivot", q23Pivot _, q23Sql),
    QueryDef("q24_theta_join", q24ThetaJoin _, q24Sql),
    QueryDef("q25_json", q25Json _, q25Sql),
    QueryDef("q26_revenue_by_nation", q26RevenueByNation _, q26Sql),
    QueryDef("q27_full_outer", q27FullOuter _, q27Sql),
    QueryDef("q28_above_avg", q28AboveAvg _, q28Sql),
    QueryDef("q29_sessionize", q29Sessionize _, q29Sql),
    QueryDef("q30_array_fns", q30ArrayFns _, q30Sql),
    QueryDef("q31_regexp", q31Regexp _, q31Sql),
    QueryDef("q32_salted_agg", q32SaltedAgg _, q32Sql),
  )
}
