package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables

/** The reference's relational analytics surface (SURVEY.md §2.3–§2.6 and the
  * batch-expressible §2.8 keys), re-keyed to the driver testdata per
  * FIXTURES.md: projects→orders, subitems→lineitem, costs→events.
  *
  * Every query here is declarative DataFrame/SQL so Catalyst gets full
  * freedom: filters and projections reach the parquet scan, aggregates run
  * partial+final, small join sides broadcast under AQE. Each result carries
  * an explicit total order (unique tie-break keys) so the DuckDB oracle
  * compare is byte-stable.
  *
  * Scale notes (100 TB posture) are on each operator.
  */
object Analytics {
  import Tables.load

  type Q = (SparkSession, String) => DataFrame

  private def orders(s: SparkSession, dir: String) = load(s, dir, "orders")
  private def lineitem(s: SparkSession, dir: String) = load(s, dir, "lineitem")
  private def events(s: SparkSession, dir: String) = load(s, dir, "events")
  private def customer(s: SparkSession, dir: String) = load(s, dir, "customer")

  private val shipDate: Column = to_date(col("l_shipdate"))
  private val orderDate: Column = to_date(col("o_orderdate"))

  // ---- exact-rounding helpers ----------------------------------------------
  // `round(sum|avg(double))` is engine-dependent at .xx5 boundaries: Spark's
  // partial-aggregation summation order yields ulp-different doubles than
  // DuckDB's, and the two engines even round the *same* double differently
  // when its shortest decimal repr lands on .xx5 (Spark BigDecimal HALF_UP of
  // the repr vs DuckDB scaled std::round). So every rounded aggregate is
  // computed in DECIMAL — exact, order-independent, identical tie rule
  // (HALF_UP == ties-away-from-zero) — then cast back to double. Raw measure
  // columns in the testdata are exactly 2dp, so round(rawCol, 2) stays as the
  // identity and needs no treatment.
  private def sumDec(c: Column): Column = sum(c.cast("decimal(18,4)"))
  private def roundSumDec(c: Column, r: Int = 2): Column =
    round(sumDec(c), r).cast("double")
  private def roundAvgDec(c: Column, r: Int = 2): Column =
    round((sumDec(c).cast("double") / count(c)).cast(s"decimal(28,${r + 4})"), r)
      .cast("double")

  // -------------------------------------------------------------------------
  // Flagship: daily metrics CTE + LAG outer select
  // (ref `advanced_monitoring.py:54-75`: LEFT JOIN → GROUP BY day → 6 aggs →
  //  day-over-day LAG). Covers scan, join, group, count/countDistinct/
  //  conditional-count/sum/avg/max, window, sort in one plan.
  //
  // Scale: join shuffles on orderkey, agg reshuffles on date — at 100 TB both
  // tables would be date-partitioned so the groupBy prunes; the global-order
  // LAG window is safe because day-grain cardinality is tiny (escape hatch:
  // partition the window by year).
  // -------------------------------------------------------------------------
  def dailyMetrics(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val l = lineitem(s, dir)
    val daily = o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .groupBy(orderDate.as("extraction_date"))
      .agg(
        countDistinct(col("o_orderkey")).as("total_projects"),
        count(col("l_orderkey")).as("total_subitems"),
        count(when(col("l_extendedprice") > 1000, col("l_linenumber")))
          .as("subitems_with_revenue"),
        // kept as DECIMAL through the LAG so revenue_change subtracts exactly
        round(sumDec(col("l_extendedprice")), 2).as("rev_dec"),
        roundAvgDec(col("l_extendedprice")).as("avg_revenue"),
        round(max(col("o_totalprice")), 2).as("max_order_price"))
    val w = Window.orderBy(col("extraction_date")) // lint:series-grain (day-grain snapshot series)
    daily.select(
        col("extraction_date"), col("total_projects"), col("total_subitems"),
        col("subitems_with_revenue"),
        col("rev_dec").cast("double").as("total_revenue"),
        col("avg_revenue"), col("max_order_price"),
        (col("rev_dec") - lag(col("rev_dec"), 1).over(w)).cast("double")
          .as("revenue_change"),
        (col("total_subitems") - lag(col("total_subitems"), 1).over(w))
          .as("subitems_change"))
      .orderBy(col("extraction_date").desc)
  }

  private val dailyMetricsOracle =
    """WITH daily AS (
      |  SELECT CAST(o.o_orderdate AS DATE) AS extraction_date,
      |         COUNT(DISTINCT o.o_orderkey) AS total_projects,
      |         COUNT(l.l_orderkey) AS total_subitems,
      |         COUNT(CASE WHEN l.l_extendedprice > 1000 THEN l.l_linenumber END) AS subitems_with_revenue,
      |         ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 2) AS rev_dec,
      |         CAST(ROUND(CAST(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l.l_extendedprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_revenue,
      |         ROUND(MAX(o.o_totalprice), 2) AS max_order_price
      |  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |  GROUP BY 1)
      |SELECT extraction_date, total_projects, total_subitems, subitems_with_revenue,
      |       CAST(rev_dec AS DOUBLE) AS total_revenue, avg_revenue, max_order_price,
      |       CAST(rev_dec - LAG(rev_dec) OVER (ORDER BY extraction_date) AS DOUBLE) AS revenue_change,
      |       total_subitems - LAG(total_subitems) OVER (ORDER BY extraction_date) AS subitems_change
      |FROM daily ORDER BY extraction_date DESC""".stripMargin

  // --------------------------- §2.3 joins ----------------------------------

  /** Snapshot-aligned two-key equi-join — the "FIX AMBIGUITÀ" form
    * (ref `advanced_monitoring.py:63-65`). Scale: both keys in the shuffle
    * hash → snapshot-aligned co-partitioning; with date-partitioned storage
    * this becomes a per-partition join. */
  def joinLeftTwoKey(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val l = lineitem(s, dir)
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          to_date(o("o_orderdate")) === to_date(l("l_shipdate")), "left")
      .select(o("o_orderkey"), to_date(o("o_orderdate")).as("order_date"),
        l("l_linenumber"), round(l("l_extendedprice"), 2).as("price"))
      .orderBy(col("o_orderkey"), col("l_linenumber").asc_nulls_last)
  }

  private val joinLeftTwoKeyOracle =
    """SELECT o.o_orderkey, CAST(o.o_orderdate AS DATE) AS order_date,
      |       l.l_linenumber, ROUND(l.l_extendedprice, 2) AS price
      |FROM orders o LEFT JOIN lineitem l
      |  ON o.o_orderkey = l.l_orderkey AND CAST(o.o_orderdate AS DATE) = CAST(l.l_shipdate AS DATE)
      |ORDER BY o.o_orderkey, l.l_linenumber NULLS LAST""".stripMargin

  /** Single-key left join (ref `advanced_monitoring.py:190-192`). */
  def joinLeftSingleKey(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val l = lineitem(s, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .select(o("o_orderkey"), l("l_linenumber"),
        round(l("l_extendedprice"), 2).as("price"))
      .orderBy(col("o_orderkey"), col("l_linenumber").asc_nulls_last)
  }

  private val joinLeftSingleKeyOracle =
    """SELECT o.o_orderkey, l.l_linenumber, ROUND(l.l_extendedprice, 2) AS price
      |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |ORDER BY o.o_orderkey, l.l_linenumber NULLS LAST""".stripMargin

  /** Day-over-day compare (ref `monday_etl_automated.py:600-645`), anchored
    * on the data's max ship date (not wall-clock) so results are
    * deterministic.
    *
    * Scale design: the anchor date is ONE scalar — collecting it to the
    * driver is free and turns the snapshot filters into literals, so at
    * 100 TB on date-partitioned storage partition pruning reads exactly two
    * days of files. Both snapshots then come from a single scan with
    * conditional aggregation (no per-row non-equi BroadcastNestedLoopJoin,
    * no triple scan). */
  def joinCross1x1(s: SparkSession, dir: String): DataFrame =
    snapshotCompare(lineitem(s, dir), shipDate, col("l_extendedprice"),
      "items", "revenue")

  /** Shared single-pass today/yesterday compare used by joinCross1x1 and
    * streamDodCompare. */
  private def snapshotCompare(df: DataFrame, dateCol: Column, measure: Column,
      cntName: String, valName: String): DataFrame = {
    // empty input: no anchor date exists — degrade to an impossible literal
    // so the aggregate still returns one all-zero row (the old join-based
    // implementation's behavior) instead of NPEing on the null max
    val maxDate = Option(df.agg(max(dateCol)).first().getDate(0))
    val d = maxDate.map(_.toLocalDate).getOrElse(java.time.LocalDate.of(1, 1, 1))
    val today = lit(java.sql.Date.valueOf(d))
    val yest = lit(java.sql.Date.valueOf(d.minusDays(1)))
    def sumDay(day: Column) = coalesce(
      round(sum(when(dateCol === day, measure).cast("decimal(18,4)")), 2),
      lit(0).cast("decimal(18,2)"))
    df.filter(dateCol === today || dateCol === yest)
      .agg(
        count(when(dateCol === today, lit(1))).as(s"${cntName}_today"),
        sumDay(today).as("vt"),
        count(when(dateCol === yest, lit(1))).as(s"${cntName}_yesterday"),
        sumDay(yest).as("vy"))
      .select(
        col(s"${cntName}_today"), col("vt").cast("double").as(s"${valName}_today"),
        col(s"${cntName}_yesterday"), col("vy").cast("double").as(s"${valName}_yesterday"),
        (col(s"${cntName}_today") - col(s"${cntName}_yesterday")).as(s"${cntName}_diff"),
        (col("vt") - col("vy")).cast("double").as(s"${valName}_diff"))
  }

  private val joinCross1x1Oracle =
    """WITH latest AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS d FROM lineitem),
      |t AS (SELECT COUNT(*) AS items_today,
      |             COALESCE(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2), CAST(0 AS DECIMAL(18,2))) AS vt
      |      FROM lineitem, latest WHERE CAST(l_shipdate AS DATE) = d),
      |y AS (SELECT COUNT(*) AS items_yesterday,
      |             COALESCE(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2), CAST(0 AS DECIMAL(18,2))) AS vy
      |      FROM lineitem, latest WHERE CAST(l_shipdate AS DATE) = d - 1)
      |SELECT t.items_today, CAST(t.vt AS DOUBLE) AS revenue_today,
      |       y.items_yesterday, CAST(y.vy AS DOUBLE) AS revenue_yesterday,
      |       t.items_today - y.items_yesterday AS items_diff,
      |       CAST(t.vt - y.vy AS DOUBLE) AS revenue_diff
      |FROM t, y""".stripMargin

  /** FK extracted from embedded JSON then joined (ref
    * `monday_etl_automated.py:386-395` prepares `linked_subitem_id`; we
    * declare the downstream join too). Scale: the JSON extraction is
    * codegen'd per-row, the join broadcasts the small dimension. */
  def joinFkExtracted(s: SparkSession, dir: String): DataFrame = {
    val e = events(s, dir).withColumn("linked_id",
      get_json_object(col("props"), "$.k").try_cast("bigint"))
    val c = customer(s, dir)
    e.join(broadcast(c), e("linked_id") === c("c_custkey"), "left")
      .select(e("event_id"), e("linked_id"), c("c_name"), c("c_mktsegment"))
      .orderBy(col("event_id"))
  }

  private val joinFkExtractedOracle =
    """SELECT e.event_id,
      |       TRY_CAST(json_extract_string(e.props, '$.k') AS BIGINT) AS linked_id,
      |       c.c_name, c.c_mktsegment
      |FROM events e LEFT JOIN customer c
      |  ON TRY_CAST(json_extract_string(e.props, '$.k') AS BIGINT) = c.c_custkey
      |ORDER BY e.event_id""".stripMargin

  // join_parent_child_denorm lives in graft.flatten.FlattenQueries: the
  // honest version explodes the genuinely nested GraphQL fixture instead of
  // joining flat tables, collect_list-ing and re-exploding.

  /** Semi/anti joins — free Spark extensions beyond the reference (SURVEY.md
    * §2.3 "absent"): customers with/without an urgent order. */
  def joinSemi(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
    val o = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
  }

  private val joinSemiOracle =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  def joinAnti(s: SparkSession, dir: String): DataFrame = {
    val c = customer(s, dir)
    val o = orders(s, dir).filter(col("o_orderpriority") === "1-URGENT")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name")).orderBy(col("c_custkey"))
  }

  private val joinAntiOracle =
    """SELECT c_custkey, c_name FROM customer c
      |WHERE NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey AND o.o_orderpriority = '1-URGENT')
      |ORDER BY c_custkey""".stripMargin

  /** As-of join — the classic operator Spark lacks natively (SURVEY.md §2.3
    * "absent"), composed from existing ops per the custom-operator
    * preference order (a): each event matched to its customer's latest
    * order at-or-before the event time. Implementation: union the two
    * streams tagged (reference rows sort before probe rows at equal time),
    * one window per key carries the last order id forward — a single
    * shuffle on the key, no nested-loop anywhere; at 100 TB this is one
    * sort-merge pass, the same topology a native as-of operator would use.
    * The DuckDB oracle uses its NATIVE `ASOF LEFT JOIN`, so the composition
    * is checked against an independent first-class implementation. */
  def joinAsof(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"),
        orderDate.cast("timestamp").as("t"))
      .agg(max(col("o_orderkey")).as("orderkey"))
    val ev = events(s, dir)
      .select(col("user_id"), col("ts").as("t"), col("event_id"))
    val tagged = ord
      .select(col("user_id"), col("t"), lit(0).as("kind"),
        col("orderkey"), lit(null).cast("bigint").as("event_id"))
      .unionByName(ev.select(col("user_id"), col("t"), lit(1).as("kind"),
        lit(null).cast("bigint").as("orderkey"), col("event_id")))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("asof_orderkey", last(col("orderkey"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"), col("asof_orderkey"))
      .orderBy(col("event_id"))
  }

  private val joinAsofOracle =
    """WITH ord AS (
      |  SELECT o_custkey AS user_id, CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP) AS t,
      |         MAX(o_orderkey) AS orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT e.event_id, e.user_id, o.orderkey AS asof_orderkey
      |FROM events e ASOF LEFT JOIN ord o
      |  ON e.user_id = o.user_id AND CAST(e.ts AS TIMESTAMP) >= o.t
      |ORDER BY e.event_id""".stripMargin

  /** As-of join with INTERLEAVED cutoffs — each order day matched to the
    * same customer's most recent STRICTLY-EARLIER order day (probe at
    * d - 1 with at-or-before ≡ strictly-before at day grain). Unlike
    * `join_asof` (whose events fixture postdates every order, so the cutoff
    * never discards anything), every customer's own order history
    * interleaves with itself: the carried value changes at each probe and
    * first orders exercise the left-join null path. Same single-shuffle
    * union+window composition; the oracle is DuckDB's native ASOF LEFT
    * JOIN, an independent first-class implementation. */
  def joinAsofPrev(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), orderDate.as("d"))
      .agg(max(col("o_orderkey")).as("orderkey"))
    val refs = ord.select(col("user_id"), col("d").as("t"), lit(0).as("kind"),
      col("orderkey").as("ref_orderkey"),
      lit(null).cast("date").as("d"), lit(null).cast("bigint").as("orderkey"))
    val probes = ord.select(col("user_id"), date_sub(col("d"), 1).as("t"),
      lit(1).as("kind"), lit(null).cast("bigint").as("ref_orderkey"),
      col("d"), col("orderkey"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    refs.unionByName(probes)
      .withColumn("prev_orderkey",
        last(col("ref_orderkey"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("orderkey"), col("user_id"), col("d"), col("prev_orderkey"))
      .orderBy(col("user_id"), col("d"))
  }

  private val joinAsofPrevOracle =
    """WITH ord AS (
      |  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS d,
      |         MAX(o_orderkey) AS orderkey
      |  FROM orders GROUP BY 1, 2),
      |probe AS (SELECT user_id, d, d - 1 AS d1, orderkey FROM ord)
      |SELECT p.orderkey, p.user_id, p.d, o.orderkey AS prev_orderkey
      |FROM probe p ASOF LEFT JOIN ord o
      |  ON p.user_id = o.user_id AND p.d1 >= o.d
      |ORDER BY p.user_id, p.d""".stripMargin

  /** As-of join with a TOLERANCE bound (pandas merge_asof's `tolerance`
    * knob, the fourth as-of mode here): the previous order only counts if
    * it happened within 180 days of this one — an as-of match older than
    * the business window is noise, not context (churn analyses, repeat-
    * purchase features). Same single-shuffle union+window composition as
    * join_asof_prev, additionally carrying the matched REFERENCE DAY so
    * the tolerance is one datediff projection after the window — the
    * bound adds zero topology. Matches outside tolerance null out (the
    * pandas contract) and the gap rides along for the ones that hold.
    * Oracle: DuckDB's native ASOF LEFT JOIN post-filtered by the same
    * day arithmetic. */
  def joinAsofTolerance(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), orderDate.as("d"))
      .agg(max(col("o_orderkey")).as("orderkey"))
    val refs = ord.select(col("user_id"), col("d").as("t"), lit(0).as("kind"),
      col("orderkey").as("ref_orderkey"), col("d").as("ref_d"),
      lit(null).cast("date").as("d"), lit(null).cast("bigint").as("orderkey"))
    val probes = ord.select(col("user_id"), date_sub(col("d"), 1).as("t"),
      lit(1).as("kind"), lit(null).cast("bigint").as("ref_orderkey"),
      lit(null).cast("date").as("ref_d"), col("d"), col("orderkey"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    refs.unionByName(probes)
      .withColumn("prev_orderkey", last(col("ref_orderkey"), ignoreNulls = true).over(w))
      .withColumn("prev_d", last(col("ref_d"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .withColumn("within", datediff(col("d"), col("prev_d")) <= 180)
      .select(col("orderkey"), col("user_id"), col("d"),
        when(col("within"), col("prev_orderkey")).as("prev_orderkey_tol"),
        when(col("within"), datediff(col("d"), col("prev_d"))).as("gap_days"))
      .orderBy(col("user_id"), col("d"))
  }

  private val joinAsofToleranceOracle =
    """WITH ord AS (
      |  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS d,
      |         MAX(o_orderkey) AS orderkey
      |  FROM orders GROUP BY 1, 2),
      |probe AS (SELECT user_id, d, d - 1 AS d1, orderkey FROM ord)
      |SELECT p.orderkey, p.user_id, p.d,
      |       CASE WHEN date_diff('day', o.d, p.d) <= 180 THEN o.orderkey END
      |         AS prev_orderkey_tol,
      |       CASE WHEN date_diff('day', o.d, p.d) <= 180
      |            THEN date_diff('day', o.d, p.d) END AS gap_days
      |FROM probe p ASOF LEFT JOIN ord o
      |  ON p.user_id = o.user_id AND p.d1 >= o.d
      |ORDER BY p.user_id, p.d""".stripMargin

  /** As-of join, direction = FORWARD (pandas merge_asof's
    * `direction='forward'`, the fifth and last as-of mode here): each
    * order day matched to the same customer's NEXT strictly-later order
    * day — the "time to next purchase" / "next quote after the trade"
    * lookup, with the gap in days riding along and final orders
    * exercising the null path. Same single-shuffle union+window
    * composition, mirrored: the running carry is `first(…) ignoreNulls`
    * over (currentRow, unboundedFollowing), and STRICTLY-later falls out
    * of the tag order (references sort before probes at equal time, so a
    * same-day reference is excluded from the probe's following frame —
    * no probe-shift arithmetic needed). Oracle: DuckDB's native forward
    * ASOF LEFT JOIN (`<`), an independent first-class implementation. */
  def joinAsofForward(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), orderDate.as("d"))
      .agg(max(col("o_orderkey")).as("orderkey"))
    val refs = ord.select(col("user_id"), col("d").as("t"), lit(0).as("kind"),
      col("orderkey").as("ref_orderkey"), col("d").as("ref_d"),
      lit(null).cast("date").as("d"), lit(null).cast("bigint").as("orderkey"))
    val probes = ord.select(col("user_id"), col("d").as("t"),
      lit(1).as("kind"), lit(null).cast("bigint").as("ref_orderkey"),
      lit(null).cast("date").as("ref_d"), col("d"), col("orderkey"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t"), col("kind"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    refs.unionByName(probes)
      .withColumn("next_orderkey",
        first(col("ref_orderkey"), ignoreNulls = true).over(w))
      .withColumn("next_d", first(col("ref_d"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("orderkey"), col("user_id"), col("d"),
        col("next_orderkey"),
        datediff(col("next_d"), col("d")).as("gap_days"))
      .orderBy(col("user_id"), col("d"))
  }

  private val joinAsofForwardOracle =
    """WITH ord AS (
      |  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS d,
      |         MAX(o_orderkey) AS orderkey
      |  FROM orders GROUP BY 1, 2)
      |SELECT p.orderkey, p.user_id, p.d, o.orderkey AS next_orderkey,
      |       date_diff('day', p.d, o.d) AS gap_days
      |FROM ord p ASOF LEFT JOIN ord o
      |  ON p.user_id = o.user_id AND p.d < o.d
      |ORDER BY p.user_id, p.d""".stripMargin

  /** As-of join, direction = NEAREST (pandas merge_asof's third mode, the
    * one neither backward nor forward as-of covers): each probe matched to
    * the reference closest in time on EITHER side, ties to the earlier
    * reference. Substrate: per-customer order days split by orderkey
    * parity (even = reference, odd = probe) — the two relations genuinely
    * interleave on the date axis, so both directions win somewhere and
    * customers with no even orders exercise the null path. Composition:
    * ONE tagged union, then a backward pass (carry last reference
    * at-or-before) and a forward pass (same window ordered descending) —
    * two sorts over one shuffle on the key, no nested loop; the nearest
    * pick is a projection. The oracle is two native DuckDB ASOF LEFT
    * JOINs (>= and <=) plus the same pick — an independent first-class
    * implementation of each direction. */
  def joinAsofNearest(s: SparkSession, dir: String): DataFrame = {
    val ord = orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"), orderDate.as("d"))
      .agg(max(col("o_orderkey")).as("orderkey"))
    val tagged = ord.select(col("user_id"), col("d"),
      when(col("orderkey") % 2 === 0, lit(0)).otherwise(lit(1)).as("kind"),
      col("orderkey"))
    val back = Window.partitionBy(col("user_id"))
      .orderBy(col("d"), col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = Window.partitionBy(col("user_id"))
      .orderBy(col("d").desc, col("kind"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val refD = when(col("kind") === 0, col("d"))
    val refK = when(col("kind") === 0, col("orderkey"))
    tagged
      .withColumn("bd", last(refD, ignoreNulls = true).over(back))
      .withColumn("bk", last(refK, ignoreNulls = true).over(back))
      .withColumn("fd", last(refD, ignoreNulls = true).over(fwd))
      .withColumn("fk", last(refK, ignoreNulls = true).over(fwd))
      .filter(col("kind") === 1)
      .select(col("orderkey"), col("user_id"), col("d"),
        when(col("bd").isNotNull && (col("fd").isNull ||
          datediff(col("d"), col("bd")) <= datediff(col("fd"), col("d"))),
          col("bk")).otherwise(col("fk")).as("nearest_orderkey"),
        when(col("bd").isNotNull && (col("fd").isNull ||
          datediff(col("d"), col("bd")) <= datediff(col("fd"), col("d"))),
          datediff(col("d"), col("bd")))
          .otherwise(datediff(col("fd"), col("d"))).as("dist_days"))
      .orderBy(col("user_id"), col("d"))
  }

  private val joinAsofNearestOracle =
    """WITH ord AS (
      |  SELECT o_custkey AS user_id, CAST(o_orderdate AS DATE) AS d,
      |         MAX(o_orderkey) AS orderkey
      |  FROM orders GROUP BY 1, 2),
      |refs AS (SELECT * FROM ord WHERE orderkey % 2 = 0),
      |probes AS (SELECT * FROM ord WHERE orderkey % 2 = 1),
      |b AS (
      |  SELECT p.user_id, p.d, p.orderkey, r.d AS bd, r.orderkey AS bk
      |  FROM probes p ASOF LEFT JOIN refs r
      |    ON p.user_id = r.user_id AND p.d >= r.d),
      |f AS (
      |  SELECT p.user_id, p.d, p.orderkey, r.d AS fd, r.orderkey AS fk
      |  FROM probes p ASOF LEFT JOIN refs r
      |    ON p.user_id = r.user_id AND p.d <= r.d)
      |SELECT b.orderkey, b.user_id, b.d,
      |       CASE WHEN bd IS NOT NULL AND (fd IS NULL OR (b.d - bd) <= (fd - b.d))
      |            THEN bk ELSE fk END AS nearest_orderkey,
      |       CASE WHEN bd IS NOT NULL AND (fd IS NULL OR (b.d - bd) <= (fd - b.d))
      |            THEN b.d - bd ELSE fd - b.d END AS dist_days
      |FROM b JOIN f ON f.user_id = b.user_id AND f.d = b.d
      |ORDER BY b.user_id, b.d""".stripMargin

  /** RANGE-frame window — the moving aggregate a ROWS frame can't express:
    * each order's trailing-30-day same-customer revenue, where the frame
    * is defined by the VALUE distance on the date axis (gaps shrink the
    * frame, same-day orders always co-occur in it) rather than a row
    * count. Ordering key = integer epoch days in both engines, so the
    * frame bound arithmetic is exact; sums aggregate in DECIMAL. One
    * shuffle on the customer key; at 100 TB Spark evaluates the range
    * frame with a sliding pointer over each partition's sort, same as a
    * rows frame. */
  def windowRangeFrame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("epoch_d"))
      .rangeBetween(-30, 0)
    orders(s, dir)
      .select(col("o_custkey").as("user_id"),
        col("o_orderkey").as("orderkey"), orderDate.as("d"),
        datediff(orderDate, lit("1970-01-01").cast("date")).as("epoch_d"),
        col("o_totalprice").cast("decimal(18,4)").as("total"))
      .withColumn("trail30_total",
        round(sum(col("total")).over(w), 2).cast("double"))
      .select(col("orderkey"), col("user_id"), col("d"),
        col("trail30_total"))
      .orderBy(col("user_id"), col("d"), col("orderkey"))
  }

  private val windowRangeFrameOracle =
    """SELECT o_orderkey AS orderkey, o_custkey AS user_id,
      |       CAST(o_orderdate AS DATE) AS d,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
      |         PARTITION BY o_custkey
      |         ORDER BY CAST(o_orderdate AS DATE) - DATE '1970-01-01'
      |         RANGE BETWEEN 30 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trail30_total
      |FROM orders
      |ORDER BY user_id, d, orderkey""".stripMargin

  /** Gaps-and-islands — the classic consecutive-run detection: each user's
    * distinct activity days collapse into maximal runs of consecutive days
    * via the diff-of-row-numbers trick (day − row_number is constant
    * within a run and unique per run — no self-join, no iteration). Two
    * window passes + one aggregate over a single shuffle on user_id; at
    * 100 TB this is the sessionization-by-calendar operator (billing
    * streaks, retention runs) and the shuffle key is the user, never the
    * run. The oracle states the identical trick. */
  def windowIslands(s: SparkSession, dir: String): DataFrame = {
    val days = events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("d")).distinct()
    days
      .withColumn("grp", expr("date_sub(d, row_number() over " +
        "(partition by user_id order by d))"))
      .groupBy(col("user_id"), col("grp"))
      .agg(min(col("d")).as("island_start"), max(col("d")).as("island_end"),
        count(lit(1)).as("n_days"))
      .select(col("user_id"), col("island_start"), col("island_end"),
        col("n_days"))
      .orderBy(col("user_id"), col("island_start"))
  }

  private val windowIslandsOracle =
    """WITH days AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      |  FROM events),
      |grouped AS (
      |  SELECT user_id, d,
      |         d - CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY d) AS INT) AS grp
      |  FROM days)
      |SELECT user_id, MIN(d) AS island_start, MAX(d) AS island_end,
      |       COUNT(*) AS n_days
      |FROM grouped GROUP BY user_id, grp
      |ORDER BY user_id, island_start""".stripMargin

  /** MODE aggregate with a deterministic tie-break (smallest value wins) —
    * Spark has no mode() and DuckDB's leaves ties engine-defined, so both
    * sides state it explicitly: count per (group, value), rank by
    * (count DESC, value), keep rank 1. Two hash-aggs + a k-row window —
    * the 100 TB cost is the first groupBy; everything after runs on
    * group-cardinality rows. */
  def aggMode(s: SparkSession, dir: String): DataFrame = {
    val counts = orders(s, dir)
      .groupBy(col("o_orderpriority").as("priority"),
        col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("priority"))
      .orderBy(col("n").desc, col("status"))
    counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("priority"), col("status").as("mode_status"), col("n"))
      .orderBy(col("priority"))
  }

  private val aggModeOracle =
    """WITH counts AS (
      |  SELECT o_orderpriority AS priority, o_orderstatus AS status,
      |         COUNT(*) AS n
      |  FROM orders GROUP BY 1, 2),
      |ranked AS (
      |  SELECT priority, status, n,
      |         ROW_NUMBER() OVER (PARTITION BY priority
      |           ORDER BY n DESC, status) AS rk
      |  FROM counts)
      |SELECT priority, status AS mode_status, n
      |FROM ranked WHERE rk = 1 ORDER BY priority""".stripMargin

  /** Range join, bucketed — follow-up orders of the same customer within 3
    * days at-or-after an order (orders × orders share the 1992-1998 date
    * axis, so the key is non-vacuous — the r2 events-vs-orders anchoring
    * could never match, fixture domains being 23 years apart). A naive
    * inequality join is a nested loop; bucketing the range turns it into an
    * EQUI-join: each left order expands to its 4 candidate days (bounded,
    * constant fan-out), the join runs on (customer, day) where the right
    * side sits at its exact date — the expansion enforces both range bounds,
    * so no residual range predicate remains. At 100 TB: shuffle on a
    * compound equi-key, fan-out = range/bucket width, no BNLJ anywhere.
    * The oracle states the same relation as a plain inequality join. */
  def joinRangeBucketed(s: SparkSession, dir: String): DataFrame = {
    val a = orders(s, dir)
      .select(col("o_custkey").as("user_id"),
        col("o_orderkey").as("orderkey_a"), orderDate.as("d_a"))
      .withColumn("day", explode(expr("sequence(d_a, date_add(d_a, 3))")))
    val b = orders(s, dir)
      .select(col("o_custkey").as("user_id"),
        col("o_orderkey").as("orderkey_b"), orderDate.as("day"))
    a.join(b, Seq("user_id", "day"))
      .filter(col("orderkey_a") =!= col("orderkey_b"))  // residual: no self-pair
      .select(col("orderkey_a"), col("orderkey_b"), col("user_id"),
        col("d_a"), col("day").as("d_b"))
      .orderBy(col("orderkey_a"), col("orderkey_b"))
  }

  private val joinRangeBucketedOracle =
    """SELECT a.o_orderkey AS orderkey_a, b.o_orderkey AS orderkey_b,
      |       a.o_custkey AS user_id,
      |       CAST(a.o_orderdate AS DATE) AS d_a, CAST(b.o_orderdate AS DATE) AS d_b
      |FROM orders a JOIN orders b
      |  ON a.o_custkey = b.o_custkey
      | AND CAST(b.o_orderdate AS DATE) >= CAST(a.o_orderdate AS DATE)
      | AND CAST(b.o_orderdate AS DATE) <= CAST(a.o_orderdate AS DATE) + 3
      | AND a.o_orderkey <> b.o_orderkey
      |ORDER BY orderkey_a, orderkey_b""".stripMargin

  /** Blocked FUZZY join — entity resolution (r8): near-identical names
    * matched by edit distance without ever going all-pairs. Blocking is
    * the dedup_ngram_jaccard discipline applied to record linkage: an
    * EQUI-join on a cheap block key (first character) bounds candidates,
    * a length-band prefilter (|len(a)−len(b)| ≤ 2 lower-bounds edit
    * distance, so it rejects before the O(len²) kernel runs), and only
    * survivors pay `levenshtein` — Spark's codegen'd expression, the
    * identical textbook unit-cost edit distance DuckDB implements, so
    * the distances (not just the match set) hash-match. At 100 TB the
    * block key graduates to phonetic/prefix+length composites with the
    * corpus-relative hot-block cap, but the plan shape — equi-join,
    * cheap rejector, expensive verifier last — is this one. */
  def joinFuzzyBlock(s: SparkSession, dir: String): DataFrame = {
    val names = load(s, dir, "part").select(col("p_name").as("name")).distinct()
      .withColumn("blk", expr("substring(name, 1, 1)"))
    names.as("a").join(names.as("b"),
        col("a.blk") === col("b.blk") && col("a.name") < col("b.name"))
      .filter(abs(length(col("a.name")) - length(col("b.name"))) <= 2)
      .filter(levenshtein(col("a.name"), col("b.name")) <= 3)
      .select(col("a.name").as("name_a"), col("b.name").as("name_b"),
        levenshtein(col("a.name"), col("b.name")).as("dist"))
      .orderBy(col("name_a"), col("name_b"))
  }

  private val joinFuzzyBlockOracle =
    """WITH p AS (SELECT DISTINCT p_name AS name FROM part)
      |SELECT a.name AS name_a, b.name AS name_b,
      |       levenshtein(a.name, b.name) AS dist
      |FROM p a JOIN p b
      |  ON substring(a.name, 1, 1) = substring(b.name, 1, 1)
      | AND a.name < b.name
      |WHERE abs(length(a.name) - length(b.name)) <= 2
      |  AND levenshtein(a.name, b.name) <= 3
      |ORDER BY name_a, name_b""".stripMargin

  /** Salted skew join, oracle-checked end to end: events (big, potentially
    * hot user_ids) join a per-customer dimension through
    * `Scale.saltedJoin` — the big side salts on a row-unique hash, the
    * small side explodes to every salt, so one pathological key spreads
    * over `salts` tasks instead of one straggler. The aggregate downstream
    * would shift on any duplicated or dropped row, and the DuckDB oracle
    * states the PLAIN join — so the key proves salting preserves exact
    * inner-join semantics, not just row counts (ScaleSpec asserts the
    * spread; this asserts the algebra). */
  def joinSkewSalted(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
      .select(col("event_id"), col("user_id"), col("event_type"))
    val dim = orders(s, dir)
      .groupBy(col("o_custkey").as("user_id"))
      .agg(count(lit(1)).as("n_orders"))
    graft.scale.Scale.saltedJoin(ev, dim, "user_id",
        salts = 8, bigUniqueCol = "event_id")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("n_orders")).as("sum_orders"))
      .orderBy(col("event_type"))
  }

  private val joinSkewSaltedOracle =
    """WITH dim AS (
      |  SELECT o_custkey AS user_id, COUNT(*) AS n_orders
      |  FROM orders GROUP BY 1)
      |SELECT e.event_type, COUNT(*) AS n_events,
      |       CAST(SUM(d.n_orders) AS BIGINT) AS sum_orders
      |FROM events e JOIN dim d ON e.user_id = d.user_id
      |GROUP BY 1 ORDER BY event_type""".stripMargin

  // --------------------------- §2.2 filters --------------------------------

  /** Truthy-check filter: empty text keeps defaults
    * (ref `monday_etl_automated.py:259-261`). */
  def filterNonempty(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .filter(col("text").isNotNull && length(col("text")) > 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  private val filterNonemptyOracle =
    """SELECT doc_id, lang, n_chars FROM documents
      |WHERE text IS NOT NULL AND length(text) > 0 ORDER BY doc_id""".stripMargin

  /** `revenue_amount > 0` subset (ref `advanced_monitoring.py:117`). The
    * predicate is pushed to the parquet scan (PushedFilters). */
  def filterRevenuePositive(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).filter(col("l_extendedprice") > 5000)
      .select(col("l_orderkey"), col("l_linenumber"),
        round(col("l_extendedprice"), 2).as("price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val filterRevenuePositiveOracle =
    """SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price
      |FROM lineitem WHERE l_extendedprice > 5000
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** One snapshot: `extraction_date = <latest>` (ref
    * `monday_etl_automated.py:616-619`), anchored on max(date) in data.
    * Scale: on date-partitioned storage this is partition pruning — one
    * day's files read, nothing else. */
  private val filterDateEqSql =
    """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) = (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem)
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  /** Trailing window: last 30 days of data (ref `advanced_monitoring.py:66`). */
  def filterDateRange(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= date_sub((SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem), 30)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin)
  }

  private val filterDateRangeOracle =
    """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
      |FROM lineitem
      |WHERE CAST(l_shipdate AS DATE) >= (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem) - 30
      |ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- partitioned-layout variants of the date filters ----------------------
  // The flat keys prove predicate pushdown (PushedFilters); these prove the
  // STORAGE side of the same story: lineitem laid out partitionBy(month of
  // l_shipdate) — the reference's day-partitioned historical tables at
  // warehouse scale (`monday_etl_automated.py:164-168`) — and the filter
  // carries the partition-column predicate, so the scan's file index prunes
  // to the one (or two) month directories BEFORE reading any data. The
  // oracle states the identical answer from the FLAT table: layout must
  // never change results, only the files touched. The layout is a derived
  // artifact of lineitem, rebuilt when lineitem's fingerprint changes.
  private[graft] def lineitemByMonth(s: SparkSession, dir: String): String =
    graft.Artifacts.derive("lineitem_by_month", s"$dir/lineitem.parquet") { r =>
      lineitem(s, dir)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_shipdate").cast("date").as("ship_date"))
        .withColumn("ship_month", date_format(col("ship_date"), "yyyy-MM"))
        .write.partitionBy("ship_month").parquet(s"$r/layout")
    } + "/layout"

  /** One scalar action anchors the literal date (same pattern as the
    * snapshot compares); the partitioned read then has static literal
    * filters on both the partition column and the data column. */
  private def maxShipDate(s: SparkSession, dir: String): java.sql.Date =
    lineitem(s, dir).agg(max(col("l_shipdate").cast("date"))).head.getDate(0)

  def filterDateEqPart(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.Artifacts.read(s, lineitemByMonth(s, dir))
    val d = maxShipDate(s, dir)
    layout
      .filter(col("ship_month") === d.toString.substring(0, 7) &&
        col("ship_date") === lit(d))
      .select(col("l_orderkey"), col("l_linenumber"), col("ship_date"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  def filterDateRangePart(s: SparkSession, dir: String): DataFrame = {
    val layout = graft.Artifacts.read(s, lineitemByMonth(s, dir))
    val d = maxShipDate(s, dir)
    val lo = java.sql.Date.valueOf(d.toLocalDate.minusDays(30))
    val months = Seq(lo.toString.substring(0, 7), d.toString.substring(0, 7)).distinct
    layout
      .filter(col("ship_month").isin(months: _*) && col("ship_date") >= lit(lo))
      .select(col("l_orderkey"), col("l_linenumber"), col("ship_date"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  /** Dimension whitelist (ref `advanced_monitoring.py:97`). */
  def filterInList(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .filter(col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY"))
      .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  private val filterInListOracle =
    """SELECT c_custkey, c_name, c_mktsegment FROM customer
      |WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
      |ORDER BY c_custkey""".stripMargin

  /** Null-drop before downstream math (ref `advanced_monitoring.py:303-305`). */
  def filterNotna(s: SparkSession, dir: String): DataFrame =
    events(s, dir).na.drop(Seq("value", "props"))
      .select(col("event_id"), round(col("value"), 2).as("value"))
      .orderBy(col("event_id"))

  private val filterNotnaOracle =
    """SELECT event_id, ROUND(value, 2) AS value FROM events
      |WHERE value IS NOT NULL AND props IS NOT NULL ORDER BY event_id""".stripMargin

  // --------------------------- §2.4 aggregations ---------------------------

  def aggCountStar(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).agg(count(lit(1)).as("n"))

  private val aggCountStarOracle = "SELECT COUNT(*) AS n FROM lineitem"

  def aggCountDistinct(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).agg(
      countDistinct(col("o_custkey")).as("active_customers"),
      countDistinct(col("o_orderstatus")).as("statuses"))

  private val aggCountDistinctOracle =
    """SELECT COUNT(DISTINCT o_custkey) AS active_customers,
      |       COUNT(DISTINCT o_orderstatus) AS statuses FROM orders""".stripMargin

  /** Non-null count across a LEFT JOIN — counts 0 for unmatched parents
    * (ref `advanced_monitoring.py:58`). */
  def aggCountNonnull(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val l = lineitem(s, dir)
    o.join(l,
        o("o_orderkey") === l("l_orderkey") &&
          to_date(o("o_orderdate")) === to_date(l("l_shipdate")), "left")
      .agg(count(l("l_linenumber")).as("matched_items"),
        count(lit(1)).as("total_rows"))
  }

  private val aggCountNonnullOracle =
    """SELECT COUNT(l.l_linenumber) AS matched_items, COUNT(*) AS total_rows
      |FROM orders o LEFT JOIN lineitem l
      |  ON o.o_orderkey = l.l_orderkey AND CAST(o.o_orderdate AS DATE) = CAST(l.l_shipdate AS DATE)""".stripMargin

  def aggCountConditional(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(count(when(col("l_extendedprice") > 1000, col("l_linenumber")))
        .as("high_value_items"),
        count(lit(1)).as("all_items"))
      .orderBy(col("l_returnflag"))

  private val aggCountConditionalOracle =
    """SELECT l_returnflag,
      |       COUNT(CASE WHEN l_extendedprice > 1000 THEN l_linenumber END) AS high_value_items,
      |       COUNT(*) AS all_items
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def aggSum(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(roundSumDec(col("l_extendedprice")).as("total_revenue"),
        roundSumDec(col("l_quantity")).as("total_qty"))
      .orderBy(col("l_returnflag"))

  private val aggSumOracle =
    """SELECT l_returnflag,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue,
      |       CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_qty
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def aggAvg(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).groupBy(col("l_linestatus"))
      .agg(roundAvgDec(col("l_extendedprice")).as("avg_revenue"),
        roundAvgDec(col("l_discount"), 4).as("avg_discount"))
      .orderBy(col("l_linestatus"))

  private val aggAvgOracle =
    """SELECT l_linestatus,
      |       CAST(ROUND(CAST(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_extendedprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_revenue,
      |       CAST(ROUND(CAST(CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_discount) AS DECIMAL(28,8)), 4) AS DOUBLE) AS avg_discount
      |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""".stripMargin

  def aggMax(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).agg(
      max(shipDate).as("last_ship_date"),
      round(max(col("l_extendedprice")), 2).as("max_price"),
      max(col("l_orderkey")).as("max_orderkey"))

  private val aggMaxOracle =
    """SELECT MAX(CAST(l_shipdate AS DATE)) AS last_ship_date,
      |       ROUND(MAX(l_extendedprice), 2) AS max_price,
      |       MAX(l_orderkey) AS max_orderkey FROM lineitem""".stripMargin

  /** GROUP BY snapshot date (ref `advanced_monitoring.py:67`). Scale: the
    * canonical partial+final hash agg; with date-partitioned input the
    * partial agg is already key-local. */
  def aggGroupSingle(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).groupBy(shipDate.as("ship_date"))
      .agg(count(lit(1)).as("items"),
        roundSumDec(col("l_extendedprice")).as("revenue"))
      .orderBy(col("ship_date"))

  private val aggGroupSingleOracle =
    """SELECT CAST(l_shipdate AS DATE) AS ship_date, COUNT(*) AS items,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM lineitem GROUP BY 1 ORDER BY ship_date""".stripMargin

  /** GROUP BY two dimensions (ref `advanced_monitoring.py:98`). */
  def aggGroupMulti(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("items"),
        roundSumDec(col("l_extendedprice")).as("revenue"),
        roundAvgDec(col("l_quantity")).as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  private val aggGroupMultiOracle =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS items,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      |       CAST(ROUND(CAST(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(l_quantity) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_qty
      |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin

  /** Duplicate detection via GROUP BY … HAVING count > 1, then count the
    * duplicates (ref `advanced_monitoring.py:146-154` — the compensating
    * control for at-least-once appends). */
  def aggHavingDup(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).groupBy(col("l_orderkey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") > 1)
      .agg(count(lit(1)).as("duplicate_keys"),
        coalesce(sum(col("cnt")), lit(0L)).as("duplicate_rows"))

  private val aggHavingDupOracle =
    """SELECT COUNT(*) AS duplicate_keys,
      |       CAST(COALESCE(SUM(cnt), 0) AS BIGINT) AS duplicate_rows
      |FROM (SELECT l_orderkey, COUNT(*) AS cnt FROM lineitem
      |      GROUP BY l_orderkey HAVING COUNT(*) > 1) t""".stripMargin

  /** Parallel scalar subqueries assembled into one row — the completeness
    * panel (ref `advanced_monitoring.py:113-125`). Identical SQL text runs
    * on Spark and DuckDB. */
  private val aggScalarSubqueriesSql =
    """SELECT
      |  (SELECT COUNT(*) FROM orders) AS orders_rows,
      |  (SELECT COUNT(*) FROM lineitem) AS lineitem_rows,
      |  (SELECT COUNT(*) FROM customer) AS customer_rows,
      |  (SELECT COUNT(*) FROM events) AS events_rows,
      |  (SELECT COUNT(*) FROM documents) AS documents_rows,
      |  (SELECT CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) FROM orders) AS orders_total,
      |  (SELECT CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) FROM lineitem) AS lineitem_revenue,
      |  (SELECT CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) FROM events) AS events_value,
      |  (SELECT COUNT(DISTINCT o_custkey) FROM orders) AS active_customers,
      |  (SELECT COUNT(DISTINCT l_partkey) FROM lineitem) AS distinct_parts""".stripMargin

  /** ROLLUP / CUBE — free Spark extensions (SURVEY.md §2.4 "absent"); the
    * ORACLE keeps the one-level ANSI text, GROUPING() flags disambiguate
    * the null super-aggregate rows.
    *
    * The Spark side PRE-COLLAPSES first (r11): Spark executes super-
    * aggregates as an Expand node that multiplies its INPUT by the number
    * of grouping sets — over raw lineitem that is a 3-4x amplification of
    * the full fact scan; over the (flag, status) partial aggregate it
    * amplifies 6 rows. COUNT(*)/SUM are algebraic (count re-sums, the
    * DECIMAL partial sums re-sum exactly), so the two-level form is
    * bit-identical to the oracle's one-level text at any scale. */
  private def superAgg(grouping: String): Q = (s, dir) => {
    Tables.registerAll(s, dir)
    s.sql(
      s"""WITH base AS (
         |  SELECT l_returnflag, l_linestatus, COUNT(*) AS pn,
         |         SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS prev
         |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
         |SELECT l_returnflag, l_linestatus, CAST(SUM(pn) AS BIGINT) AS n,
         |       CAST(ROUND(SUM(prev), 2) AS DOUBLE) AS revenue,
         |       GROUPING(l_returnflag) AS g_flag,
         |       GROUPING(l_linestatus) AS g_status
         |FROM base GROUP BY $grouping
         |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin)
  }

  private val aggRollupSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      |       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status
      |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  private val aggCubeSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      |       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status
      |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  private val aggGroupingSetsSql =
    """SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue,
      |       GROUPING(l_returnflag) AS g_flag, GROUPING(l_linestatus) AS g_status
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))
      |ORDER BY g_flag, g_status, l_returnflag, l_linestatus""".stripMargin

  /** Ratio/percentage over aggregates (ref `advanced_monitoring.py:140,244-248`). */
  def aggRatioPct(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).groupBy(col("l_returnflag"))
      .agg(
        count(when(col("l_extendedprice") > 1000, lit(1))).as("hv"),
        count(lit(1)).as("n"),
        sumDec(col("l_extendedprice")).cast("double").as("gross"),
        sum((col("l_extendedprice") * col("l_discount")).cast("decimal(18,8)"))
          .cast("double").as("disc"))
      .select(col("l_returnflag"),
        round((col("hv") * lit(100.0) / col("n")).cast("decimal(28,6)"), 2)
          .cast("double").as("coverage_pct"),
        round(((col("gross") - col("disc")) * lit(100.0) / col("gross"))
          .cast("decimal(28,6)"), 2).cast("double").as("net_margin_pct"))
      .orderBy(col("l_returnflag"))

  private val aggRatioPctOracle =
    """WITH a AS (
      |  SELECT l_returnflag,
      |         COUNT(CASE WHEN l_extendedprice > 1000 THEN 1 END) AS hv, COUNT(*) AS n,
      |         CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS gross,
      |         CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(18,8))) AS DOUBLE) AS disc
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag,
      |       CAST(ROUND(CAST(hv * 100.0 / n AS DECIMAL(28,6)), 2) AS DOUBLE) AS coverage_pct,
      |       CAST(ROUND(CAST((gross - disc) * 100.0 / gross AS DECIMAL(28,6)), 2) AS DOUBLE) AS net_margin_pct
      |FROM a ORDER BY l_returnflag""".stripMargin

  // --------------------------- §2.5 windows --------------------------------

  /** pandas iloc[0] vs iloc[-1] week-over-week compare (ref
    * `advanced_monitoring.py:221-228,399-405`) as LAG(7) + top-1. Shared SQL. */
  private val windowLagManualSql =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS rev_dec
      |  FROM lineitem GROUP BY 1),
      |w AS (SELECT d, rev_dec, LAG(rev_dec, 7) OVER (ORDER BY d) AS prev_dec FROM daily)
      |SELECT d AS latest_date, CAST(rev_dec AS DOUBLE) AS latest_revenue,
      |       CAST(prev_dec AS DOUBLE) AS revenue_week_ago,
      |       CAST(ROUND(CAST((CAST(rev_dec AS DOUBLE) - CAST(prev_dec AS DOUBLE)) / CAST(prev_dec AS DOUBLE) * 100 AS DECIMAL(28,6)), 2) AS DOUBLE) AS wow_pct
      |FROM w WHERE d = (SELECT MAX(d) FROM daily)""".stripMargin

  /** Ranking windows — free extension beyond the reference (§2.5 absent):
    * top-3 items per return flag. Scale: partitioned window, no global sort. */
  private val windowRankSql =
    """SELECT l_returnflag, l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price, rn, rk
      |FROM (
      |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |         ROW_NUMBER() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn,
      |         RANK() OVER (PARTITION BY l_returnflag ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rk
      |  FROM lineitem) t
      |WHERE rn <= 3 ORDER BY l_returnflag, rn""".stripMargin

  /** Moving average over a ROWS frame — free extension (§2.5 absent). The
    * windowed aggregate runs over DECIMAL: sliding-window implementations
    * differ (DuckDB segment tree vs Spark streaming frame), so double
    * summation order is NOT portable — decimal is. */
  private val windowMovingAvgSql =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS rev_dec
      |  FROM lineitem GROUP BY 1)
      |SELECT d, CAST(rev_dec AS DOUBLE) AS revenue,
      |       CAST(ROUND(CAST(CAST(SUM(rev_dec) OVER w AS DOUBLE) / COUNT(rev_dec) OVER w AS DECIMAL(28,6)), 2) AS DOUBLE) AS revenue_ma7
      |FROM daily WINDOW w AS (ORDER BY d ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
      |ORDER BY d""".stripMargin

  /** ntile / first_value / last_value — further free window extensions
    * (§2.5 absent); shared ANSI text with explicit frames and tie-breaks. */
  private val windowNtileSql =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS rev_dec
      |  FROM lineitem GROUP BY 1)
      |SELECT d, CAST(rev_dec AS DOUBLE) AS revenue,
      |       NTILE(4) OVER (ORDER BY rev_dec, d) AS quartile,
      |       CAST(FIRST_VALUE(rev_dec) OVER w AS DOUBLE) AS best_revenue,
      |       CAST(LAST_VALUE(rev_dec) OVER w AS DOUBLE) AS worst_revenue
      |FROM daily
      |WINDOW w AS (ORDER BY rev_dec DESC, d ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
      |ORDER BY d""".stripMargin

  /** Exact median/quantiles — free extension (§2.4 absent). Both engines
    * interpolate at p*(n-1) over the sorted doubles; operands are identical
    * 2dp values so the interpolation arithmetic is IEEE-identical. */
  private val aggMedianSql =
    """SELECT l_returnflag,
      |       CAST(ROUND(CAST(MEDIAN(l_extendedprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS median_price,
      |       CAST(ROUND(CAST(QUANTILE_CONT(l_extendedprice, 0.9) AS DECIMAL(28,6)), 2) AS DOUBLE) AS p90_price
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** Spark side: SORT-BASED exact percentiles instead of the built-in
    * `percentile`/`median` aggregate. The built-in is an
    * ObjectHashAggregate whose buffer holds EVERY value of the group (an
    * OpenHashMap shipped to one reducer per group) — at 100 TB a large
    * group OOMs the reducer, and it can't spill. This form pre-collapses
    * to VALUE grain (groupBy(flag, price) → count, a map-side-combining
    * aggregate — the r11 weighted-median device: the flag-partitioned
    * window then sorts |distinct prices per flag| rows, never the fact
    * table), takes a running count over the collapsed series, and reads
    * the value at rank k as the smallest value whose cumulative count
    * reaches k. The two bracketing ranks per percentile interpolate with
    * the SAME `a + (b - a) * g` at `pos = p * (n - 1)` the built-in (and
    * DuckDB QUANTILE_CONT) computes — operands are identical 2dp doubles,
    * so the result is bit-identical (the key stays green against the
    * unchanged DuckDB oracle). */
  def aggMedian(s: SparkSession, dir: String): DataFrame = {
    val g = lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("v"))
      // percentile aggregates IGNORE nulls (both engines); unfiltered they
      // would rank first and inflate n, shifting every bracketing rank
      .filter(col("v").isNotNull)
      .groupBy(col("l_returnflag"), col("v"))
      .agg(count(lit(1)).as("c"))
    val ws = Window.partitionBy(col("l_returnflag")).orderBy(col("v")) // lint:series-grain (value-grain collapsed input)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val t = g.groupBy(col("l_returnflag")).agg(sum(col("c")).as("n"))
    val withPos = g
      .withColumn("cum", sum(col("c")).over(ws))
      .join(t, Seq("l_returnflag"))
      .withColumn("pos50", lit(0.5) * (col("n") - 1).cast("double"))
      .withColumn("pos90", lit(0.9) * (col("n") - 1).cast("double"))
      .withColumn("l50", floor(col("pos50")).cast("long") + 1) // 1-based rank
      .withColumn("l90", floor(col("pos90")).cast("long") + 1)
    def interp(a: Column, b: Column, g: Column): Column =
      when(g === 0.0, a).otherwise(a + (b - a) * g)
    // value at rank k == smallest value whose cumulative count >= k; when
    // g != 0, rank l+1 <= n always exists (floor(p*(n-1)) <= n-2)
    withPos
      .groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cum") >= col("l50"), col("v"))).as("a50"),
        min(when(col("cum") >= col("l50") + 1, col("v"))).as("b50"),
        min(when(col("cum") >= col("l90"), col("v"))).as("a90"),
        min(when(col("cum") >= col("l90") + 1, col("v"))).as("b90"),
        first(col("pos50") - floor(col("pos50"))).as("g50"),
        first(col("pos90") - floor(col("pos90"))).as("g90"))
      .select(col("l_returnflag"),
        round(interp(col("a50"), col("b50"), col("g50"))
          .cast("decimal(28,6)"), 2).cast("double").as("median_price"),
        round(interp(col("a90"), col("b90"), col("g90"))
          .cast("decimal(28,6)"), 2).cast("double").as("p90_price"))
      .orderBy(col("l_returnflag"))
  }

  // --------------------- §2.6 sorts / limits / set ops ---------------------

  private val sortSingleDescSql =
    """SELECT o_orderkey, ROUND(o_totalprice, 2) AS o_totalprice FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50""".stripMargin

  private val sortMultiSql =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date, ROUND(o_totalprice, 2) AS o_totalprice
      |FROM orders
      |ORDER BY CAST(o_orderdate AS DATE) DESC, o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin

  /** Top-1 of an ordered result (ref `monday_etl_automated.py:632`) — Spark
    * plans this as TakeOrderedAndProject (true top-k, no global sort). */
  private val limitHead1Sql =
    """SELECT event_id, user_id, event_type, ROUND(value, 2) AS value
      |FROM events ORDER BY CAST(ts AS TIMESTAMP) DESC, event_id LIMIT 1""".stripMargin

  /** Source-side LIMIT pushdown probe (ref `etl_debug.py:64,106`). */
  private val srcLimitProbeSql =
    """SELECT l_orderkey, l_linenumber, ROUND(l_quantity, 2) AS l_quantity
      |FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 100""".stripMargin

  /** UNION ALL of labeled per-table counts (ref `etl_final_fix.py:345-352`). */
  private val setopUnionAllSql =
    """SELECT 'orders' AS tbl, COUNT(*) AS n FROM orders
      |UNION ALL SELECT 'lineitem' AS tbl, COUNT(*) AS n FROM lineitem
      |UNION ALL SELECT 'customer' AS tbl, COUNT(*) AS n FROM customer
      |UNION ALL SELECT 'events' AS tbl, COUNT(*) AS n FROM events
      |ORDER BY tbl""".stripMargin

  /** INTERSECT / EXCEPT — free extensions (§2.6 absent). */
  private val setopIntersectSql =
    """SELECT user_id FROM events WHERE event_type = 'purchase'
      |INTERSECT SELECT user_id FROM events WHERE event_type = 'error'
      |ORDER BY user_id""".stripMargin

  private val setopExceptSql =
    """SELECT user_id FROM events WHERE event_type = 'purchase'
      |EXCEPT SELECT user_id FROM events WHERE event_type = 'error'
      |ORDER BY user_id""".stripMargin

  /** EXCEPT with a guaranteed non-empty difference — customers who ordered
    * but never emitted an event (non-empty at every fixture SF: 135 / 1,350
    * / 13,499 rows at sf0.001/0.01/0.1; events sample only a subset of
    * customers). The purchase-vs-error variant above happens to be empty at
    * every SF, which proves DISTINCT-set semantics only vacuously. */
  private val setopExceptNonemptySql =
    """SELECT o_custkey FROM orders
      |EXCEPT SELECT user_id FROM events
      |ORDER BY o_custkey""".stripMargin

  /** SQL text submitted to the engine — Catalyst plays BigQuery's role
    * (ref `advanced_monitoring.py:181-202`, circle performance). */
  private val srcWarehouseSqlSql =
    """SELECT c.c_mktsegment AS segment,
      |       COUNT(DISTINCT c.c_custkey) AS customers,
      |       COUNT(o.o_orderkey) AS orders,
      |       CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value,
      |       CAST(ROUND(CAST(CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(o.o_totalprice) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_value
      |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
      |GROUP BY c.c_mktsegment
      |ORDER BY total_value DESC, segment""".stripMargin

  // ------------------------ §2.8 batch analogs -----------------------------

  /** Day-over-day compare on the parent table (ref
    * `monday_etl_automated.py:600-645`) — same single-scan literal-anchored
    * plan as joinCross1x1 (see snapshotCompare). */
  def streamDodCompare(s: SparkSession, dir: String): DataFrame =
    snapshotCompare(orders(s, dir), orderDate, col("o_totalprice"),
      "projects", "value")

  private val streamDodCompareOracle =
    """WITH latest AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
      |t AS (SELECT COUNT(*) AS projects_today,
      |             COALESCE(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2), CAST(0 AS DECIMAL(18,2))) AS vt
      |      FROM orders, latest WHERE CAST(o_orderdate AS DATE) = d),
      |y AS (SELECT COUNT(*) AS projects_yesterday,
      |             COALESCE(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2), CAST(0 AS DECIMAL(18,2))) AS vy
      |      FROM orders, latest WHERE CAST(o_orderdate AS DATE) = d - 1)
      |SELECT t.projects_today, CAST(t.vt AS DOUBLE) AS value_today,
      |       y.projects_yesterday, CAST(y.vy AS DOUBLE) AS value_yesterday,
      |       t.projects_today - y.projects_yesterday AS projects_diff,
      |       CAST(t.vt - y.vy AS DOUBLE) AS value_diff
      |FROM t, y""".stripMargin

  /** 1-day tumbling window via `window()` (ref: all analytics group by
    * `extraction_date`, SURVEY.md §2.8). */
  def streamTumblingDay(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 day"))
      .agg(count(lit(1)).as("n_events"),
        roundSumDec(col("value")).as("total_value"))
      .select(to_date(col("window.start")).as("day"),
        col("n_events"), col("total_value"))
      .orderBy(col("day"))

  private val streamTumblingDayOracle =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** Freshness/liveness watermark (ref `advanced_monitoring.py:163-177`).
    * Anchored to an as-of date derived from the data (max order date), not
    * wall-clock `current_date` — two engines evaluating `current_date` in
    * different timezones/run-times would otherwise flip the verdict. */
  def streamFreshnessWatermark(s: SparkSession, dir: String): DataFrame = {
    val asOf = orders(s, dir).agg(max(orderDate).as("as_of_date"))
    events(s, dir).agg(max(to_date(col("ts"))).as("last_event_date"))
      .crossJoin(asOf)
      .select(col("last_event_date"), col("as_of_date"),
        (datediff(col("as_of_date"), col("last_event_date")) > 1).as("is_stale"),
        lit(1).as("threshold_days"))
  }

  private val streamFreshnessWatermarkOracle =
    """SELECT MAX(CAST(ts AS DATE)) AS last_event_date,
      |       (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders) AS as_of_date,
      |       ((SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders) - MAX(CAST(ts AS DATE))) > 1 AS is_stale,
      |       1 AS threshold_days FROM events""".stripMargin

  /** Threshold alert rules over aggregates (ref
    * `advanced_monitoring.py:377-407`): coverage < 60%, duplicates > 0,
    * day-over-day revenue drop > 5%. Shared SQL. */
  private val streamThresholdAlertsSql =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d, COUNT(*) AS n,
      |         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS rev_dec,
      |         100.0 * COUNT(CASE WHEN l_extendedprice > 1000 THEN 1 END) / COUNT(*) AS coverage
      |  FROM lineitem GROUP BY 1),
      |seq AS (SELECT d, rev_dec, LAG(rev_dec) OVER (ORDER BY d) AS prev_dec, coverage FROM daily),
      |latest AS (SELECT d, coverage,
      |                  CAST(rev_dec AS DOUBLE) AS revenue, CAST(prev_dec AS DOUBLE) AS prev
      |           FROM seq WHERE d = (SELECT MAX(d) FROM seq)),
      |dups AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM (
      |  SELECT l_orderkey, l_linenumber, COUNT(*) AS cnt FROM lineitem
      |  GROUP BY 1, 2 HAVING COUNT(*) > 1) t)
      |SELECT 'coverage_low' AS rule, CAST(ROUND(CAST(coverage AS DECIMAL(28,6)), 2) AS DOUBLE) AS value, coverage < 60 AS triggered FROM latest
      |UNION ALL SELECT 'duplicate_rows' AS rule, CAST(c AS DOUBLE) AS value, c > 0 AS triggered FROM dups
      |UNION ALL SELECT 'revenue_drop_dod' AS rule,
      |       CAST(ROUND(CAST((revenue - prev) / prev * 100 AS DECIMAL(28,6)), 2) AS DOUBLE) AS value,
      |       (revenue - prev) / prev * 100 < -5 AS triggered FROM latest
      |ORDER BY rule""".stripMargin

  // -------------------------------------------------------------------------

  /** Queries whose Spark-side text IS the oracle text (ANSI-portable SQL). */
  private val sharedSql: Map[String, String] = Map(
    "filter_date_eq" -> filterDateEqSql,
    "agg_scalar_subqueries" -> aggScalarSubqueriesSql,
    "window_ntile" -> windowNtileSql,
    "window_lag_manual" -> windowLagManualSql,
    "window_rank" -> windowRankSql,
    "window_moving_avg" -> windowMovingAvgSql,
    "sort_single_desc" -> sortSingleDescSql,
    "sort_multi" -> sortMultiSql,
    "limit_head1" -> limitHead1Sql,
    "src_limit_probe" -> srcLimitProbeSql,
    "setop_union_all" -> setopUnionAllSql,
    "setop_intersect" -> setopIntersectSql,
    "setop_except" -> setopExceptSql,
    "setop_except_nonempty" -> setopExceptNonemptySql,
    "src_warehouse_sql" -> srcWarehouseSqlSql,
    "stream_threshold_alerts" -> streamThresholdAlertsSql)

  private def runSql(q: String): Q =
    (s, dir) => { Tables.registerAll(s, dir); s.sql(q) }

  val queries: Map[String, Q] = Map[String, Q](
    "window_lag" -> (dailyMetrics _),
    "join_left_two_key" -> (joinLeftTwoKey _),
    "join_left_single_key" -> (joinLeftSingleKey _),
    "join_cross_1x1" -> (joinCross1x1 _),
    "join_fk_extracted" -> (joinFkExtracted _),
    "join_semi" -> (joinSemi _),
    "join_anti" -> (joinAnti _),
    "join_asof" -> (joinAsof _),
    "join_asof_prev" -> (joinAsofPrev _),
    "join_asof_nearest" -> (joinAsofNearest _),
    "join_asof_tolerance" -> (joinAsofTolerance _),
    "join_asof_forward" -> (joinAsofForward _),
    "window_range_frame" -> (windowRangeFrame _),
    "window_islands" -> (windowIslands _),
    "agg_mode" -> (aggMode _),
    "join_range_bucketed" -> (joinRangeBucketed _),
    "join_fuzzy_block" -> (joinFuzzyBlock _),
    "join_skew_salted" -> (joinSkewSalted _),
    "agg_median" -> (aggMedian _),
    "filter_nonempty" -> (filterNonempty _),
    "filter_revenue_positive" -> (filterRevenuePositive _),
    "filter_date_range" -> (filterDateRange _),
    "filter_date_eq_part" -> (filterDateEqPart _),
    "filter_date_range_part" -> (filterDateRangePart _),
    "filter_in_list" -> (filterInList _),
    "filter_notna" -> (filterNotna _),
    "agg_count_star" -> (aggCountStar _),
    "agg_count_distinct" -> (aggCountDistinct _),
    "agg_count_nonnull" -> (aggCountNonnull _),
    "agg_count_conditional" -> (aggCountConditional _),
    "agg_sum" -> (aggSum _),
    "agg_avg" -> (aggAvg _),
    "agg_max" -> (aggMax _),
    "agg_group_single" -> (aggGroupSingle _),
    "agg_group_multi" -> (aggGroupMulti _),
    "agg_having_dup" -> (aggHavingDup _),
    "agg_ratio_pct" -> (aggRatioPct _),
    "stream_dod_compare" -> (streamDodCompare _),
    "stream_tumbling_day" -> (streamTumblingDay _),
    "stream_freshness_watermark" -> (streamFreshnessWatermark _),
    "agg_rollup" -> superAgg("ROLLUP(l_returnflag, l_linestatus)"),
    "agg_cube" -> superAgg("CUBE(l_returnflag, l_linestatus)"),
    "agg_grouping_sets" -> superAgg(
      "GROUPING SETS ((l_returnflag), (l_linestatus), (l_returnflag, l_linestatus))")
  ) ++ sharedSql.map { case (k, sql) => k -> runSql(sql) }

  val oracles: Map[String, String] = Map(
    "window_lag" -> dailyMetricsOracle,
    "join_left_two_key" -> joinLeftTwoKeyOracle,
    "join_left_single_key" -> joinLeftSingleKeyOracle,
    "join_cross_1x1" -> joinCross1x1Oracle,
    "join_fk_extracted" -> joinFkExtractedOracle,
    "join_semi" -> joinSemiOracle,
    "join_anti" -> joinAntiOracle,
    "join_asof" -> joinAsofOracle,
    "join_asof_prev" -> joinAsofPrevOracle,
    "join_asof_nearest" -> joinAsofNearestOracle,
    "join_asof_tolerance" -> joinAsofToleranceOracle,
    "join_asof_forward" -> joinAsofForwardOracle,
    "window_range_frame" -> windowRangeFrameOracle,
    "window_islands" -> windowIslandsOracle,
    "agg_mode" -> aggModeOracle,
    "join_range_bucketed" -> joinRangeBucketedOracle,
    "join_fuzzy_block" -> joinFuzzyBlockOracle,
    "join_skew_salted" -> joinSkewSaltedOracle,
    "agg_median" -> aggMedianSql,
    "filter_nonempty" -> filterNonemptyOracle,
    "filter_revenue_positive" -> filterRevenuePositiveOracle,
    "filter_date_range" -> filterDateRangeOracle,
    "filter_date_eq_part" -> filterDateEqSql,
    "filter_date_range_part" -> filterDateRangeOracle,
    "filter_in_list" -> filterInListOracle,
    "filter_notna" -> filterNotnaOracle,
    "agg_count_star" -> aggCountStarOracle,
    "agg_count_distinct" -> aggCountDistinctOracle,
    "agg_count_nonnull" -> aggCountNonnullOracle,
    "agg_count_conditional" -> aggCountConditionalOracle,
    "agg_sum" -> aggSumOracle,
    "agg_avg" -> aggAvgOracle,
    "agg_max" -> aggMaxOracle,
    "agg_group_single" -> aggGroupSingleOracle,
    "agg_group_multi" -> aggGroupMultiOracle,
    "agg_having_dup" -> aggHavingDupOracle,
    "agg_ratio_pct" -> aggRatioPctOracle,
    "stream_dod_compare" -> streamDodCompareOracle,
    "stream_tumbling_day" -> streamTumblingDayOracle,
    "stream_freshness_watermark" -> streamFreshnessWatermarkOracle,
    "agg_rollup" -> aggRollupSql,
    "agg_cube" -> aggCubeSql,
    "agg_grouping_sets" -> aggGroupingSetsSql
  ) ++ sharedSql
}
