package graft.report

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables.load

/** The reference's flagship LIFECYCLE as ONE composed relation —
  * `ETLMonitor.generate_health_report()` + `check_alerts()`
  * (`advanced_monitoring.py:204-268,377-407`, SURVEY.md §3.2): 7-day daily
  * metrics with day-over-day deltas, the full-table completeness panel with
  * the P&L margin arithmetic (`:244-248`), the duplicates and freshness
  * quality checks (`:146-168`), current circle performance (`:181-202`),
  * and the four threshold-alert verdicts — every section computed off ONE
  * shared cached fact frame and emitted as a single long-form report
  * relation `(section, metric, value, triggered)`.
  *
  * The reference runs each section as an independent BigQuery round-trip
  * (five SQL strings, five scans); SURVEY §3.2's prescription for the Spark
  * re-expression is the opposite: build the orders⋈lineitem frame once,
  * cache it, and let report + quality checks + circle + alerts all read the
  * cache. The events table (the cost-board analog, FIXTURES.md role map)
  * is the only other input and is likewise scanned once. At 100 TB the
  * cached frame is the day's partition slice, and every section is a
  * partial-aggregated rollup of it — one fact scan for the whole report
  * instead of the reference's five.
  *
  * Portability: every money value flows through DECIMAL(18,4) partial sums
  * rounded to 2dp (order-independent, exact) and every ratio is rounded
  * through DECIMAL(28,6) before the final double cast, so the DuckDB oracle
  * replays the whole report — including the alert verdict booleans —
  * bit-for-bit as composed CTEs.
  */
object HealthReport {

  type Q = (SparkSession, String) => DataFrame

  private def sumDec(c: Column): Column = sum(c.cast("decimal(18,4)"))
  private def dbl(c: Column): Column = c.cast("double")
  private def roundVia(c: Column, dp: Int): Column =
    round(c.cast("decimal(28,6)"), dp).cast("double")
  private val noFlag: Column = lit(false)

  /** The circle IN-list (`advanced_monitoring.py:188` filters to 4 named
    * circles; `o_orderpriority` plays `circolo` — FIXTURES.md role map). */
  private val circles = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "5-LOW")

  /** Cost-board role map: the three cost tables (personnel/travel/supplier,
    * SURVEY §1.2) → three event_type slices of `events` (amount → value). */
  private val costTypes = Map(
    "personnel" -> "purchase", "travel" -> "view", "supplier" -> "signup")

  /** Exposed at package level so the spec can persist the shared frames and
    * pin the no-re-scan plan shape. Returns (sharedFactFrame, eventsFrame,
    * reportRelation). */
  private[graft] def healthParts(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val o = load(s, dir, "orders")
    val l = load(s, dir, "lineitem")
    // THE shared frame: one left join at snapshot grain, every section below
    // is an aggregate of it (the reference re-joins this in 3 of its 5 SQLs).
    val base = o.join(l, o("o_orderkey") === l("l_orderkey"), "left")
      .select(to_date(o("o_orderdate")).as("ed"), o("o_orderkey"),
        o("o_orderpriority").as("circle"), l("l_orderkey").as("lk"),
        l("l_linenumber").as("ln"), l("l_extendedprice").as("rev"))
    val ev = load(s, dir, "events")
      .select(col("event_type"), col("value"), to_date(col("ts")).as("ev_d"))
    (base, ev, buildReport(base, ev))
  }

  private[graft] def buildReport(base: DataFrame, ev: DataFrame): DataFrame = {
    // r15 (guide §2.4, §1.5): the long-form assembly used to be 30
    // `union` branches, one per report line — and Spark does not dedupe
    // common subtrees across union branches, so every branch re-ran its
    // section's whole aggregation pipeline against the cache (the
    // `latest` subtree 8×, the P&L subtree 15×, ~30 aggregate pipelines
    // for 36 rows; scaling ratio 0.97 = pure scheduler overhead). Now
    // each section is aggregated ONCE — four passes over the cached fact
    // frame (day-grain, completeness, duplicates, circle) and one over
    // events — the single-row sections are crossJoin-broadcast into one
    // row, and the 36 report lines are `inline` row constructors over
    // that. Values and the oracle SQL are unchanged.

    // ---- §3.2 step 1: get_daily_metrics(7) — latest row + deltas ----------
    // ONE day-grain aggregate over the whole frame (was: a separate as-of
    // max scan + a filtered re-scan); the trailing-week cut moves AFTER
    // the groupBy — filtering on the group key commutes with the
    // aggregate — via a window max over the tiny day-grain frame.
    val daily0 = base.groupBy(col("ed")).agg(
        countDistinct(col("o_orderkey")).as("p"),
        count(col("lk")).as("s"),
        count(when(col("rev") > 1000, lit(1))).as("r"),
        round(sumDec(col("rev")), 2).as("rev_dec"),
        round((sumDec(col("rev")).cast("double") / count(col("rev")))
          .cast("decimal(28,6)"), 2).cast("double").as("avg_rev"))
    val wAll = Window.rowsBetween( // lint:series-grain (day-grain report series)
      Window.unboundedPreceding, Window.unboundedFollowing)
    val daily = daily0.withColumn("as_of", max(col("ed")).over(wAll))
      .filter(col("ed") >= date_sub(col("as_of"), 6))
    // ≤7 day-grain rows after the cut — the window input is tiny.
    val w = Window.orderBy(col("ed")) // lint:series-grain (7-day report series)
    val latest = daily.select(col("ed"), col("as_of"), col("p"), col("s"),
        col("r"), col("rev_dec"), col("avg_rev"),
        lag(col("rev_dec"), 1).over(w).as("prev_rev"),
        lag(col("s"), 1).over(w).as("prev_s"),
        first(col("rev_dec")).over(w.rowsBetween(
          Window.unboundedPreceding, Window.unboundedFollowing)).as("first_rev"))
      .filter(col("ed") === col("as_of"))
      // week-over-week drop %, the check_alerts() trend rule (:397-406)
      .withColumn("wow_pct", roundVia(
        (col("rev_dec") - col("first_rev")).cast("double") /
          col("first_rev").cast("double") * 100, 2))

    // ---- §3.2 step 2a: completeness panel + P&L margin ---------------------
    val comp = base.agg(
        countDistinct(col("o_orderkey")).as("pr"),
        count(col("lk")).as("sr"),
        count(when(col("rev") > 1000, lit(1))).as("rr"),
        round(sumDec(col("rev")), 2).as("trev"))
      // null, not a division-by-zero error, when there are no subitems
      .withColumn("coverage",
        roundVia(try_divide((lit(100) * col("rr")).cast("double"), col("sr")), 1))
    // ONE pass over events serves the cost panel AND freshness (was two):
    // the per-type rollup groups the WHOLE slice — types outside the cost
    // map fall out of the max(when) pivot exactly as the old pre-filter
    // dropped them (a type with no rows has no group, so its pivot cell
    // is NULL either way) — and the global max event date is the max of
    // the per-type maxes.
    val costRow = ev
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sumDec(col("value")), 2).as("amt"),
        max(col("ev_d")).as("mx"))
      .agg(
        max(when(col("event_type") === costTypes("personnel"), col("n"))).as("pn"),
        max(when(col("event_type") === costTypes("personnel"), col("amt"))).as("pa"),
        max(when(col("event_type") === costTypes("travel"), col("n"))).as("vn"),
        max(when(col("event_type") === costTypes("travel"), col("amt"))).as("va"),
        max(when(col("event_type") === costTypes("supplier"), col("n"))).as("sn"),
        max(when(col("event_type") === costTypes("supplier"), col("amt"))).as("sa"),
        max(col("mx")).as("now_d"))
    val pl = comp.crossJoin(broadcast(costRow))
      .withColumn("tc", col("pa") + col("va") + col("sa"))
      .withColumn("nm", col("trev") - (col("pa") + col("va") + col("sa")))
      .withColumn("margin_pct",
        roundVia(dbl(col("nm")) / dbl(col("trev")) * 100, 1))

    // ---- §3.2 step 2b: duplicates check ------------------------------------
    val dups = base.filter(col("lk").isNotNull)
      .groupBy(col("lk"), col("ln")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).agg(count(lit(1)).as("dk"))

    // ---- §3.2 step 3: current circle performance ----------------------------
    val circle = base.filter(col("circle").isin(circles: _*))
      .groupBy(col("circle"))
      .agg(count(col("lk")).as("n"), round(sumDec(col("rev")), 2).as("crev"))

    // ---- assembly: one long-form relation -----------------------------------
    // The single-row sections fold into ONE row: P&L and duplicates are
    // global aggregates (always one row, even over an empty fact frame)
    // and cross-join; `latest` has no row when the frame is empty, so it
    // left-joins in and the report stays partial (daily_latest and
    // freshness values null) instead of vanishing. Freshness derives from
    // as_of (latest) and now_d (the events pass) in place. Every fixed
    // report line is a struct constructor over that row — `inline`
    // expands them with zero re-aggregation. The circle section is the
    // only multi-row source: its two lines per circle ride one inline
    // over the 4-row aggregate.
    def line(section: String, metric: Column, value: Column,
        flag: Column = noFlag): Column =
      struct(lit(section).as("section"), metric.as("metric"),
        value.cast("double").as("value"), flag.as("triggered"))

    val one = pl.crossJoin(broadcast(dups))
      .join(broadcast(latest), lit(true), "left")
      .withColumn("epoch_day",
        datediff(col("as_of"), lit("1970-01-01").cast("date")))
      .withColumn("days_since", datediff(col("now_d"), col("as_of")))
    val fixed = one.select(inline(array(
      line("daily_latest", lit("projects"), dbl(col("p"))),
      line("daily_latest", lit("subitems"), dbl(col("s"))),
      line("daily_latest", lit("subitems_with_revenue"), dbl(col("r"))),
      line("daily_latest", lit("total_revenue"), dbl(col("rev_dec"))),
      line("daily_latest", lit("avg_revenue"), col("avg_rev")),
      line("daily_latest", lit("revenue_change"),
        dbl(col("rev_dec") - col("prev_rev"))),
      line("daily_latest", lit("subitems_change"),
        dbl(col("s") - col("prev_s"))),
      line("completeness", lit("projects_rows"), dbl(col("pr"))),
      line("completeness", lit("subitems_rows"), dbl(col("sr"))),
      line("completeness", lit("revenue_subitems"), dbl(col("rr"))),
      line("completeness", lit("total_revenue"), dbl(col("trev"))),
      line("completeness", lit("coverage_pct"), col("coverage")),
      line("completeness", lit("personnel_costs_rows"), dbl(col("pn"))),
      line("completeness", lit("personnel_cost_total"), dbl(col("pa"))),
      line("completeness", lit("travel_costs_rows"), dbl(col("vn"))),
      line("completeness", lit("travel_cost_total"), dbl(col("va"))),
      line("completeness", lit("supplier_costs_rows"), dbl(col("sn"))),
      line("completeness", lit("supplier_cost_total"), dbl(col("sa"))),
      line("completeness", lit("total_costs"), dbl(col("tc"))),
      line("completeness", lit("net_margin"), dbl(col("nm"))),
      line("completeness", lit("margin_pct"), col("margin_pct")),
      line("duplicates", lit("duplicate_keys"), dbl(col("dk"))),
      line("freshness", lit("last_extraction_epoch_day"),
        dbl(col("epoch_day"))),
      line("freshness", lit("days_since"), dbl(col("days_since"))),
      line("alerts", lit("stale_data"), dbl(col("days_since")),
        col("days_since") > 1),
      line("alerts", lit("coverage_low"), col("coverage"),
        col("coverage") < 60.0),
      line("alerts", lit("duplicate_rows"), dbl(col("dk")),
        col("dk") > 0),
      line("alerts", lit("revenue_drop_wow"), col("wow_pct"),
        col("wow_pct") < -5.0))))
    val circleRows = circle.select(inline(array(
      line("circle", concat(col("circle"), lit(":revenue")), dbl(col("crev"))),
      line("circle", concat(col("circle"), lit(":subitems")), dbl(col("n"))))))
    fixed.union(circleRows).orderBy(col("section"), col("metric"))
  }

  /** The composed key: persist the shared frames, materialize the (tiny)
    * report against them, release the fact cache, hand back the cached
    * report relation. */
  def reportHealthE2e(s: SparkSession, dir: String): DataFrame = {
    val (base, ev, report) = healthParts(s, dir)
    base.persist(); ev.persist()
    val out = report.persist()
    out.count() // force the report while the shared frames are cached
    base.unpersist(); ev.unpersist()
    out
  }

  private val reportHealthE2eOracle =
    """WITH asofd AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
      |base AS (
      |  SELECT CAST(o.o_orderdate AS DATE) AS ed, o.o_orderkey,
      |         o.o_orderpriority AS circle, l.l_orderkey AS lk,
      |         l.l_linenumber AS ln, l.l_extendedprice AS rev
      |  FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
      |daily AS (
      |  SELECT ed, COUNT(DISTINCT o_orderkey) AS p, COUNT(lk) AS s,
      |         COUNT(CASE WHEN rev > 1000 THEN 1 END) AS r,
      |         ROUND(SUM(CAST(rev AS DECIMAL(18,4))), 2) AS rev_dec,
      |         CAST(ROUND(CAST(CAST(SUM(CAST(rev AS DECIMAL(18,4))) AS DOUBLE) / COUNT(rev) AS DECIMAL(28,6)), 2) AS DOUBLE) AS avg_rev
      |  FROM base, asofd WHERE ed >= d - 6 GROUP BY ed),
      |latest AS (
      |  SELECT q.*, CAST(ROUND(CAST(CAST(rev_dec - first_rev AS DOUBLE) / CAST(first_rev AS DOUBLE) * 100 AS DECIMAL(28,6)), 2) AS DOUBLE) AS wow_pct
      |  FROM (SELECT *, LAG(rev_dec) OVER (ORDER BY ed) AS prev_rev,
      |               LAG(s) OVER (ORDER BY ed) AS prev_s,
      |               FIRST_VALUE(rev_dec) OVER (ORDER BY ed ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_rev
      |        FROM daily) q, asofd WHERE q.ed = d),
      |comp AS (
      |  SELECT c.*, CAST(ROUND(CAST(CAST(100 * rr AS DOUBLE) / sr AS DECIMAL(28,6)), 1) AS DOUBLE) AS coverage
      |  FROM (SELECT COUNT(DISTINCT o_orderkey) AS pr, COUNT(lk) AS sr,
      |               COUNT(CASE WHEN rev > 1000 THEN 1 END) AS rr,
      |               ROUND(SUM(CAST(rev AS DECIMAL(18,4))), 2) AS trev
      |        FROM base) c),
      |costrow AS (
      |  SELECT MAX(CASE WHEN event_type = 'purchase' THEN n END) AS pn,
      |         MAX(CASE WHEN event_type = 'purchase' THEN amt END) AS pa,
      |         MAX(CASE WHEN event_type = 'view' THEN n END) AS vn,
      |         MAX(CASE WHEN event_type = 'view' THEN amt END) AS va,
      |         MAX(CASE WHEN event_type = 'signup' THEN n END) AS sn,
      |         MAX(CASE WHEN event_type = 'signup' THEN amt END) AS sa
      |  FROM (SELECT event_type, COUNT(*) AS n,
      |               ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS amt
      |        FROM events WHERE event_type IN ('purchase', 'view', 'signup')
      |        GROUP BY 1) c),
      |pl AS (
      |  SELECT comp.*, costrow.*, pa + va + sa AS tc,
      |         trev - (pa + va + sa) AS nm,
      |         CAST(ROUND(CAST(CAST(trev - (pa + va + sa) AS DOUBLE) / CAST(trev AS DOUBLE) * 100 AS DECIMAL(28,6)), 1) AS DOUBLE) AS margin_pct
      |  FROM comp, costrow),
      |dups AS (SELECT COUNT(*) AS dk FROM (
      |  SELECT lk, ln FROM base WHERE lk IS NOT NULL
      |  GROUP BY lk, ln HAVING COUNT(*) > 1) t),
      |fresh AS (
      |  SELECT d - DATE '1970-01-01' AS epoch_day,
      |         (SELECT MAX(CAST(ts AS DATE)) FROM events) - d AS days_since
      |  FROM asofd),
      |circle AS (
      |  SELECT circle, COUNT(lk) AS n,
      |         ROUND(SUM(CAST(rev AS DECIMAL(18,4))), 2) AS crev
      |  FROM base WHERE circle IN ('1-URGENT', '2-HIGH', '3-MEDIUM', '5-LOW')
      |  GROUP BY 1)
      |SELECT * FROM (
      |  SELECT 'daily_latest' AS section, 'projects' AS metric, CAST(p AS DOUBLE) AS value, FALSE AS triggered FROM latest
      |  UNION ALL SELECT 'daily_latest', 'subitems', CAST(s AS DOUBLE), FALSE FROM latest
      |  UNION ALL SELECT 'daily_latest', 'subitems_with_revenue', CAST(r AS DOUBLE), FALSE FROM latest
      |  UNION ALL SELECT 'daily_latest', 'total_revenue', CAST(rev_dec AS DOUBLE), FALSE FROM latest
      |  UNION ALL SELECT 'daily_latest', 'avg_revenue', avg_rev, FALSE FROM latest
      |  UNION ALL SELECT 'daily_latest', 'revenue_change', CAST(rev_dec - prev_rev AS DOUBLE), FALSE FROM latest
      |  UNION ALL SELECT 'daily_latest', 'subitems_change', CAST(s - prev_s AS DOUBLE), FALSE FROM latest
      |  UNION ALL SELECT 'completeness', 'projects_rows', CAST(pr AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'subitems_rows', CAST(sr AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'revenue_subitems', CAST(rr AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'total_revenue', CAST(trev AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'coverage_pct', coverage, FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'personnel_costs_rows', CAST(pn AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'personnel_cost_total', CAST(pa AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'travel_costs_rows', CAST(vn AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'travel_cost_total', CAST(va AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'supplier_costs_rows', CAST(sn AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'supplier_cost_total', CAST(sa AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'total_costs', CAST(tc AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'net_margin', CAST(nm AS DOUBLE), FALSE FROM pl
      |  UNION ALL SELECT 'completeness', 'margin_pct', margin_pct, FALSE FROM pl
      |  UNION ALL SELECT 'duplicates', 'duplicate_keys', CAST(dk AS DOUBLE), FALSE FROM dups
      |  UNION ALL SELECT 'freshness', 'last_extraction_epoch_day', CAST(epoch_day AS DOUBLE), FALSE FROM fresh
      |  UNION ALL SELECT 'freshness', 'days_since', CAST(days_since AS DOUBLE), FALSE FROM fresh
      |  UNION ALL SELECT 'circle', circle || ':revenue', CAST(crev AS DOUBLE), FALSE FROM circle
      |  UNION ALL SELECT 'circle', circle || ':subitems', CAST(n AS DOUBLE), FALSE FROM circle
      |  UNION ALL SELECT 'alerts', 'stale_data', CAST(days_since AS DOUBLE), days_since > 1 FROM fresh
      |  UNION ALL SELECT 'alerts', 'coverage_low', coverage, coverage < 60.0 FROM pl
      |  UNION ALL SELECT 'alerts', 'duplicate_rows', CAST(dk AS DOUBLE), dk > 0 FROM dups
      |  UNION ALL SELECT 'alerts', 'revenue_drop_wow', wow_pct, wow_pct < -5.0 FROM latest
      |) r ORDER BY section, metric""".stripMargin

  val queries: Map[String, Q] = Map(
    "report_health_e2e" -> (reportHealthE2e _))

  val oracles: Map[String, String] = Map(
    "report_health_e2e" -> reportHealthE2eOracle)
}
