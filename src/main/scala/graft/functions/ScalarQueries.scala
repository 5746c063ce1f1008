package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions.nfc
import graft.model.Tables
import graft.model.Tables.load

/** SURVEY.md §2.7 scalar-function surface as oracle-checked query keys.
  *
  * Each key exercises one pinned reference semantic through `Scalars` over
  * the driver testdata. Parse-failure inputs are synthesized from integer
  * columns (identical string construction on both engines) so the
  * swallow-on-error rules — float→0.0 not null
  * (`monday_etl_automated.py:305-309`), date→null (`:263-267`),
  * exactly-2-parts timeline (`:312-319`), board_relation JSON
  * (`:390-395`) — are actually hit, not just defined.
  */
object ScalarQueries {
  import Scalars._

  type Q = (SparkSession, String) => DataFrame

  private def events(s: SparkSession, dir: String) = load(s, dir, "events")
  private def orders(s: SparkSession, dir: String) = load(s, dir, "orders")
  private def lineitem(s: SparkSession, dir: String) = load(s, dir, "lineitem")

  private val orderDate: Column = to_date(col("o_orderdate"))

  // ---- fn_cast_float: float(text) with 0.0-on-error ------------------------
  // 'error' rows → non-numeric, 'view' rows → empty string: both default 0.0.
  def fnCastFloat(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("raw", when(col("event_type") === "error", lit("not-a-number"))
        .when(col("event_type") === "view", lit(""))
        .otherwise(col("user_id").cast("string")))
      .select(col("event_id"), col("raw"), castFloatZero(col("raw")).as("parsed"))
      .orderBy(col("event_id"))

  private val fnCastFloatOracle =
    """SELECT event_id,
      |       CASE WHEN event_type = 'error' THEN 'not-a-number'
      |            WHEN event_type = 'view' THEN ''
      |            ELSE CAST(user_id AS VARCHAR) END AS raw,
      |       COALESCE(TRY_CAST(CASE WHEN event_type = 'error' THEN 'not-a-number'
      |                              WHEN event_type = 'view' THEN ''
      |                              ELSE CAST(user_id AS VARCHAR) END AS DOUBLE), 0.0) AS parsed
      |FROM events ORDER BY event_id""".stripMargin

  // ---- fn_parse_date: strptime('%Y-%m-%d'), null on failure ----------------
  // 'error' rows → garbage, 'click' rows → invalid calendar date: both null.
  def fnParseDate(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("raw", when(col("event_type") === "error", lit("not-a-date"))
        .when(col("event_type") === "click", lit("2025-02-30"))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd")))
      .select(col("event_id"), col("raw"), parseDate(col("raw")).as("parsed"))
      .orderBy(col("event_id"))

  private val fnParseDateOracle =
    """WITH r AS (
      |  SELECT event_id,
      |         CASE WHEN event_type = 'error' THEN 'not-a-date'
      |              WHEN event_type = 'click' THEN '2025-02-30'
      |              ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') END AS raw
      |  FROM events)
      |SELECT event_id, raw, CAST(try_strptime(raw, '%Y-%m-%d') AS DATE) AS parsed
      |FROM r ORDER BY event_id""".stripMargin

  // ---- fn_parse_timestamp_iso: ISO-8601 with Z suffix, null on failure -----
  def fnParseTimestampIso(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("raw", when(col("event_type") === "error",
          lit("2025-99-99T00:00:00Z"))
        .otherwise(date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'")))
      .select(col("event_id"), col("raw"),
        parseTimestampIso(col("raw")).as("parsed"))
      .orderBy(col("event_id"))

  private val fnParseTimestampIsoOracle =
    """WITH r AS (
      |  SELECT event_id,
      |         CASE WHEN event_type = 'error' THEN '2025-99-99T00:00:00Z'
      |              ELSE strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%dT%H:%M:%SZ') END AS raw
      |  FROM events)
      |SELECT event_id, raw, TRY_CAST(raw AS TIMESTAMP) AS parsed
      |FROM r ORDER BY event_id""".stripMargin

  // ---- fn_split_timeline: "start - end", only when exactly 2 parts ---------
  def fnSplitTimeline(s: SparkSession, dir: String): DataFrame = {
    val tl = when(col("o_orderstatus") === "F", lit("no-timeline"))
      .when(col("o_orderstatus") === "P",
        lit("2025-01-01 - 2025-02-01 - 2025-03-01"))
      .otherwise(concat(date_format(orderDate, "yyyy-MM-dd"), lit(" - "),
        date_format(date_add(orderDate, 90), "yyyy-MM-dd")))
    val df = orders(s, dir).withColumn("timeline", tl)
    val (start, end) = splitTimeline(col("timeline"))
    df.select(col("o_orderkey"), col("timeline"),
        start.as("timeline_start"), end.as("timeline_end"))
      .orderBy(col("o_orderkey"))
  }

  private val fnSplitTimelineOracle =
    """WITH r AS (
      |  SELECT o_orderkey,
      |         CASE WHEN o_orderstatus = 'F' THEN 'no-timeline'
      |              WHEN o_orderstatus = 'P' THEN '2025-01-01 - 2025-02-01 - 2025-03-01'
      |              ELSE strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') || ' - ' ||
      |                   strftime(CAST(o_orderdate AS DATE) + 90, '%Y-%m-%d') END AS timeline
      |  FROM orders)
      |SELECT o_orderkey, timeline,
      |       CASE WHEN len(str_split(timeline, ' - ')) = 2
      |            THEN CAST(try_strptime(trim(str_split(timeline, ' - ')[1]), '%Y-%m-%d') AS DATE) END AS timeline_start,
      |       CASE WHEN len(str_split(timeline, ' - ')) = 2
      |             AND try_strptime(trim(str_split(timeline, ' - ')[1]), '%Y-%m-%d') IS NOT NULL
      |            THEN CAST(try_strptime(trim(str_split(timeline, ' - ')[2]), '%Y-%m-%d') AS DATE) END AS timeline_end
      |FROM r ORDER BY o_orderkey""".stripMargin

  // ---- fn_json_extract: board_relation linkedPulseIds[0].linkedPulseId -----
  // Builds the reference's exact payload shape; 'error' rows get malformed
  // JSON → null (ref swallow, `monday_etl_automated.py:390-395`).
  def fnJsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("payload", when(col("event_type") === "error",
          lit("{not json"))
        .otherwise(concat(lit("{\"linkedPulseIds\":[{\"linkedPulseId\":"),
          col("user_id").cast("string"), lit("}]}"))))
      .select(col("event_id"), linkedPulseId(col("payload")).as("linked_id"))
      .orderBy(col("event_id"))

  private val fnJsonExtractOracle =
    """WITH r AS (
      |  SELECT event_id,
      |         CASE WHEN event_type = 'error' THEN '{not json'
      |              ELSE '{"linkedPulseIds":[{"linkedPulseId":' || CAST(user_id AS VARCHAR) || '}]}' END AS payload
      |  FROM events)
      |SELECT event_id,
      |       CASE WHEN json_valid(payload)
      |            THEN json_extract_string(payload, '$.linkedPulseIds[0].linkedPulseId') END AS linked_id
      |FROM r ORDER BY event_id""".stripMargin

  // ---- fn_round: ROUND(x, 2) on a computed product (decimal domain) --------
  def fnRound(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        round((col("l_extendedprice") * (lit(1.0) - col("l_discount")))
          .cast("decimal(28,6)"), 2).cast("double").as("net_price"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))

  private val fnRoundOracle =
    """SELECT l_orderkey, l_linenumber,
      |       CAST(ROUND(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(28,6)), 2) AS DOUBLE) AS net_price
      |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin

  // ---- fn_date_sub_current: trailing-window lower bound --------------------
  // "current" anchored to the data's max date, not wall-clock (determinism).
  def fnDateSubCurrent(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date
        |FROM orders
        |WHERE CAST(o_orderdate AS DATE) >= date_sub((SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders), 7)
        |ORDER BY o_orderkey""".stripMargin)
  }

  private val fnDateSubCurrentOracle =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS order_date
      |FROM orders
      |WHERE CAST(o_orderdate AS DATE) >= (SELECT MAX(CAST(o_orderdate AS DATE)) FROM orders) - 7
      |ORDER BY o_orderkey""".stripMargin

  // ---- fn_date_diff: days between order and ship ---------------------------
  def fnDateDiff(s: SparkSession, dir: String): DataFrame = {
    val o = orders(s, dir)
    val l = lineitem(s, dir)
    o.join(l, o("o_orderkey") === l("l_orderkey"))
      .select(l("l_orderkey"), l("l_linenumber"),
        datediff(to_date(l("l_shipdate")), to_date(o("o_orderdate")))
          .as("ship_lag_days"))
      .orderBy(col("l_orderkey"), col("l_linenumber"))
  }

  private val fnDateDiffOracle =
    """SELECT l.l_orderkey, l.l_linenumber,
      |       CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) AS ship_lag_days
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin

  // ---- fn_case_when (shared ANSI SQL text) ---------------------------------
  private val fnCaseWhenSql =
    """SELECT o_orderkey,
      |       CASE WHEN o_orderstatus = 'O' THEN 'open'
      |            WHEN o_orderstatus = 'F' THEN 'filled'
      |            ELSE 'other' END AS status_label
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- fn_arith_diff: projected arithmetic over joined aggregates ----------
  private val fnArithDiffSql =
    """SELECT o.o_orderkey,
      |       CAST(o.o_totalprice AS DOUBLE) -
      |       CAST(COALESCE(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))), 0) AS DOUBLE) AS price_minus_items
      |FROM orders o LEFT JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderkey, o.o_totalprice
      |ORDER BY o.o_orderkey""".stripMargin

  // ---- fn_strftime_fmt: date→string formats --------------------------------
  def fnStrftimeFmt(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyyMMdd").as("ymd"),
        date_format(col("o_orderdate"), "HH:mm:ss").as("hms"),
        date_format(col("o_orderdate"), "yyyy-MM").as("year_month"))
      .orderBy(col("o_orderkey"))

  private val fnStrftimeFmtOracle =
    """SELECT o_orderkey,
      |       strftime(CAST(o_orderdate AS TIMESTAMP), '%Y%m%d') AS ymd,
      |       strftime(CAST(o_orderdate AS TIMESTAMP), '%H:%M:%S') AS hms,
      |       strftime(CAST(o_orderdate AS TIMESTAMP), '%Y-%m') AS year_month
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // ---- fn_pct_change: week-over-week via Scalars.pctChange -----------------
  def fnPctChange(s: SparkSession, dir: String): DataFrame = {
    val daily = lineitem(s, dir)
      .groupBy(to_date(col("l_shipdate")).as("d"))
      .agg(round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
        .as("rev_dec"))
    val w = Window.orderBy(col("d")) // lint:series-grain (day-grain)
    daily
      .withColumn("prev_dec", lag(col("rev_dec"), 1).over(w))
      .filter(col("prev_dec").isNotNull)
      .select(col("d"), col("rev_dec").cast("double").as("revenue"),
        pctChange(col("rev_dec").cast("double"), col("prev_dec").cast("double"))
          .as("pct_change"))
      .orderBy(col("d"))
  }

  private val fnPctChangeOracle =
    """WITH daily AS (
      |  SELECT CAST(l_shipdate AS DATE) AS d,
      |         ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS rev_dec
      |  FROM lineitem GROUP BY 1),
      |w AS (SELECT d, rev_dec, LAG(rev_dec) OVER (ORDER BY d) AS prev_dec FROM daily)
      |SELECT d, CAST(rev_dec AS DOUBLE) AS revenue,
      |       CAST(ROUND(CAST((CAST(rev_dec AS DOUBLE) - CAST(prev_dec AS DOUBLE)) / CAST(prev_dec AS DOUBLE) * 100 AS DECIMAL(28,6)), 2) AS DOUBLE) AS pct_change
      |FROM w WHERE prev_dec IS NOT NULL ORDER BY d""".stripMargin

  // ---- agg_python_sum_len: driver-side sum()/len() stats analog ------------
  // (ref `monday_etl_automated.py:326-328,557`: totals accumulated in Python)
  def aggPythonSumLen(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir).agg(
      count(lit(1)).as("n_records"),
      round(sum(col("l_extendedprice").cast("decimal(18,4)")), 2)
        .cast("double").as("total_revenue"),
      count(when(col("l_extendedprice") > 0, lit(1))).as("n_with_revenue"))

  private val aggPythonSumLenOracle =
    """SELECT COUNT(*) AS n_records,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_revenue,
      |       COUNT(CASE WHEN l_extendedprice > 0 THEN 1 END) AS n_with_revenue
      |FROM lineitem""".stripMargin

  // --------------------------------------------------------------------------

  private val sharedSql: Map[String, String] = Map(
    "fn_case_when" -> fnCaseWhenSql,
    "fn_arith_diff" -> fnArithDiffSql)

  private def runSql(q: String): Q =
    (s, dir) => { Tables.registerAll(s, dir); s.sql(q) }

  // ---- fn_edit_distance -----------------------------------------------------
  // Bounded Levenshtein — the entity-resolution scalar (join_fuzzy_block
  // uses it inside a blocked join; this key pins the SCALAR semantics
  // incl. the bound): Spark's 3-arg levenshtein short-circuits the DP
  // once the bound is exceeded and reports -1 — at 100 TB the bound is
  // the difference between O(len²) per pair and O(bound·len) (the reason
  // every record-linkage engine exposes it). The oracle derives the same
  // -1 contract from the unbounded distance.
  def fnEditDistance(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "customer")
      .filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey"),
        expr("levenshtein(c_name, c_mktsegment)").as("d"),
        expr("levenshtein(c_name, c_mktsegment, 5)").as("d_bounded"))
      .orderBy(col("c_custkey"))

  private val fnEditDistanceOracle =
    """SELECT c_custkey,
      |       levenshtein(c_name, c_mktsegment) AS d,
      |       CASE WHEN levenshtein(c_name, c_mktsegment) <= 5
      |            THEN levenshtein(c_name, c_mktsegment) ELSE -1 END AS d_bounded
      |FROM customer WHERE c_custkey % 50 = 0 ORDER BY c_custkey""".stripMargin

  // ---- agg_any_all ----------------------------------------------------------
  // Boolean quantifier aggregates (SQL:2023 ANY/ALL; bool_and/bool_or):
  // "did every order in the class clear the floor" / "does the class
  // contain an open order" — the assertion-style aggregates data-quality
  // checks compose from. Exact boolean algebra, partial-agg friendly
  // (AND/OR are associative+commutative).
  def aggAnyAll(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(expr("bool_and(o_totalprice > 1000.0)").as("all_above_floor"),
        expr("bool_or(o_orderstatus = 'O')").as("any_open"),
        count(when(col("o_totalprice") <= 1000.0, 1)).as("n_below"))
      .orderBy(col("o_orderpriority"))

  private val aggAnyAllOracle =
    """SELECT o_orderpriority,
      |       bool_and(o_totalprice > 1000.0) AS all_above_floor,
      |       bool_or(o_orderstatus = 'O') AS any_open,
      |       COUNT(CASE WHEN o_totalprice <= 1000.0 THEN 1 END) AS n_below
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- fn_time_bucket -------------------------------------------------------
  // Arbitrary-interval time bucketing (TimescaleDB's time_bucket / Spark
  // 3.3+ window().start): 15-minute buckets computed in the INTEGER
  // domain — unix_micros div bucket_micros, re-materialized as a
  // timestamp — so the bucket edge is a pure integer fact both engines
  // share (no engine-specific interval-truncation semantics in the hashed
  // output). The per-bucket aggregate keeps the key honest: a wrong edge
  // moves events across buckets and breaks both count and sum.
  def fnTimeBucket(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(expr("timestamp_micros((unix_micros(ts) div 900000000) * 900000000)")
        .as("bucket_start"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .orderBy(col("bucket_start"))

  private val fnTimeBucketOracle =
    """SELECT make_timestamp((epoch_us(ts) // 900000000) * 900000000) AS bucket_start,
      |       COUNT(*) AS n_events,
      |       CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- window_ratio_total ---------------------------------------------------
  // ratio_to_report — each day's share of its month's revenue: the share
  // denominator is a windowed total (partition = month), the division is
  // ONE double op over two exact decimal-rooted operands, so the doubles
  // are bit-identical across engines. The month window runs over the
  // day-grain aggregate, never the raw rows.
  def windowRatioTotal(s: SparkSession, dir: String): DataFrame = {
    val daily = events(s, dir)
      .groupBy(to_date(col("ts")).as("d"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
      .withColumn("m", trunc(col("d"), "month"))
    val w = Window.partitionBy(col("m"))
    daily
      .withColumn("month_cents", sum(col("cents")).over(w))
      .select(col("d"), col("cents"),
        (col("cents").cast("double") / col("month_cents").cast("double"))
          .as("share_of_month"))
      .orderBy(col("d"))
  }

  private val windowRatioTotalOracle =
    """WITH daily AS (
      |  SELECT CAST(ts AS DATE) AS d,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1)
      |SELECT d, cents,
      |       CAST(cents AS DOUBLE) /
      |       CAST(SUM(cents) OVER (PARTITION BY date_trunc('month', d)) AS DOUBLE)
      |         AS share_of_month
      |FROM daily ORDER BY d""".stripMargin

  // ---- fn_url_parse: URL decomposition against constructed truth -----------
  // parse_url over synthesized URLs whose every component is a pure
  // function of doc_id — the oracle never parses anything, it CONSTRUCTS
  // the expected host/path/params from the same arithmetic, so Spark's
  // real parser (java.net.URI under parse_url) is checked against ground
  // truth rather than against another parser's opinion. Components chosen
  // to exercise the sharp edges: mixed-case host (parse_url preserves
  // case; canonicalization is dedup_url_canonical's job), an explicit
  // port (HOST excludes it), a multi-segment path, and a 3-param query
  // with a targeted single-key extraction. At 100 TB this is a
  // codegen'd scalar over the scan — no shuffle but the presentation
  // sort.
  def fnUrlParse(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        expr("""concat('https://Host', doc_id % 7, '.Example.COM:8443/p',
               |  doc_id % 5, '/', doc_id, '?utm_source=news&q=',
               |  doc_id % 13, '&b=', doc_id % 3)""".stripMargin).as("url"))
      .select(col("doc_id"), col("url"),
        expr("parse_url(url, 'PROTOCOL')").as("proto"),
        expr("parse_url(url, 'HOST')").as("host"),
        expr("parse_url(url, 'PATH')").as("path"),
        expr("parse_url(url, 'QUERY', 'q')").as("q_param"),
        expr("parse_url(url, 'QUERY', 'b')").as("b_param"))
      .orderBy(col("doc_id"))

  private val fnUrlParseOracle =
    """SELECT doc_id,
      |       concat('https://Host', doc_id % 7, '.Example.COM:8443/p',
      |              doc_id % 5, '/', doc_id, '?utm_source=news&q=',
      |              doc_id % 13, '&b=', doc_id % 3) AS url,
      |       'https' AS proto,
      |       concat('Host', doc_id % 7, '.Example.COM') AS host,
      |       concat('/p', doc_id % 5, '/', doc_id) AS path,
      |       CAST(doc_id % 13 AS VARCHAR) AS q_param,
      |       CAST(doc_id % 3 AS VARCHAR) AS b_param
      |FROM documents ORDER BY doc_id""".stripMargin

  // ---- fn_regex_extract_all: multi-match extraction --------------------------
  // regexp_extract_all over synthesized social-style text — the
  // entity-extraction scalar (hashtags/mentions) every enrichment pass
  // runs: matches are POSITIONAL, so the array order is part of the
  // contract (both engines scan left to right), and the match count +
  // joined rendering ride in the hashed output. The text is constructed
  // from doc_id arithmetic so the oracle knows exactly which entities
  // exist where; a no-hashtag variant (doc_id % 11 == 0) pins the
  // empty-array path. Codegen'd scalar over the scan — no shuffle.
  def fnRegexExtractAll(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"),
        expr("""case when doc_id % 11 = 0
               |  then concat('plain note ', doc_id, ' without entities')
               |  else concat('note #topic', doc_id % 7, ' for @user', doc_id % 3,
               |              ' and #area', doc_id % 5, ' cc @user', doc_id % 4)
               |end""".stripMargin).as("text"))
      .select(col("doc_id"), col("text"),
        expr("regexp_extract_all(text, '#\\\\w+', 0)").as("tags"),
        expr("regexp_extract_all(text, '@\\\\w+', 0)").as("mentions"))
      .select(col("doc_id"),
        size(col("tags")).as("n_tags"),
        concat_ws("|", col("tags")).as("tags_joined"),
        size(col("mentions")).as("n_mentions"),
        concat_ws("|", col("mentions")).as("mentions_joined"))
      .orderBy(col("doc_id"))

  private val fnRegexExtractAllOracle =
    """WITH t AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 11 = 0
      |           THEN concat('plain note ', doc_id, ' without entities')
      |           ELSE concat('note #topic', doc_id % 7, ' for @user', doc_id % 3,
      |                       ' and #area', doc_id % 5, ' cc @user', doc_id % 4)
      |         END AS text
      |  FROM documents)
      |SELECT doc_id,
      |       CAST(len(regexp_extract_all(text, '#\w+')) AS INT) AS n_tags,
      |       COALESCE(array_to_string(regexp_extract_all(text, '#\w+'), '|'), '') AS tags_joined,
      |       CAST(len(regexp_extract_all(text, '@\w+')) AS INT) AS n_mentions,
      |       COALESCE(array_to_string(regexp_extract_all(text, '@\w+'), '|'), '') AS mentions_joined
      |FROM t ORDER BY doc_id""".stripMargin

  // ---- fn_unicode_nfc -------------------------------------------------------
  // Unicode canonical composition (NFC) through the native graft_nfc
  // expression — the normalization every multilingual pipeline applies
  // BEFORE hashing text (dedup/minhash/fingerprint treat 'é' (U+00E9)
  // and 'e'+COMBINING ACUTE as different documents otherwise). The
  // fixture corpus is ASCII, so decomposed sequences are PLANTED
  // deterministically: every doc gains a 'Cafe' suffix and, unless
  // doc_id % 4 == 0 (the already-normalized control slice), one
  // combining mark chosen by doc_id % 3 (U+0301/U+0300/U+0308 — all
  // compose with 'e' under stable, ancient Unicode rules, so the JDK
  // normalizer and DuckDB's utf8proc agree byte-for-byte). The per-lang
  // report pins the composed-row count, the exact one-codepoint-per-
  // composition shrink, and the corpus fingerprint OVER THE NORMALIZED
  // text — a normalizer that mangled any row fails the hash. Scale:
  // graft_nfc runs inside whole-stage codegen with an isNormalized
  // fast path (a UDF here would break the stage around the corpus
  // scan); the rest is one map-side-combining hash agg.
  def fnUnicodeNfc(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        concat(substring(col("text"), 1, 16), lit("Cafe"),
          when(col("doc_id") % 4 === 0, lit(""))
            .when(col("doc_id") % 3 === 0, lit("\u0301"))
            .when(col("doc_id") % 3 === 1, lit("\u0300"))
            .otherwise(lit("\u0308"))).as("raw"))
      .withColumn("norm", nfc(col("raw")))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("norm") =!= col("raw"), 1L).otherwise(0L))
          .as("n_composed"),
        sum(length(col("raw"))).as("chars_raw"),
        sum(length(col("norm"))).as("chars_nfc"),
        Scalars.corpusFp(col("doc_id"), col("norm")).as("corpus_fp"))
      .orderBy(col("lang"))
  }

  private val fnUnicodeNfcOracle =
    s"""WITH r AS (
       |  SELECT doc_id, lang,
       |         substring(text, 1, 16) || 'Cafe' ||
       |         CASE WHEN doc_id % 4 = 0 THEN ''
       |              WHEN doc_id % 3 = 0 THEN chr(769)
       |              WHEN doc_id % 3 = 1 THEN chr(768)
       |              ELSE chr(776) END AS raw
       |  FROM documents),
       |n AS (SELECT doc_id, lang, raw, nfc_normalize(raw) AS norm FROM r)
       |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |       CAST(SUM(CASE WHEN norm <> raw THEN 1 ELSE 0 END) AS BIGINT)
       |         AS n_composed,
       |       CAST(SUM(length(raw)) AS BIGINT) AS chars_raw,
       |       CAST(SUM(length(norm)) AS BIGINT) AS chars_nfc,
       |       ${Scalars.corpusFpSql("doc_id", "norm")} AS corpus_fp
       |FROM n GROUP BY lang ORDER BY lang""".stripMargin

  // ---- fn_useragent_parse -------------------------------------------------
  // User-agent decomposition — the other web-log scalar a crawl-curation
  // pass runs beside fn_ip_cidr: browser family, major version, and OS
  // from the raw UA string (bot filtering keys on family='curl'/'bot';
  // per-OS slice counts feed crawl-quality dashboards). UAs are
  // CONSTRUCTED from user_id arithmetic over four real-world template
  // shapes (Chrome/Win, Safari/Mac, Firefox/Linux, curl) so both engines
  // know the truth; parsing is regexp_extract + a CASE chain — the same
  // tools a production UDF-free parse uses, entirely inside whole-stage
  // codegen over the user-grain distinct.
  def fnUseragentParse(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        expr("""CASE user_id % 4
               |  WHEN 0 THEN concat('Mozilla/5.0 (Windows NT 10.0; Win64; x64) ',
               |    'AppleWebKit/537.36 (KHTML, like Gecko) Chrome/',
               |    100 + user_id % 30, '.0.0.0 Safari/537.36')
               |  WHEN 1 THEN concat('Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) ',
               |    'AppleWebKit/605.1.15 (KHTML, like Gecko) Version/',
               |    14 + user_id % 6, '.1 Safari/605.1.15')
               |  WHEN 2 THEN concat('Mozilla/5.0 (X11; Linux x86_64; rv:',
               |    90 + user_id % 40, '.0) Gecko/20100101 Firefox/',
               |    90 + user_id % 40, '.0')
               |  ELSE concat('curl/8.', user_id % 12, '.0')
               |END""".stripMargin).as("ua"))
      .select(col("user_id"), col("ua"),
        expr("""CASE WHEN ua LIKE 'curl/%' THEN 'curl'
               |     WHEN ua LIKE '%Firefox/%' THEN 'firefox'
               |     WHEN ua LIKE '%Chrome/%' THEN 'chrome'
               |     WHEN ua LIKE '%Version/%Safari/%' THEN 'safari'
               |     ELSE 'other' END""".stripMargin).as("family"),
        expr("""CAST(CASE WHEN ua LIKE 'curl/%'
               |         THEN regexp_extract(ua, 'curl/([0-9]+)', 1)
               |     WHEN ua LIKE '%Firefox/%'
               |         THEN regexp_extract(ua, 'Firefox/([0-9]+)', 1)
               |     WHEN ua LIKE '%Chrome/%'
               |         THEN regexp_extract(ua, 'Chrome/([0-9]+)', 1)
               |     ELSE regexp_extract(ua, 'Version/([0-9]+)', 1)
               |END AS INT)""".stripMargin).as("major"),
        expr("""CASE WHEN ua LIKE '%Windows%' THEN 'windows'
               |     WHEN ua LIKE '%Mac OS X%' THEN 'macos'
               |     WHEN ua LIKE '%Linux%' THEN 'linux'
               |     ELSE 'none' END""".stripMargin).as("os"))
      .orderBy(col("user_id"))

  private val fnUseragentParseOracle =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |ua AS (
      |  SELECT user_id,
      |         CASE user_id % 4
      |           WHEN 0 THEN concat('Mozilla/5.0 (Windows NT 10.0; Win64; x64) ',
      |             'AppleWebKit/537.36 (KHTML, like Gecko) Chrome/',
      |             100 + user_id % 30, '.0.0.0 Safari/537.36')
      |           WHEN 1 THEN concat('Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) ',
      |             'AppleWebKit/605.1.15 (KHTML, like Gecko) Version/',
      |             14 + user_id % 6, '.1 Safari/605.1.15')
      |           WHEN 2 THEN concat('Mozilla/5.0 (X11; Linux x86_64; rv:',
      |             90 + user_id % 40, '.0) Gecko/20100101 Firefox/',
      |             90 + user_id % 40, '.0')
      |           ELSE concat('curl/8.', user_id % 12, '.0')
      |         END AS ua
      |  FROM u)
      |SELECT user_id, ua,
      |       CASE WHEN ua LIKE 'curl/%' THEN 'curl'
      |            WHEN ua LIKE '%Firefox/%' THEN 'firefox'
      |            WHEN ua LIKE '%Chrome/%' THEN 'chrome'
      |            WHEN ua LIKE '%Version/%Safari/%' THEN 'safari'
      |            ELSE 'other' END AS family,
      |       CAST(CASE WHEN ua LIKE 'curl/%' THEN regexp_extract(ua, 'curl/([0-9]+)', 1)
      |            WHEN ua LIKE '%Firefox/%' THEN regexp_extract(ua, 'Firefox/([0-9]+)', 1)
      |            WHEN ua LIKE '%Chrome/%' THEN regexp_extract(ua, 'Chrome/([0-9]+)', 1)
      |            ELSE regexp_extract(ua, 'Version/([0-9]+)', 1)
      |       END AS INT) AS major,
      |       CASE WHEN ua LIKE '%Windows%' THEN 'windows'
      |            WHEN ua LIKE '%Mac OS X%' THEN 'macos'
      |            WHEN ua LIKE '%Linux%' THEN 'linux'
      |            ELSE 'none' END AS os
      |FROM ua ORDER BY user_id""".stripMargin

  // ---- fn_ip_cidr -------------------------------------------------------
  // IPv4 parse + CIDR classification — the scalar every web-crawl
  // curation pass runs on access logs before text ever enters the
  // corpus: dotted-quad → uint32, RFC 1918 / loopback membership (the
  // rows a PII/safety filter drops), and the /24 network aggregate key
  // (the grain abuse- and rate-analyses group on). Addresses are
  // CONSTRUCTED from user_id arithmetic so both engines know the exact
  // truth, with the first octet cycling through private (10/8,
  // 172.16/12 — including 172.x octets on BOTH sides of the /12
  // boundary), loopback (127/8) and public space; parsing is
  // split+cast, pure codegen over the scan. User grain (one distinct
  // hash-agg) keeps the output stable and the classification exercise
  // per-address, not per-event.
  def fnIpCidr(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "events")
      .select(col("user_id")).distinct()
      .select(col("user_id"),
        expr("""concat(
               |  CASE user_id % 5 WHEN 0 THEN 10 WHEN 1 THEN 172
               |                   WHEN 2 THEN 192 WHEN 3 THEN 127 ELSE 203 END,
               |  '.', (user_id * 3) % 32, '.', (user_id * 7) % 256,
               |  '.', (user_id * 13) % 256)""".stripMargin).as("ip"))
      .withColumn("oct", expr("transform(split(ip, '\\\\.'), x -> CAST(x AS BIGINT))"))
      .select(col("user_id"), col("ip"),
        expr("oct[0] * 16777216 + oct[1] * 65536 + oct[2] * 256 + oct[3]")
          .as("ip_u32"),
        expr("""CASE WHEN oct[0] = 10
               |       OR (oct[0] = 172 AND oct[1] BETWEEN 16 AND 31)
               |       OR (oct[0] = 192 AND oct[1] = 168) THEN 'private'
               |     WHEN oct[0] = 127 THEN 'loopback'
               |     ELSE 'public' END""".stripMargin).as("ip_class"),
        expr("concat(oct[0], '.', oct[1], '.', oct[2], '.0/24')").as("net24"))
      .orderBy(col("user_id"))

  private val fnIpCidrOracle =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |ip AS (
      |  SELECT user_id,
      |         concat(CASE user_id % 5 WHEN 0 THEN 10 WHEN 1 THEN 172
      |                                 WHEN 2 THEN 192 WHEN 3 THEN 127 ELSE 203 END,
      |                '.', (user_id * 3) % 32, '.', (user_id * 7) % 256,
      |                '.', (user_id * 13) % 256) AS ip
      |  FROM u),
      |o AS (
      |  SELECT user_id, ip,
      |         CAST(string_split(ip, '.')[1] AS BIGINT) AS o1,
      |         CAST(string_split(ip, '.')[2] AS BIGINT) AS o2,
      |         CAST(string_split(ip, '.')[3] AS BIGINT) AS o3,
      |         CAST(string_split(ip, '.')[4] AS BIGINT) AS o4
      |  FROM ip)
      |SELECT user_id, ip,
      |       o1 * 16777216 + o2 * 65536 + o3 * 256 + o4 AS ip_u32,
      |       CASE WHEN o1 = 10 OR (o1 = 172 AND o2 BETWEEN 16 AND 31)
      |                 OR (o1 = 192 AND o2 = 168) THEN 'private'
      |            WHEN o1 = 127 THEN 'loopback'
      |            ELSE 'public' END AS ip_class,
      |       concat(o1, '.', o2, '.', o3, '.0/24') AS net24
      |FROM o ORDER BY user_id""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "fn_ip_cidr" -> (fnIpCidr _),
    "fn_useragent_parse" -> (fnUseragentParse _),
    "fn_unicode_nfc" -> (fnUnicodeNfc _),
    "fn_regex_extract_all" -> (fnRegexExtractAll _),
    "fn_url_parse" -> (fnUrlParse _),
    "fn_time_bucket" -> (fnTimeBucket _),
    "window_ratio_total" -> (windowRatioTotal _),
    "fn_edit_distance" -> (fnEditDistance _),
    "agg_any_all" -> (aggAnyAll _),
    "fn_cast_float" -> (fnCastFloat _),
    "fn_parse_date" -> (fnParseDate _),
    "fn_parse_timestamp_iso" -> (fnParseTimestampIso _),
    "fn_split_timeline" -> (fnSplitTimeline _),
    "fn_json_extract" -> (fnJsonExtract _),
    "fn_round" -> (fnRound _),
    "fn_date_sub_current" -> (fnDateSubCurrent _),
    "fn_date_diff" -> (fnDateDiff _),
    "fn_strftime_fmt" -> (fnStrftimeFmt _),
    "fn_pct_change" -> (fnPctChange _),
    "agg_python_sum_len" -> (aggPythonSumLen _)
  ) ++ sharedSql.map { case (k, sql) => k -> runSql(sql) }

  val oracles: Map[String, String] = Map(
    "fn_ip_cidr" -> fnIpCidrOracle,
    "fn_useragent_parse" -> fnUseragentParseOracle,
    "fn_unicode_nfc" -> fnUnicodeNfcOracle,
    "fn_regex_extract_all" -> fnRegexExtractAllOracle,
    "fn_url_parse" -> fnUrlParseOracle,
    "fn_time_bucket" -> fnTimeBucketOracle,
    "window_ratio_total" -> windowRatioTotalOracle,
    "fn_edit_distance" -> fnEditDistanceOracle,
    "agg_any_all" -> aggAnyAllOracle,
    "fn_cast_float" -> fnCastFloatOracle,
    "fn_parse_date" -> fnParseDateOracle,
    "fn_parse_timestamp_iso" -> fnParseTimestampIsoOracle,
    "fn_split_timeline" -> fnSplitTimelineOracle,
    "fn_json_extract" -> fnJsonExtractOracle,
    "fn_round" -> fnRoundOracle,
    "fn_date_sub_current" -> fnDateSubCurrentOracle,
    "fn_date_diff" -> fnDateDiffOracle,
    "fn_strftime_fmt" -> fnStrftimeFmtOracle,
    "fn_pct_change" -> fnPctChangeOracle,
    "agg_python_sum_len" -> aggPythonSumLenOracle
  ) ++ sharedSql
}
