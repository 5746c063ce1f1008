package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables.load

/** Data-quality profiling and statistical aggregates — the checks a
  * pipeline runs on every ingested snapshot before trusting it (the
  * reference's `ETLMonitor` health report grows into exactly this once
  * "row count > 0" stops being enough — SURVEY.md §3.2).
  *
  * Portability contract: every statistic is either an exact integer count
  * or is computed from exact scale-0 decimal sums cast to double with ONE
  * correctly-rounded conversion, then combined with an identically-shaped
  * IEEE-double expression in both engines — so corr/slope hash-match
  * bit-for-bit without any epsilon.
  */
object DataProfile {

  type Q = (SparkSession, String) => DataFrame

  // ---- profile_columns ------------------------------------------------------
  // Per-column profile of `orders` in two linear passes: null count +
  // min/max in one global aggregate (rendered to strings AFTER the typed
  // min/max, so numeric order is preserved), exact distinct counts in a
  // separate Expand-based multi-distinct aggregate (one Expand branch per
  // distinct column, hash-aggregated — see the r15 note below) — at
  // 100 TB production swaps countDistinct for approx_count_distinct (HLL,
  // mergeable, one pass, no Expand) and keeps the same shape; exact is
  // kept here because the oracle compares values. The unpivot to long
  // form is a zero-shuffle Generate over the single assembled row.
  def profileColumns(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val profiled = Seq("o_orderkey", "o_custkey", "o_orderstatus",
      "o_totalprice", "o_orderdate", "o_orderpriority")
    // typed min/max first, string rendering second; doubles via DECIMAL(18,2)
    // and timestamps via DATE so both engines print the identical text
    def str(c: String) = o.schema(c).dataType.typeName match {
      case "double"    => (x: org.apache.spark.sql.Column) =>
        x.cast("decimal(18,2)").cast("string")
      case "timestamp" => (x: org.apache.spark.sql.Column) =>
        x.cast("date").cast("string")
      case _           => (x: org.apache.spark.sql.Column) => x.cast("string")
    }
    // r15 (guide §1.2 — fix the shape before the knobs): one combined agg
    // mixed the 6 exact countDistincts (Expand-based two-phase de-dup)
    // with string-typed min/max aggregates, whose immutable buffers force
    // SortAggregate — a FULL SORT of the 7×-expanded row stream on a
    // 7-column key before any de-dup. Split apart, the expanded de-dup
    // stage is pure grouping (HashAggregate, zero sorts) and the
    // null/min/max panel is one global no-grouping pass; the two one-row
    // results glue back with a broadcast cross join. Costs a second scan
    // of `orders`, which is linear — the sort it removes is O(6n log n)
    // over the expanded stream. Values are unchanged.
    val dAggs = profiled.map(c => countDistinct(col(c)).as(s"nd_$c"))
    val mAggs = profiled.flatMap { c =>
      Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nn_$c"),
        str(c)(min(col(c))).as(s"mn_$c"),
        str(c)(max(col(c))).as(s"mx_$c"))
    }
    val one = o.agg(dAggs.head, dAggs.tail: _*)
      .crossJoin(broadcast(o.agg(mAggs.head, mAggs.tail: _*)))
    val stackArgs = profiled
      .map(c => s"'$c', nn_$c, nd_$c, mn_$c, mx_$c")
      .mkString(", ")
    one.select(expr(
        s"stack(${profiled.size}, $stackArgs) AS " +
          "(column_name, n_null, n_distinct, min_str, max_str)"))
      .orderBy(col("column_name"))
  }

  private val profileColumnsOracle = {
    def sel(c: String, mn: String, mx: String) =
      s"""SELECT '$c' AS column_name,
         |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_null,
         |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
         |  $mn AS min_str, $mx AS max_str FROM orders""".stripMargin
    def plain(c: String) =
      sel(c, s"CAST(MIN($c) AS VARCHAR)", s"CAST(MAX($c) AS VARCHAR)")
    def dbl(c: String) =
      sel(c, s"CAST(CAST(MIN($c) AS DECIMAL(18,2)) AS VARCHAR)",
        s"CAST(CAST(MAX($c) AS DECIMAL(18,2)) AS VARCHAR)")
    def ts(c: String) =
      sel(c, s"CAST(CAST(MIN($c) AS DATE) AS VARCHAR)",
        s"CAST(CAST(MAX($c) AS DATE) AS VARCHAR)")
    Seq(plain("o_orderkey"), plain("o_custkey"), plain("o_orderstatus"),
      dbl("o_totalprice"), ts("o_orderdate"), plain("o_orderpriority"))
      .mkString("", "\nUNION ALL\n", "\nORDER BY column_name")
  }

  // ---- profile_columns_approx ----------------------------------------------
  // The 100 TB shape of profile_columns: per-column APPROXIMATE distinct
  // counts from mergeable 64-register HyperLogLog sketches in long form —
  // NO Expand (profile_columns pays one Expand branch per exact
  // countDistinct over the full scan; this plan's only row multiplication
  // is the 6-way stack Generate, and the register aggregate map-side
  // combines down to ≤ 64 rows per column before any shuffle). Registers
  // use the repo's exact-arithmetic HLL device (sketch_hll_distinct):
  // bucket = first 8 md5 bits mod 64, rho = leading-zero rank of the next
  // 32 bits, harmonic mean kept as an exact BIGINT sum over denominator
  // 2^33 — so the ESTIMATE ITSELF is reproduced bit-for-bit by the
  // oracle (the sketch is deterministic; "approx" refers to its relation
  // to the true cardinality, which the spec bounds against the exact
  // key). Values are rendered to strings with profile_columns' exact
  // device (double → DECIMAL(18,2), timestamp → DATE) so both engines
  // hash identical bytes. Two sketches over disjoint slices merge by
  // register-wise max — the property that makes this the production plan.
  private val ApproxProfiled = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderdate", "o_orderpriority")

  def profileColumnsApprox(s: SparkSession, dir: String): DataFrame = {
    val o = load(s, dir, "orders")
    val rendered = o.select(
      col("o_orderkey").cast("string").as("o_orderkey"),
      col("o_custkey").cast("string").as("o_custkey"),
      col("o_orderstatus").cast("string").as("o_orderstatus"),
      col("o_totalprice").cast("decimal(18,2)").cast("string")
        .as("o_totalprice"),
      col("o_orderdate").cast("date").cast("string").as("o_orderdate"),
      col("o_orderpriority").cast("string").as("o_orderpriority"))
    val stackArgs = ApproxProfiled.map(c => s"'$c', $c").mkString(", ")
    val long = rendered
      .select(expr(s"stack(${ApproxProfiled.size}, $stackArgs) AS (column_name, v)"))
    // ONE scan serves both panels (r15, guide §2.4 — the null count and
    // the register maxima previously each re-scanned orders through the
    // 6× stack): md5(NULL) is NULL, so a null v lands in a NULL bucket
    // with a NULL rho (w is NULL → both when-branches fall through) and
    // the (column, bucket) hash-agg carries the null count as the NULL
    // bucket's row count. The ≤ 6 × 65-row result is localCheckpointed
    // because two branches (nulls, registers) consume it — without the
    // checkpoint each branch would replay the full scan (the aggGini
    // read-thrice precedent).
    val byBucket = long
      .select(col("column_name"),
        (conv(substring(md5(col("v")), 1, 2), 16, 10).cast("long") % 64)
          .as("bucket"),
        conv(substring(md5(col("v")), 3, 8), 16, 10).cast("long").as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(33)).otherwise(lit(33) - length(bin(col("w")))))
      .groupBy(col("column_name"), col("bucket"))
      .agg(max(col("rho")).as("m"), count(lit(1)).as("cnt"))
      .localCheckpoint()
    // empty registers participate at m = 0 (contributing 2^33 to the
    // harmonic sum): a 6 × 64 spine left-joins the hit registers
    val names = ApproxProfiled.map(Tuple1.apply)
    import s.implicits._
    // every column is present in the spine, so a column with zero nulls
    // still reports n_null = 0 (exactly as the old per-column sum did).
    // Everything downstream of the checkpoint is ≤ 6 × 65 rows; the
    // broadcast hints keep these glue joins map-side (the checkpointed
    // frame carries no stats, so the planner would otherwise SMJ them —
    // 12 Exchanges of sub-400-row frames in the unhinted plan).
    val nulls = names.toDF("column_name")
      .join(broadcast(byBucket.filter(col("bucket").isNull)
          .select(col("column_name"), col("cnt"))),
        Seq("column_name"), "left")
      .select(col("column_name"), coalesce(col("cnt"), lit(0L)).as("n_null"))
    val regs = byBucket.filter(col("bucket").isNotNull)
      .select(col("column_name"), col("bucket"), col("m"))
    val spine = names.toDF("column_name")
      .crossJoin(s.range(0, 64).select(col("id").as("bucket")))
    val sketch = spine.join(broadcast(regs), Seq("column_name", "bucket"), "left")
      .select(col("column_name"), coalesce(col("m"), lit(0)).as("m"))
    val est = sketch.groupBy(col("column_name"))
      .agg(sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_buckets_hit"),
        expr("sum(shiftleft(1L, 33 - m))").as("s_scaled"))
      // standard small-range correction: LinearCounting below 2.5m when
      // registers are still empty — identical expression shape both sides
      .withColumn("n_distinct_approx", expr(
        """cast(round(cast(
          |  case when 64 - n_buckets_hit > 0
          |        and 0.709 * 64 * 64 * 8589934592.0 / cast(s_scaled as double) < 160.0
          |       then 64.0 * ln(64.0 / cast(64 - n_buckets_hit as double))
          |       else 0.709 * 64 * 64 * 8589934592.0 / cast(s_scaled as double) end
          |as decimal(28,6)), 2) as double)""".stripMargin))
    est.join(broadcast(nulls), Seq("column_name"))
      .select(col("column_name"), col("n_null"), col("n_distinct_approx"))
      .orderBy(col("column_name"))
  }

  private val profileColumnsApproxOracle = {
    def ren(c: String, v: String) =
      s"SELECT '$c' AS column_name, $v AS v FROM orders"
    val long = Seq(
      ren("o_orderkey", "CAST(o_orderkey AS VARCHAR)"),
      ren("o_custkey", "CAST(o_custkey AS VARCHAR)"),
      ren("o_orderstatus", "o_orderstatus"),
      ren("o_totalprice", "CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"),
      ren("o_orderdate", "CAST(CAST(o_orderdate AS DATE) AS VARCHAR)"),
      ren("o_orderpriority", "o_orderpriority")).mkString("\nUNION ALL\n")
    s"""WITH long AS (
       |$long),
       |nulls AS (
       |  SELECT column_name,
       |         CAST(SUM(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null
       |  FROM long GROUP BY 1),
       |regs AS (
       |  SELECT column_name,
       |         ((instr('0123456789abcdef', substring(md5(v), 1, 1)) - 1) * 16
       |          + (instr('0123456789abcdef', substring(md5(v), 2, 1)) - 1)) % 64 AS bucket,
       |         CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rho
       |  FROM (
       |    SELECT column_name, v,
       |           CAST((instr('0123456789abcdef', substring(md5(v), 3, 1)) - 1) AS BIGINT) * 268435456
       |           + (instr('0123456789abcdef', substring(md5(v), 4, 1)) - 1) * 16777216
       |           + (instr('0123456789abcdef', substring(md5(v), 5, 1)) - 1) * 1048576
       |           + (instr('0123456789abcdef', substring(md5(v), 6, 1)) - 1) * 65536
       |           + (instr('0123456789abcdef', substring(md5(v), 7, 1)) - 1) * 4096
       |           + (instr('0123456789abcdef', substring(md5(v), 8, 1)) - 1) * 256
       |           + (instr('0123456789abcdef', substring(md5(v), 9, 1)) - 1) * 16
       |           + (instr('0123456789abcdef', substring(md5(v), 10, 1)) - 1) AS w
       |    FROM long WHERE v IS NOT NULL) t),
       |mreg AS (SELECT column_name, bucket, MAX(rho) AS m FROM regs GROUP BY 1, 2),
       |sketch AS (
       |  SELECT sp.column_name, sp.bucket, COALESCE(mreg.m, 0) AS m
       |  FROM (SELECT n.column_name, b.bucket
       |        FROM (SELECT DISTINCT column_name FROM long) n,
       |             (SELECT unnest(generate_series(0, 63)) AS bucket) b) sp
       |  LEFT JOIN mreg ON mreg.column_name = sp.column_name
       |                AND mreg.bucket = sp.bucket),
       |est AS (
       |  SELECT column_name,
       |         CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
       |         CAST(SUM(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT) AS s_scaled
       |  FROM sketch GROUP BY 1)
       |SELECT est.column_name, nulls.n_null,
       |       CAST(ROUND(CAST(
       |         CASE WHEN 64 - n_buckets_hit > 0
       |               AND 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) < 160.0
       |              THEN 64.0 * ln(64.0 / CAST(64 - n_buckets_hit AS DOUBLE))
       |              ELSE 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) END
       |       AS DECIMAL(28,6)), 2) AS DOUBLE) AS n_distinct_approx
       |FROM est JOIN nulls ON nulls.column_name = est.column_name
       |ORDER BY est.column_name""".stripMargin
  }

  // ---- agg_bitmap_distinct --------------------------------------------------
  // EXACT mergeable distinct counts via fixed-width bitmaps — the third
  // cardinality mode beside exact countDistinct (Expand, not mergeable
  // across slices) and HLL (mergeable, approximate): when the key space
  // is dense integers (user ids here), a bitmap OR-aggregate gives exact
  // distincts that still merge associatively — the ClickHouse
  // groupBitmap / Druid "exact unique" design. Per (day, bucket =
  // user_id div 64) the 64 users collapse into one BIGINT mask by
  // bit_or(1 << (user_id % 64)); per day the distinct count is
  // Σ bit_count(mask). Both aggregates combine map-side and two disjoint
  // slices merge by bucket-wise OR (spec-pinned), so the plan shuffles
  // ≤ one mask row per (day, live bucket) — never raw user ids. Shift
  // semantics at bit 63 agree across engines (Spark shiftleft wraps to
  // Long.MinValue; the oracle states that constant explicitly).
  def aggBitmapDistinct(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
      .select(to_date(col("ts")).as("day"),
        expr("user_id div 64").as("bucket"),
        expr("CAST(user_id % 64 AS INT)").as("bit"))
    val masks = e.groupBy(col("day"), col("bucket"))
      .agg(expr("bit_or(shiftleft(1L, bit))").as("mask"))
    masks.groupBy(col("day"))
      .agg(sum(expr("bit_count(mask)")).as("n_distinct_users"),
        count(lit(1)).as("n_buckets"))
      .orderBy(col("day"))
  }

  private val aggBitmapDistinctOracle =
    """WITH e AS (
      |  SELECT CAST(ts AS DATE) AS day, user_id // 64 AS bucket,
      |         CAST(user_id % 64 AS INT) AS bit
      |  FROM events),
      |masks AS (
      |  SELECT day, bucket,
      |         bit_or(CASE WHEN bit = 63 THEN CAST(-9223372036854775808 AS BIGINT)
      |                     ELSE CAST(1 AS BIGINT) << bit END) AS mask
      |  FROM e GROUP BY 1, 2)
      |SELECT day, CAST(SUM(bit_count(mask)) AS BIGINT) AS n_distinct_users,
      |       COUNT(*) AS n_buckets
      |FROM masks GROUP BY 1 ORDER BY day""".stripMargin

  // ---- agg_gini -------------------------------------------------------------
  // Gini coefficient of per-customer revenue concentration — the
  // inequality profile ("do 1% of customers carry 50% of revenue?") a
  // curation pipeline runs on domain/source distributions before fixing
  // a sampling mix. Exact rank formulation: customers sorted ascending by
  // (total, custkey) — the composite is unique, so both engines rank
  // identically — and G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx). Every sum is
  // exact (Σ i·x as scale-0 DECIMAL / HUGEINT: rank × cents overflows a
  // bigint sum past ~sf1), cast to double once, one identically-shaped
  // final expression. The global rank runs as RankedOver's two-pass
  // distributed rank — customer grain is NOT series grain (r10 VERDICT:
  // an unpartitioned row_number over every customer total is a
  // single-task sort at 100 TB), so totals bucket by sampled quantile
  // boundaries, rank locally per bucket, and add broadcast per-bucket
  // offsets. The totals are localCheckpointed once because the rank
  // helper reads them three times (quantile pass, bucket counts, local
  // ranks) and each recompute would replay the orders shuffle; the
  // checkpoint is customer-grain, spillable.
  def aggGini(s: SparkSession, dir: String): DataFrame = {
    val totals = load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("tot"))
      .localCheckpoint()
    val ranked = RankedOver.withGlobalRanks(totals, Nil, "tot",
      tieCols = Seq("o_custkey"),
      buckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    ranked.agg(count(lit(1)).as("n_customers"),
        sum(col("tot")).as("total_cents"),
        sum(expr("CAST(__grn AS DECIMAL(38,0)) * tot")).as("ix"))
      .withColumn("dn", expr("cast(n_customers as double)"))
      .withColumn("sxd", expr("cast(total_cents as double)"))
      .withColumn("ixd", expr("cast(ix as double)"))
      .select(col("n_customers"), col("total_cents"),
        expr("""cast(round(cast(
               |  (2.0 * ixd - (dn + 1.0) * sxd) / (dn * sxd)
               |as decimal(28,8)), 6) as double)""".stripMargin).as("gini"))
  }

  // ---- agg_pareto_deciles -----------------------------------------------------
  // The Lorenz curve agg_gini collapses to one number, served as a
  // relation: customers ranked by revenue DESC, cut into 10 equal-count
  // deciles, cumulative revenue share per decile in exact ppm — the
  // "top 10% of customers carry X% of revenue" concentration table every
  // account-planning dashboard wants next to the Gini scalar (the scalar
  // says HOW concentrated; the curve says WHERE). Same scale discipline
  // as gini: customer grain is NOT series grain, so the global descending
  // rank rides RankedOver's two-pass distributed rank (rank by negated
  // cents, ties to custkey); the decile rollup is a 10-row frame where a
  // plain running sum is free. Shares are truncating integer ppm — no
  // float division in the relation.
  def aggParetoDeciles(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val totals = load(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(expr("CAST(round(o_totalprice * 100) AS BIGINT)")).as("cents"))
      .withColumn("neg", -col("cents"))
      .localCheckpoint() // read thrice by the rank helper (gini precedent)
    val ranked = RankedOver.withGlobalRanks(totals, Nil, "neg",
      tieCols = Seq("o_custkey"),
      buckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    val dec = ranked
      .withColumn("decile", expr("cast((__grn - 1) * 10 div __gn + 1 as int)"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("decile_cents"))
    val w = Window.orderBy(col("decile")) // lint:series-grain (decile-grain: 10 rows)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dec
      .withColumn("cum_cents", sum(col("decile_cents")).over(w))
      .crossJoin(broadcast(totals.agg(sum(col("cents")).as("total_cents"))))
      // cum_cents·10⁶ passes 2^63 around sf1 (the agg_gini HUGEINT lesson)
      // — the product rides DECIMAL(38,0)/HUGEINT on both engines
      .select(col("decile"), col("n_customers"), col("decile_cents"),
        col("cum_cents"),
        expr("""cast((cast(cum_cents as decimal(38,0)) * 1000000)
               |     div total_cents as bigint)""".stripMargin).as("share_ppm"))
      .orderBy(col("decile"))
  }

  private val aggParetoDecilesOracle =
    """WITH cust AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT cents,
      |         ROW_NUMBER() OVER (ORDER BY cents DESC, o_custkey) AS rn,
      |         COUNT(*) OVER () AS n
      |  FROM cust),
      |g AS (
      |  SELECT CAST((rn - 1) * 10 // n + 1 AS INT) AS decile,
      |         CAST(COUNT(*) AS BIGINT) AS n_customers,
      |         CAST(SUM(cents) AS BIGINT) AS decile_cents
      |  FROM r GROUP BY 1),
      |t AS (SELECT CAST(SUM(cents) AS BIGINT) AS total_cents FROM cust)
      |SELECT decile, n_customers, decile_cents,
      |       CAST(SUM(decile_cents) OVER (ORDER BY decile) AS BIGINT) AS cum_cents,
      |       CAST(CAST(SUM(decile_cents) OVER (ORDER BY decile) AS HUGEINT)
      |            * 1000000 // total_cents AS BIGINT) AS share_ppm
      |FROM g, t ORDER BY decile""".stripMargin

  private val aggGiniOracle =
    """WITH totals AS (
      |  SELECT o_custkey,
      |         CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS tot
      |  FROM orders GROUP BY 1),
      |ranked AS (
      |  SELECT tot, ROW_NUMBER() OVER (ORDER BY tot, o_custkey) AS rn FROM totals),
      |agg AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
      |         CAST(SUM(tot) AS BIGINT) AS total_cents,
      |         SUM(CAST(rn AS HUGEINT) * tot) AS ix
      |  FROM ranked),
      |d AS (
      |  SELECT n_customers, total_cents,
      |         CAST(n_customers AS DOUBLE) AS dn,
      |         CAST(total_cents AS DOUBLE) AS sxd,
      |         CAST(ix AS DOUBLE) AS ixd
      |  FROM agg)
      |SELECT n_customers, total_cents,
      |       CAST(ROUND(CAST(
      |         (2.0 * ixd - (dn + 1.0) * sxd) / (dn * sxd)
      |       AS DECIMAL(28,8)), 6) AS DOUBLE) AS gini
      |FROM d""".stripMargin

  // ---- agg_skew_kurt --------------------------------------------------------
  // Skewness + excess kurtosis of extendedprice per returnflag — the
  // distribution-shape profile beside corr/slope (agg_corr_regr) and the
  // robust median/MAD (anomaly_daily_mad): the moments a drift monitor
  // tracks to catch a fattening tail before the mean moves. Same exactness
  // device as agg_corr_regr taken to 4th powers: cents are summed to exact
  // power sums S1..S4 (S3/S4 as scale-0 DECIMAL(38,0) — cents^4 ≈ 1.2e28
  // and the sum stays inside 38 digits past sf10; the BIGINT path would
  // overflow at the very first row), each exact sum cast to double ONCE,
  // then the raw-moment formulas evaluated STEPWISE so both engines round
  // the identical intermediate doubles (m2^1.5 is written m2·sqrt(m2) —
  // sqrt and ·,/ are correctly-rounded IEEE in both engines; pow(x,1.5)
  // is libm-dependent and never used). Spec cross-checks Spark's built-in
  // skewness/kurtosis to 1e-9. One map-side-combining hash agg at any SF.
  def aggSkewKurt(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("c"))
    li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("s1"),
        sum(expr("CAST(c * c AS DECIMAL(38,0))")).as("s2"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c")).as("s3"),
        sum(expr("CAST(c AS DECIMAL(38,0)) * c * c * c")).as("s4"))
      .withColumn("dn", expr("cast(n as double)"))
      .withColumn("mean", expr("cast(s1 as double) / dn"))
      .withColumn("r2", expr("cast(s2 as double) / dn"))
      .withColumn("r3", expr("cast(s3 as double) / dn"))
      .withColumn("r4", expr("cast(s4 as double) / dn"))
      .withColumn("m2", expr("r2 - mean * mean"))
      .withColumn("m3", expr("r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean"))
      .withColumn("m4", expr(
        "r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 - 3.0 * mean * mean * mean * mean"))
      .select(col("l_returnflag"), col("n"),
        expr("mean / 100.0").as("mean_price"),
        expr("m3 / (m2 * sqrt(m2))").as("skewness"),
        expr("m4 / (m2 * m2) - 3.0").as("kurtosis"))
      .orderBy(col("l_returnflag"))
  }

  private val aggSkewKurtOracle =
    """WITH q AS (
      |  SELECT l_returnflag, CAST(round(l_extendedprice * 100) AS BIGINT) AS c
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(c) AS BIGINT) AS s1,
      |         SUM(CAST(c AS HUGEINT) * c) AS s2,
      |         SUM(CAST(c AS HUGEINT) * c * c) AS s3,
      |         SUM(CAST(c AS HUGEINT) * c * c * c) AS s4
      |  FROM q GROUP BY 1),
      |d AS (
      |  SELECT l_returnflag, n, CAST(n AS DOUBLE) AS dn,
      |         CAST(s1 AS DOUBLE) AS d1, CAST(s2 AS DOUBLE) AS d2,
      |         CAST(s3 AS DOUBLE) AS d3, CAST(s4 AS DOUBLE) AS d4
      |  FROM m),
      |r AS (
      |  SELECT l_returnflag, n, dn, d1 / dn AS mean,
      |         d2 / dn AS r2, d3 / dn AS r3, d4 / dn AS r4
      |  FROM d),
      |c AS (
      |  SELECT l_returnflag, n, mean, r2, r3, r4,
      |         r2 - mean * mean AS m2,
      |         r3 - 3.0 * mean * r2 + 2.0 * mean * mean * mean AS m3,
      |         r4 - 4.0 * mean * r3 + 6.0 * mean * mean * r2 - 3.0 * mean * mean * mean * mean AS m4
      |  FROM r)
      |SELECT l_returnflag, n, mean / 100.0 AS mean_price,
      |       m3 / (m2 * sqrt(m2)) AS skewness,
      |       m4 / (m2 * m2) - 3.0 AS kurtosis
      |FROM c ORDER BY l_returnflag""".stripMargin

  // ---- agg_ab_ztest ----------------------------------------------------------
  // Two-proportion A/B significance — the experiment readout: arms split
  // by the md5-of-user coin (sample_split_hash's contract, ~50/50 at the
  // 128/256 threshold), conversion = the user's purchase total exceeds
  // the per-user AVERAGE (an exact integer compare, cents·N > S — every
  // fixture user purchases at least once, so a did-purchase flag would
  // be degenerate x = N and the z-statistic undefined). The two-
  // proportion z statistic is algebraically a RATIO OF INTEGERS:
  //   z² = (x₁n₂ − x₂n₁)² · N / (n₁ n₂ x (N−x)),  x = x₁+x₂, N = n₁+n₂
  // so the key reports z²·10⁶ by exact truncating division (numerator in
  // DECIMAL(38,0)/HUGEINT — (x₁n₂)²·N overflows BIGINT at sf0.01
  // already) and the significance verdict compares that integer against
  // the χ²₁ 95% critical value as the integer constant 3_841_459 — no
  // normal CDF, no libm, no float anywhere. Scale: one scan to user
  // grain (map-side-combining agg), then a 2-row arm rollup.
  def aggAbZtest(s: SparkSession, dir: String): DataFrame = {
    val perUser = load(s, dir, "events")
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val tot = perUser.agg(count(lit(1)).as("n_users"),
      sum(col("cents")).as("s_cents"))
    val users = perUser.crossJoin(broadcast(tot))
      .withColumn("converted",
        when(col("cents") * col("n_users") > col("s_cents"), 1L).otherwise(0L))
      .withColumn("arm",
        when(conv(substring(md5(col("user_id").cast("string")), 1, 2), 16, 10)
          .cast("int") < 128, "A").otherwise("B"))
    val arms = users.groupBy(col("arm"))
      .agg(count(lit(1)).as("n"), sum(col("converted")).as("x"))
    val wide = arms.groupBy()
      .agg(max(when(col("arm") === "A", col("n"))).as("n_a"),
        max(when(col("arm") === "A", col("x"))).as("x_a"),
        max(when(col("arm") === "B", col("n"))).as("n_b"),
        max(when(col("arm") === "B", col("x"))).as("x_b"))
    wide.select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        expr("""CAST((x_a * n_b - x_b * n_a) AS DECIMAL(38,0))
               | * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 1000000
               |div (CAST(n_a AS DECIMAL(38,0)) * n_b * (x_a + x_b)
               |     * (n_a + n_b - x_a - x_b))""".stripMargin).as("z2_micro"))
      .withColumn("significant_95", col("z2_micro") > 3841459L)
  }

  private val aggAbZtestOracle =
    """WITH u AS (
      |  SELECT user_id, CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users, CAST(SUM(cents) AS BIGINT) AS s_cents FROM u),
      |uc AS (
      |  SELECT user_id,
      |         CASE WHEN cents * n_users > s_cents THEN 1 ELSE 0 END AS converted,
      |         CASE WHEN (instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16
      |                 + (instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) < 128
      |              THEN 'A' ELSE 'B' END AS arm
      |  FROM u, t),
      |a AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(converted) AS BIGINT) AS x
      |      FROM uc GROUP BY arm),
      |w AS (
      |  SELECT MAX(CASE WHEN arm = 'A' THEN n END) AS n_a,
      |         MAX(CASE WHEN arm = 'A' THEN x END) AS x_a,
      |         MAX(CASE WHEN arm = 'B' THEN n END) AS n_b,
      |         MAX(CASE WHEN arm = 'B' THEN x END) AS x_b
      |  FROM a)
      |SELECT n_a, x_a, n_b, x_b,
      |       CAST(CAST((x_a * n_b - x_b * n_a) AS HUGEINT)
      |              * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 1000000
      |            // (CAST(n_a AS HUGEINT) * n_b * (x_a + x_b)
      |               * (n_a + n_b - x_a - x_b)) AS BIGINT) AS z2_micro,
      |       CAST(CAST((x_a * n_b - x_b * n_a) AS HUGEINT)
      |              * (x_a * n_b - x_b * n_a) * (n_a + n_b) * 1000000
      |            // (CAST(n_a AS HUGEINT) * n_b * (x_a + x_b)
      |               * (n_a + n_b - x_a - x_b)) AS BIGINT) > 3841459 AS significant_95
      |FROM w""".stripMargin

  // ---- agg_benford_check ----------------------------------------------------
  // Benford's-law first-digit audit on order totals — the forensic
  // data-quality screen for fabricated or truncated monetary columns
  // (real multiplicative amounts follow log10(1+1/d); synthetic uniform
  // generators, capped fields, or copy-paste batches do not — a large
  // deviation is the FLAG, which is exactly what this fixture's uniform
  // totals trip, and the spec pins that non-conformance as the expected
  // outcome). Exactness: the observed share is n_d·1000 div N (truncating
  // integer per-mille) against the PRECOMPUTED integer Benford table —
  // floor(log10(1+1/d)·1000) = 301,176,124,96,79,66,57,51,45 — so no
  // log10 ever runs at query time. One map-side-combining hash agg over
  // a first-character projection; 9 output rows at any scale.
  private val BenfordPm = Seq(301L, 176L, 124L, 96L, 79L, 66L, 57L, 51L, 45L)

  def aggBenfordCheck(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val exp = BenfordPm.zipWithIndex
      .map { case (pm, i) => (i + 1L, pm) }.toDF("digit", "benford_pm")
    val counts = load(s, dir, "orders")
      .select(expr(
        "CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS STRING), 1, 1) AS BIGINT)")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("total"))
    exp.join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        col("benford_pm"))
      .crossJoin(broadcast(tot))
      .withColumn("observed_pm", expr("n * 1000 div total"))
      .withColumn("dev_pm", abs(col("observed_pm") - col("benford_pm")))
      .select(col("digit"), col("n"), col("observed_pm"), col("benford_pm"),
        col("dev_pm"))
      .orderBy(col("digit"))
  }

  private val aggBenfordCheckOracle = {
    val expected = BenfordPm.zipWithIndex
      .map { case (pm, i) => s"(${i + 1}, $pm)" }.mkString(", ")
    s"""WITH expected(digit, benford_pm) AS (VALUES $expected),
       |c AS (
       |  SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), 1, 1) AS BIGINT) AS digit,
       |         CAST(COUNT(*) AS BIGINT) AS n
       |  FROM orders GROUP BY 1),
       |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
       |SELECT CAST(e.digit AS BIGINT) AS digit, COALESCE(c.n, 0) AS n,
       |       CAST(COALESCE(c.n, 0) * 1000 // total AS BIGINT) AS observed_pm,
       |       CAST(e.benford_pm AS BIGINT) AS benford_pm,
       |       CAST(ABS(COALESCE(c.n, 0) * 1000 // total - e.benford_pm) AS BIGINT) AS dev_pm
       |FROM expected e LEFT JOIN c ON c.digit = e.digit, t
       |ORDER BY e.digit""".stripMargin
  }

  // ---- agg_diversity --------------------------------------------------------
  // Source-mix diversity per language over the document corpus — the
  // data-recipe monitor that catches one source silently swallowing a
  // language slice (the mix drifting toward a single crawl) before the
  // trained model does. The index is SIMPSON's λ (the probability two
  // docs drawn without replacement share a source), its Gini-Simpson
  // complement 1−λ, and the effective source count 1/λ — chosen over
  // Shannon entropy DELIBERATELY: λ = Σ nᵢ(nᵢ−1) / (N(N−1)) is exactly
  // rational (integer numerator and denominator, ONE correctly-rounded
  // IEEE division each at the end), while entropy needs ln(), which is
  // libm-dependent and not bit-reproducible across engines (the
  // sqrt-not-pow portability contract, agg_skew_kurt). Power sums ride
  // DECIMAL(38,0) so nᵢ ~ 1e12 per-source counts at 100 TB can't
  // overflow. Scale: one (lang, source)-grain map-side-combining hash
  // agg, then a |langs|·|sources|-row rollup — no second corpus scan.
  def aggDiversity(s: SparkSession, dir: String): DataFrame = {
    val c = load(s, dir, "documents")
      .groupBy(col("lang"), col("source")).agg(count(lit(1)).as("n"))
    c.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_sources"), sum(col("n")).as("n_docs"),
        sum(expr("CAST(n AS DECIMAL(38,0)) * (n - 1)")).as("num"))
      .withColumn("den", expr("CAST(n_docs AS DECIMAL(38,0)) * (n_docs - 1)"))
      .select(col("lang"), col("n_docs"), col("n_sources"),
        expr("cast(num as double) / cast(den as double)").as("simpson"),
        expr("1.0 - cast(num as double) / cast(den as double)")
          .as("gini_simpson"),
        expr("cast(den as double) / cast(num as double)")
          .as("effective_sources"))
      .orderBy(col("lang"))
  }

  private val aggDiversityOracle =
    """WITH c AS (
      |  SELECT lang, source, COUNT(*) AS n FROM documents GROUP BY 1, 2),
      |g AS (
      |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_sources,
      |         CAST(SUM(n) AS BIGINT) AS n_docs,
      |         SUM(CAST(n AS HUGEINT) * (n - 1)) AS num
      |  FROM c GROUP BY 1),
      |d AS (
      |  SELECT lang, n_docs, n_sources, num,
      |         CAST(n_docs AS HUGEINT) * (n_docs - 1) AS den
      |  FROM g)
      |SELECT lang, n_docs, n_sources,
      |       CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS simpson,
      |       1.0 - CAST(num AS DOUBLE) / CAST(den AS DOUBLE) AS gini_simpson,
      |       CAST(den AS DOUBLE) / CAST(num AS DOUBLE) AS effective_sources
      |FROM d ORDER BY lang""".stripMargin

  // ---- agg_corr_regr --------------------------------------------------------
  // Pearson correlation + OLS slope/intercept of extendedprice on quantity
  // per returnflag. Built-in corr()/regr_slope() accumulate doubles in
  // partition order — not reproducible across engines or partitionings — so
  // the co-moments are computed EXACTLY instead: quantize both measures to
  // integer cents, sum the bigint products as scale-0 decimals (one
  // map-side-combining hash agg, overflow-safe to petabyte row counts),
  // cast each exact sum to double once, and evaluate the textbook formulas
  //   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
  //   corr  = (n·Σxy − Σx·Σy) / √((n·Σx² − (Σx)²)(n·Σy² − (Σy)²))
  // with the same expression shape both engines — deterministic to the bit.
  // Cent-scaling cancels in slope and corr; intercept is descaled by 100.
  def aggCorrRegr(s: SparkSession, dir: String): DataFrame = {
    val li = load(s, dir, "lineitem")
      .select(col("l_returnflag"),
        expr("CAST(round(l_quantity * 100) AS BIGINT)").as("xc"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("yc"))
    li.groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("xc")).as("sx"),
        sum(col("yc")).as("sy"),
        sum(expr("CAST(xc * yc AS DECIMAL(38,0))")).as("sxy"),
        sum(expr("CAST(xc * xc AS DECIMAL(38,0))")).as("sxx"),
        sum(expr("CAST(yc * yc AS DECIMAL(38,0))")).as("syy"))
      .select(col("l_returnflag"), col("n"),
        expr("""((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                |  CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                | (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                |  CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)))"""
          .stripMargin).as("slope"),
        expr("""((CAST(sy AS DOUBLE) -
                |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                |   (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
                |  CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0"""
          .stripMargin).as("intercept"),
        expr("""((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
                |  CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
                | sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
                |       CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
                |      (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
                |       CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))"""
          .stripMargin).as("corr"))
      .orderBy(col("l_returnflag"))
  }

  private val aggCorrRegrOracle =
    """WITH q AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_quantity * 100) AS BIGINT) AS xc,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS yc
      |  FROM lineitem),
      |m AS (
      |  SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS n,
      |         CAST(SUM(xc) AS BIGINT) AS sx, CAST(SUM(yc) AS BIGINT) AS sy,
      |         SUM(CAST(xc * yc AS DECIMAL(38,0))) AS sxy,
      |         SUM(CAST(xc * xc AS DECIMAL(38,0))) AS sxx,
      |         SUM(CAST(yc * yc AS DECIMAL(38,0))) AS syy
      |  FROM q GROUP BY 1)
      |SELECT l_returnflag, n,
      |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |   (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) AS slope,
      |  ((CAST(sy AS DOUBLE) -
      |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |     (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))) *
      |    CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE)) / 100.0 AS intercept,
      |  ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
      |    CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
      |   sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
      |         CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
      |        (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
      |         CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))) AS corr
      |FROM m ORDER BY l_returnflag""".stripMargin

  // ---- anomaly_daily_mad ----------------------------------------------------
  // Robust outlier detection over the daily revenue series — the alerting
  // rule behind "did yesterday's load look wrong?" (the reference's
  // threshold alerts use fixed cutoffs; median/MAD adapts the cutoff to
  // the series itself and, unlike mean/stddev, one broken day cannot drag
  // the baseline toward itself). Everything is exact integers: daily
  // totals in cents, the LOWER median (row_number (n+1) div 2 with a day
  // tie-break — a real series value, no fractional midpoint), MAD as the
  // lower median of absolute deviations, and the flag by integer
  // cross-multiply: dev > 2.5 · 1.4826 · MAD ⟺ dev·10000 > MAD·37065
  // (1.4826 = the normal-consistency constant that makes MAD comparable
  // to a stddev). The windows run over the DAY-GRAIN aggregate — tens of
  // rows per month at any corpus size (same single-partition escape
  // hatch as the flagship LAG report: partition by year if the series
  // ever gets long).
  def anomalyDailyMad(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = load(s, dir, "events")
      .groupBy(to_date(col("ts")).as("day"))
      .agg(sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val all = Window.partitionBy() // lint:series-grain (day-grain)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val byVal = Window.orderBy(col("cents"), col("day")) // lint:series-grain (day-grain)
    val withMed = daily
      .withColumn("n", count(lit(1)).over(all))
      .withColumn("rn", row_number().over(byVal))
      .withColumn("med",
        max(when(col("rn") === expr("(n + 1) div 2"), col("cents"))).over(all))
      .withColumn("dev", abs(col("cents") - col("med")))
    val byDev = Window.orderBy(col("dev"), col("day")) // lint:series-grain (day-grain)
    withMed
      .withColumn("rn2", row_number().over(byDev))
      .withColumn("mad",
        max(when(col("rn2") === expr("(n + 1) div 2"), col("dev"))).over(all))
      .select(col("day"), col("cents"), col("med"), col("dev"), col("mad"),
        (col("dev") * 10000L > col("mad") * 37065L).as("is_anomaly"))
      .orderBy(col("day"))
  }

  private val anomalyDailyMadOracle =
    """WITH d AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events GROUP BY 1),
      |r AS (
      |  SELECT day, cents,
      |         COUNT(*) OVER () AS n,
      |         ROW_NUMBER() OVER (ORDER BY cents, day) AS rn
      |  FROM d),
      |m AS (
      |  SELECT day, cents,  n,
      |         MAX(CASE WHEN rn = (n + 1) // 2 THEN cents END) OVER () AS med
      |  FROM r),
      |v AS (
      |  SELECT day, cents, n, med, abs(cents - med) AS dev,
      |         ROW_NUMBER() OVER (ORDER BY abs(cents - med), day) AS rn2
      |  FROM m),
      |w AS (
      |  SELECT day, cents, med, dev,
      |         MAX(CASE WHEN rn2 = (n + 1) // 2 THEN dev END) OVER () AS mad
      |  FROM v)
      |SELECT day, cents, med, dev, mad,
      |       dev * 10000 > mad * 37065 AS is_anomaly
      |FROM w ORDER BY day""".stripMargin

  // ---- agg_weighted_median --------------------------------------------------
  // Weighted lower median per group: the median unit price where each row
  // counts quantity-many units (the "typical price a unit actually sold
  // at" statistic; the unweighted median over-weights small orders).
  // Definition: the smallest value whose RANGE-frame cumulative weight
  // reaches half the group total — the range frame makes tied values
  // share one cumulative weight, so no tie-break is needed and both
  // engines pick the identical cent value by integer cross-multiply
  // (2·cumw ≥ totw).
  //
  // Scale shape (r10 VERDICT de-weak): the cumulative window used to run
  // over RAW lineitem rows partitioned by l_returnflag — 3 partitions, so
  // one task sorts a third of the fact table at 100×. Fix: pre-collapse
  // to VALUE grain first (groupBy(flag, cent-value) → Σ quantity — a
  // map-side-combining aggregate), then run the identical RANGE window
  // over the collapsed series. RANGE-frame semantics over tied values are
  // unchanged by construction (ties share one cumulative weight either
  // way), so the result is bit-identical while the window input drops
  // from |lineitem| to |distinct prices per flag| — bounded by the price
  // domain, not the fact table.
  def aggWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = load(s, dir, "lineitem").select(col("l_returnflag"),
      expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("yc"),
      expr("CAST(round(l_quantity) AS BIGINT)").as("qw"))
      .groupBy(col("l_returnflag"), col("yc"))
      .agg(sum(col("qw")).as("qw"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("yc")) // lint:series-grain (value-grain collapsed input)
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val t = d.groupBy(col("l_returnflag")).agg(sum(col("qw")).as("totw"))
    d.withColumn("cumw", sum(col("qw")).over(w))
      .join(t, Seq("l_returnflag"))
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy(col("l_returnflag"))
      .agg(min(col("yc")).as("wmed_cents"), min(col("totw")).as("tot_units"))
      .orderBy(col("l_returnflag"))
  }

  private val aggWeightedMedianOracle =
    """WITH d AS (
      |  SELECT l_returnflag,
      |         CAST(round(l_extendedprice * 100) AS BIGINT) AS yc,
      |         CAST(round(l_quantity) AS BIGINT) AS qw
      |  FROM lineitem),
      |t AS (SELECT l_returnflag, CAST(SUM(qw) AS BIGINT) AS totw FROM d GROUP BY 1),
      |c AS (
      |  SELECT l_returnflag, yc,
      |         CAST(SUM(qw) OVER (PARTITION BY l_returnflag ORDER BY yc
      |           RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw
      |  FROM d)
      |SELECT c.l_returnflag, MIN(c.yc) AS wmed_cents,
      |       CAST(MIN(t.totw) AS BIGINT) AS tot_units
      |FROM c JOIN t ON t.l_returnflag = c.l_returnflag
      |WHERE c.cumw * 2 >= t.totw
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- window_cume_dist -----------------------------------------------------
  // Distributional position windows — percent_rank (rank-based, ties share
  // a rank) and cume_dist (fraction of rows ≤ current) per priority class:
  // the "where does this order sit in its class" report. Both are exact
  // rational functions of integer ranks/counts evaluated as ONE IEEE
  // division, so the doubles are bit-identical across engines despite
  // being doubles. The stats run over the FULL class; the output then
  // samples 1/97 of rows by key so the compared result stays small while
  // every emitted rank reflects the whole distribution.
  //
  // Scale shape (r10 VERDICT de-weak): percent_rank/cume_dist used to
  // partition full orders by o_orderpriority — 5 values, single-task
  // sorts at 100×. Now the ranks come from RankedOver's two-pass
  // distributed rank (quantile buckets + local rank + broadcast offsets)
  // and the two statistics are rebuilt from exact integer ranks with the
  // engines' own formulas — (rank−1)/(n−1) and peers_cum/n, each ONE
  // IEEE division of exactly-representable integers — so the doubles
  // stay bit-identical to the oracle's native window functions.
  def windowCumeDist(s: SparkSession, dir: String): DataFrame = {
    val ranked = RankedOver.withGlobalRanks(
      load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice")),
      Seq("o_orderpriority"), "o_totalprice",
      buckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
    ranked
      .withColumn("pct_rank",
        when(col("__gn") === 1, lit(0.0)).otherwise(
          (col("__grank") - 1).cast("double") / (col("__gn") - 1).cast("double")))
      .withColumn("cume",
        col("__gcum").cast("double") / col("__gn").cast("double"))
      .filter(col("o_orderkey") % 97 === 0)
      .select(col("o_orderkey"), col("o_orderpriority"),
        col("pct_rank"), col("cume"))
      .orderBy(col("o_orderkey"))
  }

  private val windowCumeDistOracle =
    """SELECT o_orderkey, o_orderpriority, pct_rank, cume FROM (
      |  SELECT o_orderkey, o_orderpriority,
      |         percent_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS pct_rank,
      |         cume_dist() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice) AS cume
      |  FROM orders)
      |WHERE o_orderkey % 97 = 0 ORDER BY o_orderkey""".stripMargin

  // ---- agg_collect_set ------------------------------------------------------
  // Set-valued aggregation surfaced portably: the distinct statuses seen
  // per priority class, SORTED then joined to one string — collect_set's
  // nondeterministic element order (and the engines' differing array
  // renderings) never reaches the compared output. The companion count
  // pins cardinality independently of the rendering.
  def aggCollectSet(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .groupBy(col("o_orderpriority"))
      .agg(
        concat_ws(",", sort_array(collect_set(col("o_orderstatus"))))
          .as("statuses"),
        countDistinct(col("o_orderstatus")).as("n_statuses"))
      .orderBy(col("o_orderpriority"))

  private val aggCollectSetOracle =
    """SELECT o_orderpriority,
      |       string_agg(DISTINCT o_orderstatus, ',' ORDER BY o_orderstatus)
      |         AS statuses,
      |       COUNT(DISTINCT o_orderstatus) AS n_statuses
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- window_topn_pergroup -------------------------------------------------
  // Top-3 line items per order by price — the per-group top-k every
  // report needs, written the way Spark can OPTIMIZE: a row_number window
  // immediately filtered by rank ≤ k lets the planner insert
  // WindowGroupLimit (Spark 3.5+), which keeps only k rows per group
  // DURING the sort instead of ranking every row and discarding — at
  // 100 TB that is the difference between shuffling k·groups rows and
  // shuffling the corpus through a full per-group sort. Tie-break on
  // linenumber makes the pick total-ordered; output samples 1/101 of
  // orders after the window so the compare stays small.
  def windowTopnPergroup(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("l_orderkey"))
      .orderBy(col("l_extendedprice").desc, col("l_linenumber"))
    load(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .filter(col("l_orderkey") % 101 === 0)
      .select(col("l_orderkey"), col("rn"), col("l_linenumber"),
        col("l_extendedprice"))
      .orderBy(col("l_orderkey"), col("rn"))
  }

  private val windowTopnPergroupOracle =
    """SELECT l_orderkey, rn, l_linenumber, l_extendedprice FROM (
      |  SELECT l_orderkey, l_linenumber, l_extendedprice,
      |         ROW_NUMBER() OVER (PARTITION BY l_orderkey
      |           ORDER BY l_extendedprice DESC, l_linenumber) AS rn
      |  FROM lineitem)
      |WHERE rn <= 3 AND l_orderkey % 101 = 0
      |ORDER BY l_orderkey, rn""".stripMargin

  // ---- join_dpp_prune -------------------------------------------------------
  // Dynamic partition pruning: the fact table is STAGED as a
  // status-partitioned parquet layout and joined to a tiny staged dim
  // whose filter (keep = true) selects one status — the planner can't
  // know which partition survives until it evaluates the dim side, so it
  // injects a dynamicpruning subquery into the fact scan's PARTITION
  // FILTERS (reusing the broadcast) and the fact side reads one
  // partition's files instead of all three. Both sides go through disk
  // so Catalyst cannot constant-fold the dim away (the staging is the
  // point: DPP is a scan-time feature). At 100 TB this is the star-join
  // pattern: the date-dim filter prunes the fact's date partitions
  // without the query author naming them.
  //
  // One staged copy per orders source — repeated calls in one session
  // (the bench runs every key 3-5×) reuse the layout instead of
  // accumulating a full orders copy per call (r9 ADVICE). The staging is
  // still the point of the key: DPP is a scan-time feature, so what
  // matters is that fact and dim go through DISK, not that the disk copy
  // is fresh per query.
  def joinDppPrune(s: SparkSession, dir: String): DataFrame = {
    val base = graft.Artifacts.derive("dpp", s"$dir/orders.parquet") { b =>
      val orders = load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
      orders.write.partitionBy("o_orderstatus").parquet(s"$b/fact")
      // the dim predicate must be a real equality (tag = 'keep'): Catalyst
      // folds a boolean `keep = true` column to a bare attribute reference,
      // which fails the planner's isLikelySelective test and suppresses DPP
      orders.select(col("o_orderstatus")).distinct()
        .withColumn("tag",
          when(col("o_orderstatus") === "O", lit("keep")).otherwise(lit("drop")))
        .write.parquet(s"$b/dim")
    }
    val fact = graft.Artifacts.read(s, s"$base/fact")
    val dim = graft.Artifacts.read(s, s"$base/dim").filter(col("tag") === "keep")
    fact.join(broadcast(dim), Seq("o_orderstatus"))
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_total"))
      .orderBy(col("o_orderstatus"))
  }

  private val joinDppPruneOracle =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE)
      |         AS sum_total
      |FROM orders WHERE o_orderstatus = 'O'
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- agg_max_by -----------------------------------------------------------
  // arg-max/arg-min aggregates (max_by/min_by; DuckDB arg_max/arg_min) —
  // "WHICH order had the day's peak", the lookup join every
  // greatest-n-per-group rewrite exists to avoid. Both engines leave the
  // tie winner unspecified, so the ordering measure is made UNIQUE by
  // folding the key into its low digits: cents·10^8 + orderkey is one
  // exact bigint both engines compare identically — the hashed output is
  // deterministic without relying on either engine's tie behavior.
  def aggMaxBy(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "orders")
      .withColumn("tie_key",
        expr("CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey"))
      .groupBy(col("o_orderstatus"))
      .agg(expr("max_by(o_orderkey, tie_key)").as("peak_orderkey"),
        expr("min_by(o_orderkey, tie_key)").as("floor_orderkey"),
        max(col("o_totalprice")).as("peak_total"))
      .orderBy(col("o_orderstatus"))

  private val aggMaxByOracle =
    """SELECT o_orderstatus,
      |  arg_max(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey)
      |    AS peak_orderkey,
      |  arg_min(o_orderkey, CAST(round(o_totalprice * 100) AS BIGINT) * 100000000 + o_orderkey)
      |    AS floor_orderkey,
      |  MAX(o_totalprice) AS peak_total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- fn_null_safe_eq ------------------------------------------------------
  // Null-safe equality (<=> / IS NOT DISTINCT FROM) — the comparison
  // snapshot-diff and CDC-merge logic needs on nullable columns, where
  // plain `=` silently drops NULL=NULL rows: per event, a nullable field
  // (the JSON k bucketed to a decile, nulled above the median — a
  // deterministic mixed-null population both engines derive identically)
  // is compared to its event-ordered predecessor under both semantics,
  // and the aggregate counts exactly where they diverge.
  //
  // Scale shape (r11): the predecessor used to come from an UNPARTITIONED
  // lag over every event — the same single-task-sort class as the r10
  // rank-window trio, just with lag instead of rank. Now it is
  // RankedOver.withGlobalLag: quantile-bucketed lag windows plus a
  // bucket-grain boundary stitch, identical prev chain, no global sort.
  def fnNullSafeEq(s: SparkSession, dir: String): DataFrame = {
    val e = load(s, dir, "events")
      .select(col("event_id"),
        expr("""CASE WHEN CAST(get_json_object(props, '$.k') AS BIGINT) < 50
               |     THEN CAST(get_json_object(props, '$.k') AS BIGINT) div 10
               |     END""".stripMargin).as("src"))
    RankedOver.withGlobalLag(e, "event_id", "src",
        buckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .withColumn("prev_src", col("__plag"))
      .agg(
        count(when(col("src") === col("prev_src"), 1)).as("eq_matches"),
        count(when(col("src") <=> col("prev_src"), 1)).as("nse_matches"),
        count(when(col("src").isNull && col("prev_src").isNull, 1))
          .as("both_null"))
      .select(col("eq_matches"), col("nse_matches"), col("both_null"),
        (col("nse_matches") - col("eq_matches")).as("null_only_matches"))
  }

  private val fnNullSafeEqOracle =
    """WITH e AS (
      |  SELECT event_id,
      |         CASE WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) < 50
      |              THEN CAST(json_extract_string(props, '$.k') AS BIGINT) // 10
      |              END AS src
      |  FROM events),
      |l AS (
      |  SELECT src, LAG(src) OVER (ORDER BY event_id) AS prev_src FROM e)
      |SELECT
      |  COUNT(CASE WHEN src = prev_src THEN 1 END) AS eq_matches,
      |  COUNT(CASE WHEN src IS NOT DISTINCT FROM prev_src THEN 1 END) AS nse_matches,
      |  COUNT(CASE WHEN src IS NULL AND prev_src IS NULL THEN 1 END) AS both_null,
      |  COUNT(CASE WHEN src IS NOT DISTINCT FROM prev_src THEN 1 END) -
      |    COUNT(CASE WHEN src = prev_src THEN 1 END) AS null_only_matches
      |FROM l""".stripMargin

  // ---- profile_drift --------------------------------------------------------
  // Snapshot-drift monitor — the distribution check a pipeline runs between
  // the latest ingested day and its whole history (PSI's job): per fixed
  // equal-width bucket of the value domain, baseline vs latest-day shares.
  // Integer-exact throughout: values freeze to cents, 16 equal-width
  // buckets span [min, max] by truncating division on a non-negative
  // numerator (so Spark's `div` and DuckDB's `//` agree), shares are
  // truncating ppm, and the headline drift number is the total-variation
  // distance Σ|base−cur| div 2 in ppm — PSI's ln() would put an
  // engine-dependent float into the hash path; TVD is the exact member of
  // the same family (Pinsker ties them). Plan: one scan for the three
  // domain scalars, one scan into a 16-row bucket-grain map-side-combining
  // agg; the summary row folds the bucket frame. At 100 TB the second scan
  // is the day's partition slice and the bucket frame is 16 rows.
  def profileDrift(s: SparkSession, dir: String): DataFrame = {
    val ev = load(s, dir, "events").select(
      to_date(col("ts")).as("day"),
      expr("CAST(round(value * 100) AS BIGINT)").as("cents"))
    val dom = ev.agg(
      max(col("day")).as("cur_day"),
      min(col("cents")).as("mn"),
      (max(col("cents")) + lit(1L)).as("mx1")) // max value lands in bucket 15
    val buckets = ev.crossJoin(broadcast(dom))
      .withColumn("bucket", expr("((cents - mn) * 16) div (mx1 - mn)"))
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("day") === col("cur_day"), 0L).otherwise(1L)).as("n_base"),
        sum(when(col("day") === col("cur_day"), 1L).otherwise(0L)).as("n_cur"))
    val tot = buckets.agg(
      sum(col("n_base")).as("tb"), sum(col("n_cur")).as("tc"))
    val shares = buckets.crossJoin(broadcast(tot))
      .select(col("bucket"), col("n_base"), col("n_cur"),
        expr("n_base * 1000000 div tb").as("base_ppm"),
        expr("n_cur * 1000000 div tc").as("cur_ppm"))
      .withColumn("diff_ppm", abs(col("base_ppm") - col("cur_ppm")))
    val summary = shares.agg(
      sum(col("n_base")).as("n_base"), sum(col("n_cur")).as("n_cur"),
      sum(col("base_ppm")).as("base_ppm"), sum(col("cur_ppm")).as("cur_ppm"),
      expr("SUM(diff_ppm) div 2").as("diff_ppm"))
      .select(lit(-1L).as("bucket"), col("n_base"), col("n_cur"),
        col("base_ppm"), col("cur_ppm"), col("diff_ppm"))
    shares.unionAll(summary).orderBy(col("bucket"))
  }

  private val profileDriftOracle =
    """WITH e AS (
      |  SELECT CAST(ts AS DATE) AS day,
      |         CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |dom AS (
      |  SELECT MAX(day) AS cur_day, MIN(cents) AS mn,
      |         MAX(cents) + 1 AS mx1 FROM e),
      |b AS (
      |  SELECT ((cents - mn) * 16) // (mx1 - mn) AS bucket,
      |         CAST(SUM(CASE WHEN day = cur_day THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
      |         CAST(SUM(CASE WHEN day = cur_day THEN 1 ELSE 0 END) AS BIGINT) AS n_cur
      |  FROM e, dom GROUP BY 1),
      |t AS (
      |  SELECT CAST(SUM(n_base) AS BIGINT) AS tb,
      |         CAST(SUM(n_cur) AS BIGINT) AS tc FROM b),
      |sh AS (
      |  SELECT bucket, n_base, n_cur,
      |         CAST(n_base * 1000000 // tb AS BIGINT) AS base_ppm,
      |         CAST(n_cur * 1000000 // tc AS BIGINT) AS cur_ppm,
      |         CAST(abs(n_base * 1000000 // tb - n_cur * 1000000 // tc) AS BIGINT) AS diff_ppm
      |  FROM b, t)
      |SELECT bucket, n_base, n_cur, base_ppm, cur_ppm, diff_ppm FROM sh
      |UNION ALL
      |SELECT -1, CAST(SUM(n_base) AS BIGINT), CAST(SUM(n_cur) AS BIGINT),
      |       CAST(SUM(base_ppm) AS BIGINT), CAST(SUM(cur_ppm) AS BIGINT),
      |       CAST(SUM(diff_ppm) // 2 AS BIGINT)
      |FROM sh
      |ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "agg_max_by" -> (aggMaxBy _),
    "profile_drift" -> (profileDrift _),
    "fn_null_safe_eq" -> (fnNullSafeEq _),
    "window_topn_pergroup" -> (windowTopnPergroup _),
    "join_dpp_prune" -> (joinDppPrune _),
    "profile_columns" -> (profileColumns _),
    "profile_columns_approx" -> (profileColumnsApprox _),
    "agg_ab_ztest" -> (aggAbZtest _),
    "agg_benford_check" -> (aggBenfordCheck _),
    "agg_diversity" -> (aggDiversity _),
    "agg_corr_regr" -> (aggCorrRegr _),
    "agg_skew_kurt" -> (aggSkewKurt _),
    "agg_gini" -> (aggGini _),
    "agg_pareto_deciles" -> (aggParetoDeciles _),
    "agg_bitmap_distinct" -> (aggBitmapDistinct _),
    "anomaly_daily_mad" -> (anomalyDailyMad _),
    "agg_weighted_median" -> (aggWeightedMedian _),
    "window_cume_dist" -> (windowCumeDist _),
    "agg_collect_set" -> (aggCollectSet _))

  val oracles: Map[String, String] = Map(
    "agg_max_by" -> aggMaxByOracle,
    "fn_null_safe_eq" -> fnNullSafeEqOracle,
    "window_topn_pergroup" -> windowTopnPergroupOracle,
    "join_dpp_prune" -> joinDppPruneOracle,
    "profile_columns" -> profileColumnsOracle,
    "profile_columns_approx" -> profileColumnsApproxOracle,
    "agg_ab_ztest" -> aggAbZtestOracle,
    "agg_benford_check" -> aggBenfordCheckOracle,
    "agg_diversity" -> aggDiversityOracle,
    "agg_corr_regr" -> aggCorrRegrOracle,
    "agg_skew_kurt" -> aggSkewKurtOracle,
    "agg_gini" -> aggGiniOracle,
    "agg_pareto_deciles" -> aggParetoDecilesOracle,
    "agg_bitmap_distinct" -> aggBitmapDistinctOracle,
    "anomaly_daily_mad" -> anomalyDailyMadOracle,
    "agg_weighted_median" -> aggWeightedMedianOracle,
    "window_cume_dist" -> windowCumeDistOracle,
    "agg_collect_set" -> aggCollectSetOracle,
    "profile_drift" -> profileDriftOracle)
}
