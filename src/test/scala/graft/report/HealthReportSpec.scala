package graft.report

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.SparkSpec

/** Pins the composed health report (`report_health_e2e`) to SURVEY §3.2's
  * shared-frame prescription: every section reads the ONE cached
  * orders⋈lineitem frame — the report's executed plan must contain no
  * fact-table file scan of its own (the reference re-scans the warehouse
  * five times for the same report; we scan once). */
class HealthReportSpec extends SparkSpec {

  test("report sections all read the shared cached frame — no fact re-scan") {
    val (base, ev, report) = HealthReport.healthParts(spark, sfDir)
    // Drop any cached copy of the report a previous suite's all-keys sweep
    // left behind (reportHealthE2e hands back a persisted relation by
    // design): CacheManager would substitute the WHOLE report subtree here
    // and hide the section plans this test pins. Suites run sequentially in
    // the forked JVM, so clearing the shared cache is safe.
    spark.catalog.clearCache()
    base.persist(); ev.persist()
    try {
      val rows = report.collect()
      assert(rows.length == 36, s"expected 36 report rows, got ${rows.length}")

      // walk across AQE boundaries (AdaptiveSparkPlanExec / QueryStageExec
      // hide their subtrees from TreeNode.collect) but NOT into the cached
      // relations' own definitions — those contain the one legitimate scan.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      def walk(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec        => walk(q.plan)
        case m: InMemoryTableScanExec => Seq.empty // stop at the cache seam
        case other                    => other.children.flatMap(walk)
      })
      val nodes = walk(report.queryExecution.executedPlan)
      val memScans = nodes.collect { case m: InMemoryTableScanExec => m }
      // r15: each section aggregates exactly once — daily + completeness +
      // duplicates + circle off base, the cost/freshness pass off ev: 5
      // cache reads TOTAL (the r14 shape re-ran section subtrees per union
      // branch — ~30 cache reads for 36 rows). An upper bound pins the
      // collapse; the lower bound still pins that no section bypasses the
      // shared frames.
      assert(memScans.length >= 5 && memScans.length <= 6,
        s"expected 5-6 InMemoryTableScan sections (one per aggregation " +
          s"pass), got ${memScans.length}")
      // No section may bypass the cache back to the fact files: the only
      // parquet scans allowed in the report plan are the ones INSIDE the
      // cached relations' own definitions (not re-executed once populated).
      val fileScans = nodes.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(fileScans.isEmpty,
        s"report plan re-scans files outside the cache: ${fileScans.map(_.tableIdentifier)}")
    } finally { base.unpersist(); ev.unpersist() }
  }

  test("report content: sections complete, P&L arithmetic consistent") {
    val report = HealthReport.reportHealthE2e(spark, sfDir)
    val rows = report.collect().map(r =>
      (r.getString(0), r.getString(1)) -> (r.getDouble(2), r.getBoolean(3))).toMap
    assert(rows.keys.map(_._1).toSet ==
      Set("daily_latest", "completeness", "duplicates", "freshness", "circle", "alerts"))
    // the reference's P&L lines (advanced_monitoring.py:244-248): margin =
    // revenue - (personnel + travel + supplier), on the same rounded cents
    val rev = rows(("completeness", "total_revenue"))._1
    val tc = rows(("completeness", "total_costs"))._1
    val nm = rows(("completeness", "net_margin"))._1
    assert(math.abs(rev - tc - nm) < 1e-6, s"P&L must balance: $rev - $tc != $nm")
    val costs = Seq("personnel", "travel", "supplier")
      .map(k => rows(("completeness", s"${k}_cost_total"))._1).sum
    assert(math.abs(costs - tc) < 1e-6, "total_costs must equal the three cost lines")
    // alert verdicts must be consistent with their own reported values
    val (dupVal, dupFlag) = rows(("alerts", "duplicate_rows"))
    assert(dupFlag == (dupVal > 0))
    val (staleVal, staleFlag) = rows(("alerts", "stale_data"))
    assert(staleFlag == (staleVal > 1))
    val (covVal, covFlag) = rows(("alerts", "coverage_low"))
    assert(covFlag == (covVal < 60.0))
    report.unpersist()
  }

  test("empty fact frame: the report stays partial, daily and freshness values null") {
    val (base, ev, _) = HealthReport.healthParts(spark, sfDir)
    val rows = HealthReport.buildReport(base.limit(0), ev).collect()
    val bySection = rows.groupBy(_.getString(0))
    // no circle rows (no facts), but every fixed line is still emitted
    assert(bySection.keySet ==
      Set("daily_latest", "completeness", "duplicates", "freshness", "alerts"))
    assert(bySection.map { case (k, v) => k -> v.length } == Map(
      "daily_latest" -> 7, "completeness" -> 14, "duplicates" -> 1,
      "freshness" -> 2, "alerts" -> 4))
    // no latest day: its values, and freshness derived from it, are null
    (bySection("daily_latest") ++ bySection("freshness")).foreach { r =>
      assert(r.isNullAt(2), s"expected a null value: $r")
    }
    val value = rows.map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(value(("completeness", "projects_rows")).getDouble(2) == 0.0)
    assert(value(("completeness", "subitems_rows")).getDouble(2) == 0.0)
    assert(value(("duplicates", "duplicate_keys")).getDouble(2) == 0.0)
    val dupAlert = value(("alerts", "duplicate_rows"))
    assert(dupAlert.getDouble(2) == 0.0 && !dupAlert.getBoolean(3))
    // the cost panel comes from events alone and is unaffected
    assert(!value(("completeness", "personnel_costs_rows")).isNullAt(2))
  }
}
