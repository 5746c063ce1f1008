package graft.report

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Analytics

/** Driver-side report/notification utilities (SURVEY.md §2.1 sink_chart_png /
  * sink_email — out of the engine's data path by design, kept as the thin
  * presentation edge the reference has).
  *
  * The chart sink collects the ALREADY-AGGREGATED day-grain series (a few
  * hundred rows — the only collect() in the codebase is presentation, never
  * a data-path operator) and renders the reference's 2×2 trend panel
  * (`advanced_monitoring.py:270-325`) to a real PNG through the JDK-only
  * `ChartPng` backend; `chartData`/`writeChartArtifact` keep the plotted
  * series inspectable as CSV. Email mirrors
  * `monday_etl_automated.py:647-691`: a report string built from stats,
  * delivered through an injectable sender (`SmtpSender` — a socket-level
  * SMTP client — in production, canned in tests).
  */
object Reporting {

  /** One panel of the reference's 2×2 trend chart: (title, x, y) series. */
  final case class ChartSeries(title: String, x: Seq[String], y: Seq[Double])

  /** The four panels of the trend chart, from the flagship daily metrics
    * (collects day-grain aggregates only). */
  def chartData(s: SparkSession, dir: String, days: Int = 30): Seq[ChartSeries] = {
    val dm = Analytics.dailyMetrics(s, dir)
      .orderBy(col("extraction_date").desc).limit(days)
      .orderBy(col("extraction_date"))
      .select(col("extraction_date").cast("string"),
        col("total_projects").cast("double"),
        col("total_subitems").cast("double"),
        col("total_revenue"), col("avg_revenue"))
      .collect()
    val x = dm.map(_.getString(0)).toSeq
    def series(i: Int, title: String) =
      ChartSeries(title, x, dm.map(r => Option(r.get(i)).fold(0.0)(_
        .asInstanceOf[Double])).toSeq)
    Seq(series(1, "Projects"), series(2, "Subitems"),
      series(3, "Total revenue"), series(4, "Avg revenue"))
  }

  /** The reference's ACTUAL 2×2 trend panel (`advanced_monitoring.py:
    * 287-319`): total revenue (line), subitems vs with-revenue (two lines),
    * daily revenue change (sign-colored bars + zero axis), avg revenue
    * (line) — built from the flagship daily metrics and rendered to PNG by
    * the JDK-only `ChartPng` backend. Collects day-grain aggregates only. */
  def trendPanels(s: SparkSession, dir: String, days: Int = 30): Seq[ChartPng.Panel] = {
    val dm = Analytics.dailyMetrics(s, dir)
      .orderBy(col("extraction_date").desc).limit(days)
      .orderBy(col("extraction_date"))
      .select(col("extraction_date").cast("string"),
        col("total_revenue"), col("total_subitems").cast("double"),
        col("subitems_with_revenue").cast("double"),
        col("revenue_change"), col("avg_revenue"))
      .collect()
    val x = dm.map(_.getString(0)).toSeq
    def series(i: Int): Seq[Option[Double]] =
      dm.map(r => if (r.isNullAt(i)) None else Some(r.getDouble(i))).toSeq
    import java.awt.Color
    Seq(
      ChartPng.Panel("Total revenue", x,
        Seq(ChartPng.Series("revenue", series(1), Color.BLUE))),
      ChartPng.Panel("Subitems: total vs with revenue", x, Seq(
        ChartPng.Series("total", series(2), new Color(0x2E, 0x7D, 0x32)),
        ChartPng.Series("with revenue", series(3), Color.RED))),
      ChartPng.Panel("Daily revenue change", x,
        Seq(ChartPng.Series("change", series(4), Color.BLACK)),
        kind = ChartPng.BarKind),
      ChartPng.Panel("Avg revenue", x,
        Seq(ChartPng.Series("avg", series(5), new Color(0x6A, 0x1B, 0x9A)))))
  }

  /** sink_chart_png end-to-end: daily metrics → 2×2 trend PNG on disk. */
  def renderTrendPng(s: SparkSession, dir: String, outPath: String,
      days: Int = 30): String =
    ChartPng.render("ETL trend - last %d days".format(days),
      trendPanels(s, dir, days), outPath)

  /** CSV twin of the chart artifact: the exact plotted series, for diffing
    * a render against the data it plots. */
  def writeChartArtifact(series: Seq[ChartSeries], outPath: String): String = {
    val sb = new StringBuilder
    series.foreach { cs =>
      sb.append(s"# ${cs.title}\n")
      cs.x.zip(cs.y).foreach { case (d, v) => sb.append(s"$d,$v\n") }
    }
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(outPath).getParent)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(outPath),
      sb.toString)
    outPath
  }

  /** Report body in the reference's shape (`monday_etl_automated.py:647-691`):
    * per-table counts + revenue + day-over-day deltas. */
  def buildReport(stats: Map[String, Long], totalRevenue: Double,
      diffs: Map[String, Long]): String = {
    val lines = Seq(
      "MONDAY ETL - Report",
      "===================",
      s"Projects:        ${stats.getOrElse("projects", 0L)}",
      s"Subitems:        ${stats.getOrElse("subitems", 0L)}",
      s"Personnel costs: ${stats.getOrElse("personnel_costs", 0L)}",
      s"Travel costs:    ${stats.getOrElse("travel_costs", 0L)}",
      s"Supplier costs:  ${stats.getOrElse("supplier_costs", 0L)}",
      // pinned locale: f"%,.2f" would group per the host JVM's locale
      "Total revenue:   " + String.format(java.util.Locale.US,
        "%,.2f EUR", Double.box(totalRevenue))) ++
      diffs.toSeq.sortBy(_._1).map { case (k, v) =>
        val sign = if (v >= 0) "+" else ""
        s"  $k: $sign$v vs yesterday"
      }
    lines.mkString("\n")
  }

  /** Injectable delivery seam (SMTP in production). */
  trait Sender { def send(to: String, subject: String, body: String): Unit }

  final class EmailNotifier(sender: Sender, to: String) {
    def notifyRun(report: String, ok: Boolean): Unit =
      sender.send(to,
        if (ok) "Monday ETL: run OK" else "Monday ETL: run FAILED", report)
  }
}
