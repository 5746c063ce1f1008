package etlbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** The benchmark's own tests. Run with `python3 etlbench/run.py --selftest`;
  * exits 1 on the first failure. */
object SelfTest {
  private var failures = 0

  private def check(name: String)(cond: => Boolean): Unit = {
    val ok = try cond catch { case e: Throwable => System.err.println(e); false }
    println(s"${if (ok) "ok  " else "FAIL"} $name")
    if (!ok) failures += 1
  }

  private def close(a: Double, b: Double) = math.abs(a - b) < 1e-12

  def main(args: Array[String]): Unit = {
    val p = EtlParams(projects = 20, lowDayProjects = 4, subitemsMin = 2, subitemsMax = 5,
      personnel = 12, travel = 9, suppliers = 7, pageLimit = 5, transientFailureRate = 0.3,
      lowEvery = 3, retryEvery = 4, compactEvery = 4, alertMinRows = 30, warmupDays = 1,
      measuredDays = 1, compactTargetBytes = 1L << 20)

    // ---- generators ------------------------------------------------------
    check("monday generator is byte-identical for a seed") {
      (0 until 6).forall(d => MondayGen.render(MondayGen.day(7, d, p)) ==
        MondayGen.render(MondayGen.day(7, d, p)))
    }
    check("monday generator differs across seeds") {
      MondayGen.render(MondayGen.day(7, 2, p)) != MondayGen.render(MondayGen.day(8, 2, p))
    }
    check("one low day and one retry day in every block") {
      val days = (0 until 12).map(MondayGen.day(5, _, p))
      days.grouped(3).forall(_.count(_.low) == 1) && days.grouped(4).forall(_.count(_.retry) == 1)
    }
    check("low days fall below the alert threshold, others do not") {
      (0 until 12).map(MondayGen.day(5, _, p)).forall(d =>
        (d.expected("project_subitems") < p.alertMinRows) == d.low)
    }
    check("canned transport pages every item exactly once through retries") {
      val day = MondayGen.day(3, 1, p)
      val t = new CannedTransport(day, p.pageLimit, 3, p.transientFailureRate)
      val client = new graft.source.MondayClient(t)
      MondayGen.boards.forall { case (b, id) =>
        val pages = client.fetchAllPages(c => graft.source.MondayQueries.itemsPageQuery(id, p.pageLimit, c))
        val m = new com.fasterxml.jackson.databind.ObjectMapper()
        val n = pages.map(pg => m.readTree(pg).path("data").path("boards").path(0)
          .path("items_page").path("items").size()).sum
        n == day.items(b).size && pages.size > 1
      } && t.failures > 0
    }
    check("table generator is identical for a seed") {
      TableGen.tables(42, 0.0001).map(t => (t._1, t._3)) == TableGen.tables(42, 0.0001).map(t => (t._1, t._3))
    }

    // ---- percentile and quartile math ----------------------------------------
    check("percentile of one sample is that sample") {
      Seq(0.0, 50.0, 75.0, 100.0).forall(q => Stats.percentile(Seq(3.5), q) == 3.5)
    }
    check("percentile interpolates between ranks") {
      close(Stats.percentile(Seq(1.0, 2.0), 50), 1.5) &&
        close(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 75), 3.25) &&
        close(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 100), 4.0) &&
        close(Stats.percentile(Seq(4.0, 1.0, 3.0, 2.0), 0), 1.0)
    }
    check("percentile of no samples is NaN") { Stats.percentile(Nil, 50).isNaN }
    check("quartiles match Python statistics.quantiles(n=4)") {
      def same(a: (Double, Double, Double), b: (Double, Double, Double)) =
        close(a._1, b._1) && close(a._2, b._2) && close(a._3, b._3)
      same(Stats.quartiles(Seq(1.0, 2.0)), (0.75, 1.5, 2.25)) &&
        same(Stats.quartiles(Seq(5.0, 1.0, 3.0)), (1.0, 3.0, 5.0)) &&
        same(Stats.quartiles(Seq(1.0, 2.0, 3.0, 4.0)), (1.25, 2.5, 3.75)) &&
        same(Stats.quartiles((1 to 10).map(_.toDouble)), (2.75, 5.5, 8.25))
    }
    check("highest percentile keeps ten samples beyond it") {
      val c = Seq(50.0, 75.0, 90.0)
      Stats.highestSupportedPercentile(100, c).contains(90.0) &&
        Stats.highestSupportedPercentile(99, c).contains(75.0) &&
        Stats.highestSupportedPercentile(40, c).contains(75.0) &&
        Stats.highestSupportedPercentile(39, c).contains(50.0) &&
        Stats.highestSupportedPercentile(20, c).contains(50.0) &&
        Stats.highestSupportedPercentile(19, c).isEmpty
    }

    // ---- span self times ---------------------------------------------------------
    check("interval union merges overlaps and clips to the parent") {
      Spans.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0, 100) == 25 &&
        Spans.covered(Seq((0L, 10L), (5L, 15L)), 8, 12) == 4 &&
        Spans.covered(Nil, 0, 10) == 0
    }
    check("layer self times of an op never exceed its wall time") {
      val r = new java.util.SplittableRandom(11)
      (0 until 200).forall { _ =>
        // a random span tree inside one op: siblings run one after another,
        // as the single-threaded client makes them
        val spans = scala.collection.mutable.ArrayBuffer(Span(1, 0, 1, "op.x", 0, 1000))
        def grow(parent: Span, depth: Int): Unit = if (depth < 3) {
          val cuts = Seq.fill(2 * r.nextInt(4))(parent.startNs + r.nextLong(parent.durNs + 1)).sorted
          cuts.grouped(2).foreach { case Seq(a, b) =>
            val s = Span(spans.size + 1, parent.id, 1, Seq("source.f", "sink.w", "table.c")(r.nextInt(3)), a, b)
            spans += s
            grow(s, depth + 1)
          }
        }
        grow(spans.head, 0)
        val self = Spans.selfNs(spans.toSeq)
        self.values.forall(_ >= 0) && self.values.sum <= 1000
      }
    }
    check("tracer records nested spans with their op and parent") {
      val t = new Tracer(true)
      t.currentOp = 9
      t.span("op.day") { t.span("sink.a") { Thread.sleep(2) }; t.span("table.b")(()) }
      val self = Spans.selfNs(t.spans.toSeq)
      val op = t.spans.find(_.name == "op.day").get
      t.spans.forall(_.op == 9) && t.spans.count(_.parent == op.id) == 2 &&
        t.spans.map(s => self(s.id)).sum == op.durNs
    }
    check("a disabled tracer records nothing") {
      val t = new Tracer(false)
      t.span("x")(()) ; t.spans.isEmpty
    }

    // ---- digest -------------------------------------------------------------------
    val rows = (0 until 50).map(i => Row(i.toLong, s"s$i", i * 0.1, Seq(i, i + 1)))
    check("digest ignores row order") {
      Stats.digestRows(rows.iterator) == Stats.digestRows(rows.reverse.iterator) &&
        Stats.digestRows(rows.iterator) ==
          Stats.digestRows(Workload.permute(rows, 3, 0).iterator)
    }
    check("digest sees a changed, lost or duplicated row") {
      val d = Stats.digestRows(rows.iterator)
      d != Stats.digestRows(rows.updated(3, Row(3L, "s3", 0.31, Seq(3, 4))).iterator) &&
        d != Stats.digestRows(rows.tail.iterator) &&
        d != Stats.digestRows((rows :+ rows.head).iterator)
    }
    check("digest ignores summation-order noise and collection order") {
      Stats.digestRows(Iterator(Row(0.1 + 0.2, Seq("b", "a")))) ==
        Stats.digestRows(Iterator(Row(0.3, Seq("a", "b"))))
    }
    val spark = Main.session(2, s"${sys.props("java.io.tmpdir")}/etlbench-selftest")
    try {
      check("digest ignores partitioning") {
        val schema = StructType(Seq(StructField("k", LongType), StructField("s", StringType),
          StructField("v", DoubleType), StructField("a", ArrayType(IntegerType))))
        val df = spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        val d = Stats.digest(df.coalesce(1))
        d == Stats.digest(df.repartition(7)) && d == Stats.digest(df.orderBy(df("k").desc)) &&
          d == Stats.digestRows(rows.iterator)
      }
    } finally spark.stop()

    println(if (failures == 0) "all self-tests passed" else s"$failures self-test(s) failed")
    if (failures > 0) sys.exit(1)
  }
}
