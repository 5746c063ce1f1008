package graft.sink

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.flatten.Flatten

/** Write-pattern round-trips (SURVEY.md §2.8 incremental semantics). */
class SinksSpec extends SparkSpec {

  private def freshDir(name: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_sink_spec/$name"
    Sinks.deleteDir(d)
    d
  }

  test("truncate write replaces previous contents") {
    val path = freshDir("truncate")
    val all = Flatten.personnel(spark)
    Sinks.writeTruncate(all, path)
    Sinks.writeTruncate(all.limit(5), path)
    assert(spark.read.parquet(path).count() == 5)
  }

  test("historical append is at-least-once: a re-run doubles the snapshot " +
    "(the reference's observed 184/1610 double-append)") {
    val path = freshDir("append")
    val all = Flatten.personnel(spark)
    val day = all.filter(col("extraction_date") === "2025-06-25")
    val n = day.count()
    assert(n > 0)
    Sinks.appendHistorical(day, path)
    Sinks.appendHistorical(day, path)  // the cron re-run
    val readBack = spark.read.parquet(path)
    assert(readBack.count() == 2 * n)
    // the duplicates monitor is the compensating control
    val dupKeys = readBack.groupBy(col("cost_id"), col("extraction_date"))
      .count().filter(col("count") > 1).count()
    assert(dupKeys == n)
  }

  test("dynamic partition overwrite makes re-runs exactly-once") {
    val path = freshDir("exactly_once")
    val all = Flatten.personnel(spark)
    Sinks.appendSnapshotExactlyOnce(all, path)
    val n27 = all.filter(col("extraction_date") === "2025-06-27").count()
    // re-run the last day only: replaces its partition, total unchanged
    Sinks.appendSnapshotExactlyOnce(
      all.filter(col("extraction_date") === "2025-06-27"), path)
    val readBack = spark.read.parquet(path)
    assert(readBack.count() == all.count())
    assert(readBack.filter(col("extraction_date") === "2025-06-27").count() == n27)
  }

  test("dual-write: current replaced, historical appended") {
    val cur = freshDir("dual_current")
    val hist = freshDir("dual_hist")
    val all = Flatten.travel(spark)
    val d1 = all.filter(col("extraction_date") === "2025-06-23")
    val d2 = all.filter(col("extraction_date") === "2025-06-24")
    Sinks.dualWrite(d1, cur, hist)
    Sinks.dualWrite(d2, cur, hist)
    assert(spark.read.parquet(cur).count() == d2.count(), "current = latest only")
    assert(spark.read.parquet(hist).count() == d1.count() + d2.count(),
      "historical = all snapshots")
  }

  test("partitioned historical layout prunes to one snapshot directory") {
    val path = freshDir("pruning")
    Sinks.appendHistorical(Flatten.suppliers(spark), path)
    val plan = spark.read.parquet(path)
      .filter(col("extraction_date") === "2025-06-24")
      .queryExecution.executedPlan.toString
    // partition filter present, and only 1 of 4 date partitions selected
    assert(plan.contains("PartitionFilters"))
    val scanned = spark.read.parquet(path)
      .filter(col("extraction_date") === "2025-06-24")
      .select(input_file_name()).distinct().collect().map(_.getString(0))
    assert(scanned.nonEmpty && scanned.forall(_.contains("extraction_date=2025-06-24")))
  }

  test("filter_date_eq_part prunes the month-partitioned layout to one directory") {
    import graft.operators.Analytics
    val df = Analytics.filterDateEqPart(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(ship_month"), plan)
    // exactly ONE month directory is touched by the pruned scan
    // (input_file_name() must be read pre-shuffle — re-apply the key's
    // filters on the same layout without the presentation sort)
    val maxD = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(max(col("l_shipdate").cast("date"))).head.getDate(0)
    val dirs = spark.read.parquet(Analytics.lineitemByMonth(spark, sfDir))
      .filter(col("ship_month") === maxD.toString.substring(0, 7) &&
        col("ship_date") === lit(maxD))
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0).replaceAll("/[^/]*$", ""))
      .distinct
    assert(dirs.length == 1 && dirs.head.contains("ship_month="), dirs.mkString(","))
    // and the layout never changes the answer
    graft.model.Tables.registerAll(spark, sfDir)
    val flat = spark.sql(
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) = (SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem)""".stripMargin)
    assert(df.exceptAll(flat).isEmpty && flat.exceptAll(df).isEmpty)
  }

  test("filter_date_eq_part gives two data dirs with the same leaf name " +
      "their own month layout") {
    import graft.operators.Analytics
    import spark.implicits._
    val root = freshDir("same_leaf")
    val d = java.sql.Date.valueOf("2024-03-05")
    def stage(side: String, rows: (Long, Int, java.sql.Date)*): String = {
      val dir = s"$root/$side/tables"
      rows.toDF("l_orderkey", "l_linenumber", "l_shipdate")
        .write.parquet(s"$dir/lineitem.parquet")
      dir
    }
    val a = stage("a", (1L, 1, d), (2L, 1, d))
    val b = stage("b", (7L, 1, d), (8L, 2, d), (9L, 1, java.sql.Date.valueOf("2024-02-01")))
    def keys(dir: String) = Analytics.filterDateEqPart(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq
    assert(keys(a) == Seq((1L, 1), (2L, 1)))
    assert(keys(b) == Seq((7L, 1), (8L, 2)), "served the other dir's layout")
  }

  test("filter_date_range_part touches at most the two boundary months") {
    import graft.operators.Analytics
    val maxD = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .agg(max(col("l_shipdate").cast("date"))).head.getDate(0)
    val lo = java.sql.Date.valueOf(maxD.toLocalDate.minusDays(30))
    val ms = Seq(lo.toString.substring(0, 7), maxD.toString.substring(0, 7)).distinct
    val months = spark.read.parquet(Analytics.lineitemByMonth(spark, sfDir))
      .filter(col("ship_month").isin(ms: _*) && col("ship_date") >= lit(lo))
      .select(input_file_name()).distinct().collect()
      .map(_.getString(0).replaceAll(".*ship_month=", "").replaceAll("/.*", ""))
      .distinct
    assert(months.nonEmpty && months.length <= 2 &&
      months.forall(m => m.matches("\\d{4}-\\d{2}")), months.mkString(","))
    // the key itself returns the same rows as the flat-table range filter
    graft.model.Tables.registerAll(spark, sfDir)
    val flat = spark.sql(
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS ship_date
        |FROM lineitem
        |WHERE CAST(l_shipdate AS DATE) >= date_sub((SELECT MAX(CAST(l_shipdate AS DATE)) FROM lineitem), 30)""".stripMargin)
    val df = Analytics.filterDateRangePart(spark, sfDir)
    assert(df.exceptAll(flat).isEmpty && flat.exceptAll(df).isEmpty)
  }

  test("shard export: partitioned layout on disk, conservation, bit-reproducible (r9)") {
    val run1 = SinkQueries.queries("sink_shards")(spark, sfDir).collect()
    assert(run1.map(_.getAs[Int]("shard")).toSet == (0 to 7).toSet,
      "every shard must be present")
    val corpus = graft.model.Tables.load(spark, sfDir, "documents").count()
    assert(run1.map(_.getAs[Long]("n_docs")).sum == corpus,
      "docs lost or duplicated in sharding")
    // the layout trainers consume: shard=N partition dirs on disk
    val dir = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_sinks/shards")
    val parts = dir.listFiles().map(_.getName).filter(_.startsWith("shard="))
    assert(parts.length == 8, s"expected 8 shard dirs, got ${parts.toSeq}")
    // pure-function routing: a re-run reproduces the manifest bit-for-bit
    val run2 = SinkQueries.queries("sink_shards")(spark, sfDir).collect()
    assert(run1.map(_.toString).toSeq == run2.map(_.toString).toSeq,
      "shard export is not reproducible")
  }
}
