package graft.streaming

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.flatten.Flatten
import graft.sink.Sinks

/** End-to-end Structured Streaming over the partitioned historical table:
  * write snapshots as batches → stream them with Trigger.AvailableNow →
  * tumbling-day aggregates match the batch computation exactly. */
class SnapshotStreamSpec extends SparkSpec {

  test("streamed tumbling-day aggregates equal the batch aggregates") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_stream_spec"
    Sinks.deleteDir(base)
    val hist = s"$base/hist"

    val all = Flatten.personnel(spark)
    Sinks.appendHistorical(all, hist)

    val schema = spark.read.parquet(hist).schema
    val agg = SnapshotStream.dailyAggregates(
      SnapshotStream.snapshotStream(spark, hist, schema), "amount")

    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val q = SnapshotStream.runAvailableNow(agg, s"$base/ckpt",
      alertMinRows = 10L)(as => as.foreach(alerts.add))
    assert(!q.isActive, "AvailableNow must terminate after draining")

    // batch twin of the same aggregate
    val expect = all
      .groupBy(to_date(col("extraction_timestamp")).as("snapshot_day"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("amount").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
      .toSet

    // runAvailableNow's foreachBatch (update mode) only kept alerts; assert
    // the aggregate itself against a fresh complete-mode run into a memory
    // sink, compared with the batch twin:
    val streamed = SnapshotStream.dailyAggregates(
      SnapshotStream.snapshotStream(spark, hist, schema), "amount")
    // run once more into an in-memory table for direct comparison
    val q2 = streamed.writeStream.outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt2")
      .format("memory").queryName("daily_stream")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val got = spark.table("daily_stream")
      .collect().map(r => (r.getDate(0).toString, r.getLong(1), r.getDouble(2)))
      .toSet
    assert(got == expect, s"stream vs batch mismatch:\n$got\nvs\n$expect")
    assert(alerts.isEmpty, "every fixture snapshot has >= 10 personnel rows")
  }

  test("a snapshot smaller than the alert threshold triggers foreachBatch alerts") {
    val base = s"${sys.props("java.io.tmpdir")}/graft_stream_spec2"
    Sinks.deleteDir(base)
    val hist = s"$base/hist"
    val all = Flatten.personnel(spark)
    Sinks.appendHistorical(all.limit(3), hist)  // one tiny batch

    val schema = spark.read.parquet(hist).schema
    val agg = SnapshotStream.dailyAggregates(
      SnapshotStream.snapshotStream(spark, hist, schema), "amount")
    val alerts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    SnapshotStream.runAvailableNow(agg, s"$base/ckpt", alertMinRows = 10L)(
      as => as.foreach(alerts.add))
    assert(!alerts.isEmpty, "3-row snapshot must trip the low_rows alert")
    assert(alerts.peek().startsWith("low_rows:"))
  }

  test("a daily run is one micro-batch: same alerts as with no-data batches, bounded state") {
    import org.apache.spark.sql.streaming.Trigger
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    val base = s"${sys.props("java.io.tmpdir")}/graft_stream_spec3"
    Sinks.deleteDir(base)
    val all = Flatten.personnel(spark)
    val dates = all.select(col("extraction_date")).distinct().collect()
      .map(_.getDate(0)).sortBy(_.getTime)
    def day(i: Int) = all.filter(col("extraction_date") === dates(i))
    // run 3 re-appends day 1 (a cron retry) together with day 2
    val appends = Seq(Seq(0), Seq(1), Seq(1, 2))
    def stream(hist: String) = SnapshotStream.dailyAggregates(
      SnapshotStream.snapshotStream(spark, hist, spark.read.parquet(hist).schema), "amount")
    // alert rule of runAvailableNow, over every emitted window
    val minRows = 1000L
    def alertsOf(batch: org.apache.spark.sql.DataFrame): Seq[String] =
      batch.filter(col("n_rows") < minRows).collect()
        .map(r => s"low_rows:${r.getAs[java.sql.Date]("snapshot_day")}:${r.getAs[Long]("n_rows")}")
        .toSeq.sorted

    val (oneHist, refHist) = (s"$base/one/hist", s"$base/ref/hist")
    val one = appends.map { days =>
      days.foreach(d => Sinks.appendHistorical(day(d), oneHist))
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val before = spark.conf.getOption(key)
      val q = SnapshotStream.runAvailableNow(stream(oneHist), s"$base/one/ckpt", minRows)(
        as => as.foreach(seen.add))
      assert(spark.conf.getOption(key) == before, "the session's flag changed")
      assert(q.recentProgress.length == 1, s"batches: ${q.recentProgress.length}")
      val stateRows = q.lastProgress.stateOperators.map(_.numRowsTotal).sum
      assert(stateRows <= 3, s"state holds $stateRows windows")
      seen.toArray.map(_.toString).toSeq.sorted
    }
    assert(spark.conf.getOption(key).contains("true"), "no-data batches are on by default")
    val ref = appends.map { days =>
      days.foreach(d => Sinks.appendHistorical(day(d), refHist))
      val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
      val q = stream(refHist).writeStream.outputMode("update")
        .option("checkpointLocation", s"$base/ref/ckpt")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          alertsOf(b).foreach(seen.add); () }
        .start()
      q.awaitTermination()
      assert(q.recentProgress.length == 2, "data batch + no-data batch")
      seen.toArray.map(_.toString).toSeq.sorted
    }
    assert(one == ref, s"alerts differ:\n$one\nvs\n$ref")
    assert(one.forall(_.nonEmpty) && one(2).size == 2, s"every run alerts: $one")

    // an explicit setting survives, also when start() throws
    spark.conf.set(key, "true")
    try {
      val notADir = s"$base/ckpt_is_a_file"
      java.nio.file.Files.write(java.nio.file.Paths.get(notADir), Array[Byte](1))
      intercept[Exception] {
        SnapshotStream.runAvailableNow(stream(oneHist), s"$notADir/ckpt", minRows)(_ => ())
      }
      assert(spark.conf.get(key) == "true")
    } finally spark.conf.unset(key)
  }
}
