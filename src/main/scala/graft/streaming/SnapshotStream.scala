package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** Structured-Streaming form of the reference's daily micro-batch (SURVEY.md
  * §2.8): the partitioned historical table is a file-source stream; each
  * snapshot append becomes a micro-batch; analytics are 1-day tumbling
  * windows over the event-time stamp with a watermark bounding state; alert
  * rules run per batch in foreachBatch.
  *
  * `Trigger.AvailableNow` processes everything currently on disk then stops —
  * exactly the cron-driven catch-up semantics of `run_etl.sh`, but with
  * checkpointed exactly-once progress instead of at-least-once re-appends.
  * At 100 TB the same topology runs continuously: new snapshot partitions
  * land, maxFilesPerTrigger paces ingestion, and state is bounded by the
  * watermark horizon, not by history size.
  */
object SnapshotStream {

  /** File-source stream over a written historical table. */
  def snapshotStream(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.readStream.schema(schema).parquet(path)

  /** 1-day tumbling revenue/count aggregate with a 1-day watermark. */
  def dailyAggregates(snapshots: DataFrame, valueCol: String): DataFrame =
    snapshots
      .withWatermark("extraction_timestamp", "1 day")
      .groupBy(window(col("extraction_timestamp"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col(valueCol).cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .select(to_date(col("w.start")).as("snapshot_day"),
        col("n_rows"), col("total_value"))

  /** Run to completion over current files (cron catch-up), collecting each
    * batch's threshold alerts via foreachBatch (ref
    * `advanced_monitoring.py:377-407`). Returns the finished query.
    *
    * `update` output mode: each micro-batch carries only the windows that
    * changed, so alert rules see exactly the fresh snapshots AND the
    * watermark actually purges closed-window state — in `complete` mode the
    * store would retain every window forever, unbounded on a continuous
    * 100 TB deployment.
    *
    * One micro-batch a run: the query starts with no-data micro-batches off.
    * In update mode the no-data batch Spark would run after the data batch
    * emits nothing; it only evicts the windows the advanced watermark
    * closed. Those are now evicted by the next run's data batch, which
    * runs under the same watermark, so the alerts are the same and the
    * state still holds only the windows inside the watermark horizon plus
    * the ones one run behind. */
  def runAvailableNow(
      agg: DataFrame, checkpoint: String, alertMinRows: Long)(
      onAlert: Seq[String] => Unit): StreamingQuery = {
    val q = StreamQueries.withStartConf(agg.sparkSession,
        "spark.sql.streaming.noDataMicroBatches.enabled", "false") {
      agg.writeStream
        .outputMode("update")
        .option("checkpointLocation", checkpoint)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val alerts = batch.filter(col("n_rows") < alertMinRows)
            .collect()
            .map(r => s"low_rows:${r.getAs[java.sql.Date]("snapshot_day")}:${r.getAs[Long]("n_rows")}")
          onAlert(alerts.toSeq)
        }
        .start()
    }
    StreamQueries.awaitCounted(q)
    q
  }
}
