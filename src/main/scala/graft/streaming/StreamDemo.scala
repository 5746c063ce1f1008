package graft.streaming

import org.apache.spark.sql.streaming.Trigger

import graft.flatten.Flatten
import graft.sink.Sinks

/** CLI drive of the streaming path: flatten → partitioned historical write →
  * file-source stream → tumbling-day aggregate → console. Usage:
  * `sbt "runMain graft.streaming.StreamDemo"` */
object StreamDemo {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local()

    val base = s"${sys.props("java.io.tmpdir")}/graft_stream_demo"
    Sinks.deleteDir(base)
    val hist = s"$base/hist"
    Sinks.appendHistorical(Flatten.personnel(spark), hist)

    val schema = spark.read.parquet(hist).schema
    val agg = SnapshotStream.dailyAggregates(
      SnapshotStream.snapshotStream(spark, hist, schema), "amount")
    val q = agg.writeStream.outputMode("complete")
      .option("checkpointLocation", s"$base/ckpt")
      .format("memory").queryName("daily_stream")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table("daily_stream")
      .orderBy("snapshot_day").show(50, truncate = false)
    spark.stop()
  }
}
