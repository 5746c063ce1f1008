package graft.model

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

import graft.SparkSpec

/** Timestamp-vintage contract for `Tables.load` (VERDICT r8 item 2).
  *
  * The driver's testdata writer has shipped `events.ts` in three parquet
  * vintages over the rounds: TIMESTAMP(NANOS) (surfaces as epoch-nanos
  * INT64 under nanosAsLong=true), untagged timestamp[us]
  * (isAdjustedToUTC=false → TIMESTAMP_NTZ when Spark's NTZ inference is
  * on), and tagged timestamp[us] (plain TIMESTAMP). A file engine must
  * read any writer's parquet, so `Tables.load` normalizes all three to
  * TimestampType with identical instants — this spec writes each vintage
  * to temp parquet and pins that contract so a driver-environment shift
  * can never silently break the suite again (the r8 regression).
  */
class TablesVintageSpec extends SparkSpec {

  /** Three rows of the events shape, instants chosen off whole seconds so
    * micro truncation is visible if anyone rounds instead of truncating. */
  private def base: DataFrame = {
    import spark.implicits._
    Seq(
      (1L, "2024-03-01 10:15:30.123456", 10.5),
      (2L, "2024-03-02 23:59:59.999999", -4.0),
      (3L, "2024-03-03 00:00:00.000001", 0.25)
    ).toDF("event_id", "ts_s", "value")
      .withColumn("ts", col("ts_s").cast(TimestampType))
      .select("event_id", "ts", "value")
  }

  private def loadEvents(dir: String): DataFrame =
    Tables.load(spark, dir, "events")

  private def rowsOf(df: DataFrame): Seq[(Long, Long, Double)] = {
    import spark.implicits._
    df.select(col("event_id"), expr("unix_micros(ts)"), col("value"))
      .as[(Long, Long, Double)].collect().toSeq.sortBy(_._1)
  }

  private def stage(write: String => Unit): String = {
    val dir = Files.createTempDirectory("graft_vintage_").toString
    write(s"$dir/events.parquet")
    dir
  }

  private lazy val expected: Seq[(Long, Long, Double)] = rowsOf(base)

  test("tagged timestamp[us] vintage loads as TimestampType, rows intact") {
    val dir = stage(p => base.write.parquet(p))
    val got = loadEvents(dir)
    assert(got.schema("ts").dataType == TimestampType)
    assert(rowsOf(got) == expected)
  }

  test("untagged timestamp[us] (NTZ) vintage loads as TimestampType, rows intact") {
    // Spark writes TimestampNTZType as untagged timestamp[us]
    // (isAdjustedToUTC=false) — byte-identical to the driver's r8 vintage.
    val dir = stage(p =>
      base.withColumn("ts", col("ts").cast(TimestampNTZType)).write.parquet(p))
    // The session builders pin inferTimestampNTZ=false (belt), but the load
    // contract must hold even under Spark's default inference (braces):
    // flip it on so the file actually surfaces as TIMESTAMP_NTZ and the
    // normalization branch is exercised.
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.get(key)
    try {
      spark.conf.set(key, "true")
      val got = loadEvents(dir)
      assert(got.schema("ts").dataType == TimestampType)
      assert(rowsOf(got) == expected)
    } finally spark.conf.set(key, saved)
    // And under the repo's pinned config the reader maps the file straight
    // to TIMESTAMP — passthrough branch, same rows. A new session, because
    // this one keeps the relation it read under the flipped inference.
    val got2 = Tables.load(spark.newSession(), dir, "events")
    assert(got2.schema("ts").dataType == TimestampType)
    assert(rowsOf(got2) == expected)
  }

  test("INT64 epoch-nanos vintage (nanosAsLong view of TIMESTAMP(NANOS)) loads as TimestampType, rows intact") {
    // Spark cannot write TIMESTAMP(NANOS) parquet, but under
    // nanosAsLong=true a NANOS column is indistinguishable from a plain
    // INT64 of epoch-nanos at read time — stage exactly that reader view.
    val dir = stage(p =>
      base.withColumn("ts", expr("unix_micros(ts) * 1000L")).write.parquet(p))
    val got = loadEvents(dir)
    assert(got.schema("ts").dataType == TimestampType)
    assert(rowsOf(got) == expected)
  }
}
