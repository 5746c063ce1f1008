package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Loaders for the driver testdata (TESTDATA.md / FIXTURES.md §A).
  *
  * Role mapping from the reference's domain (SURVEY.md §1.2) to testdata:
  * `projects` → `orders`, `project_subitems` → `lineitem`
  * (`revenue_amount` → `l_extendedprice`), cost boards → `events`
  * (amount → `value`, board_relation FK → `props` JSON), snapshot column
  * `extraction_date` → `o_orderdate` / `l_shipdate`.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The `name` table under `dir`, read once per session through
    * `Artifacts.read` and served again while its files are unchanged. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.Artifacts.read(spark, s"$dir/$name.parquet",
      if (name == "events") normalizeTs else identity)

  private def normalizeTs(df: DataFrame): DataFrame =
    // events.ts has shipped in three parquet vintages, and an engine must
    // read any writer's files (the reference learned the same lesson at the
    // value layer — etl_final_fix.py:23-31 exists because ISO-format drift
    // broke its load). Normalize all three to a proper TIMESTAMP:
    //  - TIMESTAMP(NANOS): no native Spark type; with
    //    spark.sql.legacy.parquet.nanosAsLong=true (set by every session
    //    builder here) it surfaces as epoch-nanos INT64 — truncate to
    //    micros, the same thing DuckDB's ns→µs cast does.
    //  - untagged timestamp[us] (isAdjustedToUTC=false): Spark 3.4+ reads it
    //    as TIMESTAMP_NTZ when inferTimestampNTZ is on — cast to TIMESTAMP,
    //    exact under this repo's pinned UTC session timezone. Builders also
    //    set inferTimestampNTZ.enabled=false so new sessions never see NTZ,
    //    but the cast keeps load correct under default configs too.
    //  - tagged timestamp[us]: already TimestampType, pass through.
    df.schema("ts").dataType match {
      case LongType         => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast(TimestampType))
      case _                => df
    }

  /** Register every testdata table as a temp view so `spark.sql` query text
    * can be submitted directly (the reference ships SQL text to BigQuery —
    * `src_warehouse_sql`, SURVEY.md §2.1; Catalyst plays BigQuery's role).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
