package graft.sink

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.flatten.Flatten

/** Oracle-checked keys for the sink layer (SURVEY.md §2.1/§2.8).
  *
  * Each key REALLY writes parquet (to a per-key temp dir, recreated every
  * run), re-reads it, and returns per-snapshot counts; the DuckDB oracle
  * derives the expected counts from the raw fixture with read_json. So a
  * wrong write mode (truncate vs append vs dynamic-overwrite) changes the
  * counts and fails the hash.
  */
object SinkQueries {

  type Q = (SparkSession, String) => DataFrame

  private def tmp(key: String): String = {
    val d = s"${sys.props("java.io.tmpdir")}/graft_sinks/$key"
    Sinks.deleteDir(d)
    d
  }

  private def root = Flatten.fixtureRoot

  /** Per-date item counts straight from the raw fixture (oracle side). */
  private def fixtureCounts(boardDir: String, mult: Map[String, Int] = Map.empty): String = {
    val multExpr = if (mult.isEmpty) "1"
    else "CASE " + mult.map { case (d, m) => s"WHEN ed = DATE '$d' THEN $m" }
      .mkString(" ") + " ELSE 1 END"
    s"""WITH raw AS (
       |  SELECT filename, data
       |  FROM read_json('$root/$boardDir/*.json', filename=true)),
       |boards AS (
       |  SELECT CAST(regexp_extract(filename, '(\\d{4}-\\d{2}-\\d{2})', 1) AS DATE) AS ed,
       |         unnest(data.boards) AS board FROM raw),
       |items AS (SELECT ed, unnest(board.items_page.items) AS item FROM boards)
       |SELECT ed AS extraction_date, CAST(COUNT(*) * ($multExpr) AS BIGINT) AS n
       |FROM items GROUP BY ed ORDER BY ed""".stripMargin
  }

  private def countsByDate(s: SparkSession, path: String): DataFrame =
    s.read.parquet(path)
      .groupBy(col("extraction_date")).agg(count(lit(1)).as("n"))
      .orderBy(col("extraction_date"))

  // ---- sink_truncate: WRITE_TRUNCATE replaces previous content -------------
  // Write one day's snapshot, then overwrite with the full set: only the
  // second write's rows must survive.
  def sinkTruncate(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("sink_truncate")
    val all = Flatten.personnel(s)
    Sinks.writeTruncate(all.filter(col("extraction_date") === "2025-06-23"), path)
    Sinks.writeTruncate(all, path)
    countsByDate(s, path)
  }

  // ---- sink_append_historical: at-least-once double append -----------------
  // Append every snapshot once, then RE-append the last day (the re-run the
  // reference logs as 184/1610): its count doubles, the others do not.
  def sinkAppendHistorical(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("sink_append_historical")
    val all = Flatten.personnel(s)
    Sinks.appendHistorical(all, path)
    Sinks.appendHistorical(all.filter(col("extraction_date") === "2025-06-27"), path)
    countsByDate(s, path)
  }

  // ---- stream_snapshot_append: incremental daily micro-batches -------------
  // Each snapshot arrives as its own batch append (the daily cron run),
  // stamped with its event-time column — the micro-batch stream in all but
  // name (SURVEY.md §2.8).
  def streamSnapshotAppend(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("stream_snapshot_append")
    val all = Flatten.travel(s).cache()
    val days = all.select(col("extraction_date")).distinct()
      .orderBy(col("extraction_date")).collect().map(_.getDate(0))
    days.foreach { d =>
      Sinks.appendHistorical(all.filter(col("extraction_date") === d), path)
    }
    all.unpersist()
    countsByDate(s, path)
  }

  // ---- stream_idempotent_ddl: exactly-once re-run ---------------------------
  // Same snapshot written twice through dynamic partition overwrite: the
  // re-run replaces its partition instead of doubling it.
  def streamIdempotentDdl(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("stream_idempotent_ddl")
    val all = Flatten.suppliers(s)
    Sinks.appendSnapshotExactlyOnce(all, path)
    Sinks.appendSnapshotExactlyOnce(
      all.filter(col("extraction_date") === "2025-06-27"), path)
    countsByDate(s, path)
  }

  // ---- sink_create_partitioned: idempotent DDL over the catalog ------------
  // CREATE TABLE IF NOT EXISTS twice, partitions discovered from disk.
  def sinkCreatePartitioned(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("sink_create_partitioned")
    Sinks.appendHistorical(Flatten.personnel(s), path)
    s.sql("DROP TABLE IF EXISTS personnel_historical")
    val ddl =
      """cost_id STRING, cost_name STRING, person STRING, amount DOUBLE,
        |linked_subitem_id STRING, linked_subitem_name STRING,
        |created_at TIMESTAMP, updated_at TIMESTAMP,
        |extraction_timestamp TIMESTAMP, extraction_date DATE""".stripMargin
    val existedFirst = Sinks.createPartitionedIfNotExists(
      s, "personnel_historical", ddl, path)
    val existedSecond = Sinks.createPartitionedIfNotExists(
      s, "personnel_historical", ddl, path)  // the idempotent re-run
    s.sql("MSCK REPAIR TABLE personnel_historical")
    s.table("personnel_historical")
      .groupBy(col("extraction_date")).agg(count(lit(1)).as("n"))
      .select(col("extraction_date"), col("n"),
        lit(existedFirst).as("existed_first"),
        lit(existedSecond).as("existed_second"))
      .orderBy(col("extraction_date"))
  }

  private val sinkCreatePartitionedOracle =
    s"""WITH raw AS (
       |  SELECT filename, data
       |  FROM read_json('$$ROOT$$/personnel/*.json', filename=true)),
       |boards AS (
       |  SELECT CAST(regexp_extract(filename, '(\\d{4}-\\d{2}-\\d{2})', 1) AS DATE) AS ed,
       |         unnest(data.boards) AS board FROM raw),
       |items AS (SELECT ed, unnest(board.items_page.items) AS item FROM boards)
       |SELECT ed AS extraction_date, CAST(COUNT(*) AS BIGINT) AS n,
       |       FALSE AS existed_first, TRUE AS existed_second
       |FROM items GROUP BY ed ORDER BY ed""".stripMargin
      .replace("$ROOT$", root)

  // ---- sink_schema_explicit: declared schema on the read path --------------
  // Re-read the written parquet through an EXPLICIT StructType (the
  // reference's explicit load schemas, `etl_final_fix.py:221-311`) instead
  // of inference, projecting a typed subset.
  def sinkSchemaExplicit(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("sink_schema_explicit")
    Sinks.writeTruncate(Flatten.travel(s), path)
    val explicit = StructType(Seq(
      StructField("cost_id", StringType),
      StructField("amount", DoubleType),
      StructField("date", DateType),
      StructField("stato", StringType),
      StructField("extraction_date", DateType)))
    s.read.schema(explicit).parquet(path)
      .groupBy(col("extraction_date"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("amount").cast("decimal(18,4)")), 2).cast("double")
          .as("total_amount"),
        count(col("date")).as("n_with_date"))
      .orderBy(col("extraction_date"))
  }

  private val sinkSchemaExplicitOracle =
    s"""WITH raw AS (
       |  SELECT filename, data
       |  FROM read_json('$$ROOT$$/travel/*.json', filename=true)),
       |boards AS (
       |  SELECT CAST(regexp_extract(filename, '(\\d{4}-\\d{2}-\\d{2})', 1) AS DATE) AS ed,
       |         unnest(data.boards) AS board FROM raw),
       |items AS (SELECT ed, unnest(board.items_page.items) AS item FROM boards),
       |flat AS (
       |  SELECT ed,
       |         COALESCE(TRY_CAST(list_filter(item.column_values, c -> c.id = 'numbers' AND c.text IS NOT NULL AND c.text <> '')[1].text AS DOUBLE), 0.0) AS amount,
       |         CAST(try_strptime(list_filter(item.column_values, c -> c.id = 'date' AND c.text IS NOT NULL AND c.text <> '')[1].text, '%Y-%m-%d') AS DATE) AS date
       |  FROM items)
       |SELECT ed AS extraction_date, CAST(COUNT(*) AS BIGINT) AS n,
       |       CAST(ROUND(SUM(CAST(amount AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_amount,
       |       COUNT(date) AS n_with_date
       |FROM flat GROUP BY ed ORDER BY ed""".stripMargin
      .replace("$ROOT$", root)

  // ---- sink_shards ----------------------------------------------------------
  // Training-shard EXPORT — the step that hands a curated corpus to the
  // trainer (WebDataset / Megatron shards): every doc routes to one of 8
  // shards by a pure function of its stable id (first md5 byte mod 8 —
  // sample_split_hash's reproducibility contract: re-running the export on
  // any cluster shape emits byte-identical shard membership), the shards
  // land as a partitioned parquet layout, and the key returns the shard
  // MANIFEST read back FROM THE WRITTEN FILES — shard sizes, token totals
  // (what trainers budget by), and a full-corpus checksum, so a routing
  // or write error fails the hash. The oracle derives the same manifest
  // from the raw table.
  //
  // Scale: the write is one hash-partitioned shuffle (partitionBy over 8
  // values; at 100 TB shards number in the thousands and the same plan
  // holds); the manifest is one per-shard hash-agg over the readback,
  // with the checksum the mergeable per-doc-hash sum (Scalars.corpusFp:
  // constant state per shard, map-side combining — not a
  // collect-the-shard md5 chain).
  def sinkShards(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("shards")
    val docs = graft.model.Tables.load(s, dir, "documents")
      .withColumn("shard",
        (conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
          .cast("int") % 8).cast("int"))
    docs.write.partitionBy("shard").parquet(path)
    s.read.parquet(path)
      .withColumn("n_toks",
        size(expr("filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')")))
      .groupBy(col("shard").cast("int").as("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_toks").cast("long")).as("n_tokens"),
        graft.functions.Scalars.corpusFp(col("doc_id"), col("text"))
          .as("shard_fp"))
      .orderBy(col("shard"))
  }

  private val sinkShardsOracle =
    s"""WITH d AS (
      |  SELECT *,
      |         ((instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |          + (instr('0123456789abcdef', substring(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1)) % 8 AS shard,
      |         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_toks
      |  FROM documents)
      |SELECT CAST(shard AS INT) AS shard, COUNT(*) AS n_docs,
      |       CAST(SUM(n_toks) AS BIGINT) AS n_tokens,
      |       ${graft.functions.Scalars.corpusFpSql("doc_id", "text")} AS shard_fp
      |FROM d GROUP BY shard ORDER BY shard""".stripMargin

  // ---- sink_csv_roundtrip ---------------------------------------------------
  // CSV sink correctness under the payloads that break naive writers:
  // every record carries an embedded delimiter, embedded double-quotes,
  // AND an embedded newline (constructed deterministically from the doc
  // text, so the oracle builds the identical strings without touching a
  // CSV library). The frame writes through Spark's CSV sink (quoting +
  // escaping engaged by content) and is read back with multiLine parsing;
  // the aggregate fingerprints every recovered (doc_id, string) pair via
  // the mergeable per-doc-hash sum — one mangled quote, lost newline, or
  // split record anywhere in the corpus fails the hash. This is the interchange contract sink_shards' parquet
  // path never has to prove; at 100 TB the same write is the export to
  // CSV-consuming downstreams and scales as pure parse/format throughput.
  def sinkCsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("sink_csv_roundtrip")
    graft.model.Tables.load(s, dir, "documents")
      .select(col("doc_id"), expr(
        """concat('v,', substring(text, 1, 24), '"q"', chr(10),
          |       'tail;', doc_id)""".stripMargin).as("tricky"))
      .write.option("header", "true").csv(path)
    s.read.option("header", "true").option("multiLine", "true")
      .schema("doc_id LONG, tricky STRING").csv(path)
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("tricky"))).as("sum_len"),
        graft.functions.Scalars.corpusFp(col("doc_id"), col("tricky"))
          .as("corpus_fp"))
  }

  private val sinkCsvRoundtripOracle =
    s"""WITH t AS (
      |  SELECT doc_id,
      |         concat('v,', substring(text, 1, 24), '"q"', chr(10),
      |                'tail;', doc_id) AS tricky
      |  FROM documents)
      |SELECT COUNT(*) AS n_docs,
      |       CAST(SUM(len(tricky)) AS BIGINT) AS sum_len,
      |       ${graft.functions.Scalars.corpusFpSql("doc_id", "tricky")} AS corpus_fp
      |FROM t""".stripMargin

  // ---- sink_dynamic_overwrite ----------------------------------------------
  // Dynamic partition overwrite — the vanilla-Spark daily-reload idiom
  // (partitionOverwriteMode=dynamic): an overwrite write replaces ONLY the
  // partitions the incoming frame actually touches and leaves every other
  // partition's files on disk untouched (static mode would clobber the
  // whole table — the classic first-production-incident of partitioned
  // sinks; table_replace_where is this same contract implemented at the
  // manifest layer). The key stages a status-partitioned table, reloads
  // just the 'O' partition with doubled totals, and aggregates the
  // re-read: 'O' must show the reload, 'F'/'P' the original rows — a
  // wrong overwrite mode empties them and fails both count and sum.
  def sinkDynamicOverwrite(s: SparkSession, dir: String): DataFrame = {
    val path = tmp("sink_dynamic_overwrite")
    val base = graft.model.Tables.load(s, dir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    base.write.partitionBy("o_orderstatus").parquet(path)
    val reload = base.filter(col("o_orderstatus") === "O")
      .withColumn("o_totalprice", col("o_totalprice") * 2) // ×2 is fp-exact
    // per-WRITE option, not the session conf: toggling
    // spark.sql.sources.partitionOverwriteMode on the shared session would
    // silently hand dynamic-overwrite semantics to any concurrent writer
    // during the window (r9 ADVICE); the DataFrameWriter option scopes the
    // mode to exactly this write
    reload.write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderstatus").parquet(path)
    s.read.parquet(path)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("sum_total"))
      .orderBy(col("o_orderstatus"))
  }

  private val sinkDynamicOverwriteOracle =
    """SELECT o_orderstatus, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(CASE WHEN o_orderstatus = 'O'
      |                                THEN o_totalprice * 2
      |                                ELSE o_totalprice END
      |                      AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_total
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "sink_dynamic_overwrite" -> (sinkDynamicOverwrite _),
    "sink_csv_roundtrip" -> (sinkCsvRoundtrip _),
    "sink_shards" -> (sinkShards _),
    "sink_truncate" -> (sinkTruncate _),
    "sink_append_historical" -> (sinkAppendHistorical _),
    "stream_snapshot_append" -> (streamSnapshotAppend _),
    "stream_idempotent_ddl" -> (streamIdempotentDdl _),
    "sink_create_partitioned" -> (sinkCreatePartitioned _),
    "sink_schema_explicit" -> (sinkSchemaExplicit _))

  val oracles: Map[String, String] = Map(
    "sink_dynamic_overwrite" -> sinkDynamicOverwriteOracle,
    "sink_csv_roundtrip" -> sinkCsvRoundtripOracle,
    "sink_shards" -> sinkShardsOracle,
    "sink_truncate" -> fixtureCounts("personnel"),
    "sink_append_historical" -> fixtureCounts("personnel",
      Map("2025-06-27" -> 2)),
    "stream_snapshot_append" -> fixtureCounts("travel"),
    "stream_idempotent_ddl" -> fixtureCounts("suppliers"),
    "sink_create_partitioned" -> sinkCreatePartitionedOracle,
    "sink_schema_explicit" -> sinkSchemaExplicitOracle)
}
