package graft.source

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flatten.Flatten

/** Oracle-checked keys for the source connector (SURVEY.md §2.1).
  *
  * Each key drives MondayClient over a canned transport backed by the SAME
  * fixture files the oracle reads with read_json — the client must actually
  * retry / paginate / probe to produce the asserted rows, and the DuckDB
  * side states what the final extracted relation must be.
  */
object SourceQueries {

  type Q = (SparkSession, String) => DataFrame

  private val evoRunId = new java.util.concurrent.atomic.AtomicInteger(0)

  // Keys that stage a derived copy of a testdata table stage it once per
  // (key, source table) through `Artifacts.derive`: repeated invocations
  // in one session (the bench runs each key 3-5×) reuse the staged files
  // instead of accumulating a fresh copy per call (the joinDppPrune
  // discipline, r9 ADVICE). Staging is fixture PREP for these keys — the
  // contract under test is the read/parse path, which runs fresh every
  // invocation either way.

  private def root = Flatten.fixtureRoot
  private def readFile(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  /** Raw page bodies → items relation (id, name). */
  private def itemsDf(s: SparkSession, pages: Seq[String]): DataFrame = {
    import s.implicits._
    s.read.schema(Flatten.docSchema).json(pages.toDS())
      .select(explode(col("data.boards")).as("board"))
      .select(explode(col("board.items_page.items")).as("item"))
      .select(col("item.id").as("item_id"), col("item.name").as("item_name"))
      .orderBy(col("item_id").cast("long"))
  }

  private def itemsOracle(glob: String): String =
    s"""WITH raw AS (SELECT data FROM read_json('$root/$glob')),
       |boards AS (SELECT unnest(data.boards) AS board FROM raw),
       |items AS (SELECT unnest(board.items_page.items) AS item FROM boards)
       |SELECT item.id AS item_id, item.name AS item_name
       |FROM items ORDER BY CAST(item_id AS BIGINT)""".stripMargin

  // ---- src_http_graphql: POST → envelope parse → relation ------------------
  def srcHttpGraphql(s: SparkSession, dir: String): DataFrame = {
    val body = readFile(s"$root/personnel/2025-06-27.json")
    val client = new MondayClient(new Transport {
      def post(q: String): String = body
    })
    val resp = client.apiCall(MondayQueries.itemsPageQuery("8113598810", 100, None))
    itemsDf(s, Seq(resp.toString))
  }

  // ---- src_retry: two transient failures, third attempt lands --------------
  // Output carries the attempt count: the engine must really have retried.
  def srcRetry(s: SparkSession, dir: String): DataFrame = {
    val body = readFile(s"$root/travel/2025-06-27.json")
    var n = 0
    val client = new MondayClient(new Transport {
      def post(q: String): String = {
        n += 1
        if (n <= 2) throw new java.io.IOException(s"transient failure $n")
        body
      }
    })
    val resp = client.apiCall(MondayQueries.itemsPageQuery("8113598920", 100, None))
    itemsDf(s, Seq(resp.toString))
      .agg(count(lit(1)).as("n_items"))
      .select(lit(client.lastAttempts).as("attempts"), col("n_items"))
  }

  private val srcRetryOracle =
    s"""WITH raw AS (SELECT data FROM read_json('$root/travel/2025-06-27.json')),
       |boards AS (SELECT unnest(data.boards) AS board FROM raw),
       |items AS (SELECT unnest(board.items_page.items) AS item FROM boards)
       |SELECT 3 AS attempts, COUNT(*) AS n_items FROM items""".stripMargin

  // ---- src_pagination: cursor loop over the two 2025-06-27 project pages ---
  def srcPagination(s: SparkSession, dir: String): DataFrame = {
    val p1 = readFile(s"$root/projects/2025-06-27_p1.json")
    val p2 = readFile(s"$root/projects/2025-06-27_p2.json")
    val client = new MondayClient(new Transport {
      // page 1 carries cursor "cur-p2" (see gen_monday_fixture.py); the
      // client must echo it into the next query to get page 2
      def post(q: String): String = if (q.contains("cur-p2")) p2 else p1
    })
    val pages = client.fetchAllPages(cur =>
      MondayQueries.itemsPageQuery("8113598675", 100, cur))
    itemsDf(s, pages)
  }

  // ---- src_dialect_probe: first two dialects rejected, third works ---------
  def srcDialectProbe(s: SparkSession, dir: String): DataFrame = {
    val body = readFile(s"$root/suppliers/2025-06-27.json")
    val client = new MondayClient(new Transport {
      def post(q: String): String =
        if (q.contains("items_page"))
          """{"errors":[{"message":"items_page not supported on this API version"}]}"""
        else body
    })
    val Some((dialect, resp)) =
      client.probeDialect(MondayQueries.dialectCandidates("8113599030"))
    itemsDf(s, Seq(resp.toString))
      .agg(count(lit(1)).as("n_items"))
      .select(lit(dialect).as("dialect"), col("n_items"))
  }

  private val srcDialectProbeOracle =
    s"""WITH raw AS (SELECT data FROM read_json('$root/suppliers/2025-06-27.json')),
       |boards AS (SELECT unnest(data.boards) AS board FROM raw),
       |items AS (SELECT unnest(board.items_page.items) AS item FROM boards)
       |SELECT 'legacy_items' AS dialect, COUNT(*) AS n_items FROM items""".stripMargin

  // ---- src_dsv2_scan: the scale path — DSv2 scan, one partition per page --
  def srcDsv2Scan(s: SparkSession, dir: String): DataFrame =
    s.read.format("monday")
      .option("pages",
        s"$root/projects/2025-06-27_p1.json,$root/projects/2025-06-27_p2.json")
      .load()
      .select(col("item_id"), col("item_name"))
      .orderBy(col("item_id").cast("long"))

  // ---- src_schema_evolution -------------------------------------------------
  // Schema evolution on the read path: an old-schema batch (doc_id, source)
  // and a new-schema batch (+ lang) land in one dataset; `mergeSchema=true`
  // unions the footers and null-fills the missing column — the contract a
  // long-lived 100 TB table depends on when producers add columns. The
  // rollup groups on the evolved column, so a wrong merge (dropped column,
  // failed union, misaligned nulls) changes the counts and fails the hash.
  // At scale the same read works because merging is footer-only (schema
  // metadata, not data); the oracle states the union + null-fill
  // relationally.
  def srcSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    // the pid-scoped Artifacts root keeps concurrent sessions on one host
    // from deleting each other's staged batches
    val docs = graft.model.Tables.load(s, dir, "documents")
    val path = graft.Artifacts.derive("src_evo", s"$dir/documents.parquet") { p =>
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id"), col("source"))
        .write.parquet(s"$p/v1")
      docs.filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("source"), col("lang"))
        .write.parquet(s"$p/v2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy(col("lang").asc_nulls_first)
  }

  private val srcSchemaEvolutionOracle =
    """WITH merged AS (
      |  SELECT doc_id, source, CAST(NULL AS VARCHAR) AS lang
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, source, lang FROM documents WHERE doc_id % 2 = 1)
      |SELECT lang, COUNT(*) AS n_docs, COUNT(DISTINCT source) AS n_sources
      |FROM merged GROUP BY lang ORDER BY lang NULLS FIRST""".stripMargin

  // ---- src_jsonl ------------------------------------------------------------
  // JSONL round-trip — the interchange format LLM corpora actually ship in
  // (one JSON object per line; WebText, C4, RedPajama, FineWeb all
  // distribute this way). The contract under test: (a) the sink emits
  // line-delimited JSON Spark itself can re-ingest, and (b) the read path
  // takes an EXPLICIT schema — at 100 TB, schema inference is a full extra
  // pass over the corpus, so production reads must never pay it. The
  // readback aggregates per source with a full-text checksum (the
  // mergeable per-doc-hash sum of Scalars.corpusFp — constant aggregation
  // state per group, unlike a collect-the-corpus md5 chain), so any
  // escaping/encoding loss in the round-trip changes the fingerprint
  // against the oracle, which reads the SAME relation from the original
  // parquet.
  def srcJsonl(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.model.Tables.load(s, dir, "documents")
    val path = graft.Artifacts.derive("src_jsonl", s"$dir/documents.parquet") { p =>
      docs.write.json(s"$p/docs")
    }
    s.read.schema(docs.schema).json(s"$path/docs")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        graft.functions.Scalars.corpusFp(col("doc_id"), col("text"))
          .as("corpus_fp"))
      .orderBy(col("source"))
  }

  private val srcJsonlOracle =
    s"""SELECT source, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       ${graft.functions.Scalars.corpusFpSql("doc_id", "text")} AS corpus_fp
      |FROM documents GROUP BY source ORDER BY source""".stripMargin

  // ---- src_avro_roundtrip ----------------------------------------------------
  // Avro ROUND-TRIP — the row-oriented interchange format (Kafka estates
  // ship Avro the way lakehouses ship parquet). The spark-avro DataSource
  // module is a separate artifact the offline build cannot resolve, so the
  // format rides avro-core (which Spark itself ships) through AvroIo's
  // codec seam: container files written one-per-partition, read one task
  // per file under an EXPLICIT schema with the standard logical-type
  // bridge (date=int/date, timestamp=long/micros). The verification
  // aggregate fingerprints every (key, cents, date, epoch-micros) tuple,
  // so a value corrupted anywhere in the encode/decode bridge fails the
  // hash — not just the counts.
  def srcAvroRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val o = graft.model.Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("total"),
        to_date(col("o_orderdate")).as("odate"), col("o_orderdate").as("ots"))
    val path = graft.Artifacts.derive("src_avro", s"$dir/orders.parquet") { p =>
      AvroIo.write(o.repartition(4), s"$p/orders_avro")
      ()
    }
    val files = new java.io.File(s"$path/orders_avro").listFiles()
      .filter(_.getName.endsWith(".avro")).map(_.getPath).sorted.toSeq
    AvroIo.read(s, files, o.schema)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("total").cast("decimal(18,4)")), 2).cast("double")
          .as("sum_total"),
        min(col("odate")).as("min_date"), max(col("ots")).as("max_ts"),
        graft.functions.Scalars.corpusFp(col("key"), concat_ws("\u0002",
          expr("CAST(round(total * 100) AS BIGINT)").cast("string"),
          col("odate").cast("string"),
          unix_micros(col("ots")).cast("string"))).as("corpus_fp"))
      .orderBy(col("status"))
  }

  private val srcAvroRoundtripOracle = {
    val payload = "concat(CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS VARCHAR), chr(2), " +
      "CAST(CAST(o_orderdate AS DATE) AS VARCHAR), chr(2), " +
      "CAST(epoch_us(o_orderdate) AS VARCHAR))"
    s"""SELECT o_orderstatus AS status, COUNT(*) AS n,
      |       CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS sum_total,
      |       MIN(CAST(o_orderdate AS DATE)) AS min_date,
      |       MAX(o_orderdate) AS max_ts,
      |       ${graft.functions.Scalars.corpusFpSql("o_orderkey", payload)} AS corpus_fp
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin
  }

  // ---- src_orc_roundtrip ----------------------------------------------------
  // ORC round-trip — the second columnar interchange format (Hive/Trino
  // estates ship ORC the way lakehouses ship parquet; a user switching
  // engines needs both read AND write). Spark's ORC source is native and
  // vectorized, so the Spark-first answer is the built-in format with the
  // same production read contract as src_jsonl: explicit schema (no
  // inference pass) and the mergeable per-doc-hash corpus fingerprint, so
  // a type-mapping or encoding loss anywhere in the ORC writer/reader
  // pair fails the hash against the oracle reading the ORIGINAL parquet.
  // Scale: both legs are single columnar scans; ORC stripes split like
  // parquet row groups, so the read parallelizes identically.
  def srcOrcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = graft.model.Tables.load(s, dir, "documents")
    val path = graft.Artifacts.derive("src_orc", s"$dir/documents.parquet") { p =>
      docs.write.orc(s"$p/docs")
    }
    s.read.schema(docs.schema).orc(s"$path/docs")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        graft.functions.Scalars.corpusFp(col("doc_id"), col("text"))
          .as("corpus_fp"))
      .orderBy(col("lang"))
  }

  private val srcOrcRoundtripOracle =
    s"""SELECT lang, COUNT(*) AS n_docs,
      |       CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
      |       ${graft.functions.Scalars.corpusFpSql("doc_id", "text")} AS corpus_fp
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  // ---- src_cdc_envelope -----------------------------------------------------
  // CDC ENVELOPE ingest (r11) — consuming another system's change feed:
  // the Debezium/Kafka-Connect envelope shape (op c/u/d with nested
  // before/after row images, one JSON object per event) is how CDC
  // arrives from an operational database. The key stages the
  // deterministic merge changeset AS that envelope (op D→d carries only
  // `before`, U→u carries both images, I→c only `after` — to_json drops
  // the null side, exactly like the real feed), re-ingests it with an
  // EXPLICIT nested schema (no inference pass), folds each event to the
  // net change, and applies it onto the orders snapshot with the same
  // full-outer MERGE the native changeset uses. The oracle replays the
  // merge relationally — a mis-parsed image, a dropped event, or a
  // before/after mixup anywhere changes the merged table and fails the
  // hash.
  //
  // Scale: parse is schema'd scan-local JSON decode; the apply is
  // merge_upsert's one-shuffle-per-side full-outer join (zero
  // co-bucketed). The envelope's value is interop — the feed an
  // operational DB emits lands in this engine without a custom parser.
  def srcCdcEnvelope(s: SparkSession, dir: String): DataFrame = {
    val path = cdcEnvelopeRoot(s, dir)
    val envSchema = "op STRING, " +
      "before STRUCT<key: BIGINT, status: STRING, total: DOUBLE>, " +
      "after STRUCT<key: BIGINT, status: STRING, total: DOUBLE>"
    val changes = s.read.schema(envSchema).json(s"$path/cdc")
      .select(coalesce(col("after.key"), col("before.key")).as("key"),
        col("op"), col("after.status").as("new_status"),
        col("after.total").as("new_total"))
    val base = graft.model.Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("total"))
    base.join(changes, Seq("key"), "full_outer")
      .filter(col("op").isNull || col("op") =!= "d")
      .select(col("key"),
        when(col("op").isNotNull, col("new_status")).otherwise(col("status"))
          .as("status"),
        when(col("op").isNotNull, col("new_total")).otherwise(col("total"))
          .as("total"))
      .orderBy(col("key"))
  }

  /** Root of the staged CDC envelope (`cdc/`, one JSON event per line)
    * that src_cdc_envelope reads. */
  private[graft] def cdcEnvelopeRoot(s: SparkSession, dir: String): String =
    graft.Artifacts.derive("src_cdc", s"$dir/orders.parquet") { p =>
      graft.operators.PipelineOps.mergeChangeset(s, dir)
        .select(to_json(struct(
          when(col("op") === "D", lit("d"))
            .when(col("op") === "U", lit("u"))
            .otherwise(lit("c")).as("op"),
          when(col("op").isin("D", "U"),
            struct(col("key"), col("old_status").as("status"),
              col("old_total").as("total"))).as("before"),
          when(col("op").isin("U", "I"),
            struct(col("key"), col("new_status").as("status"),
              col("new_total").as("total"))).as("after")))
          .as("value"))
        .write.text(s"$p/cdc")
    }

  private val srcCdcEnvelopeOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |changes AS (
      |  SELECT key, 'D' AS op, CAST(NULL AS VARCHAR) AS new_status,
      |         CAST(NULL AS DOUBLE) AS new_total
      |  FROM base WHERE key % 13 = 0
      |  UNION ALL
      |  SELECT key, 'U', 'X',
      |         CAST(ROUND(CAST(total * 1.1 AS DECIMAL(18,4)), 2) AS DOUBLE)
      |  FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |  UNION ALL
      |  SELECT -key, 'I', 'N', total
      |  FROM base WHERE key % 97 = 0 AND key > 0)
      |SELECT COALESCE(b.key, c.key) AS key,
      |       CASE WHEN c.op IS NOT NULL THEN c.new_status ELSE b.status END AS status,
      |       CASE WHEN c.op IS NOT NULL THEN c.new_total ELSE b.total END AS total
      |FROM base b FULL OUTER JOIN changes c ON c.key = b.key
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY key""".stripMargin

  // ---- src_fixed_width ------------------------------------------------------
  // Fixed-width (positional) file ingest — the mainframe/EDI layout every
  // enterprise loader eventually meets: no delimiters, fields live at
  // byte offsets. Spark has no fixed-width reader, and the correct
  // Spark-first answer is NOT a custom source but `spark.read.text` +
  // codegen'd substring/trim/cast projections — the scan stays a plain
  // text scan with column pruning and the parse is whole-stage-codegen
  // scalar work. Round-trip contract: orders render to 28-byte records
  // (orderkey lpad 10 · status rpad 4 · cents sign byte + lpad-13
  // magnitude), land as a real text file, parse back by OFFSET, and the
  // per-status aggregate must equal the oracle computed from the base
  // table — a wrong offset or a trim/pad asymmetry shifts every field
  // and fails the hash.
  //
  // The cents field is sign-carrying (r10 ADVICE): byte 15 is '-' for
  // negative amounts and '0' otherwise, followed by a 13-digit zero-padded
  // magnitude — so CAST parses both polarities exactly and a negative
  // amount can never silently render as an unparseable digit string. For
  // non-negative cents the rendered record is byte-identical to the old
  // 14-digit lpad, so the oracle and offsets are unchanged.

  /** orders → 30-byte positional records (testable seam; FwSignSpec pins
    * the negative-amount round trip the TPC-H data never exercises). */
  private[source] def fixedWidthRecords(df: DataFrame): DataFrame =
    df.select(expr(
      """concat(lpad(CAST(o_orderkey AS STRING), 10, '0'),
        |       rpad(o_orderstatus, 4, ' '),
        |       CASE WHEN round(o_totalprice * 100) < 0 THEN '-' ELSE '0' END,
        |       lpad(CAST(abs(CAST(round(o_totalprice * 100) AS BIGINT)) AS STRING),
        |            13, '0'))""".stripMargin).as("value"))

  /** positional records → typed columns, by byte offset. */
  private[source] def parseFixedWidth(df: DataFrame): DataFrame =
    df.select(
      expr("CAST(substring(value, 1, 10) AS BIGINT)").as("orderkey"),
      expr("trim(substring(value, 11, 4))").as("status"),
      expr("CAST(substring(value, 15, 14) AS BIGINT)").as("cents"))

  def srcFixedWidth(s: SparkSession, dir: String): DataFrame = {
    val path = graft.Artifacts.derive("src_fw", s"$dir/orders.parquet") { p =>
      fixedWidthRecords(graft.model.Tables.load(s, dir, "orders"))
        .write.text(s"$p/fw")
    }
    parseFixedWidth(s.read.text(s"$path/fw"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        sum(col("cents")).as("sum_cents"),
        min(col("orderkey")).as("min_key"),
        max(col("orderkey")).as("max_key"))
      .orderBy(col("status"))
  }

  private val srcFixedWidthOracle =
    """SELECT o_orderstatus AS status, COUNT(*) AS n,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents,
      |       CAST(MIN(o_orderkey) AS BIGINT) AS min_key,
      |       CAST(MAX(o_orderkey) AS BIGINT) AS max_key
      |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- src_csv_badrecords ---------------------------------------------------
  // Robust CSV ingest — the PERMISSIVE-mode contract production loaders
  // depend on: malformed rows (here every doc_id % 17 == 0 row is staged
  // with fields missing) must neither kill the job (FAILFAST) nor vanish
  // (DROPMALFORMED) but land intact in the corrupt-record column for a
  // quarantine pass — the batch-source sibling of stream_quarantine. The
  // read takes an EXPLICIT schema (+ the _corrupt column); the result
  // aggregates both sides, and conservation (ok + corrupt == corpus) plus
  // the ok-side full-text checksum are in the hashed contract, so a parser
  // that dropped or half-parsed a malformed row fails the oracle compare.
  def srcCsvBadRecords(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = s"${sys.props("java.io.tmpdir")}/graft_src_csv" +
      s"-${ProcessHandle.current().pid()}-${evoRunId.incrementAndGet()}"
    graft.sink.Sinks.deleteDir(path)
    val docs = graft.model.Tables.load(s, dir, "documents")
    // fixture text is [a-z0-9 ]+ so no CSV quoting/escaping ambiguity —
    // the corruption (missing fields) is the only malformation
    docs.select(when(col("doc_id") % 17 === 0,
        concat_ws(",", col("doc_id"), col("lang")))
      .otherwise(concat_ws(",", col("doc_id"), col("lang"), col("source"),
        col("n_chars"), col("text"))).as("value"))
      .write.text(s"$path/csv")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType),
      StructField("text", StringType), StructField("_corrupt", StringType)))
    val back = s.read.schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(s"$path/csv")
      .localCheckpoint() // two aggregation consumers, one parse
    val ok = back.filter(col("_corrupt").isNull)
      .agg(count(lit(1)).as("n_rows"),
        sum(col("n_chars")).as("sum_chars"),
        graft.functions.Scalars.corpusFp(col("doc_id"), col("text"))
          .as("corpus_fp"))
      .select(lit("ok").as("side"), col("n_rows"), col("sum_chars"),
        col("corpus_fp"))
    val bad = back.filter(col("_corrupt").isNotNull)
      .agg(count(lit(1)).as("n_rows"))
      .select(lit("corrupt").as("side"), col("n_rows"),
        lit(null).cast("long").as("sum_chars"),
        lit(null).cast("string").as("corpus_fp"))
    bad.unionAll(ok).orderBy(col("side"))
  }

  private val srcCsvBadRecordsOracle =
    s"""WITH flag AS (SELECT *, doc_id % 17 = 0 AS bad FROM documents)
      |SELECT 'corrupt' AS side, COUNT(*) AS n_rows,
      |       CAST(NULL AS BIGINT) AS sum_chars,
      |       CAST(NULL AS VARCHAR) AS corpus_fp
      |FROM flag WHERE bad
      |UNION ALL
      |SELECT 'ok', COUNT(*), CAST(SUM(n_chars) AS BIGINT),
      |       ${graft.functions.Scalars.corpusFpSql("doc_id", "text")}
      |FROM flag WHERE NOT bad
      |ORDER BY side""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "src_csv_badrecords" -> (srcCsvBadRecords _),
    "src_jsonl" -> (srcJsonl _),
    "src_avro_roundtrip" -> (srcAvroRoundtrip _),
    "src_orc_roundtrip" -> (srcOrcRoundtrip _),
    "src_cdc_envelope" -> (srcCdcEnvelope _),
    "src_fixed_width" -> (srcFixedWidth _),
    "src_http_graphql" -> (srcHttpGraphql _),
    "src_retry" -> (srcRetry _),
    "src_pagination" -> (srcPagination _),
    "src_dialect_probe" -> (srcDialectProbe _),
    "src_dsv2_scan" -> (srcDsv2Scan _),
    "src_schema_evolution" -> (srcSchemaEvolution _))

  val oracles: Map[String, String] = Map(
    "src_csv_badrecords" -> srcCsvBadRecordsOracle,
    "src_jsonl" -> srcJsonlOracle,
    "src_avro_roundtrip" -> srcAvroRoundtripOracle,
    "src_orc_roundtrip" -> srcOrcRoundtripOracle,
    "src_cdc_envelope" -> srcCdcEnvelopeOracle,
    "src_fixed_width" -> srcFixedWidthOracle,
    "src_http_graphql" -> itemsOracle("personnel/2025-06-27.json"),
    "src_retry" -> srcRetryOracle,
    "src_pagination" -> itemsOracle("projects/2025-06-27_p*.json"),
    "src_dialect_probe" -> srcDialectProbeOracle,
    "src_dsv2_scan" -> itemsOracle("projects/2025-06-27_p*.json"),
    "src_schema_evolution" -> srcSchemaEvolutionOracle)
}
