package graft.flatten

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

import graft.expressions.ColumnPick
import graft.functions.Scalars._

/** The reference's core transform: nested Monday.com GraphQL JSON → 5 typed
  * relational tables (SURVEY.md §2.2; ref `monday_etl_automated.py:238-560`).
  *
  * Spark-first design: each table parses its board's documents with an
  * explicit schema pruned to the fields its columns read (`docSchema`
  * narrowed per table; the embedded `value` JSON stays an opaque string), a
  * board's page files scan in one task per split, `explode` walks
  * boards→items→subitems, and each output column is one first-(or last-)
  * non-empty pick over the `column_values` array — the per-column dispatch
  * maps of the reference become `Map[String, Column => Column]` config, not
  * imperative loops. The pick is the native `ColumnPick` expression, not a
  * `filter` lambda (a `CodegenFallback`), so each table's projection runs in
  * the same whole-stage-codegen stage as the `explode` below it (FlattenSpec
  * checks every table's executed plan); at 100 TB the raw documents would
  * be a date-partitioned table of JSON strings and this exact plan applies
  * per partition with no shuffle at all
  * (parent-child denormalization is free: the explode carries parent columns).
  *
  * Pinned semantics reproduced exactly (and asserted in FlattenSpec):
  *  - truthy-text guard: "" keeps the default (null for strings/dates,
  *    0.0 for numerics)
  *  - unparseable numeric → 0.0, unparseable date → null
  *  - first non-empty status wins (`monday_etl_automated.py:320-322`)
  *  - timeline "a - b": end only parsed when start parsed (`:312-319`)
  *  - board_relation: name from text, id from value JSON
  *    `linkedPulseIds[0].linkedPulseId`, id null on malformed/empty (`:386-395`)
  */
object Flatten {

  /** Fixture root — the raw-document store for this engine's tests.
    * Overridable for tests writing their own documents. */
  def fixtureRoot: String =
    sys.env.getOrElse("GRAFT_MONDAY_DIR", "/root/repo/src/test/resources/monday")

  // ---- document schema (GraphQL response; FIXTURES.md §B.1) ----------------
  private val columnMeta = StructType(Seq(
    StructField("id", StringType), StructField("title", StringType),
    StructField("type", StringType)))
  private val columnValue = StructType(Seq(
    StructField("id", StringType), StructField("text", StringType),
    StructField("value", StringType),  // JSON-in-string, parsed lazily
    StructField("column", columnMeta)))
  private val subitem = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("created_at", StringType), StructField("updated_at", StringType),
    StructField("column_values", ArrayType(columnValue))))
  private val item = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("created_at", StringType), StructField("updated_at", StringType),
    StructField("column_values", ArrayType(columnValue)),
    StructField("subitems", ArrayType(subitem))))
  private val itemsPage = StructType(Seq(
    StructField("cursor", StringType), StructField("items", ArrayType(item))))
  private val board = StructType(Seq(
    StructField("id", StringType), StructField("name", StringType),
    StructField("items_page", itemsPage)))
  val docSchema: StructType = StructType(Seq(
    StructField("data", StructType(Seq(
      StructField("boards", ArrayType(board)))))))

  /** `docSchema` narrowed to the given item fields (dotted paths below
    * `items`; arrays are transparent). The parser skips every other field,
    * so a table's generated code covers only what its columns read, and a
    * malformed value in a field it never reads cannot null its rows. */
  private def itemsSchema(paths: String*): StructType = {
    def keep(t: DataType, ps: Seq[List[String]]): DataType = t match {
      case st: StructType => StructType(st.fields.flatMap { f =>
        val rest = ps.collect { case h :: r if h == f.name => r }
        if (rest.isEmpty) None
        else if (rest.contains(Nil)) Some(f)
        else Some(f.copy(dataType = keep(f.dataType, rest)))
      })
      case ArrayType(e, nulls) => ArrayType(keep(e, ps), nulls)
      case leaf => leaf
    }
    val below = "data.boards.items_page.items".split('.').toList
    keep(docSchema, paths.map(below ++ _.split('.'))).asInstanceOf[StructType]
  }
  private val itemHeader = Seq("id", "name", "created_at", "updated_at")
  private val projectsSchema = itemsSchema(
    itemHeader ++ Seq("column_values.id", "column_values.text"): _*)
  private val subitemsSchema = itemsSchema("id" +: (itemHeader ++ Seq(
    "column_values.text", "column_values.column.type")).map("subitems." + _): _*)
  private val costsSchema = itemsSchema(itemHeader ++ Seq(
    "column_values.id", "column_values.text", "column_values.value"): _*)

  /** Read one board's snapshot documents (one file per snapshot date, or per
    * page: `<date>[_pN].json`); extraction_date derives from the filename —
    * the run-date stamp of the reference (`monday_etl_automated.py:52-53`),
    * made deterministic.
    *
    * Each small page file would otherwise be its own task, and every write
    * downstream inherits that count; the board coalesces (no shuffle) to
    * `ceil(bytes / spark.sql.files.maxPartitionBytes)` partitions, `bytes`
    * being the scan relation's own estimate from its file listing. The
    * stamp is taken below the coalesce, while each row's file is current. */
  private def readBoard(s: SparkSession, boardDir: String,
      schema: StructType): DataFrame = {
    val raw = s.read.option("multiLine", "true").schema(schema).json(boardDir)
    val bytes = raw.queryExecution.analyzed.stats.sizeInBytes
    val split = BigInt(s.sessionState.conf.filesMaxPartitionBytes)
    raw.withColumn("extraction_date",
        to_date(regexp_extract(input_file_name(), "(\\d{4}-\\d{2}-\\d{2})", 1)))
      .withColumn("extraction_timestamp",
        col("extraction_date").cast("timestamp"))
      .coalesce(((bytes + split - 1) / split).max(1).toInt)
  }

  /** boards → items, carrying the snapshot stamp (the full `docSchema`). */
  def items(s: SparkSession, boardDir: String): DataFrame =
    items(s, boardDir, docSchema)

  private def items(s: SparkSession, boardDir: String,
      schema: StructType): DataFrame =
    readBoard(s, boardDir, schema)
      .select(col("extraction_date"), col("extraction_timestamp"),
        explode(col("data.boards")).as("board"))
      .select(col("extraction_date"), col("extraction_timestamp"),
        explode(col("board.items_page.items")).as("item"))

  // ---- column-dispatch primitives ------------------------------------------
  /** The pick every helper below plants: one `ColumnPick` over the array
    * (see graft.expressions), which stays inside whole-stage codegen. */
  private def pick(cvs: Column, matchPath: Seq[String], key: String,
      field: String = "text", firstWins: Boolean = true,
      grammar: Option[String] = None): Column =
    ColumnBridge.column(ColumnPick(ColumnBridge.expression(cvs), matchPath, key,
      field, firstWins, grammar))

  /** First column_values entry with this id and non-empty text → its text. */
  private def cvText(cvs: Column, id: String): Column = pick(cvs, Seq("id"), id)

  /** Same, dispatched on column.type (subitem boards carry metadata).
    *
    * The reference's subitem loop OVERWRITES on every matching entry for
    * numbers/person/timeline — so the LAST non-empty entry of a type wins —
    * while status alone is guarded first-wins (`if not subitem_data['status']`,
    * `monday_etl_automated.py:305-322`). `firstWins` selects which end. */
  private def cvTextByType(cvs: Column, tpe: String,
      firstWins: Boolean = false): Column =
    pick(cvs, Seq("column", "type"), tpe, firstWins = firstWins)

  /** Numbers-typed dispatch carries one more reference quirk: the loop only
    * overwrites when `float(text)` SUCCEEDS (`try/except pass`,
    * `monday_etl_automated.py:305-308`) — so the winner is the LAST entry
    * that is non-empty AND parseable, and an unparseable trailing value
    * ("N/A") cannot reset an earlier numeric one.
    *
    * "Parseable" is pinned to a plain-decimal grammar (below) instead of
    * each engine's native cast: Python `float()`, Spark `try_cast`, and
    * DuckDB `TRY_CAST` disagree on exotic literals ('1_000' is Python-only,
    * 'inf' is Python+DuckDB but Spark wants 'Infinity'), so a native-cast
    * guard makes last-parseable-wins engine-dependent on unpinned inputs.
    * Every grammar-matching string parses identically in all three engines,
    * and every exotic literal is uniformly rejected — the accept-set is
    * defined by the grammar, not by whichever runtime evaluates it.
    * (FlattenQueries' oracle applies the same regex.) */
  private[flatten] val NumberGrammar = "^[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)$"

  private def cvNumbersText(cvs: Column): Column =
    pick(cvs, Seq("column", "type"), "numbers", firstWins = false,
      grammar = Some(NumberGrammar))

  /** The raw value JSON of the first non-empty-text entry with this id. */
  private def cvValue(cvs: Column, id: String): Column =
    pick(cvs, Seq("id"), id, field = "value")

  private def linkedCols(cvs: Column, relId: String): Seq[Column] = Seq(
    linkedPulseId(cvValue(cvs, relId)).as("linked_subitem_id"),
    cvText(cvs, relId).as("linked_subitem_name"))

  private val cvs = col("item.column_values")

  // ---- flatten_projects (ref `monday_etl_automated.py:238-279`) ------------
  def projects(s: SparkSession, dir: String = fixtureRoot): DataFrame =
    items(s, s"${dir}/projects", projectsSchema)
      .select(Seq(
        col("item.id").as("project_id"), col("item.name").as("project_name"),
        cvText(cvs, "person").as("po"),
        parseDate(cvText(cvs, "date4")).as("data_avvio"),
        cvText(cvs, "status__1").as("var_non_var"),
        cvText(cvs, "status_1").as("circolo"),
        cvText(cvs, "status0").as("tipologia"),
        cvText(cvs, "status1").as("stato_pipeline"),
        cvText(cvs, "status6").as("aperto_chiuso"),
        parseTimestampIso(col("item.created_at")).as("created_at"),
        parseTimestampIso(col("item.updated_at")).as("updated_at"),
        col("extraction_date"), col("extraction_timestamp")): _*)

  // ---- flatten_subitems (ref `monday_etl_automated.py:281-324`) ------------
  // The explode carries the parent id: the parent-child join is materialized
  // at flatten time, exactly like the reference — and with zero shuffle.
  def subitems(s: SparkSession, dir: String = fixtureRoot): DataFrame = {
    val exploded = items(s, s"${dir}/projects", subitemsSchema)
      .select(col("extraction_date"), col("extraction_timestamp"),
        col("item.id").as("project_id"), explode(col("item.subitems")).as("sub"))
    val scvs = col("sub.column_values")
    val (tlStart, tlEnd) = splitTimeline(cvTextByType(scvs, "timeline"))
    exploded.select(
      col("sub.id").as("subitem_id"), col("project_id"),
      col("sub.name").as("subitem_name"),
      cvTextByType(scvs, "person").as("po"),
      tlStart.as("timeline_start"), tlEnd.as("timeline_end"),
      castFloatZero(cvNumbersText(scvs)).as("revenue_amount"),
      cvTextByType(scvs, "status", firstWins = true).as("status"),
      lit(null).cast("string").as("tipologia"),  // declared, never populated (ref :309)
      parseTimestampIso(col("sub.created_at")).as("created_at"),
      parseTimestampIso(col("sub.updated_at")).as("updated_at"),
      col("extraction_date"), col("extraction_timestamp"))
  }

  // ---- flatten_personnel (ref `monday_etl_automated.py:335-402`) -----------
  def personnel(s: SparkSession, dir: String = fixtureRoot): DataFrame =
    items(s, s"${dir}/personnel", costsSchema)
      .select(Seq(
        col("item.id").as("cost_id"), col("item.name").as("cost_name"),
        cvText(cvs, "person").as("person"),
        castFloatZero(cvText(cvs, "numbers")).as("amount")) ++
        linkedCols(cvs, "board_relation1") ++ Seq(
        parseTimestampIso(col("item.created_at")).as("created_at"),
        parseTimestampIso(col("item.updated_at")).as("updated_at"),
        col("extraction_date"), col("extraction_timestamp")): _*)

  // ---- flatten_travel (ref `monday_etl_automated.py:404-482`) --------------
  def travel(s: SparkSession, dir: String = fixtureRoot): DataFrame =
    items(s, s"${dir}/travel", costsSchema)
      .select(Seq(
        col("item.id").as("cost_id"), col("item.name").as("cost_name"),
        cvText(cvs, "person").as("person"),
        castFloatZero(cvText(cvs, "numbers")).as("amount"),
        parseDate(cvText(cvs, "date")).as("date"),
        cvText(cvs, "status").as("stato"),
        cvText(cvs, "dropdown").as("pagata_con")) ++
        linkedCols(cvs, "board_relation39") ++ Seq(
        parseTimestampIso(col("item.created_at")).as("created_at"),
        parseTimestampIso(col("item.updated_at")).as("updated_at"),
        col("extraction_date"), col("extraction_timestamp")): _*)

  // ---- flatten_suppliers (ref `monday_etl_automated.py:484-560`) -----------
  def suppliers(s: SparkSession, dir: String = fixtureRoot): DataFrame =
    items(s, s"${dir}/suppliers", costsSchema)
      .select(Seq(
        col("item.id").as("cost_id"), col("item.name").as("cost_name"),
        castFloatZero(cvText(cvs, "numbers")).as("imponibile"),
        cvText(cvs, "status").as("tipologia"),
        cvText(cvs, "status_1").as("stato_ordine"),
        castFloatZero(cvText(cvs, "numbers8")).as("iva")) ++
        linkedCols(cvs, "board_relation") ++ Seq(
        parseTimestampIso(col("item.created_at")).as("created_at"),
        parseTimestampIso(col("item.updated_at")).as("updated_at"),
        col("extraction_date"), col("extraction_timestamp")): _*)
}
