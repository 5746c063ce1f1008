package graft.flatten

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Golden-row checks for every FIXTURES.md §B.1 edge case, against the
  * committed Monday fixture (the same one the DuckDB oracle reads). */
class FlattenSpec extends SparkSpec {

  private lazy val projects = Flatten.projects(spark)
    .filter(col("extraction_date") === "2025-06-23").cache()
  private lazy val subitems = Flatten.subitems(spark)
    .filter(col("extraction_date") === "2025-06-23").cache()
  private lazy val personnel = Flatten.personnel(spark)
    .filter(col("extraction_date") === "2025-06-23").cache()

  private def one(df: org.apache.spark.sql.DataFrame, idCol: String, id: String): Row = {
    val rows = df.filter(col(idCol) === id).collect()
    assert(rows.length == 1, s"expected exactly one $idCol=$id, got ${rows.length}")
    rows(0)
  }

  test("project with all-empty texts keeps every default null") {
    val r = one(projects, "project_id", "901")
    for (c <- Seq("po", "data_avvio", "var_non_var", "circolo", "tipologia",
        "stato_pipeline", "aperto_chiuso"))
      assert(r.getAs[Any](c) == null, s"$c must stay default-null on empty text")
  }

  test("malformed date4 text yields null data_avvio; missing columns keep defaults") {
    val r = one(projects, "project_id", "902")
    assert(r.getAs[Any]("data_avvio") == null, "30/06/2025 is not %Y-%m-%d")
    assert(r.getAs[String]("circolo") == "Radical")
    assert(r.getAs[Any]("po") == null, "person column absent entirely")
  }

  test("items with subitems null or [] produce no child rows") {
    assert(subitems.filter(col("project_id").isin("901", "902")).count() == 0)
  }

  test("non-numeric revenue text keeps 0.0, not null") {
    val r = one(subitems, "subitem_id", "9031")
    assert(r.getAs[Double]("revenue_amount") == 0.0)
  }

  test("empty numbers text keeps 0.0") {
    val r = one(subitems, "subitem_id", "9032")
    assert(r.getAs[Double]("revenue_amount") == 0.0)
  }

  test("first status wins; empty status defers to the next non-empty one") {
    assert(one(subitems, "subitem_id", "9032").getAs[String]("status") == "FIRST")
    assert(one(subitems, "subitem_id", "9033").getAs[String]("status") == "WINS")
  }

  test("multi numbers columns: the LAST float-parseable non-empty entry wins") {
    // 120, 240, "N/A", "" → 240: the reference overwrites per PARSEABLE
    // match, so "N/A" and "" cannot reset 240, and 120 is overwritten
    assert(one(subitems, "subitem_id", "9036").getAs[Double]("revenue_amount")
      == 240.0)
  }

  test("timeline edge cases: 1 part, 3 parts, end-garbage, start-garbage") {
    assert(one(subitems, "subitem_id", "9031").getAs[Any]("timeline_start") == null)
    val threeParts = one(subitems, "subitem_id", "9033")
    assert(threeParts.getAs[Any]("timeline_start") == null &&
      threeParts.getAs[Any]("timeline_end") == null)
    val endGarbage = one(subitems, "subitem_id", "9034")
    assert(endGarbage.getAs[java.sql.Date]("timeline_start") ==
      java.sql.Date.valueOf("2025-01-01"))
    assert(endGarbage.getAs[Any]("timeline_end") == null)
    val startGarbage = one(subitems, "subitem_id", "9035")
    assert(startGarbage.getAs[Any]("timeline_start") == null &&
      startGarbage.getAs[Any]("timeline_end") == null)
  }

  test("board_relation: id extracted from value JSON, name from text") {
    val linked = personnel.filter(col("linked_subitem_id").isNotNull)
    assert(linked.count() > 0)
    val r = linked.orderBy(col("cost_id").cast("long")).head()
    assert(r.getAs[String]("linked_subitem_name").startsWith("Phase link "))
  }

  test("malformed board_relation value: name set, id null; empty linkedPulseIds: id null") {
    val bad = one(personnel, "cost_id", "7901")
    assert(bad.getAs[String]("linked_subitem_name") == "Phase link broken")
    assert(bad.getAs[Any]("linked_subitem_id") == null)
    assert(bad.getAs[Double]("amount") == 0.0, "non-numeric amount -> 0.0")
    val empty = one(personnel, "cost_id", "7902")
    assert(empty.getAs[Any]("linked_subitem_id") == null)
  }

  test("pagination pages merge into one snapshot (2025-06-27 has 2 cursor-linked pages)") {
    val d27 = Flatten.projects(spark).filter(col("extraction_date") === "2025-06-27")
    val ids = d27.select("project_id").collect().map(_.getString(0)).toSet
    assert(ids.size.toLong == d27.count(), "page split must not duplicate items")
    assert(ids.contains("101") && ids.contains("903"),
      "items from both page files present")
  }

  test("flatten plan is shuffle-free (explode + projection only)") {
    import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
    import org.apache.spark.sql.execution.{GenerateExec, InputAdapter, ProjectExec,
      SparkPlan, WholeStageCodegenExec}
    def stageNodes(w: WholeStageCodegenExec): Seq[SparkPlan] = {
      def walk(p: SparkPlan): Seq[SparkPlan] = p match {
        case _: InputAdapter => Nil
        case other => other +: other.children.flatMap(walk)
      }
      walk(w.child)
    }
    val tables = Seq("projects" -> Flatten.projects(spark),
      "subitems" -> Flatten.subitems(spark), "personnel" -> Flatten.personnel(spark),
      "travel" -> Flatten.travel(spark), "suppliers" -> Flatten.suppliers(spark))
    for ((name, df) <- tables) {
      val plan = df.queryExecution.executedPlan
      assert(!plan.toString.contains("Exchange"), s"$name must not shuffle:\n$plan")
      val fallbacks = plan.collect { case n => n.expressions }.flatten
        .flatMap(_.collect { case e: CodegenFallback => e.prettyName })
      assert(fallbacks.isEmpty, s"$name runs $fallbacks outside codegen:\n$plan")
      val stages = plan.collect { case w: WholeStageCodegenExec => stageNodes(w) }
      val projects = plan.collect { case p: ProjectExec => p }
      val picks = projects.filter(_.projectList.exists(_.exists(_.isInstanceOf[
        graft.expressions.ColumnPick])))
      assert(picks.nonEmpty, s"$name has no column pick:\n$plan")
      projects.foreach(p => assert(stages.exists(_.contains(p)),
        s"$name: a projection sits outside whole-stage codegen:\n$plan"))
      picks.foreach(p => assert(stages.exists(st => st.contains(p) &&
        st.exists(_.isInstanceOf[GenerateExec])),
        s"$name: the picks do not share the explode's codegen stage:\n$plan"))
    }
  }

  test("the native column pick equals the filter-lambda form, codegen and interpreted") {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.sql.types._
    import graft.expressions.ColumnPick
    // The form Flatten used before the native pick, kept as the reference.
    def lambdaPick(cvs: Column, path: Seq[String], key: String, field: String,
        firstWins: Boolean, grammar: Option[String]): Column =
      try_element_at(filter(cvs, c => {
        val text = c.getField("text")
        val hit = path.foldLeft(c)(_.getField(_)) === key && text.isNotNull &&
          length(text) > 0
        grammar.fold(hit)(g => hit && text.rlike(g))
      }), lit(if (firstWins) 1 else -1)).getField(field)
    def nativePick(cvs: Column, path: Seq[String], key: String, field: String,
        firstWins: Boolean, grammar: Option[String]): Column =
      ColumnBridge.column(ColumnPick(ColumnBridge.expression(cvs), path, key,
        field, firstWins, grammar))
    val g = Some(Flatten.NumberGrammar)
    val picks = Seq(
      (Seq("id"), "a", "text", true, None), (Seq("id"), "a", "value", true, None),
      (Seq("id"), "a", "text", false, None), (Seq("id"), "n", "text", false, g),
      (Seq("column", "type"), "numbers", "text", false, g),
      (Seq("column", "type"), "numbers", "text", false, None),
      (Seq("column", "type"), "status", "text", true, None),
      (Seq("column", "type"), "status", "value", false, None))

    val cv = StructType(Seq(StructField("id", StringType),
      StructField("text", StringType), StructField("value", StringType),
      StructField("column", StructType(Seq(StructField("type", StringType))))))
    def e(id: String, text: String, value: String, tpe: String): Row =
      Row(id, text, value, Row(tpe))
    def num(id: String, text: String) = e(id, text, s"v:$text", "numbers")
    val cases: Seq[(String, Seq[Row])] = Seq(
      "null array" -> null,
      "empty array" -> Seq(),
      "null element" -> Seq(null, e("a", "x", "v1", "status"), null),
      "null id or column" -> Seq(e(null, "t0", "v0", "status"),
        Row("a", "t1", "v1", null), e("a", "t2", "v2", null), e("n", "3", "v3", "numbers"),
        e("a", "t4", "v4", "status")),
      "empty and null text" -> Seq(e("a", "", "v0", "status"),
        e("a", null, "vn", "status"), e("a", "hit", "v1", "status"), e("a", "", "v9", "status")),
      "trailing N/A after a number" -> Seq(num("n", "12.5"), num("n", "N/A")),
      "1_000" -> Seq(num("n", "7"), num("n", "1_000")),
      "inf" -> Seq(num("n", "7"), num("n", "inf")),
      "5 and a newline" -> Seq(num("n", "7"), num("n", "5\n")),
      "first wins vs last wins" -> Seq(e("a", "first", "v1", "status"),
        e("a", "second", "v2", "status"), e("b", "other", "v3", "status")),
      "null value" -> Seq(e("a", "t", null, "status"), e("a", "u", "v2", "status"),
        e("a", "w", null, "status")))
    val schema = StructType(Seq(StructField("name", StringType),
      StructField("cvs", ArrayType(cv))))
    val dir = java.nio.file.Files.createTempDirectory("graft_pick_spec").toString
    spark.createDataFrame(spark.sparkContext.parallelize(
        cases.map { case (n, cvs) => Row(n, cvs) }, 2), schema)
      .write.mode("overwrite").parquet(dir)
    val table = spark.read.parquet(dir)
    def rows(pick: (Column, Seq[String], String, String, Boolean, Option[String]) => Column) =
      table.select(col("name") +: picks.map { case (path, key, field, first, gr) =>
        pick(col("cvs"), path, key, field, first, gr) }: _*)
        .collect().map(_.toSeq).sortBy(_.head.toString).toSeq
    def under[A](factory: String, wholeStage: Boolean)(body: => A): A = {
      val keys = Seq("spark.sql.codegen.factoryMode", "spark.sql.codegen.wholeStage")
      val prior = keys.map(k => k -> spark.conf.getOption(k))
      spark.conf.set(keys(0), factory)
      spark.conf.set(keys(1), wholeStage.toString)
      try body finally prior.foreach { case (k, v) =>
        v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
    }
    val want = under("NO_CODEGEN", wholeStage = false)(rows(lambdaPick))
    assert(want.size == cases.size)
    for ((factory, ws) <- Seq(("CODEGEN_ONLY", true), ("NO_CODEGEN", false))) {
      val got = under(factory, ws)(rows(nativePick))
      want.zip(got).foreach { case (w, gt) =>
        assert(gt == w, s"$factory: case ${w.head} (picks $picks)") }
    }
    // pinned: rlike is find() with Java's `$`, which matches before a final
    // newline, so "5\n" is accepted; "1_000" and "inf" are not.
    val byName = want.map(r => r.head -> r).toMap
    assert(byName("5 and a newline")(4) == "5\n")
    assert(byName("1_000")(4) == "7" && byName("inf")(4) == "7")
    assert(byName("trailing N/A after a number")(5) == "12.5")
  }

  test("a board reads as ceil(bytes / maxPartitionBytes) partitions, rows unchanged") {
    val key = "spark.sql.files.maxPartitionBytes"
    val board = new java.io.File(s"${Flatten.fixtureRoot}/projects")
    val files = board.listFiles().filter(_.getName.endsWith(".json"))
    val bytes = files.map(_.length).sum
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val atDefault = Flatten.projects(spark)
    assert(atDefault.rdd.getNumPartitions == 1,
      s"${files.length} page files ($bytes bytes) fit one default split")
    val split = bytes / 3 + 1  // ceil(bytes / split) = 3 < one split per file
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, split.toString)
    try {
      val small = Flatten.projects(spark)
      assert(small.rdd.getNumPartitions == ((bytes + split - 1) / split).toInt)
      assert(rows(small) == rows(atDefault))
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    assert(Flatten.projects(spark).rdd.getNumPartitions == 1, "split size restored")
  }

  test("per-date row counts equal the items in that date's page files") {
    import com.fasterxml.jackson.databind.ObjectMapper
    val mapper = new ObjectMapper()
    // date -> (items, subitems), read from the page files without Spark
    def expected(board: String): Map[String, (Int, Int)] =
      new java.io.File(s"${Flatten.fixtureRoot}/$board").listFiles()
        .filter(_.getName.endsWith(".json")).toSeq
        .map { f =>
          val items = mapper.readTree(f).path("data").path("boards")
            .elements().asScala.flatMap(_.path("items_page").path("items")
              .elements().asScala).toSeq
          (f.getName.take(10), (items.size, items.map(_.path("subitems").size).sum))
        }
        .groupMapReduce(_._1)(_._2) { case ((a, b), (c, d)) => (a + c, b + d) }
    def counts(df: org.apache.spark.sql.DataFrame): Map[String, Int] =
      df.groupBy("extraction_date").count().collect()
        .map(r => r.getDate(0).toString -> r.getLong(1).toInt).toMap
    val projectPages = expected("projects")
    assert(projectPages.size == 4 && projectPages.contains("2025-06-27"))
    assert(counts(Flatten.projects(spark)) == projectPages.map { case (d, (i, _)) => d -> i })
    assert(counts(Flatten.subitems(spark)) ==
      projectPages.collect { case (d, (_, n)) if n > 0 => d -> n })
    for ((board, table) <- Seq("personnel" -> Flatten.personnel(spark),
        "travel" -> Flatten.travel(spark), "suppliers" -> Flatten.suppliers(spark)))
      assert(counts(table) == expected(board).map { case (d, (i, _)) => d -> i }, board)
  }

  test("a type error in a field a table never reads leaves that table's rows intact") {
    // item-level column_values[].column must be a struct; projects never
    // reads it, so the number below cannot null the document for projects.
    // Without partial results a type error anywhere in the parsed schema
    // nulls the whole record (one record per file here).
    val key = "spark.sql.json.enablePartialResults"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    val dir = java.nio.file.Files.createTempDirectory("flatten-pruned")
    try {
      val board = java.nio.file.Files.createDirectories(dir.resolve("projects"))
      val item = """{"id": "%s", "name": "P%s", "created_at": null,
        |"updated_at": null, "subitems": [],
        |"column_values": [{"id": "status1", "text": "Won", "value": null,
        |"column": 5}]}""".stripMargin
      java.nio.file.Files.write(board.resolve("2025-07-01.json"),
        s"""{"data": {"boards": [{"id": "1", "name": "Projects", "items_page":
           |{"cursor": null, "items": [${item.format("1", "1")},
           |${item.format("2", "2")}]}}]}}""".stripMargin.getBytes("UTF-8"))
      val rows = Flatten.projects(spark, dir.toString)
        .select("project_id", "stato_pipeline").collect()
        .map(r => (r.getString(0), r.getString(1))).sorted.toSeq
      assert(rows == Seq(("1", "Won"), ("2", "Won")))
    } finally {
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
      graft.sink.Sinks.deleteDir(dir.toString)
    }
  }

  test("snapshot dates cover 3 consecutive days plus a gap day") {
    val dates = Flatten.projects(spark).select("extraction_date").distinct()
      .collect().map(_.getDate(0).toString).sorted
    assert(dates.toSeq == Seq("2025-06-23", "2025-06-24", "2025-06-25", "2025-06-27"))
  }
}
