package graft.source

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** src_jsonl — the JSONL interchange round-trip (SURVEY.md §2.1 ext). */
class JsonlSpec extends SparkSpec {

  test("jsonl round-trip preserves every row and byte of the documents table") {
    val docs = graft.model.Tables.load(spark, sfDir, "documents")
    val path = s"${sys.props("java.io.tmpdir")}/graft_jsonl_spec"
    graft.sink.Sinks.deleteDir(path)
    docs.write.json(path)
    val back = spark.read.schema(docs.schema).json(path)
    assert(back.count() == docs.count())
    // full-row fidelity: anti-join in both directions is empty
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
      "JSON round-trip altered at least one row")
    graft.sink.Sinks.deleteDir(path)
  }

  test("orc round-trip preserves every row of the documents table (r11)") {
    val docs = graft.model.Tables.load(spark, sfDir, "documents")
    val path = s"${sys.props("java.io.tmpdir")}/graft_orc_spec"
    graft.sink.Sinks.deleteDir(path)
    docs.write.orc(path)
    val back = spark.read.schema(docs.schema).orc(path)
    assert(back.count() == docs.count())
    assert(back.exceptAll(docs).isEmpty && docs.exceptAll(back).isEmpty,
      "ORC round-trip altered at least one row")
    // per-lang report is non-degenerate and conserves the corpus
    val rows = SourceQueries.queries("src_orc_roundtrip")(spark, sfDir).collect()
    assert(rows.length > 1)
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    graft.sink.Sinks.deleteDir(path)
  }

  test("cdc envelope: op-dependent image presence survives the JSON " +
      "round-trip (r11)") {
    val out = SourceQueries.queries("src_cdc_envelope")(spark, sfDir)
    // the applied table: deletes gone, updates rewritten, inserts present
    val byKey = out.collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getDouble(2))).toMap
    // deletes hit positive base keys only — an inserted NEGATED key may
    // itself be ≡0 mod 13 (e.g. −1261 = −97·13) and must survive
    assert(byKey.keys.forall(k => !(k > 0 && k % 13 == 0)),
      "a deleted key survived the apply")
    assert(byKey.exists(_._1 < 0), "no insert arrived (negated keys)")
    byKey.foreach { case (k, (st, _)) =>
      if (k > 0 && k % 10 == 0 && k % 13 != 0)
        assert(st == "X", s"update lost on key $k")
    }
    // envelope shape: d-events carry only before, c-events only after
    // (the key's own staged root: a cache hit, so the same files it read)
    val staged = SourceQueries.cdcEnvelopeRoot(spark, sfDir)
    val lines = spark.read.textFile(s"$staged/cdc").collect()
    assert(lines.exists(l => l.contains("\"op\":\"d\"") &&
      l.contains("before") && !l.contains("after")))
    assert(lines.exists(l => l.contains("\"op\":\"c\"") &&
      l.contains("after") && !l.contains("before")))
    assert(lines.exists(l => l.contains("\"op\":\"u\"") &&
      l.contains("before") && l.contains("after")))
  }

  test("src_jsonl reads with an explicit schema — no inference scan in the plan") {
    val out = SourceQueries.queries("src_jsonl")(spark, sfDir)
    val rows = out.collect()
    assert(rows.length > 1)
    // per-source counts must sum to the corpus size
    val total = rows.map(_.getAs[Long]("n_docs")).sum
    assert(total == graft.model.Tables.load(spark, sfDir, "documents").count())
    // checksum column present and distinct across sources (text differs)
    val fps = rows.map(_.getAs[String]("corpus_fp"))
    assert(fps.distinct.length == fps.length)
  }

  test("corpusFp: mergeable fingerprint detects corruption/loss/dup/id-swap; " +
      "no collect-the-corpus aggregate in the plan (r11)") {
    import spark.implicits._
    val base = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
    def fp(rows: Seq[(Long, String)]): String =
      rows.toDF("doc_id", "text")
        .agg(graft.functions.Scalars.corpusFp(col("doc_id"), col("text"))
          .as("fp")).head.getString(0)
    val ref = fp(base)
    // order-independent (the mergeability property)...
    assert(fp(base.reverse) == ref)
    // ...but any single-row corruption, loss, duplication, or id swap flips it
    assert(fp(Seq((1L, "alpha"), (2L, "betX"), (3L, "gamma"))) != ref)
    assert(fp(base.take(2)) != ref)
    assert(fp(base :+ base.head) != ref)
    assert(fp(Seq((2L, "alpha"), (1L, "beta"), (3L, "gamma"))) != ref)
    // the round-trip keys must aggregate with constant per-group state:
    // a collect_list/sort_array corpus chain may not reappear in the plan
    val plan = SourceQueries.queries("src_jsonl")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("collect_list") && !plan.contains("sort_array"),
      s"corpus-sized aggregation state returned to src_jsonl:\n$plan")
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"),
      "fingerprint sum should be a partial+final hash aggregate")
  }

  test("csv bad records: malformed rows quarantine whole, good rows parse whole") {
    val out = SourceQueries.queries("src_csv_badrecords")(spark, sfDir).collect()
      .map(r => r.getAs[String]("side") -> r.getAs[Long]("n_rows")).toMap
    val docs = graft.model.Tables.load(spark, sfDir, "documents")
    val expectBad = docs.filter(org.apache.spark.sql.functions.expr("doc_id % 17 = 0")).count()
    assert(out("corrupt") == expectBad, s"quarantined ${out("corrupt")} of $expectBad planted")
    assert(out("ok") + out("corrupt") == docs.count(), "rows lost in PERMISSIVE parse")
  }
}
