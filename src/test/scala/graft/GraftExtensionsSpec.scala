package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions

/** The graft functions arrive two ways: SQL text resolves them through
  * `GraftExtensions`, installed when `Session.local` builds the session,
  * and library code calls the typed `GraftFunctions` columns. Both must
  * give the same rows from the same analyzed plan. */
class GraftExtensionsSpec extends SparkSpec {

  test("the extensions hook installs the graft functions at session build") {
    // the shared session was built by Session.local: no registration step
    // stands between the build and SQL text calling the functions
    val row = spark.sql(
      "SELECT graft_simhash16(graft_shingle3('alpha beta gamma delta')) AS h, " +
        "size(graft_shingle3('alpha beta gamma delta')) AS n").collect().head
    assert(!row.isNullAt(0))
    assert(row.getInt(1) == 2)
    val dot = spark.sql(
      "SELECT graft_dotq(array(1.0f, 2.0f), array(3.0f, 4.0f)) AS d")
      .collect().head.getLong(0)
    assert(dot > 0, "quantized dot must be positive for positive vectors")
    // arity gate (r10): wrong argument counts must fail ANALYSIS with
    // the function named — not IndexOutOfBounds (missing arg) and not
    // silent truncation (surplus arg)
    def analysisError(sql: String): String =
      intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(sql).collect()
      }.getMessage
    assert(analysisError("SELECT graft_dotq(array(1.0f))")
      .contains("graft_dotq"), "missing-arg error must name the function")
    assert(analysisError(
      "SELECT graft_simhash16(graft_shingle3('a b c'), 2)")
      .contains("graft_simhash16"),
      "surplus-arg must be an analysis error, not silently dropped")
    assert(analysisError("SELECT graft_l2q(array(1.0f))")
      .contains("graft_l2q"), "missing-arg error must name the function")
  }

  test("SQL text and the typed columns give identical rows and analyzed plans") {
    import spark.implicits._
    val df = Seq(
      ("alpha beta gamma delta", Seq(1.5f, -2.0f), Seq(3.0f, 4.25f), Seq(1L, 2L), Seq(5L, -7L)),
      ("Cafe\u0301 x y z x y z", Seq(0.0f, 1.0f), Seq(1.0f, 0.0f), Seq(0L, 0L), Seq(3L, 4L)),
      ("two words", Seq(2.0f), Seq(2.0f), Seq(9L), Seq(9L)),
      (null, null, null, null, null))
      .toDF("text", "a", "b", "qa", "qb")
      .withColumn("toks", split(col("text"), " "))
    val cases: Seq[(String, Column)] = Seq(
      "graft_shingle3(text)" -> GraftFunctions.shingle3(col("text")),
      "graft_minhash16(toks)" -> GraftFunctions.minhash16(col("toks")),
      "graft_simhash16(toks)" -> GraftFunctions.simhash16(col("toks")),
      "graft_dotq(a, b)" -> GraftFunctions.dotq(col("a"), col("b")),
      "graft_l2q(qa, qb)" -> GraftFunctions.l2q(col("qa"), col("qb")),
      "graft_nfc(text)" -> GraftFunctions.nfc(col("text")))
    assert(cases.map(_._1.takeWhile(_ != '(')).toSet ==
      GraftFunctions.builders.map(_._1).toSet, "every SQL function is pinned")
    cases.foreach { case (sql, typed) =>
      val viaSql = df.selectExpr(s"$sql AS v")
      val viaCol = df.select(typed.as("v"))
      // expression ids differ between two analyses of the same query
      def plan(d: org.apache.spark.sql.DataFrame): String =
        d.queryExecution.analyzed.toString.replaceAll("#\\d+", "")
      assert(plan(viaSql) == plan(viaCol), s"$sql: analyzed plans differ")
      assert(viaSql.queryExecution.analyzed.sameResult(viaCol.queryExecution.analyzed))
      val rows = viaSql.collect().toSeq
      assert(rows == viaCol.collect().toSeq, s"$sql: rows differ")
      assert(rows.exists(!_.isNullAt(0)), s"$sql: no non-null value compared")
    }
  }
}
