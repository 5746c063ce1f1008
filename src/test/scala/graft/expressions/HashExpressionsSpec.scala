package graft.expressions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native codegen expressions must be BIT-IDENTICAL to their declarative
  * higher-order-function twins (which is what the DuckDB oracle replays). */
class HashExpressionsSpec extends SparkSpec {

  private val toksE = "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  test("graft_simhash16 equals the declarative hex-digit-vote simhash") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), expr(s"array_distinct($toksE)").as("toks"))
      .filter(size(col("toks")) > 0)
    val both = docs.select(col("doc_id"),
      expr("graft_simhash16(toks)").as("native"),
      expr(
        """aggregate(sequence(0,15), 0L, (acc, i) -> acc +
          |  CASE WHEN aggregate(toks, 0L, (a2, t) ->
          |    a2 + CASE WHEN instr('0123456789abcdef', substring(md5(t), i+1, 1)) - 1 >= 8
          |              THEN 1L ELSE -1L END) > 0
          |  THEN shiftleft(1L, i) ELSE 0L END)""".stripMargin).as("declarative"))
    assert(both.filter(col("native") =!= col("declarative")).count() == 0)
  }

  test("graft_minhash16 equals the declarative md5 minhash signature") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id"), expr(toksE).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), expr(
        "array_distinct(transform(sequence(0, size(toks)-3), i -> concat_ws(' ', slice(toks, i+1, 3))))")
        .as("shingles"))
      .filter(size(col("shingles")) > 0)
    val both = docs.select(col("doc_id"),
      expr("graft_minhash16(shingles)").as("native"),
      expr(
        """transform(sequence(0,15),
          |  s -> array_min(transform(shingles, sh -> md5(concat(cast(s as string), ':', sh)))))"""
          .stripMargin).as("declarative"))
    assert(both.filter(not(col("native") <=> col("declarative"))).count() == 0)
  }

  test("graft_shingle3 equals the declarative tokenize+3gram+distinct chain") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      // exercise the tokenizer edges too: punctuation, unicode, digits
      .withColumn("text", concat(col("text"),
        lit(" Héllo,  WORLD42—café 1a2b 1a2b x y z x y z .")))
    val both = docs
      .select(col("doc_id"), col("text"), expr(toksE).as("toks"))
      .select(col("doc_id"),
        expr("graft_shingle3(text)").as("native"),
        when(size(col("toks")) >= 3, expr(
          "array_distinct(transform(sequence(0, size(toks)-3), i -> concat_ws(' ', slice(toks, i+1, 3))))"))
          .otherwise(expr("cast(array() as array<string>)")).as("declarative"))
    assert(both.filter(not(col("native") <=> col("declarative"))).count() == 0)
  }

  test("graft_dotq equals the declarative quantize/zip_with/aggregate dot product") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"), col("embedding"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
          .as("qv"))
    val both = e.select(
      expr("graft_dotq(embedding, embedding)").as("native"),
      expr("aggregate(zip_with(qv, qv, (x, y) -> x * y), 0L, (a, v) -> a + v)")
        .as("declarative"))
    assert(both.filter(col("native") =!= col("declarative")).count() == 0)
  }

  test("graft_l2q equals the declarative zip_with/aggregate squared L2 (r7)") {
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
          .as("qv"))
    // cross a small sample against itself so distinct vector PAIRS are
    // exercised (self-distance is always 0 and would prove nothing)
    val a = e.filter(col("vec_id") < 30).select(col("qv").as("qa"))
    val b = e.filter(col("vec_id") >= 30 && col("vec_id") < 60)
      .select(col("qv").as("qb"))
    val both = a.crossJoin(b).select(
      expr("graft_l2q(qa, qb)").as("native"),
      expr("aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)), 0L, (a, v) -> a + v)")
        .as("declarative"))
    assert(both.count() == 900)
    assert(both.filter(col("native") =!= col("declarative")).count() == 0)
  }

  test("expressions participate in whole-stage codegen (no fallback)") {
    // input built from codegen-able expressions only (a higher-order-function
    // lambda in the INPUT would block codegen of the whole projection — which
    // is exactly why these native expressions exist)
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(expr("graft_simhash16(split(lower(text), '[^a-z0-9]+'))").as("h"))
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("*(1)"),
      s"projection not in a WholeStageCodegen stage:\n$plan")
    assert(df.count() > 0)
  }

  test("graft_nfc: Unicode NFC composition, idempotence, codegen participation (r11)") {
    import spark.implicits._
    val rows = Seq(
      "Cafe\u0301",          // e + COMBINING ACUTE -> precomposed U+00E9
      "e\u0300",             // -> U+00E8
      "u\u0308",             // -> U+00FC
      "Caf\u00e9",           // already NFC: unchanged
      "plain ascii",          // fast path: unchanged
      "a\u0301\u0327")      // multiple marks: canonical reorder + compose
      .toDF("raw")
      .select(col("raw"), expr("graft_nfc(raw)").as("norm"))
      .collect()
    val byRaw = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byRaw("Cafe\u0301") == "Caf\u00e9")
    assert(byRaw("e\u0300") == "\u00e8")
    assert(byRaw("u\u0308") == "\u00fc")
    assert(byRaw("Caf\u00e9") == "Caf\u00e9")
    assert(byRaw("plain ascii") == "plain ascii")
    // independent truth + idempotence: NFC(NFC(x)) == NFC(x) == JDK NFC(x)
    rows.foreach { r =>
      val want = java.text.Normalizer.normalize(
        r.getString(0), java.text.Normalizer.Form.NFC)
      assert(r.getString(1) == want)
      assert(UnicodeSupport.nfc(
        org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1)))
        .toString == r.getString(1), "NFC must be idempotent")
    }
    // null propagates (UnaryExpression null-safety), and the projection
    // stays inside whole-stage codegen — the reason this is a native
    // expression instead of a UDF
    val df = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(expr("graft_nfc(concat(text, 'e\u0301'))").as("n"))
    val plan = df.queryExecution.executedPlan
    assert(plan.toString.contains("*(1)"),
      s"graft_nfc projection not in a WholeStageCodegen stage:\n$plan")
    assert(df.count() > 0)
    assert(spark.sql("SELECT graft_nfc(CAST(NULL AS STRING)) AS n")
      .collect().head.isNullAt(0))
  }
}
