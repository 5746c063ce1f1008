package graft.llm

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions.minhash16
import graft.model.Tables.load

/** Typed `Aggregator[IN, BUF, OUT]` for MinHash sketch UNION (SURVEY.md
  * §2.9): the signature of a union of documents is the element-wise minimum
  * of their signatures — a mergeable sketch, so partial aggregation on the
  * map side and final merge on the reduce side compose exactly like
  * sum/count. This is the pattern every distributed sketch (HLL, KMV,
  * quantile digests) rides on; here it yields a per-source near-dup
  * signature from per-document signatures without re-reading any text.
  */
object MinHashAgg {

  type Q = (SparkSession, String) => DataFrame

  /** Element-wise min over 16-element hex-string signatures; `finish` folds
    * the merged signature to its concatenation (64 hex chars × 16) so the
    * output is a plain string column. */
  val union: Aggregator[Seq[String], Array[String], String] =
    new Aggregator[Seq[String], Array[String], String] {
      override def zero: Array[String] = Array.fill[String](16)(null)

      private def merge2(b: Array[String], s: Seq[String]): Array[String] = {
        var i = 0
        while (i < 16) {
          val v = if (s == null || i >= s.length) null else s(i)
          if (b(i) == null || (v != null && v < b(i))) b(i) = v
          i += 1
        }
        b
      }

      override def reduce(b: Array[String], in: Seq[String]): Array[String] =
        merge2(b, in)
      override def merge(a: Array[String], b: Array[String]): Array[String] =
        merge2(a, b.toSeq)
      override def finish(b: Array[String]): String =
        b.map(v => if (v == null) "" else v).mkString("")
      override def bufferEncoder: Encoder[Array[String]] =
        Encoders.kryo[Array[String]]
      override def outputEncoder: Encoder[String] = Encoders.STRING
    }

  /** Per-source MinHash signature: per-doc signatures (the native
    * graft_minhash16 expression) merged with the Aggregator. The oracle
    * replays the same thing relationally (unnest → per-position MIN). */
  def dedupMinhashUnion(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
    val shingledDocs = Dedup.shingled(s, dir)
      .join(docs.select(col("doc_id"), col("source")), "doc_id")
      .withColumn("sig", minhash16(col("shingles")))
    val unionUdaf = udaf(union)
    shingledDocs
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), unionUdaf(col("sig")).as("sig_folded"))
      .select(col("source"), col("n_docs"),
        md5(col("sig_folded")).as("sig_digest"))
      .orderBy(col("source"))
  }

  private val dedupMinhashUnionOracle =
    """WITH docs AS (
      |  SELECT doc_id, source,
      |         list_distinct(list_transform(generate_series(0, len(toks)-3),
      |           i -> array_to_string(list_slice(toks, i+1, i+3), ' '))) AS shingles
      |  FROM (SELECT doc_id, source,
      |               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
      |        FROM documents) t
      |  WHERE len(toks) >= 3),
      |sigs AS (
      |  SELECT doc_id, source,
      |         list_transform(generate_series(0,15),
      |           s -> list_min(list_transform(shingles, sh -> md5(CAST(s AS VARCHAR) || ':' || sh)))) AS sig
      |  FROM docs WHERE len(shingles) > 0),
      |pos AS (
      |  SELECT source, i, MIN(sig[i]) AS m
      |  FROM sigs, (SELECT unnest(generate_series(1,16)) AS i) idx
      |  GROUP BY source, i),
      |merged AS (
      |  SELECT source, string_agg(m, '' ORDER BY i) AS folded
      |  FROM pos GROUP BY source)
      |SELECT s.source, COUNT(*) AS n_docs, md5(ANY_VALUE(m.folded)) AS sig_digest
      |FROM sigs s JOIN merged m ON s.source = m.source
      |GROUP BY s.source ORDER BY s.source""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "dedup_minhash_union" -> (dedupMinhashUnion _))

  val oracles: Map[String, String] = Map(
    "dedup_minhash_union" -> dedupMinhashUnionOracle)
}
