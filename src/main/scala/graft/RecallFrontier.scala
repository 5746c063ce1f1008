package graft

/** Emits RECALL.json — the ANN recall-vs-cost frontier
  * (graft.llm.Similarity.recallFrontier) at SPARK_GRAFT_SF_DIR: one row
  * per serving family with recall@3 against exact ground truth and the
  * per-query candidate cost measured from the family's own serving
  * structures. Run at sf1 for the committed artifact:
  *
  * {{{ SPARK_GRAFT_SF_DIR=/root/testdata/sf1 sbt "runMain graft.RecallFrontier" }}}
  */
object RecallFrontier {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val out = if (args.nonEmpty) args(0) else "RECALL.json"
    val spark = Session.local()

    val rows = graft.llm.Similarity.recallFrontier(spark, sfDir).collect()
    val json = rows.map { r =>
      s"""  {"family": "${r.getString(0)}", "recall_pm": ${r.getLong(1)}, """ +
        s""""visited_per_query": ${r.getLong(2)}, """ +
        s""""cost_unit": "${r.getString(3)}", "corpus_n": ${r.getLong(4)}}"""
    }.mkString(",\n")
    val doc =
      s"""{
         |"sf_dir": "$sfDir",
         |"k": 3,
         |"queries": ${graft.llm.Similarity.AnnQueryCount},
         |"note": "recall@3 vs exact top-3 on the common query set; visited_per_query = candidates the family's serving path examines (codes are ~16x cheaper per visit than full vectors)",
         |"frontier": [
         |$json
         |]
         |}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      doc.getBytes("UTF-8"))
    println(doc)
    spark.stop()
  }
}
