package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables.load

/** Retrieval operators over `documents` + `embeddings` — the serving-side
  * complement of the ANN index family: sparse lexical ranking (BM25) and
  * sparse+dense hybrid fusion (reciprocal-rank fusion), the standard RAG
  * retrieval stack (ref analog: the reference has no retrieval surface —
  * this is north-star §2.10 scope).
  *
  * Determinism contract (the text_tfidf convention extended): every count
  * (tf, df, dl, N, T) is an exact integer; idf uses the exact RATIONAL
  * Robertson surrogate (N − df + ½)/(df + ½) + 1 instead of its ln — IEEE
  * division of identical integers is bit-deterministic across engines
  * while libm ln() is not, and the surrogate keeps idf's rare-term
  * monotonicity (the operator's contract is ITS formula, pinned exactly in
  * both engines); per-term contributions are computed in identically-shaped
  * double arithmetic, then cast to DECIMAL(28,12) BEFORE the per-doc sum so
  * summation is exact and order-independent (doubles would sum in shuffle
  * order); ranking compares the exact decimal sums with id tie-breaks.
  *
  * Scale topology: tf/df are word-count hash aggs (the one shuffle); the
  * query set (10 queries × ≤5 terms) joined with df is KBs BROADCAST into
  * the posting scan, so the corpus never reshuffles for the match; the
  * per-query top-k is a window over only the matched postings. At 100 TB
  * df/tf would come from a pre-built posting table (the inverted index a
  * search deployment maintains incrementally) — the query-time plan
  * (broadcast terms → posting scan → partial top-k) is unchanged.
  */
object Retrieval {

  type Q = (SparkSession, String) => DataFrame

  private val toksE = "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** The BM25 keys' query set: docs with doc_id below this bound. One
    * constant interpolated into both the engine and the oracle SQL
    * (the [[Similarity.AnnQueryCount]] discipline, text side). */
  private val QueryDocCount = 10

  /** BM25(k1=1.2, b=0.75) over the word-token corpus: queries are docs
    * 0..9, each represented by its first 5 lexicographically-sorted
    * distinct tokens (sorted so the query term set is deterministic in
    * both engines — array_distinct order is engine-defined). Self-matches
    * excluded (the ANN neighbor convention). Returns the top `topN` docs
    * per query ranked on the exact decimal score sum. */
  private def bm25Ranked(s: SparkSession, dir: String, topN: Int): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("doc_id"), expr(toksE).as("toks"))
      .filter(size(col("toks")) > 0)
    // two corpus scalars to the driver (the tfidf anchor pattern): doc
    // count and total token count pin avgdl = T/N as an exact rational
    val stats = docs.agg(count(lit(1)).as("n"),
      sum(size(col("toks"))).as("t")).head()
    val nDocs = stats.getLong(0)
    val nToks = stats.getLong(1)
    val tf = docs
      .select(col("doc_id"), size(col("toks")).as("dl"),
        explode(col("toks")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(max(col("dl")).as("dl"), count(lit(1)).as("tf"))
    // tf rows are unique per (doc, term), so df is a plain count
    val dfc = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val qterms = docs.filter(col("doc_id") < QueryDocCount)
      .select(col("doc_id").as("query_id"),
        explode(expr("slice(array_sort(array_distinct(toks)), 1, 5)")).as("term"))
    // query terms ⋈ df first (≤50 rows), then broadcast into the posting
    // scan — the corpus-side tf never reshuffles for the match
    val qdf = dfc.join(broadcast(qterms), Seq("term"))
    val contrib = tf.join(broadcast(qdf), Seq("term"))
      .filter(col("doc_id") =!= col("query_id"))
      .withColumn("c", expr(
        s"""cast(
           |  (1.0 + ((cast($nDocs - df as double)) + 0.5) / (cast(df as double) + 0.5))
           |  * ((cast(tf as double) * 2.2) /
           |     (cast(tf as double) +
           |      (0.3 + 0.9 * (cast(dl * $nDocs as double) / cast($nToks as double)))))
           |as decimal(28,12))""".stripMargin))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sc").desc, col("doc_id"))
    contrib.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("sc"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topN)
  }

  /** The shared oracle CTE block: everything through `branked(query_id,
    * doc_id, sc, rank)`. N/T come from a scalar CTE instead of driver
    * literals — same values, identically-shaped arithmetic. */
  private val bm25Sql =
    s"""docs AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
      |  FROM documents),
      |base AS (SELECT doc_id, toks, len(toks) AS dl FROM docs WHERE len(toks) > 0),
      |nn AS (SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS n_toks FROM base),
      |tfc AS (
      |  SELECT doc_id, term, MAX(dl) AS dl, COUNT(*) AS tf
      |  FROM (SELECT doc_id, dl, unnest(toks) AS term FROM base) t GROUP BY 1, 2),
      |dfc AS (SELECT term, COUNT(*) AS df FROM tfc GROUP BY 1),
      |qt AS (
      |  SELECT doc_id AS query_id, unnest(list_sort(list_distinct(toks))[1:5]) AS term
      |  FROM base WHERE doc_id < $QueryDocCount),
      |contrib AS (
      |  SELECT q.query_id, t.doc_id,
      |         CAST(
      |           (1.0 + ((CAST((SELECT n_docs FROM nn) - d.df AS DOUBLE)) + 0.5) / (CAST(d.df AS DOUBLE) + 0.5))
      |           * ((CAST(t.tf AS DOUBLE) * 2.2) /
      |              (CAST(t.tf AS DOUBLE) +
      |               (0.3 + 0.9 * (CAST(t.dl * (SELECT n_docs FROM nn) AS DOUBLE) / CAST((SELECT n_toks FROM nn) AS DOUBLE)))))
      |         AS DECIMAL(28,12)) AS c
      |  FROM tfc t JOIN qt q ON q.term = t.term JOIN dfc d ON d.term = t.term
      |  WHERE t.doc_id <> q.query_id),
      |bscore AS (SELECT query_id, doc_id, SUM(c) AS sc FROM contrib GROUP BY 1, 2),
      |branked AS (
      |  SELECT query_id, doc_id, sc,
      |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY sc DESC, doc_id) AS rank
      |  FROM bscore)""".stripMargin

  // ---- text_bm25 ------------------------------------------------------------
  def textBm25(s: SparkSession, dir: String): DataFrame =
    bm25Ranked(s, dir, topN = 10)
      .select(col("query_id"), col("rank"), col("doc_id"),
        round(col("sc"), 4).cast("double").as("score"))
      .orderBy(col("query_id"), col("rank"))

  private val textBm25Oracle =
    s"""WITH $bm25Sql
       |SELECT query_id, rank, doc_id,
       |       CAST(ROUND(sc, 4) AS DOUBLE) AS score
       |FROM branked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ---- hybrid_rrf -----------------------------------------------------------
  // Reciprocal-rank fusion (Cormack et al. 2009): fuse the BM25 top-20 with
  // the dense-cosine top-20 (vec_id ≡ doc_id in the fixtures — the usual
  // shared document key) by score = Σ 1/(60 + rank). The two addends are a
  // FIXED-ORDER two-operand double sum (not an agg), so fusion is
  // IEEE-deterministic; ties break on doc_id. RRF needs only ranks — no
  // score calibration between the sparse and dense systems, which is why
  // production hybrid search defaults to it. Scale: fuses two top-k LISTS
  // (k rows per query), so cost is the two retrievers, not the fusion —
  // and the dense side swaps to sim_ivfpq unchanged.
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    val b = bm25Ranked(s, dir, topN = 20)
      .select(col("query_id"), col("doc_id").as("id"), col("rank").as("bm25_rank"))
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("graft_dotq(embedding, embedding)"))
    val vq = emb.filter(col("vec_id") < Similarity.AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wV = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("id"))
    val v = emb.join(broadcast(vq), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("id"),
        expr("graft_dotq(q_emb, embedding)").as("dot"), col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
      .withColumn("vec_rank", row_number().over(wV))
      .filter(col("vec_rank") <= 20)
      .select(col("query_id"), col("id"), col("vec_rank"))
    val wF = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("id"))
    b.join(v, Seq("query_id", "id"), "full_outer")
      .withColumn("rrf", expr(
        """coalesce(cast(1.0 as double) / cast(60 + bm25_rank as double), 0.0) +
          |coalesce(cast(1.0 as double) / cast(60 + vec_rank as double), 0.0)""".stripMargin))
      .withColumn("rank", row_number().over(wF))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"),
        round(col("rrf").cast("decimal(28,10)"), 6).cast("double").as("rrf_score"),
        col("bm25_rank"), col("vec_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val hybridRrfOracle =
    s"""WITH $bm25Sql,
       |b AS (SELECT query_id, doc_id AS id, rank AS bm25_rank FROM branked WHERE rank <= 20),
       |qe AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qen AS (
       |  SELECT vec_id, qv,
       |         list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS nrm
       |  FROM qe),
       |vqueries AS (SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM qen WHERE vec_id < ${Similarity.AnnQueryCount}),
       |vscored AS (
       |  SELECT query_id, c.vec_id AS id,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
       |  FROM qen c JOIN vqueries ON c.vec_id <> query_id),
       |v AS (
       |  SELECT query_id, id, vec_rank FROM (
       |    SELECT query_id, id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, id) AS vec_rank
       |    FROM vscored) r WHERE vec_rank <= 20),
       |fused AS (
       |  SELECT COALESCE(b.query_id, v.query_id) AS query_id,
       |         COALESCE(b.id, v.id) AS id, b.bm25_rank, v.vec_rank,
       |         coalesce(CAST(1.0 AS DOUBLE) / CAST(60 + b.bm25_rank AS DOUBLE), 0.0)
       |           + coalesce(CAST(1.0 AS DOUBLE) / CAST(60 + v.vec_rank AS DOUBLE), 0.0) AS rrf
       |  FROM b FULL OUTER JOIN v ON v.query_id = b.query_id AND v.id = b.id),
       |franked AS (
       |  SELECT query_id, id, rrf, bm25_rank, vec_rank,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY rrf DESC, id) AS rank
       |  FROM fused)
       |SELECT query_id, rank, id AS doc_id,
       |       CAST(ROUND(CAST(rrf AS DECIMAL(28,10)), 6) AS DOUBLE) AS rrf_score,
       |       bm25_rank, vec_rank
       |FROM franked WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin

  // ---- retrieval_maxsim -----------------------------------------------------
  // Late-interaction retrieval (ColBERT's MaxSim, Khattab & Zaharia 2020):
  // passages are MULTI-vector — one embedding per token — and
  // score(q, d) = Σ over query tokens of max over doc tokens of their
  // similarity, which preserves token-level matching that single-vector
  // cosine collapses (the third ranking mode beside BM25-sparse and
  // dense-single-vector; RRF fuses the other two — this one replaces
  // them at rerank time). Token vectors: every 8 consecutive vec_ids form
  // one passage (vec_id div 8 = passage, mod 8 = token slot); queries are
  // passages with id % 16 == 1. Similarity is the repo's exact integer
  // micro-dot (graft_dotq), so every MaxSim is a bigint and ranking is
  // exact. Topology: the query token set (queries × 8 rows) BROADCASTS
  // into a nested-loop over corpus tokens — the corpus never shuffles for
  // candidate generation; per-token maxes and the per-passage sum are two
  // map-side-combining hash aggs; top-3 per query prunes under
  // WindowGroupLimit. At 100 TB the nested loop is bounded by an ANN
  // prefilter (sim_lsh_ann / sim_ivf_ann produce the candidate set; this
  // operator is the reranker over it) — the plan here IS the rerank plan.
  def retrievalMaxsim(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    val tok = load(s, dir, "embeddings")
      .select(expr("vec_id div 8").as("doc"),
        expr("vec_id % 8").as("ti"), col("embedding"))
    val qt = tok.filter(col("doc") % 16 === 1)
      .select(col("doc").as("qdoc"), col("ti").as("qti"),
        col("embedding").as("qemb"))
    val dots = tok.crossJoin(broadcast(qt))
      .filter(col("doc") =!= col("qdoc"))
      .select(col("qdoc"), col("qti"), col("doc"),
        expr("graft_dotq(qemb, embedding)").as("dot"))
    val best = dots.groupBy(col("qdoc"), col("doc"), col("qti"))
      .agg(max(col("dot")).as("m"))
    val score = best.groupBy(col("qdoc"), col("doc"))
      .agg(sum(col("m")).as("maxsim"))
    val w = Window.partitionBy(col("qdoc"))
      .orderBy(col("maxsim").desc, col("doc"))
    score.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("qdoc").as("query_doc"), col("rank"), col("doc"),
        col("maxsim"))
      .orderBy(col("query_doc"), col("rank"))
  }

  private val retrievalMaxsimOracle =
    """WITH qn AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
      |  FROM embeddings),
      |tok AS (
      |  SELECT vec_id // 8 AS doc, vec_id % 8 AS ti, qv FROM qn),
      |qt AS (SELECT doc AS qdoc, ti AS qti, qv AS qqv FROM tok WHERE doc % 16 = 1),
      |dots AS (
      |  SELECT qt.qdoc, qt.qti, tok.doc,
      |         CAST(list_sum(list_transform(generate_series(1, len(qt.qqv)),
      |           i -> qt.qqv[i] * tok.qv[i])) AS BIGINT) AS dot
      |  FROM qt JOIN tok ON tok.doc <> qt.qdoc),
      |best AS (
      |  SELECT qdoc, doc, qti, MAX(dot) AS m FROM dots GROUP BY 1, 2, 3),
      |score AS (
      |  SELECT qdoc, doc, CAST(SUM(m) AS BIGINT) AS maxsim FROM best GROUP BY 1, 2),
      |ranked AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY qdoc
      |           ORDER BY maxsim DESC, doc) AS rank
      |  FROM score)
      |SELECT qdoc AS query_doc, rank, doc, maxsim
      |FROM ranked WHERE rank <= 3 ORDER BY query_doc, rank""".stripMargin

  // ---- retrieval_mrr --------------------------------------------------------
  // Ranking-quality evaluation of the BM25 retriever WITHOUT human labels —
  // the weak-supervision eval every production search/RAG pipeline runs on
  // refresh: relevance = "retrieved doc shares the query doc's source"
  // (metadata-as-label), and the metric is MRR over the top-10. Per query:
  // the rank of the first relevant hit (0 = none in 10), the relevant
  // count in the window, and the reciprocal rank ×2520 — LCM(1..10), so
  // 2520/rank is an EXACT integer for every possible rank and the metric
  // never touches a float (MRR itself = avg(rr_x2520)/2520, derivable).
  // Scale: the ranked top-10 is ≤ 10·|queries| rows — it BROADCASTS into
  // one pass over the doc-source projection (the corpus never reshuffles
  // to be judged); the eval is then a |queries|-grain hash agg. The
  // expensive part is the retriever itself, which is the point: the eval
  // rides the retrieval plan it measures.
  def retrievalMrr(s: SparkSession, dir: String): DataFrame = {
    val ranked = bm25Ranked(s, dir, topN = 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
    val src = load(s, dir, "documents").select(col("doc_id"), col("source"))
    val qsrc = src.filter(col("doc_id") < QueryDocCount)
      .select(col("doc_id").as("query_id"), col("source").as("qsrc"))
    src.join(broadcast(ranked), Seq("doc_id"))
      .join(broadcast(qsrc), Seq("query_id"))
      .withColumn("rel", col("source") === col("qsrc"))
      .groupBy(col("query_id"))
      .agg(
        coalesce(min(when(col("rel"), col("rank"))), lit(0)).cast("long")
          .as("first_rel_rank"),
        sum(when(col("rel"), 1L).otherwise(0L)).as("n_rel_top10"))
      .withColumn("rr_x2520", expr(
        "CASE WHEN first_rel_rank > 0 THEN 2520 div first_rel_rank " +
          "ELSE CAST(0 AS BIGINT) END"))
      .orderBy(col("query_id"))
  }

  private val retrievalMrrOracle =
    s"""WITH $bm25Sql,
       |top10 AS (SELECT query_id, doc_id, rank FROM branked WHERE rank <= 10),
       |q AS (
       |  SELECT doc_id AS query_id, source AS qsrc
       |  FROM documents WHERE doc_id < $QueryDocCount),
       |h AS (
       |  SELECT t.query_id, t.rank, (d.source = q.qsrc) AS rel
       |  FROM top10 t
       |  JOIN documents d ON d.doc_id = t.doc_id
       |  JOIN q ON q.query_id = t.query_id),
       |agg AS (
       |  SELECT query_id,
       |         CAST(COALESCE(MIN(CASE WHEN rel THEN rank END), 0) AS BIGINT)
       |           AS first_rel_rank,
       |         CAST(SUM(CASE WHEN rel THEN 1 ELSE 0 END) AS BIGINT)
       |           AS n_rel_top10
       |  FROM h GROUP BY query_id)
       |SELECT query_id, first_rel_rank, n_rel_top10,
       |       CASE WHEN first_rel_rank > 0 THEN 2520 // first_rel_rank
       |            ELSE CAST(0 AS BIGINT) END AS rr_x2520
       |FROM agg ORDER BY query_id""".stripMargin

  // ---- retrieval_hard_negatives ---------------------------------------------
  // HARD-NEGATIVE MINING for contrastive retriever training (the
  // DPR/ANCE recipe): per query, positives are the dense-cosine top-3
  // (semantic agreement — vec_id ≡ doc_id as in hybrid_rrf), and hard
  // negatives are the best BM25 hits that are NOT among those positives —
  // documents that look lexically right but are semantically wrong, the
  // examples that actually move a bi-encoder (random negatives are too
  // easy). Emits per query: the dense top-1 as 'pos' and the 4
  // best-ranked lexical non-positives as 'neg' slots 1..4 — the training
  // triple layout a contrastive data loader consumes. Topology: both
  // rankers' plans are the proven text_bm25 / hybrid_rrf subtrees; the
  // exclusion is a broadcast anti-join of two ≤(10×k)-row rank relations,
  // and the slot numbering is a query-grain window over ≤10 rows/query.
  def retrievalHardNegatives(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    val b = bm25Ranked(s, dir, topN = 10)
      .select(col("query_id"), col("doc_id"), col("rank").as("bm25_rank"))
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", expr("graft_dotq(embedding, embedding)"))
    val vq = emb.filter(col("vec_id") < Similarity.AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val wV = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    val dense = emb.join(broadcast(vq), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        expr("graft_dotq(q_emb, embedding)").as("dot"), col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
      .withColumn("vec_rank", row_number().over(wV))
      .filter(col("vec_rank") <= 3)
      .select(col("query_id"), col("doc_id"), col("vec_rank"))
    val pos = dense.filter(col("vec_rank") === 1)
      .select(col("query_id"), lit("pos").as("role"), lit(1).as("slot"),
        col("doc_id"))
    val wN = Window.partitionBy(col("query_id")).orderBy(col("bm25_rank"))
    val negs = b.join(broadcast(dense.select(col("query_id"), col("doc_id"))),
        Seq("query_id", "doc_id"), "left_anti")
      .withColumn("slot", row_number().over(wN))
      .filter(col("slot") <= 4)
      .select(col("query_id"), lit("neg").as("role"), col("slot"),
        col("doc_id"))
    pos.unionAll(negs)
      .orderBy(col("query_id"), col("role").desc, col("slot"))
  }

  private val retrievalHardNegativesOracle =
    s"""WITH $bm25Sql,
       |qe AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
       |  FROM embeddings),
       |qen AS (
       |  SELECT vec_id, qv,
       |         list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS nrm
       |  FROM qe),
       |vqueries AS (SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm
       |             FROM qen WHERE vec_id < ${Similarity.AnnQueryCount}),
       |vscored AS (
       |  SELECT query_id, c.vec_id AS doc_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
       |  FROM qen c JOIN vqueries ON c.vec_id <> query_id),
       |dense AS (
       |  SELECT query_id, doc_id, vec_rank FROM (
       |    SELECT query_id, doc_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS vec_rank
       |    FROM vscored) r WHERE vec_rank <= 3),
       |pos AS (
       |  SELECT query_id, 'pos' AS role, 1 AS slot, doc_id
       |  FROM dense WHERE vec_rank = 1),
       |negs AS (
       |  SELECT query_id, 'neg' AS role, slot, doc_id FROM (
       |    SELECT b.query_id, b.doc_id,
       |           ROW_NUMBER() OVER (PARTITION BY b.query_id ORDER BY b.rank) AS slot
       |    FROM branked b
       |    WHERE b.rank <= 10 AND NOT EXISTS (
       |      SELECT 1 FROM dense d
       |      WHERE d.query_id = b.query_id AND d.doc_id = b.doc_id)) t
       |  WHERE slot <= 4)
       |SELECT * FROM (SELECT query_id, role, CAST(slot AS INT) AS slot, doc_id FROM pos
       |               UNION ALL
       |               SELECT query_id, role, CAST(slot AS INT) AS slot, doc_id FROM negs) u
       |ORDER BY query_id, role DESC, slot""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "retrieval_hard_negatives" -> (retrievalHardNegatives _),
    "text_bm25" -> (textBm25 _),
    "hybrid_rrf" -> (hybridRrf _),
    "retrieval_maxsim" -> (retrievalMaxsim _),
    "retrieval_mrr" -> (retrievalMrr _))

  val oracles: Map[String, String] = Map(
    "text_bm25" -> textBm25Oracle,
    "retrieval_hard_negatives" -> retrievalHardNegativesOracle,
    "hybrid_rrf" -> hybridRrfOracle,
    "retrieval_maxsim" -> retrievalMaxsimOracle,
    "retrieval_mrr" -> retrievalMrrOracle)
}
