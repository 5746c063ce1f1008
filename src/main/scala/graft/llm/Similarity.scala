package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.expressions.GraftFunctions.{dotq, l2q}
import graft.model.Tables.load

/** Approximate-nearest-neighbor search over the `embeddings` table.
  *
  * Two tiers (SURVEY north-star):
  *  - `sim_topk_bruteforce`: exact top-k for a small query set — one linear
  *    scan per query batch (queries broadcast against the corpus), the
  *    correctness baseline every ANN variant is measured against.
  *  - `sim_lsh_ann`: the scale path — sign-LSH bucketing (4 hyperplanes →
  *    16 buckets), candidates only within the query's bucket, exact re-rank
  *    inside. At 100 TB: corpus bucketed once at ingest (partitionBy bucket),
  *    a query touches 1/16th of the data per probe; recall is tuned with
  *    more tables/probes, never by widening to all-pairs.
  *
  * Same portability contract as Dedup: integer-quantized dot products
  * (exact, order-independent), decimal-domain rounding, deterministic
  * tie-breaks on neighbor id.
  */
object Similarity {

  type Q = (SparkSession, String) => DataFrame

  /** The ANN keys' query set: vectors with vec_id below this bound. ONE
    * constant interpolated into both the engine and the oracle builders
    * (here and in Retrieval's hybrid key) so the two sides can never
    * silently disagree on the query count. */
  private[graft] val AnnQueryCount = 10

  /** The LSH keys' wider query set — more queries so bucket-collision
    * recall is measurable at sf0.001 corpus sizes. Same one-constant
    * discipline as [[AnnQueryCount]]. */
  private[llm] val LshQueryCount = 50

  /** Corpus with the native quantized self-dot (see HashExpressions.DotQ —
    * bit-identical to the declarative quantize/zip_with/aggregate chain the
    * oracle replays). */
  private def quantized(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
      .withColumn("nrm", dotq(col("embedding"), col("embedding")))
  }

  private val quantizedSql =
    """q AS (
      |  SELECT vec_id, embedding,
      |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
      |  FROM embeddings),
      |qn AS (
      |  SELECT vec_id, embedding, qv,
      |         list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS nrm
      |  FROM q)""".stripMargin

  // ---- sim_topk_bruteforce --------------------------------------------------
  def simTopkBruteforce(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val queries = corpus.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotq(col("q_emb"), col("embedding")).as("dot"),
        col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simTopkBruteforceOracle =
    s"""WITH $quantizedSql,
       |queries AS (SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < $AnnQueryCount),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
       |  FROM qn c JOIN queries ON c.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- sim_hamming_topk -----------------------------------------------------
  // BINARY-quantized serving — the third point on the quantization curve
  // beside int8 (embed_quantize) and PQ (sim_pq_adc): each vector collapses
  // to its 64 sign bits and distance becomes Hamming popcount, the
  // 32x-compression regime binary embedding papers serve from (sign bits ≈
  // one-bit LSH, Charikar 2002 — Hamming distance is monotone in angular
  // distance in expectation). The bits pack into TWO 32-bit halves carried
  // as BIGINTs (a single 64-bit word would need the sign bit; two halves
  // keep every value positive and the packing portable), so the whole key
  // is integer-exact: float sign compares are bit-identical across engines
  // (the LSH bucket precedent) and popcount-of-xor is exact on both sides.
  // Scale story: the scan reads 16 BYTES per vector instead of 256 — at
  // 100 TB the binary columns are their own thin table/column group and
  // brute-force re-rank only ever touches Hamming survivors. Plan: corpus
  // scan → 2-BIGINT projection → broadcast query join → per-query top-5
  // window (WindowGroupLimit pre-truncates map-side).
  def simHammingTopk(s: SparkSession, dir: String): DataFrame = {
    val packed = load(s, dir, "embeddings").select(
      col("vec_id"),
      expr("""aggregate(transform(slice(embedding, 1, 32),
             |  (x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"""
        .stripMargin).as("h1"),
      expr("""aggregate(transform(slice(embedding, 33, 32),
             |  (x, i) -> IF(x > 0, shiftleft(1L, i), 0L)), 0L, (a, b) -> a + b)"""
        .stripMargin).as("h2"))
    val queries = packed.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"),
        col("h1").as("q1"), col("h2").as("q2"))
    val scored = packed.join(broadcast(queries),
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        expr("CAST(bit_count(h1 ^ q1) + bit_count(h2 ^ q2) AS BIGINT)")
          .as("hamming"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming"), col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simHammingTopkOracle =
    s"""WITH packed AS (
       |  SELECT vec_id,
       |         CAST(list_sum(list_transform(generate_series(1, 32),
       |           i -> CASE WHEN embedding[i] > 0
       |                THEN (1::BIGINT << (i - 1)) ELSE 0::BIGINT END)) AS BIGINT) AS h1,
       |         CAST(list_sum(list_transform(generate_series(33, 64),
       |           i -> CASE WHEN embedding[i] > 0
       |                THEN (1::BIGINT << (i - 33)) ELSE 0::BIGINT END)) AS BIGINT) AS h2
       |  FROM embeddings),
       |queries AS (
       |  SELECT vec_id AS query_id, h1 AS q1, h2 AS q2 FROM packed
       |  WHERE vec_id < $AnnQueryCount),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         CAST(bit_count(xor(c.h1, q1)) + bit_count(xor(c.h2, q2)) AS BIGINT) AS hamming
       |  FROM packed c JOIN queries ON c.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, hamming,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |                            ORDER BY hamming, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id, hamming
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- sim_lsh_ann ----------------------------------------------------------
  // Bucket = sign bits of 4 fixed hyperplanes (coordinates 1, 9, 17, 25 —
  // axis-aligned projections; embedding dims are already random directions).
  // Float signs are bit-identical across engines, so bucketing is exact.
  // Measured recall@3 vs brute force (LlmOpsSpec, sf0.001 fixture): 0.033 —
  // a single 4-bit table on ISOTROPIC vectors sits at the 1/16
  // random-bucket baseline by construction; the production knob is more
  // tables / multi-probe (union of per-table candidates, still equi-joins),
  // which multiplies recall without ever going all-pairs — implemented and
  // measured below: sim_lsh_multitable reaches 0.500 with T=4 tables.
  private val bucketE =
    """cast(
      |  (case when element_at(embedding, 1) > 0 then 1 else 0 end) +
      |  (case when element_at(embedding, 9) > 0 then 2 else 0 end) +
      |  (case when element_at(embedding, 17) > 0 then 4 else 0 end) +
      |  (case when element_at(embedding, 25) > 0 then 8 else 0 end) as int)""".stripMargin

  /** Single-table sign bucket with ADAPTIVE bits — the nswGraph device for
    * the QUADRATIC self-join keys (sim_knn_join, sim_knn_classify), whose
    * within-bucket pair count is n²/2^bits: bits = clamp(⌈log2(n/32)⌉, 4,
    * 8) holds expected bucket size constant as the corpus grows (sf2
    * measured the fixed-bits knn join at 5× cost for 2× data). The
    * query-time LSH keys (sim_lsh_ann/multitable) deliberately stay on the
    * FIXED 4-bit table: they are the measured single-table recall baseline
    * the multi-table contract is pinned against, and their joins are
    * query×bucket (linear), not bucket self-joins. The count rides the
    * plan as a broadcast 1-row anchor; the oracle derives the same bits
    * from the same COUNT(*). */
  private def adaptiveBucketed(corpus: DataFrame): DataFrame = {
    val nRow = corpus.agg(count(lit(1)).as("n"))
    corpus.crossJoin(broadcast(nRow))
      .withColumn("bits",
        expr("greatest(4, least(8, cast(ceil(log2(n / 32.0d)) as int)))"))
      .withColumn("bucket", expr(
        """cast(aggregate(sequence(0, bits - 1), 0, (acc, i) ->
          |  acc + (case when element_at(embedding, 1 + 8 * i) > 0
          |         then shiftleft(1, i) else 0 end)) as int)""".stripMargin))
      .drop("n", "bits")
  }

  /** The matching oracle CTE: qn → (vec_id, qv, nrm, bucket) with the same
    * adaptive bits derived from the same COUNT(*). */
  private val adaptiveBucketedSql =
    """nn AS (SELECT GREATEST(4, LEAST(8, CAST(CEIL(LOG2(COUNT(*) / 32.0)) AS INT))) AS bits FROM embeddings),
      |bucketed AS (
      |  SELECT vec_id, qv, nrm,
      |         CAST(list_sum(list_transform(generate_series(0, bits - 1),
      |           i -> CASE WHEN embedding[1 + 8 * i] > 0 THEN (1 << i) ELSE 0 END)) AS INT) AS bucket
      |  FROM qn, nn)""".stripMargin

  def simLshAnn(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir).withColumn("bucket", expr(bucketE))
    val queries = corpus.filter(col("vec_id") < LshQueryCount)
      .select(col("vec_id").as("query_id"), col("bucket").as("q_bucket"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"))
    val scored = corpus.join(broadcast(queries),
        col("bucket") === col("q_bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotq(col("q_emb"), col("embedding")).as("dot"),
        col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simLshAnnOracle =
    s"""WITH $quantizedSql,
       |bucketed AS (
       |  SELECT vec_id, qv, nrm,
       |         (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END) +
       |         (CASE WHEN embedding[9] > 0 THEN 2 ELSE 0 END) +
       |         (CASE WHEN embedding[17] > 0 THEN 4 ELSE 0 END) +
       |         (CASE WHEN embedding[25] > 0 THEN 8 ELSE 0 END) AS bucket
       |  FROM qn),
       |queries AS (
       |  SELECT vec_id AS query_id, bucket AS q_bucket, qv AS q_qv, nrm AS q_nrm
       |  FROM bucketed WHERE vec_id < $LshQueryCount),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
       |  FROM bucketed c JOIN queries ON c.bucket = q_bucket AND c.vec_id <> query_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- sim_lsh_multitable ---------------------------------------------------
  // The recall knob the single-table key documents, implemented: T=4
  // independent sign-LSH tables (table t buckets on coordinates 1+t, 9+t,
  // 17+t, 25+t), candidates = the UNION of same-bucket pairs across
  // tables, exact re-rank on top. Each table is blind to the others'
  // candidates; the union multiplies the candidate space roughly linearly
  // in T without EVER going all-pairs — the scan stays
  // corpus×T-exploded rows hash-joined on (table, bucket), the standard
  // multi-table ANN layout at 100 TB (one partitionBy(table, bucket) at
  // ingest, a query probes T buckets). Measured recall@3 on the isotropic
  // fixture (LlmOpsSpec): 0.500 vs 0.033 single-table — the knob works
  // and is now evidence, not prose.
  private val bucketTbE =
    """cast(
      |  (case when element_at(embedding, 1 + tb) > 0 then 1 else 0 end) +
      |  (case when element_at(embedding, 9 + tb) > 0 then 2 else 0 end) +
      |  (case when element_at(embedding, 17 + tb) > 0 then 4 else 0 end) +
      |  (case when element_at(embedding, 25 + tb) > 0 then 8 else 0 end) as int)""".stripMargin

  def simLshMultitable(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val bucketed = corpus
      .withColumn("tb", explode(expr("sequence(0, 3)")))
      .withColumn("bucket", expr(bucketTbE))
    val queries = bucketed.filter(col("vec_id") < LshQueryCount)
      .select(col("vec_id").as("query_id"), col("tb").as("q_tb"),
        col("bucket").as("q_bucket"))
    // candidate = same (table, bucket) in ANY table — distinct'd before
    // the (broadcast) embedding re-join so each pair is scored once
    val cand = bucketed.select(col("vec_id"), col("tb"), col("bucket"))
      .join(broadcast(queries),
        col("tb") === col("q_tb") && col("bucket") === col("q_bucket") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
      .distinct()
    val emb = corpus.select(col("vec_id"), col("embedding"), col("nrm"))
    val scored = cand
      .join(emb.select(col("vec_id").as("neighbor_id"),
        col("embedding"), col("nrm")), "neighbor_id")
      .join(broadcast(emb.filter(col("vec_id") < LshQueryCount)
        .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
          col("nrm").as("q_nrm"))), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        dotq(col("q_emb"), col("embedding")).as("dot"),
        col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simLshMultitableOracle =
    s"""WITH $quantizedSql,
       |bucketed AS (
       |  SELECT vec_id, qv, nrm, tb,
       |         (CASE WHEN embedding[1 + tb] > 0 THEN 1 ELSE 0 END) +
       |         (CASE WHEN embedding[9 + tb] > 0 THEN 2 ELSE 0 END) +
       |         (CASE WHEN embedding[17 + tb] > 0 THEN 4 ELSE 0 END) +
       |         (CASE WHEN embedding[25 + tb] > 0 THEN 8 ELSE 0 END) AS bucket
       |  FROM qn, (VALUES (0),(1),(2),(3)) t(tb)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bucketed q JOIN bucketed c
       |    ON c.tb = q.tb AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $LshQueryCount),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
       |  FROM cand JOIN qn a ON a.vec_id = query_id JOIN qn b ON b.vec_id = neighbor_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- recall-vs-cost frontier (RECALL.json) ------------------------------------
  /** The serving-choice table sim_recall_at_k generalizes to: every ANN
    * family's recall@3 against exact ground truth BESIDE its per-query
    * candidate cost, measured from the family's OWN serving structures
    * (LSH bucket-mates, IVF probed-list sizes, PQ full code scans,
    * graph-walk visited sets) — so "which index do I deploy" is a row
    * comparison, not prose. All families are evaluated on the common
    * query set (vec_id < AnnQueryCount) against the same brute-force
    * top-3; costs are stated in the unit the family actually examines
    * (full vectors vs compressed codes — a code visit is ~16 bytes where
    * a vector visit is ~256, which is the whole PQ trade). Emitted to
    * RECALL.json by graft.RecallFrontier; the documented dominance
    * ordering is spec-pinned on the deterministic fixture
    * (RecallFrontierSpec). */
  def recallFrontier(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val corpus = quantized(s, dir)
    val nCorpus = corpus.count()
    val nQ = AnnQueryCount.toLong
    val truth = simTopkBruteforce(s, dir).filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id")).localCheckpoint()
    def recallPm(ann: DataFrame): Long =
      truth.join(
        ann.filter(col("rank") <= 3 && col("query_id") < AnnQueryCount)
          .select(col("query_id"), col("neighbor_id")),
        Seq("query_id", "neighbor_id")).count() * 1000L / (3L * nQ)

    // single-table LSH: candidates = same-bucket corpus rows
    val b1 = corpus.withColumn("bucket", expr(bucketE))
    val lshCost = b1.join(broadcast(
        b1.filter(col("vec_id") < AnnQueryCount)
          .select(col("vec_id").as("query_id"), col("bucket").as("qb"))),
      col("bucket") === col("qb") && col("vec_id") =!= col("query_id"))
      .count() / nQ
    // multi-table: the DISTINCT union of per-table bucket-mates
    val bt = corpus.withColumn("tb", explode(expr("sequence(0, 3)")))
      .withColumn("bucket", expr(bucketTbE))
    val multiCost = bt.select(col("vec_id"), col("tb"), col("bucket"))
      .join(broadcast(bt.filter(col("vec_id") < AnnQueryCount)
        .select(col("vec_id").as("query_id"), col("tb").as("qt"),
          col("bucket").as("qb"))),
        col("tb") === col("qt") && col("bucket") === col("qb") &&
          col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id")).distinct().count() / nQ
    // IVF: the probed inverted lists' sizes (same assignment as serving)
    def ivfCost(nprobe: Int): Long = {
      val (_, lists, probes) = ivfAssignment(s, dir, nprobe)
      lists.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("query_id")).count() / nQ
    }
    // graph walks: the visited sets the serving paths already expose
    val (nswVisited, nswTop) = nswWalk(s, dir)
    val nswCost = nswVisited.count() / nQ
    val (hv1, hv0, hnswTop) = hnswWalk(s, dir)
    val hnswCost = (hv1.count() + hv0.count()) / nQ

    Seq(
      ("brute_force", recallPm(simTopkBruteforce(s, dir)), nCorpus - 1, "vectors"),
      ("lsh_1table", recallPm(simLshAnn(s, dir)), lshCost, "vectors"),
      ("lsh_4tables", recallPm(simLshMultitable(s, dir)), multiCost, "vectors"),
      ("ivf_nprobe2", recallPm(simIvfAnn(s, dir)), ivfCost(2), "vectors"),
      ("nsw", recallPm(nswTop), nswCost, "vectors"),
      ("hnsw_2layer", recallPm(hnswTop), hnswCost, "vectors"),
      ("pq_adc", recallPm(simPqAdc(s, dir)), nCorpus - 1, "codes"),
      ("pq_adc_trained", recallPm(simPqAdcTrained(s, dir)), nCorpus - 1, "codes"),
      ("ivfpq_nprobe5", recallPm(simIvfPq(s, dir)), ivfCost(5), "codes"))
      .toDF("family", "recall_pm", "visited_per_query", "cost_unit")
      .withColumn("corpus_n", lit(nCorpus))
      .orderBy(col("visited_per_query"), col("family"))
  }

  // ---- sim_recall_at_k --------------------------------------------------------
  // The ANN EVAL HARNESS as a first-class relation: recall@3 of the
  // production multi-table LSH path against exact brute-force ground
  // truth, per query — the measurement every vector-index deployment runs
  // before trusting an index, promoted from a spec assertion (LlmOpsSpec
  // pins recall floors as scalars) to an oracle-checked per-query table
  // (WHICH queries the index fails on is the actionable signal: isotropic
  // fixtures fail uniformly, clustered production corpora fail on
  // cluster-boundary queries). Methodology is the standard one at any
  // scale: ground truth is exact top-k on a SAMPLED query set (cost |Q|·n
  // — linear in the corpus for a fixed sample, embarrassingly parallel,
  // run once per index build), the ANN side reuses the serving path
  // UNCHANGED (same buckets, same re-rank; this key adds one
  // membership-join + hash-agg on two 150-row ranked relations). Both
  // rank relations are deterministic ((cos DESC, neighbor_id) total
  // order), so the intersection count is exact in both engines and
  // recall is served as integer per-mille — no float enters the relation.
  def simRecallAtK(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val queries = corpus.filter(col("vec_id") < LshQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotq(col("q_emb"), col("embedding")).as("dot"),
        col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val truth = scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val ann = simLshMultitable(s, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("hit"))
    truth.join(ann, Seq("query_id", "neighbor_id"), "left")
      .groupBy(col("query_id"))
      .agg(sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .withColumn("recall_pm", expr("(n_hits * 1000) div 3"))
      .orderBy(col("query_id"))
  }

  private val simRecallAtKOracle =
    s"""WITH $quantizedSql,
       |bucketed AS (
       |  SELECT vec_id, qv, nrm, tb,
       |         (CASE WHEN embedding[1 + tb] > 0 THEN 1 ELSE 0 END) +
       |         (CASE WHEN embedding[9 + tb] > 0 THEN 2 ELSE 0 END) +
       |         (CASE WHEN embedding[17 + tb] > 0 THEN 4 ELSE 0 END) +
       |         (CASE WHEN embedding[25 + tb] > 0 THEN 8 ELSE 0 END) AS bucket
       |  FROM qn, (VALUES (0),(1),(2),(3)) t(tb)),
       |cand AS (
       |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
       |  FROM bucketed q JOIN bucketed c
       |    ON c.tb = q.tb AND c.bucket = q.bucket AND c.vec_id <> q.vec_id
       |  WHERE q.vec_id < $LshQueryCount),
       |ascored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
       |  FROM cand JOIN qn a ON a.vec_id = query_id JOIN qn b ON b.vec_id = neighbor_id),
       |ann AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM ascored) WHERE rank <= 3),
       |tq AS (SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < $LshQueryCount),
       |tscored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
       |  FROM qn c JOIN tq ON c.vec_id <> query_id),
       |truth AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM tscored) WHERE rank <= 3)
       |SELECT t.query_id,
       |       CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_hits,
       |       CAST((SUM(CASE WHEN a.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) * 1000) // 3 AS BIGINT) AS recall_pm
       |FROM truth t LEFT JOIN ann a
       |  ON a.query_id = t.query_id AND a.neighbor_id = t.neighbor_id
       |GROUP BY t.query_id ORDER BY t.query_id""".stripMargin

  // ---- sim_ivf_ann ----------------------------------------------------------
  // True IVF: a k=10 coarse quantizer (centroids seeded from the label
  // column — deterministic, no RNG), every corpus vector assigned to its
  // NEAREST centroid (those assignments ARE the inverted lists), queries
  // probe the nprobe nearest lists and re-rank exactly inside them. At
  // 100 TB the corpus is partitioned by assigned cell at ingest, so a query
  // reads nprobe/k of the data; recall tunes with nprobe, never all-pairs —
  // and at nprobe = k the operator provably degrades to exact search
  // (asserted in LlmOpsSpec). Measured recall@3 vs brute force on the
  // isotropic sf0.001 fixture (LlmOpsSpec): 0.267 at nprobe=2, 0.600 at
  // nprobe=5, 1.000 at nprobe=k=10 — monotone in nprobe as claimed; real
  // (clustered) corpora sit far above this worst case at equal nprobe.
  //
  // Portability: centroids are element-wise TRUNCATED means of the
  // quantized vectors (`sum div n` — BIGINT, exact; Spark `div` and DuckDB
  // `//` both truncate toward zero, verified on negatives), so every
  // centroid coordinate, assignment dot and re-rank dot is identical
  // integer arithmetic in both engines; only the final cosine runs in
  // (identical) doubles.
  /** The IVF coarse structure (base vectors, inverted lists, probed cells
    * per query) — split out so the recall frontier can state each query's
    * true candidate cost (probed-list sizes) from the SAME assignment the
    * serving path uses. */
  private[llm] def ivfAssignment(s: SparkSession, dir: String, nprobe: Int)
      : (DataFrame, DataFrame, DataFrame) = {
    val base = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("qv",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      .withColumn("nrm", dotq(col("embedding"), col("embedding")))
    // centroids: per-label element-wise truncated mean — k rows, broadcast
    val cent = base
      .select(col("label").as("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cd"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)")
        .as("cvec"))
      .withColumn("cnrm",
        expr("aggregate(zip_with(cvec, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
    // assignment: nearest centroid per vector (rank 1 = inverted list,
    // ranks 1..nprobe for query vectors = the probed cells)
    val scoredCent = base.drop("label").crossJoin(broadcast(cent))
      .withColumn("cdot",
        expr("aggregate(zip_with(qv, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
      .withColumn("ccos", col("cdot").cast("double") /
        (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell"))
    val ranked = scoredCent.withColumn("rk", row_number().over(wA))
    val lists = ranked.filter(col("rk") === 1).select(col("vec_id"), col("cell"))
    val probes = ranked.filter(col("vec_id") < AnnQueryCount && col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    (base, lists, probes)
  }

  def simIvfAnn(s: SparkSession, dir: String, nprobe: Int = 2): DataFrame = {
    val (base, lists, probes) = ivfAssignment(s, dir, nprobe)
    val qvecs = base.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val scored = lists.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("query_id"))
      .join(base.select(col("vec_id"), col("embedding"), col("nrm")), "vec_id")
      .join(broadcast(qvecs), "query_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotq(col("q_emb"), col("embedding")).as("dot"), col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simIvfAnnOracle =
    s"""WITH $quantizedSql,
       |qnl AS (SELECT qn.vec_id, e.label, qn.qv, qn.nrm
       |        FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id),
       |cpos AS (
       |  SELECT cell, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd
       |  FROM (SELECT label AS cell, unnest(qv) AS v,
       |               unnest(generate_series(1, len(qv))) AS pos FROM qnl) t
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(cd ORDER BY pos) AS cvec FROM cpos GROUP BY cell),
       |centn AS (
       |  SELECT cell, cvec,
       |         CAST(list_sum(list_transform(generate_series(1, len(cvec)), i -> cvec[i] * cvec[i])) AS BIGINT) AS cnrm
       |  FROM cent),
       |scoredc AS (
       |  SELECT qn.vec_id, c.cell,
       |         CAST(CAST(list_sum(list_transform(generate_series(1, len(qn.qv)), i -> qn.qv[i] * c.cvec[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(qn.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos
       |  FROM qn CROSS JOIN centn c),
       |assign AS (
       |  SELECT vec_id, cell,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rk
       |  FROM scoredc),
       |lists AS (SELECT vec_id, cell FROM assign WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM assign WHERE vec_id < $AnnQueryCount AND rk <= 2),
       |cand AS (
       |  SELECT p.query_id, l.vec_id AS neighbor_id
       |  FROM probes p JOIN lists l ON l.cell = p.cell AND l.vec_id <> p.query_id),
       |scored AS (
       |  SELECT query_id, neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
       |  FROM cand JOIN qn a ON a.vec_id = query_id JOIN qn b ON b.vec_id = neighbor_id),
       |rankedq AS (
       |  SELECT query_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM rankedq WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // ---- cluster_kmeans -------------------------------------------------------
  // One exact Lloyd iteration over the IVF coarse quantizer: assign every
  // vector to its nearest label-seeded centroid (cosine on quantized ints —
  // the IVF assignment verbatim), then RECOMPUTE each centroid as the
  // element-wise truncated mean of its assigned vectors. This is the k-means
  // update the IVF/PQ codebook trainers iterate; one iteration is the whole
  // pattern (the loop repeats the same two joins, convergence is a scalar —
  // the dedup_clusters control-flow story). Topology at 100 TB: centroids
  // are k rows broadcast for assignment; the update is ONE
  // (cell, pos)-keyed hash agg with map-side partials — no all-pairs, no
  // driver-side vectors. Every reported number is exact integer arithmetic;
  // empty cells drop (the classic Lloyd empty-cluster case, identically in
  // both engines).
  def clusterKmeans(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("qv",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      .withColumn("nrm", dotq(col("embedding"), col("embedding")))
    val oldPos = base
      .select(col("label").as("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cd_old"))
    val cent = oldPos
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cd_old))), x -> x.cd_old)")
        .as("cvec"))
      .withColumn("cnrm",
        expr("aggregate(zip_with(cvec, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
    val wA = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell"))
    // nrm > 0 guard: a zero-norm embedding would make ccos NaN, and Spark
    // NaN-ordering vs DuckDB NULL-ordering diverge — exclude it from
    // assignment in both engines (same guard embed_quantize applies).
    val assign = base.drop("label").filter(col("nrm") > 0)
      .crossJoin(broadcast(cent))
      .withColumn("cdot",
        expr("aggregate(zip_with(qv, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
      .withColumn("ccos", col("cdot").cast("double") /
        (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .withColumn("rk", row_number().over(wA))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cell"))
    val nAssigned = assign.groupBy(col("cell")).agg(count(lit(1)).as("n_assigned"))
    val newPos = assign
      .join(base.select(col("vec_id"), col("qv")), Seq("vec_id"))
      .select(col("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cd_new"))
    newPos.join(oldPos, Seq("cell", "pos"))
      .groupBy(col("cell"))
      .agg(sum(col("cd_new")).as("new_sum"),
        sum(col("cd_new") * col("cd_new")).as("new_norm"),
        sum(abs(col("cd_new") - col("cd_old"))).as("shift_abs"))
      .join(broadcast(nAssigned), Seq("cell"))
      .select(col("cell"), col("n_assigned"), col("new_sum"),
        col("new_norm"), col("shift_abs"))
      .orderBy(col("cell"))
  }

  private val clusterKmeansOracle =
    s"""WITH $quantizedSql,
       |qnl AS (SELECT qn.vec_id, e.label, qn.qv, qn.nrm
       |        FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id),
       |oldpos AS (
       |  SELECT cell, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd_old
       |  FROM (SELECT label AS cell, unnest(qv) AS v,
       |               unnest(generate_series(1, len(qv))) AS pos FROM qnl) t
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(cd_old ORDER BY pos) AS cvec FROM oldpos GROUP BY cell),
       |centn AS (
       |  SELECT cell, cvec,
       |         CAST(list_sum(list_transform(generate_series(1, len(cvec)), i -> cvec[i] * cvec[i])) AS BIGINT) AS cnrm
       |  FROM cent),
       |scoredc AS (
       |  SELECT qn.vec_id, c.cell,
       |         CAST(CAST(list_sum(list_transform(generate_series(1, len(qn.qv)), i -> qn.qv[i] * c.cvec[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(qn.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos
       |  FROM qn CROSS JOIN centn c WHERE qn.nrm > 0),
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT vec_id, cell,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rk
       |    FROM scoredc) r WHERE rk = 1),
       |na AS (SELECT cell, COUNT(*) AS n_assigned FROM assign GROUP BY cell),
       |newpos AS (
       |  SELECT cell, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd_new
       |  FROM (SELECT a.cell, unnest(qn.qv) AS v,
       |               unnest(generate_series(1, len(qn.qv))) AS pos
       |        FROM assign a JOIN qn ON qn.vec_id = a.vec_id) t
       |  GROUP BY 1, 2),
       |roll AS (
       |  SELECT n.cell,
       |         CAST(SUM(n.cd_new) AS BIGINT) AS new_sum,
       |         CAST(SUM(n.cd_new * n.cd_new) AS BIGINT) AS new_norm,
       |         CAST(SUM(abs(n.cd_new - o.cd_old)) AS BIGINT) AS shift_abs
       |  FROM newpos n JOIN oldpos o ON o.cell = n.cell AND o.pos = n.pos
       |  GROUP BY n.cell)
       |SELECT r.cell, na.n_assigned, r.new_sum, r.new_norm, r.shift_abs
       |FROM roll r JOIN na ON na.cell = r.cell
       |ORDER BY r.cell""".stripMargin

  // ---- sim_pq_adc -----------------------------------------------------------
  // Product quantization + asymmetric distance computation — the other
  // half of the IVF-PQ serving stack (sim_ivf_ann is the coarse level;
  // this is the in-list compression): each 64-dim vector splits into
  // M = 8 subvectors of 8 dims, each subspace gets a 10-entry codebook
  // (label-seeded truncated means — the same deterministic quantizer
  // convention as IVF/kmeans), and every vector is stored as its 8
  // nearest-sub-centroid code. Queries never touch raw vectors: a
  // per-query distance TABLE (10 cells × 8 subspaces of exact integer L2)
  // is built once, and the approximate distance to every stored vector is
  // 8 table lookups summed — at 100 TB the codes are ~64x smaller than
  // the raw vectors, the codebooks and query tables are KBs broadcast,
  // and the scan is one code-column pass with a map-side partial top-k.
  // Every distance is exact BIGINT arithmetic; ties break on (cell) resp.
  // (neighbor_id), so both engines rank identically.
  /** Subvector decomposition: every 64-dim quantized vector split into
    * `mCount` subvectors of `subDim` dims — the input to seeding,
    * training, encode, and query-table build. The untrained key uses the
    * classic 8 x 8; the trained key narrows to 16 x 4 (finer subspaces =
    * lower per-subspace quantization error, the M knob of PQ). */
  private def pqSub(s: SparkSession, dir: String, mCount: Int,
      subDim: Int): DataFrame = {
    load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("qv",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      .select(col("vec_id"), col("label"),
        posexplode(expr(s"transform(sequence(0, ${mCount - 1}), " +
          s"m -> slice(qv, m * $subDim + 1, $subDim))"))
          .as(Seq("m", "sv")))
  }

  /** Seed codebooks: per (cell, subspace) element-wise truncated mean —
    * the deterministic quantizer convention shared with IVF and
    * cluster_kmeans. `cellExpr` picks the seeding partition: the
    * label-seeded key uses the 10 labels; the trained key seeds k = 64
    * cells from `vec_id % 64` (codebook size is a capacity hyperparameter
    * — 16 subspaces x 64 entries is a 6-bit code per subspace, 12 bytes
    * per vector vs 256 for the raw float32). */
  private def pqSeedCodebooks(sub: DataFrame, cellExpr: String): DataFrame =
    sub.select(expr(cellExpr).as("cell"), col("m"),
        posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("m"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cd"))
      .groupBy(col("cell"), col("m"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)")
        .as("cvec"))

  /** Exact integer L2 from every subvector to every sub-centroid of `cb`:
    * feeds the trainer's assignment, the encoder (argmin per (vec, m)),
    * and the query distance tables. */
  private def pqDists(sub: DataFrame, cb: DataFrame): DataFrame =
    // graft_l2q = native codegen twin of the declarative
    // `aggregate(zip_with(sv, cvec, (x,y) -> (x-y)*(x-y)), 0L, +)` the
    // oracle replays (parity-asserted in HashExpressionsSpec). The
    // lambda form is interpreted per element — on the corpus-x-cells
    // distance relation it was the PQ hot path (trained key 8.7 -> 4.2 s,
    // untrained 1.7 -> 0.9, together with the hash-agg argmin below).
    sub.join(broadcast(cb), Seq("m"))
      .withColumn("d", l2q(col("sv"), col("cvec")))

  /** Lloyd-train the codebooks (r7): `iters` exact k-means rounds PER
    * SUBSPACE — assign every subvector to its nearest sub-centroid
    * (integer L2, ties to the lower cell id), recompute each centroid as
    * the truncated mean of its assigned subvectors. This is
    * cluster_kmeans' exact update iterated over the 8 subspaces at once:
    * one broadcast join + one (cell, m, pos)-keyed hash agg per round,
    * all map-side-combining — the codebook (≤ 80 rows) is the only
    * state carried between rounds (localCheckpointed so lineage stays
    * O(1), the dedup_clusters convention). A cell that captures no
    * subvectors in a round drops — the classic Lloyd empty-cluster case,
    * identically in both engines. Label-seeded centroids on a fixture
    * whose labels are independent of the geometry all collapse near the
    * global mean, which is why untrained PQ recall sits at the noise
    * floor; training spreads them and is measured (LlmOpsSpec) to
    * multiply recall. */
  private def pqTrainCodebooks(sub: DataFrame, cb0: DataFrame,
      iters: Int): DataFrame = {
    var cb = cb0
    for (_ <- 1 to iters) {
      // argmin as min(struct(d, cell)) — a TWO-PHASE map-side-combining
      // hash agg over the (subvector x cell) distance rows instead of a
      // Window sort of the same rows (with the native L2 below: trained
      // key 9.6 -> 4.2 s); the struct min's (d, cell) lexicographic
      // order IS the (ORDER BY d, cell LIMIT 1) tie-break,
      // bit-identically. The subvector rides through the agg (first
      // over the group's identical sv values), so no re-join with `sub`
      // per round.
      val assigned = pqDists(sub, cb)
        .groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d"), col("cell"))).as("best"),
          first(col("sv")).as("sv"))
      cb = assigned
        .select(col("best.cell").as("cell"), col("m"),
          posexplode(col("sv")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("m"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cd"))
        .groupBy(col("cell"), col("m"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)")
          .as("cvec"))
        .localCheckpoint()
    }
    cb
  }

  /** Nearest-sub-centroid code per (vector, subspace) — the encode
    * argmin as a min(struct(d, cell)) two-phase hash agg (r7 — replaces
    * the Window/WindowGroupLimit shape; identical (d, cell) tie-break,
    * no sort of the distance rows). */
  private def pqEncode(sub: DataFrame, cb: DataFrame): DataFrame =
    pqDists(sub, cb).groupBy(col("vec_id"), col("m"))
      .agg(min(struct(col("d"), col("cell"))).as("best"))
      .select(col("vec_id"), col("m"), col("best.cell").as("cell"))

  /** The ADC scan: per-query distance tables broadcast into one pass
    * over the code column, windowed top-3. */
  private def pqAdcTopk(codes: DataFrame, dtab: DataFrame): DataFrame = {
    val adc = codes.join(broadcast(dtab), Seq("m", "cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The serving half for the untrained key: encode every vector against
    * `cb`, build the per-query distance tables (from the QUERY subvectors
    * only, r7 — O(queries × cells), not a filtered corpus join), and
    * ADC-scan. */
  private def pqServe(sub: DataFrame, cb: DataFrame): DataFrame = {
    val dtab = pqDists(sub.filter(col("vec_id") < AnnQueryCount), cb)
      .select(col("vec_id").as("query_id"), col("m"), col("cell"), col("d"))
    pqAdcTopk(pqEncode(sub, cb), dtab)
  }

  def simPqAdc(s: SparkSession, dir: String): DataFrame = {
    val sub = pqSub(s, dir, mCount = 8, subDim = 8)
    pqServe(sub, pqSeedCodebooks(sub, "label"))
  }

  // ---- sim_pq_adc_trained ---------------------------------------------------
  // The trained PQ index a user would actually serve from: 16 subspaces
  // of 4 dims (the finer M of PQ — lower per-subspace quantization
  // error), k = 64 cells per subspace seeded from vec_id % 64, then 3
  // Lloyd rounds per subspace before encoding. The subvector set is
  // localCheckpointed once (consumed by the seed, every training round,
  // the encoder, and the query tables); the oracle replays the SAME 3
  // deterministic rounds as a chained CTE sequence, so both engines
  // converge to bit-identical codebooks, codes, and rankings. LlmOpsSpec
  // measures recall@3 = 0.433 on the isotropic fixture vs 0.067 for the
  // label-seeded 8x10 key — the uplift IS the trainer's value, bought
  // with zero serving-plan change (same two broadcast joins + windowed
  // top-k over 12-byte codes).
  def simPqAdcTrained(s: SparkSession, dir: String): DataFrame = {
    // index build (train + encode) is the offline artifact a deployment
    // runs once (and maintains incrementally — stream_index_ingest is
    // exactly that loop); serving = query tables (O(queries × cells)) +
    // the ADC scan
    val root = graft.Artifacts.derive("pq16x4x64i3", s"$dir/embeddings.parquet") { tmp =>
      val sub = pqSub(s, dir, mCount = 16, subDim = 4).localCheckpoint()
      val cb = pqTrainCodebooks(sub,
        pqSeedCodebooks(sub, "vec_id % 64"), iters = 3)
      cb.write.parquet(s"$tmp/cb")
      pqEncode(sub, cb).write.parquet(s"$tmp/codes")
    }
    val cb = s.read.parquet(s"$root/cb")
    val qsub = pqSub(s, dir, mCount = 16, subDim = 4)
      .filter(col("vec_id") < AnnQueryCount)
    val dtab = pqDists(qsub, cb)
      .select(col("vec_id").as("query_id"), col("m"), col("cell"), col("d"))
    pqAdcTopk(s.read.parquet(s"$root/codes"), dtab)
  }

  // ---- sim_ivfpq ------------------------------------------------------------
  // The COMPOSED index a 100 TB ANN deployment actually serves — FAISS's
  // IVFPQ shape, built from the two halves this library already proves
  // separately (sim_ivf_ann's coarse quantizer; sim_pq_adc_trained's
  // Lloyd-trained codebooks), now composed the way they were designed to
  // be: every vector is assigned to its nearest IVF cell, and PQ encodes
  // the RESIDUAL (vector − cell centroid) — residuals are centered and
  // small, so the same 16x4x64 code budget quantizes far finer than
  // whole-vector PQ. Serving probes the query's nprobe nearest cells and
  // ADC-scans ONLY those cells' codes: the distance-table join keys on
  // (ivf_cell, m, code), so a vector outside every probed cell never
  // joins — the code scan touches ~nprobe/k of the corpus by
  // construction, falling out of join selectivity rather than a filter.
  // Per-query tables are per-PROBED-CELL (the query's residual differs
  // per cell): queries x nprobe x 16 x 64 exact-integer L2 entries, KBs
  // broadcast. At 100 TB: codes partitioned by ivf_cell at ingest, a
  // query reads nprobe cells' 12-byte codes; centroids and codebooks are
  // broadcast model state; training touches the corpus only through the
  // same map-side-combining aggs as the flat trainer.
  //
  // Every distance is exact BIGINT arithmetic (residual subtraction
  // included); the only doubles are the coarse-assignment cosines —
  // identical arithmetic in both engines, ties to the lower cell id. The
  // corpus assignment runs as a hash-agg argmin (min(struct(-ccos,
  // cell)) — the r7 PQ-argmin pattern, no window sort of corpus x cells);
  // only the 10-query probe ranking uses a window.
  def simIvfPq(s: SparkSession, dir: String, nprobe: Int = 5,
      iters: Int = 4): DataFrame = {
    val mCount = 16; val subDim = 4
    def base = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("qv",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      .withColumn("nrm", dotq(col("embedding"), col("embedding")))
    def scoreAgainst(df: DataFrame, cent: DataFrame): DataFrame =
      df.drop("label").crossJoin(broadcast(cent))
        .withColumn("cdot",
          expr("aggregate(zip_with(qv, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
        .withColumn("ccos", col("cdot").cast("double") /
          (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
    // INDEX BUILD — coarse quantizer + corpus assignment + residual PQ
    // training + encode, cached as the offline artifact (cent/cb/codes);
    // serving below touches only the query set and the code column
    val root = graft.Artifacts.derive(
        s"ivfpq$nprobe-$iters", s"$dir/embeddings.parquet") { tmp =>
      // coarse quantizer: sim_ivf_ann's label-seeded truncated-mean
      // centroids verbatim — k = 10 rows, broadcast everywhere below
      val cent = base
        .select(col("label").as("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg(expr("sum(v) div count(1)").as("cd"))
        .groupBy(col("cell"))
        .agg(expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)")
          .as("cvec"))
        .withColumn("cnrm",
          expr("aggregate(zip_with(cvec, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
        .localCheckpoint()
      // nearest cell per vector: max ccos ≡ lexicographic min of
      // (-ccos, cell) — one map-side-combining hash agg, qv rides through
      val assigned = scoreAgainst(base, cent)
        .groupBy(col("vec_id"))
        .agg(min(struct(negate(col("ccos")).as("nc"), col("cell").as("cell")))
          .as("best"), first(col("qv")).as("qv"))
        .select(col("vec_id"), col("best.cell").as("ivf_cell"), col("qv"))
      // residual = vector − assigned centroid, exact BIGINT; then the
      // 16 x 4 subvector decomposition the trained flat key uses
      val resid = assigned
        .join(broadcast(cent.select(col("cell").as("ivf_cell"), col("cvec"))),
          Seq("ivf_cell"))
        .withColumn("rv", expr("zip_with(qv, cvec, (x, y) -> x - y)"))
        .select(col("vec_id"), col("ivf_cell"), col("rv"))
      val sub = resid.select(col("vec_id"), col("ivf_cell"),
          posexplode(expr(s"transform(sequence(0, ${mCount - 1}), " +
            s"m -> slice(rv, m * $subDim + 1, $subDim))"))
            .as(Seq("m", "sv")))
        .localCheckpoint()
      // train on residual subvectors: the r7 Lloyd trainer verbatim
      val cb = pqTrainCodebooks(sub, pqSeedCodebooks(sub, "vec_id % 64"), iters)
      // encode: nearest sub-centroid per (vec, m), ivf_cell rides along
      val codes = pqDists(sub, cb).groupBy(col("vec_id"), col("m"))
        .agg(min(struct(col("d"), col("cell"))).as("best"),
          first(col("ivf_cell")).as("ivf_cell"))
        .select(col("vec_id"), col("ivf_cell"), col("m"),
          col("best.cell").as("code"))
      cent.write.parquet(s"$tmp/cent")
      cb.write.parquet(s"$tmp/cb")
      codes.write.parquet(s"$tmp/codes")
    }
    val cent = s.read.parquet(s"$root/cent")
    val cb = s.read.parquet(s"$root/cb")
    val codes = s.read.parquet(s"$root/codes")
    // probes: the nprobe nearest cells PER QUERY — scored over the QUERY
    // set only (10 × 10 rows; the one window here runs over queries)
    val wP = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell"))
    val probes = scoreAgainst(base.filter(col("vec_id") < AnnQueryCount), cent)
      .withColumn("rk", row_number().over(wP))
      .filter(col("rk") <= nprobe)
      .select(col("vec_id").as("query_id"), col("cell").as("ivf_cell"))
    // per-(query, probed cell) residual distance tables
    val qresid = probes
      .join(broadcast(base.filter(col("vec_id") < AnnQueryCount)
        .select(col("vec_id").as("query_id"), col("qv"))), Seq("query_id"))
      .join(broadcast(cent.select(col("cell").as("ivf_cell"), col("cvec"))),
        Seq("ivf_cell"))
      .withColumn("rv", expr("zip_with(qv, cvec, (x, y) -> x - y)"))
      .select(col("query_id"), col("ivf_cell"), col("rv"))
    val qsub = qresid.select(col("query_id"), col("ivf_cell"),
      posexplode(expr(s"transform(sequence(0, ${mCount - 1}), " +
        s"m -> slice(rv, m * $subDim + 1, $subDim))"))
        .as(Seq("m", "sv")))
    val dtab = qsub.join(broadcast(cb), Seq("m"))
      .withColumn("d", l2q(col("sv"), col("cvec")))
      .select(col("query_id"), col("ivf_cell"), col("m"),
        col("cell").as("code"), col("d"))
    // ADC over probed cells ONLY: keying on (ivf_cell, m, code) means a
    // vector outside every probed cell joins nothing — no filter needed
    val adc = codes.join(broadcast(dtab), Seq("ivf_cell", "m", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("d")).as("adc_dist"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("vec_id"))
    adc.withColumn("rank", row_number().over(w)).filter(col("rank") <= 3)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The IVFPQ oracle: the sim_ivf_ann coarse CTE blocks (centroids,
    * cosine assignment, lists, probes) chained into the shared Lloyd
    * rounds ([[pqLloydRoundsSql]]) over RESIDUAL subvectors, then the
    * ADC serve keyed by (ivf_cell, m, code). nprobe = 5 of k = 10;
    * 4 Lloyd rounds (one more than the flat key — on the isotropic
    * fixture the residuals ≈ the vectors, and the extra round is what
    * brings the composed index's measured recall up to the flat
    * trained key's at HALF the scanned corpus, LlmOpsSpec). */
  private val simIvfPqOracle = {
    val nprobe = 5
    s"""WITH $quantizedSql,
       |qnl AS (SELECT qn.vec_id, e.label, qn.qv, qn.nrm
       |        FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id),
       |cpos AS (
       |  SELECT cell, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd
       |  FROM (SELECT label AS cell, unnest(qv) AS v,
       |               unnest(generate_series(1, len(qv))) AS pos FROM qnl) t
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(cd ORDER BY pos) AS cvec FROM cpos GROUP BY cell),
       |centn AS (
       |  SELECT cell, cvec,
       |         CAST(list_sum(list_transform(generate_series(1, len(cvec)), i -> cvec[i] * cvec[i])) AS BIGINT) AS cnrm
       |  FROM cent),
       |scoredc AS (
       |  SELECT qn.vec_id, c.cell,
       |         CAST(CAST(list_sum(list_transform(generate_series(1, len(qn.qv)), i -> qn.qv[i] * c.cvec[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(qn.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos
       |  FROM qn CROSS JOIN centn c),
       |assign AS (
       |  SELECT vec_id, cell,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rk
       |  FROM scoredc),
       |lists AS (SELECT vec_id, cell FROM assign WHERE rk = 1),
       |probes AS (SELECT vec_id AS query_id, cell FROM assign
       |           WHERE vec_id < $AnnQueryCount AND rk <= $nprobe),
       |resid AS (
       |  SELECT l.vec_id, l.cell AS ivf_cell,
       |         list_transform(generate_series(1, len(qn.qv)), i -> qn.qv[i] - c.cvec[i]) AS rv
       |  FROM lists l JOIN qn ON qn.vec_id = l.vec_id
       |               JOIN centn c ON c.cell = l.cell),
       |sub AS (
       |  SELECT vec_id, ivf_cell, ms.m,
       |         list_slice(rv, ms.m * 4 + 1, ms.m * 4 + 4) AS sv
       |  FROM resid, (SELECT unnest(generate_series(0, 15)) AS m) ms),
       |cbp0 AS (
       |  SELECT cell, m, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd
       |  FROM (SELECT vec_id % 64 AS cell, m, unnest(sv) AS v,
       |               unnest(generate_series(1, len(sv))) AS pos FROM sub) t
       |  GROUP BY 1, 2, 3),
       |cb0 AS (SELECT cell, m, list(cd ORDER BY pos) AS cvec FROM cbp0 GROUP BY 1, 2),
       |${pqLloydRoundsSql(4)}dists AS (
       |  SELECT s.vec_id, s.m, c.cell,
       |         CAST(list_sum(list_transform(generate_series(1, len(s.sv)),
       |           i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS BIGINT) AS d
       |  FROM sub s JOIN cb4 c ON c.m = s.m),
       |codes AS (
       |  SELECT t.vec_id, l.cell AS ivf_cell, t.m, t.cell AS code
       |  FROM (SELECT vec_id, m, cell,
       |               ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rk
       |        FROM dists) t JOIN lists l ON l.vec_id = t.vec_id
       |  WHERE t.rk = 1),
       |qresid AS (
       |  SELECT p.query_id, p.cell AS ivf_cell,
       |         list_transform(generate_series(1, len(qn.qv)), i -> qn.qv[i] - c.cvec[i]) AS rv
       |  FROM probes p JOIN qn ON qn.vec_id = p.query_id
       |                JOIN centn c ON c.cell = p.cell),
       |qsub AS (
       |  SELECT query_id, ivf_cell, ms.m,
       |         list_slice(rv, ms.m * 4 + 1, ms.m * 4 + 4) AS sv
       |  FROM qresid, (SELECT unnest(generate_series(0, 15)) AS m) ms),
       |dtab AS (
       |  SELECT q.query_id, q.ivf_cell, q.m, c.cell AS code,
       |         CAST(list_sum(list_transform(generate_series(1, len(q.sv)),
       |           i -> (q.sv[i] - c.cvec[i]) * (q.sv[i] - c.cvec[i]))) AS BIGINT) AS d
       |  FROM qsub q JOIN cb4 c ON c.m = q.m),
       |adc AS (
       |  SELECT t.query_id, c.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist
       |  FROM codes c JOIN dtab t
       |    ON t.ivf_cell = c.ivf_cell AND t.m = c.m AND t.code = c.code
       |  WHERE c.vec_id <> t.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, vec_id AS neighbor_id, adc_dist FROM (
       |  SELECT query_id, vec_id, adc_dist,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc) r WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  /** The PQ oracle as a function of the training depth and seeding
    * partition: seed codebooks `cb0` from `seedExpr`, then `iters`
    * chained Lloyd-round CTE blocks (assign → update, exactly the
    * engine's loop unrolled), then encode/serve against the final
    * `cb<iters>`. iters = 0 with label seeding is the untrained key.
    * `mCount`/`subDim` mirror the engine's subvector decomposition. */
  /** The Lloyd-round CTE blocks (assign → update, the engine's training
    * loop unrolled) over a `sub(vec_id, m, sv)` CTE and a seed codebook
    * `cb0` — shared VERBATIM by the flat-PQ oracle and the IVFPQ oracle
    * (which feeds RESIDUAL subvectors through the same rounds). */
  private def pqLloydRoundsSql(iters: Int): String =
    (1 to iters).map { t =>
      s"""dists$t AS (
         |  SELECT s.vec_id, s.m, c.cell,
         |         CAST(list_sum(list_transform(generate_series(1, len(s.sv)),
         |           i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS BIGINT) AS d
         |  FROM sub s JOIN cb${t - 1} c ON c.m = s.m),
         |assign$t AS (
         |  SELECT vec_id, m, cell FROM (
         |    SELECT vec_id, m, cell,
         |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rk
         |    FROM dists$t) r$t WHERE rk = 1),
         |cbp$t AS (
         |  SELECT cell, m, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd
         |  FROM (SELECT a.cell, s.m, unnest(s.sv) AS v,
         |               unnest(generate_series(1, len(s.sv))) AS pos
         |        FROM assign$t a JOIN sub s ON s.vec_id = a.vec_id AND s.m = a.m) u$t
         |  GROUP BY 1, 2, 3),
         |cb$t AS (SELECT cell, m, list(cd ORDER BY pos) AS cvec FROM cbp$t GROUP BY 1, 2),
         |""".stripMargin
    }.mkString

  private def pqOracle(iters: Int, seedExpr: String, mCount: Int,
      subDim: Int): String = {
    val rounds = pqLloydRoundsSql(iters)
    s"""WITH q2 AS (
       |  SELECT vec_id, label,
       |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
       |  FROM embeddings),
       |sub AS (
       |  SELECT vec_id, label, ms.m,
       |         list_slice(qv, ms.m * $subDim + 1, ms.m * $subDim + $subDim) AS sv
       |  FROM q2, (SELECT unnest(generate_series(0, ${mCount - 1})) AS m) ms),
       |cbp0 AS (
       |  SELECT cell, m, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd
       |  FROM (SELECT $seedExpr AS cell, m, unnest(sv) AS v,
       |               unnest(generate_series(1, len(sv))) AS pos FROM sub) t
       |  GROUP BY 1, 2, 3),
       |cb0 AS (SELECT cell, m, list(cd ORDER BY pos) AS cvec FROM cbp0 GROUP BY 1, 2),
       |${rounds}dists AS (
       |  SELECT s.vec_id, s.m, c.cell,
       |         CAST(list_sum(list_transform(generate_series(1, len(s.sv)),
       |           i -> (s.sv[i] - c.cvec[i]) * (s.sv[i] - c.cvec[i]))) AS BIGINT) AS d
       |  FROM sub s JOIN cb$iters c ON c.m = s.m),
       |codes AS (
       |  SELECT vec_id, m, cell FROM (
       |    SELECT vec_id, m, cell,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, cell) AS rk
       |    FROM dists) t WHERE rk = 1),
       |dtab AS (SELECT vec_id AS query_id, m, cell, d FROM dists WHERE vec_id < $AnnQueryCount),
       |adc AS (
       |  SELECT t.query_id, c.vec_id, CAST(SUM(t.d) AS BIGINT) AS adc_dist
       |  FROM codes c JOIN dtab t ON t.m = c.m AND t.cell = c.cell
       |  WHERE c.vec_id <> t.query_id
       |  GROUP BY 1, 2)
       |SELECT query_id, rank, vec_id AS neighbor_id, adc_dist FROM (
       |  SELECT query_id, vec_id, adc_dist,
       |         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_dist, vec_id) AS rank
       |  FROM adc) r WHERE rank <= 3
       |ORDER BY query_id, rank""".stripMargin
  }

  private val simPqAdcOracle = pqOracle(0, "label", mCount = 8, subDim = 8)
  private val simPqAdcTrainedOracle =
    pqOracle(3, "vec_id % 64", mCount = 16, subDim = 4)

  /** The label-seeded coarse quantizer as a standalone artifact: k rows of
    * (cell, cvec, cnrm) — the broadcast dimension every IVF-family
    * operator assigns against, exposed so streaming INGEST can assign
    * newly-arriving vectors to the same deterministic cells
    * (StreamQueries.streamIndexIngest). */
  def coarseCentroids(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "embeddings")
      .select(col("label").as("cell"),
        posexplode(expr(
          "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
          .as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cd"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)")
        .as("cvec"))
      .withColumn("cnrm",
        expr("aggregate(zip_with(cvec, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
  }

  // ---- dedup_semantic -------------------------------------------------------
  // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic deduplication
  // via the CLUSTER structure of the embedding space — assign every vector
  // to its nearest learned cell (the IVF coarse quantizer — at 100 TB the
  // serving index's assignment is reused, so clustering costs nothing
  // extra), generate near-dup candidate pairs ONLY within a cell, and for
  // each pair above the cosine threshold DROP the member closer to the
  // cell centroid — the paper's diversity rule: duplicates near the
  // centroid are redundant with the cluster's bulk, outliers carry
  // signal. The CELL COUNT grows with the corpus (the paper scales k with
  // n; a fixed k makes within-cell pairs n²/k — the r13 sf2 sweep
  // measured 22x wall at 20x data): seed cells are the label composed
  // with a sign-LSH sub-bucket of clamp(⌈log2(n/2000)⌉, 0, 8) bits, so
  // k = |labels|·2^bits ≈ O(√n .. n/2000) and expected cell size stays
  // bounded as the corpus grows. At fixture scales bits = 0 and the
  // seeds degenerate to the plain labels. The corpus count rides the
  // plan as a broadcast 1-row anchor; the oracle derives the same bits
  // from the same COUNT(*). The verdict is a pure function of the corpus
  // (deterministic centroids, exact integer dots, fixed tie-breaks), so
  // the oracle replays it exactly. vs dedup_embedding_cosine: blocks are
  // LEARNED cells (centroid-argmin assignment, not the seed grouping),
  // and the output is a per-vector keep/drop verdict, not a pair list —
  // this is the operator a curation pipeline actually runs.
  def dedupSemantic(s: SparkSession, dir: String): DataFrame = {
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
    val nRow = emb.agg(count(lit(1)).as("n"))
    val base = emb
      .withColumn("qv",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      .withColumn("nrm", dotq(col("embedding"), col("embedding")))
      .crossJoin(broadcast(nRow))
      .withColumn("bits",
        expr("greatest(0, least(8, cast(ceil(log2(n / 2000.0d)) as int)))"))
      .withColumn("seed_cell", expr(
        """label * shiftleft(1, bits) + (case when bits = 0 then 0 else
          |cast(aggregate(sequence(0, bits - 1), 0, (acc, i) ->
          |  acc + (case when element_at(embedding, 1 + 8 * i) > 0
          |         then shiftleft(1, i) else 0 end)) as int) end)""".stripMargin))
      .drop("n", "bits")
    val cent = base
      .select(col("seed_cell").as("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cd"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)")
        .as("cvec"))
      .withColumn("cnrm",
        expr("aggregate(zip_with(cvec, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
    // nearest-cell argmin as a map-side-combining hash agg (the r7 PQ
    // re-plan shape — no corpus-wide window): min(struct(-ccos, cell))
    // maximizes ccos with ties to the smaller cell; double negation is
    // exact, so ordering matches the oracle's ROW_NUMBER.
    val assign = base.drop("label", "seed_cell").filter(col("nrm") > 0)
      .crossJoin(broadcast(cent))
      .withColumn("cdot",
        expr("aggregate(zip_with(qv, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
      .withColumn("ccos", col("cdot").cast("double") /
        (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .groupBy(col("vec_id"))
      .agg(min(struct(negate(col("ccos")).as("nc"), col("cell").as("cell")))
        .as("best"))
      .select(col("vec_id"), col("best.cell").as("cell"),
        negate(col("best.nc")).as("ccos"))
    val members = assign
      .join(base.select(col("vec_id"), col("embedding"), col("nrm")), Seq("vec_id"))
    val pairs = members.as("a").join(members.as("b"),
        col("a.cell") === col("b.cell") && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        col("a.ccos").as("ca"), col("b.ccos").as("cb"),
        dotq(col("a.embedding"), col("b.embedding")).as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .filter(col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))) >= 0.35)
    val losers = pairs.select(
      when(col("ca") > col("cb"), col("id_a"))
        .when(col("ca") < col("cb"), col("id_b"))
        .otherwise(greatest(col("id_a"), col("id_b"))).as("vec_id")).distinct()
    members.join(losers.withColumn("dropped", lit(true)), Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        round(col("ccos").cast("decimal(28,8)"), 4).cast("double").as("centroid_cos"),
        col("dropped").isNull.as("keep"))
      .orderBy(col("vec_id"))
  }

  private val dedupSemanticOracle =
    s"""WITH $quantizedSql,
       |nbits AS (
       |  SELECT GREATEST(0, LEAST(8, CAST(CEIL(LOG2(COUNT(*) / 2000.0)) AS INT))) AS bits
       |  FROM embeddings),
       |qnl AS (SELECT qn.vec_id,
       |               e.label * (1 << bits) + (CASE WHEN bits = 0 THEN 0 ELSE
       |                 CAST(list_sum(list_transform(generate_series(0, bits - 1),
       |                   i -> CASE WHEN e.embedding[1 + 8 * i] > 0 THEN (1 << i) ELSE 0 END)) AS INT)
       |               END) AS cell,
       |               qn.qv, qn.nrm
       |        FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id CROSS JOIN nbits),
       |cpos AS (
       |  SELECT cell, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd
       |  FROM (SELECT cell, unnest(qv) AS v,
       |               unnest(generate_series(1, len(qv))) AS pos FROM qnl) t
       |  GROUP BY 1, 2),
       |cent AS (
       |  SELECT cell, list(cd ORDER BY pos) AS cvec FROM cpos GROUP BY cell),
       |centn AS (
       |  SELECT cell, cvec,
       |         CAST(list_sum(list_transform(generate_series(1, len(cvec)), i -> cvec[i] * cvec[i])) AS BIGINT) AS cnrm
       |  FROM cent),
       |scoredc AS (
       |  SELECT qn.vec_id, c.cell,
       |         CAST(CAST(list_sum(list_transform(generate_series(1, len(qn.qv)), i -> qn.qv[i] * c.cvec[i])) AS BIGINT) AS DOUBLE)
       |           / (sqrt(CAST(qn.nrm AS DOUBLE)) * sqrt(CAST(c.cnrm AS DOUBLE))) AS ccos
       |  FROM qn CROSS JOIN centn c WHERE qn.nrm > 0),
       |assign AS (
       |  SELECT vec_id, cell, ccos FROM (
       |    SELECT vec_id, cell, ccos,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rk
       |    FROM scoredc) r WHERE rk = 1),
       |members AS (
       |  SELECT a.vec_id, a.cell, a.ccos, qn.qv, qn.nrm
       |  FROM assign a JOIN qn ON qn.vec_id = a.vec_id),
       |sim AS (
       |  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.ccos AS ca, b.ccos AS cb
       |  FROM members a JOIN members b
       |    ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  WHERE CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       |          / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) >= 0.35),
       |losers AS (
       |  SELECT DISTINCT CASE WHEN ca > cb THEN id_a
       |                       WHEN ca < cb THEN id_b
       |                       ELSE greatest(id_a, id_b) END AS vec_id
       |  FROM sim)
       |SELECT m.vec_id, m.cell,
       |       CAST(ROUND(CAST(m.ccos AS DECIMAL(28,8)), 4) AS DOUBLE) AS centroid_cos,
       |       l.vec_id IS NULL AS keep
       |FROM members m LEFT JOIN losers l ON l.vec_id = m.vec_id
       |ORDER BY m.vec_id""".stripMargin

  // ---- sim_range_search -----------------------------------------------------
  // Radius search — every corpus vector within cosine >= tau of each query,
  // the retrieval mode top-k can't express (near-duplicate harvesting, "all
  // evidence above a similarity bar"). Same topology as the brute-force
  // baseline — queries broadcast against one corpus scan — but with NO
  // per-query window: a threshold filter needs no sort at all, so the whole
  // operator is scan + broadcast-hash-join + filter, embarrassingly parallel
  // at 100 TB (top-k pays a per-query TakeOrdered; range search pays
  // nothing). Threshold semantics follow dedup_embedding_cosine: exact
  // integer dot products, the compare on the derived double — identical
  // inputs → identical IEEE arithmetic in both engines.
  private val RangeTau = 0.25

  def simRangeSearch(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val queries = corpus.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        dotq(col("q_emb"), col("embedding")).as("dot"),
        col("q_nrm"), col("nrm"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
      .filter(col("cos") >= RangeTau)
      .select(col("query_id"), col("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  private val simRangeSearchOracle =
    s"""WITH $quantizedSql,
       |queries AS (SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < $AnnQueryCount),
       |scored AS (
       |  SELECT query_id, c.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
       |  FROM qn c JOIN queries ON c.vec_id <> query_id)
       |SELECT query_id, neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM scored WHERE cos >= $RangeTau
       |ORDER BY query_id, neighbor_id""".stripMargin

  // ---- sim_knn_join ---------------------------------------------------------
  // The kNN JOIN — top-k neighbors for EVERY corpus vector, not a query
  // set: the all-corpus kNN-graph build that seeds graph-ANN indexes and
  // SemDeDup-style pipelines. All-pairs is quadratic; the LSH bucket is
  // the blocking — a SELF equi-join on the 4-bit sign bucket (the
  // sim_lsh_ann table), candidates ∝ n²/buckets, then per-vector top-3 by
  // exact integer-dot cosine. The per-vector rank runs as ONE window with
  // Spark's WindowGroupLimit pruning each partition to k before the sort.
  // At 100 TB: more hyperplane bits (smaller buckets) + T tables for
  // recall, hot buckets salt — the same knobs as the query-set LSH keys;
  // the candidate join is corpus⋈corpus on the bucket key and never
  // broadcasts, which is exactly why the bucket count is the scale knob.
  def simKnnJoin(s: SparkSession, dir: String): DataFrame = {
    val corpus = adaptiveBucketed(quantized(s, dir))
    val scored = corpus.as("a").join(corpus.as("b"),
        col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("b.vec_id").as("neighbor_id"),
        dotq(col("a.embedding"), col("b.embedding")).as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .select(col("vec_id"), col("rank"), col("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("vec_id"), col("rank"))
  }

  private val simKnnJoinOracle =
    s"""WITH $quantizedSql,
       |$adaptiveBucketedSql,
       |scored AS (
       |  SELECT a.vec_id, b.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
       |  FROM bucketed a JOIN bucketed b
       |    ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |ranked AS (
       |  SELECT vec_id, neighbor_id, cos,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id
       |           ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored)
       |SELECT vec_id, rank, neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM ranked WHERE rank <= 3
       |ORDER BY vec_id, rank""".stripMargin

  // ---- sim_nsw_search -------------------------------------------------------
  // Graph-ANN serving (Malkov & Yashunin's NSW tier — the index family
  // FAISS/Lucene serve beside IVFPQ): the sim_knn_join output IS the
  // navigable graph (symmetrized: kNN edges in both directions), and a
  // query is answered by a deterministic greedy BEAM walk — start at a
  // fixed entry point (min vec_id), each hop expand the current beam's
  // neighbor lists, score only those candidates by exact integer-dot
  // cosine, keep the best `beam` NEW nodes as the next beam, and
  // answer from everything visited. The whole walk touches
  // O(hops · beam · degree) vectors per query instead of the corpus —
  // that bound is what the spec pins (visited ≪ corpus) and why the
  // structure survives 100 TB: the adjacency is a pre-built artifact
  // (materialized once, like the IVF centroids), each hop is one
  // equi-join of a queries×beam frontier against it, and the scoring
  // join gathers candidate vectors BY ID — no corpus scan at query time
  // after the index build. Determinism: fixed entry, fixed hop count,
  // cosine ties broken to the smaller id — the oracle replays the walk
  // as unrolled hop CTEs (the graph_pagerank/kcore precedent).
  // Walk budgets SCALE WITH THE CORPUS (r13 VERDICT item 2: the fixed
  // 4-hop/4-beam walk measured recall@3 = 0.10 at the 20k-vector sf1
  // corpus — a constant-hop walk cannot reach a region that moved
  // O(log n) hops away as the graph grew). hops and beam are
  // clamp(⌈1.5·log2(n/500)⌉, lo, cap): the fixture (n=500) and sf0.1
  // (n=2000) resolve to the original 4/4, and a 20k corpus to 8/8 —
  // per-query work stays O(hops·beam·degree) = O(log²n·degree), still
  // ≪ corpus. The oracle unrolls its hop CTEs to the COMPILE-TIME caps
  // and gates each hop on the SAME budget derived from the same
  // COUNT(*) (hops past the budget produce empty frontiers — exact
  // no-ops), so both engines walk identically by construction; the
  // kcore/MST discipline: raise the caps and the oracle unroll together
  // (walkBudgets fails loudly if a budget ever exceeds its cap).
  private[llm] val NswMaxHops = 12
  private[llm] val NswMaxBeam = 8

  /** clamp(⌈1.5·log2(n/anchor)⌉, lo, cap) — the corpus-scaled walk
    * budget, mirrored by the oracle's budget CTE over COUNT(*). */
  private def scaledBudget(n: Long, anchor: Double, mult: Double,
      lo: Int, cap: Int): Int = {
    val raw = math.ceil(mult * (math.log(n / anchor) / math.log(2.0))).toInt
    math.max(lo, math.min(cap, raw))
  }

  /** A layer's walk-budget SPEC: anchor = the fixture-scale corpus size
    * at which the budgets equal their legacy floors, (mult, lo, cap)
    * per knob. One definition feeds BOTH engines. */
  private final case class WalkSpec(anchor: Double,
      hopsMult: Double, hopsLo: Int, hopsCap: Int,
      beamMult: Double, beamLo: Int, beamCap: Int) {
    def budgets(n: Long): (Int, Int) =
      (scaledBudget(n, anchor, hopsMult, hopsLo, hopsCap),
        scaledBudget(n, anchor, beamMult, beamLo, beamCap))
    /** The matching oracle budget CTE over COUNT(*) of `corpusName`. */
    def cte(name: String, corpusName: String): String =
      s"""$name AS (
         |  SELECT GREATEST($hopsLo, LEAST($hopsCap, CAST(CEIL($hopsMult * LOG2(COUNT(*) / $anchor)) AS INT))) AS hops,
         |         GREATEST($beamLo, LEAST($beamCap, CAST(CEIL($beamMult * LOG2(COUNT(*) / $anchor)) AS INT))) AS beam
         |  FROM $corpusName)""".stripMargin
  }

  /** Single-layer NSW: fixture/sf0.1 resolve to the original 4/4. */
  private val NswSpec = WalkSpec(500.0, 1.5, 4, NswMaxHops, 1.5, 4, NswMaxBeam)

  /** The navigable graph: per-table top-2 kNN edges across the T=4 LSH
    * tables (sim_lsh_multitable's layout), unioned. A SINGLE-table kNN
    * graph is bucket-disconnected by construction (edges never cross a
    * bucket, so a walk can never leave the entry's island — measured:
    * recall 0.033); links discovered under four different projections
    * overlap, which is the diversity-of-neighbors property NSW
    * navigability needs. Out-degree ≤ 8, built by the same blocked
    * (table, bucket) self-join — never all-pairs.
    *
    * The index build's within-bucket pair count is n²/2^bits per table,
    * so bucket BITS grow with log(n) to hold expected bucket size (and
    * with it build cost per row) constant: bits = clamp(⌈log2(n/32)⌉,
    * 4, 8). At the fixture sizes (n=500) this is the original 4 bits —
    * the sf2 campaign measured the fixed-bits build at 24x cost for 20x
    * data, which this closes. The count rides the plan as a broadcast
    * 1-row anchor (no driver action), and the oracle derives the same
    * bits from the same COUNT(*), so the two sides cannot disagree. */
  private def nswGraph(s: SparkSession, dir: String): DataFrame =
    nswGraphOf(quantized(s, dir))

  private def nswGraphOf(corpus: DataFrame): DataFrame = {
    val nRow = corpus.agg(count(lit(1)).as("n"))
    val bucketed = corpus.crossJoin(broadcast(nRow))
      .withColumn("bits",
        expr("greatest(4, least(8, cast(ceil(log2(n / 32.0d)) as int)))"))
      .withColumn("tb", explode(expr("sequence(0, 3)")))
      .withColumn("bucket", expr(
        """cast(aggregate(sequence(0, bits - 1), 0, (acc, i) ->
          |  acc + (case when element_at(embedding, 1 + 8 * i + tb) > 0
          |         then shiftleft(1, i) else 0 end)) as int)""".stripMargin))
    val scored = bucketed.as("a").join(bucketed.as("b"),
        col("a.tb") === col("b.tb") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("vec_id"), col("a.tb").as("tb"),
        col("b.vec_id").as("neighbor_id"),
        dotq(col("a.embedding"), col("b.embedding")).as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
    val w = Window.partitionBy(col("vec_id"), col("tb"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 2)
      .select(col("vec_id"), col("neighbor_id")).distinct()
  }

  /** kNN edges symmetrized into the navigable adjacency — one materialized
    * artifact read by every hop (at scale this is the stored index, not a
    * per-query computation). */
  private def symEdges(knn: DataFrame): DataFrame =
    knn.select(col("vec_id").as("src"), col("neighbor_id").as("dst"))
      .union(knn.select(col("neighbor_id"), col("vec_id")))
      .distinct()
      .localCheckpoint()

  /** The greedy beam walk over a prebuilt adjacency, from a PER-QUERY entry
    * frame (query_id, node) — shared by the single-layer NSW key (global
    * min-id entry) and the 2-layer HNSW key (layer-1-routed entries).
    * Returns the scored visited set (query_id, node, cos). */
  private def beamWalk(corpus: DataFrame, queries: DataFrame,
      edges: DataFrame, entry: DataFrame, hops: Int, beam: Int): DataFrame = {
    require(hops <= NswMaxHops && beam <= NswMaxBeam,
      s"walk budget ($hops hops, $beam beam) exceeds the oracle unroll " +
        s"caps ($NswMaxHops, $NswMaxBeam) — raise the caps and the " +
        "oracle unroll together")
    // score a (query_id, node) set: gather candidate vectors BY ID (the
    // node set is hops·beam·degree small → broadcast), never scan-join
    def score(nodes: DataFrame): DataFrame =
      corpus.join(broadcast(nodes), corpus("vec_id") === nodes("node"))
        .join(broadcast(queries), Seq("query_id"))
        .select(col("query_id"), col("node"),
          (dotq(col("q_emb"), col("embedding")).cast("double") /
            (sqrt(col("q_nrm").cast("double")) *
              sqrt(col("nrm").cast("double")))).as("cos"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    var visited = score(entry).localCheckpoint()
    var frontier = visited.select(col("query_id"), col("node"))
    (1 to hops).foreach { _ =>
      val cand = frontier.join(edges, frontier("node") === edges("src"))
        .select(col("query_id"), col("dst").as("node")).distinct()
        .join(visited.select(col("query_id"), col("node")),
          Seq("query_id", "node"), "left_anti")
      val scored = score(cand).localCheckpoint() // per-hop walk state
      visited = visited.union(scored).localCheckpoint()
      frontier = scored.withColumn("rn", row_number().over(wq))
        .filter(col("rn") <= beam).select(col("query_id"), col("node"))
    }
    visited
  }

  /** Top-5 presentation shared by the graph-ANN keys. */
  private def walkTop5(visited: DataFrame): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    visited.filter(col("node") =!= col("query_id"))
      .withColumn("rank", row_number().over(wq))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("node").as("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The walk, exposing its visited set: the spec pins |visited| ≪ |corpus|
    * — the bound that makes graph-ANN serving sub-scan. */
  private[llm] def nswWalk(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val corpus = quantized(s, dir)
    // corpus count → walk budget: a driver-side control scalar (the
    // pagerank-convergence/kcore-bound class — it steers loop DEPTH, so
    // it cannot ride the plan), derived by the same formula the oracle's
    // budget CTE computes from the same COUNT(*)
    val (hops, beam) = NswSpec.budgets(corpus.count())
    val edges = symEdges(nswGraph(s, dir))
    val queries = corpus.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val entry = queries.select(col("query_id"))
      .crossJoin(broadcast(corpus.agg(min(col("vec_id")).as("node"))))
    val visited = beamWalk(corpus, queries, edges, entry, hops, beam)
    (visited, walkTop5(visited))
  }

  def simNswSearch(s: SparkSession, dir: String): DataFrame =
    nswWalk(s, dir)._2

  private val nswCos =
    """CAST(list_sum(list_transform(generate_series(1, len(q.q_qv)), i -> q.q_qv[i] * n.qv[i])) AS DOUBLE)
      |           / (sqrt(CAST(q.q_nrm AS DOUBLE)) * sqrt(CAST(n.nrm AS DOUBLE)))""".stripMargin

  /** Hop-unroll CTE generator shared by the NSW and HNSW oracles: `pfx`
    * namespaces the walk state (c/s/v/f), `edgesName` picks the layer's
    * adjacency, `budget` names the (hops, beam) CTE derived from the
    * corpus count. Unrolled to the compile-time `maxHops` cap; hop t is
    * GATED on `t <= hops`, so hops past the data-derived budget yield
    * empty frontiers and the final v{maxHops} equals v{budget} exactly —
    * the static-SQL form of "unroll to the data-derived depth". Scoring
    * always gathers vectors from the full `qn` by id. */
  private def hopCtes(maxHops: Int, pfx: String,
      edgesName: String, budget: String): String =
    (1 to maxHops).map { t =>
      // MATERIALIZED per hop (the kcore lesson): each hop references the
      // previous visited/frontier frames more than once, and at a 12-hop
      // unroll DuckDB's default inlining re-expands the whole prefix per
      // reference — file handles and plan size grow exponentially ("Too
      // many open files") without the marker.
      s"""${pfx}c$t AS MATERIALIZED (
         |  SELECT DISTINCT f.query_id, ed.dst AS node
         |  FROM ${pfx}f${t - 1} f JOIN $edgesName ed ON f.node = ed.src
         |  LEFT JOIN ${pfx}v${t - 1} vis ON vis.query_id = f.query_id AND vis.node = ed.dst
         |  WHERE vis.node IS NULL AND $t <= (SELECT hops FROM $budget)),
         |${pfx}s$t AS MATERIALIZED (
         |  SELECT c.query_id, c.node, $nswCos AS cos
         |  FROM ${pfx}c$t c JOIN qn n ON n.vec_id = c.node
         |  JOIN queries q ON q.query_id = c.query_id),
         |${pfx}v$t AS MATERIALIZED (SELECT * FROM ${pfx}v${t - 1} UNION ALL SELECT * FROM ${pfx}s$t),
         |${pfx}f$t AS MATERIALIZED (
         |  SELECT query_id, node FROM (
         |    SELECT query_id, node,
         |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rn
         |    FROM ${pfx}s$t) z WHERE rn <= (SELECT beam FROM $budget))""".stripMargin
    }.mkString(",\n")

  /** The layer-graph build (adaptive bits → 4 LSH tables → per-table top-2
    * kNN → symmetrized edges) as a CTE chain, namespaced by `pfx`, over the
    * corpus CTE `corpusName` (bits derive from ITS count). */
  private def graphCtes(pfx: String, corpusName: String): String =
    s"""${pfx}nn AS (SELECT GREATEST(4, LEAST(8, CAST(CEIL(LOG2(COUNT(*) / 32.0)) AS INT))) AS bits FROM $corpusName),
       |${pfx}bucketed AS (
       |  SELECT vec_id, qv, nrm, tb,
       |         CAST(list_sum(list_transform(generate_series(0, bits - 1),
       |           i -> CASE WHEN embedding[1 + 8 * i + tb] > 0 THEN (1 << i) ELSE 0 END)) AS INT) AS bucket
       |  FROM $corpusName, ${pfx}nn, (SELECT unnest(generate_series(0, 3)) AS tb) tables),
       |${pfx}scoredk AS (
       |  SELECT a.vec_id, a.tb, b.vec_id AS neighbor_id,
       |         CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(a.nrm AS DOUBLE)) * sqrt(CAST(b.nrm AS DOUBLE))) AS cos
       |  FROM ${pfx}bucketed a JOIN ${pfx}bucketed b
       |    ON a.tb = b.tb AND a.bucket = b.bucket AND a.vec_id <> b.vec_id),
       |${pfx}knn AS (
       |  SELECT DISTINCT vec_id, neighbor_id FROM (
       |    SELECT vec_id, tb, neighbor_id,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id, tb
       |             ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM ${pfx}scoredk) r WHERE rank <= 2),
       |${pfx}edges AS (
       |  SELECT vec_id AS src, neighbor_id AS dst FROM ${pfx}knn
       |  UNION SELECT neighbor_id, vec_id FROM ${pfx}knn)""".stripMargin

  private val simNswSearchOracle =
    s"""WITH $quantizedSql,
       |${graphCtes("", "qn")},
       |${NswSpec.cte("wb", "qn")},
       |queries AS (SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < $AnnQueryCount),
       |entrypt AS (SELECT MIN(vec_id) AS e FROM qn),
       |v0 AS (
       |  SELECT q.query_id, n.vec_id AS node, $nswCos AS cos
       |  FROM queries q, entrypt, qn n WHERE n.vec_id = e),
       |f0 AS (SELECT query_id, node FROM v0),
       |${hopCtes(NswMaxHops, "", "edges", "wb")}
       |SELECT query_id, rank, node AS neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM (SELECT query_id, node, cos,
       |             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rank
       |      FROM v$NswMaxHops WHERE node <> query_id) z
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- sim_hnsw_2layer -------------------------------------------------------
  // Hierarchical graph-ANN (the HNSW construction, Malkov & Yashunin 2018,
  // reduced to its two-layer core): a SPARSE upper layer (every 8th vector
  // — HNSW's geometric level assignment made deterministic) carries its own
  // navigable graph; a query first greedy-walks the small layer from the
  // global entry to find a PER-QUERY entry point close to its region, then
  // runs the layer-0 beam from there. The hierarchy is what lets a real
  // HNSW reach any region in O(log n) hops where single-layer NSW needs
  // O(n^(1/k)) — here the observable contract is that layer 1 ROUTES:
  // different queries enter layer 0 at different nodes (spec-pinned), with
  // total per-query work still O(hops·beam·degree), never a corpus scan.
  // Both layer graphs are prebuilt artifacts (the stored index); layer 1 is
  // 1/8 the corpus so its build cost is amortized noise next to layer 0's.
  // Determinism: fixed layer split (vec_id % 8), fixed entry (min layer-1
  // id), fixed hop counts, ties to the smaller node id — the oracle replays
  // BOTH walks as prefix-namespaced unrolled hop CTEs over the same
  // adaptive-bits graph build.
  // Layer budgets scale like the single-layer walk (r13 VERDICT item 2):
  // anchors are the fixture-scale layer sizes (63 = |vec_id % 8 == 0| at
  // n=500; 500 = the corpus), so fixture and sf0.1 resolve to the
  // original 3/2 + 3/4 constants, while a 20k corpus routes with an
  // 8-hop coarse walk and refines with an 8-hop/8-beam base walk. The
  // oracle unrolls to the caps and gates per hop on the same
  // COUNT(*)-derived budgets.
  private[llm] val HnswL1MaxHops = 10
  private[llm] val HnswL0MaxHops = NswMaxHops
  private val HnswL1Spec = WalkSpec(63.0, 1.5, 3, HnswL1MaxHops, 0.5, 2, 4)
  private val HnswL0Spec = WalkSpec(500.0, 1.5, 3, HnswL0MaxHops, 1.5, 4, NswMaxBeam)

  private[llm] def hnswWalk(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val corpus = quantized(s, dir)
    val l1 = corpus.filter(col("vec_id") % 8 === 0)
    // per-layer counts → walk budgets (driver-side control scalars, the
    // nswWalk/kcore discipline; the oracle re-derives both from the same
    // two COUNT(*)s)
    val (h1, b1) = HnswL1Spec.budgets(l1.count())
    val (h0, b0) = HnswL0Spec.budgets(corpus.count())
    val edges0 = symEdges(nswGraphOf(corpus))
    val edges1 = symEdges(nswGraphOf(l1))
    val queries = corpus.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
        col("nrm").as("q_nrm"))
    val entry1 = queries.select(col("query_id"))
      .crossJoin(broadcast(l1.agg(min(col("vec_id")).as("node"))))
    val visited1 = beamWalk(corpus, queries, edges1, entry1, h1, b1)
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("node"))
    val entry0 = visited1.withColumn("rn", row_number().over(wq))
      .filter(col("rn") === 1).select(col("query_id"), col("node"))
    val visited0 = beamWalk(corpus, queries, edges0, entry0, h0, b0)
    (visited1, visited0, walkTop5(visited0))
  }

  def simHnsw2layer(s: SparkSession, dir: String): DataFrame =
    hnswWalk(s, dir)._3

  private val simHnsw2layerOracle =
    s"""WITH $quantizedSql,
       |${graphCtes("", "qn")},
       |qn1 AS (SELECT * FROM qn WHERE vec_id % 8 = 0),
       |${graphCtes("g1", "qn1")},
       |${HnswL1Spec.cte("wb1", "qn1")},
       |${HnswL0Spec.cte("wb0", "qn")},
       |queries AS (SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm FROM qn WHERE vec_id < $AnnQueryCount),
       |l1entry AS (SELECT MIN(vec_id) AS e FROM qn1),
       |L1v0 AS (
       |  SELECT q.query_id, n.vec_id AS node, $nswCos AS cos
       |  FROM queries q, l1entry, qn n WHERE n.vec_id = e),
       |L1f0 AS (SELECT query_id, node FROM L1v0),
       |${hopCtes(HnswL1MaxHops, "L1", "g1edges", "wb1")},
       |e0 AS (
       |  SELECT query_id, node FROM (
       |    SELECT query_id, node,
       |           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rn
       |    FROM L1v$HnswL1MaxHops) z WHERE rn = 1),
       |v0 AS (
       |  SELECT q.query_id, n.vec_id AS node, $nswCos AS cos
       |  FROM e0 JOIN qn n ON n.vec_id = e0.node
       |  JOIN queries q ON q.query_id = e0.query_id),
       |f0 AS (SELECT query_id, node FROM v0),
       |${hopCtes(HnswL0MaxHops, "", "edges", "wb0")}
       |SELECT query_id, rank, node AS neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
       |FROM (SELECT query_id, node, cos,
       |             ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, node) AS rank
       |      FROM v$HnswL0MaxHops WHERE node <> query_id) z
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- sim_matryoshka -------------------------------------------------------
  // Matryoshka serving (Kusupati et al. 2022): MRL-trained embeddings pack
  // coarse similarity into their PREFIX, so retrieval runs in two tiers —
  // score every corpus vector on the first 16 of 64 dims (a quarter of the
  // arithmetic and, in a real deployment, a quarter of the bytes scanned),
  // keep the top-20 candidates per query, then re-rank only those on the
  // full dimension. The fixture's isotropic vectors make the prefix an
  // honest low-dim sketch (not MRL-trained), which is exactly the
  // recall-vs-cost tradeoff the spec measures against brute force.
  //
  // Scale: tier 1 is the sim_topk_bruteforce topology (scan ⋈ broadcast
  // queries) at 1/4 width; tier 2 touches queries×20 rows. Here the full
  // vector rides the candidate row (one scan serves both tiers); a 100 TB
  // deployment stores the prefix column separately (parquet prunes the
  // full-width column from the tier-1 scan) and gathers full vectors by id
  // for tier 2 — same plan, one extra equi-join.
  private val MrlPrefixDim = 16
  private val MrlCandidates = 20

  def simMatryoshka(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
      .withColumn("pref", expr(s"slice(embedding, 1, $MrlPrefixDim)"))
      .withColumn("pnrm", dotq(col("pref"), col("pref")))
    val queries = corpus.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"), col("nrm").as("q_nrm"),
        col("pref").as("q_pref"), col("pnrm").as("q_pnrm"))
    val pre = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .withColumn("pcos", dotq(col("q_pref"), col("pref")).cast("double") /
        (sqrt(col("q_pnrm").cast("double")) * sqrt(col("pnrm").cast("double"))))
    val wPre = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("vec_id"))
    val wFull = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    pre.withColumn("pre_rank", row_number().over(wPre))
      .filter(col("pre_rank") <= MrlCandidates)
      .withColumn("cos", dotq(col("q_emb"), col("embedding")).cast("double") /
        (sqrt(col("q_nrm").cast("double")) * sqrt(col("nrm").cast("double"))))
      .withColumn("rank", row_number().over(wFull))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("rank"), col("vec_id").as("neighbor_id"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"),
        col("pre_rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  private val simMatryoshkaOracle =
    s"""WITH $quantizedSql,
       |p AS (
       |  SELECT vec_id, qv, nrm, qv[1 : $MrlPrefixDim] AS pqv,
       |         list_sum(list_transform(generate_series(1, $MrlPrefixDim), i -> qv[i] * qv[i])) AS pnrm
       |  FROM qn),
       |queries AS (
       |  SELECT vec_id AS query_id, qv AS q_qv, nrm AS q_nrm,
       |         pqv AS q_pqv, pnrm AS q_pnrm
       |  FROM p WHERE vec_id < $AnnQueryCount),
       |pre AS (
       |  SELECT query_id, c.vec_id,
       |         CAST(list_sum(list_transform(generate_series(1, $MrlPrefixDim), i -> q_pqv[i] * c.pqv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_pnrm AS DOUBLE)) * sqrt(CAST(c.pnrm AS DOUBLE))) AS pcos,
       |         c.qv AS c_qv, c.nrm AS c_nrm, q_qv, q_nrm
       |  FROM p c JOIN queries ON c.vec_id <> query_id),
       |cand AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY pcos DESC, vec_id) AS pre_rank
       |  FROM pre),
       |rer AS (
       |  SELECT query_id, vec_id AS neighbor_id, pre_rank,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c_qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q_nrm AS DOUBLE)) * sqrt(CAST(c_nrm AS DOUBLE))) AS cos
       |  FROM cand WHERE pre_rank <= $MrlCandidates),
       |ranked AS (
       |  SELECT query_id, neighbor_id, pre_rank, cos,
       |         ROW_NUMBER() OVER (PARTITION BY query_id
       |           ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rer)
       |SELECT query_id, rank, neighbor_id,
       |       CAST(ROUND(CAST(cos AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine,
       |       pre_rank
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // ---- sim_knn_classify -----------------------------------------------------
  // kNN label propagation — the semi-supervised labeling step of curation
  // pipelines (propagate a quality/domain/topic label from a labeled seed
  // set to the rest of the corpus through embedding space): every
  // "unlabeled" vector (vec_id % 10 == 3, ~10% held out) takes the
  // MAJORITY label of its 3 nearest labeled neighbors, ties broken toward
  // the smaller label. The held-out side is 10% of the corpus — NOT a
  // broadcastable query set — so candidates come from the sim_knn_join
  // blocking (equi-join on the 4-bit sign-LSH bucket, both sides
  // partitioned, never broadcast); exact integer-dot cosine ranks within
  // the bucket, WindowGroupLimit prunes to k before any sort. The output
  // carries the held-back true label and a correctness flag, so the
  // classifier's accuracy is itself part of the hashed contract. The
  // testdata fixture assigns labels independently of the isotropic
  // vectors, so on it the oracle pins exact agreement at the 1/10 chance
  // baseline (exact unblocked kNN scores the same there); the ACCURACY
  // claim is proven separately on a label-correlated fixture — the
  // LlmOpsSpec r10 test stages 10 geometric sign-pattern clusters with
  // label = cluster and this same plan recovers held-out labels at ≥0.9
  // accuracy vs the 0.1 baseline, which is the semi-supervised
  // propagator doing its job on embeddings where labels ARE geometric.
  def simKnnClassify(s: SparkSession, dir: String): DataFrame = {
    val corpus = adaptiveBucketed(quantized(s, dir))
      .join(load(s, dir, "embeddings").select(col("vec_id"), col("label")),
        Seq("vec_id"))
    val unl = corpus.filter(col("vec_id") % 10 === 3)
    val lab = corpus.filter(col("vec_id") % 10 =!= 3)
    val scored = unl.as("q").join(lab.as("c"),
        col("q.bucket") === col("c.bucket"))
      .select(col("q.vec_id").as("vec_id"), col("q.label").as("true_label"),
        col("c.vec_id").as("neighbor_id"), col("c.label").as("n_label"),
        dotq(col("q.embedding"), col("c.embedding")).as("dot"),
        col("q.nrm").as("qn"), col("c.nrm").as("cn"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("qn").cast("double")) * sqrt(col("cn").cast("double"))))
    val wTop = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    val votes = scored.withColumn("rank", row_number().over(wTop))
      .filter(col("rank") <= 3)
      .groupBy(col("vec_id"), col("true_label"), col("n_label"))
      .agg(count(lit(1)).as("n_votes"))
    val wVote = Window.partitionBy(col("vec_id"))
      .orderBy(col("n_votes").desc, col("n_label"))
    votes.withColumn("vr", row_number().over(wVote))
      .filter(col("vr") === 1)
      .select(col("vec_id"), col("n_label").as("pred_label"),
        col("n_votes"), col("true_label"),
        (col("n_label") === col("true_label")).as("correct"))
      .orderBy(col("vec_id"))
  }

  private val simKnnClassifyOracle =
    s"""WITH $quantizedSql,
       |nn AS (SELECT GREATEST(4, LEAST(8, CAST(CEIL(LOG2(COUNT(*) / 32.0)) AS INT))) AS bits FROM embeddings),
       |bucketed AS (
       |  SELECT qn.vec_id, qv, nrm, e.label,
       |         CAST(list_sum(list_transform(generate_series(0, bits - 1),
       |           i -> CASE WHEN qn.embedding[1 + 8 * i] > 0 THEN (1 << i) ELSE 0 END)) AS INT) AS bucket
       |  FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id, nn),
       |scored AS (
       |  SELECT q.vec_id, q.label AS true_label,
       |         c.vec_id AS neighbor_id, c.label AS n_label,
       |         CAST(list_sum(list_transform(generate_series(1, len(q.qv)), i -> q.qv[i] * c.qv[i])) AS DOUBLE)
       |           / (sqrt(CAST(q.nrm AS DOUBLE)) * sqrt(CAST(c.nrm AS DOUBLE))) AS cos
       |  FROM bucketed q JOIN bucketed c
       |    ON q.bucket = c.bucket
       |   AND q.vec_id % 10 = 3 AND c.vec_id % 10 <> 3),
       |top3 AS (
       |  SELECT * FROM (
       |    SELECT vec_id, true_label, n_label,
       |           ROW_NUMBER() OVER (PARTITION BY vec_id
       |             ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM scored) WHERE rank <= 3),
       |votes AS (
       |  SELECT vec_id, true_label, n_label, COUNT(*) AS n_votes
       |  FROM top3 GROUP BY 1, 2, 3),
       |pick AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
       |           ORDER BY n_votes DESC, n_label) AS vr
       |  FROM votes)
       |SELECT vec_id, n_label AS pred_label, n_votes, true_label,
       |       n_label = true_label AS correct
       |FROM pick WHERE vr = 1 ORDER BY vec_id""".stripMargin

  // ---- sim_mmr_rerank -------------------------------------------------------
  // Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998) —
  // the DIVERSIFICATION pass a RAG pipeline runs between retrieval and
  // the context window: plain top-k returns near-duplicates of the best
  // hit; MMR greedily picks argmax of λ·rel(q,d) − (1−λ)·max sim(d, S)
  // over the already-selected set S, trading relevance against redundancy.
  // Here λ = 1/2 (the classic default), so the doubled objective is the
  // all-integer rel − maxsim over exact quantized micro-dots — no float
  // ever enters the ordering. Argmax ties break toward the smaller id
  // via the composite key score·1e9 − cand (DECIMAL(38,0) / HUGEINT on
  // the two engines — same total order; 1e9 exceeds every vec_id the
  // rehearsal corpus can mint). The oracle replays the greedy loop as
  // four explicitly unrolled selection CTEs. Scale: candidates come from
  // the broadcast-query brute-force pass (an ANN prefilter at 100 TB —
  // same contract as retrieval_maxsim's reranker); everything after is
  // per-query work over ≤8 rows (≤56 sim pairs), so the greedy loop's
  // 4 tiny joins cost nothing against the retrieval that feeds them.
  private val MmrCandidates = 8
  private val MmrK = 4
  private val MmrComposite = 1000000000L

  def simMmrRerank(s: SparkSession, dir: String): DataFrame = {
    val corpus = quantized(s, dir)
    val queries = corpus.filter(col("vec_id") < AnnQueryCount)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val scored = corpus.join(broadcast(queries), col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("cand"),
        col("embedding").as("c_emb"),
        dotq(col("q_emb"), col("embedding")).as("rel"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rel").desc, col("cand"))
    val cands = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= MmrCandidates)
      .select(col("query_id"), col("cand"), col("c_emb"), col("rel"))
      .localCheckpoint()
    val sims = cands.as("x").join(cands.as("y"),
        col("x.query_id") === col("y.query_id") &&
          col("x.cand") =!= col("y.cand"))
      .select(col("x.query_id").as("query_id"), col("x.cand").as("cand"),
        col("y.cand").as("other"),
        dotq(col("x.c_emb"), col("y.c_emb")).as("sim"))
      .localCheckpoint()
    // pick 1: pure relevance (S is empty, the redundancy term is 0)
    var selected = cands.groupBy(col("query_id"))
      .agg(expr(s"max_by(cand, CAST(rel AS DECIMAL(38,0)) * $MmrComposite - cand)")
        .as("cand"))
      .withColumn("pick", lit(1))
    for (t <- 2 to MmrK) {
      val sel = selected.select(col("query_id"), col("cand"))
      val rem = cands.join(sel, Seq("query_id", "cand"), "left_anti")
      val next = rem
        .join(sims, Seq("query_id", "cand"))
        .join(sel.withColumnRenamed("cand", "other"), Seq("query_id", "other"))
        .groupBy(col("query_id"), col("cand"))
        .agg(max(col("rel")).as("rel"), max(col("sim")).as("maxsim"))
        .groupBy(col("query_id"))
        .agg(expr(
          s"max_by(cand, CAST(rel - maxsim AS DECIMAL(38,0)) * $MmrComposite - cand)")
          .as("cand"))
        .withColumn("pick", lit(t))
      selected = selected.unionAll(next).localCheckpoint()
    }
    selected.join(cands.select(col("query_id"), col("cand"), col("rel")),
        Seq("query_id", "cand"))
      .select(col("query_id"), col("pick"), col("cand").as("cand_id"),
        col("rel"))
      .orderBy(col("query_id"), col("pick"))
  }

  private val simMmrRerankOracle = {
    val dot = "CAST(list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS BIGINT)"
    def step(t: Int) =
      s"""r$t AS (
         |  SELECT c.* FROM cands c
         |  WHERE NOT EXISTS (SELECT 1 FROM sel${t - 1} s
         |                    WHERE s.query_id = c.query_id AND s.cand = c.cand)),
         |m$t AS (
         |  SELECT r.query_id, r.cand, r.rel, MAX(si.sim) AS maxsim
         |  FROM r$t r
         |  JOIN sims si ON si.query_id = r.query_id AND si.cand = r.cand
         |  JOIN sel${t - 1} s ON s.query_id = si.query_id AND s.cand = si.other
         |  GROUP BY 1, 2, 3),
         |s$t AS (
         |  SELECT query_id,
         |         arg_max(cand, CAST(rel - maxsim AS HUGEINT) * $MmrComposite - cand) AS cand,
         |         $t AS pick
         |  FROM m$t GROUP BY query_id),
         |sel$t AS (SELECT query_id, cand FROM sel${t - 1}
         |          UNION ALL SELECT query_id, cand FROM s$t)""".stripMargin
    s"""WITH $quantizedSql,
       |queries AS (SELECT vec_id AS query_id, qv AS q_qv FROM qn WHERE vec_id < $AnnQueryCount),
       |scored AS (
       |  SELECT query_id, c.vec_id AS cand, c.qv,
       |         CAST(list_sum(list_transform(generate_series(1, len(q_qv)), i -> q_qv[i] * c.qv[i])) AS BIGINT) AS rel
       |  FROM qn c JOIN queries ON c.vec_id <> query_id),
       |cands AS (
       |  SELECT query_id, cand, qv, rel FROM (
       |    SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
       |             ORDER BY rel DESC, cand) AS rk
       |    FROM scored) t
       |  WHERE rk <= $MmrCandidates),
       |sims AS (
       |  SELECT a.query_id, a.cand, b.cand AS other, $dot AS sim
       |  FROM cands a JOIN cands b
       |    ON a.query_id = b.query_id AND a.cand <> b.cand),
       |s1 AS (
       |  SELECT query_id,
       |         arg_max(cand, CAST(rel AS HUGEINT) * $MmrComposite - cand) AS cand,
       |         1 AS pick
       |  FROM cands GROUP BY query_id),
       |sel1 AS (SELECT query_id, cand FROM s1),
       |${(2 to MmrK).map(step).mkString(",\n")},
       |picks AS (${(1 to MmrK).map(t => s"SELECT query_id, cand, pick FROM s$t")
           .mkString("\n  UNION ALL ")})
       |SELECT p.query_id, p.pick, p.cand AS cand_id, c.rel
       |FROM picks p JOIN cands c
       |  ON c.query_id = p.query_id AND c.cand = p.cand
       |ORDER BY p.query_id, p.pick""".stripMargin
  }

  // ---- sim_nearest_centroid -----------------------------------------------
  // Rocchio / nearest-centroid classification — the cheapest embedding
  // classifier that actually deploys: one centroid per label from the
  // TRAINING split (vec_id % 5 != 0), held-out vectors assigned to the
  // max-cosine centroid. Where sim_knn_classify pays a bucketed
  // candidate join per query, this pays |labels| dot products — the
  // right trade when labels are few and the model must score billions
  // of rows (quality-classifier serving at corpus scale). Exactness:
  // centroids are integer-quantized means (sum div count per dimension
  // — the cluster_kmeans device), norms and dots exact BIGINT, the
  // cosine ONE IEEE division both engines compute identically; ties
  // break on the smaller label. Topology: training pass is one
  // (label,pos)-grain map-side-combining agg; serving is a broadcast of
  // the |labels|-row centroid table into a scan-local projection — the
  // corpus never shuffles, which is the whole point.
  def simNearestCentroid(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("qv",
        expr("transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
      .withColumn("nrm", dotq(col("embedding"), col("embedding")))
    val train = base.filter(col("vec_id") % 5 =!= 0)
    val cent = train
      .select(col("label").as("cell"), posexplode(col("qv")).as(Seq("pos", "v")))
      .groupBy(col("cell"), col("pos"))
      .agg(expr("sum(v) div count(1)").as("cd"))
      .groupBy(col("cell"))
      .agg(expr("transform(array_sort(collect_list(struct(pos, cd))), x -> x.cd)")
        .as("cvec"))
      .withColumn("cnrm",
        expr("aggregate(zip_with(cvec, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
    val wTop = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cell"))
    base.filter(col("vec_id") % 5 === 0).filter(col("nrm") > 0)
      .crossJoin(broadcast(cent))
      .withColumn("cdot",
        expr("aggregate(zip_with(qv, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
      .withColumn("ccos", col("cdot").cast("double") /
        (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
      .withColumn("rk", row_number().over(wTop))
      .filter(col("rk") === 1)
      .select(col("vec_id"), col("cell").as("pred_label"),
        col("label").as("true_label"),
        (col("cell") === col("label")).as("correct"))
      .orderBy(col("vec_id"))
  }

  private val simNearestCentroidOracle =
    s"""WITH $quantizedSql,
       |b AS (
       |  SELECT qn.vec_id, e.label, qn.qv, qn.nrm
       |  FROM qn JOIN embeddings e ON e.vec_id = qn.vec_id),
       |tr AS (
       |  SELECT label AS cell, unnest(qv) AS v,
       |         unnest(generate_series(1, len(qv))) AS pos
       |  FROM b WHERE vec_id % 5 <> 0),
       |cent AS (
       |  SELECT cell, pos, CAST(SUM(v) AS BIGINT) // COUNT(*) AS cd
       |  FROM tr GROUP BY cell, pos),
       |cn AS (SELECT cell, CAST(SUM(cd * cd) AS BIGINT) AS cnrm
       |       FROM cent GROUP BY cell),
       |te AS (
       |  SELECT vec_id, label AS true_label, nrm, unnest(qv) AS v,
       |         unnest(generate_series(1, len(qv))) AS pos
       |  FROM b WHERE vec_id % 5 = 0 AND nrm > 0),
       |scored AS (
       |  SELECT t.vec_id, t.true_label, c.cell, ANY_VALUE(t.nrm) AS nrm,
       |         CAST(SUM(t.v * c.cd) AS BIGINT) AS cdot
       |  FROM te t JOIN cent c ON c.pos = t.pos
       |  GROUP BY t.vec_id, t.true_label, c.cell),
       |ranked AS (
       |  SELECT vec_id, true_label, cell,
       |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY
       |           CAST(cdot AS DOUBLE) /
       |             (sqrt(CAST(nrm AS DOUBLE)) * sqrt(CAST(cn.cnrm AS DOUBLE)))
       |           DESC, cell) AS rk
       |  FROM scored JOIN cn USING (cell))
       |SELECT vec_id, cell AS pred_label, true_label,
       |       cell = true_label AS correct
       |FROM ranked WHERE rk = 1 ORDER BY vec_id""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "sim_nearest_centroid" -> (simNearestCentroid _),
    "sim_mmr_rerank" -> (simMmrRerank _),
    "sim_knn_classify" -> (simKnnClassify _),
    "sim_matryoshka" -> (simMatryoshka _),
    "sim_knn_join" -> (simKnnJoin _),
    "sim_nsw_search" -> (simNswSearch _),
    "sim_hnsw_2layer" -> (simHnsw2layer _),
    "sim_range_search" -> (simRangeSearch _),
    "sim_topk_bruteforce" -> (simTopkBruteforce _),
    "sim_hamming_topk" -> (simHammingTopk _),
    "sim_lsh_ann" -> (simLshAnn _),
    "sim_lsh_multitable" -> (simLshMultitable _),
    "sim_recall_at_k" -> (simRecallAtK _),
    "sim_ivf_ann" -> ((s: SparkSession, dir: String) => simIvfAnn(s, dir)),
    "cluster_kmeans" -> (clusterKmeans _),
    "sim_pq_adc" -> (simPqAdc _),
    "sim_pq_adc_trained" -> (simPqAdcTrained _),
    "sim_ivfpq" -> ((s: SparkSession, dir: String) => simIvfPq(s, dir)),
    "dedup_semantic" -> (dedupSemantic _))

  val oracles: Map[String, String] = Map(
    "sim_knn_classify" -> simKnnClassifyOracle,
    "sim_nearest_centroid" -> simNearestCentroidOracle,
    "sim_matryoshka" -> simMatryoshkaOracle,
    "sim_knn_join" -> simKnnJoinOracle,
    "sim_nsw_search" -> simNswSearchOracle,
    "sim_hnsw_2layer" -> simHnsw2layerOracle,
    "sim_range_search" -> simRangeSearchOracle,
    "sim_mmr_rerank" -> simMmrRerankOracle,
    "sim_topk_bruteforce" -> simTopkBruteforceOracle,
    "sim_hamming_topk" -> simHammingTopkOracle,
    "sim_lsh_ann" -> simLshAnnOracle,
    "sim_lsh_multitable" -> simLshMultitableOracle,
    "sim_recall_at_k" -> simRecallAtKOracle,
    "sim_ivf_ann" -> simIvfAnnOracle,
    "cluster_kmeans" -> clusterKmeansOracle,
    "sim_pq_adc" -> simPqAdcOracle,
    "sim_pq_adc_trained" -> simPqAdcTrainedOracle,
    "sim_ivfpq" -> simIvfPqOracle,
    "dedup_semantic" -> dedupSemanticOracle)
}
