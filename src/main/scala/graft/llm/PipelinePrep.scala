package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables.load

/** Training-set preparation operators — the steps between "curated corpus"
  * and "tokens on the trainer": benchmark decontamination, sequence packing,
  * temperature-stratified sampling, and embedding quantization.
  *
  * Portability contract (same as Dedup): hashes are md5, thresholds are
  * integer compares, ratio-valued knobs are frozen into integer thresholds
  * before any row is touched, so the DuckDB oracle replays each decision
  * bit-for-bit from the raw tables.
  */
object PipelinePrep {

  type Q = (SparkSession, String) => DataFrame

  private val toksE = "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  // ---- curate_decontaminate -------------------------------------------------
  // Benchmark decontamination: drop training documents that share >= 5
  // distinct 3-gram shingles with the held-out benchmark set (the overlap
  // rule GPT-3/Llama-class pipelines apply before training). The benchmark
  // here is the deterministic doc_id % 37 == 0 slice — at deployment it is
  // the real eval suites, which are megabytes against a 100 TB corpus: the
  // distinct benchmark shingle set is broadcast, so the corpus side is ONE
  // scan + a map-side hash-semijoin + one hash-agg on doc_id — no shuffle
  // of the corpus text, never a corpus×benchmark shuffle join.
  def curateDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingledFrom(load(s, dir, "documents"))
    val bench = sh.filter(col("doc_id") % 37 === 0)
      .select(explode(col("shingles")).as("shingle")).distinct()
    val cand = sh.filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"), explode(col("shingles")).as("shingle"))
    // shingle lists are distinct per doc and bench is distinct, so the join
    // multiplicity per (doc, shingle) is exactly 1 and count(*) IS the
    // distinct-overlap count
    val overlap = cand.join(broadcast(bench), Seq("shingle"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_overlap"))
    load(s, dir, "documents").filter(col("doc_id") % 37 =!= 0)
      .select(col("doc_id"))
      .join(overlap, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") >= 5)
      .orderBy(col("doc_id"))
  }

  private val curateDecontaminateOracle = {
    val shingled = Dedup.shingledSqlFrom("documents")
    s"""WITH $shingled,
       |bench AS (
       |  SELECT DISTINCT unnest(shingles) AS shingle FROM docs WHERE doc_id % 37 = 0),
       |cand AS (
       |  SELECT doc_id, unnest(shingles) AS shingle FROM docs WHERE doc_id % 37 <> 0),
       |ov AS (
       |  SELECT c.doc_id, COUNT(*) AS n_overlap
       |  FROM cand c JOIN bench b ON c.shingle = b.shingle
       |  GROUP BY c.doc_id)
       |SELECT d.doc_id, COALESCE(ov.n_overlap, 0) AS n_overlap,
       |       COALESCE(ov.n_overlap, 0) >= 5 AS contaminated
       |FROM documents d LEFT JOIN ov ON ov.doc_id = d.doc_id
       |WHERE d.doc_id % 37 <> 0
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- pack_sequences -------------------------------------------------------
  // Sequence packing with document boundaries: each document is assigned the
  // training sequence its first token lands in, packing greedily in doc_id
  // order within a shard at a 512-token budget. The assignment is a pure
  // function of (shard, doc_id order, token counts) — reproducible across
  // engines and partitionings, like sample_split_hash. Topology: ONE
  // exchange on shard, then a per-shard sort + running sum (SortExec spills,
  // window state is O(1) per row); shard count is the parallelism knob — the
  // fixture pins 8, a 100 TB run pins thousands, and the running sum never
  // leaves the shard.
  def packSequences(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
    load(s, dir, "documents")
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        expr(s"size($toksE)").as("n_tokens"))
      .withColumn("start_off",
        sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("seq_id", expr("start_off div 512"))
      .withColumn("tok_offset", col("start_off") - col("seq_id") * 512)
      .select(col("doc_id"), col("shard"), col("n_tokens"),
        col("seq_id"), col("tok_offset"))
      .orderBy(col("doc_id"))
  }

  private val packSequencesOracle =
    s"""WITH t AS (
       |  SELECT doc_id, doc_id % 8 AS shard,
       |         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
       |  FROM documents),
       |r AS (
       |  SELECT doc_id, shard, n_tokens,
       |         CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id) - n_tokens AS BIGINT) AS start_off
       |  FROM t)
       |SELECT doc_id, shard, n_tokens,
       |       start_off // 512 AS seq_id,
       |       start_off - (start_off // 512) * 512 AS tok_offset
       |FROM r ORDER BY doc_id""".stripMargin

  // ---- sample_stratified ----------------------------------------------------
  // Temperature sampling across languages (alpha = 0.5): group g is kept at
  // rate sqrt(n_min / n_g), so sampled counts scale with sqrt(n_g) — the
  // multilingual rebalancing step of mT5/XLM-class pipelines. The rate is
  // frozen into an integer threshold (floor(65536 * rate) against the first
  // 16 md5 bits of doc_id) BEFORE any row is selected: membership is a pure
  // function of doc_id, so the sample is reproducible across engines,
  // partitionings and reruns, and the smallest group is kept whole
  // (thr = 65536 > any 16-bit bucket). Topology: per-group counts are a
  // tiny agg (|langs| rows) broadcast back onto the corpus scan — the corpus
  // is read once, filtered map-side, re-aggregated; no wide shuffle.
  def sampleStratified(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val nMin = counts.agg(min(col("n_docs")).as("n_min"))
    val thr = counts.crossJoin(broadcast(nMin))
      .select(col("lang"), col("n_docs"),
        floor(lit(65536.0) *
          sqrt(col("n_min").cast("double") / col("n_docs").cast("double")))
          .as("thr"))
    val sampled = docs
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"))
      .join(broadcast(thr.select(col("lang"), col("thr"))), Seq("lang"))
      .filter(col("bucket") < col("thr"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_sampled"))
    thr.join(broadcast(sampled), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("thr"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy(col("lang"))
  }

  /** First 16 md5 bits of doc_id as an integer, in portable SQL. */
  private def hex16(col: String): String =
    (1 to 4).map(i =>
      s"(instr('0123456789abcdef', substring(md5(CAST($col AS VARCHAR)), $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
      .mkString(" + ")

  private val sampleStratifiedOracle =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |m AS (SELECT MIN(n_docs) AS n_min FROM c),
       |t AS (
       |  SELECT lang, n_docs,
       |         CAST(FLOOR(65536.0 * sqrt(CAST(n_min AS DOUBLE) / CAST(n_docs AS DOUBLE))) AS BIGINT) AS thr
       |  FROM c, m),
       |k AS (
       |  SELECT d.lang, COUNT(*) AS n_sampled
       |  FROM documents d JOIN t ON t.lang = d.lang
       |  WHERE ${hex16("d.doc_id")} < t.thr
       |  GROUP BY d.lang)
       |SELECT t.lang, t.n_docs, t.thr, COALESCE(k.n_sampled, 0) AS n_sampled
       |FROM t LEFT JOIN k ON k.lang = t.lang
       |ORDER BY t.lang""".stripMargin

  // ---- sample_reservoir -----------------------------------------------------
  // Fixed-size uniform sample per group (k = 20 docs per language) — the
  // "show me 20 random docs from every slice" primitive behind eval-set
  // construction and manual quality audits, where sample_stratified's
  // RATE-based draw can't promise an exact per-group size. The classic
  // single-pass distributed reservoir IS "keep the k smallest uniform
  // keys"; here the key is md5('rsv:' || doc_id) — a pure function of the
  // stable id, so the SAMPLE ITSELF reproduces across engines, reruns and
  // partitionings (the sample_split_hash contract), not just its size.
  // Plan shape: row_number over (lang / hash order) + rank filter, which
  // Spark 4 rewrites to WindowGroupLimit — each map task pre-truncates its
  // slice to k rows per group BEFORE the exchange (partial mode), so the
  // shuffle carries ≤ k·P rows per group and the final sort is over k·P,
  // never the group's full fact grain. That rewrite is what makes a
  // low-cardinality partitionBy(lang) safe at 100 TB — without it this
  // exact query is the single-task-sort class the window lint flags; the
  // spec pins WindowGroupLimit into the physical plan.
  private val ReservoirK = 20

  def sampleReservoir(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents")
      .select(col("lang"), col("doc_id"),
        md5(concat(lit("rsv:"), col("doc_id").cast("string"))).as("h"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"), col("doc_id")) // lint:series-grain (rank<=k compiles to WindowGroupLimit: each map task pre-truncates to k rows/group BEFORE the exchange, so the final sort sees k·P rows, never the group's fact grain — spec-pinned)
    docs.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= ReservoirK)
      .select(col("lang"), col("rnk"), col("doc_id"))
      .orderBy(col("lang"), col("rnk"))
  }

  private val sampleReservoirOracle =
    s"""SELECT lang, CAST(rnk AS BIGINT) AS rnk, doc_id
       |FROM (
       |  SELECT lang, doc_id,
       |         ROW_NUMBER() OVER (
       |           PARTITION BY lang
       |           ORDER BY md5('rsv:' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
       |  FROM documents) t
       |WHERE rnk <= $ReservoirK
       |ORDER BY lang, rnk""".stripMargin

  // ---- embed_quantize -------------------------------------------------------
  // Symmetric int8 quantization of the embedding column — the storage/ANN
  // compression step (4x smaller vectors, SIMD int8 dots downstream). All
  // arithmetic is anchored in the integer domain: floats are first quantized
  // to BIGINT micros (the dedup_embedding_cosine contract), the per-vector
  // scale is the exact integer max |x|, and each int8 code is
  // floor(micro * 127 / scale) — identical IEEE doubles in both engines.
  // Per-row projection, shuffle-free; the reported integer moments
  // (sum, sum-of-squares, min, max) pin every code without exporting the
  // full vector.
  def embedQuantize(s: SparkSession, dir: String): DataFrame = {
    load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
          .as("qv"))
      .withColumn("qscale", expr("aggregate(qv, 0L, (a, x) -> greatest(a, abs(x)))"))
      .filter(col("qscale") > 0)
      .withColumn("q8",
        expr("transform(qv, x -> cast(floor(cast(x as double) * 127.0 / cast(qscale as double)) as bigint))"))
      .select(col("vec_id"), col("qscale"),
        expr("aggregate(q8, 0L, (a, x) -> a + x)").as("q_sum"),
        expr("aggregate(q8, 0L, (a, x) -> a + x * x)").as("q_sumsq"),
        expr("array_min(q8)").as("q_min"),
        expr("array_max(q8)").as("q_max"))
      .orderBy(col("vec_id"))
  }

  private val embedQuantizeOracle =
    """WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, qv, list_max(list_transform(qv, x -> abs(x))) AS qscale
      |  FROM q),
      |c AS (
      |  SELECT vec_id, qscale,
      |         list_transform(qv, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 127.0 / CAST(qscale AS DOUBLE)) AS BIGINT)) AS q8
      |  FROM m WHERE qscale > 0)
      |SELECT vec_id, qscale,
      |       CAST(list_sum(q8) AS BIGINT) AS q_sum,
      |       CAST(list_sum(list_transform(q8, x -> x * x)) AS BIGINT) AS q_sumsq,
      |       list_min(q8) AS q_min,
      |       list_max(q8) AS q_max
      |FROM c ORDER BY vec_id""".stripMargin

  // ---- text_chunk -----------------------------------------------------------
  // Overlapping token-window chunking — the RAG/embedding-index step: each
  // document is cut into 64-token windows on a 48-token stride (16-token
  // overlap), every chunk fingerprinted. Pure per-row explode — chunk count
  // and content are a function of the document alone, no shuffle before the
  // presentation sort, so it rides the corpus scan at any scale. The slice
  // clamps at the document end (the final chunk may be short), and both
  // engines clamp identically.
  def textChunk(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(col("doc_id"), expr(toksE).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), col("toks"),
        explode(expr("sequence(0, (size(toks) - 1) div 48)")).as("chunk_seq"))
      .select(col("doc_id"), col("chunk_seq"),
        expr("slice(toks, chunk_seq * 48 + 1, 64)").as("chunk"))
      .select(col("doc_id"), col("chunk_seq"),
        size(col("chunk")).as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk"))).as("chunk_fp"))
      .orderBy(col("doc_id"), col("chunk_seq"))

  private val textChunkOracle =
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, toks,
       |         unnest(generate_series(0, (len(toks) - 1) // 48)) AS chunk_seq
       |  FROM t WHERE len(toks) > 0)
       |SELECT doc_id, chunk_seq,
       |       len(list_slice(toks, chunk_seq * 48 + 1, chunk_seq * 48 + 64)) AS n_chunk_tokens,
       |       md5(array_to_string(list_slice(toks, chunk_seq * 48 + 1, chunk_seq * 48 + 64), ' ')) AS chunk_fp
       |FROM c ORDER BY doc_id, chunk_seq""".stripMargin

  // ---- sketch_cms_topk ------------------------------------------------------
  // Count-min sketch over the corpus token stream (depth 4 × width 64,
  // hash rows derived from md5(row || token) — deterministic, so the DuckDB
  // oracle rebuilds the IDENTICAL sketch) and point-queries it for the top
  // 10 true heavy hitters: the estimate is min over rows of the counter
  // cell, and CMS guarantees estimate >= true count (the spec asserts it;
  // equality holds when no collision hits all 4 rows). This is the
  // bounded-memory frequency infrastructure for streams the exact hash-agg
  // (text_ngram_freq) can't serve: the sketch is a FIXED 256-cell array
  // regardless of corpus size, built by one (row, cell)-keyed
  // map-side-combining hash agg, and two sketches merge by cell-wise sum
  // (the same partial-agg algebra as the MinHash union).
  def sketchCmsTopk(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(explode(expr(toksE)).as("token"))
    // ONE md5 per token occurrence; the 4 hash rows are its disjoint
    // 16-bit slices (md5's 128 bits give 4 independent 16-bit draws —
    // a 4x cheaper sketch build than hashing per row)
    val sliceCells =
      "transform(sequence(0, 3), i -> cast(conv(substring(h, i * 4 + 1, 4), 16, 10) as bigint) % 64)"
    val cells = toks
      .select(md5(col("token")).as("h"))
      .select(posexplode(expr(sliceCells)).as(Seq("row", "cell")))
    val sketch = cells.groupBy(col("row"), col("cell"))
      .agg(count(lit(1)).as("n"))
    val top = toks.groupBy(col("token"))
      .agg(count(lit(1)).as("true_count"))
      .orderBy(col("true_count").desc, col("token")).limit(10)
    top
      .withColumn("h", md5(col("token")))
      .select(col("token"), col("true_count"),
        posexplode(expr(sliceCells)).as(Seq("row", "cell")))
      .join(broadcast(sketch), Seq("row", "cell"))
      .groupBy(col("token"), col("true_count"))
      .agg(min(col("n")).as("cms_estimate"))
      .orderBy(col("true_count").desc, col("token"))
  }

  private val sketchCmsTopkOracle = {
    // row r's cell = 16-bit slice r of md5(token), mod 64
    val cellOf = (1 to 4).map(i =>
      s"(instr('0123456789abcdef', substring(md5(token), row * 4 + $i, 1)) - 1) * ${1 << (4 * (4 - i))}")
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
       |  FROM documents),
       |cells AS (
       |  SELECT row, ($cellOf) % 64 AS cell
       |  FROM toks, (VALUES (0),(1),(2),(3)) r(row)),
       |sketch AS (
       |  SELECT row, cell, COUNT(*) AS n FROM cells GROUP BY row, cell),
       |top AS (
       |  SELECT token, COUNT(*) AS true_count FROM toks GROUP BY token
       |  ORDER BY true_count DESC, token LIMIT 10),
       |probes AS (
       |  SELECT token, true_count, row, ($cellOf) % 64 AS cell
       |  FROM top, (VALUES (0),(1),(2),(3)) r(row))
       |SELECT p.token, p.true_count, CAST(MIN(s.n) AS BIGINT) AS cms_estimate
       |FROM probes p JOIN sketch s ON s.row = p.row AND s.cell = p.cell
       |GROUP BY p.token, p.true_count
       |ORDER BY p.true_count DESC, p.token""".stripMargin
  }

  // ---- sketch_hll_distinct --------------------------------------------------
  // HyperLogLog cardinality of the corpus token stream, 64 registers from
  // md5: bucket = first 8 md5 bits mod 64, rho = leading-zero rank of the
  // next 32 bits (computed as 33 - length(bin(w)) — both engines' `bin`
  // drops leading zeros identically). The harmonic mean is EXACT integer
  // arithmetic: sum(2^-M_j) is kept as S = sum(2^(33-M_j)) over the common
  // denominator 2^33 (BIGINT, order-independent), and only the final
  // alpha·m²·2^33/S division runs in (identical) doubles — so the oracle
  // reproduces the estimate bit-for-bit, not approximately. Duplicates
  // can't move a register (max), which is the whole point: 64 fixed
  // registers estimate distinct tokens at any corpus size, and two
  // sketches merge by register-wise max (the MinHash-union algebra again).
  def sketchHllDistinct(s: SparkSession, dir: String): DataFrame = {
    val toks = load(s, dir, "documents")
      .select(explode(expr(toksE)).as("token"))
    val regs = toks
      .select(
        (conv(substring(md5(col("token")), 1, 2), 16, 10).cast("long") % 64)
          .as("bucket"),
        conv(substring(md5(col("token")), 3, 8), 16, 10).cast("long").as("w"))
      .withColumn("rho",
        when(col("w") === 0, lit(33)).otherwise(lit(33) - length(bin(col("w")))))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m"))
    val spine = s.range(0, 64).select(col("id").as("bucket"))
    val sketch = spine.join(regs, Seq("bucket"), "left")
      .select(col("bucket"), coalesce(col("m"), lit(0)).as("m"))
    val agg = sketch.agg(
      sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_buckets_hit"),
      sum(col("m")).as("reg_sum"),
      expr("sum(shiftleft(1L, 33 - m))").as("s_scaled"))
      .select(col("n_buckets_hit"), col("reg_sum"), col("s_scaled"),
        expr("""cast(round(cast(0.709 * 64 * 64 * 8589934592.0 /
               |cast(s_scaled as double) as decimal(28,6)), 2) as double)"""
          .stripMargin).as("hll_raw_estimate"))
      // the standard small-range correction: below 2.5m with empty
      // registers, LinearCounting (m·ln(m/V)) replaces the raw estimator
      .withColumn("hll_estimate", expr(
        """cast(round(cast(
          |  case when 64 - n_buckets_hit > 0
          |        and 0.709 * 64 * 64 * 8589934592.0 / cast(s_scaled as double) < 160.0
          |       then 64.0 * ln(64.0 / cast(64 - n_buckets_hit as double))
          |       else 0.709 * 64 * 64 * 8589934592.0 / cast(s_scaled as double) end
          |as decimal(28,6)), 2) as double)""".stripMargin))
    val truth = toks.agg(countDistinct(col("token")).as("true_distinct"))
    agg.crossJoin(broadcast(truth))
  }

  private val sketchHllDistinctOracle =
    s"""WITH toks AS (
       |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS token
       |  FROM documents),
       |regs AS (
       |  SELECT ((instr('0123456789abcdef', substring(md5(token), 1, 1)) - 1) * 16
       |          + (instr('0123456789abcdef', substring(md5(token), 2, 1)) - 1)) % 64 AS bucket,
       |         CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rho
       |  FROM (
       |    SELECT token,
       |           CAST((instr('0123456789abcdef', substring(md5(token), 3, 1)) - 1) AS BIGINT) * 268435456
       |           + (instr('0123456789abcdef', substring(md5(token), 4, 1)) - 1) * 16777216
       |           + (instr('0123456789abcdef', substring(md5(token), 5, 1)) - 1) * 1048576
       |           + (instr('0123456789abcdef', substring(md5(token), 6, 1)) - 1) * 65536
       |           + (instr('0123456789abcdef', substring(md5(token), 7, 1)) - 1) * 4096
       |           + (instr('0123456789abcdef', substring(md5(token), 8, 1)) - 1) * 256
       |           + (instr('0123456789abcdef', substring(md5(token), 9, 1)) - 1) * 16
       |           + (instr('0123456789abcdef', substring(md5(token), 10, 1)) - 1) AS w
       |    FROM toks) t),
       |mreg AS (SELECT bucket, MAX(rho) AS m FROM regs GROUP BY bucket),
       |sketch AS (
       |  SELECT sp.bucket, COALESCE(mreg.m, 0) AS m
       |  FROM (SELECT unnest(generate_series(0, 63)) AS bucket) sp
       |  LEFT JOIN mreg ON mreg.bucket = sp.bucket),
       |agg AS (
       |  SELECT CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
       |         CAST(SUM(m) AS BIGINT) AS reg_sum,
       |         CAST(SUM(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT) AS s_scaled
       |  FROM sketch)
       |SELECT n_buckets_hit, reg_sum, s_scaled,
       |       CAST(ROUND(CAST(0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) AS DECIMAL(28,6)), 2) AS DOUBLE) AS hll_raw_estimate,
       |       CAST(ROUND(CAST(
       |         CASE WHEN 64 - n_buckets_hit > 0
       |               AND 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) < 160.0
       |              THEN 64.0 * ln(64.0 / CAST(64 - n_buckets_hit AS DOUBLE))
       |              ELSE 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) END
       |       AS DECIMAL(28,6)), 2) AS DOUBLE) AS hll_estimate,
       |       (SELECT COUNT(DISTINCT token) FROM toks) AS true_distinct
       |FROM agg""".stripMargin

  // ---- sketch_quantile ------------------------------------------------------
  // Fixed-bin histogram quantiles — the third mergeable sketch (CMS =
  // frequency, HLL = cardinality, this = distribution): order prices are
  // taken to EXACT integer cents (decimal cast, never double*100
  // truncation), binned into 256 equal-width integer bins over the
  // observed [min, max], and q ∈ {50, 90, 99} is answered by the first
  // bin whose running count reaches ceil(q·n/100) — every step integer,
  // so the oracle reproduces bins, ranks, and bounds bit-for-bit. The
  // sketch is a fixed ≤256-row table from one map-side-combining agg;
  // two sketches over disjoint slices merge by bin-wise sum (spec-pinned)
  // and the true percentile provably lies inside the reported bin's
  // [lo, hi] (spec-pinned against a sort-based exact percentile). At
  // 100 TB: the only full pass is the min/max/count scalar agg + the
  // histogram agg (same scan), both map-side combining; the quantile
  // extraction runs on 256 rows.
  def sketchQuantile(s: SparkSession, dir: String): DataFrame = {
    val vals = load(s, dir, "orders")
      .select((col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("c"))
    val bounds = vals.agg(min(col("c")).as("minc"), max(col("c")).as("maxc"),
      count(lit(1)).as("n"))
    val hist = vals.crossJoin(broadcast(bounds))
      // `div`, not `/`: Spark's `/` on longs is DOUBLE division
      .select(expr("least(255L, (c - minc) * 256 div (maxc - minc + 1))")
        .as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("bn"))
    val wCum = Window.orderBy(col("bin")) // lint:series-grain (bin-grain aggregate)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = hist.withColumn("cum", sum(col("bn")).over(wCum))
    val qs = Seq(50L, 90L, 99L)
    val qdf = qs.foldLeft(Option.empty[DataFrame]) { (acc, q) =>
      val one = cum.crossJoin(broadcast(bounds))
        .withColumn("q_pct", lit(q))
        .withColumn("target_rank", expr(s"($q * n + 99) div 100"))
        .filter(col("cum") >= col("target_rank"))
        .orderBy(col("bin")).limit(1)
        .select(col("q_pct"), col("target_rank"), col("bin"),
          (col("minc") + expr("(bin * (maxc - minc + 1) + 255) div 256"))
            .as("lo_cents"),
          (col("minc") + expr("((bin + 1) * (maxc - minc + 1) - 1) div 256"))
            .as("hi_cents"),
          col("cum").as("cum_count"))
      Some(acc.fold(one)(_.unionAll(one)))
    }.get
    qdf.orderBy(col("q_pct"))
  }

  private val sketchQuantileOracle =
    """WITH vals AS (
      |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS c
      |  FROM orders),
      |bounds AS (
      |  SELECT MIN(c) AS minc, MAX(c) AS maxc, COUNT(*) AS n FROM vals),
      |hist AS (
      |  SELECT LEAST(255, (c - minc) * 256 // (maxc - minc + 1)) AS bin,
      |         COUNT(*) AS bn
      |  FROM vals, bounds GROUP BY 1),
      |cum AS (
      |  SELECT bin, bn,
      |         CAST(SUM(bn) OVER (ORDER BY bin
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum
      |  FROM hist),
      |qs AS (SELECT unnest([50, 90, 99]) AS q_pct),
      |hit AS (
      |  SELECT q.q_pct,
      |         CAST((q.q_pct * b.n + 99) // 100 AS BIGINT) AS target_rank,
      |         c.bin, c.cum,
      |         ROW_NUMBER() OVER (PARTITION BY q.q_pct ORDER BY c.bin) AS rk
      |  FROM qs q CROSS JOIN bounds b JOIN cum c
      |    ON c.cum >= (q.q_pct * b.n + 99) // 100)
      |SELECT CAST(h.q_pct AS BIGINT) AS q_pct, h.target_rank,
      |       CAST(h.bin AS BIGINT) AS bin,
      |       b.minc + (h.bin * (b.maxc - b.minc + 1) + 255) // 256 AS lo_cents,
      |       b.minc + ((h.bin + 1) * (b.maxc - b.minc + 1) - 1) // 256 AS hi_cents,
      |       h.cum AS cum_count
      |FROM hit h CROSS JOIN bounds b
      |WHERE h.rk = 1 ORDER BY q_pct""".stripMargin

  // ---- embed_random_proj ----------------------------------------------------
  // Sparse random projection (Achlioptas 2001 / Johnson–Lindenstrauss): each
  // 64-d embedding maps to 8 dims through a fixed ±1 sign matrix — the cheap
  // dimensionality squeeze that feeds prefilter indexes (sim_matryoshka's
  // trained cousin, available on ANY embedding because it needs no
  // training). The sign matrix is a pure function of (input dim, output
  // dim) via md5, computed ONCE on the driver and inlined as array
  // literals — per row the projection is 8 codegen'd zip_with/aggregate
  // folds over the already-quantized BIGINT vector (exact integer sums, no
  // fp accumulation order anywhere), shuffle-free at any corpus size. The
  // oracle re-DERIVES the matrix from the same md5 rule in SQL, so a
  // driver-side derivation bug cannot self-confirm.
  private def rpSign(j: Int, d: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"rp:$j:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (hex.charAt(0) < '8') 1L else -1L
  }

  def embedRandomProj(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
          .as("qv"))
    val projCols = (0 until 8).map { d =>
      val arr = (0 until 64).map(j => s"${rpSign(j, d)}L").mkString(",")
      expr(s"aggregate(zip_with(qv, array($arr), (x, sgn) -> x * sgn), 0L, (a, y) -> a + y)")
        .as(s"p$d")
    }
    base.select(col("vec_id") +: projCols: _*).orderBy(col("vec_id"))
  }

  private val embedRandomProjOracle = {
    val pCols = (0 until 8)
      .map(d => s"MAX(CASE WHEN d = $d THEN pv END) AS p$d").mkString(",\n  ")
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
       |  FROM embeddings),
       |ex AS (SELECT vec_id, j, qv[j + 1] AS x FROM q, generate_series(0, 63) t(j)),
       |sg AS (
       |  SELECT j, d,
       |         CASE WHEN substring(md5('rp:' || CAST(j AS VARCHAR) || ':' || CAST(d AS VARCHAR)), 1, 1) < '8'
       |              THEN 1 ELSE -1 END AS sgn
       |  FROM generate_series(0, 63) t(j), generate_series(0, 7) u(d)),
       |p AS (
       |  SELECT vec_id, d, CAST(SUM(x * sgn) AS BIGINT) AS pv
       |  FROM ex JOIN sg USING (j) GROUP BY 1, 2)
       |SELECT vec_id,
       |  $pCols
       |FROM p GROUP BY vec_id ORDER BY vec_id""".stripMargin
  }

  // ---- pack_length_buckets --------------------------------------------------
  // Length-bucketed batching — the padding-efficiency move for UNPACKED
  // training/inference (dynamic batching): docs grouped by floor(log2(
  // n_tokens)) so each 32-doc batch pads to its own max instead of the
  // global max. bits = length(bin(n)) − 1 is the exact integer log2 both
  // engines compute identically (the curate_lm_score device); batches
  // form in doc_id order inside a bucket (row_number div 32 — the
  // pack_sequences reproducibility contract), padded cost = batch_max ×
  // batch_size summed per bucket, and the report carries waste per-mille
  // by integer division. The whole operator is one exchange on the bucket
  // key: the window and both aggregations share it.
  def packLengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val d = load(s, dir, "documents")
      .select(col("doc_id"), expr(s"size($toksE)").as("n_tokens"))
      .filter(col("n_tokens") > 0)
      .withColumn("bucket", expr("length(bin(n_tokens)) - 1"))
    // r11 de-weak: the per-length-bucket sequence used to be a row_number
    // window over ~12 log2 buckets — corpus-sized partitions in a dozen
    // tasks at 100x. RankedOver's two-pass rank gives the identical
    // doc_id-order sequence (doc_id is unique) with per-task input
    // bounded by n/quantile-buckets.
    val batched = graft.operators.RankedOver.withGlobalRanks(d,
        Seq("bucket"), "doc_id",
        buckets = s.conf.get("spark.sql.shuffle.partitions", "32").toInt)
      .withColumn("rn", col("__grn"))
      .withColumn("batch_id", expr("(rn - 1) div 32"))
    val perBatch = batched.groupBy(col("bucket"), col("batch_id"))
      .agg(count(lit(1)).as("bn"), sum(col("n_tokens")).as("bsum"),
        max(col("n_tokens")).as("bmax"))
    perBatch.groupBy(col("bucket"))
      .agg(sum(col("bn")).as("n_docs"),
        count(lit(1)).as("n_batches"),
        sum(col("bsum")).as("sum_tokens"),
        sum(col("bmax") * col("bn")).as("padded_tokens"))
      .withColumn("waste_permille",
        expr("((padded_tokens - sum_tokens) * 1000) div padded_tokens"))
      .orderBy(col("bucket"))
  }

  private val packLengthBucketsOracle =
    s"""WITH d AS (
       |  SELECT doc_id,
       |         len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '')) AS n_tokens
       |  FROM documents),
       |b AS (
       |  SELECT doc_id, n_tokens, length(bin(n_tokens)) - 1 AS bucket
       |  FROM d WHERE n_tokens > 0),
       |bt AS (
       |  SELECT bucket, n_tokens,
       |         (ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) - 1) // 32 AS batch_id
       |  FROM b),
       |pb AS (
       |  SELECT bucket, batch_id, CAST(COUNT(*) AS BIGINT) AS bn,
       |         CAST(SUM(n_tokens) AS BIGINT) AS bsum,
       |         CAST(MAX(n_tokens) AS BIGINT) AS bmax
       |  FROM bt GROUP BY 1, 2)
       |SELECT bucket, CAST(SUM(bn) AS BIGINT) AS n_docs,
       |       CAST(COUNT(*) AS BIGINT) AS n_batches,
       |       CAST(SUM(bsum) AS BIGINT) AS sum_tokens,
       |       CAST(SUM(bmax * bn) AS BIGINT) AS padded_tokens,
       |       (CAST(SUM(bmax * bn) AS BIGINT) - CAST(SUM(bsum) AS BIGINT)) * 1000
       |         // CAST(SUM(bmax * bn) AS BIGINT) AS waste_permille
       |FROM pb GROUP BY bucket ORDER BY bucket""".stripMargin

  // ---- sketch_kmv_intersect -------------------------------------------------
  // K-MINIMUM-VALUES set-operation sketch (Beyer et al. 2007; the theta-
  // sketch family) — the FOURTH mergeable sketch beside CMS (frequency),
  // HLL (cardinality) and the histogram (quantiles), adding what none of
  // them can: the cardinality of a set INTERSECTION without ever joining
  // the sets. Audience-overlap at 100 TB: each side keeps its k smallest
  // md5 hashes (a uniform sample of the distinct domain; k rows total,
  // built by one TakeOrdered over a distinct — mergeable by min-union),
  // the union sketch is the k smallest of the merged samples, theta = its
  // k-th value, D̂_union = (k−1)·2^52 div theta, and the intersection
  // estimate scales D̂_union by the fraction of union-sample hashes seen
  // in BOTH sides. Hashes truncate to 52 bits so every estimator step
  // stays inside exact BIGINT division — both engines replay the SAME
  // sample, so the ESTIMATE ITSELF hash-matches (the sketch_hll_distinct
  // contract); exact |A|, |B|, |A∩B| ride along as reference columns.
  private val KmvK = 64
  private val KmvScale = 4503599627370496L // 2^52

  def sketchKmvIntersect(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    def side(status: String): DataFrame = orders
      .filter(col("o_orderstatus") === status)
      .select(col("o_custkey").as("id")).distinct()
      .select(col("id"),
        conv(substring(md5(concat(lit("kmv:"), col("id").cast("string"))),
          1, 13), 16, 10).cast("long").as("h"))
    val a = side("F")
    val b = side("O")
    def sketch(x: DataFrame): DataFrame =
      x.select(col("h")).orderBy(col("h")).limit(KmvK)
    val skA = sketch(a).withColumnRenamed("h", "ha")
    val skB = sketch(b).withColumnRenamed("h", "hb")
    val union = sketch(skA.select(col("ha").as("h"))
      .unionAll(skB.select(col("hb").as("h"))).distinct())
    val theta = union.agg(max(col("h")).as("theta"))
    val nBoth = union
      .join(skA, col("h") === col("ha"), "left_semi")
      .join(skB, col("h") === col("hb"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
    val exact = orders.filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_custkey"), col("o_orderstatus")).distinct()
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("ns"))
      .agg(count(lit(1)).as("exact_union"),
        sum(when(col("ns") === 2, 1L).otherwise(0L)).as("exact_intersect"))
    theta.crossJoin(nBoth).crossJoin(exact)
      .select(lit(KmvK.toLong).as("k"), col("n_both"),
        expr(s"${KmvK - 1} * ${KmvScale}L div theta").as("d_union_est"),
        expr(s"(n_both * (${KmvK - 1} * ${KmvScale}L div theta)) div $KmvK")
          .as("d_intersect_est"),
        col("exact_union"), col("exact_intersect"))
  }

  private val sketchKmvIntersectOracle = {
    val h = (c: String) => s"CAST(concat('0x', substr(md5(concat('kmv:', CAST($c AS VARCHAR))), 1, 13)) AS BIGINT)"
    s"""WITH a AS (
       |  SELECT ${h("id")} AS h FROM (
       |    SELECT DISTINCT o_custkey AS id FROM orders WHERE o_orderstatus = 'F')
       |  ORDER BY h LIMIT $KmvK),
       |b AS (
       |  SELECT ${h("id")} AS h FROM (
       |    SELECT DISTINCT o_custkey AS id FROM orders WHERE o_orderstatus = 'O')
       |  ORDER BY h LIMIT $KmvK),
       |u AS (
       |  SELECT h FROM (SELECT DISTINCT h FROM (
       |    SELECT h FROM a UNION ALL SELECT h FROM b) t) d
       |  ORDER BY h LIMIT $KmvK),
       |th AS (SELECT MAX(h) AS theta FROM u),
       |nb AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_both FROM u
       |  WHERE h IN (SELECT h FROM a) AND h IN (SELECT h FROM b)),
       |ex AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_union,
       |         CAST(SUM(CASE WHEN ns = 2 THEN 1 ELSE 0 END) AS BIGINT)
       |           AS exact_intersect
       |  FROM (SELECT o_custkey, COUNT(DISTINCT o_orderstatus) AS ns
       |        FROM orders WHERE o_orderstatus IN ('F', 'O')
       |        GROUP BY o_custkey) t)
       |SELECT CAST($KmvK AS BIGINT) AS k, nb.n_both,
       |       CAST(${KmvK - 1} * $KmvScale // theta AS BIGINT) AS d_union_est,
       |       CAST((nb.n_both * (${KmvK - 1} * $KmvScale // theta)) // $KmvK AS BIGINT)
       |         AS d_intersect_est,
       |       ex.exact_union, ex.exact_intersect
       |FROM th, nb, ex""".stripMargin
  }

  // ---- sketch_kmv_diff --------------------------------------------------------
  // KMV set DIFFERENCE — the a-not-b operation that completes the theta
  // family (union/intersection live in sketch_kmv_intersect): the union
  // sketch's k samples PARTITION into only-A / only-B / both by two
  // membership probes, and each class's cardinality estimate is its sample
  // share of the union estimate — so the three estimates CONSERVE
  // (only_a + only_b + both partitions k exactly; the estimates differ
  // from D̂_union only by per-class truncating division). Same exact-BIGINT
  // estimator discipline as the intersect key: 52-bit md5 hashes, θ from
  // the k-th smallest union sample, every step integer division — the
  // estimates themselves hash-match the oracle. Exact answers ride along
  // for the accuracy read. At scale: per side one distinct + one
  // TakeOrdered (k rows out); the diff itself runs on 3·k = 192 rows.
  def sketchKmvDiff(s: SparkSession, dir: String): DataFrame = {
    val orders = load(s, dir, "orders")
    def side(status: String): DataFrame = orders
      .filter(col("o_orderstatus") === status)
      .select(col("o_custkey").as("id")).distinct()
      .select(
        conv(substring(md5(concat(lit("kmv:"), col("id").cast("string"))),
          1, 13), 16, 10).cast("long").as("h"))
    def sketch(x: DataFrame): DataFrame =
      x.orderBy(col("h")).limit(KmvK)
    val skA = sketch(side("F")).withColumnRenamed("h", "ha")
    val skB = sketch(side("O")).withColumnRenamed("h", "hb")
    val union = sketch(skA.select(col("ha").as("h"))
      .unionAll(skB.select(col("hb").as("h"))).distinct())
    val theta = union.agg(max(col("h")).as("theta"))
    val classes = union
      .join(skA, col("h") === col("ha"), "left")
      .join(skB, col("h") === col("hb"), "left")
      .agg(
        sum(when(col("ha").isNotNull && col("hb").isNull, 1L).otherwise(0L))
          .as("n_only_a"),
        sum(when(col("ha").isNull && col("hb").isNotNull, 1L).otherwise(0L))
          .as("n_only_b"),
        sum(when(col("ha").isNotNull && col("hb").isNotNull, 1L).otherwise(0L))
          .as("n_both"))
    val exact = orders.filter(col("o_orderstatus").isin("F", "O"))
      .select(col("o_custkey"), col("o_orderstatus")).distinct()
      .groupBy(col("o_custkey"))
      .agg(max(when(col("o_orderstatus") === "F", 1L).otherwise(0L)).as("a"),
        max(when(col("o_orderstatus") === "O", 1L).otherwise(0L)).as("b"))
      .agg(
        sum(when(col("a") === 1L && col("b") === 0L, 1L).otherwise(0L))
          .as("exact_only_a"),
        sum(when(col("a") === 0L && col("b") === 1L, 1L).otherwise(0L))
          .as("exact_only_b"))
    theta.crossJoin(classes).crossJoin(exact)
      .select(lit(KmvK.toLong).as("k"),
        col("n_only_a"), col("n_only_b"), col("n_both"),
        expr(s"${KmvK - 1} * ${KmvScale}L div theta").as("d_union_est"),
        expr(s"(n_only_a * (${KmvK - 1} * ${KmvScale}L div theta)) div $KmvK")
          .as("d_only_a_est"),
        expr(s"(n_only_b * (${KmvK - 1} * ${KmvScale}L div theta)) div $KmvK")
          .as("d_only_b_est"),
        col("exact_only_a"), col("exact_only_b"))
  }

  private val sketchKmvDiffOracle = {
    val h = (c: String) => s"CAST(concat('0x', substr(md5(concat('kmv:', CAST($c AS VARCHAR))), 1, 13)) AS BIGINT)"
    s"""WITH a AS (
       |  SELECT ${h("id")} AS h FROM (
       |    SELECT DISTINCT o_custkey AS id FROM orders WHERE o_orderstatus = 'F')
       |  ORDER BY h LIMIT $KmvK),
       |b AS (
       |  SELECT ${h("id")} AS h FROM (
       |    SELECT DISTINCT o_custkey AS id FROM orders WHERE o_orderstatus = 'O')
       |  ORDER BY h LIMIT $KmvK),
       |u AS (
       |  SELECT h FROM (SELECT DISTINCT h FROM (
       |    SELECT h FROM a UNION ALL SELECT h FROM b) t) d
       |  ORDER BY h LIMIT $KmvK),
       |th AS (SELECT MAX(h) AS theta FROM u),
       |cl AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN ia AND NOT ib THEN 1 ELSE 0 END) AS BIGINT) AS n_only_a,
       |    CAST(SUM(CASE WHEN ib AND NOT ia THEN 1 ELSE 0 END) AS BIGINT) AS n_only_b,
       |    CAST(SUM(CASE WHEN ia AND ib THEN 1 ELSE 0 END) AS BIGINT) AS n_both
       |  FROM (SELECT h, h IN (SELECT h FROM a) AS ia,
       |               h IN (SELECT h FROM b) AS ib FROM u) t),
       |ex AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END) AS BIGINT) AS exact_only_a,
       |    CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END) AS BIGINT) AS exact_only_b
       |  FROM (SELECT o_custkey,
       |          MAX(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS a,
       |          MAX(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS b
       |        FROM orders WHERE o_orderstatus IN ('F', 'O')
       |        GROUP BY o_custkey) t)
       |SELECT CAST($KmvK AS BIGINT) AS k,
       |       cl.n_only_a, cl.n_only_b, cl.n_both,
       |       CAST(${KmvK - 1} * $KmvScale // theta AS BIGINT) AS d_union_est,
       |       CAST((cl.n_only_a * (${KmvK - 1} * $KmvScale // theta)) // $KmvK AS BIGINT)
       |         AS d_only_a_est,
       |       CAST((cl.n_only_b * (${KmvK - 1} * $KmvScale // theta)) // $KmvK AS BIGINT)
       |         AS d_only_b_est,
       |       ex.exact_only_a, ex.exact_only_b
       |FROM th, cl, ex""".stripMargin
  }

  // ---- pack_epoch_shuffle ---------------------------------------------------
  // Deterministic EPOCH-WISE shuffle schedule — data order is part of the
  // training recipe (a rerun must see the same batches, an epoch must be
  // a fresh permutation, and two engines must agree on both): within each
  // of 8 loader shards, epoch e orders documents by md5(e ':' doc_id), so
  // the permutation is a pure function of (epoch, doc_id) — reproducible
  // across engines, partitionings and reruns, different every epoch, and
  // requiring NO stored shuffle state. Shard count is the parallelism
  // knob (pack_sequences' convention: 8 here, thousands at 100 TB). The
  // key emits each (epoch, shard)'s first 3 schedule slots; the rank<=3
  // filter compiles to WindowGroupLimit (the sample_reservoir pattern),
  // so map tasks pre-truncate to 3 rows/group BEFORE the exchange — the
  // schedule head costs k·shards rows, never a fact-grain sort.
  def packEpochShuffle(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"))
    val w = Window.partitionBy(col("epoch"), col("shard"))
      .orderBy(col("coin"), col("doc_id")) // lint:series-grain (WindowGroupLimit pre-truncates to k rows/group)
    docs
      .select(col("doc_id"), explode(expr("sequence(0, 2)")).as("epoch"))
      .select(col("doc_id"), col("epoch"),
        (col("doc_id") % 8).as("shard"),
        md5(concat(col("epoch").cast("string"), lit(":"),
          col("doc_id").cast("string"))).as("coin"))
      .withColumn("slot", row_number().over(w))
      .filter(col("slot") <= 3)
      .select(col("epoch").cast("int").as("epoch"), col("shard"),
        col("slot"), col("doc_id"), col("coin"))
      .orderBy(col("epoch"), col("shard"), col("slot"))
  }

  private val packEpochShuffleOracle =
    """WITH e AS (
      |  SELECT doc_id, unnest(generate_series(0, 2)) AS epoch FROM documents),
      |c AS (
      |  SELECT doc_id, epoch, doc_id % 8 AS shard,
      |         md5(CAST(epoch AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS coin
      |  FROM e),
      |r AS (
      |  SELECT CAST(epoch AS INT) AS epoch, shard, doc_id, coin,
      |         ROW_NUMBER() OVER (PARTITION BY epoch, shard
      |                            ORDER BY coin, doc_id) AS slot
      |  FROM c)
      |SELECT epoch, shard, CAST(slot AS INT) AS slot, doc_id, coin
      |FROM r WHERE slot <= 3
      |ORDER BY epoch, shard, slot""".stripMargin

  // ---- embed_pca_power ------------------------------------------------------
  // Leading principal component by POWER ITERATION, exact integers end to
  // end — the data-dependent counterpart of embed_random_proj's oblivious
  // sketch (PCA is what you run when one learned axis should carry the
  // most variance: whitening before quantization, drift monitoring,
  // 1-D visual ordering). Covariance comes from raw moments so no
  // centering pass touches the data: C = n·M − S·Sᵀ (the n²-scaled
  // covariance; M = Σ x_{d1}x_{d2} is ONE map-side-combining agg over a
  // scan-local 64×64 outer-product explode — compute-heavy, shuffle-tiny:
  // only 4096 (d1,d2) cells ever cross the wire, exactly how a
  // 1000-executor covariance runs). Three power-iteration rounds run on
  // the 4096-row C relation (metadata-sized joins); between rounds the
  // vector renormalizes by L∞ via truncating div (v ← mv div (max|mv|
  // div 1e6)) so every intermediate stays inside DECIMAL(38)/HUGEINT and
  // both engines compute the identical integer vector — no sqrt, no
  // float, no convergence ambiguity. Output: every vector's exact integer
  // projection onto the learned axis (the broadcast apply pass).
  def embedPcaPower(s: SparkSession, dir: String): DataFrame = {
    val base = load(s, dir, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(floor(cast(x as double) * 1e6) as bigint))")
          .as("qv"))
    val dims = base.select(col("vec_id"), posexplode(col("qv")).as(Seq("d", "x")))
    val sums = dims.groupBy(col("d"))
      .agg(sum(col("x")).as("s_"), count(lit(1)).as("n"))
    // M is symmetric (x1·x2 = x2·x1 summed over the same vectors), so only
    // the upper triangle (d2 ≥ d1) is aggregated — the n×4096 exploded
    // stream and its DECIMAL(38) multiply+sum halve to n×2080 — and the
    // lower triangle is mirrored from the finished cells (r14, guide §2.3:
    // don't compute what you can transpose). Cell values are bit-identical
    // to the full aggregation, so C and everything downstream is unchanged.
    val upper = base
      .select(posexplode(col("qv")).as(Seq("d1", "x1")), col("qv"))
      .select(col("d1"), col("x1"), posexplode(col("qv")).as(Seq("d2", "x2")))
      .filter(col("d2") >= col("d1"))
      .groupBy(col("d1"), col("d2"))
      .agg(sum(expr("CAST(x1 AS DECIMAL(38,0)) * x2")).as("m"))
      // referenced twice below — materialize the 2080 cells once so the
      // mirror does not replay the exploded aggregation
      .localCheckpoint()
    val pairs = upper.unionAll(upper.filter(col("d2") =!= col("d1"))
      .select(col("d2").as("d1"), col("d1").as("d2"), col("m")))
    val c = pairs
      .join(broadcast(sums.select(col("d").as("d1"), col("s_").as("s1"),
        col("n"))), Seq("d1"))
      .join(broadcast(sums.select(col("d").as("d2"), col("s_").as("s2"))),
        Seq("d2"))
      .select(col("d1"), col("d2"),
        expr("n * m - CAST(s1 AS DECIMAL(38,0)) * s2").as("c0"))
      // loud at the SAME boundary the oracle's HUGEINT raises at: Spark's
      // non-ANSI DECIMAL(38,0) arithmetic returns NULL on overflow, and no
      // input of c0 is nullable — a NULL here IS the ~1e38 overflow, so
      // the engines must not diverge silently-wrong vs loud-error
      .select(col("d1"), col("d2"),
        when(col("c0").isNull, expr(
          "raise_error('embed_pca_power: DECIMAL(38,0) overflow in covariance')"))
          .otherwise(col("c0")).as("c"))
      .localCheckpoint() // read by all three rounds + nothing else
    var v = sums.select(col("d"), lit(1000000L).as("v"))
    (1 to 3).foreach { _ =>
      val mv = c.join(broadcast(v.select(col("d").as("d2"), col("v"))), Seq("d2"))
        .groupBy(col("d1"))
        .agg(sum(expr("c * v")).as("mv0"))
        // same overflow guard as c0: every (d1) group is non-empty and
        // c·v is non-null, so a NULL sum is a DECIMAL(38,0) overflow
        .select(col("d1"),
          when(col("mv0").isNull, expr(
            "raise_error('embed_pca_power: DECIMAL(38,0) overflow in power iteration')"))
            .otherwise(col("mv0")).as("mv"))
      val mx = mv.agg(max(abs(col("mv"))).as("mx"))
      // denom stays in the DECIMAL domain: `mx div 1e6` is an
      // IntegralDivide that returns LONG, and at n≈20k vectors the
      // quotient (~1e19) overflows it (measured at the sf1 rehearsal —
      // sf0.1's ~1e17 fit, masking the bug). (mx - mx % 1e6) / 1e6 is
      // the same floor, computed exactly (the subtraction makes the
      // division exact, so the scale-6 decimal quotient carries no
      // rounding), and only the FINAL per-component ratio — bounded by
      // 1e6 — ever lands in a LONG.
      v = mv.crossJoin(broadcast(mx))
        .select(col("d1").as("d"),
          expr("""mv div greatest(CAST(1 AS DECIMAL(38,0)),
                 |  CAST((mx - mx % 1000000) / 1000000 AS DECIMAL(38,0)))"""
            .stripMargin).as("v"))
    }
    dims.join(broadcast(v), Seq("d"))
      .groupBy(col("vec_id"))
      .agg(sum(col("x") * col("v")).as("proj"))
      .orderBy(col("vec_id"))
  }

  private val embedPcaPowerOracle = {
    def round(i: Int, prev: String): String =
      s"""r$i AS (
         |  SELECT c.d1 AS d, SUM(c.c * p.v) AS mv
         |  FROM c JOIN $prev p ON p.d = c.d2 GROUP BY 1),
         |x$i AS (SELECT MAX(ABS(mv)) AS mx FROM r$i),
         |v$i AS (
         |  SELECT d, mv // GREATEST(CAST(1 AS HUGEINT), (SELECT mx FROM x$i) // 1000000) AS v
         |  FROM r$i)""".stripMargin
    s"""WITH q AS (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
       |  FROM embeddings),
       |dims AS (
       |  SELECT vec_id, unnest(generate_series(0, len(qv) - 1)) AS d,
       |         unnest(qv) AS x
       |  FROM q),
       |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM q),
       |sums AS (SELECT d, CAST(SUM(x) AS HUGEINT) AS s FROM dims GROUP BY d),
       |e1 AS (
       |  SELECT vec_id, unnest(generate_series(0, len(qv) - 1)) AS d1,
       |         unnest(qv) AS x1, qv
       |  FROM q),
       |pr AS (
       |  SELECT d1, x1, unnest(generate_series(0, len(qv) - 1)) AS d2,
       |         unnest(qv) AS x2
       |  FROM e1),
       |m AS (SELECT d1, d2, SUM(CAST(x1 AS HUGEINT) * x2) AS m
       |      FROM pr GROUP BY 1, 2),
       |c AS (
       |  SELECT m.d1, m.d2, (SELECT n FROM nn) * m.m - s1.s * s2.s AS c
       |  FROM m JOIN sums s1 ON s1.d = m.d1 JOIN sums s2 ON s2.d = m.d2),
       |v0 AS (SELECT d, CAST(1000000 AS HUGEINT) AS v FROM sums),
       |${round(1, "v0")},
       |${round(2, "v1")},
       |${round(3, "v2")}
       |SELECT dims.vec_id, CAST(SUM(dims.x * v3.v) AS BIGINT) AS proj
       |FROM dims JOIN v3 ON v3.d = dims.d
       |GROUP BY dims.vec_id ORDER BY dims.vec_id""".stripMargin
  }

  // ---- sample_temperature -----------------------------------------------
  // Epoch-aware temperature RESAMPLING (alpha = 0.5) — the other half of
  // the multilingual rebalance that sample_stratified's downsampling
  // cannot express: the corpus-size budget B = Σn is redistributed as
  // quota_g ∝ isqrt(n_g), so LOW-resource languages get repeat factors
  // ABOVE 1 (upsampling — the mT5/XLM recipe repeats minority-language
  // documents across epochs) while high-resource ones shrink. All mixture
  // math is exact integers: isqrt is floor(sqrt) with a ±1 correction (so
  // a last-ulp sqrt rounding can never disagree between engines), quotas
  // are truncating div, and the FRACTIONAL epoch (quota mod n extra
  // copies) is hash-thresholded against the first 16 md5 bits of doc_id —
  // membership in the extra epoch is a pure function of the stable key,
  // reproducible across engines/partitionings/reruns. Emission is
  // explode(sequence(1, copies)) — scan-local row generation, no shuffle;
  // the per-lang report re-aggregates with a map-side-combining hash agg,
  // and the emitted MULTISET is pinned by the mergeable corpusFp over
  // (doc_id:copy_idx) so a dropped or doubled replica anywhere fails the
  // hash. 100 TB: quota math is |langs| rows; the corpus is read once.
  def sampleTemperature(s: SparkSession, dir: String): DataFrame = {
    val docs = load(s, dir, "documents").select(col("doc_id"), col("lang"))
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val weights = counts
      .withColumn("w0", floor(sqrt(col("n_docs").cast("double"))).cast("long"))
      .withColumn("w", expr(
        """CASE WHEN (w0 + 1) * (w0 + 1) <= n_docs THEN w0 + 1
          |     WHEN w0 * w0 > n_docs THEN w0 - 1 ELSE w0 END""".stripMargin))
    val tot = weights.agg(sum(col("w")).as("tw"), sum(col("n_docs")).as("b"))
    val quotas = weights.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_docs"), col("w"),
        expr("b * w div tw").as("quota"))
      .select(col("lang"), col("n_docs"), col("w"), col("quota"),
        expr("quota div n_docs").as("epochs"),
        expr("(quota % n_docs) * 65536 div n_docs").as("thr"))
    val emitted = docs
      .withColumn("bucket",
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long"))
      .join(broadcast(quotas.select(col("lang"), col("epochs"), col("thr"))),
        Seq("lang"))
      .withColumn("copies",
        col("epochs") + when(col("bucket") < col("thr"), 1L).otherwise(0L))
      .filter(col("copies") > 0)
      .select(col("lang"), col("doc_id"),
        explode(expr("sequence(1L, copies)")).as("copy_idx"))
    val report = emitted.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_emitted"),
        graft.functions.Scalars.corpusFp(
          concat(col("doc_id").cast("string"), lit(":"),
            col("copy_idx").cast("string")),
          col("lang")).as("fp"))
    quotas.join(broadcast(report), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("w"), col("quota"),
        col("epochs"), coalesce(col("n_emitted"), lit(0L)).as("n_emitted"),
        col("fp"))
      .orderBy(col("lang"))
  }

  private val sampleTemperatureOracle =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n_docs FROM documents GROUP BY lang),
       |wt AS (
       |  SELECT lang, n_docs,
       |         CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS w0
       |  FROM c),
       |w AS (
       |  SELECT lang, n_docs,
       |         CASE WHEN (w0 + 1) * (w0 + 1) <= n_docs THEN w0 + 1
       |              WHEN w0 * w0 > n_docs THEN w0 - 1 ELSE w0 END AS w
       |  FROM wt),
       |tot AS (SELECT CAST(SUM(w) AS BIGINT) AS tw,
       |               CAST(SUM(n_docs) AS BIGINT) AS b FROM w),
       |q AS (
       |  SELECT lang, n_docs, w,
       |         CAST((b * w) // tw AS BIGINT) AS quota FROM w, tot),
       |q2 AS (
       |  SELECT lang, n_docs, w, quota,
       |         CAST(quota // n_docs AS BIGINT) AS epochs,
       |         CAST(((quota % n_docs) * 65536) // n_docs AS BIGINT) AS thr
       |  FROM q),
       |e AS (
       |  SELECT d.lang, d.doc_id,
       |         unnest(generate_series(1, CAST(q2.epochs +
       |           CASE WHEN (${hex16("d.doc_id")}) < q2.thr THEN 1 ELSE 0 END
       |           AS BIGINT))) AS copy_idx
       |  FROM documents d JOIN q2 ON q2.lang = d.lang),
       |r AS (
       |  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_emitted,
       |         ${graft.functions.Scalars.corpusFpSql("concat(CAST(doc_id AS VARCHAR), ':', CAST(copy_idx AS VARCHAR))", "lang")} AS fp
       |  FROM e GROUP BY lang)
       |SELECT q2.lang, q2.n_docs, q2.w, q2.quota, q2.epochs,
       |       COALESCE(r.n_emitted, 0) AS n_emitted, r.fp
       |FROM q2 LEFT JOIN r ON r.lang = q2.lang
       |ORDER BY q2.lang""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "sample_temperature" -> (sampleTemperature _),
    "embed_pca_power" -> (embedPcaPower _),
    "pack_epoch_shuffle" -> (packEpochShuffle _),
    "sketch_kmv_intersect" -> (sketchKmvIntersect _),
    "sketch_kmv_diff" -> (sketchKmvDiff _),
    "curate_decontaminate" -> (curateDecontaminate _),
    "pack_length_buckets" -> (packLengthBuckets _),
    "pack_sequences" -> (packSequences _),
    "sample_stratified" -> (sampleStratified _),
    "sample_reservoir" -> (sampleReservoir _),
    "embed_quantize" -> (embedQuantize _),
    "embed_random_proj" -> (embedRandomProj _),
    "text_chunk" -> (textChunk _),
    "sketch_cms_topk" -> (sketchCmsTopk _),
    "sketch_hll_distinct" -> (sketchHllDistinct _),
    "sketch_quantile" -> (sketchQuantile _))

  val oracles: Map[String, String] = Map(
    "sample_temperature" -> sampleTemperatureOracle,
    "embed_pca_power" -> embedPcaPowerOracle,
    "pack_epoch_shuffle" -> packEpochShuffleOracle,
    "sketch_kmv_intersect" -> sketchKmvIntersectOracle,
    "sketch_kmv_diff" -> sketchKmvDiffOracle,
    "curate_decontaminate" -> curateDecontaminateOracle,
    "pack_length_buckets" -> packLengthBucketsOracle,
    "pack_sequences" -> packSequencesOracle,
    "sample_stratified" -> sampleStratifiedOracle,
    "sample_reservoir" -> sampleReservoirOracle,
    "embed_quantize" -> embedQuantizeOracle,
    "embed_random_proj" -> embedRandomProjOracle,
    "text_chunk" -> textChunkOracle,
    "sketch_cms_topk" -> sketchCmsTopkOracle,
    "sketch_hll_distinct" -> sketchHllDistinctOracle,
    "sketch_quantile" -> sketchQuantileOracle)
}
