package graft.llm

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.model.Tables.load

/** Deduplication operators for a training-data pipeline, over `documents`.
  *
  * All four operators are bucketed/blocked — NEVER all-pairs: exact dedup
  * shuffles a 32-byte fingerprint, MinHash-LSH joins only within signature
  * bands, n-gram Jaccard joins through a frequency-capped inverted index,
  * SimHash buckets by its 16-bit signature. At 100 TB each shuffle key is a
  * short hash, candidate sets stay proportional to true-duplicate density,
  * and every stage is plain hash-partition + hash-join — no driver state.
  *
  * Portability contract with the DuckDB oracle: every hash is md5 (identical
  * in both engines), every threshold compare is integer arithmetic
  * (`2*inter >= uni` instead of `inter/uni >= 0.5`), and reported ratios are
  * rounded in the decimal domain.
  */
object Dedup {

  type Q = (SparkSession, String) => DataFrame

  // ---- shared text → tokens → 3-gram shingles (same regexes in oracle) -----
  private val toksE = "filter(split(lower(text), '[^a-z0-9]+'), t -> t <> '')"

  /** Shingling via the native `graft_shingle3` expression — set-identical to
    * the declarative
    * `array_distinct(transform(sequence(0, size(toks)-3),
    *   i -> concat_ws(' ', slice(toks, i+1, 3))))` over `toksE`-tokens
    * (parity-asserted in HashExpressionsSpec), but codegen'd: the
    * interpreted nested-lambda form was 5.7s of every dedup key at sf0.1.
    * `graft_shingle3` returns [] below 3 tokens, so the size filter keeps
    * exactly the old `len(toks) >= 3` rows. */
  private[llm] def shingledFrom(s: SparkSession, docs: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    docs
      .select(col("doc_id"), expr("graft_shingle3(text)").as("shingles"))
      .filter(size(col("shingles")) > 0)
  }

  private[llm] def shingled(s: SparkSession, dir: String): DataFrame =
    shingledFrom(s, load(s, dir, "documents"))

  /** The shingle CTE over an arbitrary source table — `table` is swapped to
    * a derived (e.g. skew-stress) corpus CTE by DedupStress. */
  private[llm] def shingledSqlFrom(table: String): String =
    s"""docs AS (
       |  SELECT doc_id,
       |         list_distinct(list_transform(generate_series(0, len(toks)-3),
       |           i -> array_to_string(list_slice(toks, i+1, i+3), ' '))) AS shingles
       |  FROM (SELECT doc_id,
       |               list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '') AS toks
       |        FROM $table) t
       |  WHERE len(toks) >= 3)""".stripMargin

  private val shingledSql = shingledSqlFrom("documents")

  // ---- dedup_exact: hash-groupBy keep-first ---------------------------------
  // Shuffle key is md5(text), not the text itself: at 100 TB the exchange
  // carries 32 bytes + id per row. Keeper = min doc_id (deterministic).
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    load(s, dir, "documents")
      .select(md5(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy(col("keep_id"))

  private val dedupExactOracle =
    """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  // ---- dedup_source_overlap ---------------------------------------------
  // Cross-source duplication PROVENANCE — after near-dup detection finds
  // the pairs, the curation question becomes "WHICH sources copy from
  // each other" (mirror detection, license-laundering screens,
  // crawl-overlap budgeting): per unordered source pair, how many
  // verified near-duplicate doc pairs span it and how many distinct
  // documents are implicated. Rides the PROVEN dedup_minhash_lsh
  // pipeline verbatim (banded LSH candidates + exact-Jaccard verify at
  // the 0.5 threshold), so pair volume is bounded by true-duplicate
  // density — the report adds only two broadcast-sized id→source lookups
  // and a |source-pairs|-row aggregate on top. The distinct-doc count
  // uses the mergeable exact bitmap trick in miniature: collect each
  // side's ids once per group via a size-bounded set union.
  def dedupSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val src = load(s, dir, "documents").select(col("doc_id"), col("source"))
    val pairs = dedupMinhashLsh(s, dir)
      .select(col("id_a"), col("id_b"))
    pairs
      .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")),
        Seq("id_a"))
      .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        least(col("sa"), col("sb")).as("src_a"),
        greatest(col("sa"), col("sb")).as("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("n_pairs"),
        size(array_union(collect_set(col("id_a")), collect_set(col("id_b"))))
          .cast("long").as("n_docs"))
      .orderBy(col("src_a"), col("src_b"))
  }

  private val dedupSourceOverlapOracle =
    s"""WITH ${lshCtesFrom("documents")},
       |pp AS (
       |  SELECT v.id_a, v.id_b,
       |         LEAST(da.source, db.source) AS src_a,
       |         GREATEST(da.source, db.source) AS src_b
       |  FROM verified v
       |  JOIN documents da ON da.doc_id = v.id_a
       |  JOIN documents db ON db.doc_id = v.id_b
       |  WHERE v.inter * 2 >= v.uni)
       |SELECT src_a, src_b, COUNT(*) AS n_pairs,
       |       CAST(len(list_distinct(flatten([list(id_a), list(id_b)]))) AS BIGINT) AS n_docs
       |FROM pp GROUP BY 1, 2 ORDER BY src_a, src_b""".stripMargin

  // ---- dedup_minhash_lsh ----------------------------------------------------
  // 16 md5-minhashes → 4 bands × 4 rows → join within band buckets →
  // exact-Jaccard verify of candidates only. Deterministic: candidates are a
  // pure function of the data, so the oracle replays the identical algorithm.
  def dedupMinhashLsh(s: SparkSession, dir: String): DataFrame =
    minhashPairsFrom(verifiedArtifact(s, dir))

  private[llm] def dedupMinhashLshOver(s: SparkSession, docsIn: DataFrame): DataFrame =
    minhashPairsFrom(lshVerified(s, docsIn))

  /** Threshold + report projection over a verified-pair relation. */
  private def minhashPairsFrom(verified: DataFrame): DataFrame =
    verified
      .filter(col("inter") * 2 >= col("uni"))  // J >= 0.5, integer-exact
      .select(col("id_a"), col("id_b"),
        round((col("inter").cast("double") / col("uni"))
          .cast("decimal(28,8)"), 4).cast("double").as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))

  // ---- dedup_threshold_sweep --------------------------------------------------
  // The threshold TUNING relation every dedup deployment builds before
  // picking its θ: pair volume and implicated-document volume at J ≥ 0.5,
  // 0.6, 0.7, 0.8, 0.9, all cut from ONE banded-LSH candidate pass + ONE
  // exact verify (the proven dedup_minhash_lsh chain, unfiltered) — the
  // sweep adds a 5-way threshold explode over the verified pairs and two
  // tiny aggregates, never a second corpus scan or candidate join. The
  // measurement universe is the banded candidate set (the 4x4 banding's
  // recall contract — the same universe the pair key reports), which is
  // exactly what a deployment tunes against: θ moves WITHIN the
  // candidates the index can see. Threshold compares are integer
  // (inter·10 ≥ t·uni), counts are exact, and every θ row survives even
  // when empty (the curve's tail is data, not absence).
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val marked = verifiedArtifact(s, dir)
      .withColumn("t10", explode(expr("sequence(5, 9)")))
      .filter(col("inter") * 10 >= col("t10") * col("uni"))
      .localCheckpoint() // read by both rollups; pair-grain, spillable
    val pairs = marked.groupBy(col("t10")).agg(count(lit(1)).as("n_pairs"))
    val docs = marked
      .select(col("t10"), explode(array(col("id_a"), col("id_b"))).as("d"))
      .distinct()
      .groupBy(col("t10")).agg(count(lit(1)).as("n_docs"))
    Seq(5, 6, 7, 8, 9).toDF("t10")
      .join(pairs, Seq("t10"), "left")
      .join(docs, Seq("t10"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs"))
      .select((col("t10") * 10).cast("int").as("threshold_pct"),
        col("n_pairs"), col("n_docs"))
      .orderBy(col("threshold_pct"))
  }

  private val dedupThresholdSweepOracle =
    s"""WITH ${lshCtesFrom("documents")},
       |tt(t10) AS (VALUES (5),(6),(7),(8),(9)),
       |marked AS (
       |  SELECT tt.t10, id_a, id_b FROM verified, tt
       |  WHERE inter * 10 >= tt.t10 * uni),
       |p AS (SELECT t10, CAST(COUNT(*) AS BIGINT) AS n_pairs FROM marked GROUP BY 1),
       |d AS (
       |  SELECT t10, CAST(COUNT(DISTINCT dd) AS BIGINT) AS n_docs
       |  FROM (SELECT t10, unnest([id_a, id_b]) AS dd FROM marked) GROUP BY 1)
       |SELECT CAST(tt.t10 * 10 AS INT) AS threshold_pct,
       |       COALESCE(p.n_pairs, 0) AS n_pairs,
       |       COALESCE(d.n_docs, 0) AS n_docs
       |FROM tt LEFT JOIN p ON p.t10 = tt.t10 LEFT JOIN d ON d.t10 = tt.t10
       |ORDER BY threshold_pct""".stripMargin

  /** The verified-pair relation over the PLAIN documents table as a
    * derived artifact (r15, the orientedArtifact precedent and the r14
    * verdict's prescription for the export pipeline): built once per
    * (source dir, documents fingerprint) under `Staging.timed` — metered
    * into the bench's `artifact_staging_sec` split — written to temp
    * parquet, served from disk after that. A deployment lands near-dup
    * pairs in the pipeline that lands the corpus snapshot, not once per
    * downstream query: four declared keys (the pair report, the
    * threshold sweep, the source-overlap report, the keep/drop battery —
    * and through it the pretrain export) consumed the identical
    * (id_a, id_b, inter, uni) relation and each re-ran the full
    * shingle → minhash → band-join → verify chain per invocation. The
    * artifact is a pure function of the corpus (keyed by a name/mtime/size
    * fingerprint, rebuilt every cold JVM), so every consumer still computes
    * from the parquet inputs. Derived/stress corpora (the `…Over`
    * entry points) keep the per-invocation chain. */
  private val lshCache =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private[llm] def verifiedArtifact(s: SparkSession, dir: String): DataFrame = {
    // relative name + mtime + size fingerprint, not bare mtime (the r10
    // graph-cache lesson)
    val fp = graft.sink.Sinks.metadataFingerprint(s"$dir/documents.parquet")
    val root = lshCache.computeIfAbsent(s"$dir@$fp", { _ => graft.Staging.timed {
      val tmp = java.nio.file.Files
        .createTempDirectory("graft_lsh_").toString
      sys.addShutdownHook(graft.sink.Sinks.deleteDir(tmp))
      lshVerified(s, load(s, dir, "documents")).write.parquet(s"$tmp/verified")
      tmp
    }})
    s.read.parquet(s"$root/verified")
  }

  /** The banded candidate generation + exact verify, UNFILTERED — the
    * (id_a, id_b, inter, uni) relation the pair key thresholds at J ≥ 0.5
    * and the threshold sweep cuts at every θ. */
  private def lshVerified(s: SparkSession, docsIn: DataFrame): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    // shingle-set lifecycle (r2 verdict): no session-retained .cache() —
    // that entry outlived every action and at 100 TB pins the full shingle
    // set in executor memory for the whole session. `localCheckpoint`
    // (MEMORY_AND_DISK, spillable) materializes it ONCE per invocation and
    // its blocks are released by the ContextCleaner as soon as the returned
    // plan is garbage-collected — state lives exactly as long as the result
    // that references it, not as long as the session. The alternative
    // (recompute per consumer, measured r3) was 5.8x slower: the three
    // consumers each re-ran tokenize+shingle over the corpus.
    // Fault-tolerance tradeoff: localCheckpoint truncates lineage and its
    // blocks are UNREPLICATED executor-local state — on a real cluster an
    // executor loss mid-job makes the shingle set unrecoverable and FAILS
    // the job (cache/persist could recompute; persist(MEMORY_AND_DISK_2)
    // or reliable checkpoint survive). That is the right trade for a
    // re-runnable batch dedup pass; a pipeline that must survive executor
    // churn swaps this one call for persist-with-replication.
    val docs = shingledFrom(s, docsIn).localCheckpoint()
    // native codegen twin of: transform(sequence(0,15), s ->
    //   array_min(transform(shingles, sh -> md5(concat(s, ':', sh)))))
    val sigs = docs.withColumn("sig", expr("graft_minhash16(shingles)"))
    val bands = sigs.select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0,3), b -> md5(concat_ws('', slice(sig, b*4+1, 4))))"))
          .as(Seq("bi", "bh")))
    val cand = bands.as("a")
      .join(bands.as("b"),
        col("a.bi") === col("b.bi") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    verifiedFrom(cand, docs)
  }

  /** Exact (intersection, union) shingle overlap for a candidate pair set —
    * the verify stage shared by the pair key and the threshold sweep. */
  private def verifiedFrom(cand: DataFrame, docs: DataFrame): DataFrame =
    cand
      .join(docs.as("sa"), col("id_a") === col("sa.doc_id"))
      .join(docs.as("sb"), col("id_b") === col("sb.doc_id"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sa.shingles"), col("sb.shingles"))).as("inter"),
        (size(col("sa.shingles")) + size(col("sb.shingles"))).as("sz"))
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("sz") - col("inter")).as("uni"))

  /** The full LSH candidate+verify chain as CTEs — shared by the pair key,
    * the connected-components clustering key, and the skew-stress keys
    * (which swap `table` for a derived corpus CTE). */
  private[llm] def lshCtesFrom(table: String): String =
    s"""${shingledSqlFrom(table)},
       |sigs AS (
       |  SELECT doc_id, shingles,
       |         list_transform(generate_series(0,15),
       |           s -> list_min(list_transform(shingles, sh -> md5(CAST(s AS VARCHAR) || ':' || sh)))) AS sig
       |  FROM docs WHERE len(shingles) > 0),
       |bands AS (
       |  SELECT doc_id, bi, md5(array_to_string(list_slice(sig, bi*4+1, bi*4+4), '')) AS bh
       |  FROM sigs, (VALUES (0),(1),(2),(3)) t(bi)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT id_a, id_b,
       |         len(list_intersect(sa.shingles, sb.shingles)) AS inter,
       |         len(sa.shingles) + len(sb.shingles) - len(list_intersect(sa.shingles, sb.shingles)) AS uni
       |  FROM cand
       |  JOIN docs sa ON sa.doc_id = id_a
       |  JOIN docs sb ON sb.doc_id = id_b)""".stripMargin

  private val lshCtes = lshCtesFrom("documents")

  private val dedupMinhashLshOracle =
    s"""WITH $lshCtes
       |SELECT id_a, id_b,
       |       CAST(ROUND(CAST(CAST(inter AS DOUBLE) / uni AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard
       |FROM verified WHERE inter * 2 >= uni
       |ORDER BY id_a, id_b""".stripMargin

  // ---- dedup_ngram_jaccard --------------------------------------------------
  // Exact Jaccard through an inverted index: explode shingles, drop hot
  // shingles (they generate quadratic candidates and carry no signal),
  // self-join on shingle, then integer-threshold J >= 0.6 over the
  // retained-shingle space.
  //
  // The hot-shingle cut is CORPUS-RELATIVE: df <= greatest(20, n_docs div 25)
  // (integer arithmetic in both engines, so the bound is deterministic). An
  // absolute cap makes recall drift with corpus size — at 500 docs, df = 20
  // is a 4% commonality cut, but at 1B docs the same 20 drops every shingle
  // shared by more than 0.000002% of the corpus, discarding legitimate
  // near-dup evidence. Tying the cut to n_docs/25 keeps "too common to be
  // signal" meaning the same 4% at every scale; the floor of 20 preserves
  // behavior on tiny corpora. Worst-case candidates per retained shingle are
  // cap^2/2 pairs, so at extreme scale the cut composes with banding (LSH)
  // rather than replacing it — this operator is the exact-index path.
  def dedupNgramJaccard(s: SparkSession, dir: String): DataFrame =
    dedupNgramJaccardOver(s, load(s, dir, "documents"))

  private[llm] def dedupNgramJaccardOver(s: SparkSession, docsIn: DataFrame): DataFrame = {
    // same per-invocation localCheckpoint lifecycle as dedupMinhashLsh
    val docs = shingledFrom(s, docsIn).localCheckpoint()
    val sh = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
    // one-row corpus count, broadcast into the df filter — no driver collect
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= expr("greatest(CAST(20 AS BIGINT), n_docs div 25)"))
      .select(col("sh"))
    // consumed three times (sizes + both self-join sides) — same
    // per-invocation localCheckpoint lifecycle as the shingle set
    val inv = sh.join(rare, "sh").select(col("doc_id"), col("sh"))
      .localCheckpoint()
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = inv.as("a").join(inv.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("na"), col("id_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.doc_id"))
      .select(col("id_a"), col("id_b"), col("common"),
        (col("na.n") + col("nb.n") - col("common")).as("uni"))
      .filter(col("common") * 5 >= col("uni") * 3)  // J >= 0.6, integer-exact
      .select(col("id_a"), col("id_b"),
        round((col("common").cast("double") / col("uni"))
          .cast("decimal(28,8)"), 4).cast("double").as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The full inverted-index Jaccard oracle over an arbitrary docs-CTE
    * chain (DedupStress prepends a derived-corpus CTE). */
  private[llm] def ngramJaccardOracleFrom(docsCtes: String): String =
    s"""WITH $docsCtes,
       |inv0 AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
       |rare AS (SELECT sh FROM inv0 GROUP BY sh
       |         HAVING COUNT(*) <= GREATEST(20, (SELECT COUNT(*) FROM docs) // 25)),
       |inv AS (SELECT doc_id, inv0.sh FROM inv0 JOIN rare ON inv0.sh = rare.sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
       |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT id_a, id_b,
       |       CAST(ROUND(CAST(CAST(common AS DOUBLE) / (na.n + nb.n - common) AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard
       |FROM common
       |JOIN sizes na ON na.doc_id = id_a
       |JOIN sizes nb ON nb.doc_id = id_b
       |WHERE common * 5 >= (na.n + nb.n - common) * 3
       |ORDER BY id_a, id_b""".stripMargin

  private val dedupNgramJaccardOracle = ngramJaccardOracleFrom(shingledSql)

  // ---- dedup_simhash --------------------------------------------------------
  // 16-bit SimHash from md5 hex digits of distinct tokens: bit i is the sign
  // of the vote sum over tokens (+1 when the i-th hex digit >= 8). Docs
  // sharing the signature land in one bucket — the dedup-candidate grouping.
  def dedupSimhash(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    // native codegen twin of the declarative per-bit md5-hex-digit vote
    // (graft.expressions.SimHash16); output is bit-identical
    load(s, dir, "documents")
      .select(col("doc_id"),
        expr(s"array_distinct($toksE)").as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"), expr("graft_simhash16(toks)").as("simhash"))
      .orderBy(col("doc_id"))
  }

  private val dedupSimhashOracle =
    """WITH toks AS (
      |  SELECT doc_id,
      |         list_distinct(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), t -> t <> '')) AS toks
      |  FROM documents),
      |hashed AS (
      |  SELECT doc_id, list_transform(toks, t -> md5(t)) AS hashes
      |  FROM toks WHERE len(toks) > 0)
      |SELECT doc_id,
      |       CAST(list_sum(list_transform(generate_series(0,15), i ->
      |         CASE WHEN list_sum(list_transform(hashes, h ->
      |           CASE WHEN instr('0123456789abcdef', substring(h, i+1, 1)) - 1 >= 8
      |                THEN 1 ELSE -1 END)) > 0
      |         THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS BIGINT) AS simhash
      |FROM hashed
      |ORDER BY doc_id""".stripMargin

  // ---- dedup_embedding_cosine -----------------------------------------------
  // Near-dup by embedding similarity, blocked on the label column COMPOSED
  // with a corpus-scaled sign-LSH sub-bucket. A metadata label alone is a
  // FIXED-cardinality block: within-block candidates are n²/|labels|, so
  // the operator goes quadratic however many machines you give it (the r13
  // sf2 sweep measured 61x wall at 20x data). The sub-bucket's bit count
  // grows with log(n) — bits = clamp(⌈log2(n/2000)⌉, 0, 8), the
  // adaptiveBucketed device from sim_knn_join — which holds EXPECTED BLOCK
  // SIZE constant as the corpus grows: candidates stay ∝ near-dup density
  // (near-identical vectors agree on sign bits with high probability — the
  // standard sign-LSH recall argument; more recall at scale = more tables,
  // the sim_lsh_multitable knob), never ∝ n². At fixture scales (n ≤ 2000)
  // bits = 0 and the blocking degenerates to the plain label block. The
  // corpus count rides the plan as a broadcast 1-row anchor, and the
  // oracle derives the same bits from the same COUNT(*), so both engines
  // block identically by construction. Cosine is computed on
  // integer-quantized vectors (floor(x*1e6) as BIGINT): the dot product is
  // exact integer arithmetic, order-independent and identical in both
  // engines; only the final normalize runs in (identical) doubles.
  def dedupEmbeddingCosine(s: SparkSession, dir: String): DataFrame = {
    graft.expressions.GraftFunctions.register(s)
    // graft_dotq = native exact quantized dot product (see HashExpressions);
    // bit-identical to the declarative zip_with/aggregate the oracle replays
    val emb = load(s, dir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding"))
    val nRow = emb.agg(count(lit(1)).as("n"))
    val q = emb
      .withColumn("nrm", expr("graft_dotq(embedding, embedding)"))
      .crossJoin(broadcast(nRow))
      .withColumn("bits",
        expr("greatest(0, least(8, cast(ceil(log2(n / 2000.0d)) as int)))"))
      .withColumn("sb", expr(
        """case when bits = 0 then 0 else
          |cast(aggregate(sequence(0, bits - 1), 0, (acc, i) ->
          |  acc + (case when element_at(embedding, 1 + 8 * i) > 0
          |         then shiftleft(1, i) else 0 end)) as int) end""".stripMargin))
      .drop("n", "bits")
    q.as("a").join(q.as("b"),
        col("a.label") === col("b.label") && col("a.sb") === col("b.sb") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
        expr("graft_dotq(a.embedding, b.embedding)").as("dot"),
        col("a.nrm").as("na"), col("b.nrm").as("nb"))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .filter(col("cos") >= 0.35)
      .select(col("id_a"), col("id_b"),
        round(col("cos").cast("decimal(28,8)"), 4).cast("double").as("cosine"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val dedupEmbeddingCosineOracle =
    """WITH nbits AS (
      |  SELECT GREATEST(0, LEAST(8, CAST(CEIL(LOG2(COUNT(*) / 2000.0)) AS INT))) AS bits
      |  FROM embeddings),
      |q AS (
      |  SELECT vec_id, label, embedding,
      |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
      |  FROM embeddings),
      |n AS (
      |  SELECT vec_id, label, qv,
      |         list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS nrm,
      |         CASE WHEN bits = 0 THEN 0 ELSE
      |           CAST(list_sum(list_transform(generate_series(0, bits - 1),
      |             i -> CASE WHEN embedding[1 + 8 * i] > 0 THEN (1 << i) ELSE 0 END)) AS INT)
      |         END AS sb
      |  FROM q, nbits),
      |pairs AS (
      |  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |         list_sum(list_transform(generate_series(1, len(a.qv)), i -> a.qv[i] * b.qv[i])) AS dot,
      |         a.nrm AS na, b.nrm AS nb
      |  FROM n a JOIN n b ON a.label = b.label AND a.sb = b.sb AND a.vec_id < b.vec_id)
      |SELECT id_a, id_b,
      |       CAST(ROUND(CAST(CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) AS DECIMAL(28,8)), 4) AS DOUBLE) AS cosine
      |FROM pairs
      |WHERE CAST(dot AS DOUBLE) / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE))) >= 0.35
      |ORDER BY id_a, id_b""".stripMargin

  // ---- dedup_clusters -------------------------------------------------------
  // Duplicate-CLUSTER assignment: connected components over the verified
  // LSH near-dup pairs, every document labeled with the min doc_id of its
  // component (singletons label themselves), keeper = the component
  // minimum. This is the step a real pipeline runs after pair generation —
  // pairs alone over-delete when dups chain (a~b, b~c: keeping "one of
  // each pair" drops b twice and may drop all three).
  //
  // Implementation: iterative min-label propagation — label(v) ←
  // min(label(v), min over neighbors' labels) until fixpoint. Each
  // superstep is one equi-join + hash-agg (the standard large-scale CC
  // topology; iterations = component diameter, tiny for dup clusters). The
  // per-step convergence count is a driver-side SCALAR — the same control
  // flow any Pregel-style loop runs. State is `localCheckpoint`ed per step
  // so lineage stays O(1) instead of O(iterations); the pair list is
  // checkpointed once so the LSH chain never re-executes inside the loop.
  // The oracle replays the SAME fixpoint with a recursive CTE
  // (reachability → MIN over the reachable set), so the two engines agree
  // via entirely different execution strategies.
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    dedupClustersOver(s, load(s, dir, "documents"))

  private[llm] def dedupClustersOver(s: SparkSession, docsIn: DataFrame): DataFrame = {
    val (repMap, sym) = clusterPrelude(s, docsIn)
    // |labels| ≤ |sym| (every active vertex has an incident edge), and sym
    // is checkpointed — one cheap count gates the reattach broadcast (r15)
    reattachMembers(repMap, minLabelCc(sym), sym.count())
  }

  /** Exact-dup pre-collapse + verified-pair edge build shared by both CC
    * algorithms (min-label propagation and large-star/small-star). Returns
    * (repMap: doc_id→rep, sym: symmetric directed pair edges). */
  private[llm] def clusterPrelude(s: SparkSession, docsIn: DataFrame): (DataFrame, DataFrame) = {
    // EXACT-DUP PRE-COLLAPSE (r6): identical texts have identical shingle
    // sets, hence identical minhash bands — every same-text pair is a
    // certain LSH candidate with J = 1. Collapsing each exact group to its
    // min-doc_id representative BEFORE banding shrinks the LSH + CC input
    // from |docs| to |distinct texts| while leaving the OUTPUT invariant:
    // cluster ids are component minima, each representative IS its group's
    // minimum, any LSH edge via a collapsed member exists identically via
    // its representative (same text ⇒ same bands ⇒ same verified pairs),
    // and members reattach through the rep mapping below. On the skew
    // fixture the 500-doc family (7 text variants) enters CC as 7 reps —
    // the verified pair list drops from ~115k to the cross-variant pairs.
    // One md5-keyed window (32-byte shuffle key) buys a quadratic
    // reduction in candidate mass wherever exact dups are dense.
    //
    // SHINGLE-BEARING DOCS ONLY (r7): the invariance argument above holds
    // only for docs that actually reach LSH. A doc with < 3 tokens (or
    // NULL text) produces no shingles, never enters banding, and is its
    // own singleton component in the oracle — collapsing such a group
    // would relabel its members cluster_id=rep / keep=false where the
    // oracle says keep=true, and md5(NULL) would weld every null-text doc
    // into one phantom group. So the collapse window runs over
    // shingle-bearing docs only (the same ≥3-token predicate as
    // shingledFrom); shingle-free docs map to themselves. This also keeps
    // the window partition key skew-safe: the all-NULL fingerprint
    // partition never forms.
    import org.apache.spark.sql.expressions.Window
    graft.expressions.GraftFunctions.register(s)
    val flagged = docsIn.select(col("doc_id"), md5(col("text")).as("fp"),
      coalesce(size(expr("graft_shingle3(text)")) > 0, lit(false)).as("has_sh"))
    val repMap = flagged.filter(col("has_sh"))
      .select(col("doc_id"),
        min(col("doc_id")).over(Window.partitionBy(col("fp"))).as("rep"))
      .union(flagged.filter(!col("has_sh"))
        .select(col("doc_id"), col("doc_id").as("rep")))
      .localCheckpoint()
    val reps = docsIn.join(
      repMap.filter(col("doc_id") === col("rep")).select(col("doc_id")),
      Seq("doc_id"))
    // checkpoint BEFORE the symmetric union: both branches (and every
    // superstep join) read the materialized pair list, so the LSH
    // band-join + verify chain runs exactly once per invocation
    val pairs = dedupMinhashLshOver(s, reps).select(col("id_a"), col("id_b"))
      .localCheckpoint()
    val sym = pairs.toDF("src", "dst")
      .union(pairs.select(col("id_b"), col("id_a")).toDF("src", "dst"))
      .localCheckpoint()
    (repMap, sym)
  }

  /** Broadcast gate for the CC loops' vertex-grain state frames (r15 —
    * the GraphOps.gatedBroadcast device): the loops' state is
    * localCheckpointed each round and carries no size statistics, so
    * without the hint every per-round join ran SortMergeJoin with BOTH
    * sides shuffled — including the edge relation. The counts that feed
    * the gate are free: min-label's active-vertex set is loop-invariant
    * (counted once), large/small-star already counts its edge set every
    * round for convergence. Past the limit the shuffled plan is kept —
    * the right shape for a dup-graph whose active vertices are a large
    * fraction of a huge corpus. */
  private val CcBroadcastLimit = 2L * 1000 * 1000
  private def gatedBc(df: DataFrame, knownCount: Long): DataFrame =
    if (knownCount <= CcBroadcastLimit) broadcast(df) else df

  /** Min-label propagation to the component-min fixpoint over a symmetric
    * edge set; returns (doc_id, cluster_id) for every active vertex. */
  private[llm] def minLabelCc(sym: DataFrame): DataFrame = {
    // ACTIVE-VERTEX set (r4): only vertices incident to a pair can ever
    // change label — everyone else is its own singleton cluster. Iterating
    // over that set instead of the whole corpus shrinks every superstep
    // from |corpus| to |dup vertices| (orders of magnitude at 100 TB,
    // where dup density is a few percent), and the corpus is touched
    // exactly once, by the final left join. Each superstep also carries
    // the previous label alongside the new one, so the convergence check
    // reads the checkpointed superstep output directly instead of
    // re-joining against the previous labels (one join per superstep, not
    // two).
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .localCheckpoint()
    // the active-vertex count is LOOP-INVARIANT (labels keeps the same
    // doc_ids every superstep) — one count of the checkpointed frame
    // gates every round's broadcasts (r15; guide §3.1)
    val nActive = labels.count()
    var converged = false
    var iter = 0
    while (!converged && iter < 64) {
      iter += 1
      // label table broadcasts below the gate → the edge relation is
      // never exchanged; nbr_min (≤ |active| rows) broadcasts into the
      // left join, so the superstep's only shuffle is the vertex-grain
      // hash-agg
      val nbrMin = sym.join(gatedBc(labels, nActive), col("dst") === col("doc_id"))
        .groupBy(col("src")).agg(min(col("cluster_id")).as("nbr_min"))
      val stepOut = labels.join(gatedBc(nbrMin, nActive),
          labels("doc_id") === nbrMin("src"), "left")
        .select(labels("doc_id"), labels("cluster_id").as("old_cluster"),
          least(labels("cluster_id"),
            coalesce(col("nbr_min"), labels("cluster_id"))).as("cluster_id"))
      graft.operators.GraphOps.maybeDumpRoundPlan("dedup_cc_minlabel", iter, stepOut)
      val next = stepOut.localCheckpoint()
      val delta = next.filter(col("cluster_id") < col("old_cluster")).count()
      labels = next.select(col("doc_id"), col("cluster_id"))
      converged = delta == 0
    }
    require(converged, s"label propagation did not converge in $iter supersteps")
    labels
  }

  /** Reattach collapsed members: every doc takes its representative's
    * component label; a rep not in `labels` is a singleton component
    * (its exact group, possibly of size 1) labeled by the rep itself.
    * The label table is active-vertex-grain (dup density × corpus) while
    * repMap is corpus-grain — below the gate the labels broadcast and the
    * corpus side is never exchanged for the join (r15; guide §3.1). */
  private def reattachMembers(repMap: DataFrame, labels: DataFrame,
      labelBound: Long): DataFrame =
    repMap
      .join(gatedBc(labels.withColumnRenamed("doc_id", "rep_id"), labelBound),
        col("rep") === col("rep_id"), "left")
      .select(col("doc_id"),
        coalesce(col("cluster_id"), col("rep")).as("cluster_id"))
      .select(col("doc_id"), col("cluster_id"),
        (col("doc_id") === col("cluster_id")).as("keep"))
      .orderBy(col("doc_id"))

  // ---- dedup_cc_twophase ----------------------------------------------------
  // The SAME component relation as dedup_clusters, computed by the
  // alternating large-star / small-star algorithm (Kiveris et al., "
  // Connected Components in MapReduce and Beyond", SoCC 2014) instead of
  // min-label propagation. Why a second algorithm for one answer: label
  // propagation runs one superstep per unit of component DIAMETER — fine
  // for squat dup clusters, quadratic pain on chain-shaped components
  // (each superstep is a full edge join, and a 10k-long chain needs 10k of
  // them). Large-star/small-star contracts components in O(log n) rounds
  // regardless of diameter by rewiring edges toward local minima:
  //   large-star(u): every neighbor v > u re-attaches to m = min(Γ⁺(u))
  //   small-star(u): every smaller neighbor (and u) re-attaches to its m
  // The edge set monotonically collapses to a star forest rooted at each
  // component's minimum — exactly the cluster_id contract — so the two
  // keys share the reattach tail AND the oracle (one recursive-CTE
  // relation, two engine algorithms; the stream_cdf_read precedent).
  // Both phases are one hash-agg + one equi-join over the live edge set;
  // convergence is exact set-stability, probed cheaply (r10 VERDICT): the
  // edge sets are DISTINCT, so |next| == |e| plus next ⊆ e implies
  // equality — one count per round (a scan of the freshly checkpointed
  // blocks) gates the single exceptAll probe, which runs only once the
  // count stops moving, instead of two round-sized probes every round.
  // A one-parent-per-child functional check still guards the read-off.
  def dedupCcTwophase(s: SparkSession, dir: String): DataFrame = {
    val (repMap, sym) = clusterPrelude(s, load(s, dir, "documents"))
    reattachMembers(repMap, twophaseCc(sym), sym.count())
  }

  private[llm] def twophaseCc(sym0: DataFrame): DataFrame = {
    // canonical undirected form: (u, v) with u > v, no self-loops
    var e = sym0.filter(col("src") =!= col("dst"))
      .select(greatest(col("src"), col("dst")).as("u"),
        least(col("src"), col("dst")).as("v"))
      .distinct().localCheckpoint()
    var converged = false
    var iter = 0
    // edge count of e, counted up-front (the checkpointed blocks make it
    // cheap) and carried across rounds — it both gates convergence and,
    // since |vertices| ≤ 2·|edges|, bounds the per-round min-neighbor
    // tables for the broadcast gate (r15; guide §3.1)
    var eCnt = e.count()
    while (!converged && iter < 48) {
      iter += 1
      // large-star over the symmetric view: (v, m(u)) for v > u.
      // v > u ≥ m(u) keeps the output canonical and self-loop-free.
      val symE = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val mL = symE.groupBy(col("u")).agg(min(col("v")).as("mn"))
        .select(col("u").as("c"), least(col("u"), col("mn")).as("m"))
      // both min-neighbor tables broadcast below the gate, so the edge
      // stream is never exchanged for the joins — each round's shuffles
      // are the two hash-aggs and the two distincts only
      val ls = symE.join(gatedBc(mL, 2 * eCnt), symE("u") === col("c"))
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star over the canonical orientation: m(u) = min smaller
      // neighbor; children {v ≠ m} and u itself re-attach to m — output
      // stays canonical ((v, m): v > m since m is the min; (u, m): u > m).
      val mS = ls.groupBy(col("u")).agg(min(col("v")).as("m"))
      val stepOut = ls.join(gatedBc(mS, 2 * eCnt), Seq("u"))
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .union(mS.select(col("u"), col("m").as("v")))
        .distinct()
      graft.operators.GraphOps.maybeDumpRoundPlan("dedup_cc_twophase", iter, stepOut)
      val next = stepOut.localCheckpoint()
      val nextCnt = next.count()
      // both sets are distinct: equal cardinality + containment = equality
      converged = nextCnt == eCnt && next.exceptAll(e).isEmpty
      e = next
      eCnt = nextCnt
    }
    require(converged, s"large/small-star did not converge in $iter rounds")
    // at the fixpoint the edge set must be a star forest: one parent per
    // child (read-off would emit duplicate labels otherwise)
    require(e.groupBy(col("u")).agg(count(lit(1)).as("k"))
      .filter(col("k") > 1).isEmpty, "converged edge set is not functional")
    e.select(col("u").as("doc_id"), col("v").as("cluster_id"))
      .union(e.select(col("v").as("doc_id"), col("v").as("cluster_id")))
      .distinct()
  }

  /** The recursive-CTE clusters oracle over an arbitrary LSH-CTE chain and
    * vertex table (DedupStress swaps in a derived corpus for both). */
  private[llm] def clustersOracleFrom(ctes: String, vertices: String): String =
    s"""WITH RECURSIVE $ctes,
       |pairs AS (SELECT id_a, id_b FROM verified WHERE inter * 2 >= uni),
       |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
       |          UNION ALL SELECT id_b, id_a FROM pairs),
       |reach AS (
       |  SELECT doc_id AS id, doc_id AS r FROM $vertices
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)
       |SELECT id AS doc_id, MIN(r) AS cluster_id, id = MIN(r) AS keep
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  private val dedupClustersOracle = clustersOracleFrom(lshCtes, "documents")

  // ---- dedup_substring ------------------------------------------------------
  // Substring-level dedup (the "dedup the span, not the document" step of
  // training-data pipelines): every 8-token sliding window is hashed, a
  // window whose hash occurs more than once ANYWHERE in the corpus (other
  // docs or a repeat within the same doc) is a duplicated span, and each
  // document reports how much of it is duplicated. Doc-level dedup keeps one
  // copy of a boilerplate paragraph per distinct page; this finds the
  // paragraph itself.
  //
  // Topology: one projection explodes ~n_tokens windows per doc (same fan-out
  // class as the shingle index), then ONE exchange on the 32-byte window hash
  // feeds a count-over-window (sort within hash partitions, spillable), then
  // one hash-agg back on doc_id. No joins against the corpus, no all-pairs
  // anything: cost is linear in total tokens at any scale, and the window
  // width is the only knob.
  private val SubstringW = 8

  def dedupSubstring(s: SparkSession, dir: String): DataFrame =
    dedupSubstringOver(s, load(s, dir, "documents"))

  private[llm] def dedupSubstringOver(s: SparkSession, docs: DataFrame): DataFrame = {
    val w = SubstringW
    // sequence(1, n) is DESCENDING for n < 1, so short docs guard to array()
    val wins = docs
      .select(col("doc_id"), expr(toksE).as("toks"))
      .select(col("doc_id"), explode(expr(
        s"""transform(
           |  CASE WHEN size(toks) >= $w THEN sequence(1, size(toks) - $w + 1)
           |       ELSE array() END,
           |  p -> md5(concat_ws(' ', slice(toks, p, $w))))""".stripMargin))
        .as("wh"))
    val cnt = Window.partitionBy(col("wh"))
    val perDoc = wins
      .withColumn("n_occ", count(lit(1)).over(cnt))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_windows"),
        sum(when(col("n_occ") > 1, 1L).otherwise(0L)).as("n_dup_windows"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"))
      .withColumn("has_dup_span", col("n_dup_windows") > 0)
      .orderBy(col("doc_id"))
  }

  private val dedupSubstringOracle = {
    val w = SubstringW
    s"""WITH t AS (
       |  SELECT doc_id,
       |         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> '') AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, md5(array_to_string(toks[p : p + $w - 1], ' ')) AS wh
       |  FROM t, UNNEST(range(1, len(toks) - $w + 2)) AS u(p)),
       |c AS (SELECT wh, COUNT(*) AS n_occ FROM w GROUP BY wh),
       |perdoc AS (
       |  SELECT w.doc_id, COUNT(*) AS n_windows,
       |         CAST(SUM(CASE WHEN c.n_occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_windows
       |  FROM w JOIN c USING (wh) GROUP BY w.doc_id)
       |SELECT d.doc_id,
       |       COALESCE(p.n_windows, 0) AS n_windows,
       |       COALESCE(p.n_dup_windows, 0) AS n_dup_windows,
       |       COALESCE(p.n_dup_windows, 0) > 0 AS has_dup_span
       |FROM documents d LEFT JOIN perdoc p ON p.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  // ---- dedup_span_removal ---------------------------------------------------
  // Exact-substring span REMOVAL (Lee et al. 2022, "Deduplicating Training
  // Data Makes Language Models Better" — the deduplicate-text-datasets
  // operator): dedup_substring MEASURES duplicated 8-token spans; this key
  // REMOVES them and rewrites the document. A token is removed iff it is
  // covered by any window whose hash occurs more than once in the corpus
  // (union of covering windows — overlapping dup spans merge naturally in
  // position space, no interval algebra needed). The cleaned text's md5
  // rides in the hashed output, so the rebuild — token indexing, coverage
  // union, order-preserving reassembly — must be byte-exact in both
  // engines.
  //
  // Topology: the dedup_substring window pass (one explode, one exchange
  // on the 32-byte hash), then dup windows explode to their ≤8 covered
  // positions (output ∝ duplicated tokens, not corpus tokens), one
  // hash-agg collects per-doc removal sets, and the rebuild is a per-row
  // indexed-lambda projection — linear end-to-end, no self-joins.
  def dedupSpanRemoval(s: SparkSession, dir: String): DataFrame =
    dedupSpanRemovalOver(s, load(s, dir, "documents"))

  private[llm] def dedupSpanRemovalOver(s: SparkSession, docs: DataFrame): DataFrame = {
    val w = SubstringW
    val toksDf = docs.select(col("doc_id"),
      coalesce(expr(toksE), expr("array()")).as("toks"))
    val wins = toksDf.select(col("doc_id"),
      explode(expr(
        s"""CASE WHEN size(toks) >= $w THEN sequence(1, size(toks) - $w + 1)
           |     ELSE array() END""".stripMargin)).as("p"),
      col("toks"))
      .select(col("doc_id"), col("p"),
        expr(s"md5(concat_ws(' ', slice(toks, p, $w)))").as("wh"))
    val removed = wins
      .withColumn("n_occ", count(lit(1)).over(Window.partitionBy(col("wh"))))
      .filter(col("n_occ") > 1)
      .select(col("doc_id"), explode(expr(s"sequence(p, p + $w - 1)")).as("t"))
      .distinct()
      .groupBy(col("doc_id")).agg(collect_set(col("t")).as("removed"))
    toksDf.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("toks"),
        coalesce(col("removed"), expr("array()")).as("removed"))
      .select(col("doc_id"),
        size(col("toks")).as("n_tokens"),
        size(col("removed")).as("n_removed"),
        expr("md5(concat_ws(' ', filter(toks, (x, i) -> NOT array_contains(removed, i + 1))))")
          .as("clean_md5"))
      .orderBy(col("doc_id"))
  }

  private val dedupSpanRemovalOracle = {
    val w = SubstringW
    s"""WITH t AS (
       |  SELECT doc_id,
       |         COALESCE(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), x -> x <> ''), []) AS toks
       |  FROM documents),
       |w AS (
       |  SELECT doc_id, CAST(p AS INT) AS p,
       |         md5(array_to_string(toks[p : p + $w - 1], ' ')) AS wh
       |  FROM t, UNNEST(range(1, len(toks) - $w + 2)) AS u(p)),
       |c AS (SELECT wh FROM w GROUP BY wh HAVING COUNT(*) > 1),
       |pos AS (
       |  SELECT DISTINCT doc_id, CAST(q AS INT) AS tpos
       |  FROM (SELECT w.doc_id, w.p FROM w JOIN c USING (wh)) dw,
       |       UNNEST(range(dw.p, dw.p + $w)) AS v(q)),
       |toku AS (
       |  SELECT doc_id, CAST(i AS INT) AS i, toks[CAST(i AS INT)] AS tok
       |  FROM t, UNNEST(range(1, len(toks) + 1)) AS r(i)),
       |kept AS (
       |  SELECT k.doc_id, k.i, k.tok
       |  FROM toku k LEFT JOIN pos p ON p.doc_id = k.doc_id AND p.tpos = k.i
       |  WHERE p.doc_id IS NULL),
       |clean AS (
       |  SELECT doc_id, md5(string_agg(tok, ' ' ORDER BY i)) AS h
       |  FROM kept GROUP BY doc_id),
       |nrem AS (SELECT doc_id, CAST(COUNT(*) AS INT) AS n_removed FROM pos GROUP BY doc_id)
       |SELECT t.doc_id, CAST(len(t.toks) AS INT) AS n_tokens,
       |       COALESCE(nrem.n_removed, 0) AS n_removed,
       |       COALESCE(clean.h, md5('')) AS clean_md5
       |FROM t LEFT JOIN nrem ON nrem.doc_id = t.doc_id
       |       LEFT JOIN clean ON clean.doc_id = t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // ---- dedup_containment ----------------------------------------------------
  // DIRECTED near-subset detection: containment C(A→B) = |A∩B| / |A| over
  // the retained-shingle sets (Broder 1997's other resemblance measure).
  // Jaccard misses the quote-and-extend case — a short doc fully embedded
  // in a much longer one scores J = |A|/|B| ≈ 0 but C(A→B) = 1. Pipelines
  // drop the contained side (it adds no novel text); this operator emits
  // every ordered pair with C >= 0.8, sub = the contained doc.
  //
  // Same scale topology as dedup_ngram_jaccard (one inverted-index
  // self-join with the corpus-relative hot-shingle cap — candidates are a
  // pure function of the data, never all-pairs); the only new work is
  // scoring each unordered candidate pair in both directions, which is a
  // projection, not a second join.
  def dedupContainment(s: SparkSession, dir: String): DataFrame =
    dedupContainmentOver(s, load(s, dir, "documents"))

  private[llm] def dedupContainmentOver(s: SparkSession, docsIn: DataFrame): DataFrame = {
    val docs = shingledFrom(s, docsIn).localCheckpoint()
    val sh = docs.select(col("doc_id"), explode(col("shingles")).as("sh"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .filter(col("df") <= expr("greatest(CAST(20 AS BIGINT), n_docs div 25)"))
      .select(col("sh"))
    val inv = sh.join(rare, "sh").select(col("doc_id"), col("sh"))
      .localCheckpoint()
    val sizes = inv.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val common = inv.as("a").join(inv.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("common"))
    val joined = common
      .join(sizes.as("na"), col("id_a") === col("na.doc_id"))
      .join(sizes.as("nb"), col("id_b") === col("nb.doc_id"))
      .select(col("id_a"), col("id_b"), col("common"),
        col("na.n").as("n_a"), col("nb.n").as("n_b"))
    val asSub = joined.select(col("id_a").as("id_sub"),
      col("id_b").as("id_sup"), col("common"), col("n_a").as("n_sub"))
    val asSup = joined.select(col("id_b").as("id_sub"),
      col("id_a").as("id_sup"), col("common"), col("n_b").as("n_sub"))
    asSub.unionByName(asSup)
      .filter(col("common") * 5 >= col("n_sub") * 4)  // C >= 0.8, integer-exact
      .select(col("id_sub"), col("id_sup"),
        round((col("common").cast("double") / col("n_sub"))
          .cast("decimal(28,8)"), 4).cast("double").as("containment"))
      .orderBy(col("id_sub"), col("id_sup"))
  }

  private val dedupContainmentOracle =
    s"""WITH $shingledSql,
       |inv0 AS (SELECT doc_id, unnest(shingles) AS sh FROM docs),
       |rare AS (SELECT sh FROM inv0 GROUP BY sh
       |         HAVING COUNT(*) <= GREATEST(20, (SELECT COUNT(*) FROM docs) // 25)),
       |inv AS (SELECT doc_id, inv0.sh FROM inv0 JOIN rare ON inv0.sh = rare.sh),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM inv GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
       |  FROM inv a JOIN inv b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |j AS (
       |  SELECT id_a, id_b, common, na.n AS n_a, nb.n AS n_b
       |  FROM common
       |  JOIN sizes na ON na.doc_id = id_a
       |  JOIN sizes nb ON nb.doc_id = id_b),
       |d AS (
       |  SELECT id_a AS id_sub, id_b AS id_sup, common, n_a AS n_sub FROM j
       |  UNION ALL
       |  SELECT id_b AS id_sub, id_a AS id_sup, common, n_b AS n_sub FROM j)
       |SELECT id_sub, id_sup,
       |       CAST(ROUND(CAST(CAST(common AS DOUBLE) / n_sub AS DECIMAL(28,8)), 4) AS DOUBLE) AS containment
       |FROM d WHERE common * 5 >= n_sub * 4
       |ORDER BY id_sub, id_sup""".stripMargin

  // ---- dedup_prefix_join ----------------------------------------------------
  // EXACT set-similarity join via PREFIX FILTERING (Chaudhuri et al. 2006;
  // Xiao et al.'s PPJoin family) — the lossless alternative to both LSH
  // (probabilistic recall) and the hot-shingle cap (deliberately lossy on
  // ultra-common shingles): order every doc's shingle set by ascending
  // global frequency (rarest first, ties on the shingle string — a total
  // order both engines sort identically), and index ONLY each doc's first
  // p = n − ceil(τ·n) + 1 shingles. The theorem: two sets with J ≥ τ MUST
  // share at least one prefix element — so candidates from the prefix
  // index are COMPLETE, no pair above threshold can escape (the spec
  // proves equality with brute force on a planted corpus, and that the
  // fixture result ⊇ the capped exact index's pairs). Verification is
  // exact: the pair row carries both frequency-ordered shingle arrays and
  // intersects them in one projection — no third join against the corpus.
  //
  // Scale: indexed entries per doc shrink to ~(1−τ)·n, and because
  // prefixes hold each doc's RAREST shingles, per-shingle posting lists
  // are short by construction — the quadratic-candidate hazard the cap
  // kills by fiat, prefix filtering kills by theorem. Carrying the two
  // shingle arrays through the candidate join is the classic verify cost
  // (bounded by doc length, the PPJoin trade); the length filter
  // τ·|A| ≤ |B| prunes size-incompatible candidates before the verify.
  def dedupPrefixJoin(s: SparkSession, dir: String): DataFrame =
    dedupPrefixJoinOver(s, load(s, dir, "documents"))

  private[llm] def dedupPrefixJoinOver(s: SparkSession, docsIn: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = shingledFrom(s, docsIn).localCheckpoint()
    // shingles become 60-bit md5-prefix integers IMMEDIATELY (the universal
    // PPJoin move): the index joins, the frequency ordering, and above all
    // the verify-side array intersections run on longs instead of ~20-char
    // strings — measured 14.1 → 6.4 s at sf0.1, the verify being the
    // winner. A 60-bit collision would perturb one pair's count
    // identically in BOTH engines (same hash, same convention as
    // sample_split_hash), so the oracle contract is unaffected.
    val sh = docs.select(col("doc_id"), explode(col("shingles")).as("s0"))
      .select(col("doc_id"),
        expr("cast(conv(substring(md5(s0), 1, 15), 16, 10) as bigint)").as("sh"))
    val df_ = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    // frequency-ordered position of each shingle within its doc
    val ranked = sh.join(df_, Seq("sh"))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy(col("doc_id"))))
    // the ordered shingle array per doc (verify side) and its prefix (index)
    val ordered = ranked
      .groupBy(col("doc_id"), col("n"))
      .agg(expr("transform(sort_array(collect_list(struct(rn, sh))), x -> x.sh)")
        .as("oshingles"))
      // τ = 3/5, so ceil(τ·n) = (3n+4) div 5 — pure integer, no double
      // ceil at a boundary either engine could round differently
      .withColumn("p", expr("n - ((3 * n + 4) div 5) + 1"))
      .localCheckpoint()
    val prefix = ordered.select(col("doc_id"), col("n"), col("p"),
        posexplode(expr("slice(oshingles, 1, cast(p as int))")))
      .withColumnRenamed("col", "sh")
      .withColumn("rn", col("pos") + 1).drop("pos")
    val cands = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id") &&
          // length filter: J ≥ 3/5 needs 3·max(n) ≤ 5·min(n)
          greatest(col("a.n"), col("b.n")) * 3 <=
            least(col("a.n"), col("b.n")) * 5 &&
          // positional filter (PPJoin): overlap beyond this match is
          // bounded by the shorter remaining suffix, and J ≥ 3/5 needs
          // overlap ≥ ceil(3(na+nb)/8) — integer cross-multiplied
          lit(3) * (col("a.n") + col("b.n")) <=
            lit(8) * (lit(1) + least(col("a.n") - col("a.rn"),
              col("b.n") - col("b.rn"))))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    val verified = cands
      .join(ordered.select(col("doc_id").as("id_a"), col("oshingles").as("sa"),
        col("n").as("na")), Seq("id_a"))
      .join(ordered.select(col("doc_id").as("id_b"), col("oshingles").as("sb"),
        col("n").as("nb")), Seq("id_b"))
      .withColumn("common", size(array_intersect(col("sa"), col("sb"))).cast("long"))
      .withColumn("uni", col("na") + col("nb") - col("common"))
      .filter(col("common") * 5 >= col("uni") * 3) // J >= 0.6, integer-exact
    verified.select(col("id_a"), col("id_b"),
        round((col("common").cast("double") / col("uni"))
          .cast("decimal(28,8)"), 4).cast("double").as("jaccard"))
      .orderBy(col("id_a"), col("id_b"))
  }

  private val dedupPrefixJoinOracle =
    s"""WITH $shingledSql,
       |idx0 AS (SELECT doc_id, unnest(shingles) AS s0 FROM docs),
       |idx AS (SELECT doc_id,
       |               CAST('0x' || substring(md5(s0), 1, 15) AS BIGINT) AS sh
       |        FROM idx0),
       |dfq AS (SELECT sh, COUNT(*) AS df FROM idx GROUP BY sh),
       |ranked AS (
       |  SELECT doc_id, sh, ROW_NUMBER() OVER (PARTITION BY doc_id
       |           ORDER BY df, sh) AS rn,
       |         COUNT(*) OVER (PARTITION BY doc_id) AS n
       |  FROM idx JOIN dfq USING (sh)),
       |ordered AS (
       |  SELECT doc_id, n,
       |         list(sh ORDER BY rn) AS oshingles,
       |         CAST(n - ((3 * n + 4) // 5) + 1 AS BIGINT) AS p
       |  FROM ranked GROUP BY doc_id, n),
       |prefix AS (
       |  SELECT doc_id, n, rn, sh FROM ranked
       |  WHERE rn <= n - ((3 * n + 4) // 5) + 1),
       |cands AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM prefix a JOIN prefix b
       |    ON a.sh = b.sh AND a.doc_id < b.doc_id
       |   AND GREATEST(a.n, b.n) * 3 <= LEAST(a.n, b.n) * 5
       |   AND 3 * (a.n + b.n) <= 8 * (1 + LEAST(a.n - a.rn, b.n - b.rn))),
       |verified AS (
       |  SELECT id_a, id_b,
       |         CAST(len(list_intersect(oa.oshingles, ob.oshingles)) AS BIGINT) AS common,
       |         oa.n + ob.n AS nsum
       |  FROM cands
       |  JOIN ordered oa ON oa.doc_id = id_a
       |  JOIN ordered ob ON ob.doc_id = id_b)
       |SELECT id_a, id_b,
       |       CAST(ROUND(CAST(CAST(common AS DOUBLE) / (nsum - common) AS DECIMAL(28,8)), 4) AS DOUBLE) AS jaccard
       |FROM verified
       |WHERE common * 5 >= (nsum - common) * 3
       |ORDER BY id_a, id_b""".stripMargin

  // ---- dedup_url_canonical --------------------------------------------------
  // URL canonicalization + dedup — the FIRST dedup pass of every web-crawl
  // pipeline (the same page arrives under scheme/host case variants,
  // explicit default ports, trailing slashes, tracking params, and
  // shuffled query order; byte-exact dedup sees five distinct strings).
  // Each doc_id pair (2k, 2k+1) plants one page under two surface forms;
  // the canonicalizer — lowercase host, strip the :443 default port, strip
  // the trailing slash, DROP utm_* params, SORT the survivors — must
  // collapse exactly the pairs. The operator genuinely parses the string
  // (Spark parse_url = java.net.URI + higher-order filter/sort on the
  // split params); the oracle canonicalizes independently with regex +
  // list ops, so the two parsers must agree on every URL. Topology =
  // dedup_exact on the canonical string: one hash-groupBy, the shuffle
  // carries short canonical keys — at 100 TB this is the cheapest dedup
  // that exists, which is why crawls run it before any content hashing.
  def dedupUrlCanonical(s: SparkSession, dir: String): DataFrame = {
    val urls = load(s, dir, "documents")
      .select(col("doc_id"),
        expr("""case when doc_id % 2 = 0
               |  then concat('https://host', doc_id div 2 % 7, '.example.com/p/',
               |              doc_id div 2, '?b=', doc_id div 2 % 3, '&a=', doc_id div 2 % 5)
               |  else concat('HTTPS://Host', doc_id div 2 % 7, '.Example.COM:443/p/',
               |              doc_id div 2, '/?utm_source=feed&a=', doc_id div 2 % 5,
               |              '&b=', doc_id div 2 % 3)
               |end""".stripMargin).as("url"))
    val canon = urls.withColumn("canonical", expr(
      """concat('https://', lower(parse_url(url, 'HOST')),
        |  regexp_replace(parse_url(url, 'PATH'), '/$', ''),
        |  '?',
        |  concat_ws('&', array_sort(filter(split(parse_url(url, 'QUERY'), '&'),
        |                                   p -> NOT startswith(p, 'utm_')))))""".stripMargin))
    val groups = canon.groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_variants"), min(col("doc_id")).as("keeper"))
    canon.join(groups, Seq("canonical"))
      .select(col("doc_id"), col("url"), col("canonical"), col("n_variants"),
        col("keeper"), (col("doc_id") =!= col("keeper")).as("is_dup"))
      .orderBy(col("doc_id"))
  }

  private val dedupUrlCanonicalOracle =
    """WITH urls AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 2 = 0
      |           THEN concat('https://host', (doc_id // 2) % 7, '.example.com/p/',
      |                       doc_id // 2, '?b=', (doc_id // 2) % 3, '&a=', (doc_id // 2) % 5)
      |           ELSE concat('HTTPS://Host', (doc_id // 2) % 7, '.Example.COM:443/p/',
      |                       doc_id // 2, '/?utm_source=feed&a=', (doc_id // 2) % 5,
      |                       '&b=', (doc_id // 2) % 3)
      |         END AS url
      |  FROM documents),
      |canon AS (
      |  SELECT doc_id, url,
      |         concat('https://',
      |           regexp_replace(lower(regexp_extract(url, '://([^/]+)', 1)), ':443$', ''),
      |           regexp_replace(regexp_extract(url, '://[^/]+(/[^?]*)', 1), '/$', ''),
      |           '?',
      |           array_to_string(list_sort(list_filter(
      |             string_split(regexp_extract(url, '\?(.*)$', 1), '&'),
      |             p -> NOT starts_with(p, 'utm_'))), '&')) AS canonical
      |  FROM urls),
      |groups AS (
      |  SELECT canonical, COUNT(*) AS n_variants, MIN(doc_id) AS keeper
      |  FROM canon GROUP BY 1)
      |SELECT c.doc_id, c.url, c.canonical, g.n_variants, g.keeper,
      |       c.doc_id <> g.keeper AS is_dup
      |FROM canon c JOIN groups g ON g.canonical = c.canonical
      |ORDER BY c.doc_id""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "dedup_url_canonical" -> (dedupUrlCanonical _),
    "dedup_exact" -> (dedupExact _),
    "dedup_source_overlap" -> (dedupSourceOverlap _),
    "dedup_prefix_join" -> (dedupPrefixJoin _),
    "dedup_containment" -> (dedupContainment _),
    "dedup_minhash_lsh" -> (dedupMinhashLsh _),
    "dedup_threshold_sweep" -> (dedupThresholdSweep _),
    "dedup_ngram_jaccard" -> (dedupNgramJaccard _),
    "dedup_simhash" -> (dedupSimhash _),
    "dedup_embedding_cosine" -> (dedupEmbeddingCosine _),
    "dedup_clusters" -> (dedupClusters _),
    "dedup_cc_twophase" -> (dedupCcTwophase _),
    "dedup_substring" -> (dedupSubstring _),
    "dedup_span_removal" -> (dedupSpanRemoval _))

  val oracles: Map[String, String] = Map(
    "dedup_url_canonical" -> dedupUrlCanonicalOracle,
    "dedup_exact" -> dedupExactOracle,
    "dedup_source_overlap" -> dedupSourceOverlapOracle,
    "dedup_prefix_join" -> dedupPrefixJoinOracle,
    "dedup_containment" -> dedupContainmentOracle,
    "dedup_minhash_lsh" -> dedupMinhashLshOracle,
    "dedup_threshold_sweep" -> dedupThresholdSweepOracle,
    "dedup_ngram_jaccard" -> dedupNgramJaccardOracle,
    "dedup_simhash" -> dedupSimhashOracle,
    "dedup_embedding_cosine" -> dedupEmbeddingCosineOracle,
    "dedup_clusters" -> dedupClustersOracle,
    // same relation, different engine algorithm — one oracle, two paths
    // (the stream_cdf_read precedent)
    "dedup_cc_twophase" -> dedupClustersOracle,
    "dedup_substring" -> dedupSubstringOracle,
    "dedup_span_removal" -> dedupSpanRemovalOracle)
}
