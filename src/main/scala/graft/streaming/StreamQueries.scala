package graft.streaming

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.expressions.GraftFunctions.dotq
import graft.model.Tables
import graft.sink.Sinks

/** Oracle-checked key that runs REAL Structured Streaming (SURVEY.md §2.8):
  * the events table is staged as a file source, streamed with
  * Trigger.AvailableNow through a 1-day tumbling-window aggregate with a
  * watermark, and the streamed result must hash-match the DuckDB batch
  * aggregation of the same rows — exactly-once micro-batch execution
  * producing the batch answer.
  */
object StreamQueries {

  type Q = (SparkSession, String) => DataFrame

  private val runId = new AtomicInteger(0)

  /** Staging cost meter: cumulative wall time spent writing fixture files
    * and probing sentinel bounds since the last drain. The staged-stream
    * keys pay a real file/checkpoint HARNESS cost before the stream plan
    * runs at all; the bench drains this around each measured pass so the
    * per-key artifact reports staging and query time separately and a
    * plan regression can't hide inside staging noise (r9 VERDICT). */
  private val stagingNanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def drainStagingNanos(): Long = stagingNanos.getAndSet(0L)

  /** Micro-batch meter (r13 — the plan_fp move for streams): cumulative
    * count of executed micro-batches since the last drain, summed from
    * each completed query's progress log. The bench drains it around each
    * measured pass and records per-key batch counts in BENCH_LOCAL.json —
    * a drifted stream timing with an UNCHANGED batch count attributes to
    * the box, a changed count to the key's trigger structure. */
  private val batchCount = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] def drainBatchCount(): Long = batchCount.getAndSet(0L)
  private[graft] def addBatches(n: Long): Unit = batchCount.addAndGet(n)

  /** awaitTermination + batch accounting. The count derives from
    * lastProgress.batchId (batch ids are 0-based and monotone, so the
    * executed count is batchId + 1 — resilient to ANY trigger count),
    * NOT from recentProgress.length, which is silently capped by
    * spark.sql.streaming.numRecentProgressUpdates (default 100): a key
    * that one day crosses 100 micro-batches would undercount exactly the
    * drift-attribution signal this meter exists to pin (r13 ADVICE). A
    * query that executed no batch at all leaves lastProgress null and
    * counts zero. */
  private[streaming] def awaitCounted(
      q: org.apache.spark.sql.streaming.StreamingQuery): Unit = {
    q.awaitTermination()
    val last = q.lastProgress
    if (last != null) batchCount.addAndGet(last.batchId + 1L)
  }
  private def timedStaging[A](work: => A): A = {
    val t0 = System.nanoTime()
    try work finally stagingNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Max event timestamp for sentinel construction — guarded: `max(ts)`
    * over zero rows (or an all-null column) returns null, and the raw
    * `.getTimestamp(0)` NPE'd with no hint at the cause (r9 ADVICE). The
    * sentinel choreography is meaningless without at least one real
    * event, so an empty slice is a precondition failure, stated as one. */
  private def maxEventTs(events: DataFrame, tsCol: String): java.sql.Timestamp = {
    val row = timedStaging { events.agg(max(col(tsCol))).first() }
    require(!row.isNullAt(0),
      s"streaming staging requires a non-empty events slice with non-null " +
        s"'$tsCol' (max($tsCol) came back null) — cannot build the " +
        "watermark-advancing sentinel")
    row.getTimestamp(0)
  }

  /** Per-JVM staging root under a shared parent. Scoping the root by pid
    * means cleanup can never clobber a DIFFERENT JVM's in-flight staged
    * source or live checkpoint (the r3 shared-root delete could); the
    * cross-JVM /tmp bound is age-based instead — sibling roots untouched
    * for 6h are pruned, and our own pid's root is cleared once per JVM
    * (handles a dead JVM whose pid we reused; ids restart per JVM). Runs
    * within one JVM use distinct `runId` subdirs, so nothing is deleted
    * while a same-JVM stream is live either. */
  private[streaming] def initRoot(kind: String): String = {
    val parent = new java.io.File(s"${sys.props("java.io.tmpdir")}/graft_stream")
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    Option(parent.listFiles()).getOrElse(Array.empty)
      .filter(_.lastModified() < cutoff).foreach(f => Sinks.deleteDir(f.getPath))
    val root = s"${parent.getPath}/$kind-${ProcessHandle.current().pid()}"
    Sinks.deleteDir(root)
    root
  }
  private lazy val qRoot: String = initRoot("q")
  private lazy val dedupRoot: String = initRoot("dedup")

  /** Start a streaming query with 8 state partitions instead of the
    * session's 32. A stateful stream pins one state-store instance (with
    * per-micro-batch snapshot + commit file I/O) per shuffle partition for
    * the life of the query, and the partition count is FROZEN into the
    * checkpoint at first start — so it must be sized to expected state
    * volume, not to the session's batch-shuffle width. For these
    * fixture-scale streams 32 stores were pure commit-latency overhead
    * (4x the file round-trips per micro-batch for KBs of state); at
    * 100 TB the same knob is set high once at first deployment because a
    * restart inherits it from the checkpoint. The session conf is restored
    * immediately after start — the frozen-in value is read at query start
    * only, and later micro-batches of the SAME query keep using it. */
  private[streaming] def withFewStatePartitions[A](s: SparkSession)(start: => A): A = {
    val prev = s.conf.get("spark.sql.shuffle.partitions")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    try start finally s.conf.set("spark.sql.shuffle.partitions", prev)
  }

  def streamMicroBatch(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val src = s"$base/src"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    timedStaging { events.write.parquet(src) }

    val streamed = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .select(to_date(col("w.start")).as("day"),
        col("n_events"), col("total_value"))

    val table = s"stream_micro_batch_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table).orderBy(col("day"))
  }

  private val streamMicroBatchOracle =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day, COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** The most recent late-metrics run's StreamingQuery + its staged late-copy
    * count — lets the spec assert numRowsDroppedByWatermark of the run it
    * made equals the planted late rows exactly. */
  @volatile private[streaming] var lastLateQuery
      : org.apache.spark.sql.streaming.StreamingQuery = _
  @volatile private[streaming] var lastLatePlanted: Long = _

  // ---- stream_late_metrics ------------------------------------------------
  // LATE-DATA ADMISSION under a watermark — the observability contract of
  // every event-time pipeline: rows arriving behind the watermark are
  // REJECTED at the stateful operator (not silently merged) and the
  // rejection is measurable (numRowsDroppedByWatermark). The operator is
  // dropDuplicatesWithinWatermark — the stateful ingest-dedup, which is
  // where Spark actually enforces input-side late filtering (MEASURED,
  // this repo: windowed AGGREGATION never input-filters late rows — its
  // watermark only drives state eviction, so a late row re-opens an old
  // window; the admission guarantee lives in the dedup/join operators).
  // Three arrival waves, one file per micro-batch: wave 1 = all but the
  // last two days (establishes the watermark), wave 2 = day max−1 (the
  // filter applies the watermark with ONE BATCH of lag — also measured —
  // so a middle wave is what arms it), wave 3 = id-shifted copies of the
  // oldest 5 days (genuinely late → must be rejected) mixed with the
  // real final-day events (ahead of the watermark → admitted). The
  // admitted stream aggregated per day must equal the batch aggregate
  // over the ORIGINAL events alone — one late copy leaking through
  // corrupts a day's count and fails the hash. The spec pins the
  // mechanism: dropped-row metric == planted copies, 3 data batches.
  def streamLateMetrics(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val src = s"$base/src"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    val planted = timedStaging {
      val b = events.agg(max(to_date(col("ts"))).as("mx"),
        min(to_date(col("ts"))).as("mn")).head()
      val (mxDay, mnDay) = (b.getDate(0), b.getDate(1))
      val lateCopies = events
        .filter(to_date(col("ts")) < date_add(lit(mnDay), 5))
        .select((col("event_id") + 1000000000L).as("event_id"), col("ts"),
          col("value"))
      events.filter(to_date(col("ts")) < date_sub(lit(mxDay), 1))
        .coalesce(1).write.parquet(src)
      events.filter(to_date(col("ts")) === date_sub(lit(mxDay), 1))
        .coalesce(1).write.mode("append").parquet(src)
      lateCopies
        .unionAll(events.filter(to_date(col("ts")) === lit(mxDay)))
        .coalesce(1).write.mode("append").parquet(src)
      lateCopies.count()
    }
    lastLatePlanted = planted

    val streamed = s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

    val table = s"stream_late_metrics_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    lastLateQuery = q
    awaitCounted(q)
    // summarize the ADMITTED stream at day grain (batch post-processing of
    // the sink table — the stream itself emits admitted rows)
    s.table(table)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .orderBy(col("day"))
  }

  private val streamLateMetricsOracle =
    """SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
      |       COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY day""".stripMargin

  /** The most recent backfill-catchup run's StreamingQuery — lets the spec
    * assert the bounded-batch contract (recentProgress) of the run it
    * made through the production code path. */
  @volatile private[streaming] var lastBackfillQuery
      : org.apache.spark.sql.streaming.StreamingQuery = _

  // ---- stream_backfill_catchup ------------------------------------------
  // Bounded-backlog BACKFILL: a stream that comes up behind a large
  // backlog (8 staged files here; months of files in production) must
  // not swallow it in one giant micro-batch — `maxFilesPerTrigger`
  // bounds every batch's input so state updates, checkpoints and memory
  // stay trigger-sized, and `Trigger.AvailableNow` drains the WHOLE
  // backlog in those bounded steps and then terminates (the
  // catch-up-then-stop contract; a plain Once trigger would ignore the
  // rate limit and take everything at once). The running per-type
  // aggregate accumulates across ≥4 micro-batches and must equal the
  // one-shot batch aggregate — exactly-once accumulation across a
  // rate-limited drain. The spec pins the mechanism: >= 4 batches
  // observed, every batch's input strictly smaller than the backlog.
  def streamBackfillCatchup(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val src = s"$base/src"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("value"))
    timedStaging { events.repartition(8).write.parquet(src) }

    val streamed = s.readStream
      .schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "2") // the backlog drains 2 files/batch
      .parquet(src)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))

    val table = s"stream_backfill_catchup_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    lastBackfillQuery = q
    awaitCounted(q)
    s.table(table).orderBy(col("event_type"))
  }

  private val streamBackfillCatchupOracle =
    """SELECT event_type, COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
      |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin

  /** Streaming INGEST DEDUP — the stateful op a training pipeline runs on
    * arrival: documents stream in waves, and a running groupBy on the
    * content fingerprint (md5) keeps the min doc_id + copy count per
    * distinct text. Staged as two coalesced files with
    * `maxFilesPerTrigger=1`, so the second wave's micro-batch UPDATES state
    * built by the first — the final table must equal the batch dedup
    * (`dedup_exact`'s oracle verbatim), proving exactly-once stateful
    * accumulation across micro-batches, not a single-batch replay. At
    * 100 TB the same topology holds: state keyed by 32-byte fp in RocksDB,
    * new files per trigger, min/count merge per key. */
  /** Base dir of the most recent streamDedupIngest run — lets the spec
    * inspect the checkpoint of THE RUN IT MADE instead of guessing dirs
    * (ids restart per JVM, so max-numbered-dir guessing reads stale runs). */
  @volatile private[streaming] var lastDedupBase: String = _

  /** The most recent dedup-family StreamingQuery (set just before
    * awaitTermination) — lets the provider-class specs assert state-store
    * metrics of THE RUN THEY MADE through the production code path. */
  @volatile private[streaming] var lastDedupQuery
      : org.apache.spark.sql.streaming.StreamingQuery = _

  def streamDedupIngest(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$dedupRoot/$id"
    lastDedupBase = base
    val src = s"$base/src"
    val docs = Tables.load(s, dir, "documents").select(col("doc_id"), col("text"))
    // two arrival waves, one file each → exactly two micro-batches
    timedStaging {
      docs.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(src)
      docs.filter(col("doc_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(src)
    }

    val streamed = s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .select(md5(col("text")).as("fp"), col("doc_id"))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

    val table = s"stream_dedup_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    lastDedupQuery = q
    awaitCounted(q)
    s.table(table).orderBy(col("keep_id"))
  }

  /** Same relation as dedup_exact: the streamed state must converge to it. */
  private val streamDedupIngestOracle =
    """SELECT md5(text) AS fp, MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin

  /** Stream-STATIC enrichment join — the canonical streaming-ETL shape the
    * reference's daily pipeline maps to at event grain: facts stream in,
    * each micro-batch hash-joins a static dimension (re-read per batch, so
    * a dim refresh is picked up at the next trigger — Spark's documented
    * stream-static semantics), and a windowed aggregate rolls the enriched
    * stream up. The dim here is derived deterministically from the same
    * corpus (per-user tier by id hash — the reproducible-split idiom), so
    * the DuckDB oracle states the whole thing relationally. At 100 TB the
    * static side is a broadcast (small dim) or pre-bucketed table; the
    * stream side shuffles once on the window/tier keys. */
  def streamJoinEnrich(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val src = s"$base/src"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"), col("value"))
    timedStaging { events.write.parquet(src) }

    // static dim: deterministic tier from the md5-bucket split idiom
    // (pure function of user_id — reproducible across engines)
    val dim = events.select(col("user_id")).distinct()
      .select(col("user_id"),
        when(conv(substring(md5(col("user_id").cast("string")), 1, 2), 16, 10)
          .cast("int") < 64, "vip").otherwise("std").as("tier"))

    val streamed = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
      .join(dim, "user_id") // stream-static inner hash join, per micro-batch
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "1 day").as("w"), col("tier"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .select(to_date(col("w.start")).as("day"), col("tier"),
        col("n_events"), col("total_value"))

    val table = s"stream_join_enrich_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table).orderBy(col("day"), col("tier"))
  }

  private val streamJoinEnrichOracle =
    """WITH dim AS (
      |  SELECT user_id,
      |         CASE WHEN (instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16
      |                + (instr('0123456789abcdef', substring(md5(CAST(user_id AS VARCHAR)), 2, 1)) - 1) < 64
      |              THEN 'vip' ELSE 'std' END AS tier
      |  FROM (SELECT DISTINCT user_id FROM events) u)
      |SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day, d.tier,
      |       COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(e.value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
      |FROM events e JOIN dim d ON d.user_id = e.user_id
      |GROUP BY 1, 2 ORDER BY day, tier""".stripMargin

  /** Stream-STREAM interval join — two live streams correlated on a key
    * plus an event-time range (impression→conversion attribution at event
    * grain): even-id events stream from one source, odd-id events from
    * another, and a pair is emitted when the odd event lands within 30
    * minutes after the even one for the same user. This exercises
    * StreamingSymmetricHashJoin — both sides buffer keyed state, and the
    * per-side watermarks + the time-range condition bound how long a row
    * must be retained (state expiry is derived from the interval, so at
    * 100 TB each side holds ~30 minutes of events per key, not the stream's
    * history). The match set is a pure function of the data — the oracle
    * states the identical interval join in batch SQL. */
  def streamStreamJoin(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    timedStaging {
      events.filter(col("event_id") % 2 === 0).write.parquet(s"$base/srcA")
      events.filter(col("event_id") % 2 === 1).write.parquet(s"$base/srcB")
    }

    def side(src: String, p: String) =
      s.readStream.schema(s.read.parquet(src).schema).parquet(src)
        .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
          col("ts").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "1 day")

    val joined = side(s"$base/srcA", "a").join(side(s"$base/srcB", "b"),
      expr("""a_user = b_user AND
             |b_ts > a_ts AND b_ts <= a_ts + interval 30 minutes""".stripMargin))
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"))

    val table = s"stream_stream_join_$id"
    val q = withFewStatePartitions(s) {
      joined.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table).orderBy(col("a_id"), col("b_id"))
  }

  private val streamStreamJoinOracle =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
      |FROM events a JOIN events b
      |  ON a.user_id = b.user_id
      | AND a.event_id % 2 = 0 AND b.event_id % 2 = 1
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |ORDER BY a_id, b_id""".stripMargin

  /** Stream-stream LEFT OUTER interval join — the attribution report that
    * must ALSO emit the non-converting impressions: same even→odd pairing
    * as stream_stream_join, but an even event with no odd partner inside
    * its 30-minute window surfaces null-padded. Outer semantics under
    * streaming are an eviction contract: the unmatched row physically
    * cannot be emitted until the global watermark has passed its whole
    * match window (a partner might still arrive), so emission rides state
    * EXPIRY, not row arrival. A far-future sentinel row staged as a
    * later-mtime second file on EACH side (watermark = min across inputs)
    * drives both watermarks past every real window once the real files are
    * done, and the engine's shouldRunAnotherBatch schedules the required
    * no-new-data cleanup batch under AvailableNow — deterministic full
    * flush, which is what lets the batch LEFT JOIN oracle state the
    * result. State bound at 100 TB is identical to the inner join (~30
    * minutes of events per side per key); outer adds the eviction
    * emission, not retention. */
  def streamOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val maxTs = maxEventTs(events, "ts")
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 3L * 24 * 3600 * 1000)
    def stage(sideName: String, parity: Int, sentId: Long): String = {
      val p = s"$base/src$sideName"
      // ONE file per side, sentinel INCLUDED (r15; guide §1.2 — fewer
      // passes): outer-join emission rides state EXPIRY, which only needs
      // the watermark to pass every real window — and the watermark is
      // computed from the max event time seen in a batch REGARDLESS of
      // how many files delivered it. Staging the far-future sentinel in
      // the same single file as the real slice means one data micro-batch
      // (matches emit, watermark advances past every window) plus the
      // engine-scheduled no-new-data eviction batch (shouldRunAnotherBatch
      // under AvailableNow) — 2 micro-batches instead of the r14 3 (real
      // pair, sentinel pair, eviction), and one staged write job per side
      // instead of two. Eviction output is identical: nothing can match a
      // sentinel (user_id = -1), and unmatched rows were only ever
      // emitted by the final eviction batch in both shapes.
      import s.implicits._
      events.filter(col("event_id") % 2 === parity)
        .unionAll(Seq((sentId, -1L, sentinelTs)).toDF("event_id", "user_id", "ts"))
        .coalesce(1).write.parquet(p)
      p
    }
    val srcA = timedStaging { stage("A", 0, -2L) }
    val srcB = timedStaging { stage("B", 1, -1L) }
    def side(src: String, p: String) =
      s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
          col("ts").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "1 day")
    val joined = side(srcA, "a").join(side(srcB, "b"),
      expr("""a_user = b_user AND
             |b_ts > a_ts AND b_ts <= a_ts + interval 30 minutes""".stripMargin),
      "leftOuter")
      .select(col("a_user").as("user_id"), col("a_id"), col("b_id"))

    val table = s"stream_outer_join_$id"
    val q = withFewStatePartitions(s) {
      joined.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    // the A-side sentinel emits as an unmatched left row — not data
    s.table(table).filter(col("a_id") >= 0)
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Stream-stream LEFT SEMI interval join — existence filtering between
    * two live streams: emit each impression ONCE as soon as any
    * conversion lands in its window (no pair multiplication — the
    * "which impressions converted at all" feed, deduplicated by
    * construction). Spark buffers the left row only until first match or
    * watermark expiry; the oracle is the batch EXISTS. Unmatched rows
    * never emit, so no sentinel choreography is needed — the key also
    * pins that a semi join's output is match-driven, not eviction-driven. */
  def streamSemiJoin(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    timedStaging {
      events.filter(col("event_id") % 2 === 0)
        .coalesce(1).write.parquet(s"$base/srcA")
      events.filter(col("event_id") % 2 === 1)
        .coalesce(1).write.parquet(s"$base/srcB")
    }
    def side(src: String, p: String) =
      s.readStream.schema(s.read.parquet(src).schema).parquet(src)
        .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
          col("ts").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "1 day")
    val joined = side(s"$base/srcA", "a").join(side(s"$base/srcB", "b"),
      expr("""a_user = b_user AND
             |b_ts > a_ts AND b_ts <= a_ts + interval 30 minutes""".stripMargin),
      "leftSemi")
      .select(col("a_user").as("user_id"), col("a_id"))
    val table = s"stream_semi_join_$id"
    val q = withFewStatePartitions(s) {
      joined.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table).orderBy(col("a_id"))
  }

  private val streamSemiJoinOracle =
    """SELECT a.user_id, a.event_id AS a_id
      |FROM events a
      |WHERE a.event_id % 2 = 0 AND EXISTS (
      |  SELECT 1 FROM events b
      |  WHERE b.event_id % 2 = 1 AND b.user_id = a.user_id
      |    AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE)
      |ORDER BY a_id""".stripMargin

  /** Stream-stream FULL OUTER interval join — completes the streaming join
    * family (inner: stream_stream_join; left: stream_outer_join): BOTH
    * sides' unmatched rows surface null-padded on watermark eviction —
    * impressions that never converted AND conversions with no preceding
    * impression in-window (the orphan-conversion audit). Same sentinel
    * flush choreography; both sentinels filter out (each emits as its
    * side's unmatched row). */
  def streamFullOuterJoin(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
    val maxTs = maxEventTs(events, "ts")
    val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 3L * 24 * 3600 * 1000)
    def stage(sideName: String, parity: Int, sentId: Long): String = {
      val p = s"$base/src$sideName"
      // sentinel rides in the single real-slice file — 2 micro-batches
      // instead of 3; see the stream_outer_join staging note (r15)
      import s.implicits._
      events.filter(col("event_id") % 2 === parity)
        .unionAll(Seq((sentId, -1L, sentinelTs)).toDF("event_id", "user_id", "ts"))
        .coalesce(1).write.parquet(p)
      p
    }
    val srcA = timedStaging { stage("A", 0, -2L) }
    val srcB = timedStaging { stage("B", 1, -1L) }
    def side(src: String, p: String) =
      s.readStream.schema(s.read.parquet(src).schema)
        .option("maxFilesPerTrigger", "1").parquet(src)
        .select(col("event_id").as(s"${p}_id"), col("user_id").as(s"${p}_user"),
          col("ts").as(s"${p}_ts"))
        .withWatermark(s"${p}_ts", "1 day")
    val joined = side(srcA, "a").join(side(srcB, "b"),
      expr("""a_user = b_user AND
             |b_ts > a_ts AND b_ts <= a_ts + interval 30 minutes""".stripMargin),
      "fullOuter")
      .select(coalesce(col("a_user"), col("b_user")).as("user_id"),
        col("a_id"), col("b_id"))

    val table = s"stream_full_outer_$id"
    val q = withFewStatePartitions(s) {
      joined.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table)
      .filter(coalesce(col("a_id"), lit(0L)) >= 0 &&
        coalesce(col("b_id"), lit(0L)) >= 0)
      .orderBy(col("a_id"), col("b_id"))
  }

  private val streamFullOuterJoinOracle =
    """SELECT COALESCE(a.user_id, b.user_id) AS user_id,
      |       a.event_id AS a_id, b.event_id AS b_id
      |FROM (SELECT * FROM events WHERE event_id % 2 = 0) a
      |FULL JOIN (SELECT * FROM events WHERE event_id % 2 = 1) b
      |  ON a.user_id = b.user_id
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |ORDER BY a_id, b_id""".stripMargin

  /** NATIVE event-time session windows — `session_window(ts, gap)` under a
    * watermark through real micro-batches: the built-in operator for the
    * semantics SessionStream implements by hand with
    * flatMapGroupsWithState (both keys exist deliberately: the built-in is
    * what a user reaches for first; the custom state core is the escape
    * hatch when per-session logic outgrows windowed aggregation). Append
    * mode only emits a session once the watermark proves no event can
    * extend it, so the stream_outer_join sentinel choreography drives the
    * final flush and the oracle states PURE gap-sessionization with no
    * cutoff arithmetic. Session merge boundary is exclusive (an event at
    * exactly last+gap opens a NEW session — the oracle's `>=` break
    * mirrors Spark's range-union rule). State per key = open sessions
    * only, watermark-bounded. */
  def streamSessionNative(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val src = s"$base/src"
    val events = Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))
    val maxTs = maxEventTs(events, "ts")
    import s.implicits._
    timedStaging {
      events.coalesce(1).write.parquet(src)
      Seq((-1L, new java.sql.Timestamp(maxTs.getTime + 3L * 24 * 3600 * 1000), 0.0))
        .toDF("user_id", "ts", "value").write.mode("append").parquet(src)
    }
    val streamed = s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withWatermark("ts", "1 day")
      .groupBy(session_window(col("ts"), "2 hours"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(expr("CAST(round(value * 100) AS BIGINT)")).as("cents"))
    val table = s"stream_session_native_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table).filter(col("user_id") >= 0)
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("cents"))
      .orderBy(col("user_id"), col("session_start"))
  }

  private val streamSessionNativeOracle =
    """WITH e AS (
      |  SELECT user_id, ts, CAST(round(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |m AS (
      |  SELECT user_id, ts, cents,
      |         CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |                OR ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |                   >= INTERVAL 2 HOUR
      |              THEN 1 ELSE 0 END AS brk
      |  FROM e),
      |g AS (
      |  SELECT user_id, ts, cents,
      |         SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m)
      |SELECT user_id, MIN(ts) AS session_start,
      |       MAX(ts) + INTERVAL 2 HOUR AS session_end,
      |       CAST(COUNT(*) AS BIGINT) AS n_events,
      |       CAST(SUM(cents) AS BIGINT) AS cents
      |FROM g GROUP BY user_id, sid
      |ORDER BY user_id, session_start""".stripMargin

  private val streamOuterJoinOracle =
    """SELECT a.user_id, a.event_id AS a_id, b.event_id AS b_id
      |FROM (SELECT * FROM events WHERE event_id % 2 = 0) a
      |LEFT JOIN (SELECT * FROM events WHERE event_id % 2 = 1) b
      |  ON a.user_id = b.user_id
      | AND b.ts > a.ts AND b.ts <= a.ts + INTERVAL 30 MINUTE
      |ORDER BY a_id, b_id""".stripMargin

  /** Watermark-BOUNDED streaming dedup — `dropDuplicatesWithinWatermark`,
    * the state-expiring twin of stream_dedup_ingest's unbounded groupBy
    * state: keys are remembered only while inside the watermark, so state
    * size is arrival-rate × delay-bound instead of corpus size — the knob
    * that makes exactly-once ingest dedup viable on an unbounded 100 TB/day
    * feed (the groupBy form must keep every fingerprint forever). The whole
    * events table is staged TWICE with `maxFilesPerTrigger=1`: wave 2 is
    * byte-identical to wave 1, so every one of its rows must be dropped by
    * the key state built in wave 1 — the converged output is exactly the
    * distinct base table, which is what the oracle states. */
  def streamDropDupWatermark(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val src = s"$base/src"
    val events = Tables.load(s, dir, "events")
      .select(col("event_id"), col("ts"), col("value"))
    timedStaging {
      events.coalesce(1).write.parquet(src)
      events.coalesce(1).write.mode("append").parquet(src) // the dup wave
    }

    val streamed = s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("event_id")

    val table = s"stream_dropdup_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    lastDedupQuery = q
    awaitCounted(q)
    s.table(table).orderBy(col("event_id"))
  }

  private val streamDropDupWatermarkOracle =
    """SELECT event_id, ts, value FROM events ORDER BY event_id""".stripMargin

  /** Streaming CDC apply — `foreachBatch` + MERGE, the standard streaming
    * upsert sink: the merge_upsert changeset arrives in two waves (split by
    * key parity, `maxFilesPerTrigger=1`), and every micro-batch full-outer
    * merges its changes into a VERSIONED base table through the REAL
    * commit log (graft.table.VersionedTable: read latest → merge → CAS
    * commit vN+1 — the copy-on-write commit a Delta/Iceberg MERGE performs
    * per batch; r5's ad-hoc version-swap paths are gone, so each batch's
    * commit is atomic and every intermediate version stays time-travelable).
    * Each key changes in exactly one wave, so the converged table equals
    * the one-shot batch MERGE — which is what the oracle states. At 100 TB
    * the per-batch cost is the same single key-shuffle join as
    * merge_upsert, and the rewrite narrows to touched partitions under a
    * partitioned/MoR layout. */
  def streamMergeUpsert(s: SparkSession, dir: String): DataFrame = {
    import graft.table.VersionedTable
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val tableRoot = s"$base/table"
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"))
    VersionedTable.commit(orders, tableRoot) // v1: the base snapshot

    val deletes = orders.filter(col("key") % 13 === 0)
      .select(col("key"), lit("D").as("op"),
        lit(null).cast("string").as("new_status"),
        lit(null).cast("double").as("new_total"))
    val updates = orders.filter(col("key") % 10 === 0 && col("key") % 13 =!= 0)
      .select(col("key"), lit("U").as("op"), lit("X").as("new_status"),
        round((col("total") * lit(1.1)).cast("decimal(18,4)"), 2)
          .cast("double").as("new_total"))
    val inserts = orders.filter(col("key") % 97 === 0 && col("key") > 0)
      .select((-col("key")).as("key"), lit("I").as("op"),
        lit("N").as("new_status"), col("total").as("new_total"))
    val changes = deletes.unionAll(updates).unionAll(inserts)
    // two arrival waves, one file each → two micro-batches, each key once
    // (=!= 0, not === 1: insert keys are negative and Scala % keeps sign)
    timedStaging {
      changes.filter(col("key") % 2 === 0).coalesce(1).write.parquet(s"$base/src")
      changes.filter(col("key") % 2 =!= 0).coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }

    val q = withFewStatePartitions(s) {
      s.readStream.schema(s.read.parquet(s"$base/src").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val cur = graft.table.VersionedTable.readLatest(s, tableRoot)
          graft.table.VersionedTable.commit(
            cur.join(batch, Seq("key"), "full_outer")
              .filter(col("op").isNull || col("op") =!= "D")
              .select(col("key"),
                when(col("op").isNotNull, col("new_status"))
                  .otherwise(col("status")).as("status"),
                when(col("op").isNotNull, col("new_total"))
                  .otherwise(col("total")).as("total")),
            tableRoot)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    graft.table.VersionedTable.readLatest(s, tableRoot).orderBy(col("key"))
  }

  /** The one-shot batch MERGE the two-wave streamed apply must converge to
    * (merge_upsert's oracle minus the last_op audit column). */
  private val streamMergeUpsertOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |changes AS (
      |  SELECT key, 'D' AS op, CAST(NULL AS VARCHAR) AS new_status,
      |         CAST(NULL AS DOUBLE) AS new_total
      |  FROM base WHERE key % 13 = 0
      |  UNION ALL
      |  SELECT key, 'U', 'X',
      |         CAST(ROUND(CAST(total * 1.1 AS DECIMAL(18,4)), 2) AS DOUBLE)
      |  FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |  UNION ALL
      |  SELECT -key, 'I', 'N', total
      |  FROM base WHERE key % 97 = 0 AND key > 0)
      |SELECT COALESCE(b.key, c.key) AS key,
      |       CASE WHEN c.op IS NOT NULL THEN c.new_status ELSE b.status END AS status,
      |       CASE WHEN c.op IS NOT NULL THEN c.new_total ELSE b.total END AS total
      |FROM base b FULL OUTER JOIN changes c ON c.key = b.key
      |WHERE c.op IS NULL OR c.op <> 'D'
      |ORDER BY key""".stripMargin

  /** Streaming WRITE-AUDIT-PUBLISH ingest (r11) — table_wap_publish's
    * staging discipline applied per micro-batch, the shape a production
    * ingest takes when a bad upstream batch must NEVER reach readers:
    * each batch (maxFilesPerTrigger=1) shallow-clones main at its current
    * version, APPENDS onto the staging branch (commitAppend — carried
    * manifest + the batch's files), audits the staged snapshot (one
    * folded aggregate: non-negative totals + key uniqueness), and only a
    * green audit fast-forwards main (a KB metadata CAS guarded by the
    * cloned-from version). The fixture streams two waves: a clean insert
    * batch (publishes — main v2) then a batch of planted negative totals
    * (audit red — the staging branch absorbs it, main still v2, readers
    * never saw a bad row). The batch-audit trail and the final published
    * table are the compared output. Scale: per batch, cost = the batch
    * write + ONE audit scan + a KB CAS — main's files are never
    * rewritten; the quarantined branch is dropped by the orphan sweep. */
  def streamWapIngest(s: SparkSession, dir: String): DataFrame = {
    import graft.table.VersionedTable
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val tableRoot = s"$base/table"
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"))
    VersionedTable.commit(orders, tableRoot) // v1: what readers see
    val good = orders.filter(col("key") % 97 === 0 && col("key") > 0)
      .select((-col("key")).as("key"), lit("N").as("status"), col("total"))
    val bad = orders.filter(col("key") % 89 === 0 && col("key") > 0)
      .select((-col("key") * 1000).as("key"), lit("B").as("status"),
        (-col("total")).as("total")) // every row violates total >= 0
    timedStaging {
      good.coalesce(1).write.parquet(s"$base/src")
      bad.coalesce(1).write.mode("append").parquet(s"$base/src")
    }
    val audits =
      new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    val q = withFewStatePartitions(s) {
      s.readStream.schema(s.read.parquet(s"$base/src").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, bid: Long) =>
          val clonedAt = VersionedTable.latestVersion(tableRoot)
          val stage = s"$base/stage-$bid"
          VersionedTable.shallowClone(tableRoot, clonedAt, stage)
          VersionedTable.commitAppend(batch, stage)
          val r = VersionedTable.readLatest(s, stage).agg(
            sum(when(col("total") < 0, 1L).otherwise(0L)).as("neg"),
            (count(lit(1)) - countDistinct(col("key"))).as("dup")).head()
          val violations = r.getLong(0) + r.getLong(1)
          if (violations == 0)
            VersionedTable.fastForward(stage,
              VersionedTable.latestVersion(stage), tableRoot, clonedAt)
          audits.add((bid, violations,
            VersionedTable.latestVersion(tableRoot).toLong))
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    val fin = VersionedTable.readLatest(s, tableRoot).agg(
      count(lit(1)).as("n"),
      sum(when(col("key") < 0, 1L).otherwise(0L)).as("nnew"),
      sum(expr("CAST(round(total * 100) AS BIGINT)")).as("cents")).head()
    import s.implicits._
    val auditRows = audits.toArray(Array.empty[(Long, Long, Long)])
      .sortBy(_._1)
      .flatMap { case (bid, viol, ver) =>
        Seq((s"batch_$bid", "n_violations", viol),
          (s"batch_$bid", "main_version", ver))
      }.toSeq
    (auditRows ++ Seq(
      ("final", "n_rows", fin.getLong(0)),
      ("final", "n_new_rows", fin.getLong(1)),
      ("final", "sum_cents", fin.getLong(2))))
      .toDF("step", "metric", "value")
      .orderBy(col("step"), col("metric"))
  }

  private val streamWapIngestOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_totalprice AS total FROM orders),
      |good AS (SELECT key, total FROM base WHERE key % 97 = 0 AND key > 0),
      |bad AS (SELECT key FROM base WHERE key % 89 = 0 AND key > 0),
      |fin AS (
      |  SELECT key, total FROM base
      |  UNION ALL SELECT -key, total FROM good)
      |SELECT 'batch_0' AS step, 'main_version' AS metric,
      |       CAST(2 AS BIGINT) AS value
      |UNION ALL
      |SELECT 'batch_0', 'n_violations', CAST(0 AS BIGINT)
      |UNION ALL
      |SELECT 'batch_1', 'main_version', CAST(2 AS BIGINT)
      |UNION ALL
      |SELECT 'batch_1', 'n_violations', CAST(COUNT(*) AS BIGINT) FROM bad
      |UNION ALL
      |SELECT 'final', 'n_rows', CAST(COUNT(*) AS BIGINT) FROM fin
      |UNION ALL
      |SELECT 'final', 'n_new_rows', CAST((SELECT COUNT(*) FROM good) AS BIGINT)
      |UNION ALL
      |SELECT 'final', 'sum_cents',
      |       CAST(SUM(CAST(round(total * 100) AS BIGINT)) AS BIGINT) FROM fin
      |ORDER BY step, metric""".stripMargin

  /** Streaming CDF READ (r8) — the consumer side of the CDC loop
    * stream_merge_upsert writes: the versioned table's commit log is
    * tailed as a Structured Streaming source (`graft-cdf`, offsets =
    * version numbers, micro-batch = a new commit's recorded changeset
    * files — graft.table.v2.TableChangesSource). The staged table applies
    * the deterministic merge feed in TWO CDF-recording commits (even keys,
    * then odd — a real "apply changes" consumer: delete/update_pre drop
    * old images, insert/update_post add new ones), so the stream sees two
    * versions and the converged memory table must equal the batch
    * `table_changes(v1, v3)` — which is the same relation
    * table_incremental_read's oracle states. The spec additionally proves
    * a commit arriving MID-STREAM lands as its own micro-batch. */
  /** Stage the CDF-recording table both stream_cdf_read and
    * stream_incremental_agg tail: v1 = the orders snapshot (no CDF),
    * then the deterministic merge feed applied in two parity waves,
    * each committing WITH its changeset. One helper so the staged log
    * and its consumers can never drift. */
  private def stageCdfTable(s: SparkSession, dir: String,
      tableRoot: String): Unit = {
    import graft.table.VersionedTable
    val orders = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"))
    VersionedTable.commit(orders, tableRoot) // v1: snapshot, no CDF
    val feed = graft.operators.PipelineOps.mergeChangeFeed(s, dir)
    Seq(0, 1).foreach { parity =>
      // pmod: insert keys are negative and Scala % keeps sign
      val wave = feed.filter(pmod(col("key"), lit(2)) === parity)
      val cur = VersionedTable.readLatest(s, tableRoot)
      val gone = wave.filter(col("change").isin("delete", "update_pre"))
        .select(col("key"))
      val added = wave.filter(col("change").isin("insert", "update_post"))
        .select(col("key"), col("status"), col("total"))
      VersionedTable.commit(
        cur.join(gone, Seq("key"), "left_anti").unionAll(added),
        tableRoot, changes = Some(wave), statsColumns = Nil)
    }
  }

  def streamCdfRead(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val tableRoot = s"$base/table"
    stageCdfTable(s, dir, tableRoot)
    val table = s"stream_cdf_$id"
    val q = withFewStatePartitions(s) {
      s.readStream.format("graft-cdf").option("root", tableRoot).load()
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table).orderBy(col("key"), col("change"))
  }

  /** Incremental VIEW MAINTENANCE from the change feed (r8) — the step
    * after reading the CDF: a downstream AGGREGATE table (orders per
    * status + revenue) maintained by DELTAS, never recomputed. Backfill
    * once from the stream's start version, then every micro-batch folds
    * its changeset in: old images (delete/update_pre) count −1/−total,
    * new images (insert/update_post) +1/+total — signed counting handles
    * group-CHANGING updates for free (−1 in the old group, +1 in the
    * new). The maintained table is itself a versioned table committed
    * per batch, so the derived aggregate has the same time-travel /
    * exactly-once story as its source. The oracle is the full group-by
    * over the CONVERGED snapshot — IVM must be indistinguishable from
    * recompute. Totals aggregate in DECIMAL (exact, order-independent —
    * double deltas would drift), which is what makes increment ≡
    * recompute provable. At 100 TB: per batch one groupBy over a small
    * changeset + one |groups|-row merge — the recompute it replaces
    * scans the whole fact table. */
  def streamIncrementalAgg(s: SparkSession, dir: String): DataFrame = {
    import graft.table.VersionedTable
    val (_, aggRoot) = streamIncrementalAggStaged(s, dir)
    VersionedTable.readLatest(s, aggRoot)
      .select(col("status"), col("n_orders"),
        round(col("sum_total"), 2).cast("double").as("sum_total"))
      .orderBy(col("status"))
  }

  /** The staged run behind [[streamIncrementalAgg]], returning the source
    * and aggregate table roots so the spec can compare every maintained
    * aggregate version against a from-scratch recompute. */
  private[streaming] def streamIncrementalAggStaged(
      s: SparkSession, dir: String): (String, String) = {
    import graft.table.VersionedTable
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val tableRoot = s"$base/table"
    stageCdfTable(s, dir, tableRoot)
    val aggRoot = s"$base/agg"
    VersionedTable.commit( // backfill: the aggregate AS OF the start version
      VersionedTable.readVersion(s, tableRoot, 1)
        .groupBy(col("status"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("total").cast("decimal(28,2)")).as("sum_total")),
      aggRoot)
    val q = withFewStatePartitions(s) {
      s.readStream.format("graft-cdf").option("root", tableRoot).load()
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val deltas = batch
            .withColumn("sgn",
              when(col("change").isin("insert", "update_post"), 1).otherwise(-1))
            .groupBy(col("status"))
            .agg(sum(col("sgn")).as("dn"),
              sum(col("total").cast("decimal(28,2)") * col("sgn")).as("dt"))
          val cur = VersionedTable.readLatest(batch.sparkSession, aggRoot)
          VersionedTable.commit(
            cur.join(deltas, Seq("status"), "full_outer")
              .select(col("status"),
                (coalesce(col("n_orders"), lit(0L)) +
                  coalesce(col("dn"), lit(0L))).as("n_orders"),
                (coalesce(col("sum_total"), lit(0).cast("decimal(28,2)")) +
                  coalesce(col("dt"), lit(0).cast("decimal(28,2)"))).as("sum_total"))
              .filter(col("n_orders") > 0), // a group deleted away vanishes
            aggRoot)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    (tableRoot, aggRoot)
  }

  /** Streaming ANN-index INGEST (r8) — the index-maintenance loop a
    * serving deployment runs: vectors arrive in waves, each micro-batch
    * assigns its NEW vectors against the offline-trained coarse
    * quantizer (a static broadcast k-row dimension — the
    * stream_join_enrich shape) and appends the postings to a VERSIONED
    * index table, so the ANN index inherits time travel + exactly-once
    * from the table tier. Assignment is the same hash-agg argmin as
    * dedup_semantic (min(struct(−ccos, cell)) — deterministic ties), and
    * the converged index must equal the one-shot batch assignment the
    * oracle states: ingest order cannot leak into the index. At 100 TB
    * the per-batch cost is |new vectors| × k against broadcast
    * centroids — the corpus is never rescanned, and cell-partitioned
    * postings serve sim_ivfpq unchanged. */
  def streamIndexIngest(s: SparkSession, dir: String): DataFrame = {
    val indexRoot = streamIndexIngestStaged(s, dir)
    graft.table.VersionedTable.readLatest(s, indexRoot)
      .orderBy(col("vec_id"))
  }

  private[streaming] def streamIndexIngestStaged(
      s: SparkSession, dir: String): String = {
    import graft.table.VersionedTable
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val indexRoot = s"$base/index"
    val emb = Tables.load(s, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // two arrival waves by vec_id parity, one file each → two micro-batches
    timedStaging {
      emb.filter(col("vec_id") % 2 === 0).coalesce(1).write.parquet(s"$base/src")
      emb.filter(col("vec_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }
    // the quantizer trains OFFLINE; ingest only assigns against it
    val cent = graft.llm.Similarity.coarseCentroids(s, dir).localCheckpoint()
    val q = withFewStatePartitions(s) {
      s.readStream.schema(s.read.parquet(s"$base/src").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val assigned = batch
            .withColumn("qv", expr(
              "transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT))"))
            .withColumn("nrm", dotq(col("embedding"), col("embedding")))
            .filter(col("nrm") > 0)
            .crossJoin(broadcast(cent))
            .withColumn("cdot", expr(
              "aggregate(zip_with(qv, cvec, (x, y) -> x * y), 0L, (a, v) -> a + v)"))
            .withColumn("ccos", col("cdot").cast("double") /
              (sqrt(col("nrm").cast("double")) * sqrt(col("cnrm").cast("double"))))
            .groupBy(col("vec_id"))
            .agg(min(struct(negate(col("ccos")).as("nc"), col("cell").as("cell")))
              .as("best"))
            .select(col("vec_id"), col("best.cell").as("cell"))
          val next =
            if (VersionedTable.latestVersion(indexRoot) == 0) assigned
            else VersionedTable.readLatest(batch.sparkSession, indexRoot)
              .unionAll(assigned)
          VersionedTable.commit(next, indexRoot)
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    indexRoot
  }

  /** The one-shot batch assignment the streamed ingest must converge to —
    * the sim_ivf_ann inverted-list CTE with the zero-norm guard. */
  private val streamIndexIngestOracle =
    """WITH q AS (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1e6) AS BIGINT)) AS qv
      |  FROM embeddings),
      |qn AS (
      |  SELECT vec_id, qv,
      |         list_sum(list_transform(generate_series(1, len(qv)), i -> qv[i] * qv[i])) AS nrm
      |  FROM q),
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
      |  FROM qn CROSS JOIN centn c WHERE qn.nrm > 0)
      |SELECT vec_id, cell FROM (
      |  SELECT vec_id, cell,
      |         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY ccos DESC, cell) AS rk
      |  FROM scoredc) r WHERE rk = 1
      |ORDER BY vec_id""".stripMargin

  /** Group-by over the converged final state (the streamMergeUpsert final
    * relation) — what the incrementally-maintained aggregate must equal. */
  private val streamIncrementalAggOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |changes AS (
      |  SELECT key, 'D' AS op, CAST(NULL AS VARCHAR) AS new_status,
      |         CAST(NULL AS DOUBLE) AS new_total
      |  FROM base WHERE key % 13 = 0
      |  UNION ALL
      |  SELECT key, 'U', 'X',
      |         CAST(ROUND(CAST(total * 1.1 AS DECIMAL(18,4)), 2) AS DOUBLE)
      |  FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |  UNION ALL
      |  SELECT -key, 'I', 'N', total
      |  FROM base WHERE key % 97 = 0 AND key > 0),
      |final AS (
      |  SELECT COALESCE(b.key, c.key) AS key,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_status ELSE b.status END AS status,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_total ELSE b.total END AS total
      |  FROM base b FULL OUTER JOIN changes c ON c.key = b.key
      |  WHERE c.op IS NULL OR c.op <> 'D')
      |SELECT status, COUNT(*) AS n_orders,
      |       CAST(ROUND(SUM(CAST(total AS DECIMAL(28,2))), 2) AS DOUBLE) AS sum_total
      |FROM final GROUP BY status ORDER BY status""".stripMargin

  /** SLIDING event-time windows — the overlap semantics tumbling can't
    * express (every event counts toward size/slide = 2 windows; the
    * rolling "last 48h, hourly" dashboard shape). Same staging +
    * AvailableNow + watermark topology as streamMicroBatch; the oracle
    * replays the window ASSIGNMENT relationally (each event unnested into
    * its two epoch-aligned slide starts) and must produce the identical
    * aggregate — pinning Spark's window(ts, size, slide) start alignment,
    * not just the sums. State scales with open windows × keys, 2× the
    * tumbling key's — still watermark-bounded at 100 TB. */
  def streamSlidingWindow(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    val src = s"$base/src"
    timedStaging {
      Tables.load(s, dir, "events")
        .select(col("event_id"), col("ts"), col("value"))
        .write.parquet(src)
    }

    val streamed = s.readStream.schema(s.read.parquet(src).schema).parquet(src)
      .withWatermark("ts", "2 days")
      .groupBy(window(col("ts"), "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .select(to_date(col("w.start")).as("win_start"),
        to_date(col("w.end")).as("win_end"),
        col("n_events"), col("total_value"))

    val table = s"stream_sliding_window_$id"
    val q = withFewStatePartitions(s) {
      streamed.writeStream.outputMode("complete")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    s.table(table).orderBy(col("win_start"))
  }

  private val streamSlidingWindowOracle =
    """WITH assigned AS (
      |  SELECT CAST(date_trunc('day', ts) AS DATE) - o AS win_start, value
      |  FROM events, unnest([0, 1]) AS t(o))
      |SELECT win_start, win_start + 2 AS win_end, COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value
      |FROM assigned GROUP BY win_start ORDER BY win_start""".stripMargin

  // ---- stream_quarantine ----------------------------------------------------
  // Dead-letter routing on streaming ingest — the expectations contract of
  // Delta Live Tables / dlt.expect_or_drop: declared row invariants
  // (value >= 0, event_type IS NOT NULL) are applied INSIDE each
  // micro-batch, valid rows land in the main table, violators land in a
  // QUARANTINE table with nothing dropped on the floor — the streaming
  // complement of table_constraint_check's all-or-nothing batch commit
  // (an endless stream can't reject a whole day's ingest for one bad
  // row; it splits). Staged corruption is deterministic (every 11th
  // event's value negated, every 13th's type nulled), arrives in TWO
  // waves (maxFilesPerTrigger=1), and each batch writes BOTH sides to
  // batchId-keyed subdirs with overwrite — a retried batch rewrites its
  // own directory instead of double-appending, which is the standard
  // idempotent-foreachBatch recipe. Conservation is part of the hashed
  // contract: ok + quarantine row counts must equal the corpus.
  /** Base dir of the most recent streamQuarantine run (spec hook — the
    * lastDedupBase convention). */
  @volatile private[streaming] var lastQuarantineBase: String = _

  def streamQuarantine(s: SparkSession, dir: String): DataFrame = {
    val id = runId.incrementAndGet()
    val base = s"$qRoot/$id"
    lastQuarantineBase = base
    val staged = Tables.load(s, dir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .withColumn("value",
        when(col("event_id") % 11 === 0, -col("value")).otherwise(col("value")))
      .withColumn("event_type",
        when(col("event_id") % 13 === 0, lit(null).cast("string"))
          .otherwise(col("event_type")))
    timedStaging {
      staged.filter(col("event_id") % 2 === 0).coalesce(1)
        .write.parquet(s"$base/src")
      staged.filter(col("event_id") % 2 === 1).coalesce(1)
        .write.mode("append").parquet(s"$base/src")
    }

    val ok = col("value") >= 0 && col("event_type").isNotNull
    val q = withFewStatePartitions(s) {
      s.readStream.schema(s.read.parquet(s"$base/src").schema)
        .option("maxFilesPerTrigger", "1").parquet(s"$base/src")
        .writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          batch.filter(ok).write.mode("overwrite")
            .parquet(s"$base/ok/b$batchId")
          batch.filter(!ok).write.mode("overwrite")
            .parquet(s"$base/quarantine/b$batchId")
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    awaitCounted(q)
    def sideAgg(sub: String, label: String): DataFrame =
      s.read.option("recursiveFileLookup", "true").parquet(s"$base/$sub")
        .agg(count(lit(1)).as("n_events"),
          round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
            .as("total_value"),
          countDistinct(col("user_id")).as("n_users"))
        .select(lit(label).as("side"), col("n_events"), col("total_value"),
          col("n_users"))
    sideAgg("ok", "ok").unionAll(sideAgg("quarantine", "quarantine"))
      .orderBy(col("side"))
  }

  private val streamQuarantineOracle =
    """WITH staged AS (
      |  SELECT event_id, user_id,
      |         CASE WHEN event_id % 13 = 0 THEN NULL ELSE event_type END AS event_type,
      |         CASE WHEN event_id % 11 = 0 THEN -value ELSE value END AS value
      |  FROM events),
      |flagged AS (
      |  SELECT *, (value >= 0 AND event_type IS NOT NULL) AS ok FROM staged)
      |SELECT CASE WHEN ok THEN 'ok' ELSE 'quarantine' END AS side,
      |       COUNT(*) AS n_events,
      |       CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS total_value,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM flagged GROUP BY 1 ORDER BY side""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "stream_quarantine" -> (streamQuarantine _),
    "stream_sliding_window" -> (streamSlidingWindow _),
    "stream_cdf_read" -> (streamCdfRead _),
    "stream_incremental_agg" -> (streamIncrementalAgg _),
    "stream_index_ingest" -> (streamIndexIngest _),
    "stream_micro_batch" -> (streamMicroBatch _),
    "stream_backfill_catchup" -> (streamBackfillCatchup _),
    "stream_late_metrics" -> (streamLateMetrics _),
    "stream_dedup_ingest" -> (streamDedupIngest _),
    "stream_join_enrich" -> (streamJoinEnrich _),
    "stream_stream_join" -> (streamStreamJoin _),
    "stream_outer_join" -> (streamOuterJoin _),
    "stream_session_native" -> (streamSessionNative _),
    "stream_full_outer_join" -> (streamFullOuterJoin _),
    "stream_semi_join" -> (streamSemiJoin _),
    "stream_drop_dup_watermark" -> (streamDropDupWatermark _),
    "stream_merge_upsert" -> (streamMergeUpsert _),
    "stream_wap_ingest" -> (streamWapIngest _))

  val oracles: Map[String, String] = Map(
    "stream_quarantine" -> streamQuarantineOracle,
    // the streamed feed converges to the SAME relation as the batch CDF
    // read — one oracle, two read paths
    "stream_cdf_read" -> graft.table.TableQueries.oracles("table_incremental_read"),
    "stream_sliding_window" -> streamSlidingWindowOracle,
    "stream_incremental_agg" -> streamIncrementalAggOracle,
    "stream_index_ingest" -> streamIndexIngestOracle,
    "stream_micro_batch" -> streamMicroBatchOracle,
    "stream_backfill_catchup" -> streamBackfillCatchupOracle,
    "stream_late_metrics" -> streamLateMetricsOracle,
    "stream_dedup_ingest" -> streamDedupIngestOracle,
    "stream_join_enrich" -> streamJoinEnrichOracle,
    "stream_stream_join" -> streamStreamJoinOracle,
    "stream_outer_join" -> streamOuterJoinOracle,
    "stream_session_native" -> streamSessionNativeOracle,
    "stream_full_outer_join" -> streamFullOuterJoinOracle,
    "stream_semi_join" -> streamSemiJoinOracle,
    "stream_drop_dup_watermark" -> streamDropDupWatermarkOracle,
    "stream_merge_upsert" -> streamMergeUpsertOracle,
    "stream_wap_ingest" -> streamWapIngestOracle)
}
