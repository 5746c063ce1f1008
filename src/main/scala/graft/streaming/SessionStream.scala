package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Custom-state streaming sessionization via `flatMapGroupsWithState` —
  * the stateful-operator surface SURVEY.md §2.9 names for state that the
  * built-in windowed aggregates can't express: a session has no fixed
  * window, its extent is data-driven (events chained closer than the gap),
  * so the operator must keep OPEN sessions per user as explicit state,
  * extend/merge them as events arrive (in any order within the watermark),
  * and emit a session only when the event-time watermark proves no
  * further event can join it.
  *
  * Scale topology: state is keyed by user_id (hash-partitioned, RocksDB
  * at 100 TB), each open session is 4 numbers, and the watermark bounds
  * both state size and emission latency. Batch twin:
  * `PipelineOps.windowSession` — SessionStreamSpec drives two arrival
  * waves through this operator and asserts the emitted sessions are
  * EXACTLY the batch operator's sessions that the final watermark closed.
  */
object SessionStream {

  /** Gap shared with the batch operator (exact integer micros). */
  val GapUs: Long = 12L * 3600 * 1000000

  case class SessionEvent(user_id: Long, ts: Timestamp, value: Double)

  /** Open session state: event-time extent plus additive aggregates.
    * `valueQ` is the running value sum quantized to 4 decimals (long),
    * so merge order can never drift the float total — the emitted value
    * then matches the batch operator's decimal(18,4) sum exactly. */
  case class OpenSession(startUs: Long, endUs: Long, n: Long, valueQ: Long)

  case class ClosedSession(
      user_id: Long, session_start: Timestamp, session_end: Timestamp,
      n_events: Long, session_value: Double)

  private def tsUs(t: Timestamp): Long =
    t.getTime * 1000 + (t.getNanos / 1000) % 1000

  private def usTs(us: Long): Timestamp = {
    val t = new Timestamp(us / 1000)
    t.setNanos(((us % 1000000) * 1000).toInt)
    t
  }

  private def quantize(v: Double): Long = math.round(v * 10000)

  /** Merge intervals closer than the gap; input in any order. */
  private[streaming] def merge(sessions: List[OpenSession]): List[OpenSession] =
    sessions.sortBy(s => (s.startUs, s.endUs)).foldLeft(List.empty[OpenSession]) {
      case (prev :: rest, s) if s.startUs - prev.endUs <= GapUs =>
        OpenSession(prev.startUs, math.max(prev.endUs, s.endUs),
          prev.n + s.n, prev.valueQ + s.valueQ) :: rest
      case (acc, s) => s :: acc
    }.reverse

  private def close(s: OpenSession, user: Long): ClosedSession =
    ClosedSession(user, usTs(s.startUs), usTs(s.endUs), s.n,
      BigDecimal(s.valueQ, 4).setScale(2, BigDecimal.RoundingMode.HALF_UP)
        .toDouble)

  /** The per-group state transition. Emits sessions the watermark has
    * sealed (no event >= watermark can be within gap of them); keeps the
    * rest as state with an event-time timeout at the earliest instant the
    * oldest open session could seal. */
  private[streaming] def transition(
      user: Long, events: Iterator[SessionEvent],
      state: GroupState[List[OpenSession]]): Iterator[ClosedSession] = {
    val prior = state.getOption.getOrElse(Nil)
    val incoming = events.map(e =>
      OpenSession(tsUs(e.ts), tsUs(e.ts), 1L, quantize(e.value))).toList
    val merged = merge(prior ++ incoming)
    val wmUs = state.getCurrentWatermarkMs() * 1000
    val (finished, open) = merged.partition(_.endUs + GapUs <= wmUs)
    if (open.isEmpty) state.remove()
    else {
      state.update(open)
      // Timeout arithmetic must match the seal rule EXACTLY: Spark fires an
      // event-time timeout on t < watermark (strict, ms grain), and a
      // session is sealable when sealUs <= wmMs*1000. t = ceil(sealUs/1000)-1
      // = (sealUs-1)/1000 makes "fires" ⟺ "sealable" — the naive
      // floor(sealUs/1000)+1 misses a session whose seal instant lands
      // exactly on the watermark millisecond, leaving it unemitted forever
      // if no later batch touches the group. Spark additionally requires
      // t > current watermark at set time; the max() covers the 1 ms
      // boundary where the oldest session seals within the next
      // millisecond (it then fires at the next watermark advance, which
      // the seal rule provably allows).
      val sealUs = open.map(_.endUs).min + GapUs
      state.setTimeoutTimestamp(math.max((sealUs - 1) / 1000, wmUs / 1000 + 1))
    }
    finished.sortBy(_.startUs).map(close(_, user)).iterator
  }

  /** Streaming sessionizer over an event stream with event-time watermark
    * = gap (an event later than watermark could at most extend a session
    * ending within gap of it — older sessions are provably sealed). */
  def sessionize(s: SparkSession, events: Dataset[SessionEvent]): Dataset[ClosedSession] = {
    import s.implicits._
    events
      .withWatermark("ts", s"${GapUs / 1000000} seconds")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[List[OpenSession], ClosedSession](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(transition)
  }

  /** Batch reference for the sealed subset: the batch sessionization
    * restricted to sessions the given watermark has sealed. */
  def sealedBatchSessions(s: SparkSession, dir: String, wmUs: Long) = {
    graft.operators.PipelineOps.windowSession(s, dir)
      .filter(unix_micros(col("session_end")) + GapUs <= wmUs)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("session_value"))
  }

  // ---- stream_session_state: the oracle-checked key -------------------------
  // Two time-ordered arrival waves stream through the sessionizer with
  // maxFilesPerTrigger=1, so the second micro-batch EXTENDS and SEALS state
  // built by the first, and the trailing no-data batch fires the event-time
  // timeouts under the final watermark. The emitted set is deterministic:
  // exactly the sessions sealed by wm = floor_ms(max ts) - gap (Spark
  // tracks event-time stats at ms grain), which is what the DuckDB oracle
  // states relationally — a batch engine independently predicting what the
  // stateful stream emits, timeout semantics included.
  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)
  private lazy val sessRoot: String = StreamQueries.initRoot("sess")

  def streamSessionState(s: SparkSession, dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val id = runId.incrementAndGet()
    val base = s"$sessRoot/$id"
    val src = s"$base/src"
    val ev = graft.model.Tables.load(s, dir, "events")
      .select(col("user_id"), col("ts"), col("value"))
    ev.filter(col("ts") < "2024-01-16").coalesce(1).write.parquet(src)
    ev.filter(col("ts") >= "2024-01-16").coalesce(1)
      .write.mode("append").parquet(src)

    val streamed = s.readStream.schema(s.read.parquet(src).schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .as[SessionEvent]
    val table = s"stream_session_state_$id"
    // 8 state partitions (not the session's 32): the per-user session state
    // is KBs here and the store count is frozen into the checkpoint —
    // see StreamQueries.withFewStatePartitions. start() clones the session,
    // so the narrowed conf is captured synchronously and restored after.
    val q = StreamQueries.withFewStatePartitions(s) {
      sessionize(s, streamed)
        .writeStream.outputMode("append")
        .option("checkpointLocation", s"$base/ckpt")
        .format("memory").queryName(table)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
    }
    StreamQueries.awaitCounted(q)
    s.table(table).orderBy(col("user_id"), col("session_start"))
  }

  private val gapMs = GapUs / 1000

  /** The oracle re-derives batch sessions AND the watermark seal rule. */
  private val streamSessionStateOracle =
    s"""WITH ev AS (
       |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, value FROM events),
       |flagged AS (
       |  SELECT user_id, ts, event_id, value,
       |         CASE WHEN lag(ts) OVER w IS NULL
       |                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > $GapUs
       |              THEN 1 ELSE 0 END AS is_new
       |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts, value,
       |         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM flagged),
       |base AS (
       |  SELECT user_id, session_seq, COUNT(*) AS n_events,
       |         MIN(ts) AS session_start, MAX(ts) AS session_end,
       |         CAST(ROUND(SUM(CAST(value AS DECIMAL(18,4))), 2) AS DOUBLE) AS session_value
       |  FROM sess GROUP BY user_id, session_seq),
       |wm AS (
       |  SELECT (epoch_ms(MAX(CAST(ts AS TIMESTAMP))) - $gapMs) * 1000 AS wm_us
       |  FROM events)
       |SELECT user_id, session_start, session_end, n_events, session_value
       |FROM base, wm
       |WHERE epoch_us(session_end) + $GapUs <= wm_us
       |ORDER BY user_id, session_start""".stripMargin

  type Q = (SparkSession, String) => org.apache.spark.sql.DataFrame
  val queries: Map[String, Q] = Map[String, Q](
    "stream_session_state" -> (streamSessionState _))
  val oracles: Map[String, String] = Map(
    "stream_session_state" -> streamSessionStateOracle)
}
