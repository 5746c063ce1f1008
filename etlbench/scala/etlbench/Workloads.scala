package etlbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.flatten.Flatten
import graft.sink.Sinks
import graft.source.{MondayClient, MondayQueries}
import graft.streaming.SnapshotStream
import graft.table.VersionedTable

final case class Ctx(spark: SparkSession, meter: Meter, work: String,
    seed: Long, conf: Conf)

/** A workload: staging (repeated; its median counts toward set-up), a cold
  * pass (the first operations in the fresh JVM and the warm-up after them,
  * also part of set-up), the
  * measured closed loop over a fixed count of operations, and output checks
  * outside every timed region. */
trait Workload {
  def stage(c: Ctx): Unit
  def cold(c: Ctx): Unit
  /** Runs the measured operations; stops early once `capNs` has passed and
    * returns how many it skipped. */
  def measure(c: Ctx, capNs: Long): Int
  def check(c: Ctx): Seq[(String, Boolean, String)]
  def layerMetrics(c: Ctx): Map[String, Double] = Map.empty
}

object Workload {
  def apply(name: String): Workload = name match {
    case "etl_daily" => new EtlDaily
    case "analytics_keys" => new KeyLoop("analytics_keys")
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The module whose `queries` map registers each key. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "operators.Analytics" -> graft.operators.Analytics.queries,
    "operators.TimeSeries" -> graft.operators.TimeSeries.queries,
    "operators.DataProfile" -> graft.operators.DataProfile.queries,
    "functions.ScalarQueries" -> graft.functions.ScalarQueries.queries,
    "report.HealthReport" -> graft.report.HealthReport.queries,
    "operators.GraphOps" -> graft.operators.GraphOps.queries,
    "llm.Dedup" -> graft.llm.Dedup.queries,
    "llm.Curation" -> graft.llm.Curation.queries)

  def moduleOf(key: String): String =
    modules.find(_._2.contains(key)).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"key $key is registered by no known module"))

  /** A seeded permutation (Fisher–Yates). */
  def permute[A](xs: Seq[A], seed: Long, salt: Long): Seq[A] = {
    val a = xs.toBuffer
    val r = MondayGen.rng(seed, 7, salt)
    for (i <- a.indices.reverse if i > 0) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq
  }
}

/** A closed loop over read-only `SparkEntry` keys on generated tables:
  * the monitoring keys a dashboard session runs and the curation keys that
  * build derived artifacts and run iterative loops. The cold pass (the
  * first in the fresh JVM, in key-list order) builds every artifact; the
  * warm-up passes (set-up, as the JIT still speeds up the keys) and the
  * measured passes run warm, each in a seeded order. Every execution, cold
  * or warm, collects its rows, and their digest is checked after the timed
  * region. A key's cold time minus its warm median is its first-touch cost. */
final class KeyLoop(name: String) extends Workload {
  private var keys: Seq[String] = Nil
  private var warmupPasses = 0
  private var passes = 1
  private var dataDir = ""
  private val coldTimes = mutable.LinkedHashMap[String, Double]()
  private val digests = mutable.LinkedHashMap[String, mutable.ArrayBuffer[String]]()

  def stage(c: Ctx): Unit = {
    val w = c.conf.workload(name)
    keys = w.keys
    warmupPasses = w.warmupPasses
    passes = w.passes
    keys.foreach(Workload.moduleOf)
    dataDir = s"${c.work}/tables"
    TableGen.write(c.spark, dataDir, w.dataSeed, w.scale)
  }

  /** One execution of `key`: the rows are collected inside the timed
    * region and digested after it. */
  private def run(c: Ctx, key: String, kind: String): OpRec = {
    val module = Workload.moduleOf(key)
    var rows: Array[org.apache.spark.sql.Row] = null
    val rec = c.meter.op(kind, key) {
      c.meter.layer(s"query.$key", s"$module.busy_s") {
        rows = graft.SparkEntry.queries(key)(c.spark, dataDir).collect()
      }
    }
    digests.getOrElseUpdate(key, mutable.ArrayBuffer()) +=
      (if (rec.ok) Stats.digestRows(rows.iterator) else "failed")
    // leftover checkpoint blocks of finished keys are dead weight
    c.spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    rec
  }

  def cold(c: Ctx): Unit = {
    keys.foreach(k => coldTimes(k) = run(c, k, "cold").wallNs / 1e9)
    (0 until warmupPasses).foreach(pass =>
      Workload.permute(keys, c.seed, passes + pass).foreach(k => run(c, k, "warmup")))
  }

  def measure(c: Ctx, capNs: Long): Int = {
    val order = (0 until passes).flatMap(pass => Workload.permute(keys, c.seed, pass))
    var done = 0
    while (done < order.size && System.nanoTime() < capNs) { run(c, order(done), "query"); done += 1 }
    order.size - done
  }

  /** Each key's digests, the cold one first, against the expected one. */
  def check(c: Ctx): Seq[(String, Boolean, String)] = {
    val expected = c.conf.expectedDigests(name)
    keys.map { k =>
      val got = digests.getOrElse(k, Nil).toSeq
      c.conf.observed(name, k, got.headOption.getOrElse("missing"))
      val want = expected.getOrElse(k, "missing")
      (s"digest:$k", got.nonEmpty && got.forall(_ == want),
        s"${got.count(_ == want)}/${got.size} executions match $want")
    }
  }

  override def layerMetrics(c: Ctx): Map[String, Double] = {
    val warm = c.meter.ops.filter(o => o.kind == "query" && o.ok)
      .groupBy(_.name).map { case (k, os) => k -> Stats.median(os.map(_.wallNs / 1e9).toSeq) }
    Map("artifacts.first_touch_s" -> coldTimes.map { case (k, t) =>
      t - warm.getOrElse(k, t) }.sum)
  }
}

/** The daily ETL replayed over consecutive simulated days: source →
  * raw landing → flatten → dual-write sink → versioned history with a
  * day-over-day compare and periodic compaction → incremental alert batch. */
final class EtlDaily extends Workload {
  private var p: EtlParams = _
  private var root = ""
  private var schema: org.apache.spark.sql.types.StructType = _
  private var nextDay = 0
  private var pending: MondayGen.Day = _
  private val days = mutable.ArrayBuffer[MondayGen.Day]()
  private val dodDelta = mutable.LinkedHashMap[String, Long]()
  private val compactions = mutable.ArrayBuffer[(Int, Int)]()
  private val alerts = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  private var inputBytes = 0L
  private var measureStartFiles: Map[String, Long] = Map.empty

  private def dir(sub: String) = s"$root/$sub"
  private def versioned = dir("versioned/project_subitems")
  private val sinkDirs = Seq("current", "historical", "exactly_once")

  def stage(c: Ctx): Unit = {
    p = c.conf.etl
    root = s"${c.work}/etl"
    Sinks.deleteDir(root)
    JFiles.createDirectories(Paths.get(root))
    nextDay = 0
    days.clear(); dodDelta.clear(); compactions.clear(); alerts.clear()
    inputBytes = 0L
    pending = MondayGen.day(c.seed, 0, p)
  }

  def cold(c: Ctx): Unit = (0 until p.warmupDays).foreach(_ => runDay(c))

  def measure(c: Ctx, capNs: Long): Int = {
    measureStartFiles = sinkFiles()
    var done = 0
    while (done < p.measuredDays && System.nanoTime() < capNs) { runDay(c); done += 1 }
    p.measuredDays - done
  }

  private def sinkFiles(): Map[String, Long] =
    sinkDirs.flatMap(d => Files.filesUnder(dir(d))).map(f => f.getPath -> f.length).toMap

  /** One simulated day as one measured operation; the next day's documents
    * are generated after it, outside the timed region. */
  private def runDay(c: Ctx): OpRec = {
    val day = pending
    val rec = c.meter.op("day", day.date)(oneDay(c, day))
    days += day
    nextDay += 1
    pending = MondayGen.day(c.seed, nextDay, p)
    rec
  }

  private def oneDay(c: Ctx, day: MondayGen.Day): Unit = {
    val m = c.meter
    val s = c.spark
    // 1. source: cursor-paged pulls of the four boards
    val transport = new CannedTransport(day, p.pageLimit, c.seed, p.transientFailureRate)
    val client = new MondayClient(transport)
    val pages = m.layer("source.fetchAllPages", "source.fetch_s") {
      MondayGen.boards.map { case (board, id) =>
        board -> client.fetchAllPages(cur => MondayQueries.itemsPageQuery(id, p.pageLimit, cur))
      }
    }
    m.add("source.calls", client.calls)
    m.add("source.pages", transport.pages)
    m.add("source.retries", transport.failures)

    // 2. raw landing, then flatten into the five tables
    val landing = dir(f"landing/d${day.index}%04d")
    m.layer("land.write", "land.s") {
      pages.foreach { case (board, ps) =>
        val bdir = Paths.get(landing, board)
        JFiles.createDirectories(bdir)
        ps.zipWithIndex.foreach { case (body, k) =>
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          inputBytes += bytes.length
          JFiles.write(bdir.resolve(s"${day.date}_p$k.json"), bytes)
        }
      }
    }
    val flat: Seq[(String, DataFrame)] = MondayGen.tables.map { table =>
      val df = m.layer(s"flatten.$table", "flatten.s") {
        val d = table match {
          case "projects" => Flatten.projects(s, landing)
          case "project_subitems" => Flatten.subitems(s, landing)
          case "personnel_costs" => Flatten.personnel(s, landing)
          case "travel_costs" => Flatten.travel(s, landing)
          case "supplier_costs" => Flatten.suppliers(s, landing)
        }
        val cached = d.cache()
        m.add("flatten.rows", cached.count().toDouble)
        cached
      }
      table -> df
    }

    try {
      // 3. sink: dual-write every table; the exactly-once history of the
      // subitems is re-written on retry days, as a cron retry would
      flat.foreach { case (table, df) =>
        m.layer(s"sink.dualWrite.$table", "sink.write_s") {
          Sinks.dualWrite(df, dir(s"current/$table"), dir(s"historical/$table"))
        }
      }
      val subitems = flat.find(_._1 == "project_subitems").get._2
      val eo = dir("exactly_once/project_subitems")
      (0 until (if (day.retry) 2 else 1)).foreach { _ =>
        m.layer("sink.appendSnapshotExactlyOnce", "sink.write_s") {
          Sinks.appendSnapshotExactlyOnce(subitems, eo)
        }
      }

      // 4. versioned history: commit, day-over-day compare, compaction
      val (vPrev, vNew) = m.layer("table.commit", "table.commit_s") {
        val prev = VersionedTable.latestVersion(versioned)
        val v = if (prev < 1) VersionedTable.commit(subitems, versioned)
          else VersionedTable.commitAppend(subitems, versioned)
        (prev, v)
      }
      m.layer("table.compare", "table.read_s") {
        val today = VersionedTable.readVersion(s, versioned, vNew)
          .agg(count(lit(1)), sum(col("revenue_amount").cast("decimal(18,2)"))).head()
        val before = if (vPrev < 1) 0L else {
          // readChanges answers only from a recorded change feed; appends
          // record none, so the compare falls back to the previous snapshot
          VersionedTable.readChanges(s, versioned, vPrev, vNew) match {
            case Some(ch) => today.getLong(0) - ch.count()
            case None => VersionedTable.readVersion(s, versioned, vPrev).count()
          }
        }
        dodDelta(day.date) = today.getLong(0) - before
      }
      if (p.compactEvery > 0 && (day.index + 1) % p.compactEvery == 0) {
        m.layer("table.compact", "table.compact_s") {
          val before = VersionedTable.latestVersion(versioned)
          compactions += ((before, VersionedTable.compact(s, versioned, p.compactTargetBytes)))
        }
      }

      // 5. incremental alert batch over the historical subitems
      m.layer("streaming.runAvailableNow") {
        if (schema == null) schema = s.read.parquet(dir("historical/project_subitems")).schema
        val agg = SnapshotStream.dailyAggregates(
          SnapshotStream.snapshotStream(s, dir("historical/project_subitems"), schema),
          "revenue_amount")
        val q = SnapshotStream.runAvailableNow(agg, dir("checkpoint/alerts"), p.alertMinRows)(
          as => as.foreach(alerts.add))
        val progress = q.recentProgress
        m.add("streaming.batches", progress.length)
        m.add("streaming.batch_s", progress.map(pr =>
          Option(pr.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)).sum / 1000.0)
      }
    } finally flat.foreach(_._2.unpersist())
  }

  def check(c: Ctx): Seq[(String, Boolean, String)] = {
    val s = c.spark
    val out = mutable.ArrayBuffer[(String, Boolean, String)]()
    def perDate(path: String): Map[String, Long] =
      s.read.parquet(path).groupBy(col("extraction_date").cast("string")).count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    MondayGen.tables.foreach { table =>
      val want = days.map(d => d.date -> d.expected(table)).toMap
      val got = perDate(dir(s"historical/$table"))
      out += ((s"landed_rows:$table", got == want,
        s"${days.count(d => got.get(d.date).contains(d.expected(table)))}/${days.size} days match"))
      val cur = s.read.parquet(dir(s"current/$table")).count()
      out += ((s"current_rows:$table", cur == days.last.expected(table),
        s"got $cur want ${days.last.expected(table)}"))
    }
    val wantSub = days.map(d => d.date -> d.expected("project_subitems")).toMap
    val eo = perDate(dir("exactly_once/project_subitems"))
    out += (("exactly_once_partitions", eo == wantSub,
      s"${days.count(_.retry)} retried days; ${eo.size} partitions"))
    val latest = VersionedTable.readLatest(s, versioned).count()
    val appended = days.map(_.expected("project_subitems")).sum
    out += (("versioned_latest_rows", latest == appended, s"got $latest want $appended"))
    compactions.foreach { case (before, after) =>
      val a = Stats.digest(VersionedTable.readVersion(s, versioned, before))
      val b = Stats.digest(VersionedTable.readVersion(s, versioned, after))
      out += ((s"compact_row_set:v$before->v$after", a == b, s"$a vs $b"))
    }
    val dodOk = days.forall(d => dodDelta.get(d.date).contains(d.expected("project_subitems")))
    out += (("day_over_day_delta", dodOk, s"${dodDelta.size} compares"))
    import scala.jdk.CollectionConverters._
    val alertDays = alerts.asScala.map(_.split(":")(1)).toSet
    val lowDays = days.filter(_.low).map(_.date).toSet
    out += (("alert_days", alertDays == lowDays,
      s"alerts ${alertDays.toSeq.sorted.mkString(",")} want ${lowDays.toSeq.sorted.mkString(",")}"))
    out.toSeq
  }

  override def layerMetrics(c: Ctx): Map[String, Double] = {
    val now = sinkFiles()
    val written = now.filter { case (f, len) => !measureStartFiles.get(f).contains(len) }
    val stored = Seq("current", "historical", "versioned").map(d => Files.bytesUnder(dir(d))).sum
    val latest = VersionedTable.latestVersion(versioned)
    val live = VersionedTable.manifest(versioned, latest)
    val liveBytes = live.map(f => new java.io.File(f.stripPrefix("file:")).length).sum
    Map(
      "sink.files" -> written.size.toDouble,
      "sink.bytes" -> written.values.sum.toDouble,
      "sink.stored_bytes_per_input_byte" -> stored.toDouble / math.max(inputBytes, 1L),
      "table.files_latest" -> live.size.toDouble,
      "table.bytes_per_live_byte" ->
        Files.bytesUnder(dir("versioned/project_subitems/data")).toDouble / math.max(liveBytes, 1L))
  }
}
