package etlbench

import java.util.SplittableRandom

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import graft.source.Transport

/** Shape of one simulated day of the Monday.com boards. */
final case class EtlParams(projects: Int, lowDayProjects: Int,
    subitemsMin: Int, subitemsMax: Int, personnel: Int, travel: Int,
    suppliers: Int, pageLimit: Int, transientFailureRate: Double,
    lowEvery: Int, retryEvery: Int, compactEvery: Int, alertMinRows: Long,
    warmupDays: Int, measuredDays: Int, compactTargetBytes: Long)

/** Seeded generator of Monday.com GraphQL items, one day at a time.
  *
  * Every day carries the planted edge cases of the repository's Monday
  * fixture: empty text, non-numeric numbers, malformed and one-part
  * timelines, malformed and empty board_relation values, null and empty
  * subitems; boards larger than the page limit span several cursor pages.
  * One day in every `lowEvery` (its position seeded) is a low-row day whose
  * subitem count falls below `alertMinRows`, and one day in every
  * `retryEvery` is re-run, as a cron retry would be.
  */
object MondayGen {
  val boards: Seq[(String, String)] = Seq(
    "projects" -> "8113598675", "personnel" -> "8113598810",
    "travel" -> "8113598920", "suppliers" -> "8113599030")

  /** The five flattened tables. */
  val tables: Seq[String] = Seq("projects", "project_subitems",
    "personnel_costs", "travel_costs", "supplier_costs")

  final case class Day(index: Int, date: String, low: Boolean, retry: Boolean,
      items: Map[String, Seq[ObjectNode]], expected: Map[String, Long])

  private val mapper = new ObjectMapper()
  private val People = Seq("Mario Rossi", "Anna Bianchi", "Luca Verdi", "Sara Neri", "Paolo Gallo")
  private val Stati = Seq("Won", "Lost", "In Pipeline", "Negotiation")
  private val Circoli = Seq("Radical", "WoW", "GCC", "BDTC")
  private val Tipologie = Seq("Consulting", "Delivery", "Training")

  def rng(seed: Long, salt: Long*): SplittableRandom =
    new SplittableRandom(salt.foldLeft(seed * 0x9E3779B97F4A7C15L)((h, s) =>
      java.lang.Long.rotateLeft(h ^ (s * 0xBF58476D1CE4E5B9L), 31) * 0x94D049BB133111EBL))

  /** True for the one seeded day of each block of `every` days. */
  def marked(seed: Long, day: Int, every: Int, salt: Long): Boolean =
    every > 0 && rng(seed, salt, day / every).nextInt(every) == day % every

  def dateOf(day: Int): String = java.time.LocalDate.of(2025, 1, 6).plusDays(day).toString

  private def cv(id: String, text: String, value: String = null,
      tpe: String = null, title: String = null): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", id).put("text", text).put("value", value)
    if (tpe != null) n.putObject("column").put("id", id)
      .put("title", if (title == null) id else title).put("type", tpe)
    n
  }

  private def item(id: String, name: String, created: String, updated: String,
      cvs: Seq[ObjectNode]): ObjectNode = {
    val n = mapper.createObjectNode()
    n.put("id", id).put("name", name).put("created_at", created).put("updated_at", updated)
    val arr = n.putArray("column_values")
    cvs.foreach(arr.add)
    n
  }

  private def json(v: Any): String = mapper.writeValueAsString(v)

  def day(seed: Long, d: Int, p: EtlParams): Day = {
    val date = dateOf(d)
    val low = marked(seed, d, p.lowEvery, 11)
    val retry = marked(seed, d, p.retryEvery, 23)
    val r = rng(seed, 1, d)
    val ts = (h: Int, m: Int) => f"${date}T$h%02d:$m%02d:00Z"

    // ---- projects with nested subitems --------------------------------------
    val nProjects = if (low) p.lowDayProjects else p.projects
    var nSub = 0L
    val projects = mutable.ArrayBuffer[ObjectNode]()
    for (i <- 0 until nProjects) {
      val pid = (100000 + i).toString
      val start = f"2025-0${1 + i % 5}-${10 + i % 18}%02d"
      val it = item(pid, s"Project $pid", "2024-12-02T08:00:00Z", ts(7, i % 60), Seq(
        cv("person", People(r.nextInt(People.size))),
        cv("date4", start, json(java.util.Map.of("date", start))),
        cv("status__1", if (r.nextBoolean()) "VAR" else "NON VAR"),
        cv("status_1", Circoli(i % 4)), cv("status0", Tipologie(i % 3)),
        cv("status1", Stati((i + d) % 4)), cv("status6", if (i % 5 == 0) "Chiuso" else "Aperto")))
      val subs = it.putArray("subitems")
      val n = p.subitemsMin + r.nextInt(p.subitemsMax - p.subitemsMin + 1)
      for (q <- 0 until n) {
        val rev = "%.2f".formatLocal(java.util.Locale.ROOT, 500 + r.nextDouble() * 19500)
        subs.add(item(s"${pid}${"%02d".format(q)}", s"Phase ${q + 1} of P$pid",
          ts(8, q % 60), ts(9, q % 60), Seq(
            cv("numbers9", rev, json(rev), "numbers", "Revenue"),
            cv("person", People(r.nextInt(People.size)), tpe = "person", title = "PO"),
            cv("timeline3", s"2025-0${1 + q % 3}-01 - 2025-0${4 + q % 3}-28",
              tpe = "timeline", title = "Timeline"),
            cv("status2", Seq("In corso", "Completato", "Bloccato")(q % 3),
              tpe = "status", title = "Status"))))
      }
      nSub += n
      projects += it
    }
    // planted edge cases (stable ids, every day)
    projects += item("901", "Edge empty", "2024-12-02T08:00:00Z", ts(7, 0),
      Seq("person", "date4", "status__1", "status_1", "status0", "status1", "status6")
        .map(cv(_, "")))
    projects.last.putArray("subitems")
    projects += item("902", "Edge malformed", "2024-12-02T08:00:00Z", ts(7, 0),
      Seq(cv("date4", "30/06/2025"), cv("status_1", "Radical")))
    projects.last.putNull("subitems")
    val edgeSubs = Seq(
      Seq(cv("numbers9", "N/A", tpe = "numbers", title = "Revenue"),
        cv("timeline3", "TBD", tpe = "timeline", title = "Timeline")),
      Seq(cv("status2", "FIRST", tpe = "status", title = "Status"),
        cv("status3", "SECOND", tpe = "status", title = "Status B"),
        cv("numbers9", "", tpe = "numbers", title = "Revenue")),
      Seq(cv("timeline3", "2025-01-01 - 2025-02-01 - 2025-03-01", tpe = "timeline", title = "Timeline")),
      Seq(cv("timeline3", "2025-01-01 - garbage", tpe = "timeline", title = "Timeline"),
        cv("numbers9", "12500.5", tpe = "numbers", title = "Revenue")),
      Seq(cv("timeline3", "garbage - 2025-03-31", tpe = "timeline", title = "Timeline")))
    val edge = item("903", "Edge subitems", "2024-12-03T08:00:00Z", ts(7, 0),
      Seq(cv("person", "Mario Rossi")))
    val edgeArr: ArrayNode = edge.putArray("subitems")
    edgeSubs.zipWithIndex.foreach { case (cvs, k) =>
      edgeArr.add(item(s"903$k", s"edge subitem $k", ts(8, 0), ts(9, 0), cvs))
    }
    projects += edge
    nSub += edgeSubs.size

    // ---- flat cost boards -----------------------------------------------------
    def costs(board: String, n: Int, base: Int, rel: String): Seq[ObjectNode] = {
      val rb = rng(seed, 2, d, base)
      val out = (0 until n).map { i =>
        val linked = 100000 + rb.nextInt(math.max(nProjects, 1))
        val relValue = json(java.util.Map.of("linkedPulseIds",
          java.util.List.of(java.util.Map.of("linkedPulseId", linked))))
        val amount = "%.2f".formatLocal(java.util.Locale.ROOT, 50 + rb.nextDouble() * 4950)
        val extra = board match {
          case "personnel" => Seq(cv("person", People(i % 5)), cv("numbers", amount))
          case "travel" => Seq(cv("person", People(i % 5)), cv("numbers", amount),
            cv("date", f"2025-06-${1 + i % 28}%02d"),
            cv("status", Seq("Pagata", "Da pagare")(i % 2)),
            cv("dropdown", Seq("Carta", "Bonifico", "Contanti")(i % 3)))
          case _ => Seq(cv("numbers", amount),
            cv("numbers8", "%.2f".formatLocal(java.util.Locale.ROOT, amount.toDouble * 0.22)),
            cv("status", Tipologie(i % 3)),
            cv("status_1", Seq("Ordinato", "Consegnato", "Fatturato")(i % 3)))
        }
        item((base + i).toString, s"$board cost ${base + i}", "2024-12-05T09:00:00Z",
          ts(10, i % 60), cv(rel, s"Phase link $linked", relValue) +: extra)
      }
      out ++ Seq(
        item(s"${base}901", s"$board edge badjson", "2024-12-05T09:00:00Z", ts(10, 0),
          Seq(cv(rel, "Phase link broken", "{not json"), cv("numbers", "abc"))),
        item(s"${base}902", s"$board edge emptylink", "2024-12-05T09:00:00Z", ts(10, 0),
          Seq(cv(rel, "Phase link empty", json(java.util.Map.of("linkedPulseIds",
            java.util.List.of()))), cv("numbers", ""))),
        item(s"${base}903", s"$board edge norel", "2024-12-05T09:00:00Z", ts(10, 0),
          if (board == "travel") Seq(cv("date", "not-a-date"), cv("status", ""))
          else Seq(cv("person", ""))))
    }
    val personnel = costs("personnel", p.personnel, 700000, "board_relation1")
    val travel = costs("travel", p.travel, 750000, "board_relation39")
    val suppliers = costs("suppliers", p.suppliers, 800000, "board_relation")

    Day(d, date, low, retry,
      Map("projects" -> projects.toSeq, "personnel" -> personnel,
        "travel" -> travel, "suppliers" -> suppliers),
      Map("projects" -> projects.size.toLong, "project_subitems" -> nSub,
        "personnel_costs" -> personnel.size.toLong,
        "travel_costs" -> travel.size.toLong,
        "supplier_costs" -> suppliers.size.toLong))
  }

  /** The whole day as one canonical string (the determinism check). */
  def render(day: Day): String =
    boards.map { case (b, _) => b + ":" + day.items(b).map(_.toString).mkString("\n") }
      .mkString("\n")
}

/** Canned GraphQL endpoint serving one day's boards with cursor paging.
  * Each page's first request fails with probability `failureRate` (seeded),
  * so the client's bounded retry is exercised without ever failing a call
  * outright. */
final class CannedTransport(day: MondayGen.Day, limit: Int, seed: Long,
    failureRate: Double) extends Transport {
  private val mapper = new ObjectMapper()
  private val BoardRe = """boards\(ids: \[(\d+)\]\)""".r.unanchored
  private val CursorRe = """cursor: "c(\d+)"""".r.unanchored
  private val failed = mutable.Set[String]()
  var failures = 0
  var pages = 0

  override def post(query: String): String = {
    val boardId = query match {
      case BoardRe(id) => id
      case _ => throw new IllegalArgumentException(s"no board id in query: $query")
    }
    val (board, _) = MondayGen.boards.find(_._2 == boardId).getOrElse(
      throw new IllegalArgumentException(s"unknown board $boardId"))
    val offset = query match {
      case CursorRe(o) => o.toInt
      case _ => 0
    }
    val key = s"$board:$offset"
    if (!failed(key) &&
        MondayGen.rng(seed, 3, day.index, key.hashCode).nextDouble() < failureRate) {
      failed += key
      failures += 1
      throw new java.io.IOException(s"transient failure on $key")
    }
    pages += 1
    val all = day.items(board)
    val page = all.slice(offset, offset + limit)
    val root = mapper.createObjectNode()
    val b = root.putObject("data").putArray("boards").addObject()
    b.put("id", boardId).put("name", board)
    val ip = b.putObject("items_page")
    ip.put("cursor", if (offset + limit < all.size) s"c${offset + limit}" else null)
    val arr = ip.putArray("items")
    page.foreach(arr.add)
    root.toString
  }
}
