package etlbench

import java.io.File

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

final case class KeyWorkload(keys: Seq[String], scale: Double, dataSeed: Long,
    warmupPasses: Int, passes: Int)

/** The benchmark's parameters (`params.json`) and the expected result
  * digests (`expected_digests.json`). */
final class Conf(params: JsonNode, digests: JsonNode) {
  private val observedDigests = mutable.LinkedHashMap[String, mutable.LinkedHashMap[String, String]]()

  def cores: Int = params.path("cores").asInt(4)
  def setupRepeats: Int = params.path("setup_repeats").asInt(3)

  def workload(name: String): KeyWorkload = {
    val w = params.path("workloads").path(name)
    require(w.isObject, s"no parameters for workload $name")
    KeyWorkload(w.path("keys").elements().asScala.map(_.asText).toSeq,
      w.path("scale").asDouble(), w.path("data_seed").asLong(),
      w.path("warmup_passes").asInt(0), w.path("measured_passes").asInt(1))
  }

  def etl: EtlParams = {
    val e = params.path("workloads").path("etl_daily")
    require(e.isObject, "no parameters for workload etl_daily")
    def i(k: String) = { require(e.has(k), s"etl_daily.$k missing"); e.path(k).asInt() }
    EtlParams(i("projects_per_day"), i("low_day_projects"), i("subitems_min"),
      i("subitems_max"), i("personnel_per_day"), i("travel_per_day"),
      i("suppliers_per_day"), i("page_limit"), e.path("transient_failure_rate").asDouble(),
      i("low_day_every"), i("retry_day_every"), i("compact_every"), i("alert_min_rows").toLong,
      i("warmup_days"), i("measured_days"), e.path("compact_target_bytes").asLong())
  }

  /** Expected digests of a key workload; they are only valid for the
    * scale and data seed they were recorded at. */
  def expectedDigests(name: String): Map[String, String] = {
    val d = digests.path(name)
    val w = workload(name)
    if (d.path("scale").asDouble(-1) != w.scale || d.path("data_seed").asLong(-1) != w.dataSeed) Map.empty
    else d.path("digests").fields().asScala.map(e => e.getKey -> e.getValue.asText).toMap
  }

  def observed(name: String, key: String, digest: String): Unit =
    observedDigests.getOrElseUpdate(name, mutable.LinkedHashMap()).update(key, digest)

  /** The digests seen in this run, in the file format, for recording. */
  def observedJson(name: String): JsonNode = {
    val m = new ObjectMapper()
    val w = workload(name)
    val o = m.createObjectNode()
    o.put("scale", w.scale).put("data_seed", w.dataSeed)
    val d = o.putObject("digests")
    observedDigests.getOrElse(name, mutable.LinkedHashMap()).foreach { case (k, v) => d.put(k, v) }
    o
  }
}

object Conf {
  def load(params: String, digests: String): Conf = {
    val m = new ObjectMapper()
    val d = new File(digests)
    new Conf(m.readTree(new File(params)),
      if (d.exists()) m.readTree(d) else m.createObjectNode())
  }
}
