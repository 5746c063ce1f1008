package etlbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload in a fresh JVM.
  *
  * Usage: etlbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --work <dir> --params <params.json>
  *   --digests <expected_digests.json> --out <result.json>
  *
  * Writes the run's result (metrics, checks, samples, provenance) to
  * `--out`; with tracing on, also the spans and self times to
  * `<work>/trace.json`. Exits 1 when an output check fails.
  */
object Main {
  private val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val jvmS = Jvm.uptimeS
    val a = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = a.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    val name = arg("workload")
    val seed = arg("seed").toLong
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val work = new File(arg("work")).getAbsolutePath
    val conf = Conf.load(arg("params"), arg("digests"))
    val workload = Workload(name)

    val t0 = System.nanoTime()
    val spark = session(conf.cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val meter = new Meter(traced)
    meter.spark.foreach(spark.sparkContext.addSparkListener)
    val ctx = Ctx(spark, meter, work, seed, conf)

    // set-up: staging repeated (median), then the unmeasured cold pass
    val staging = (1 to conf.setupRepeats).map { _ =>
      val s0 = System.nanoTime(); workload.stage(ctx); (System.nanoTime() - s0) / 1e9
    }
    val c0 = System.nanoTime()
    val cpu0 = ThreadCpu.totalNs
    workload.cold(ctx)
    val coldCpuS = (ThreadCpu.totalNs - cpu0) / 1e9
    val coldS = (System.nanoTime() - c0) / 1e9
    val setupS = jvmS + sessionS + Stats.median(staging) + coldS
    val heapSetup = Jvm.heapAfterGcMb()

    meter.measuring = true
    val gc0 = Jvm.gcMillis
    val m0 = System.nanoTime()
    // The measured work is a fixed count of operations sized to take about
    // --seconds; a run that takes three times that stops and fails instead
    // of measuring less work than its parent.
    val skipped = workload.measure(ctx, m0 + (3 * seconds * 1e9).toLong)
    val measuredS = (System.nanoTime() - m0) / 1e9
    meter.measuring = false
    val jvmGcS = (Jvm.gcMillis - gc0) / 1000.0
    val heapPeak = math.max(heapSetup, Jvm.heapAfterGcMb())

    val k0 = System.nanoTime()
    val checks = workload.check(ctx)
    val layer = workload.layerMetrics(ctx)
    val checkS = (System.nanoTime() - k0) / 1e9

    val warm = meter.ops.toSeq
    val lat = warm.filter(_.ok).map(_.wallNs / 1e9)
    val cpu = warm.filter(_.ok).map(_.cpuNs / 1e9)
    val failedOps = warm.count(!_.ok) + meter.coldOps.count(!_.ok) + skipped
    val failedChecks = checks.count(!_._2)
    // Op costs are CPU seconds of the JVM's Java threads (ThreadCpu): on a
    // shared 4-core VM other tenants stretched whole runs' wall time by up
    // to 2x, CPU time far less. The wall-clock latencies are reported per
    // layer and in samples.
    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "cold_pass_cpu_s" -> coldCpuS,
      "op_cpu_p50_s" -> Stats.percentile(cpu, 50),
      "op_cpu_p75_s" -> Stats.percentile(cpu, 75),
      "heap_after_gc_peak_mb" -> heapPeak)
    val wall = Map(
      "op.wall_p50_s" -> Stats.percentile(lat, 50),
      "op.wall_p75_s" -> Stats.percentile(lat, 75),
      "op.per_s" -> lat.size / math.max(lat.sum, 1e-9),
      "op.cold_pass_s" -> coldS)

    val perLayer = mutable.LinkedHashMap[String, Double]()
    if (traced) {
      perLayer("session.build_s") = sessionS
      perLayer("jvm.gc_s") = jvmGcS
      perLayer ++= wall
      perLayer ++= meter.counters
      perLayer ++= layer
      perLayer ++= sparkMetrics(spark, meter, warm)
      perLayer ++= writeTrace(work, meter, warm)
    }

    val out = mapper.createObjectNode()
    out.put("workload", name).put("seed", seed).put("traced", traced)
    out.put("correct", failedChecks == 0 && failedOps == 0)
    out.put("attempted", meter.coldOps.size + meter.ops.size + skipped + checks.size)
    out.put("failed", failedOps + failedChecks)
    val mo = out.putObject("metrics")
    (if (traced) perLayer else metrics).foreach { case (k, v) => mo.put(k, v) }
    val e2e = out.putObject("end_to_end")
    metrics.foreach { case (k, v) => e2e.put(k, v) }
    val samples = out.putObject("samples")
    samples.put("measured_ops", warm.size).put("skipped_ops", skipped).put("measured_s", measuredS)
      .put("check_s", checkS)
      .put("staging_s", staging.mkString(","))
    wall.foreach { case (k, v) => samples.put(k, v) }
    if (lat.size >= 2) {
      val (q1, q2, q3) = Stats.quartiles(lat)
      samples.put("op_q1_s", q1).put("op_q2_s", q2).put("op_q3_s", q3)
    }
    val opCpu = samples.putArray("op_cpu_s")
    warm.filter(_.ok).foreach(o => opCpu.add(o.cpuNs / 1e9))
    val perOpCpu = samples.putObject("op_median_cpu_s")
    warm.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      perOpCpu.put(n, Stats.median(os.map(_.cpuNs / 1e9))) }
    val perOp = samples.putObject("op_median_s")
    warm.filter(_.ok).groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, os) =>
      perOp.put(n, Stats.median(os.map(_.wallNs / 1e9))) }
    val perCold = samples.putObject("cold_op_s")
    meter.coldOps.filter(_.kind != "warmup").foreach(o => perCold.put(o.name, o.wallNs / 1e9))
    Stats.highestSupportedPercentile(lat.size, Seq(50, 75, 90, 95, 99))
      .foreach(p => samples.put("highest_supported_percentile", p))
    val co = out.putArray("checks")
    checks.foreach { case (n, ok, detail) => co.addObject().put("name", n).put("ok", ok).put("detail", detail) }
    val prov = out.putObject("provenance")
    prov.put("spark_master", spark.sparkContext.master)
      .put("cores", conf.cores)
      .put("available_processors", Runtime.getRuntime.availableProcessors)
      .put("max_heap_mb", Runtime.getRuntime.maxMemory / 1048576)
      .put("java_version", sys.props("java.version"))
      .put("java_vm", sys.props("java.vm.name"))
      .put("spark_version", spark.version)
      .put("scala_version", scala.util.Properties.versionNumberString)
      .put("seed", seed).put("seconds", seconds)
    if (name == "etl_daily") {
      val p = conf.etl
      prov.put("projects_per_day", p.projects).put("page_limit", p.pageLimit)
    } else {
      val w = conf.workload(name)
      prov.put("scale", w.scale).put("data_seed", w.dataSeed)
        .put("keys_sha256", sha256(w.keys.mkString("\n")))
      out.set[ObjectNode]("observed_digests", conf.observedJson(name))
    }
    JFiles.write(Paths.get(arg("out")),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(out))

    spark.stop()
    if (failedChecks > 0) {
      checks.filterNot(_._2).foreach { case (n, _, d) => System.err.println(s"CHECK FAILED $n: $d") }
      sys.exit(1)
    }
  }

  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("etlbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def sha256(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8)).map("%02x".format(_)).mkString

  /** Jobs and stages of the listener attributed to the measured operation
    * whose interval contains their start. */
  private def sparkMetrics(spark: SparkSession, meter: Meter,
      ops: Seq[OpRec]): Map[String, Double] = {
    val sm = meter.spark.get
    org.apache.spark.BenchBus.drain(spark.sparkContext, 10000L)
    def opOf(ms: Long) = ops.find(o => ms >= o.startMs && ms <= o.endMs)
    sm.synchronized {
      val jobs = sm.jobs.values.toSeq.flatMap(j => opOf(j.startMs).map(_ -> j))
      val stages = sm.stages.toSeq.filter(st => opOf(st.submitMs).isDefined)
      val byOp = jobs.groupBy(_._1.id)
      val driverMs = ops.map { o =>
        val iv = byOp.getOrElse(o.id, Nil).map { case (_, j) =>
          (j.startMs, if (j.endMs < 0) o.endMs else j.endMs) }
        (o.endMs - o.startMs) - Spans.covered(iv, o.startMs, o.endMs)
      }.sum
      // jobs started inside a layer's spans, for the layers that own no op
      val offset = System.currentTimeMillis() - System.nanoTime() / 1000000L
      def layerJobs(layer: String) = {
        val iv = meter.tracer.spans.filter(s => s.layer == layer && s.op >= 0)
          .map(s => (s.startNs / 1000000L + offset, s.endNs / 1000000L + offset))
        jobs.count { case (_, j) => iv.exists { case (a, b) => j.startMs >= a && j.startMs <= b } }
      }
      Map(
        "spark.jobs_per_op" -> jobs.size.toDouble / math.max(ops.size, 1),
        "spark.driver_s" -> driverMs / 1000.0,
        "spark.stages" -> stages.size.toDouble,
        "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
        "spark.executor_run_s" -> stages.map(_.runMs).sum / 1000.0,
        "spark.shuffle_write_bytes" -> stages.map(_.shuffleWrite).sum.toDouble,
        "spark.shuffle_read_bytes" -> stages.map(_.shuffleRead).sum.toDouble,
        "spark.spill_bytes" -> stages.map(_.spill).sum.toDouble,
        "spark.gc_s" -> stages.map(_.gcMs).sum / 1000.0,
        "model.scan_bytes" -> stages.map(_.inputBytes).sum.toDouble,
        "model.scan_rows" -> stages.map(_.inputRows).sum.toDouble,
        "flatten.jobs" -> layerJobs("flatten").toDouble,
        "sink.jobs" -> layerJobs("sink").toDouble)
    }
  }

  /** Writes every span with its self time, and returns the per-layer self
    * times plus the operations' unattributed remainder. */
  private def writeTrace(work: String, meter: Meter, ops: Seq[OpRec]): Map[String, Double] = {
    val spans = meter.tracer.spans.toSeq
    val self = Spans.selfNs(spans)
    val measuredOps = ops.map(_.id).toSet
    val inOps = spans.filter(s => measuredOps(s.op))
    val byLayer = inOps.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum / 1e9 }
    val root = mapper.createObjectNode()
    val arr = root.putArray("spans")
    val base = spans.headOption.map(_.startNs).getOrElse(0L)
    spans.foreach { s =>
      arr.addObject().put("id", s.id).put("parent", s.parent).put("op", s.op)
        .put("name", s.name).put("start_ms", (s.startNs - base) / 1e6)
        .put("end_ms", (s.endNs - base) / 1e6).put("self_ms", self(s.id) / 1e6)
    }
    val lo = root.putObject("layer_self_s")
    byLayer.toSeq.sortBy(_._1).foreach { case (l, v) => lo.put(l, v) }
    JFiles.write(Paths.get(work, "trace.json"), mapper.writeValueAsBytes(root))
    Map("trace.spans" -> spans.size.toDouble,
      "op.unattributed_s" -> byLayer.getOrElse("op", 0.0)) ++
      byLayer.filter(_._1 != "op").map { case (l, v) => s"$l.self_s" -> v }
  }
}
