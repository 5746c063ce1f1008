package graft
import org.apache.spark.sql.SparkSession

/** Per-round benchmark: every SparkEntry query on SPARK_GRAFT_SF_DIR.
  *
  * Methodology (fixes the round-1 harness flaws):
  *  - full unmeasured warmup pass first, so JVM/codegen/parquet-footer
  *    warmup is not charged to whichever query runs first;
  *  - deterministic (sorted) query order;
  *  - materialization via a noop-format write, which consumes every row of
  *    every column — `.count()` let Catalyst drop sorts and projections;
  *  - failures are reported per-query in an "errors" map instead of being
  *    recorded as a normal-looking wall time.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      // the generated-class cache defaults to 100 entries — a 147-query
      // suite evicts everything between passes, so every measured pass
      // re-compiles (Janino) and re-JITs each key's WholeStageCodegen
      // classes. That charged complex-plan keys a ~1.3-1.4x "suite
      // context" tax vs isolated runs (graph_pagerank 3.1s alone /
      // 4.3s mid-suite, r7 — confirmed by pairing experiments: the key
      // is fast exactly when it follows itself). Sized for the suite,
      // as any real many-query deployment would.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    // optional arg: comma-separated key filter for local iteration — the
    // driver's full run passes no args
    val only: Option[Set[String]] =
      if (args.nonEmpty) Some(args(0).split(",").toSet) else None
    val ordered = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .sortBy(_._1)
    // plan fingerprints (r11 VERDICT item 8): a hash of each key's
    // COMPILE-TIME physical plan skeleton (node names in tree order,
    // expression IDs and AQE runtime choices excluded), captured for free
    // on the warmup pass. Round-over-round, a changed fp means "the plan
    // changed"; an unchanged fp with a drifted time means "the box
    // changed" — the distinction the r10 drift trio took two rounds to
    // settle by hand.
    val fps = scala.collection.mutable.LinkedHashMap[String, String]()
    def planFp(p: org.apache.spark.sql.execution.SparkPlan): String = {
      def skel(q: org.apache.spark.sql.execution.SparkPlan): String =
        q.nodeName + "(" + q.children.map(skel).mkString(",") + ")"
      java.security.MessageDigest.getInstance("MD5")
        .digest(skel(p).getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(16)
    }
    def materialize(name: String, recordFp: Boolean = false): Unit = {
      val df = SparkEntry.queries(name)(spark, sfDir)
      if (recordFp) fps(name) = planFp(df.queryExecution.sparkPlan)
      df.write.mode("overwrite").format("noop").save()
    }

    // derived-artifact staging per key (r13 VERDICT item 3): every
    // `Artifacts.derive` build (graphs, clusterings, ANN indexes, LSH
    // pairs, staged source fixtures, the DPP layout, the corpus table)
    // runs once per JVM inside whichever key touches it first — during
    // THIS warmup pass. Metering the warmup per key attributes that
    // one-time cost instead of letting it vanish (or, in a filtered run
    // without full warmup, inflate a measured pass unexplained).
    val artStaging = scala.collection.mutable.LinkedHashMap[String, Double]()
    def drainArtifact(name: String): Unit = {
      val a = graft.Artifacts.drainNanos() / 1e9
      if (a > 0.005 && a > artStaging.getOrElse(name, 0.0)) artStaging(name) = a
    }

    // warmup: run everything once, unmeasured (and fingerprint the plans)
    ordered.foreach { case (name, _) =>
      graft.Artifacts.drainNanos()
      try materialize(name, recordFp = true) catch { case _: Throwable => () }
      drainArtifact(name)
    }

    // three measured passes, per-query min: robust to transient system load
    // (this box is shared; a single pass was ±35% run to run)
    val times = scala.collection.mutable.LinkedHashMap[String, Double]()
    // staged-stream keys: wall time spent in fixture staging (file writes,
    // sentinel probes) within the key's best pass, reported separately so
    // the artifact distinguishes harness round-trip cost from the query
    // itself (the `queries` number stays the TOTAL, comparable to prior
    // rounds; staging is the slice of it the stream plan never sees)
    val staging = scala.collection.mutable.LinkedHashMap[String, Double]()
    // streaming keys: executed micro-batch count of the best pass (r12
    // VERDICT item 6 — the plan_fp move for streams: a drifted stream
    // timing with an unchanged batch count attributes to the box, a
    // changed count to the key's trigger structure)
    val batches = scala.collection.mutable.LinkedHashMap[String, Long]()
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    // a query is OK iff at least one measured pass succeeded (timing = min
    // of the successful passes); `errors` holds only queries that NEVER
    // succeeded — so n_ok + n_err always equals the key count and a
    // currently-flaky query can't appear in both maps at once
    def measure(name: String): Unit = {
      // drain the previous keys' leftover state before timing this one.
      // Two sources of inherited debt: (a) localCheckpoint BLOCKS from
      // completed invocations sit in the BlockManager until the async
      // ContextCleaner gets around to them — every prior invocation is
      // fully materialized (noop write), so those blocks are dead weight;
      // unpersist them synchronously (r7 — checkpoint-heavy keys were
      // inflated ~1.5x in-suite vs isolated: graph_pagerank 2.8s alone,
      // 4.1-4.3s mid-suite); (b) plain heap garbage — System.gc() (r4).
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      // (c) the 25 streaming keys leave their memory-sink tables (full
      // result rows on the driver heap) registered as temp views for the
      // life of the session — 3-5 measured passes x 25 keys of dead
      // tables by the time the suite reaches the memory-hungry wedge
      // keys (r14: graph_triangles measured 18.9s mid-suite vs 3.3s
      // isolated on an identical plan). Every key stages or registers
      // what it reads per invocation, so dropping ALL temp views (and
      // any cached relations) between keys can never starve the next
      // key — it only releases dead weight. Same rationale as (a)/(b):
      // this is harness drainage outside the timed region, not a
      // methodology change.
      spark.catalog.clearCache()
      spark.catalog.listTables().collect()
        .filter(_.isTemporary).map(_.name)
        .foreach(spark.catalog.dropTempView)
      System.gc()
      graft.streaming.StreamQueries.drainStagingNanos() // reset the meters
      graft.streaming.StreamQueries.drainBatchCount()
      graft.Artifacts.drainNanos()
      val t0 = System.nanoTime()
      try {
        materialize(name)
        val dt = (System.nanoTime() - t0) / 1e9
        val stg = graft.streaming.StreamQueries.drainStagingNanos() / 1e9
        val nb = graft.streaming.StreamQueries.drainBatchCount()
        drainArtifact(name) // a measured-pass rebuild (cache miss) still attributes
        if (times.get(name).forall(dt < _)) {
          times(name) = dt
          if (stg > 0.005) staging(name) = stg else staging.remove(name)
          if (nb > 0) batches(name) = nb else batches.remove(name)
        }
        errors.remove(name)  // a transient earlier failure is not an error
      } catch {
        case e: Throwable if !times.contains(name) =>
          errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\\n\\r\\t]", " ").take(200)
        case _: Throwable => () // already has a good pass; keep its timing
      }
    }
    (1 to 3).foreach(_ => ordered.foreach { case (name, _) => measure(name) })
    // variance pinning (r4 verdict: three sub-2.5s keys drifted >1.25x
    // between rounds with NO code change — scheduler noise dominates short
    // keys): fast keys get two extra measured passes, so their reported
    // min is a 5-sample min and round-over-round drift on unchanged keys
    // stays inside the claimed band. Heavy keys keep 3 passes — their
    // runtime already averages the noise, and 2 extra passes of the slow
    // tail would double the bench wall time for no precision gain.
    (1 to 2).foreach { _ =>
      ordered.foreach { case (name, _) =>
        if (times.get(name).exists(_ < 1.5)) measure(name)
      }
    }

    // locale-pinned numeric formatting: the f-interpolator uses the default
    // JVM locale, which on comma-decimal locales emits unparseable "JSON"
    def f2(v: Double): String =
      String.format(java.util.Locale.US, "%.2f", Double.box(v))
    val qs = times.map { case (k, v) => "\"" + k + "\":" + f2(v) }
      .mkString("{", ",", "}")
    val st = staging.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    val ast = artStaging.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val fp = fps.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }
      .mkString("{", ",", "}")
    val nb = batches.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = times.values.sum
    val line =
      s"""{"metric":"total","value":${f2(total)},"unit":"sec","queries":$qs,"staging_sec":$st,"artifact_staging_sec":$ast,"micro_batches":$nb,"plan_fp":$fp,"errors":$es,"n_ok":${times.size},"n_err":${errors.size},"sf":"$sfDir"}"""
    // the driver parses a BOUNDED (2000-char) log tail; with 100+ keys the
    // full line is ~4.5k chars and can NEVER fit intact, and even printing
    // it once risks the captured window landing mid-line (r9: the driver
    // artifact held a clipped middle of the full line). So the full line
    // goes ONLY to the file, and stdout carries exactly one JSON line —
    // the compact summary — small enough for any tail window.
    // SPARK_GRAFT_BENCH_OUT redirects the full artifact (e.g. the sf1
    // rehearsal writes BENCH_SF1.json); without it a filtered run must
    // not clobber the committed full artifact
    sys.env.get("SPARK_GRAFT_BENCH_OUT") match {
      case Some(p) => java.nio.file.Files.writeString(
        java.nio.file.Paths.get(p), line + "\n")
      case None if only.isEmpty => java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), line + "\n")
      case _ => ()
    }
    // slowest-12 ranked NET of fixture staging (r10 VERDICT item 7): the
    // staged-stream keys' totals include harness round-trip file writes
    // the stream plan never sees, which used to crowd the ranking
    val netTimes = times.map { case (k, v) =>
      k -> (v - staging.getOrElse(k, 0.0)) }
    val stagingTotal = staging.values.sum
    val slow = netTimes.toSeq.sortBy(-_._2).take(12)
      .map { case (k, v) => "\"" + k + "\":" + f2(v) }.mkString("{", ",", "}")
    val summary =
      s"""{"metric":"total","value":${f2(total)},"unit":"sec","staging_total_sec":${f2(stagingTotal)},"net_value":${f2(total - stagingTotal)},"n_ok":${times.size},"n_err":${errors.size},"sf":"$sfDir","queries":$slow,"note":"slowest 12 of ${times.size} keys NET of fixture staging; full per-query timings + staging split in BENCH_LOCAL.json"}"""
    spark.stop()
    // printed AFTER spark.stop() so the summary is the genuinely last
    // stdout line of the run — the driver parses a bounded log tail
    println(summary)
    // a red key must fail the run, not just ride along in the artifact
    // (r8: six erroring keys shipped under exit code 0). The errors map is
    // printed above and persisted in BENCH_LOCAL.json before we bail.
    if (errors.nonEmpty) {
      System.err.println(
        s"BENCH FAILED: ${errors.size} erroring key(s): ${errors.keys.mkString(", ")}")
      sys.exit(1)
    }
  }
}
