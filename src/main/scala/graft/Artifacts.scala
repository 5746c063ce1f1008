package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.sink.Sinks

/** The one derived-artifact cache: every frame a key derives from its
  * source once and serves from disk after that (the pagerank edge graph,
  * the oriented co-purchase graph, the strong-tie graph and its blessed
  * clusterings, the incremental-LP fact/graph stage, the ANN index
  * fixtures, the LSH verified pairs, the DPP layout, the staged source
  * fixtures, the bloom-indexed corpus table). A deployment materializes
  * these in the pipeline that lands the source, not per query; here each
  * is built at most once per (kind, source, fingerprint) by whichever key
  * touches it first.
  *
  * Invalidation is written once: the key is the source's relative
  * name/mtime/size fingerprint (`Sinks.metadataFingerprint`), never bare
  * mtime, so an in-place rewrite that keeps the mtime still rebuilds (the
  * r10 lesson). A new fingerprint deletes the superseded root, so a
  * long-lived JVM holds one root per (kind, source). All roots live under
  * one pid-scoped namespace removed by one shutdown hook; other JVMs'
  * namespaces are never touched.
  *
  * Builds are metered: the wall time of every build accumulates until
  * `drainNanos`, which Bench drains around every key (warmup included) and
  * records per key as `artifact_staging_sec` — a key that happens to
  * first-touch an expensive artifact is attributable instead of just
  * looking slow (the asymmetry that left r13's sf2 triangles question
  * unanswerable). Distinct from StreamQueries' staging meter, which meters
  * per-run fixture writes charged on every measured pass; this one meters
  * once-per-JVM artifact builds.
  *
  * `read` is the one parquet loader for the tables and the artifact roots:
  * each (session, path) is read once and its frame served again while the
  * path's fingerprint holds, so a warm key neither re-lists the files nor
  * re-runs the one-task schema-inference job that every
  * `spark.read.parquet` submits.
  */
object Artifacts {
  private val roots = new ConcurrentHashMap[(String, String), (String, String)]()
  private val frames = new ConcurrentHashMap[(SparkSession, String), (String, DataFrame)]()

  private lazy val namespace: String = {
    val ns = s"${sys.props("java.io.tmpdir")}/graft_artifacts/" +
      s"p${ProcessHandle.current().pid()}"
    Files.createDirectories(Paths.get(ns))
    sys.addShutdownHook(Sinks.deleteDir(ns))
    ns
  }

  /** Root directory of the `kind` artifact derived from `source` (a file
    * or directory), built by `build(root)` into a fresh `$kind-<n>` dir
    * when no root exists for the source's current fingerprint.
    *
    * The build runs OUTSIDE any map lock: builds NEST (the lpa/mst builds
    * read the ties artifact), and ConcurrentHashMap forbids mutating the
    * map from inside a computeIfAbsent mapping function — whenever two
    * keys land in one bin the nested insert throws IllegalStateException
    * ("Recursive update"), a data-dependent crash. get → build →
    * putIfAbsent/replace has no such constraint; a lost race builds twice
    * (artifacts are deterministic functions of the source, so either copy
    * serves) and the loser's directory is deleted. */
  def derive(kind: String, source: String)(build: String => Unit): String = {
    val key = (kind, source)
    val fp = Sinks.metadataFingerprint(source)
    val prev = roots.get(key)
    if (prev != null && prev._1 == fp) return prev._2
    val root = timed {
      val r = Files.createTempDirectory(Paths.get(namespace), s"$kind-").toString
      try build(r) catch { case e: Throwable => Sinks.deleteDir(r); throw e }
      r
    }
    val won =
      if (prev == null) roots.putIfAbsent(key, (fp, root)) == null
      else roots.replace(key, prev, (fp, root))
    if (won) {
      if (prev != null) {
        frames.keySet.removeIf(k => k._2 == prev._2 || k._2.startsWith(s"${prev._2}/"))
        Sinks.deleteDir(prev._2)
      }
      root
    } else {
      Sinks.deleteDir(root)
      derive(kind, source)(build)
    }
  }

  /** The parquet frame at `path` (a table or a path under a derived root),
    * read once per session and served again while the path's fingerprint
    * holds; a changed fingerprint re-reads and replaces the entry.
    * `shape` runs once, on the fresh read (Tables.load normalizes
    * `events.ts` there); every caller of one path passes the same shape.
    *
    * The whole relation is kept, not only its schema: the file listing,
    * the relation resolution and the attribute ids are reused, so a warm
    * query plans the same attributes and hits the codegen cache. Every
    * execution still scans the files. Two loads of one path are one
    * relation: join them through aliases (`col("a.k") === col("b.k")`);
    * Dataset references (`a("k") === b("k")`) fail to resolve instead.
    * Entries of stopped sessions are dropped on the next read, and `derive`
    * drops those under a root it supersedes. Paths are local, as for
    * `derive`'s sources. */
  def read(s: SparkSession, path: String,
      shape: DataFrame => DataFrame = identity): DataFrame = {
    frames.keySet.removeIf(_._1.sparkContext.isStopped)
    // a missing path raises Spark's own error, as a plain read does
    if (!Files.exists(Paths.get(path))) return shape(s.read.parquet(path))
    val key = (s, path)
    val fp = Sinks.metadataFingerprint(path)
    val hit = frames.get(key)
    if (hit != null && hit._1 == fp) hit._2
    else {
      val df = shape(s.read.parquet(path))
      frames.put(key, (fp, df))
      df
    }
  }

  private val nanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Meter `work` as artifact staging (reentrant: a build nested in
    * another build is inside the outer frame's time and counts once). */
  private def timed[A](work: => A): A = {
    val d = depth.get()
    if (d > 0) work
    else {
      depth.set(1)
      val t0 = System.nanoTime()
      try work finally {
        depth.set(0)
        nanos.addAndGet(System.nanoTime() - t0)
      }
    }
  }

  /** Accumulated build time since the last drain, reset to zero. */
  private[graft] def drainNanos(): Long = nanos.getAndSet(0L)
}
