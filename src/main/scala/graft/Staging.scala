package graft

/** Process-wide ARTIFACT-staging meter (r13 VERDICT item 3): wall time
  * spent building cached derived artifacts — the pagerank edge graph, the
  * oriented co-purchase graph, the strong-tie graph and its blessed
  * clusterings, the incremental-LP fact/graph stage, the ANN index
  * fixtures. A deployment materializes these in the pipeline that lands
  * the fact table, not per query; in the bench they are built exactly
  * once per (dir, name/mtime/size fingerprint) by whichever key touches
  * them first. Bench drains this meter around every key (warmup included) and
  * records the split per key as `artifact_staging_sec`, so a key that
  * happens to first-touch an expensive artifact is ATTRIBUTABLE instead
  * of just looking slow — the asymmetry that left r13's sf2 triangles
  * question unanswerable.
  *
  * Distinct from StreamQueries' staging meter, which meters per-run
  * fixture writes charged on every measured pass; this one meters
  * once-per-JVM artifact builds. Nested builds (lpa/mst build reads the
  * ties artifact) count once — only the outermost frame records.
  */
object Staging {
  private val nanos = new java.util.concurrent.atomic.AtomicLong(0L)
  private val depth = new ThreadLocal[Integer] {
    override def initialValue(): Integer = 0
  }

  /** Meter `work` as artifact staging (reentrant: inner frames no-op). */
  def timed[A](work: => A): A = {
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

  /** Accumulated staging since the last drain, reset to zero. */
  private[graft] def drainNanos(): Long = nanos.getAndSet(0L)
}
