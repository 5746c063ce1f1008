package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every main (and the test suite) runs on, so a
  * Profile or Verify run measures the same session Bench measures. */
object Session {

  /** A `local[cpus]` session with one shuffle partition per core, UTC,
    * nanosecond parquet timestamps read as longs (events.ts), the graft
    * SQL functions installed, and the UI off. `cpus` defaults to
    * SPARK_GRAFT_CPUS, 4 when unset. */
  def local(cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt))
      : SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
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
      .withExtensions(new GraftExtensions().apply(_))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
