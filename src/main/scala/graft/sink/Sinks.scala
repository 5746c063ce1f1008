package graft.sink

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Warehouse write patterns of the reference (SURVEY.md §2.1/§2.8):
  *
  *  - dual-write: truncate-rewrite the "current" table, append the same
  *    batch to the day-partitioned "historical" table
  *    (`monday_etl_automated.py:562-598`)
  *  - idempotent DDL: create-if-not-exists with explicit schema + DAY
  *    partitioning on extraction_date (`:148-170`)
  *  - at-least-once: a re-run re-appends the same snapshot — duplicates by
  *    design (observed 184/1610 after a double run,
  *    `logs/etl_20250625_090951.log:25-26`); the duplicates monitor
  *    (agg_having_dup) is the compensating control
  *  - exactly-once upgrade: dynamic partition overwrite replaces only the
  *    partitions present in the batch, making re-runs idempotent.
  *
  * Parquet + partitionBy(extraction_date) stands in for BigQuery DAY
  * partitioning: at 100 TB the historical table is pruned to exactly the
  * snapshots a query filters on, and each daily append touches only its own
  * partition directory.
  */
object Sinks {

  /** WRITE_TRUNCATE: the "current" table is replaced wholesale. */
  def writeTruncate(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)

  /** WRITE_APPEND to the historical table, partitioned by snapshot date.
    * At-least-once: callers re-running a day double its rows. */
  def appendHistorical(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).partitionBy("extraction_date").parquet(path)

  /** The reference's dual-write load (`monday_etl_automated.py:562-598`). */
  def dualWrite(df: DataFrame, currentPath: String, historicalPath: String): Unit = {
    writeTruncate(df, currentPath)
    appendHistorical(df, historicalPath)
  }

  /** Exactly-once append: overwrite ONLY the partitions present in the
    * batch (dynamic partition overwrite) — a re-run of the same snapshot
    * replaces it instead of duplicating it. */
  def appendSnapshotExactlyOnce(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("extraction_date").parquet(path)

  /** CREATE TABLE IF NOT EXISTS with explicit schema + partitioning,
    * safe to call on every run (`monday_etl_automated.py:148-170`).
    * Returns true when the table already existed. */
  def createPartitionedIfNotExists(s: SparkSession, table: String,
      ddlSchema: String, path: String): Boolean = {
    val existed = s.catalog.tableExists(table)
    s.sql(
      s"""CREATE TABLE IF NOT EXISTS $table ($ddlSchema)
         |USING parquet PARTITIONED BY (extraction_date)
         |LOCATION '$path'""".stripMargin)
    existed
  }

  /** Metadata fingerprint for derived-artifact cache keys (r10 ADVICE):
    * mtime alone has millisecond granularity and misses in-place rewrites
    * of directory-backed parquet that preserve the root's mtime. Folds
    * (relative name, mtime, size) over the file — or every regular file
    * under a directory — so any regenerated source flips the key. */
  def metadataFingerprint(path: String): String = {
    val p = Paths.get(path)
    def one(f: java.nio.file.Path): Long = {
      val rel = p.relativize(f).toString
      (rel.hashCode.toLong * 1000003L) ^
        Files.getLastModifiedTime(f).toMillis ^
        java.lang.Long.rotateLeft(Files.size(f), 27)
    }
    if (Files.isDirectory(p)) {
      val st = Files.walk(p)
      try {
        val acc = st.filter(Files.isRegularFile(_))
          .mapToLong(one(_)).toArray
        s"d${acc.length}-${acc.foldLeft(0L)(_ ^ _).toHexString}"
      } finally st.close()
    } else s"f${Files.size(p)}-${Files.getLastModifiedTime(p).toMillis}"
  }

  /** Recursive delete for test/verify target dirs. */
  def deleteDir(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      // deleteIfExists + the NoSuchFile catch make concurrent deleters
      // safe: two JVMs may age-prune the same stale streaming root
      // (StreamQueries.initRoot), and the walk stream must be closed
      val walk = Files.walk(p)
      try
        walk.sorted(Comparator.reverseOrder[Path]())
          .forEach(f => Files.deleteIfExists(f))
      catch { case _: java.nio.file.NoSuchFileException => () }
      finally walk.close()
    }
  }
}
