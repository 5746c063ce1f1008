package graft.table

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables
import graft.operators.PipelineOps

/** Oracle-checked keys for the versioned-table surface (VersionedTable):
  * time travel across a MERGE commit, and the OPTIMIZE small-file
  * compaction rewrite. Each key stages a table under a per-invocation
  * unique root (pid + counter — concurrent sessions never collide),
  * commits through the manifest log, and reads back THROUGH the log, so
  * the oracle checks the whole commit/read path, not just the transform.
  */
object TableQueries {

  type Q = (SparkSession, String) => DataFrame

  private val runId = new AtomicInteger(0)

  /** All staged roots for THIS JVM live under one pid-scoped namespace, and
    * a shutdown hook removes the whole namespace when the JVM exits (r7):
    * the returned DataFrames are lazy, so a per-key eager delete would pull
    * the files out from under the driver's later materialization — the
    * hook runs after every action has completed. Other pids' namespaces
    * are untouched, so concurrent sessions never delete each other's
    * staged tables. */
  private lazy val tmpNamespace: String = {
    val ns = s"${sys.props("java.io.tmpdir")}/graft_table/" +
      s"p${ProcessHandle.current().pid()}"
    sys.addShutdownHook(graft.sink.Sinks.deleteDir(ns))
    ns
  }

  private def freshRoot(kind: String): String =
    s"$tmpNamespace/$kind-${runId.incrementAndGet()}"

  private def ordersBase(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"), col("o_orderstatus").as("status"),
        col("o_totalprice").as("total"))

  // ---- table_time_travel ----------------------------------------------------
  // VERSION AS OF across a MERGE: commit the orders snapshot as v1, apply
  // the merge_upsert changeset and commit as v2 (copy-on-write — v1's
  // files are untouched), then read BOTH versions back through the
  // manifest log. v1 must still be the pre-merge table even though v2 is
  // the latest commit — the read surface a user pins a reproducible
  // training run or an audit query to. The oracle restates both relations
  // from the raw table.
  def tableTimeTravel(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("tt")
    VersionedTable.commit(ordersBase(s, dir), root) // v1: the snapshot
    VersionedTable.commit(
      PipelineOps.mergeUpsert(s, dir).drop("last_op"), root) // v2: MERGE
    val v1 = VersionedTable.readVersion(s, root, 1)
      .select(lit("v1").as("version"), col("key"), col("status"), col("total"))
    val v2 = VersionedTable.readVersion(s, root, 2)
      .select(lit("v2").as("version"), col("key"), col("status"), col("total"))
    v1.unionAll(v2).orderBy(col("version"), col("key"))
  }

  private val tableTimeTravelOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |changes AS (
      |  SELECT key, 'D' AS op, CAST(NULL AS VARCHAR) AS new_status,
      |         CAST(NULL AS DOUBLE) AS new_total
      |  FROM base WHERE key % 13 = 0
      |  UNION ALL
      |  SELECT key, 'U', 'X',
      |         CAST(ROUND(CAST(total * 1.1 AS DECIMAL(18,4)), 2) AS DOUBLE)
      |  FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |  UNION ALL
      |  SELECT -key, 'I', 'N', total
      |  FROM base WHERE key % 97 = 0 AND key > 0),
      |merged AS (
      |  SELECT COALESCE(b.key, c.key) AS key,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_status ELSE b.status END AS status,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_total ELSE b.total END AS total
      |  FROM base b FULL OUTER JOIN changes c ON c.key = b.key
      |  WHERE c.op IS NULL OR c.op <> 'D')
      |SELECT 'v1' AS version, key, status, total FROM base
      |UNION ALL
      |SELECT 'v2' AS version, key, status, total FROM merged
      |ORDER BY version, key""".stripMargin

  // ---- sink_compact ---------------------------------------------------------
  // OPTIMIZE: v1 is the orders snapshot deliberately fragmented into 64
  // small files (what a per-trigger streaming sink leaves behind); compact
  // bin-packs them into ~targetBytes outputs (coalesce — a file-level
  // concatenation, no shuffle) and commits the rewrite as v2. The key
  // reads v2 back through the log; the oracle is the IDENTITY relation —
  // compaction must change the file layout and nothing else.
  def sinkCompact(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("opt")
    VersionedTable.commit(ordersBase(s, dir).repartition(64), root)
    val v2 = VersionedTable.compact(s, root, targetBytes = 8L << 20)
    VersionedTable.readVersion(s, root, v2).orderBy(col("key"))
  }

  private val sinkCompactOracle =
    """SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |FROM orders ORDER BY key""".stripMargin

  // ---- table_incremental_read -----------------------------------------------
  // Change-data-feed between two commits, answered from the COMMIT LOG
  // (r7): the MERGE commit records its row-level change feed as changeset
  // files in the manifest (`C` records), so `table_changes(v1, v2)` is
  // metadata resolution plus a scan of only those small files — neither
  // version's data is touched (the spec pins that: every input file of
  // the log-path read lives under changes/). When a commit in the range
  // didn't record its changes, the reader falls back to the generic
  // snapshot diff below — a single full-outer join of the two versions
  // that works on ANY pair and costs one key-shuffle per side (or zero
  // co-bucketed). Same relation either way (the spec proves it); the
  // oracle re-derives the feed from the raw table and the deterministic
  // changeset.
  def tableIncrementalRead(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("cdf")
    VersionedTable.commit(ordersBase(s, dir), root)
    VersionedTable.commit(
      PipelineOps.mergeUpsert(s, dir).drop("last_op"), root,
      changes = Some(PipelineOps.mergeChangeFeed(s, dir)),
      statsColumns = Nil)
    VersionedTable.readChanges(s, root, 1, 2)
      .getOrElse(snapshotDiff(s, root, 1, 2))
      .orderBy(col("key"), col("change"))
  }

  /** The log-free fallback: diff two version snapshots into the identical
    * change-feed relation — delete rows (in vFrom only, preimage values),
    * insert rows (in vTo only), update pre/post image pairs (both sides,
    * any column differing). */
  private[table] def snapshotDiff(s: SparkSession, root: String,
      vFrom: Int, vTo: Int): DataFrame = {
    // presence markers, not value-null checks — robust to nullable columns
    val v1 = VersionedTable.readVersion(s, root, vFrom)
      .select(col("key"), col("status").as("s1"), col("total").as("t1"),
        lit(true).as("m1"))
    val v2 = VersionedTable.readVersion(s, root, vTo)
      .select(col("key"), col("status").as("s2"), col("total").as("t2"),
        lit(true).as("m2"))
    val diff = v1.join(v2, Seq("key"), "full_outer")
      .withColumn("in1", col("m1").isNotNull)
      .withColumn("in2", col("m2").isNotNull)
    val deletes = diff.filter(col("in1") && !col("in2"))
      .select(col("key"), col("s1").as("status"), col("t1").as("total"),
        lit("delete").as("change"))
    val inserts = diff.filter(!col("in1") && col("in2"))
      .select(col("key"), col("s2").as("status"), col("t2").as("total"),
        lit("insert").as("change"))
    val updated = diff.filter(col("in1") && col("in2") &&
      (col("s1") =!= col("s2") || col("t1") =!= col("t2")))
    val pre = updated.select(col("key"), col("s1").as("status"),
      col("t1").as("total"), lit("update_pre").as("change"))
    val post = updated.select(col("key"), col("s2").as("status"),
      col("t2").as("total"), lit("update_post").as("change"))
    deletes.unionAll(inserts).unionAll(pre).unionAll(post)
  }

  private val tableIncrementalReadOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders)
      |SELECT key, status, total, 'delete' AS change
      |FROM base WHERE key % 13 = 0
      |UNION ALL
      |SELECT -key, 'N', total, 'insert'
      |FROM base WHERE key % 97 = 0 AND key > 0
      |UNION ALL
      |SELECT key, status, total, 'update_pre'
      |FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |UNION ALL
      |SELECT key, 'X',
      |       CAST(ROUND(CAST(total * 1.1 AS DECIMAL(18,4)), 2) AS DOUBLE),
      |       'update_post'
      |FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |ORDER BY key, change""".stripMargin

  // ---- table_mv_incremental -------------------------------------------------
  // Incremental materialized-view maintenance from the change feed (r11)
  // — the DBSP/Materialize/DLT pattern: the MV is the per-status
  // (n_orders, revenue) aggregate; after the MERGE commits with its
  // recorded CDF, the refresh applies ONLY the deltas — insert and
  // update-postimage rows count +1 in their group, delete and
  // update-preimage rows −1 — onto the stored MV state. Group migration
  // (updates move rows into status 'X') falls out for free because each
  // image row carries its own group. The refresh never opens either
  // version's data files (spec pins every input file of the delta path
  // under changes/); the oracle recomputes the v2 aggregate from scratch
  // — incremental must be indistinguishable from recompute.
  //
  // Scale: a nightly recompute reads the full 100 TB base; this refresh
  // reads |changeset| rows plus the |groups|-row MV — cost tracks the
  // WRITE RATE, not the table size. Sums live in exact DECIMAL so the
  // +Δ/−Δ arithmetic is associative: no fp drift accumulates across
  // arbitrarily many refresh cycles (the failure mode that forces
  // periodic full recomputes of double-summed MVs).
  def tableMvIncremental(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("mv")
    VersionedTable.commit(ordersBase(s, dir), root) // v1
    // MV build — the ONE full scan, at v1; the refresh must not redo it
    val mv1 = VersionedTable.readVersion(s, root, 1)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("total").cast("decimal(18,4)")).as("rev"))
    VersionedTable.commit(PipelineOps.mergeUpsert(s, dir).drop("last_op"),
      root, changes = Some(PipelineOps.mergeChangeFeed(s, dir)),
      statsColumns = Nil) // v2 + its CDF
    mvRefresh(s, root, mv1, 1, 2).orderBy(col("status"))
  }

  /** Delta application only — exposed so the spec can pin that the
    * refresh path's input files all live under changes/ and that its
    * result equals the full v2 recompute. */
  private[table] def mvRefresh(s: SparkSession, root: String, mv: DataFrame,
      vFrom: Int, vTo: Int): DataFrame = {
    val cdf = VersionedTable.readChanges(s, root, vFrom, vTo)
      .getOrElse(sys.error(s"no change feed recorded in $vFrom..$vTo"))
    val sgn = when(col("change").isin("insert", "update_post"), lit(1))
      .otherwise(lit(-1))
    val deltas = cdf.groupBy(col("status"))
      .agg(sum(sgn).as("dn"),
        sum(col("total").cast("decimal(18,4)") * sgn).as("drev"))
    mv.join(deltas, Seq("status"), "full_outer")
      .select(col("status"),
        (coalesce(col("n_orders"), lit(0L)) + coalesce(col("dn"), lit(0L)))
          .as("n_orders"),
        (coalesce(col("rev"), lit(0).cast("decimal(18,4)")) +
          coalesce(col("drev"), lit(0).cast("decimal(18,4)"))).as("rev"))
      .filter(col("n_orders") > 0)
      .select(col("status"), col("n_orders"),
        round(col("rev"), 2).cast("double").as("revenue"))
  }

  private val tableMvIncrementalOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |changes AS (
      |  SELECT key, 'D' AS op, CAST(NULL AS VARCHAR) AS new_status,
      |         CAST(NULL AS DOUBLE) AS new_total
      |  FROM base WHERE key % 13 = 0
      |  UNION ALL
      |  SELECT key, 'U', 'X',
      |         CAST(ROUND(CAST(total * 1.1 AS DECIMAL(18,4)), 2) AS DOUBLE)
      |  FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |  UNION ALL
      |  SELECT -key, 'I', 'N', total
      |  FROM base WHERE key % 97 = 0 AND key > 0),
      |merged AS (
      |  SELECT COALESCE(b.key, c.key) AS key,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_status ELSE b.status END AS status,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_total ELSE b.total END AS total
      |  FROM base b FULL OUTER JOIN changes c ON c.key = b.key
      |  WHERE c.op IS NULL OR c.op <> 'D')
      |SELECT status, COUNT(*) AS n_orders,
      |       CAST(ROUND(SUM(CAST(total AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM merged GROUP BY status ORDER BY status""".stripMargin

  // ---- table_partition_evolution --------------------------------------------
  // Partition-spec EVOLUTION with hidden partitioning (r11) — the Iceberg
  // partitioning model: the table starts life Hive-style
  // (identity(status): the column lives in the directory value, dropped
  // from data files), then the spec evolves and NEW data lands under
  // trunc[2048](key) — a range transform of the key, where the partition
  // value never appears in a query. Old files keep their old tuples (no
  // rewrite — the evolution is pure metadata); one version holds files of
  // BOTH specs, and a read with predicates on the SOURCE columns
  // (status = 'F' AND key BETWEEN 1000 AND 5000) prunes each file
  // through its OWN transform: identity files to the one matching status
  // group, truncate files to the covered key buckets. The oracle is the
  // plain two-predicate filter — partitioning must change I/O, never
  // rows. At 100 TB spec evolution is THE escape hatch when yesterday's
  // layout stops matching today's queries: re-partitioning petabytes is
  // off the table, appending under a better spec is free.
  def tablePartitionEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("pevo")
    val base = ordersBase(s, dir)
    VersionedTable.commitPartitioned(base.filter(col("key") % 2 === 1),
      root, VersionedTable.PartSpec("status"), append = false)
    VersionedTable.commitPartitioned(base.filter(col("key") % 2 === 0),
      root, VersionedTable.PartSpec("key", Some(2048L)), append = true)
    VersionedTable.readVersionPart(s, root, 2,
      eqPreds = Seq(("status", "F")),
      rangePreds = Seq(("key", 1000L, 5000L)))
      .orderBy(col("key"))
  }

  private val tablePartitionEvolutionOracle =
    """SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |FROM orders
      |WHERE o_orderstatus = 'F' AND o_orderkey BETWEEN 1000 AND 5000
      |ORDER BY key""".stripMargin

  // ---- table_skipping_read --------------------------------------------------
  // File-level data skipping (r7): commit the snapshot range-partitioned
  // on the key with footer min/max stats recorded per file in the
  // manifest, then run a narrow key-range read — manifest resolution
  // prunes every file whose [min,max] misses the range BEFORE the scan
  // opens anything (the spec proves ~1-2 of 16 files survive pruning and
  // that pruned+filter ≡ full+filter). This is the read-path complement
  // of sink_compact: OPTIMIZE fixes the file count, stats skipping fixes
  // what a filtered read must open. At 100 TB a date- or key-clustered
  // layout turns every narrow predicate into an O(files-touched) scan.
  // The oracle is the plain filter — skipping must change I/O, not rows.
  def tableSkippingRead(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("skip")
    VersionedTable.commit(
      ordersBase(s, dir).repartitionByRange(16, col("key")), root,
      changes = None, statsColumns = Seq("key"))
    VersionedTable.readVersionWhere(s, root, 1, "key", 1000L, 2000L)
      .orderBy(col("key"))
  }

  private val tableSkippingReadOracle =
    """SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |FROM orders WHERE o_orderkey BETWEEN 1000 AND 2000
      |ORDER BY key""".stripMargin

  // ---- table_skipping_multi -------------------------------------------------
  // Multi-column skipping + clustered OPTIMIZE (r8): v1 commits the
  // snapshot in ARRIVAL order (round-robin partitions — every file spans
  // the whole key domain, so stats are wide and skipping is weak: the
  // degraded state plain compaction preserves). compactClustered then
  // rewrites v2 range-clustered on the key with min/max recorded for BOTH
  // predicate columns, so each file owns a narrow key slice and the
  // compound `key AND cust` predicate prunes on every statted column at
  // manifest resolution. The oracle is the plain two-predicate filter —
  // skipping must change I/O, never rows; the spec pins that the pruned
  // file count strictly DROPS after the clustered rewrite (the property
  // item-3 of the r7 verdict asked for). At 100 TB this is the
  // OPTIMIZE-then-read lifecycle: cluster once per partition, then every
  // narrow scan is O(files-touched).
  def tableSkippingMulti(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("skipm")
    val base = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"), col("o_custkey").as("cust"),
        col("o_totalprice").as("total"))
    VersionedTable.commit(base.repartition(16), root,
      changes = None, statsColumns = Seq("key", "cust"))
    val v2 = VersionedTable.compactClustered(s, root, targetBytes = 64L << 10,
      clusterColumn = "key", statsColumns = Seq("key", "cust"))
    VersionedTable.readVersionWhere(s, root, v2,
      Seq(("key", 1000L, 5000L), ("cust", 1L, 300L)))
      .orderBy(col("key"))
  }

  private val tableSkippingMultiOracle =
    """SELECT o_orderkey AS key, o_custkey AS cust, o_totalprice AS total
      |FROM orders
      |WHERE o_orderkey BETWEEN 1000 AND 5000 AND o_custkey BETWEEN 1 AND 300
      |ORDER BY key""".stripMargin

  // ---- table_orphan_cleanup -------------------------------------------------
  // Orphan-file cleanup (r8): a writer that crashes between its data
  // write and its CAS publish leaves a full uuid directory no manifest
  // references — invisible to every read, but real storage. The key
  // stages exactly that (a parquet dir written under data/ with no
  // commit), ages it past the grace window, sweeps, and reads the
  // latest version — which must be byte-for-byte the original snapshot
  // (identity oracle): cleanup may only ever delete what no manifest
  // lists. The spec pins the live-writer protection (inside-grace files
  // survive), the sweep itself, and idempotence. With VACUUM (version
  // retention), RESTORE (undo), OPTIMIZE/ZORDER (layout) this completes
  // the table-maintenance suite a long-lived 100 TB deployment runs.
  def tableOrphanCleanup(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("orph")
    VersionedTable.commit(ordersBase(s, dir), root) // v1
    val orphan = s"$root/data/crashed-${java.util.UUID.randomUUID()}"
    ordersBase(s, dir).limit(10).coalesce(1).write.parquet(orphan)
    // the test clock: push the crashed writer's files out of the window
    val old = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 86_400_000L)
    scala.util.Using.resource(
      java.nio.file.Files.list(java.nio.file.Paths.get(orphan))) { st =>
      st.forEach(p => java.nio.file.Files.setLastModifiedTime(p, old))
    }
    VersionedTable.cleanOrphans(root, graceMillis = 3_600_000L)
    VersionedTable.readLatest(s, root).orderBy(col("key"))
  }

  // ---- table_restore --------------------------------------------------------
  // RESTORE TO VERSION AS OF (r8): v1 = snapshot, v2 = a destructive
  // rewrite (the merge's deletes/updates applied), v3 = RESTORE to v1 —
  // a pure manifest copy, no data moved. The latest read must equal the
  // ORIGINAL snapshot (identity oracle), which is only possible if the
  // restore re-listed v1's immutable files rather than rewriting
  // anything. The spec additionally pins that restore writes no new data
  // directories, that v2 stays time-travelable after the restore, and
  // that a vacuum keeping only the restored version preserves the files
  // it shares with v1. This is the operational "undo a bad MERGE" path —
  // at 100 TB it is a KB manifest write.
  def tableRestore(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("rest")
    VersionedTable.commit(ordersBase(s, dir), root) // v1
    val snap = VersionedTable.readLatest(s, root)   // the bad rewrite: v2
    VersionedTable.commit(snap.filter(col("key") % 13 =!= 0)
      .withColumn("total", col("total") * 2), root)
    VersionedTable.restore(root, 1)                 // v3 = v1, by metadata
    VersionedTable.readLatest(s, root).orderBy(col("key"))
  }

  private val tableRestoreOracle =
    """SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |FROM orders ORDER BY key""".stripMargin

  // ---- table_agg_pushdown ---------------------------------------------------
  // Metadata aggregate pushdown (r8): COUNT/MIN/MAX answered from the
  // manifest + parquet footers alone — the Iceberg "metadata table"
  // answer to the classic dashboard query. The key commits the snapshot
  // with key stats and asks metaAgg for (n_rows, min_key, max_key): row
  // counts sum footer block counts (null-inclusive, = COUNT(*)), ranges
  // fold the manifest's per-file [min,max] (null-exclusive, = MIN/MAX).
  // The oracle runs the real aggregation — pushdown must be
  // indistinguishable from the scan it avoids. At 100 TB this turns a
  // full-table scan into an O(files) driver-side metadata walk.
  def tableAggPushdown(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("magg")
    VersionedTable.commit(ordersBase(s, dir).repartition(8), root,
      changes = None, statsColumns = Seq("key"))
    VersionedTable.metaAgg(s, root, 1, "key")
  }

  private val tableAggPushdownOracle =
    """SELECT COUNT(*) AS n_rows, MIN(o_orderkey) AS min_key,
      |       MAX(o_orderkey) AS max_key
      |FROM orders""".stripMargin

  // ---- table_bloom_point ----------------------------------------------------
  // File-level BLOOM index (r8): the point-lookup complement of min/max
  // skipping. The snapshot commits in ARRIVAL order (round-robin — every
  // file's [min,max] spans the whole key domain, so stats prune NOTHING
  // for a point predicate), but each file records a bloom over its keys
  // in the manifest. The point read then opens only the ~one file that
  // can hold the key — pruning by bloom at manifest resolution, zero
  // data touched to decide. Oracle = the plain equality filter (the
  // bloom's no-false-negatives contract means pruning changes I/O,
  // never rows); the spec pins the strict-subset + no-false-negative
  // properties across many keys. At 100 TB this is the needle-in-
  // haystack path: ingest-ordered layouts are the COMMON state between
  // OPTIMIZE runs, and blooms are what make key lookups O(1 file) there.
  def tableBloomPoint(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("bloom")
    val base = ordersBase(s, dir)
    VersionedTable.commit(base.repartition(16), root,
      changes = None, statsColumns = Nil, bloomColumns = Seq("key"))
    val k = base.filter(col("key") >= 1000)
      .agg(min(col("key"))).head().getLong(0)
    VersionedTable.readVersionPoint(s, root, 1, "key", k)
      .orderBy(col("key"))
  }

  private val tableBloomPointOracle =
    """SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |FROM orders
      |WHERE o_orderkey = (SELECT MIN(o_orderkey) FROM orders WHERE o_orderkey >= 1000)
      |ORDER BY key""".stripMargin

  // ---- table_zorder ---------------------------------------------------------
  // OPTIMIZE ZORDER (r8): same degraded v1 as table_skipping_multi
  // (round-robin partitions — wide stats, weak skipping), but the rewrite
  // clusters on the MORTON interleave of (key, cust) instead of key
  // alone. The compound read then prunes on BOTH columns' tightened
  // stats at manifest resolution. Oracle = the plain two-predicate
  // filter (clustering changes I/O, never rows); the spec pins the
  // Z-order contract against one-dimensional clustering — a cust-only
  // predicate prunes files after ZORDER that key-clustering cannot
  // prune, while key pruning stays effective.
  def tableZorder(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("zord")
    val base = Tables.load(s, dir, "orders")
      .select(col("o_orderkey").as("key"), col("o_custkey").as("cust"),
        col("o_totalprice").as("total"))
    VersionedTable.commit(base.repartition(16), root,
      changes = None, statsColumns = Seq("key", "cust"))
    val v2 = VersionedTable.compactZorder(s, root, targetBytes = 64L << 10,
      colA = "key", colB = "cust", statsColumns = Seq("key", "cust"))
    VersionedTable.readVersionWhere(s, root, v2,
      Seq(("key", 1000L, 5000L), ("cust", 1L, 300L)))
      .orderBy(col("key"))
  }

  // ---- table_schema_evolution -----------------------------------------------
  // Schema evolution THROUGH the commit log (r8): v1 is the 3-column
  // snapshot; v2 commits the same rows WIDENED by a derived column — in
  // this format evolution is nothing but committing with a wider schema,
  // which the manifest's `S` record captures. The key then time-travels
  // BACK ACROSS the boundary with readVersionEvolved: v1's frozen files
  // served under v2's schema, so the added column null-fills for v1 rows
  // and carries values for v2 rows — which is exactly the NULL-literal
  // union the oracle states. At 100 TB both reads are the same manifest
  // resolution + scan; the schema projection is free (parquet
  // missing-column semantics, no rewrite of history).
  def tableSchemaEvolution(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("evo")
    VersionedTable.commit(ordersBase(s, dir), root) // v1: (key,status,total)
    VersionedTable.commit( // v2: + priority_band
      ordersBase(s, dir).withColumn("priority_band",
        when(col("total") >= 150000.0, "high").otherwise("low")), root)
    val v1 = VersionedTable.readVersionEvolved(s, root, 1)
      .select(lit("v1").as("version"), col("key"), col("status"),
        col("total"), col("priority_band"))
    val v2 = VersionedTable.readVersion(s, root, 2)
      .select(lit("v2").as("version"), col("key"), col("status"),
        col("total"), col("priority_band"))
    v1.unionAll(v2).orderBy(col("version"), col("key"))
  }

  private val tableSchemaEvolutionOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders)
      |SELECT 'v1' AS version, key, status, total,
      |       CAST(NULL AS VARCHAR) AS priority_band
      |FROM base
      |UNION ALL
      |SELECT 'v2', key, status, total,
      |       CASE WHEN total >= 150000.0 THEN 'high' ELSE 'low' END
      |FROM base
      |ORDER BY version, key""".stripMargin

  // ---- table_constraint_check -----------------------------------------------
  // CHECK constraints at commit time (r9): the table declares row
  // invariants (total >= 0, NOT NULL key/status); a batch violating any of
  // them is rejected ATOMICALLY by commitChecked — no data files, no
  // version. The key stages v1 (the clean snapshot), attempts a corrupted
  // append snapshot (every 7th batch key's total negated) which MUST
  // reject, then commits the repaired snapshot as v2. The output aggregates
  // the final table and carries n_versions = 2 — if the rejected commit had
  // published, or the corruption had leaked through, either the version
  // count or the status sums would change and the hash would fail.
  def tableConstraintCheck(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("chk")
    val constraints =
      Seq("total >= 0", "status IS NOT NULL", "key IS NOT NULL")
    val base = ordersBase(s, dir)
    require(VersionedTable.commitChecked(base, root, constraints).isRight,
      "clean snapshot must commit")
    val batch = base.select((col("key") + 3000000L).as("key"),
      col("status"), col("total"))
    val corrupted = batch.withColumn("total",
      when(col("key") % 7 === 0, -col("total")).otherwise(col("total")))
    val v2Bad = VersionedTable.commitChecked(
      base.unionAll(corrupted), root, constraints)
    require(v2Bad.isLeft, "corrupted batch must be rejected")
    val fixed = corrupted.filter(col("key") % 7 =!= 0)
    val v2 = VersionedTable.commitChecked(
      base.unionAll(fixed), root, constraints)
      .getOrElse(sys.error("repaired snapshot must commit"))
    val nVersions = VersionedTable.latestVersion(root)
    VersionedTable.readVersion(s, root, v2)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_rows"),
        sum(col("total").cast("decimal(18,2)")).cast("double").as("sum_total"))
      .withColumn("n_versions", lit(nVersions))
      .orderBy(col("status"))
  }

  private val tableConstraintCheckOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |batch AS (SELECT key + 3000000 AS key, status, total FROM base),
      |fixed AS (SELECT * FROM batch WHERE key % 7 <> 0),
      |final AS (SELECT * FROM base UNION ALL SELECT * FROM fixed)
      |SELECT status, COUNT(*) AS n_rows,
      |       CAST(SUM(CAST(total AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
      |       2 AS n_versions
      |FROM final GROUP BY status ORDER BY status""".stripMargin

  // ---- table_concurrent_commit ----------------------------------------------
  // Optimistic concurrency with REBASE — the serializability contract two
  // concurrent table writers actually need (the CAS in `publish` only
  // guarantees version uniqueness; without re-applying the transform, the
  // loser of the race would publish a result computed against a stale
  // snapshot and silently erase the winner: the lost update). The key
  // scripts the classic interleave deterministically: writer B reads v1
  // and computes a surcharge on OPEN orders; while B is in its publish
  // window, writer A commits v2 cancelling every 10th order; B's CAS at
  // v2 fails, B REBASES — recomputes the surcharge against v2, where A's
  // cancellations are visible — and lands v3. The final table equals the
  // SEQUENTIAL application A-then-B (what the oracle states): orders A
  // cancelled do NOT carry B's surcharge even though B first read them as
  // open. final_version=3 / n_attempts=2 ride in the hashed output, so a
  // blind-retry regression (which would publish the stale frame and show
  // surcharged cancelled orders) fails the compare. Money stays exact:
  // the 5% surcharge is cents div 20 in BIGINT, descaled by one double
  // division both engines share.
  def tableConcurrentCommit(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("occ")
    VersionedTable.commit(ordersBase(s, dir), root) // v1
    def cancel(df: DataFrame) = df.select(col("key"),
      when(col("key") % 10 === 0, lit("X")).otherwise(col("status")).as("status"),
      col("total"))
    def surcharge(df: DataFrame) = df
      .withColumn("cents", expr("CAST(round(total * 100) AS BIGINT)"))
      .select(col("key"), col("status"),
        when(col("status") === "O",
          (col("cents") + expr("cents div 20")).cast("double") / 100.0)
          .otherwise(col("total")).as("total"))
    val (vFinal, attempts) = VersionedTable.commitTransform(s, root, surcharge,
      beforePublish = attempt =>
        if (attempt == 1)
          VersionedTable.commit(
            cancel(VersionedTable.readVersion(s, root, 1)), root)) // A lands v2
    require(vFinal == 3 && attempts == 2,
      s"scripted interleave must rebase once: v=$vFinal attempts=$attempts")
    VersionedTable.readVersion(s, root, vFinal)
      .withColumn("final_version", lit(vFinal))
      .withColumn("n_attempts", lit(attempts))
      .orderBy(col("key"))
  }

  private val tableConcurrentCommitOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |a AS (
      |  SELECT key, CASE WHEN key % 10 = 0 THEN 'X' ELSE status END AS status,
      |         total
      |  FROM base),
      |b AS (
      |  SELECT key, status,
      |         CASE WHEN status = 'O'
      |              THEN CAST(CAST(round(total * 100) AS BIGINT) +
      |                        CAST(round(total * 100) AS BIGINT) // 20 AS DOUBLE) / 100.0
      |              ELSE total END AS total
      |  FROM a)
      |SELECT key, status, total, 3 AS final_version, 2 AS n_attempts
      |FROM b ORDER BY key""".stripMargin

  // ---- table_vacuum_age -----------------------------------------------------
  // Retention-window VACUUM (r7): same staged table as table_vacuum, but
  // pruning by AGE (`RETAIN n HOURS`) instead of version count — v1's
  // manifest mtime is pushed outside the window, v2's stays inside, so
  // the age sweep deletes exactly v1 and the latest read is unaffected
  // (identity oracle). The spec additionally proves a pinned reader of a
  // version INSIDE the window survives a sweep.
  def tableVacuumAge(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("vaca")
    VersionedTable.commit(ordersBase(s, dir).repartition(64), root)
    val v2 = VersionedTable.compact(s, root, targetBytes = 8L << 20)
    // age v1 out of the retention window (the test clock: a day old)
    java.nio.file.Files.setLastModifiedTime(
      java.nio.file.Paths.get(s"$root/_commits/v1.manifest"),
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 86_400_000L))
    VersionedTable.vacuumOlderThan(root, maxAgeMillis = 3_600_000L)
    VersionedTable.readVersion(s, root, v2).orderBy(col("key"))
  }

  // ---- table_vacuum ---------------------------------------------------------
  // Retention: fragment v1, compact to v2, VACUUM retaining only the
  // newest version — v1's manifest and its (now-unreferenced) data files
  // are deleted, and the LATEST read must be byte-for-byte unaffected
  // (the identity oracle). The spec additionally proves the pruned
  // version is gone from disk and fails fast on time travel.
  def tableVacuum(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("vac")
    VersionedTable.commit(ordersBase(s, dir).repartition(64), root)
    val v2 = VersionedTable.compact(s, root, targetBytes = 8L << 20)
    VersionedTable.vacuum(root, keepVersions = 1)
    VersionedTable.readVersion(s, root, v2).orderBy(col("key"))
  }

  // ---- table_ndv_stats ----------------------------------------------------
  // Distinct-count from MANIFEST SKETCHES, no scan: the commit records a
  // 64-register md5-HLL per data file per stats column (`H` records — the
  // Iceberg puffin/theta-sketch idea), and the read path answers "how many
  // distinct customers does this table have" by merging registers with a
  // per-bucket MAX — O(files·64) driver metadata against a table whose
  // data pages are never opened. Merge-independence (merged per-file
  // registers == whole-table registers, for ANY file split) is what makes
  // the stat maintainable incrementally: appends contribute their own H
  // records and the merge stays exact. The estimate arithmetic is the
  // proven sketch_hll_distinct formula bit-for-bit (same buckets, same
  // rho, same small-range correction), so the oracle replays it
  // corpus-wide — a register lost or mis-merged anywhere fails the hash.
  // The exact distinct rides along from one reference scan (what the
  // sketch saves at 100 TB) so the artifact also documents the error.
  def tableNdvStats(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = freshRoot("ndv")
    VersionedTable.commit(ordersBase(s, dir).repartition(8), root,
      changes = None, statsColumns = Nil, bloomColumns = Nil,
      ndvColumns = Seq("key"))
    val regs = VersionedTable.ndvRegisters(root, 1, "key")
    val sketch = regs.zipWithIndex
      .map { case (m, b) => (b.toLong, m.toLong) }.toDF("bucket", "m")
    val est = sketch.agg(
      sum(when(col("m") > 0, 1L).otherwise(0L)).as("n_buckets_hit"),
      sum(col("m")).as("reg_sum"),
      expr("sum(shiftleft(1L, 33 - m))").as("s_scaled"))
      .withColumn("hll_estimate", expr(
        """cast(round(cast(
          |  case when 64 - n_buckets_hit > 0
          |        and 0.709 * 64 * 64 * 8589934592.0 / cast(s_scaled as double) < 160.0
          |       then 64.0 * ln(64.0 / cast(64 - n_buckets_hit as double))
          |       else 0.709 * 64 * 64 * 8589934592.0 / cast(s_scaled as double) end
          |as decimal(28,6)), 2) as double)""".stripMargin))
      .select(col("n_buckets_hit"), col("reg_sum"), col("hll_estimate"))
    val truth = VersionedTable.readVersion(s, root, 1)
      .agg(countDistinct(col("key")).as("true_distinct"))
    est.crossJoin(broadcast(truth))
  }

  private val tableNdvStatsOracle =
    """WITH regs AS (
      |  SELECT ((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
      |          + (instr('0123456789abcdef', substring(h, 2, 1)) - 1)) % 64 AS bucket,
      |         CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rho
      |  FROM (
      |    SELECT h,
      |           CAST((instr('0123456789abcdef', substring(h, 3, 1)) - 1) AS BIGINT) * 268435456
      |           + (instr('0123456789abcdef', substring(h, 4, 1)) - 1) * 16777216
      |           + (instr('0123456789abcdef', substring(h, 5, 1)) - 1) * 1048576
      |           + (instr('0123456789abcdef', substring(h, 6, 1)) - 1) * 65536
      |           + (instr('0123456789abcdef', substring(h, 7, 1)) - 1) * 4096
      |           + (instr('0123456789abcdef', substring(h, 8, 1)) - 1) * 256
      |           + (instr('0123456789abcdef', substring(h, 9, 1)) - 1) * 16
      |           + (instr('0123456789abcdef', substring(h, 10, 1)) - 1) AS w
      |    FROM (SELECT md5(CAST(o_orderkey AS VARCHAR)) AS h FROM orders) t0) t),
      |mreg AS (SELECT bucket, MAX(rho) AS m FROM regs GROUP BY bucket),
      |spine AS (SELECT unnest(generate_series(0, 63)) AS bucket),
      |sketch AS (
      |  SELECT s.bucket, COALESCE(m.m, 0) AS m
      |  FROM spine s LEFT JOIN mreg m ON m.bucket = s.bucket),
      |agg AS (
      |  SELECT CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_buckets_hit,
      |         CAST(SUM(m) AS BIGINT) AS reg_sum,
      |         CAST(SUM(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT) AS s_scaled
      |  FROM sketch)
      |SELECT n_buckets_hit, reg_sum,
      |       CAST(ROUND(CAST(
      |         CASE WHEN 64 - n_buckets_hit > 0
      |               AND 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) < 160.0
      |              THEN 64.0 * ln(64.0 / CAST(64 - n_buckets_hit AS DOUBLE))
      |              ELSE 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) END
      |       AS DECIMAL(28,6)), 2) AS DOUBLE) AS hll_estimate,
      |       (SELECT COUNT(DISTINCT o_orderkey) FROM orders) AS true_distinct
      |FROM agg""".stripMargin

  // ---- table_tag_retention ----------------------------------------------
  // Named TAGS pin snapshots against retention (Iceberg tag semantics):
  // v1 = the orders snapshot, v2 = a curated rewrite (drop key % 13,
  // double totals) tagged 'baseline', v3 = the latest append. VACUUM
  // keep-1 must then prune exactly v1 — v3 is the latest and v2 is
  // pinned by name — so the blessed snapshot a training run was built
  // from stays readable BY NAME while ordinary history ages out around
  // it. The key reads the tag and the latest through the log after the
  // sweep; the spec additionally pins that v1's manifest is gone, that
  // dropping the tag makes v2 vacuum-eligible, and that the age sweep
  // honors pins too. All tag machinery is O(1) metadata — nothing here
  // scales with table size except the two commits the fixture stages.
  def tableTagRetention(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("tag")
    val base = ordersBase(s, dir)
    VersionedTable.commit(base, root) // v1
    VersionedTable.commit(base.filter(col("key") % 13 =!= 0)
      .withColumn("total", col("total") * 2), root) // v2: the blessed curate
    VersionedTable.tagVersion(root, "baseline", 2)
    VersionedTable.commit(
      VersionedTable.readLatest(s, root).unionAll(
        base.filter(col("key") % 13 === 0)), root) // v3: backfill append
    VersionedTable.vacuum(root, keepVersions = 1)  // prunes v1 only
    VersionedTable.readTagged(s, root, "baseline")
      .select(lit("baseline").as("ref"), col("key"), col("status"),
        col("total"))
      .unionAll(VersionedTable.readLatest(s, root)
        .select(lit("latest").as("ref"), col("key"), col("status"),
          col("total")))
      .orderBy(col("ref"), col("key"))
  }

  private val tableTagRetentionOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         o_totalprice AS total FROM orders),
      |v2 AS (
      |  SELECT key, status, total * 2 AS total FROM base WHERE key % 13 <> 0),
      |v3 AS (
      |  SELECT * FROM v2
      |  UNION ALL
      |  SELECT key, status, total FROM base WHERE key % 13 = 0)
      |SELECT 'baseline' AS ref, key, status, total FROM v2
      |UNION ALL
      |SELECT 'latest' AS ref, key, status, total FROM v3
      |ORDER BY ref, key""".stripMargin

  // ---- table_merge_on_read --------------------------------------------------
  // DELETE without rewriting data: v1 is the orders snapshot; v2 is
  // commitDeletes(key % 7 = 0) — an equality-delete `E` record carried
  // alongside v1's untouched data files (the spec pins manifest(v2) ==
  // manifest(v1)). Reading v2 through the log must subtract exactly the
  // deleted keys via the broadcast anti-join, while v1 still serves every
  // row — the merge-on-read contract both Iceberg (equality deletes) and
  // Delta (deletion vectors) implement, and the only delete economics
  // that work at 100 TB (KBs of metadata instead of rewriting every
  // touched file). The oracle restates both versions from the raw table.
  def tableMergeOnRead(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("mor")
    val base = ordersBase(s, dir)
    VersionedTable.commit(base, root) // v1: the snapshot
    VersionedTable.commitDeletes(
      base.filter(col("key") % 7 === 0).select(col("key")), root, "key") // v2
    val v1 = VersionedTable.readVersion(s, root, 1)
      .select(lit("v1").as("version"), col("key"), col("status"), col("total"))
    val v2 = VersionedTable.readVersion(s, root, 2)
      .select(lit("v2").as("version"), col("key"), col("status"), col("total"))
    v1.unionAll(v2).orderBy(col("version"), col("key"))
  }

  private val tableMergeOnReadOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders)
      |SELECT 'v1' AS version, key, status, total FROM base
      |UNION ALL
      |SELECT 'v2' AS version, key, status, total FROM base WHERE key % 7 <> 0
      |ORDER BY version, key""".stripMargin

  // ---- table_delete_vectors -------------------------------------------------
  // DELETE via POSITIONAL deletion vectors (r11) — the second
  // merge-on-read delete mode beside table_merge_on_read's equality
  // records, and the one a located `DELETE WHERE` compiles to (Delta
  // deletion vectors / Iceberg positional deletes): the predicate scan
  // runs ONCE carrying the parquet _metadata (file, row ordinal) columns,
  // the victims land as (file, pos) pairs in a `V` manifest record, the
  // data files are untouched, and every read subtracts by POSITION
  // through a broadcast anti-join — works for any predicate, no key
  // column required, zero cost on files with no deleted rows. v1 still
  // serves every row (copy-on-write history); v2 serves the deleted
  // view. The oracle restates both relations from the raw table.
  def tableDeleteVectors(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("dvec")
    val base = ordersBase(s, dir)
    VersionedTable.commit(base.repartition(8), root) // v1: the snapshot
    VersionedTable.commitDeleteVectors(s, root, "key % 11 = 0") // v2
    val v1 = VersionedTable.readVersion(s, root, 1)
      .select(lit("v1").as("version"), col("key"), col("status"), col("total"))
    val v2 = VersionedTable.readVersion(s, root, 2)
      .select(lit("v2").as("version"), col("key"), col("status"), col("total"))
    v1.unionAll(v2).orderBy(col("version"), col("key"))
  }

  private val tableDeleteVectorsOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders)
      |SELECT 'v1' AS version, key, status, total FROM base
      |UNION ALL
      |SELECT 'v2' AS version, key, status, total FROM base WHERE key % 11 <> 0
      |ORDER BY version, key""".stripMargin

  // ---- table_column_rename --------------------------------------------------
  // Column RENAME without rewrite (r11) — the other half of schema
  // evolution beside table_schema_evolution's widening: renaming a column
  // on a 100 TB table is a pure-metadata commit (`R physical logical`
  // mapping records + the renamed `S` schema; zero data files touched).
  // The key renames total → amount (v2) then amount → order_amount (v3 —
  // the CHAINED case, which must stay one mapping hop, not a chain walk),
  // reads v3 under the final logical names, and unions the v1 time-travel
  // read which still serves the ORIGINAL names — every version's manifest
  // froze its own schema and mapping. A NULL-filled column or a dropped
  // value anywhere fails the oracle hash.
  def tableColumnRename(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("ren")
    VersionedTable.commit(ordersBase(s, dir), root) // v1: (key,status,total)
    VersionedTable.commitRename(root, Map("total" -> "amount")) // v2
    VersionedTable.commitRename(root, Map("amount" -> "order_amount")) // v3
    val v3 = VersionedTable.readVersionRenamed(s, root, 3)
      .select(lit("v3").as("version"), col("key"), col("status"),
        col("order_amount"))
    val v1 = VersionedTable.readVersion(s, root, 1)
      .select(lit("v1").as("version"), col("key"), col("status"),
        col("total").as("order_amount"))
    v1.unionAll(v3).orderBy(col("version"), col("key"))
  }

  private val tableColumnRenameOracle =
    """SELECT 'v1' AS version, o_orderkey AS key, o_orderstatus AS status,
      |       o_totalprice AS order_amount
      |FROM orders
      |UNION ALL
      |SELECT 'v3', o_orderkey, o_orderstatus, o_totalprice FROM orders
      |ORDER BY version, key""".stripMargin

  // ---- table_replace_where --------------------------------------------------
  // REPLACE WHERE — the daily-partition reload: v1 commits the orders
  // snapshot RANGE-CLUSTERED on key with stats (each file owns a disjoint
  // key slice), v2 replaces only keys 1..10000 with a transformed reload
  // (status 'R', total doubled — ×2 is exact in binary, so no rounding
  // convention is even needed). commitReplaceWhere carries every file
  // whose stats prove it disjoint from the range verbatim — the spec pins
  // path-identity for the carried set — and rewrites only the straddlers
  // minus their in-range rows. Reading both versions through the log must
  // show the reload exactly where the predicate says and v1 untouched.
  def tableReplaceWhere(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("rw")
    val base = ordersBase(s, dir)
    VersionedTable.commit(base.repartitionByRange(8, col("key")), root,
      changes = None, statsColumns = Seq("key"))
    val reload = base.filter(col("key").between(1, 10000))
      .withColumn("status", lit("R"))
      .withColumn("total", col("total") * 2)
    VersionedTable.commitReplaceWhere(s, reload, root, "key", 1L, 10000L,
      statsColumns = Seq("key"))
    val v1 = VersionedTable.readVersion(s, root, 1)
      .select(lit("v1").as("version"), col("key"), col("status"), col("total"))
    val v2 = VersionedTable.readVersion(s, root, 2)
      .select(lit("v2").as("version"), col("key"), col("status"), col("total"))
    v1.unionAll(v2).orderBy(col("version"), col("key"))
  }

  private val tableReplaceWhereOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders)
      |SELECT 'v1' AS version, key, status, total FROM base
      |UNION ALL
      |SELECT 'v2' AS version, key,
      |       CASE WHEN key BETWEEN 1 AND 10000 THEN 'R' ELSE status END AS status,
      |       CASE WHEN key BETWEEN 1 AND 10000 THEN total * 2 ELSE total END AS total
      |FROM base
      |ORDER BY version, key""".stripMargin

  // ---- table_shallow_clone --------------------------------------------------
  // SHALLOW CLONE then diverge: v1 commits the orders snapshot; the clone
  // forks it by metadata alone (zero data copied — spec pins that the
  // clone's manifest lists the SOURCE's files path-identically); the
  // clone then applies the merge_upsert changeset as ITS OWN v2. Reading
  // (source latest, clone latest) must show the fork: source = the
  // untouched snapshot, clone = the merged table — the dev-sandbox
  // contract at 100 TB, where forking a table for an experiment costs a
  // manifest write. Oracle: base ∪ merged, the time-travel relation with
  // the roles played by two TABLES instead of two versions.
  def tableShallowClone(s: SparkSession, dir: String): DataFrame = {
    val src = freshRoot("clone-src")
    val dst = freshRoot("clone-dst")
    VersionedTable.commit(ordersBase(s, dir), src) // source v1
    VersionedTable.shallowClone(src, 1, dst) // fork: metadata only
    VersionedTable.commit(
      PipelineOps.mergeUpsert(s, dir).drop("last_op"), dst) // clone v2
    val source = VersionedTable.readLatest(s, src)
      .select(lit("source").as("table"), col("key"), col("status"), col("total"))
    val clone = VersionedTable.readLatest(s, dst)
      .select(lit("clone").as("table"), col("key"), col("status"), col("total"))
    source.unionAll(clone).orderBy(col("table"), col("key"))
  }

  private val tableShallowCloneOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |changes AS (
      |  SELECT key, 'D' AS op, CAST(NULL AS VARCHAR) AS new_status,
      |         CAST(NULL AS DOUBLE) AS new_total
      |  FROM base WHERE key % 13 = 0
      |  UNION ALL
      |  SELECT key, 'U', 'X',
      |         CAST(ROUND(CAST(total * 1.1 AS DECIMAL(18,4)), 2) AS DOUBLE)
      |  FROM base WHERE key % 10 = 0 AND key % 13 <> 0
      |  UNION ALL
      |  SELECT -key, 'I', 'N', total
      |  FROM base WHERE key % 97 = 0 AND key > 0),
      |merged AS (
      |  SELECT COALESCE(b.key, c.key) AS key,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_status ELSE b.status END AS status,
      |         CASE WHEN c.op IS NOT NULL THEN c.new_total ELSE b.total END AS total
      |  FROM base b FULL OUTER JOIN changes c ON c.key = b.key
      |  WHERE c.op IS NULL OR c.op <> 'D')
      |SELECT 'clone' AS "table", key, status, total FROM merged
      |UNION ALL
      |SELECT 'source' AS "table", key, status, total FROM base
      |ORDER BY "table", key""".stripMargin

  // ---- table_describe_history ---------------------------------------------
  // DESCRIBE HISTORY — the operational audit trail (Delta's DESCRIBE
  // HISTORY / Iceberg's snapshots table): per version, the exact row
  // count read from parquet FOOTERS through the manifest — pure metadata,
  // no data pages touched, so auditing a 100 TB table's commit history
  // costs KBs of footer reads. The staged history exercises all three
  // commit modes: v1 snapshot, v2 MERGE (copy-on-write rewrite), v3
  // APPEND (carried manifest + new files). The referenced FILE count is
  // deliberately excluded from the oracle-compared output — it depends
  // on write parallelism, not on table content — and is spec-checked
  // structurally instead (monotone under append, reset under rewrite).
  def tableDescribeHistory(s: SparkSession, dir: String): DataFrame = {
    val root = freshRoot("hist")
    VersionedTable.commit(ordersBase(s, dir), root) // v1: snapshot
    VersionedTable.commit(
      PipelineOps.mergeUpsert(s, dir).drop("last_op"), root) // v2: MERGE
    VersionedTable.commitAppend(ordersBase(s, dir)
      .filter(col("key") % 97 === 0 && col("key") > 0)
      .select((-col("key") * 1000).as("key"), lit("H").as("status"),
        col("total")), root) // v3: APPEND (keys disjoint from the merge's)
    import s.implicits._
    VersionedTable.describeHistory(root)
      .map { case (v, _, nRows) => (v.toLong, nRows) }
      .toDF("version", "n_rows").orderBy(col("version"))
  }

  private val tableDescribeHistoryOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_totalprice AS total FROM orders),
      |merged AS (
      |  SELECT key FROM base WHERE key % 13 <> 0
      |  UNION ALL
      |  SELECT -key FROM base WHERE key % 97 = 0 AND key > 0),
      |slice AS (SELECT key FROM base WHERE key % 97 = 0 AND key > 0)
      |SELECT CAST(1 AS BIGINT) AS version,
      |       CAST((SELECT COUNT(*) FROM base) AS BIGINT) AS n_rows
      |UNION ALL
      |SELECT 2, CAST((SELECT COUNT(*) FROM merged) AS BIGINT)
      |UNION ALL
      |SELECT 3, CAST((SELECT COUNT(*) FROM merged) AS BIGINT)
      |        + CAST((SELECT COUNT(*) FROM slice) AS BIGINT)
      |ORDER BY version""".stripMargin

  // ---- table_branch_merge -------------------------------------------------
  // Named-branch development with a real 3-WAY MERGE (the Nessie/Iceberg
  // branch model) — the case WAP's fast-forward refuses by design: main
  // ADVANCES while a branch carries its own commits, and both sides'
  // work must land. The key stages the full lifecycle deterministically:
  // (1) branch = shallow clone of main@v1; (2) the branch appends batch A
  // while main concurrently appends batch B; (3) fastForward(branch→main)
  // is REFUSED (main moved — the lost-update guard, pinned as a metric);
  // (4) mergeBranch lands A's manifest records onto main's current
  // manifest under the publish CAS — both appends survive, zero data I/O;
  // (5) a second branch that REWRITES the table (a full commit, not an
  // append) is refused by the merge with the reason — append-only
  // divergence is the only safe row-level-reconciliation-free merge, and
  // the refusal is part of the contract, not a failure mode. Final state
  // is read back THROUGH the merged manifest; the oracle replays it as
  // base ∪ A ∪ B from the raw table. Scale: clone, refusal checks and
  // merge are all KB manifest operations — merging a 100 TB branch costs
  // the same metadata CAS as a 100 MB one.
  def tableBranchMerge(s: SparkSession, dir: String): DataFrame = {
    val main = freshRoot("branch-main")
    val base = ordersBase(s, dir)
    val v1 = VersionedTable.commit(base, main)
    def slice(mod: Int, tag: String, shift: Long): DataFrame = base
      .filter(col("key") % mod === 0 && col("key") > 0)
      .select((-col("key") - shift).as("key"), lit(tag).as("status"),
        col("total"))
    // branch appends A; main concurrently appends B
    val branch = freshRoot("branch-feature")
    VersionedTable.shallowClone(main, v1, branch)
    VersionedTable.commitAppend(slice(89, "A", 0L), branch) // branch v2
    VersionedTable.commitAppend(slice(97, "B", 1000000000L), main) // main v2
    val ffRefused = VersionedTable.fastForward(branch, 2, main, v1).isLeft
    val merged = VersionedTable.mergeBranch(branch, 1, main)
    // a rewriting branch cannot 3-way merge: full commit, not an append
    val rewrite = freshRoot("branch-rewrite")
    VersionedTable.shallowClone(main, merged.getOrElse(v1), rewrite)
    VersionedTable.commit(base.filter(col("key") % 2 === 0), rewrite)
    val rewriteRefused = VersionedTable.mergeBranch(rewrite, 1, main).isLeft
    val fin = VersionedTable.readLatest(s, main).agg(
      count(lit(1)).as("n"),
      sum(when(col("status") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("status") === "B", 1L).otherwise(0L)).as("nb"),
      sum(expr("CAST(round(total * 100) AS BIGINT)")).as("cents")).head()
    import s.implicits._
    Seq(
      ("guards", "ff_refused", if (ffRefused) 1L else 0L),
      ("guards", "rewrite_refused", if (rewriteRefused) 1L else 0L),
      ("merge", "main_version", merged.fold(_ => -1L, _.toLong)),
      ("final", "n_rows", fin.getLong(0)),
      ("final", "n_a", fin.getLong(1)),
      ("final", "n_b", fin.getLong(2)),
      ("final", "sum_cents", fin.getLong(3)))
      .toDF("step", "metric", "value")
      .orderBy(col("step"), col("metric"))
  }

  private val tableBranchMergeOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |a AS (SELECT -key AS key, 'A' AS status, total FROM base
      |      WHERE key % 89 = 0 AND key > 0),
      |b AS (SELECT -key - 1000000000 AS key, 'B' AS status, total FROM base
      |      WHERE key % 97 = 0 AND key > 0),
      |fin AS (
      |  SELECT * FROM base UNION ALL SELECT * FROM a UNION ALL SELECT * FROM b)
      |SELECT * FROM (
      |  SELECT 'guards' AS step, 'ff_refused' AS metric, CAST(1 AS BIGINT) AS value
      |  UNION ALL SELECT 'guards', 'rewrite_refused', 1
      |  UNION ALL SELECT 'merge', 'main_version', 3
      |  UNION ALL SELECT 'final', 'n_rows', (SELECT COUNT(*) FROM fin)
      |  UNION ALL SELECT 'final', 'n_a', (SELECT COUNT(*) FROM a)
      |  UNION ALL SELECT 'final', 'n_b', (SELECT COUNT(*) FROM b)
      |  UNION ALL SELECT 'final', 'sum_cents',
      |    (SELECT CAST(SUM(CAST(round(total * 100) AS BIGINT)) AS BIGINT) FROM fin)
      |) z ORDER BY step, metric""".stripMargin

  // ---- table_wap_publish ------------------------------------------------
  // WRITE-AUDIT-PUBLISH — the staging discipline for writes that must be
  // validated BEFORE readers can see them (Iceberg's WAP, the audit
  // branch pattern): (1) WRITE the incoming batch onto a shallow-cloned
  // staging branch (main's readers see nothing), (2) AUDIT the staged
  // snapshot — one aggregate scan folding every declared check, here
  // non-negative totals + key uniqueness, (3) PUBLISH by fast-forwarding
  // main onto the audited staged manifest — a metadata-only CAS that
  // references the staged files (VersionedTable.fastForward), guarded by
  // the version main was cloned at so a concurrent main commit can never
  // be silently erased. The key runs BOTH waves deterministically: a
  // batch carrying planted violations is written+audited and main stays
  // at v1 (the staging branch absorbs the bad data and is abandoned);
  // the clean batch then stages, audits green, and fast-forwards main
  // to v2. Scale: staging is one batch write (clone = KB manifest);
  // audit is one scan of the staged table; publish is a KB CAS — no
  // data file is ever written twice, which is the entire point of WAP
  // over write-then-delete repair.
  def tableWapPublish(s: SparkSession, dir: String): DataFrame = {
    val main = freshRoot("wap-main")
    val base = ordersBase(s, dir)
    val v1 = VersionedTable.commit(base, main) // main v1: readers live here
    // the incoming batch: the %97 insert slice re-keyed negative; the bad
    // wave flips every third one's total negative (the planted violation)
    def batch(bad: Boolean): DataFrame = base
      .filter(col("key") % 97 === 0 && col("key") > 0) // -0 would collide
      .select((-col("key")).as("key"), lit("N").as("status"),
        (if (bad) when(col("key") % 3 === 0, -col("total"))
          .otherwise(col("total"))
        else col("total")).as("total"))
    def audit(root: String): Long = {
      val staged = VersionedTable.readLatest(s, root)
      val r = staged.agg(
        sum(when(col("total") < 0, 1L).otherwise(0L)).as("neg"),
        (count(lit(1)) - countDistinct(col("key"))).as("dupkeys")).head()
      r.getLong(0) + r.getLong(1)
    }
    def stageAuditPublish(bad: Boolean): (Long, Int) = {
      val stage = freshRoot(if (bad) "wap-stage-bad" else "wap-stage-ok")
      VersionedTable.shallowClone(main, v1, stage)
      VersionedTable.commitAppend(batch(bad), stage) // stage v2 = base ∪ batch
      val violations = audit(stage)
      val version =
        if (violations > 0) VersionedTable.latestVersion(main) // abandon
        else VersionedTable.fastForward(stage, 2, main, v1)
          .fold(identity, identity)
      (violations, version)
    }
    val (badViol, badVer) = stageAuditPublish(bad = true)
    val (okViol, okVer) = stageAuditPublish(bad = false)
    // the final main table, read back THROUGH the fast-forwarded manifest
    val fin = VersionedTable.readLatest(s, main).agg(
      count(lit(1)).as("n"),
      sum(when(col("key") < 0, 1L).otherwise(0L)).as("nnew"),
      sum(expr("CAST(round(total * 100) AS BIGINT)")).as("cents")).head()
    import s.implicits._
    Seq(
      ("wave_bad", "n_violations", badViol),
      ("wave_bad", "main_version", badVer.toLong),
      ("wave_good", "n_violations", okViol),
      ("wave_good", "main_version", okVer.toLong),
      ("final", "n_rows", fin.getLong(0)),
      ("final", "n_new_rows", fin.getLong(1)),
      ("final", "sum_cents", fin.getLong(2)))
      .toDF("step", "metric", "value")
      .orderBy(col("step"), col("metric"))
  }

  private val tableWapPublishOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status, o_totalprice AS total
      |  FROM orders),
      |slice AS (SELECT key, total FROM base WHERE key % 97 = 0 AND key > 0),
      |badv AS (
      |  SELECT COUNT(*) AS v FROM slice WHERE (-key) % 3 = 0 AND total > 0),
      |fin AS (
      |  SELECT key, total FROM base
      |  UNION ALL SELECT -key, total FROM slice)
      |SELECT 'final' AS step, 'n_new_rows' AS metric,
      |       CAST((SELECT COUNT(*) FROM slice) AS BIGINT) AS value
      |UNION ALL
      |SELECT 'final', 'n_rows', CAST(COUNT(*) AS BIGINT) FROM fin
      |UNION ALL
      |SELECT 'final', 'sum_cents',
      |       CAST(SUM(CAST(round(total * 100) AS BIGINT)) AS BIGINT) FROM fin
      |UNION ALL
      |SELECT 'wave_bad', 'main_version', CAST(1 AS BIGINT)
      |UNION ALL
      |SELECT 'wave_bad', 'n_violations', CAST(v AS BIGINT) FROM badv
      |UNION ALL
      |SELECT 'wave_good', 'main_version', CAST(2 AS BIGINT)
      |UNION ALL
      |SELECT 'wave_good', 'n_violations', CAST(0 AS BIGINT)
      |ORDER BY step, metric""".stripMargin

  // ---- table_stats_histogram --------------------------------------------------
  // Range selectivity from MANIFEST HISTOGRAMS, no scan — the statistic
  // that answers "how many rows match cents BETWEEN x AND y" the way `H`
  // records answer distinct counts: each data file carries a `G` record
  // binning its rows into a GLOBAL fixed-width grid (value div WIDTH —
  // the same global-grid trick as hidden partitioning's truncate
  // transform), so merging files is an exact per-cell SUM and the
  // estimate is O(files·cells) driver metadata against a table whose
  // data pages are never opened. Edge cells pro-rate by overlap with
  // truncating integer arithmetic (continuous-uniform within a cell);
  // a CELL-ALIGNED probe is therefore EXACT by construction — the
  // property the probe set demonstrates (probe 1 aligned → est ==
  // exact; probes 2-3 misaligned → interpolated). The exact counts ride
  // along from one reference scan of the table read path, so the
  // artifact documents the estimator's error, the same contract as
  // table_ndv_stats.
  def tableStatsHistogram(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = freshRoot("hist")
    val W = 5000000L // 50k-dollar cells over cents ≤ ~60M: ~12 grid cells
    val staged = ordersBase(s, dir)
      .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
    VersionedTable.commit(staged.repartition(8), root, changes = None,
      statsColumns = Nil, bloomColumns = Nil, ndvColumns = Nil,
      histColumns = Seq(("cents", W)))
    val (w, cells) = VersionedTable.histogramCells(root, 1, "cents")
    val probes = Seq(
      (1L, 10000000L, 20000000L), // cell-aligned: estimate must be exact
      (2L, 12345600L, 34567800L), // misaligned: both edges interpolate
      (3L, 45000000L, 90000000L)) // tail: upper bound past the data
    val est = probes
      .map { case (p, lo, hi) =>
        (p, lo, hi, VersionedTable.estimateRange(w, cells, lo, hi)) }
      .toDF("probe", "lo", "hi", "est_rows")
    val exact = VersionedTable.readVersion(s, root, 1)
      .select(col("cents"))
      .join(broadcast(est.select(col("probe"), col("lo"), col("hi"))),
        col("cents") >= col("lo") && col("cents") < col("hi"))
      .groupBy(col("probe")).agg(count(lit(1)).as("exact_rows"))
    est.join(exact, Seq("probe"), "left")
      .na.fill(0L, Seq("exact_rows"))
      .select(col("probe"), col("lo"), col("hi"), col("est_rows"),
        col("exact_rows"))
      .orderBy(col("probe"))
  }

  private val tableStatsHistogramOracle =
    """WITH cents AS (
      |  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |grid AS (SELECT v // 5000000 AS cell, COUNT(*) AS cnt FROM cents GROUP BY 1),
      |probes(probe, lo, hi) AS (VALUES
      |  (CAST(1 AS BIGINT), CAST(10000000 AS BIGINT), CAST(20000000 AS BIGINT)),
      |  (CAST(2 AS BIGINT), CAST(12345600 AS BIGINT), CAST(34567800 AS BIGINT)),
      |  (CAST(3 AS BIGINT), CAST(45000000 AS BIGINT), CAST(90000000 AS BIGINT))),
      |est AS (
      |  SELECT p.probe, p.lo, p.hi,
      |         CAST(SUM((g.cnt * (LEAST(g.cell * 5000000 + 5000000, p.hi)
      |                - GREATEST(g.cell * 5000000, p.lo))) // 5000000)
      |              AS BIGINT) AS est_rows
      |  FROM probes p JOIN grid g
      |    ON g.cell * 5000000 + 5000000 > p.lo AND g.cell * 5000000 < p.hi
      |  GROUP BY 1, 2, 3),
      |ex AS (
      |  SELECT p.probe, CAST(COUNT(*) AS BIGINT) AS exact_rows
      |  FROM probes p JOIN cents c ON c.v >= p.lo AND c.v < p.hi
      |  GROUP BY 1)
      |SELECT p.probe, p.lo, p.hi,
      |       COALESCE(e.est_rows, CAST(0 AS BIGINT)) AS est_rows,
      |       COALESCE(x.exact_rows, CAST(0 AS BIGINT)) AS exact_rows
      |FROM probes p
      |LEFT JOIN est e ON e.probe = p.probe
      |LEFT JOIN ex x ON x.probe = p.probe
      |ORDER BY p.probe""".stripMargin

  // ---- table_stats_refresh ------------------------------------------------------
  // INCREMENTAL maintenance of the grid histograms under append ingest —
  // the property that separates the global-grid design from per-file-
  // anchored buckets: v1 commits ~60% of the rows with stats, v2 appends
  // the rest via `commitAppendStats` (G records computed for the NEW
  // files ONLY — one pass over the batch, never a table rescan), and the
  // merged estimate at v2 is as exact as a full recompute would be. The
  // key serves both versions' estimates beside their exact counts: the
  // cell-aligned probe must match exactly at BOTH versions (oracle-
  // checked equality — if the append path dropped, duplicated or
  // mis-binned one record, this row breaks), the misaligned probe
  // documents interpolation error before and after the append.
  def tableStatsRefresh(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val root = freshRoot("hrf")
    val W = 5000000L
    val staged = ordersBase(s, dir)
      .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
    VersionedTable.commit(staged.filter(col("key") % 5 < 3).repartition(4),
      root, changes = None, statsColumns = Nil, bloomColumns = Nil,
      ndvColumns = Nil, histColumns = Seq(("cents", W)))
    VersionedTable.commitAppendStats(
      staged.filter(col("key") % 5 >= 3).repartition(3), root,
      Seq(("cents", W)))
    val probes = Seq((1, 10000000L, 20000000L), (2, 12345600L, 34567800L))
    val est = (for {
      v <- Seq(1, 2)
      (p, lo, hi) <- probes
    } yield {
      val (w, cells) = VersionedTable.histogramCells(root, v, "cents")
      (v, p, lo, hi, VersionedTable.estimateRange(w, cells, lo, hi))
    }).toDF("version", "probe", "lo", "hi", "est_rows")
    val exact = Seq(1, 2).map { v =>
      VersionedTable.readVersion(s, root, v)
        .select(lit(v).as("version"), col("cents"))
    }.reduce(_ unionAll _)
      .join(broadcast(est.select(col("version"), col("probe"), col("lo"),
        col("hi"))), Seq("version"))
      .filter(col("cents") >= col("lo") && col("cents") < col("hi"))
      .groupBy(col("version"), col("probe"))
      .agg(count(lit(1)).as("exact_rows"))
    est.join(exact, Seq("version", "probe"), "left")
      .na.fill(0L, Seq("exact_rows"))
      .select(col("version"), col("probe"), col("lo"), col("hi"),
        col("est_rows"), col("exact_rows"))
      .orderBy(col("version"), col("probe"))
  }

  private val tableStatsRefreshOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      |vv(version) AS (VALUES (1),(2)),
      |vis AS (
      |  SELECT version, v FROM base, vv
      |  WHERE version = 2 OR key % 5 < 3),
      |grid AS (
      |  SELECT version, v // 5000000 AS cell, COUNT(*) AS cnt
      |  FROM vis GROUP BY 1, 2),
      |probes(probe, lo, hi) AS (VALUES
      |  (CAST(1 AS INT), CAST(10000000 AS BIGINT), CAST(20000000 AS BIGINT)),
      |  (CAST(2 AS INT), CAST(12345600 AS BIGINT), CAST(34567800 AS BIGINT))),
      |est AS (
      |  SELECT g.version, p.probe, p.lo, p.hi,
      |         CAST(SUM((g.cnt * (LEAST(g.cell * 5000000 + 5000000, p.hi)
      |                - GREATEST(g.cell * 5000000, p.lo))) // 5000000)
      |              AS BIGINT) AS est_rows
      |  FROM probes p JOIN grid g
      |    ON g.cell * 5000000 + 5000000 > p.lo AND g.cell * 5000000 < p.hi
      |  GROUP BY 1, 2, 3, 4),
      |ex AS (
      |  SELECT vis.version, p.probe, CAST(COUNT(*) AS BIGINT) AS exact_rows
      |  FROM vis JOIN probes p ON vis.v >= p.lo AND vis.v < p.hi
      |  GROUP BY 1, 2)
      |SELECT vv.version, p.probe, p.lo, p.hi,
      |       COALESCE(e.est_rows, CAST(0 AS BIGINT)) AS est_rows,
      |       COALESCE(x.exact_rows, CAST(0 AS BIGINT)) AS exact_rows
      |FROM vv CROSS JOIN probes p
      |LEFT JOIN est e ON e.version = vv.version AND e.probe = p.probe
      |LEFT JOIN ex x ON x.version = vv.version AND x.probe = p.probe
      |ORDER BY vv.version, p.probe""".stripMargin

  // ---- table_cbo_join -------------------------------------------------------
  // The manifest stats FEED PLANNING (the table_ndv_stats follow-through):
  // a join's build side and strategy are decided from scanFreeStats —
  // exact row counts out of parquet footers + NDV out of the manifest's
  // H registers — WITHOUT opening a data page or running a Spark job
  // (the spec pins the zero-job claim with a listener). Two stagings of
  // the same join, differing only in the build side's size, must flip
  // the decision: the 500-row dim broadcasts, the full-table build
  // shuffles — the generalization of the triangles broadcast gate into
  // the metadata tier, which is exactly how a CBO avoids both the
  // OOM-broadcast and the needless-shuffle failure modes at 100 TB. The
  // NDV also prices the join: est_join_rows = |probe|·|build| /
  // max(ndv) — the textbook equi-join cardinality estimate — lands in
  // the artifact next to the actual count, so the estimate's quality is
  // data, not prose.
  private val BroadcastRowGate = 1000L

  private def round2(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble

  def tableCboJoin(s: SparkSession, dir: String): DataFrame = {
    val fact = ordersBase(s, dir)
    val rootF = freshRoot("cbof")
    val rootS = freshRoot("cbos")
    val rootB = freshRoot("cbob")
    VersionedTable.commit(fact.repartition(8), rootF, changes = None,
      statsColumns = Nil, bloomColumns = Nil, ndvColumns = Seq("key"))
    VersionedTable.commit(fact.filter(col("key") < 500).repartition(2),
      rootS, changes = None, statsColumns = Nil, bloomColumns = Nil,
      ndvColumns = Seq("key"))
    VersionedTable.commit(fact.repartition(8), rootB, changes = None,
      statsColumns = Nil, bloomColumns = Nil, ndvColumns = Seq("key"))

    def planned(pair: String, buildRoot: String): DataFrame = {
      // the decision: metadata only — no scan, no job (spec-pinned)
      val (pRows, pNdv) = VersionedTable.scanFreeStats(rootF, 1, "key")
      val (bRows, bNdv) = VersionedTable.scanFreeStats(buildRoot, 1, "key")
      val strategy =
        if (bRows <= BroadcastRowGate) "broadcast" else "shuffle_hash"
      val estJoin =
        round2(pRows.toDouble * bRows.toDouble / math.max(pNdv, bNdv))
      val probe = VersionedTable.readVersion(s, rootF, 1).select(col("key"))
      val build0 = VersionedTable.readVersion(s, buildRoot, 1)
        .select(col("key").as("bkey"), col("total"))
      val build =
        if (strategy == "broadcast") broadcast(build0)
        else build0.hint("shuffle_hash")
      probe.join(build, col("key") === col("bkey"))
        .agg(count(lit(1)).as("join_rows"),
          round(sum(col("total").cast("decimal(18,4)")), 2).cast("double")
            .as("join_total"))
        .select(lit(pair).as("pair"), lit(pRows).as("probe_rows"),
          lit(bRows).as("build_rows"), lit(bNdv).as("build_ndv_est"),
          lit(estJoin).as("est_join_rows"), lit(strategy).as("strategy"),
          col("join_rows"), col("join_total"))
    }
    planned("fact_dim", rootS).union(planned("fact_fact", rootB))
      .orderBy(col("pair"))
  }

  /** DuckDB HLL replay (the table_ndv_stats machinery) over `$rel.key`,
    * ending in CTE `${p}e(ndv)`. Merge-independence makes the corpus-wide
    * replay equal the manifest's per-file merge. */
  private def hllCte(p: String, rel: String): String =
    s"""${p}r AS (
       |  SELECT ((instr('0123456789abcdef', substring(h, 1, 1)) - 1) * 16
       |          + (instr('0123456789abcdef', substring(h, 2, 1)) - 1)) % 64 AS bucket,
       |         CASE WHEN w = 0 THEN 33 ELSE 33 - length(bin(w)) END AS rho
       |  FROM (
       |    SELECT h,
       |           CAST((instr('0123456789abcdef', substring(h, 3, 1)) - 1) AS BIGINT) * 268435456
       |           + (instr('0123456789abcdef', substring(h, 4, 1)) - 1) * 16777216
       |           + (instr('0123456789abcdef', substring(h, 5, 1)) - 1) * 1048576
       |           + (instr('0123456789abcdef', substring(h, 6, 1)) - 1) * 65536
       |           + (instr('0123456789abcdef', substring(h, 7, 1)) - 1) * 4096
       |           + (instr('0123456789abcdef', substring(h, 8, 1)) - 1) * 256
       |           + (instr('0123456789abcdef', substring(h, 9, 1)) - 1) * 16
       |           + (instr('0123456789abcdef', substring(h, 10, 1)) - 1) AS w
       |    FROM (SELECT md5(CAST(key AS VARCHAR)) AS h FROM $rel) t0) t),
       |${p}s AS (
       |  SELECT s.bucket, COALESCE(m.m, 0) AS m
       |  FROM (SELECT unnest(generate_series(0, 63)) AS bucket) s
       |  LEFT JOIN (SELECT bucket, MAX(rho) AS m FROM ${p}r GROUP BY bucket) m
       |    ON m.bucket = s.bucket),
       |${p}e AS (
       |  SELECT CAST(ROUND(CAST(
       |    CASE WHEN 64 - hit > 0
       |          AND 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) < 160.0
       |         THEN 64.0 * ln(64.0 / CAST(64 - hit AS DOUBLE))
       |         ELSE 0.709 * 64 * 64 * 8589934592.0 / CAST(s_scaled AS DOUBLE) END
       |  AS DECIMAL(28,6)), 2) AS DOUBLE) AS ndv
       |  FROM (SELECT CAST(SUM(CASE WHEN m > 0 THEN 1 ELSE 0 END) AS BIGINT) AS hit,
       |               CAST(SUM(CAST(1 AS BIGINT) << (33 - m)) AS BIGINT) AS s_scaled
       |        FROM ${p}s) a)""".stripMargin

  private val tableCboJoinOracle =
    s"""WITH fact AS (SELECT o_orderkey AS key, o_totalprice AS total FROM orders),
       |dim AS (SELECT * FROM fact WHERE key < 500),
       |${hllCte("f", "fact")},
       |${hllCte("d", "dim")},
       |prc AS (SELECT CAST(COUNT(*) AS BIGINT) AS pr FROM fact),
       |brc AS (SELECT CAST(COUNT(*) AS BIGINT) AS br FROM dim),
       |j1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS jr,
       |              CAST(ROUND(SUM(CAST(d.total AS DECIMAL(18,4))), 2) AS DOUBLE) AS jt
       |       FROM fact f JOIN dim d ON f.key = d.key),
       |j2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS jr,
       |              CAST(ROUND(SUM(CAST(d.total AS DECIMAL(18,4))), 2) AS DOUBLE) AS jt
       |       FROM fact f JOIN fact d ON f.key = d.key)
       |SELECT * FROM (
       |  SELECT 'fact_dim' AS pair, pr AS probe_rows, br AS build_rows,
       |         de.ndv AS build_ndv_est,
       |         CAST(ROUND(CAST(CAST(pr AS DOUBLE) * br / GREATEST(fe.ndv, de.ndv) AS DECIMAL(28,6)), 2) AS DOUBLE) AS est_join_rows,
       |         CASE WHEN br <= 1000 THEN 'broadcast' ELSE 'shuffle_hash' END AS strategy,
       |         jr AS join_rows, jt AS join_total
       |  FROM prc, brc, fe, de, j1
       |  UNION ALL
       |  SELECT 'fact_fact', pr, pr, fe.ndv,
       |         CAST(ROUND(CAST(CAST(pr AS DOUBLE) * pr / GREATEST(fe.ndv, fe.ndv) AS DECIMAL(28,6)), 2) AS DOUBLE),
       |         CASE WHEN pr <= 1000 THEN 'broadcast' ELSE 'shuffle_hash' END,
       |         jr, jt
       |  FROM prc, fe, j2
       |) z ORDER BY pair""".stripMargin

  // ---- table_corpus_pointread -------------------------------------------------
  // The read-side loop between the table tier and the LLM corpus: the
  // `documents` corpus is committed ONCE per dataset as a versioned table
  // (bloom index on doc_id, NDV sketches on lang/source, min/max stats on
  // n_chars — the write-side analog stream_index_ingest already proves),
  // and a dedup-flavored lookup routes through the BLOOM-PRUNED point
  // read: each probe doc_id opens only the files whose bloom might hold
  // it (the corpus is hash-scattered on doc_id, so min/max stats prune
  // nothing — exactly the unclustered-ingest layout a 100 TB corpus has),
  // then the probe's text fingerprint joins the corpus-wide exact-dup
  // groups. Oracle = the plain filter + md5 group count; the strict
  // file-subset claim is spec-pinned (CorpusPointReadSpec) because SQL
  // can't state I/O.

  /** The documents corpus as a versioned table, staged at most once per
    * documents source — the artifact a deployment commits in the pipeline
    * that lands the corpus, not per query. */
  private[graft] def corpusTable(s: SparkSession, dir: String): String =
    graft.Artifacts.derive("corpus", s"$dir/documents.parquet") { root =>
      val docs = Tables.load(s, dir, "documents")
        .repartition(8, col("doc_id")) // unclustered: every file spans the id domain
      VersionedTable.commit(docs, root, changes = None,
        statsColumns = Seq("n_chars"), bloomColumns = Seq("doc_id"),
        ndvColumns = Seq("lang", "source"))
    }

  def tableCorpusPointread(s: SparkSession, dir: String): DataFrame = {
    val root = corpusTable(s, dir)
    val probes = Seq(1L, 7L, 13L, 29L, 41L)
    val probed = probes.map { id =>
      VersionedTable.readVersionPoint(s, root, 1, "doc_id", id)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
          md5(col("text")).as("h"))
    }.reduce(_ unionAll _)
    val dupGroups = VersionedTable.readVersion(s, root, 1)
      .groupBy(md5(col("text")).as("h")).agg(count(lit(1)).as("n"))
    probed.join(dupGroups, Seq("h"))
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        (col("n") - 1).as("n_dups"))
      .orderBy(col("doc_id"))
  }

  private val tableCorpusPointreadOracle =
    """WITH probes(doc_id) AS (VALUES
      |  (CAST(1 AS BIGINT)), (CAST(7 AS BIGINT)), (CAST(13 AS BIGINT)),
      |  (CAST(29 AS BIGINT)), (CAST(41 AS BIGINT))),
      |h AS (SELECT doc_id, md5(text) AS h, lang, source, n_chars
      |      FROM documents),
      |g AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n FROM h GROUP BY 1)
      |SELECT h.doc_id, h.lang, h.source, h.n_chars,
      |       CAST(g.n - 1 AS BIGINT) AS n_dups
      |FROM probes p
      |JOIN h ON h.doc_id = p.doc_id
      |JOIN g ON g.h = h.h
      |ORDER BY h.doc_id""".stripMargin

  // ---- table_sql_time_travel ------------------------------------------------
  // The table tier reached through SQL TEXT — the surface the reference
  // actually exposes (its monitoring queries are SQL strings submitted to
  // a warehouse, `advanced_monitoring.py:78-199`). A GraftCatalog
  // (DSv2 TableCatalog) registration resolves `graft.<db>.orders` through
  // the manifest log: `VERSION AS OF 1` pins the pre-append snapshot,
  // `VERSION AS OF 2` the full table, and the bare name serves the latest
  // — three resolutions of the SAME identifier that must disagree exactly
  // as the commit history says. The staged table is deterministic per
  // dataset and pid (re-runs skip staging — resolution itself is the
  // thing under test). Aggregation in exact integer cents, so SQL and
  // API paths can be compared bit-for-bit (GraftCatalogSpec additionally
  // pins file-set identity between the SQL scan and readVersion).
  def tableSqlTimeTravel(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = "d" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/orders"
    if (VersionedTable.latestVersion(root) < 2) {
      sqlWarehouseHook // arm cleanup once, before any files land
      val base = ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .select(col("key"), col("status"), col("cents"))
      VersionedTable.commit(base.filter(col("key") % 5 < 3), root) // v1
      VersionedTable.commit(base, root)                            // v2
    }
    val t = s"graft.$db.orders"
    s.sql(
      s"""SELECT version, status, n_orders, total_cents FROM (
         |  SELECT 1 AS version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         SUM(cents) AS total_cents
         |  FROM $t VERSION AS OF 1 GROUP BY status
         |  UNION ALL
         |  SELECT 2, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t VERSION AS OF 2 GROUP BY status
         |  UNION ALL
         |  SELECT 3, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t GROUP BY status
         |) v ORDER BY version, status""".stripMargin)
  }

  /** The SQL-catalog warehouse is pid-scoped like [[tmpNamespace]]; one
    * shutdown hook removes it (lazily armed by the first staging). */
  private lazy val sqlWarehouseHook: Unit = {
    val wh = catalog.GraftCatalog.defaultWarehouse
    sys.addShutdownHook(graft.sink.Sinks.deleteDir(wh))
  }

  /** Per-dataset namespace under the SQL warehouse (md5 of the dir). */
  private def sqlDb(dir: String): String =
    "d" + java.security.MessageDigest.getInstance("MD5")
      .digest(dir.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)

  // ---- table_sql_insert -------------------------------------------------------
  // Warehouse-managed DML through SQL TEXT — the reference's own load
  // path (`monday_etl_automated.py:571-590`: truncate + append load jobs
  // submitted as warehouse DML, not API calls). The staged table takes
  // one API commit (the initial load), then TWO pure-SQL mutations:
  // `INSERT INTO graft.<db>.loads SELECT …` (v2 — lowered to
  // commitAppend's copy-on-write + CAS publish) and `INSERT OVERWRITE …`
  // (v3 — the truncate-and-load job, a replacing commit). All three
  // versions then read back through SQL time travel and must disagree
  // exactly as the DML history says — proving the write path landed real
  // manifest versions, not a session-local illusion. At 100 TB each
  // INSERT is one distributed parquet write + a KB manifest publish;
  // concurrent SQL and API writers interleave under the same CAS retry
  // (GraftCatalogSpec races them). Integer-cents aggregation, bit-exact
  // vs the oracle's replay of the three visibility states.
  def tableSqlInsert(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = sqlDb(dir)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/loads"
    val t = s"graft.$db.loads"
    if (VersionedTable.latestVersion(root) < 3) {
      sqlWarehouseHook
      val base = ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .select(col("key"), col("status"), col("cents"))
      VersionedTable.commit(base.filter(col("key") % 5 < 2), root) // v1: initial load
      base.filter(col("key") % 5 === 2 || col("key") % 5 === 3)
        .createOrReplaceTempView(s"batch_$db")
      s.sql(s"INSERT INTO $t SELECT key, status, cents FROM batch_$db") // v2
      base.filter(col("key") % 5 >= 1).createOrReplaceTempView(s"reload_$db")
      s.sql(s"INSERT OVERWRITE $t SELECT key, status, cents FROM reload_$db") // v3
    }
    s.sql(
      s"""SELECT version, status, n_orders, total_cents FROM (
         |  SELECT 1 AS version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         SUM(cents) AS total_cents
         |  FROM $t VERSION AS OF 1 GROUP BY status
         |  UNION ALL
         |  SELECT 2, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t VERSION AS OF 2 GROUP BY status
         |  UNION ALL
         |  SELECT 3, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t GROUP BY status
         |) v ORDER BY version, status""".stripMargin)
  }

  private val tableSqlInsertOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |vers(version) AS (VALUES (1),(2),(3)),
      |vis AS (
      |  SELECT version, status, cents FROM base, vers
      |  WHERE (version = 1 AND key % 5 < 2)
      |     OR (version = 2 AND key % 5 < 4)
      |     OR (version = 3 AND key % 5 >= 1))
      |SELECT version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM vis GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- table_sql_ctas -----------------------------------------------------------
  // CREATE TABLE AS SELECT — the multi-statement session-state surface
  // (r13 "What's missing" item 3): one SQL statement both registers a new
  // catalog table and loads it. The catalog's createTable publishes a
  // SCHEMA-ONLY v1 manifest (zero data files — readable as an empty
  // relation under the committed schema), and CTAS's SELECT lands as the
  // v2 append through the same V1 write bridge as INSERT INTO; both
  // halves ride the CAS publish. The key CTAS-es a per-status rollup of
  // orders and reads it back through the bare catalog name — the oracle
  // recomputes the rollup from the raw table, so a CTAS that dropped or
  // duplicated rows cannot hash-match.
  def tableSqlCtas(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = sqlDb(dir)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/status_rollup"
    val t = s"graft.$db.status_rollup"
    if (VersionedTable.latestVersion(root) == 0) {
      sqlWarehouseHook
      ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .createOrReplaceTempView(s"src_$db")
      s.sql(
        s"""CREATE TABLE $t AS
           |SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
           |       SUM(cents) AS total_cents
           |FROM src_$db GROUP BY status""".stripMargin)
    }
    s.sql(s"SELECT status, n_orders, total_cents FROM $t ORDER BY status")
  }

  private val tableSqlCtasOracle =
    """SELECT o_orderstatus AS status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
      |FROM orders GROUP BY 1 ORDER BY status""".stripMargin

  // ---- table_sql_mor_versions ---------------------------------------------------
  // SQL time travel across EVERY retained version, including the ones a
  // bare parquet scan cannot serve (r13 VERDICT item 5 — Delta/Iceberg
  // SERVE these; refusing was fail-fast, not a capability): v1 clean,
  // v2 adds equality-delete `E` records (merge-on-read DELETE by key),
  // v3 adds deletion vectors (`V` positional records from a located
  // DELETE WHERE), v4 renames cents→amount_cents (pure-metadata `R`
  // mapping). The catalog routes v2-v4 through the API path's RESOLVED
  // relation (rename aliasing + DV anti-join + E anti-join, broadcast-
  // sized delete sets) bridged into DSv2 — so `VERSION AS OF` answers on
  // all four versions and the bare name serves the renamed head. The
  // oracle replays the four visibility states from the raw table;
  // deletes pick key residues so E and V records OVERLAP (a row both
  // equality- and position-deleted must vanish once, not twice). */
  def tableSqlMorVersions(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = sqlDb(dir)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/morders"
    val t = s"graft.$db.morders"
    if (VersionedTable.latestVersion(root) < 4) {
      sqlWarehouseHook
      val base = ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .select(col("key"), col("status"), col("cents"))
      VersionedTable.commit(base, root)                                  // v1
      VersionedTable.commitDeletes(
        base.filter(col("key") % 7 === 0).select(col("key")), root, "key") // v2: E
      VersionedTable.commitDeleteVectors(s, root, "key % 11 = 3")          // v3: +V
      VersionedTable.commitRename(root, Map("cents" -> "amount_cents"))    // v4: +R
    }
    s.sql(
      s"""SELECT version, status, n_orders, total_cents FROM (
         |  SELECT 1 AS version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         SUM(cents) AS total_cents
         |  FROM $t VERSION AS OF 1 GROUP BY status
         |  UNION ALL
         |  SELECT 2, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t VERSION AS OF 2 GROUP BY status
         |  UNION ALL
         |  SELECT 3, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t VERSION AS OF 3 GROUP BY status
         |  UNION ALL
         |  SELECT 4, status, CAST(COUNT(*) AS BIGINT), SUM(amount_cents)
         |  FROM $t GROUP BY status
         |) v ORDER BY version, status""".stripMargin)
  }

  private val tableSqlMorVersionsOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |vers(version) AS (VALUES (1),(2),(3),(4)),
      |vis AS (
      |  SELECT version, status, cents FROM base, vers
      |  WHERE version = 1
      |     OR (version = 2 AND key % 7 <> 0)
      |     OR (version >= 3 AND key % 7 <> 0 AND key % 11 <> 3))
      |SELECT version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM vis GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  private val tableSqlTimeTravelOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |vers(version) AS (VALUES (1),(2),(3)),
      |vis AS (
      |  SELECT version, status, cents FROM base, vers
      |  WHERE version >= 2 OR key % 5 < 3)
      |SELECT version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM vis GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- table_sql_delete ---------------------------------------------------------
  // SQL DELETE, BOTH lowerings in one history (r14): v2 is a DELETE whose
  // condition carries an IN-subquery — not expressible as pushed
  // predicates, so Catalyst rewrites it as the group-based COPY-ON-WRITE
  // plan (scan the groups, keep the non-matching rows, swap exactly the
  // scanned files in one serializable-isolation manifest publish). v3 is
  // a DELETE with a fully-pushable predicate — the metadata-only-delete
  // optimization converts it back to `deleteWhere`, which commits
  // positional DELETION VECTORS: victims located by one predicate scan,
  // ZERO data files rewritten (the Delta-DV shape; GraftCatalogSpec pins
  // the file-set identity between v2 and v3). All three visibility states
  // read back through SQL time travel — v3 routes through the resolved
  // relation because its head carries `V` records.
  def tableSqlDelete(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = sqlDb(dir)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/dorders"
    val t = s"graft.$db.dorders"
    if (VersionedTable.latestVersion(root) < 3) {
      sqlWarehouseHook
      val base = ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .select(col("key"), col("status"), col("cents"))
      // v1: key-clustered files with min/max stats, so COW DML can prune groups
      VersionedTable.commit(base.repartitionByRange(8, col("key")), root,
        changes = None, statsColumns = Seq("key"))
      base.filter(col("cents") % 10 < 3).select(col("key"))
        .createOrReplaceTempView(s"doomed_$db")
      s.sql(s"DELETE FROM $t WHERE key IN (SELECT key FROM doomed_$db)") // v2: COW
      s.sql(s"DELETE FROM $t WHERE status = 'F' AND cents < 10000000")   // v3: DVs
    }
    s.sql(
      s"""SELECT version, status, n_orders, total_cents FROM (
         |  SELECT 1 AS version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         SUM(cents) AS total_cents
         |  FROM $t VERSION AS OF 1 GROUP BY status
         |  UNION ALL
         |  SELECT 2, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t VERSION AS OF 2 GROUP BY status
         |  UNION ALL
         |  SELECT 3, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t GROUP BY status
         |) v ORDER BY version, status""".stripMargin)
  }

  private val tableSqlDeleteOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |vers(version) AS (VALUES (1),(2),(3)),
      |vis AS (
      |  SELECT version, status, cents FROM base, vers
      |  WHERE version = 1
      |     OR (version >= 2 AND cents % 10 >= 3)),
      |vis2 AS (
      |  SELECT version, status, cents FROM vis
      |  WHERE version <= 2
      |     OR NOT (status = 'F' AND cents < 10000000))
      |SELECT version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM vis2 GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- table_sql_update ---------------------------------------------------------
  // SQL UPDATE as a group-based COPY-ON-WRITE rewrite with STATS-PRUNED
  // groups (r14): the staged table is key-clustered into 8 files with
  // min/max stats, and `UPDATE … WHERE key < 1200` narrows the operation's
  // scan to the files whose [min,max] intersects the predicate — the COW
  // contract that an UPDATE touching 1 of 1000 files rewrites 1 file and
  // carries 999 manifest lines verbatim, stats and all (GraftCatalogSpec
  // pins that the untouched files' PATHS survive into v2 unchanged). Rows
  // of touched files that don't match are copied forward; the commit is
  // serializable (a concurrent writer in the plan→publish window fails
  // the statement loudly rather than being silently erased).
  def tableSqlUpdate(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = sqlDb(dir)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/uorders"
    val t = s"graft.$db.uorders"
    if (VersionedTable.latestVersion(root) < 2) {
      sqlWarehouseHook
      val base = ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .select(col("key"), col("status"), col("cents"))
      VersionedTable.commit(base.repartitionByRange(8, col("key")), root,
        changes = None, statsColumns = Seq("key"))
      s.sql(s"UPDATE $t SET cents = cents * 2 + 1, status = 'U' " +
        "WHERE key < 1200") // v2: COW on the stats-surviving files only
    }
    s.sql(
      s"""SELECT version, status, n_orders, total_cents FROM (
         |  SELECT 1 AS version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         SUM(cents) AS total_cents
         |  FROM $t VERSION AS OF 1 GROUP BY status
         |  UNION ALL
         |  SELECT 2, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t GROUP BY status
         |) v ORDER BY version, status""".stripMargin)
  }

  private val tableSqlUpdateOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |vis AS (
      |  SELECT 1 AS version, status, cents FROM base
      |  UNION ALL
      |  SELECT 2,
      |         CASE WHEN key < 1200 THEN 'U' ELSE status END,
      |         CASE WHEN key < 1200 THEN cents * 2 + 1 ELSE cents END
      |  FROM base)
      |SELECT version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM vis GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- table_sql_merge ----------------------------------------------------------
  // MERGE INTO through SQL text (r14) — the full three-action statement
  // the reference's upsert jobs approximate with truncate-and-reload:
  // matched-and-'F' rows take the source's refreshed cents, matched
  // non-'F' rows are DELETED, unmatched source rows INSERT. Catalyst
  // rewrites the statement onto the same group-based COW operation as
  // UPDATE (target groups full-outer-joined with the source; surviving
  // and rewritten rows land as the replacement files, inserts included,
  // in ONE serializable commit — no partial-merge state is ever visible).
  // Target keys are unique so the ANSI multi-match cardinality rule
  // cannot fire. The oracle replays the action table row-by-row.
  def tableSqlMerge(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = sqlDb(dir)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/mtarget"
    val t = s"graft.$db.mtarget"
    if (VersionedTable.latestVersion(root) < 2) {
      sqlWarehouseHook
      val base = ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .select(col("key"), col("status"), col("cents"))
      VersionedTable.commit(
        base.filter(col("key") % 3 < 2).repartitionByRange(8, col("key")),
        root, changes = None, statsColumns = Seq("key")) // v1: keys ≡ 0,1 (mod 3)
      base.filter(col("key") % 3 >= 1)
        .withColumn("cents", col("cents") + lit(1000L))
        .createOrReplaceTempView(s"feed_$db") // source: keys ≡ 1,2 (mod 3)
      s.sql(
        s"""MERGE INTO $t tgt USING feed_$db src ON tgt.key = src.key
           |WHEN MATCHED AND src.status = 'F' THEN UPDATE SET cents = src.cents
           |WHEN MATCHED THEN DELETE
           |WHEN NOT MATCHED THEN
           |  INSERT (key, status, cents) VALUES (src.key, src.status, src.cents)
           |""".stripMargin) // v2
    }
    s.sql(
      s"""SELECT version, status, n_orders, total_cents FROM (
         |  SELECT 1 AS version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         SUM(cents) AS total_cents
         |  FROM $t VERSION AS OF 1 GROUP BY status
         |  UNION ALL
         |  SELECT 2, status, CAST(COUNT(*) AS BIGINT), SUM(cents)
         |  FROM $t GROUP BY status
         |) v ORDER BY version, status""".stripMargin)
  }

  private val tableSqlMergeOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |v1 AS (SELECT key, status, cents FROM base WHERE key % 3 < 2),
      |v2 AS (
      |  -- untouched target rows (not in source)
      |  SELECT key, status, cents FROM v1 WHERE key % 3 = 0
      |  UNION ALL
      |  -- matched + 'F': cents refreshed from source (+1000)
      |  SELECT key, status, cents + 1000 FROM v1
      |  WHERE key % 3 = 1 AND status = 'F'
      |  -- matched non-'F' rows are deleted
      |  UNION ALL
      |  -- unmatched source rows insert with refreshed cents
      |  SELECT key, status, cents + 1000 FROM base WHERE key % 3 = 2),
      |vis AS (
      |  SELECT 1 AS version, status, cents FROM v1
      |  UNION ALL
      |  SELECT 2, status, cents FROM v2)
      |SELECT version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents
      |FROM vis GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  // ---- table_sql_alter ----------------------------------------------------------
  // SQL schema evolution as PURE METADATA commits (r14): `ALTER TABLE …
  // ADD COLUMN note STRING` publishes a widened S record (v2 — zero data
  // I/O; existing files serve NULL for the column), the next `INSERT
  // INTO` materializes the column for its own rows only (v3 — the
  // carried S keeps the widened schema), and `ALTER TABLE … RENAME
  // COLUMN cents TO amount_cents` publishes an R mapping (v4 — data
  // files still hold the physical name; the catalog serves the rename-
  // carrying head through the resolved relation). Four visibility states
  // of one identifier: v1 pre-evolution, v2 widened-but-empty, v3 with
  // per-row notes, the bare head renamed. At 100 TB every ALTER here is
  // a KB manifest publish — the Delta column-mapping / Iceberg evolution
  // contract.
  def tableSqlAlter(s: SparkSession, dir: String): DataFrame = {
    catalog.GraftCatalog.install(s)
    val db = sqlDb(dir)
    val root = s"${catalog.GraftCatalog.defaultWarehouse}/$db/aorders"
    val t = s"graft.$db.aorders"
    if (VersionedTable.latestVersion(root) < 4) {
      sqlWarehouseHook
      val base = ordersBase(s, dir)
        .withColumn("cents", expr("cast(round(total * 100) as bigint)"))
        .select(col("key"), col("status"), col("cents"))
      VersionedTable.commit(base, root)                       // v1
      s.sql(s"ALTER TABLE $t ADD COLUMN note STRING")         // v2: metadata only
      base.filter(col("key") % 7 === 0)
        .withColumn("note", concat(lit("n"), col("key")))
        .createOrReplaceTempView(s"noted_$db")
      s.sql(s"INSERT INTO $t SELECT key, status, cents, note FROM noted_$db") // v3
      s.sql(s"ALTER TABLE $t RENAME COLUMN cents TO amount_cents")            // v4
    }
    s.sql(
      s"""SELECT version, status, n_orders, total_cents, n_notes FROM (
         |  SELECT 1 AS version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
         |         SUM(cents) AS total_cents, CAST(0 AS BIGINT) AS n_notes
         |  FROM $t VERSION AS OF 1 GROUP BY status
         |  UNION ALL
         |  SELECT 2, status, CAST(COUNT(*) AS BIGINT), SUM(cents),
         |         CAST(COUNT(note) AS BIGINT)
         |  FROM $t VERSION AS OF 2 GROUP BY status
         |  UNION ALL
         |  SELECT 3, status, CAST(COUNT(*) AS BIGINT), SUM(cents),
         |         CAST(COUNT(note) AS BIGINT)
         |  FROM $t VERSION AS OF 3 GROUP BY status
         |  UNION ALL
         |  SELECT 4, status, CAST(COUNT(*) AS BIGINT), SUM(amount_cents),
         |         CAST(COUNT(note) AS BIGINT)
         |  FROM $t GROUP BY status
         |) v ORDER BY version, status""".stripMargin)
  }

  private val tableSqlAlterOracle =
    """WITH base AS (
      |  SELECT o_orderkey AS key, o_orderstatus AS status,
      |         CAST(round(o_totalprice * 100) AS BIGINT) AS cents
      |  FROM orders),
      |appended AS (SELECT key, status, cents FROM base WHERE key % 7 = 0),
      |vis AS (
      |  SELECT 1 AS version, status, cents, 0 AS noted FROM base
      |  UNION ALL
      |  SELECT 2, status, cents, 0 FROM base
      |  UNION ALL
      |  SELECT 3, status, cents, 0 FROM base
      |  UNION ALL
      |  SELECT 3, status, cents, 1 FROM appended
      |  UNION ALL
      |  SELECT 4, status, cents, 0 FROM base
      |  UNION ALL
      |  SELECT 4, status, cents, 1 FROM appended)
      |SELECT version, status, CAST(COUNT(*) AS BIGINT) AS n_orders,
      |       CAST(SUM(cents) AS BIGINT) AS total_cents,
      |       CAST(SUM(noted) AS BIGINT) AS n_notes
      |FROM vis GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "table_sql_alter" -> (tableSqlAlter _),
    "table_sql_delete" -> (tableSqlDelete _),
    "table_sql_update" -> (tableSqlUpdate _),
    "table_sql_merge" -> (tableSqlMerge _),
    "table_sql_time_travel" -> (tableSqlTimeTravel _),
    "table_sql_insert" -> (tableSqlInsert _),
    "table_sql_ctas" -> (tableSqlCtas _),
    "table_sql_mor_versions" -> (tableSqlMorVersions _),
    "table_corpus_pointread" -> (tableCorpusPointread _),
    "table_cbo_join" -> (tableCboJoin _),
    "table_describe_history" -> (tableDescribeHistory _),
    "table_wap_publish" -> (tableWapPublish _),
    "table_branch_merge" -> (tableBranchMerge _),
    "table_shallow_clone" -> (tableShallowClone _),
    "table_replace_where" -> (tableReplaceWhere _),
    "table_merge_on_read" -> (tableMergeOnRead _),
    "table_delete_vectors" -> (tableDeleteVectors _),
    "table_column_rename" -> (tableColumnRename _),
    "table_time_travel" -> (tableTimeTravel _),
    "sink_compact" -> (sinkCompact _),
    "table_incremental_read" -> (tableIncrementalRead _),
    "table_mv_incremental" -> (tableMvIncremental _),
    "table_partition_evolution" -> (tablePartitionEvolution _),
    "table_skipping_read" -> (tableSkippingRead _),
    "table_skipping_multi" -> (tableSkippingMulti _),
    "table_zorder" -> (tableZorder _),
    "table_bloom_point" -> (tableBloomPoint _),
    "table_agg_pushdown" -> (tableAggPushdown _),
    "table_restore" -> (tableRestore _),
    "table_orphan_cleanup" -> (tableOrphanCleanup _),
    "table_schema_evolution" -> (tableSchemaEvolution _),
    "table_constraint_check" -> (tableConstraintCheck _),
    "table_concurrent_commit" -> (tableConcurrentCommit _),
    "table_vacuum" -> (tableVacuum _),
    "table_tag_retention" -> (tableTagRetention _),
    "table_ndv_stats" -> (tableNdvStats _),
    "table_stats_histogram" -> (tableStatsHistogram _),
    "table_stats_refresh" -> (tableStatsRefresh _),
    "table_vacuum_age" -> (tableVacuumAge _))

  val oracles: Map[String, String] = Map(
    "table_sql_alter" -> tableSqlAlterOracle,
    "table_sql_delete" -> tableSqlDeleteOracle,
    "table_sql_update" -> tableSqlUpdateOracle,
    "table_sql_merge" -> tableSqlMergeOracle,
    "table_sql_time_travel" -> tableSqlTimeTravelOracle,
    "table_sql_insert" -> tableSqlInsertOracle,
    "table_sql_ctas" -> tableSqlCtasOracle,
    "table_sql_mor_versions" -> tableSqlMorVersionsOracle,
    "table_corpus_pointread" -> tableCorpusPointreadOracle,
    "table_cbo_join" -> tableCboJoinOracle,
    "table_describe_history" -> tableDescribeHistoryOracle,
    "table_wap_publish" -> tableWapPublishOracle,
    "table_branch_merge" -> tableBranchMergeOracle,
    "table_shallow_clone" -> tableShallowCloneOracle,
    "table_replace_where" -> tableReplaceWhereOracle,
    "table_merge_on_read" -> tableMergeOnReadOracle,
    "table_delete_vectors" -> tableDeleteVectorsOracle,
    "table_column_rename" -> tableColumnRenameOracle,
    "table_time_travel" -> tableTimeTravelOracle,
    "sink_compact" -> sinkCompactOracle,
    "table_incremental_read" -> tableIncrementalReadOracle,
    "table_mv_incremental" -> tableMvIncrementalOracle,
    "table_partition_evolution" -> tablePartitionEvolutionOracle,
    "table_skipping_read" -> tableSkippingReadOracle,
    "table_skipping_multi" -> tableSkippingMultiOracle,
    "table_zorder" -> tableSkippingMultiOracle, // same rows; clustering changes I/O only
    "table_bloom_point" -> tableBloomPointOracle,
    "table_agg_pushdown" -> tableAggPushdownOracle,
    "table_restore" -> tableRestoreOracle,
    "table_orphan_cleanup" -> tableRestoreOracle, // identity: cleanup never touches committed data
    "table_schema_evolution" -> tableSchemaEvolutionOracle,
    "table_constraint_check" -> tableConstraintCheckOracle,
    "table_concurrent_commit" -> tableConcurrentCommitOracle,
    "table_vacuum" -> sinkCompactOracle,
    "table_tag_retention" -> tableTagRetentionOracle,
    "table_ndv_stats" -> tableNdvStatsOracle,
    "table_stats_histogram" -> tableStatsHistogramOracle,
    "table_stats_refresh" -> tableStatsRefreshOracle,
    "table_vacuum_age" -> sinkCompactOracle)
}
