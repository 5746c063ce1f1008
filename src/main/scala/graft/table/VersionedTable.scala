package graft.table

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.{types, DataFrame, SparkSession}
import org.apache.spark.sql.graftbridge.SchemaBridge
import org.apache.spark.sql.functions.{broadcast, coalesce, col, count, expr, length, lit, max, md5, min, sum, when, bin}

/** Minimal copy-on-write table format with a commit log — the transactional
  * read surface the merge_upsert family's "version swap" stands in for
  * (the mechanism a Delta/Iceberg-class table provides):
  *
  *  - every commit writes NEW immutable data files under `data/v<N>/` and
  *    then publishes a manifest `_commits/v<N>.manifest` listing exactly
  *    the files that make up version N;
  *  - the manifest is published with write-temp-then-ATOMIC_MOVE, so the
  *    rename IS the commit point: a reader either sees the complete
  *    version or not at all — never a half-written file list;
  *  - readers resolve a version to its frozen file list ONCE
  *    (`readVersion`), so a snapshot-isolated scan is pinned to immutable
  *    files and is untouched by any later commit (VersionedTableSpec
  *    proves a v1 reader across a concurrent v2 MERGE commit);
  *  - `VERSION AS OF` time travel is just `readVersion(root, v)` for any
  *    retained version.
  *
  * Manifest records (r7) — line-oriented, tab-separated, one record per
  * line, parsed by [[entries]]:
  *
  *  - `D <path>` — a data file of this version;
  *  - `D <path> (<col> <min> <max>)+` — a data file plus the min/max of
  *    one or more integer columns over that file (r8: a column LIST, so a
  *    compound `date AND key` predicate prunes on both), read from the
  *    parquet FOOTER at commit time (no data scan). A filtered read
  *    prunes files whose [min,max] misses ANY predicate's range BEFORE
  *    the scan ([[readVersionWhere]]) — Delta/Iceberg-style file
  *    skipping, the read-path complement of [[compact]] (and of
  *    [[compactClustered]], which re-clusters so skipping IMPROVES after
  *    OPTIMIZE instead of degrading);
  *  - `C <path>` — a CHANGESET file: the row-level change feed the commit
  *    applied (CDF). `table_changes(vFrom, vTo)` answers from these
  *    metadata-listed files alone ([[readChanges]]) — no version scan, no
  *    join — and a reader falls back to the two-snapshot diff only when
  *    some commit in the range didn't record its changes;
  *  - `S <schema-json>` (r8) — the committed DataFrame's schema, the
  *    metadata-action analog of Delta's schema log: schema EVOLUTION is
  *    just committing with a wider schema, and [[readVersionEvolved]]
  *    serves any old version under the current schema (added columns
  *    null-fill) from this record alone — no footer inference, O(1);
  *  - a line with no tabs is a bare data path (pre-r7 manifests stay
  *    readable).
  *
  * Multi-writer safety (r6): the manifest is published with an
  * atomic-exclusive hard link (`Files.createLink` — EEXIST if the version
  * was taken), so publishing IS a compare-and-swap on the version number:
  * a concurrent writer that loses the race gets FileAlreadyExistsException,
  * reloads `latestVersion`, and retries on N+1 — its data files are
  * version-independent (uuid-named directories), so nothing is rewritten
  * on retry (VersionedTableSpec races two real writer threads). At 100 TB
  * the manifest lists thousands of files but stays KBs-to-MBs of metadata
  * — reading it is driver-side and O(files), never a data scan; data
  * files are immutable so commits and reads never contend on content.
  */
object VersionedTable {

  /** Footer min/max of one integer column over one data file. */
  final case class FileStats(column: String, min: Long, max: Long)

  /** One manifest record: a data, changeset, or equality-delete file,
    * with stats for zero or more columns (r8 — multi-column skipping
    * index). `delete` holds the deleted key column for `E` records (r9 —
    * merge-on-read DELETE). */
  final case class ManifestEntry(path: String, change: Boolean,
      stats: Seq[FileStats], delete: Option[String] = None)

  /** Commit `df` as the next version of the table at `root`; returns the
    * committed version number. Copy-on-write: only writes new files, once
    * — on a lost publish race only the (cheap, metadata-only) publish
    * retries, never the data write. */
  def commit(df: DataFrame, root: String): Int =
    commit(df, root, changes = None, statsColumns = Nil)

  /** Full-surface commit: optionally records the commit's row-level
    * change feed (written once under `changes/`, listed as `C` records —
    * the log a CDF read answers from) and per-file min/max footer stats
    * for each of `statsColumns` (the skipping index — a LIST, so
    * compound predicates can prune on every statted column). Both are
    * metadata-side: the change feed is written exactly once, and stats
    * come from parquet footers — the data files are never re-scanned. */
  def commit(df: DataFrame, root: String, changes: Option[DataFrame],
      statsColumns: Seq[String], bloomColumns: Seq[String] = Nil,
      ndvColumns: Seq[String] = Nil,
      histColumns: Seq[(String, Long)] = Nil): Int = {
    val dataDir = s"$root/data/${java.util.UUID.randomUUID()}"
    df.write.parquet(dataDir)
    val dataFiles = listParquet(dataDir)
    val dataLines = dataFiles.map { f =>
      val suffix = statsColumns.flatMap { c =>
        footerMinMax(f, c).map { case (lo, hi) => s"\t$c\t$lo\t$hi" }
      }.mkString
      s"D\t$f$suffix"
    }
    val changeLines = changes.toSeq.flatMap { cdf =>
      val cDir = s"$root/changes/${java.util.UUID.randomUUID()}"
      cdf.write.parquet(cDir)
      listParquet(cDir).map(f => s"C\t$f")
    }
    // `B` records: a per-file BLOOM FILTER over an integer column — the
    // point-lookup index min/max stats can't provide on an unclustered
    // high-cardinality key (every file's [min,max] spans the domain, but
    // each key lives in ~one file). Sized from the footer's exact row
    // count at 1% fpp (~1.2 KB/1k rows), serialized into the manifest
    // line. Built here by ONE grouped pass per column over ALL new files
    // (r14 optimization — the per-file loop ran one sequential Spark job
    // per file, so an 8-file commit paid 8 job round-trips per indexed
    // column; a 100 TB commit with thousands of files cannot run a job
    // per file at all). A production writer folds the same accumulation
    // into the write task itself — the record format and read path are
    // unchanged by that, and the per-file filters here are bit-identical
    // to the per-file jobs they replace (same hash, same sizing).
    val bloomLines = bloomLinesFor(df.sparkSession, dataFiles, bloomColumns)
    // `H` records: per-file HLL REGISTERS (m=64, md5-based — the same
    // sketch sketch_hll_distinct proves) over a column — the NDV
    // statistic min/max/bloom can't provide, and the one a planner needs
    // for join-strategy and distinct-count questions WITHOUT scanning
    // (Iceberg ships the same idea as theta sketches in puffin files).
    // Registers are mergeable by per-bucket MAX, so any file subset's
    // union NDV is O(files·64) driver metadata at read time. One grouped
    // pass per column over all new files (same r14 move as `B` records).
    val ndvLines = ndvLinesFor(df.sparkSession, dataFiles, ndvColumns)
    // `G` records: per-file FIXED-GRID histogram over an integer column —
    // the range-selectivity statistic NDV can't provide (how many rows
    // land in [lo, hi)?). The grid is value div WIDTH with the width
    // declared at commit time and stored in the record, so every file
    // bins into the SAME global cells and the merge is an exact per-cell
    // SUM — the property per-file min/max-anchored histograms lose (their
    // merge is approximate because bucket bounds differ per file).
    // Equi-width over equi-depth deliberately: depth boundaries depend on
    // the file's own data, width boundaries are a pure function of the
    // declared grid — mergeable, append-maintainable, oracle-replayable.
    val histLines = histLinesFor(df.sparkSession, dataFiles, histColumns)
    // schema.json is single-line compact JSON (escapes control chars), so
    // it can never break the line-oriented, tab-separated manifest format
    val lines = dataLines ++ changeLines ++ bloomLines ++ ndvLines ++
      histLines :+
      s"S\t${df.schema.json}"
    var v = latestVersion(root) + 1
    while (!publish(root, v, lines)) v = latestVersion(root) + 1
    v
  }

  /** CHECK-constraint commit (r9) — the write-side contract Delta/Iceberg
    * tables enforce: a commit whose rows violate any declared constraint is
    * rejected ATOMICALLY — no data files land, no version is published, the
    * table is exactly what it was. Constraint semantics follow the SQL
    * standard CHECK: a row violates only when the expression evaluates to
    * FALSE (NULL passes — declare `c IS NOT NULL` explicitly to reject
    * nulls, same as everyone else).
    *
    * Validation here is one aggregate scan of the incoming batch BEFORE
    * anything is written — all constraints folded into a single projection
    * (one pass regardless of constraint count), so rejection costs one read
    * of the batch and zero writes. A production writer folds the same
    * per-row predicate into the write task and aborts the commit on first
    * violation; the manifest-side contract (no version, no files) is
    * identical.
    *
    * @return Left(constraint → violation count) on rejection,
    *         Right(published version) on success. */
  def commitChecked(df: DataFrame, root: String,
      constraints: Seq[String]): Either[Map[String, Long], Int] = {
    val counts = df.select(constraints.zipWithIndex.map { case (c, i) =>
      sum(when(!coalesce(expr(c), lit(true)), 1L).otherwise(0L)).as(s"c$i")
    }: _*).collect()(0)
    val bad = constraints.zipWithIndex
      .map { case (c, i) => c -> counts.getLong(i) }
      .filter(_._2 > 0).toMap
    if (bad.nonEmpty) Left(bad) else Right(commit(df, root))
  }

  /** SHALLOW CLONE (r9) — Delta's `CREATE TABLE ... SHALLOW CLONE`: publish
    * a NEW table at `dstRoot` whose v1 manifest re-lists the source
    * version's data/bloom/schema records — zero data copied, a KB-sized
    * metadata write that forks a 100 TB table instantly (the dev-sandbox /
    * experiment-branch operation). The clone then evolves independently:
    * its commits write under its own root, so the source is never touched
    * by clone writes. Caveat carried from the real systems: the clone
    * REFERENCES the source's files, so vacuuming the source beyond the
    * cloned version can orphan the clone — the retention contract spans
    * clones (spec-pinned: clone reads survive source commits, and clone
    * commits never mutate the source). `C` records are not carried (the
    * clone has no change history of its own yet — the restore convention). */
  def shallowClone(srcRoot: String, srcVersion: Int, dstRoot: String): Int = {
    val lines = rawLines(srcRoot, srcVersion).filterNot(_.startsWith("C\t"))
    require(latestVersion(dstRoot) == 0,
      s"clone target $dstRoot already has commits")
    var v = 1
    while (!publish(dstRoot, v, lines)) v = latestVersion(dstRoot) + 1
    v
  }

  /** APPEND commit (r11) — add `df`'s rows WITHOUT rewriting the table:
    * the new files' `D` records join the previous version's data/bloom/
    * delete/schema records, carried forward verbatim (`commit`'s contract
    * is "df IS the new table"; this one is INSERT INTO). The carried
    * lines are re-derived on every CAS retry — a concurrent commit may
    * have changed what must be carried (the commitTransform rebase rule
    * applied to the append path). Prior `C` records are not carried (the
    * restore/clone convention). At 100 TB this is the only sane batch
    * ingest: cost = the new files + a KB manifest, independent of table
    * size. */
  def commitAppend(df: DataFrame, root: String): Int =
    commitAppendStats(df, root, Nil)

  /** APPEND with INCREMENTAL stats maintenance — [[commitAppend]] plus
    * fresh `G` histogram records for the NEW files only: the global grid
    * makes per-file records merge-exact, so keeping range stats current
    * under append ingest costs one pass over the new batch (never a table
    * rescan), and the merged estimate at the new version is identical to
    * a full recompute — the property `table_stats_refresh` proves with a
    * cell-aligned probe at both versions. Carried G records keep serving
    * the old files verbatim; the coverage gate in [[histogramCells]] is
    * what forces callers of the PLAIN append to refresh before reading. */
  def commitAppendStats(df: DataFrame, root: String,
      histColumns: Seq[(String, Long)]): Int = {
    require(latestVersion(root) >= 1, s"cannot APPEND to an empty table at $root")
    val dataDir = s"$root/data/${java.util.UUID.randomUUID()}"
    df.write.parquet(dataDir)
    val newFiles = listParquet(dataDir)
    val newLines = newFiles.map(f => s"D\t$f") ++
      histLinesFor(df.sparkSession, newFiles, histColumns)
    var v = 0
    var done = false
    while (!done) {
      val base = latestVersion(root)
      val carried = rawLines(root, base).filterNot(_.startsWith("C\t"))
      val (sLines, rest) = carried.partition(_.startsWith("S\t"))
      val schemaLine =
        if (sLines.nonEmpty) sLines.last else s"S\t${df.schema.json}"
      v = base + 1
      done = publish(root, v, rest ++ newLines :+ schemaLine)
    }
    v
  }

  /** Per-file `G` records for `files` — one column-pruned pass per new
    * file; a production writer folds the same per-cell counting into the
    * write task itself (the `B`-record note applies verbatim).
    *
    * Cell assignment is FLOOR division (pmod-aligned), not `div`'s
    * truncate-toward-zero: a signed column's values in (-width, 0) get
    * their own negative cell instead of sharing cell 0 with [0, width),
    * so [[estimateRange]]'s `cLo = cell * width` states every cell's true
    * lower bound — including negative ones. NULLs are filtered before
    * grouping (a NULL belongs to no range, so no cell may count it):
    * `G` counts cover NON-NULL values only, exactly like the SQL range
    * predicates the estimates answer for. */
  /** The written file's local path from the scan's `_metadata.file_path`
    * URI (`file:///…` locally), so one grouped pass over a whole commit's
    * file set can key its per-file partial results back to the manifest's
    * `listParquet` paths. */
  private def localPath(uri: String): String = {
    val u = new java.net.URI(uri)
    if (u.getScheme == null) uri else u.getPath
  }

  /** Per-file fixed-grid histogram records in ONE Spark job per column:
    * group by (file, cell) over a scan of all `files` at once instead of
    * one sequential job per file (r14 — a thousand-file commit must not
    * run a thousand jobs; per-file results are identical because the
    * grid is a pure function of the declared width). Files with no
    * qualifying rows still emit their (empty) record, exactly as the
    * per-file jobs did. */
  private def histLinesFor(spark: SparkSession, files: Seq[String],
      histColumns: Seq[(String, Long)]): Seq[String] =
    for {
      (c, w) <- histColumns
      line <- {
        val rows = spark.read.parquet(files: _*)
          .filter(col(c).isNotNull)
          .select(col("_metadata.file_path").as("__f"), expr(
            s"(cast($c as bigint) - pmod(cast($c as bigint), ${w}L)) div ${w}L")
            .as("cell"))
          .groupBy(col("__f"), col("cell")).agg(count(lit(1)).as("cnt"))
          .collect()
        val byFile = rows.groupBy(r => localPath(r.getString(0)))
        // fail loudly on a path-normalization mismatch (r15, r14 ADVICE):
        // an unmatched key would otherwise silently emit EMPTY records,
        // degrading planner estimates with no signal
        require(byFile.keySet.subsetOf(files.toSet),
          s"histogram pass keyed unknown file paths: " +
            s"${byFile.keySet.diff(files.toSet).take(3)}")
        files.map { f =>
          val cells = byFile.getOrElse(f, Array.empty)
            .map(r => r.getLong(1) -> r.getLong(2))
            .sortBy(_._1)
            .map { case (cell, n) => s"$cell:$n" }.mkString(",")
          s"G\t$f\t$c\t$w\t$cells"
        }
      }
    } yield line

  /** Per-file HLL register records in ONE Spark job per column (the
    * histLinesFor move): group the md5 register derivation by
    * (file, bucket) over all files at once. Registers are bit-identical
    * to the per-file jobs (same hash, same bucketing). */
  private def ndvLinesFor(spark: SparkSession, files: Seq[String],
      ndvColumns: Seq[String]): Seq[String] =
    for {
      c <- ndvColumns
      line <- {
        val rows = spark.read.parquet(files: _*)
          .select(col("_metadata.file_path").as("__f"),
            md5(col(c).cast("string")).as("h"))
          .select(col("__f"),
            (expr("conv(substring(h, 1, 2), 16, 10)").cast("long") % 64)
              .as("bucket"),
            expr("conv(substring(h, 3, 8), 16, 10)").cast("long").as("w"))
          .withColumn("rho", when(col("w") === 0, lit(33))
            .otherwise(lit(33) - length(bin(col("w")))))
          .groupBy(col("__f"), col("bucket")).agg(max(col("rho")).as("m"))
          .collect()
        val byFile = rows.groupBy(r => localPath(r.getString(0)))
        // same fail-loud contract as the histogram pass (bloomLinesFor
        // gets it for free via expectedB.value(f) throwing)
        require(byFile.keySet.subsetOf(files.toSet),
          s"NDV pass keyed unknown file paths: " +
            s"${byFile.keySet.diff(files.toSet).take(3)}")
        files.map { f =>
          val regs = byFile.getOrElse(f, Array.empty)
            .map(r => r.getLong(1).toInt -> r.getInt(2)).toMap
          val packed = (0 until 64).map(b => regs.getOrElse(b, 0)).mkString(",")
          s"H\t$f\t$c\t$packed"
        }
      }
    } yield line

  /** Per-file bloom-filter records in ONE Spark job per column: a
    * partition-local map of file → filter, merged per file ON THE
    * EXECUTORS by `reduceByKey` and serialized to the manifest's base64
    * form there — the accumulation a production writer folds into the
    * write task. The r14 shape folded every partition's full-size
    * filters into one driver-side map, holding the whole commit's
    * filters as live objects on top of the record strings (§5: at 1% fpp
    * that is ~1.2 bytes/row × the commit, twice); now the driver only
    * ever holds the final record strings, which the manifest format
    * embeds anyway — that residual O(commit) is inherent to returning
    * the lines, not to the build. Records are BIT-IDENTICAL to the
    * driver-side fold: bloom merge is a bitwise OR (commutative and
    * associative), so the reduce order cannot change the bit layout, and
    * sizing still comes from each file's exact footer row count at 1%
    * fpp. Files with no rows emit the same empty filter as before. */
  private def bloomLinesFor(spark: SparkSession, files: Seq[String],
      bloomColumns: Seq[String]): Seq[String] = {
    def b64Of(bf: org.apache.spark.util.sketch.BloomFilter): String = {
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    for {
      c <- bloomColumns
      line <- {
        val expected = files.map(f => f -> math.max(footerRowCount(f), 1L)).toMap
        val expectedB = spark.sparkContext.broadcast(expected)
        val merged = spark.read.parquet(files: _*)
          .select(col("_metadata.file_path").as("__f"),
            col(c).cast("long").as("__k"))
          .rdd.mapPartitions { it =>
            val acc = scala.collection.mutable.HashMap
              .empty[String, org.apache.spark.util.sketch.BloomFilter]
            it.foreach { r =>
              val f = localPath(r.getString(0))
              val bf = acc.getOrElseUpdate(f,
                org.apache.spark.util.sketch.BloomFilter
                  .create(expectedB.value(f), 0.01))
              if (!r.isNullAt(1)) bf.putLong(r.getLong(1))
            }
            acc.iterator
          }
          .reduceByKey { (a, b) => a.mergeInPlace(b); a }
          .mapValues(b64Of)
          .collect().toMap
        files.map { f =>
          val b64 = merged.getOrElse(f, b64Of(
            org.apache.spark.util.sketch.BloomFilter.create(expected(f), 0.01)))
          s"B\t$f\t$c\t$b64"
        }
      }
    } yield line
  }

  /** ADD-COLUMN commit (r14, SQL `ALTER TABLE … ADD COLUMN`) — schema
    * widening as a PURE METADATA commit, the Delta/Iceberg contract: every
    * data/index record of the base version carries forward verbatim and
    * only the `S` record changes. Existing files simply lack the column;
    * the parquet read serves NULL for it (the readVersionEvolved /
    * missing-column contract), and the next append writes it. The new
    * column must be nullable — a NOT NULL column would instantly be
    * violated by every existing row (same refusal as everyone else). */
  def commitAddColumn(root: String, field: types.StructField): Int = {
    val base = latestVersion(root)
    require(base >= 1, s"cannot ALTER an empty table at $root")
    require(field.nullable,
      s"new column ${field.name} must be nullable — existing rows have no value")
    val old = tableSchema(root, base).getOrElse(throw new IllegalStateException(
      s"$root v$base carries no schema record — cannot widen"))
    require(!old.fieldNames.contains(field.name),
      s"column ${field.name} already exists")
    val widened = types.StructType(old.fields :+ field)
    // carried lines re-derive per CAS attempt (the commitPartitioned rule)
    def lines() = rawLines(root, latestVersion(root))
      .filterNot(l => l.startsWith("C\t") || l.startsWith("S\t")) :+
      s"S\t${widened.json}"
    var v = base + 1
    while (!publish(root, v, lines())) v = latestVersion(root) + 1
    v
  }

  /** GROUP-REWRITE commit (r14) — the copy-on-write half of SQL row-level
    * DML (`UPDATE` / `MERGE INTO` / non-pushable `DELETE` through the
    * catalog): replace exactly `replaced` data files of version `base`
    * with the already-staged files under `dataDir`, carrying every OTHER
    * data record — and its per-file stats/bloom/HLL/histogram index
    * records — forward VERBATIM. This is the Iceberg/Delta COW contract:
    * a predicate that stats-prunes to 2 of 1000 files rewrites 2 files
    * and copies 998 manifest LINES, never 998 files.
    *
    * Publishes at `base + 1` ONLY — no CAS retry. The rewritten rows were
    * computed against base's frozen file list, so a concurrent commit in
    * the scan→publish window is a genuine write conflict (retrying at the
    * next version would silently erase that commit — the textbook lost
    * update). The caller gets a loud serializable-isolation failure and
    * the staged files are deleted; re-running the statement re-scans the
    * new head. `C` records are not carried (one logical commit); `E`/`V`/
    * `R`/`P` heads refuse upstream (the catalog never offers row-level
    * ops on them). */
  def commitRewriteGroups(root: String, base: Int,
      replaced: Set[String], dataDir: String): Int = {
    val statCols = dataEntries(root, base)
      .flatMap(_.stats.map(_.column)).distinct
    val newLines = listParquet(dataDir).map { f =>
      val suffix = statCols.flatMap { c =>
        footerMinMax(f, c).map { case (lo, hi) => s"\t$c\t$lo\t$hi" }
      }.mkString
      s"D\t$f$suffix"
    }
    // carried lines: every record NOT about a replaced file; per-file
    // index records (B/H/G) of replaced files die with them
    val fileRecord = Set("D", "B", "H", "G")
    val carried = rawLines(root, base).filter { l =>
      val parts = l.split('\t')
      !l.startsWith("C\t") &&
        !(fileRecord.contains(parts(0)) && replaced.contains(parts(1)))
    }
    if (!publish(root, base + 1, carried ++ newLines)) {
      graft.sink.Sinks.deleteDir(dataDir)
      throw new java.util.ConcurrentModificationException(
        s"row-level rewrite of $root computed against v$base, but the " +
          s"table advanced to v${latestVersion(root)} before publish — " +
          "re-run the statement against the new head")
    }
    base + 1
  }

  /** FAST-FORWARD publish (r11) — the publish step of WRITE-AUDIT-PUBLISH
    * (Iceberg's WAP / Delta's branch merge): re-point `dstRoot` at the
    * audited staged snapshot (`srcRoot`@`srcVersion`, typically a shallow
    * clone that absorbed the new batch) as dst's next version. Manifest-
    * only — the staged DATA FILES are referenced, never copied or
    * rewritten, so publishing a 100 TB audit result is a KB-sized
    * metadata CAS. Safe only while dst hasn't moved since the clone
    * point: the caller states the version it cloned from and the publish
    * is rejected (Left of the current version) if dst advanced — the
    * audited snapshot would silently erase the concurrent commits
    * otherwise (the lost-update rule table_concurrent_commit pins on the
    * data path, applied to the branch path). `C` records are not carried
    * (the restore/clone convention: the fast-forward is one logical
    * commit on dst; its change history stays on the staging branch). */
  def fastForward(srcRoot: String, srcVersion: Int, dstRoot: String,
      expectedDstVersion: Int): Either[Int, Int] = {
    val lines = rawLines(srcRoot, srcVersion).filterNot(_.startsWith("C\t"))
    val cur = latestVersion(dstRoot)
    if (cur != expectedDstVersion) Left(cur)
    else if (publish(dstRoot, cur + 1, lines)) Right(cur + 1)
    else Left(latestVersion(dstRoot))
  }

  /** BRANCH MERGE (r12) — the 3-way merge `fastForward` cannot do: land a
    * branch's commits on a destination that has ADVANCED since the branch
    * was cloned (Nessie's / Iceberg's branch-merge semantics, restricted
    * to the only case that is safe without row-level reconciliation:
    * APPEND-ONLY divergence). The branch's delta vs its clone point must
    * consist purely of new `D` data records — if the branch rewrote,
    * deleted, renamed or re-stated anything (removed lines, new E/V
    * delete records, a schema change), the merge refuses with the reason
    * instead of silently clobbering either side. On success the branch's
    * new files are UNIONED into dst's current manifest under the usual
    * publish CAS: both sides' appends survive, manifest-only, zero data
    * I/O — the 100 TB merge is a KB metadata operation. `C` records are
    * not carried (the restore/clone convention). */
  def mergeBranch(branchRoot: String, branchBase: Int,
      dstRoot: String): Either[String, Int] = {
    // C records are per-commit (never carried); T is the commit instant,
    // different on every manifest by construction — neither is table
    // content, so neither participates in the append-only diff.
    val noC = (ls: Seq[String]) =>
      ls.filterNot(l => l.startsWith("C\t") || l.startsWith("T\t"))
    val baseLines = noC(rawLines(branchRoot, branchBase))
    val headLines = noC(rawLines(branchRoot, latestVersion(branchRoot)))
    val removed = baseLines.filterNot(headLines.toSet.contains)
    val added = headLines.filterNot(baseLines.toSet.contains)
    val addedNonData = added.filterNot(_.startsWith("D\t"))
    if (removed.nonEmpty)
      Left(s"branch removed or rewrote ${removed.size} manifest record(s) " +
        "since its clone point — append-only merges only")
    else if (addedNonData.nonEmpty)
      Left(s"branch added ${addedNonData.size} non-data record(s) " +
        s"(${addedNonData.map(_.takeWhile(_ != '\t')).distinct.mkString(",")})" +
        " — append-only merges only")
    else {
      val addedData = added
      var v = 0
      var done = false
      while (!done) {
        val cur = latestVersion(dstRoot)
        val carried = noC(rawLines(dstRoot, cur))
        v = cur + 1
        done = publish(dstRoot, v, carried ++ addedData)
      }
      Right(v)
    }
  }

  /** REPLACE WHERE (r9) — Delta's `replaceWhere` / dynamic-partition-
    * overwrite: commit a new version where ONLY rows with `column` in
    * [lo, hi] are replaced by `df`'s rows in that range. File-granular
    * surgery on the manifest: data files whose recorded stats prove them
    * DISJOINT from the range carry over verbatim (path-identical, zero
    * I/O — on a range-clustered table that is almost all of them);
    * straddling or stats-less files are rewritten minus their in-range
    * rows; `df` is filtered to the predicate (rows outside it can't leak
    * into the untouched region — the Delta contract). At 100 TB this is
    * the daily-partition reload: rewrite one partition's worth of files,
    * carry the rest as metadata. */
  def commitReplaceWhere(s: SparkSession, df: DataFrame, root: String,
      column: String, lo: Long, hi: Long,
      statsColumns: Seq[String]): Int = {
    val base = latestVersion(root)
    require(base >= 1, s"cannot REPLACE WHERE on an empty table at $root")
    require(deleteFiles(root, base).isEmpty,
      "fold merge-on-read deletes (compact) before replaceWhere")
    val (disjoint, touched) = dataEntries(root, base).partition(e =>
      e.stats.find(_.column == column).exists(fs => fs.max < lo || fs.min > hi))
    val survivors = if (touched.isEmpty) None
      else Some(s.read.parquet(touched.map(_.path): _*)
        .filter(!col(column).between(lo, hi)))
    val replaced = df.filter(col(column).between(lo, hi))
    val toWrite = survivors.map(_.unionByName(replaced)).getOrElse(replaced)
    val dataDir = s"$root/data/${java.util.UUID.randomUUID()}"
    toWrite.write.parquet(dataDir)
    val newLines = listParquet(dataDir).map { f =>
      val suffix = statsColumns.flatMap { c =>
        footerMinMax(f, c).map { case (mn, mx) => s"\t$c\t$mn\t$mx" }
      }.mkString
      s"D\t$f$suffix"
    }
    // carried D lines verbatim (stats and all) from the base manifest
    val keepPaths = disjoint.map(_.path).toSet
    val carried = rawLines(root, base).filter { l =>
      l.startsWith("D\t") && keepPaths.contains(l.split('\t')(1))
    }
    val lines = carried ++ newLines :+ s"S\t${toWrite.schema.json}"
    var v = base + 1
    while (!publish(root, v, lines)) v = latestVersion(root) + 1
    v
  }

  /** Merge-on-read DELETE (r9): commit a new version that subtracts every
    * row whose `column` appears in `keys` — WITHOUT rewriting a single
    * data file. The keys are written once as an equality-delete file
    * (Iceberg's equality-delete contract; Delta's deletion-vector shape
    * at key rather than position granularity) and the manifest carries
    * the previous version's data/bloom/schema records forward verbatim
    * plus the new `E` record; reads resolve the subtraction with a
    * broadcast anti-join. This is the 100 TB delete path: dropping 0.001%
    * of a table costs KBs of metadata + the key file, where copy-on-write
    * would rewrite every touched file — compaction later folds the
    * deletes into data files and commits a delete-free snapshot. Prior
    * `C` records are not carried (this commit's own change feed is the
    * deletion itself; a CDF range read across it falls back to the
    * snapshot diff, the restore() convention). */
  def commitDeletes(keys: DataFrame, root: String, column: String): Int = {
    val base = latestVersion(root)
    require(base >= 1, s"cannot DELETE from an empty table at $root")
    val dDir = s"$root/deletes/${java.util.UUID.randomUUID()}"
    keys.select(col(column)).distinct().write.parquet(dDir)
    val eLines = listParquet(dDir).map(f => s"E\t$f\t$column")
    val carried = rawLines(root, base).filterNot(_.startsWith("C\t"))
    var v = base + 1
    while (!publish(root, v, carried ++ eLines)) v = latestVersion(root) + 1
    v
  }

  /** Positional DELETE — deletion vectors (r11): the other merge-on-read
    * delete beside [[commitDeletes]]' equality records. A `DELETE WHERE`
    * locates its victims ONCE (one predicate scan carrying the parquet
    * `_metadata` file/row-index columns) and records them as
    * (file, row ordinal) pairs in `V`-record parquet files; the data
    * files are untouched and the read side subtracts by POSITION, so the
    * mechanism composes with any predicate — no key column needed, and a
    * file with no deleted rows pays nothing. Equality deletes remain the
    * right tool when the writer knows keys but not locations (streaming
    * upserts); DVs are what a located DELETE compiles to — the Delta
    * deletion-vector / Iceberg positional-delete design. At 100 TB the
    * DV set is KBs-to-MBs riding a broadcast anti-join; deleting 0.1% of
    * rows rewrites nothing. */
  def commitDeleteVectors(s: SparkSession, root: String,
      predicate: String): Int = {
    val base = latestVersion(root)
    require(base >= 1, s"cannot DELETE from an empty table at $root")
    val dvDir = s"$root/dvs/${java.util.UUID.randomUUID()}"
    s.read.parquet(manifest(root, base): _*)
      .select(col("*"), col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"))
      .filter(expr(predicate))
      .select(col("__file"), col("__pos"))
      .write.parquet(dvDir)
    val vLines = listParquet(dvDir).map(f => s"V\t$f")
    // carried lines re-derive per CAS attempt (see commitPartitioned)
    var v = latestVersion(root) + 1
    def lines() = rawLines(root, latestVersion(root))
      .filterNot(_.startsWith("C\t")) ++ vLines
    while (!publish(root, v, lines())) v = latestVersion(root) + 1
    v
  }

  /** Version v's deletion-vector files ([] when none committed). */
  def dvFiles(root: String, v: Int): Seq[String] =
    rawLines(root, v).filter(_.startsWith("V\t")).map(_.split('\t')(1))

  /** Subtract version v's deletion vectors from a parquet SCAN relation
    * (the `_metadata` columns must still be resolvable — apply before
    * any projection). The DV set broadcasts; a pruned read that scans a
    * file subset simply leaves the other files' DV rows unmatched. */
  private def applyDvs(s: SparkSession, root: String, v: Int,
      scan: DataFrame): DataFrame = {
    val dvs = dvFiles(root, v)
    if (dvs.isEmpty) scan
    else scan
      .select(col("*"), col("_metadata.file_path").as("__file"),
        col("_metadata.row_index").as("__pos"))
      .join(broadcast(readFiles(s, dvs)), Seq("__file", "__pos"),
        "left_anti")
      .drop("__file", "__pos")
  }

  /** Column RENAME without rewrite (r11) — the Delta column-mapping /
    * Iceberg rename contract: renaming a column on a 100 TB table is a
    * PURE METADATA commit. The manifest carries `R <physical> <logical>`
    * mapping records (physical = the name actually inside the immutable
    * parquet files); a rename updates the logical side of an existing
    * mapping (so chained renames stay one hop) or adds a new record, and
    * publishes the renamed schema as the new `S`. Data files are never
    * touched; time travel to pre-rename versions still serves the old
    * names, because each version's manifest froze its own S/R records. */
  def commitRename(root: String, renames: Map[String, String]): Int = {
    val base = latestVersion(root)
    require(base >= 1, s"cannot RENAME on an empty table at $root")
    val schema = tableSchema(root, base).getOrElse(throw new
      IllegalStateException(s"rename needs the manifest schema at $root"))
    renames.keys.foreach { o => require(schema.fieldNames.contains(o),
      s"rename source '$o' not in the current schema") }
    val renamed = types.StructType(schema.map(f =>
      renames.get(f.name).map(n => f.copy(name = n)).getOrElse(f)))
    val prior = renameMap(root, base) // physical -> logical
    // update chained mappings in place; first-time renames map from the
    // physical name (their current logical IS the physical)
    val updated = prior.map { case (phys, logical) =>
      (phys, renames.getOrElse(logical, logical)) }
    val fresh = renames.filterNot { case (o, _) => prior.values.exists(_ == o) }
    val mapping = (updated ++ fresh).filter { case (p, l) => p != l }
    // carried lines re-derive per CAS attempt (see commitPartitioned)
    var v = latestVersion(root) + 1
    def lines() = rawLines(root, latestVersion(root)).filterNot(l =>
      l.startsWith("S\t") || l.startsWith("C\t") || l.startsWith("R\t")) ++
      mapping.map { case (p, l) => s"R\t$p\t$l" } :+ s"S\t${renamed.json}"
    while (!publish(root, v, lines())) v = latestVersion(root) + 1
    v
  }

  /** Version v's physical→logical column mapping ([] when no renames). */
  def renameMap(root: String, v: Int): Map[String, String] =
    rawLines(root, v).filter(_.startsWith("R\t")).map(_.split('\t'))
      .collect { case Array("R", phys, logical) => (phys, logical) }.toMap

  /** Read version v under its LOGICAL schema: old files' physical column
    * names resolve through the mapping (one aliasing projection — free),
    * unmapped columns pass through. */
  def readVersionRenamed(s: SparkSession, root: String, v: Int): DataFrame = {
    val schema = tableSchema(root, v).getOrElse(throw new
      IllegalStateException(s"mapped read needs the manifest schema at $root"))
    val logicalToPhys = renameMap(root, v).map(_.swap)
    // scan under the committed schema mapped back to PHYSICAL names —
    // footer inference would pick one file's schema and drop a column
    // added by schema evolution that older files don't carry (r14:
    // rename after ADD COLUMN); the explicit schema null-fills instead
    val physSchema = types.StructType(schema.map(f =>
      f.copy(name = logicalToPhys.getOrElse(f.name, f.name))))
    val raw = applyDvs(s, root, v,
      s.read.schema(physSchema).parquet(manifest(root, v): _*))
    applyDeletes(s, root, v, raw.select(schema.fieldNames.toSeq.map { n =>
      col(logicalToPhys.getOrElse(n, n)).as(n) }: _*))
  }

  /** Directory listing of the parquet files just written. The stream is
    * closed eagerly (Using) — commit() runs per micro-batch in
    * streamMergeUpsert, and an unclosed Files.list leaks a directory fd
    * until GC on every call. */
  private def listParquet(dir: String): Seq[String] =
    Using.resource(Files.list(Paths.get(dir))) { st =>
      st.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(_.toAbsolutePath.toString)
        .toSeq.sorted
    }

  /** Min/max of an INT32/INT64 column read from the parquet footer's
    * row-group statistics — O(footer), never a data scan. None when the
    * column is absent or non-integer, and — critically — when ANY row
    * group holding rows lacks usable statistics for it:
    * hasNonNullValue=false can mean stats-not-written, not only all-null,
    * so aggregating over only the statted subset could yield an
    * UNDER-covering [min,max] and wrongly prune the file. All-or-nothing
    * keeps the invariant that recorded stats cover every row (an
    * unstatted file is simply never pruned — safe, just conservative). */
  private def footerMinMax(file: String, column: String): Option[(Long, Long)] = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in)) { r =>
      val perBlock = r.getFooter.getBlocks.asScala.toSeq
        .filter(_.getRowCount > 0)
        .map { b =>
          for {
            c <- b.getColumns.asScala.find(_.getPath.toDotString == column)
            st = c.getStatistics
            if st != null && st.hasNonNullValue
            lo <- asLong(st.genericGetMin: Any)
            hi <- asLong(st.genericGetMax: Any)
          } yield (lo, hi)
        }
      if (perBlock.isEmpty || perBlock.exists(_.isEmpty)) None
      else {
        val ranges = perBlock.flatten
        Some((ranges.map(_._1).min, ranges.map(_._2).max))
      }
    }
  }

  /** Exact row count from the parquet footer — O(footer), no data scan.
    * Sizes the per-file bloom so its bit array fits the file exactly. */
  private def footerRowCount(file: String): Long = {
    val conf = new org.apache.hadoop.conf.Configuration()
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new org.apache.hadoop.fs.Path(file), conf)
    Using.resource(org.apache.parquet.hadoop.ParquetFileReader.open(in)) { r =>
      r.getFooter.getBlocks.asScala.map(_.getRowCount).sum
    }
  }

  private def asLong(v: Any): Option[Long] = v match {
    case l: java.lang.Long    => Some(l.longValue())
    case i: java.lang.Integer => Some(i.longValue())
    case _                    => None
  }

  /** CAS publish of manifest vN: temp-write, then atomic-exclusive hard
    * link as the commit point. Returns false if version N was taken by a
    * concurrent writer (caller retries with a fresh version). */
  private def publish(root: String, v: Int, lines: Seq[String]): Boolean = {
    val commits = Paths.get(s"$root/_commits")
    Files.createDirectories(commits)
    // `T` record: the commit timestamp as DURABLE manifest metadata, not a
    // filesystem mtime — a warehouse copy/restore/rsync rewrites mtimes and
    // would silently re-pin TIMESTAMP AS OF to the wrong version (r13
    // ADVICE; Delta/Iceberg store the commit instant inside the log for the
    // same reason). Stamped at the single publish chokepoint so every
    // commit entry point gets one; carried lines from an older manifest
    // are stripped first, so each manifest holds exactly one T record —
    // the instant THIS version was published.
    val stamped = lines.filterNot(_.startsWith("T\t")) :+
      s"T\t${System.currentTimeMillis()}"
    val tmp = commits.resolve(
      s".tmp-v$v-${ProcessHandle.current().pid()}-${Thread.currentThread().getId}")
    Files.write(tmp, stamped.mkString("\n").getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(commits.resolve(s"v$v.manifest"), tmp)
      true
    } catch {
      case _: java.nio.file.FileAlreadyExistsException => false
    } finally Files.deleteIfExists(tmp)
  }

  /** Optimistic read-modify-write TRANSACTION (r9) — the Delta/Iceberg
    * commit loop that `commit`'s blind CAS retry is NOT: a plain append
    * can retry at the next version verbatim, but a transform computed
    * against a snapshot must not publish once a concurrent writer has
    * moved the table — that is the textbook lost update. The loop instead
    * REBASES on conflict: re-read the new latest snapshot, re-apply
    * `transform`, try the next version. `beforePublish(attempt)` runs in
    * the window between snapshot read and publish (where a concurrent
    * commit can land), letting the query key and the spec script a
    * deterministic interleave instead of racing threads. A failed
    * attempt's data files are deleted eagerly (they are unreferenced —
    * the orphan sweep would also catch them). Returns
    * (publishedVersion, attempts). */
  def commitTransform(s: SparkSession, root: String,
      transform: DataFrame => DataFrame,
      beforePublish: Int => Unit = _ => ()): (Int, Int) = {
    require(latestVersion(root) > 0, "commitTransform needs a staged table")
    var attempt = 0
    while (attempt < 64) {
      attempt += 1
      val base = latestVersion(root)
      val out = transform(readVersion(s, root, base))
      val dataDir = s"$root/data/${java.util.UUID.randomUUID()}"
      out.write.parquet(dataDir)
      val lines = listParquet(dataDir).map(f => s"D\t$f") :+
        s"S\t${out.schema.json}"
      beforePublish(attempt)
      if (publish(root, base + 1, lines)) return (base + 1, attempt)
      graft.sink.Sinks.deleteDir(dataDir)
    }
    throw new IllegalStateException("commitTransform: 64 conflicts in a row")
  }

  /** Highest published version, 0 if the table has no commits yet. */
  def latestVersion(root: String): Int = {
    val commits = Paths.get(s"$root/_commits")
    if (!Files.isDirectory(commits)) return 0
    // eager-closed for the same reason as listParquet: commit's CAS retry
    // loop calls this repeatedly under contention
    val vs = Using.resource(Files.list(commits)) { st =>
      st.iterator().asScala
        .map(_.getFileName.toString)
        .collect { case s if s.startsWith("v") && s.endsWith(".manifest") =>
          s.stripPrefix("v").stripSuffix(".manifest").toInt }
        .toSeq
    }
    if (vs.isEmpty) 0 else vs.max
  }

  private def manifestPath(root: String, v: Int): Path =
    Paths.get(s"$root/_commits/v$v.manifest")

  private def rawLines(root: String, v: Int): Seq[String] = {
    val p = manifestPath(root, v)
    require(Files.exists(p), s"version $v not committed at $root")
    new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      .split("\n").toSeq.filter(_.nonEmpty)
  }

  /** All FILE records of version v (data + changeset files; the `S`
    * schema, `B` bloom and `P` partition records are metadata, read via
    * [[tableSchema]] resp. [[blooms]] resp. [[partitionRecords]]). */
  def entries(root: String, v: Int): Seq[ManifestEntry] =
    rawLines(root, v)
      .filterNot(l => l.startsWith("S\t") || l.startsWith("B\t") ||
        l.startsWith("P\t") || l.startsWith("V\t") || l.startsWith("R\t") ||
        l.startsWith("H\t") || l.startsWith("G\t") || l.startsWith("T\t"))
      .map { line =>
        line.split('\t') match {
          case Array(path) => ManifestEntry(path, change = false, Nil) // legacy
          case Array("C", path) => ManifestEntry(path, change = true, Nil)
          case Array("E", path, column) =>
            ManifestEntry(path, change = false, Nil, delete = Some(column))
          case parts if parts.length >= 2 && parts(0) == "D" &&
              (parts.length - 2) % 3 == 0 =>
            val stats = parts.drop(2).grouped(3).map {
              case Array(c, lo, hi) => FileStats(c, lo.toLong, hi.toLong)
            }.toSeq
            ManifestEntry(parts(1), change = false, stats)
          case _ => throw new IllegalStateException(
            s"corrupt manifest line at $root v$v: '$line'")
        }
      }

  /** The schema commit v recorded (None for pre-r8 manifests — callers
    * fall back to footer inference, which opens one file's metadata). */
  def tableSchema(root: String, v: Int): Option[types.StructType] =
    rawLines(root, v).find(_.startsWith("S\t")).map { l =>
      types.DataType.fromJson(l.substring(2)).asInstanceOf[types.StructType]
    }

  /** The commit instant (epoch millis) version v's manifest recorded at
    * publish time — the durable commit clock TIMESTAMP AS OF and
    * age-based retention resolve against. None only for legacy manifests
    * written before the `T` record existed; those callers fall back to
    * the manifest file's mtime (best effort — mtimes do not survive a
    * warehouse copy). */
  def commitTimestampMillis(root: String, v: Int): Option[Long] =
    rawLines(root, v).find(_.startsWith("T\t"))
      .map(_.substring(2).trim.toLong)

  /** Version v's DATA records (excludes changeset and delete files). */
  private def dataEntries(root: String, v: Int): Seq[ManifestEntry] =
    entries(root, v).filter(e => !e.change && e.delete.isEmpty)

  /** The frozen DATA file list of version v. */
  def manifest(root: String, v: Int): Seq[String] =
    dataEntries(root, v).map(_.path)

  /** The changeset files commit v recorded ([] when it recorded none). */
  def changeFiles(root: String, v: Int): Seq[String] =
    entries(root, v).filter(_.change).map(_.path)

  /** Version v's equality-delete records, grouped by deleted column. */
  def deleteFiles(root: String, v: Int): Map[String, Seq[String]] =
    entries(root, v).collect {
      case ManifestEntry(p, _, _, Some(c)) => (c, p)
    }.groupBy(_._1).map { case (c, ps) => (c, ps.map(_._2)) }

  /** Merge-on-read resolution: anti-join `df` against every delete
    * column's key files of version v. The delete files are tiny relative
    * to data (the whole point of MOR), so each anti-join broadcasts —
    * at 100 TB the deleted-key set rides to every executor and the scan
    * itself never re-shuffles. No-op for versions with no `E` records. */
  private def applyDeletes(s: SparkSession, root: String, v: Int,
      df: DataFrame): DataFrame =
    deleteFiles(root, v).foldLeft(df) { case (acc, (c, files)) =>
      val keys = readFiles(s, files).select(col(c)).distinct()
      acc.join(broadcast(keys), Seq(c), "left_anti")
    }

  /** Snapshot-isolated `VERSION AS OF v` read: the scan is pinned to the
    * manifest's immutable files — later commits are invisible. A version
    * holding equality-delete records serves the DELETED view (the
    * merge-on-read contract: the data files still contain the rows; the
    * read subtracts them). */
  def readVersion(s: SparkSession, root: String, v: Int): DataFrame = {
    val files = manifest(root, v)
    if (files.isEmpty) {
      // a schema-only version (CREATE TABLE before any load): zero rows
      // under the committed schema — parquet can't infer from no files
      val schema = tableSchema(root, v).getOrElse(throw new
        IllegalStateException(s"version $v at $root has no files and no schema"))
      return s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }
    applyDeletes(s, root, v, applyDvs(s, root, v, readFiles(s, files)))
  }

  /** `s.read.parquet(files: _*)` without its one-task schema-inference
    * job: the schema that inference would pick (the first file's footer,
    * with schema merging off) is read on the driver and passed in. The
    * manifest's `S` record is not that schema: after `commitRename` it holds
    * logical names, after ADD COLUMN it is wider than the older files. */
  private def readFiles(s: SparkSession, files: Seq[String]): DataFrame =
    if (s.sessionState.conf.isParquetSchemaMergingEnabled) s.read.parquet(files: _*)
    else s.read.schema(SchemaBridge.parquetFooterSchema(s, files)).parquet(files: _*)

  /** Publish a SCHEMA-ONLY version — `CREATE TABLE` before any load: the
    * manifest carries just the `S` record (and its `T` commit instant),
    * zero data files. The same CAS publish as any commit. */
  def commitEmpty(root: String, schema: types.StructType): Int = {
    var v = latestVersion(root) + 1
    while (!publish(root, v, Seq(s"S\t${schema.json}"))) v = latestVersion(root) + 1
    v
  }

  /** Latest-version read (what an unpinned reader sees). */
  def readLatest(s: SparkSession, root: String): DataFrame =
    readVersion(s, root, latestVersion(root))

  /** Time travel ACROSS a schema-evolution boundary: read version v's
    * frozen files under the table's CURRENT schema — columns committed
    * after v null-fill (Spark's missing-column parquet semantics), columns
    * v had keep their values. The target schema comes from the latest
    * manifest's `S` record — pure metadata, no footer opened. This is the
    * read an evolved table serves when a query written against today's
    * schema time-travels into pre-evolution history. */
  def readVersionEvolved(s: SparkSession, root: String, v: Int): DataFrame = {
    val target = tableSchema(root, latestVersion(root))
      .getOrElse(readLatest(s, root).schema) // pre-r8 table: infer once
    applyDeletes(s, root, v,
      applyDvs(s, root, v, s.read.schema(target).parquet(manifest(root, v): _*)))
  }

  /** The data files of version v that survive EVERY predicate's stats
    * check — a file is pruned when any predicate's [lo, hi] misses its
    * recorded [min, max] for that column (compound predicates compound
    * the pruning). A file with no stats for a predicate's column is
    * conservatively kept by that predicate. */
  def prunedFiles(root: String, v: Int,
      preds: Seq[(String, Long, Long)]): Seq[String] =
    dataEntries(root, v).filter { e =>
      preds.forall { case (column, lo, hi) =>
        e.stats.find(_.column == column) match {
          case Some(FileStats(_, mn, mx)) => mx >= lo && mn <= hi
          case None => true
        }
      }
    }.map(_.path)

  /** Single-predicate form of [[prunedFiles]]. */
  def prunedFiles(root: String, v: Int, column: String,
      lo: Long, hi: Long): Seq[String] =
    prunedFiles(root, v, Seq((column, lo, hi)))

  /** Stats-pruned `VERSION AS OF v WHERE <every pred> BETWEEN lo AND hi`
    * read: files whose stats miss ANY predicate are dropped at manifest
    * resolution — the scan never opens them (the row-level filters still
    * apply within surviving files; stats are file-granular). When every
    * file is pruned the scan falls back to the full list purely to carry
    * the schema — the filters return zero rows either way. */
  def readVersionWhere(s: SparkSession, root: String, v: Int,
      preds: Seq[(String, Long, Long)]): DataFrame = {
    val files = prunedFiles(root, v, preds)
    val src = if (files.nonEmpty) files else manifest(root, v)
    applyDeletes(s, root, v,
      preds.foldLeft(applyDvs(s, root, v, s.read.parquet(src: _*))) {
        case (df, (c, lo, hi)) => df.filter(col(c).between(lo, hi))
      })
  }

  /** Single-predicate form of [[readVersionWhere]]. */
  def readVersionWhere(s: SparkSession, root: String, v: Int,
      column: String, lo: Long, hi: Long): DataFrame =
    readVersionWhere(s, root, v, Seq((column, lo, hi)))

  /** Version v's per-file bloom filters for `column` (empty map when the
    * commit recorded none). Deserialized from the manifest's `B` records —
    * driver-side metadata, KBs per file, no data touched. */
  def blooms(root: String, v: Int,
      column: String): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    rawLines(root, v).filter(_.startsWith("B\t")).flatMap { line =>
      line.split('\t') match {
        case Array("B", path, c, b64) if c == column =>
          val bytes = java.util.Base64.getDecoder.decode(b64)
          Some(path -> org.apache.spark.util.sketch.BloomFilter
            .readFrom(new java.io.ByteArrayInputStream(bytes)))
        case _ => None
      }
    }.toMap

  /** The data files of version v that might contain `column = value`:
    * a file whose bloom DEFINITIVELY excludes the value is pruned; a
    * file without a bloom is conservatively kept; min/max stats (when
    * also recorded) prune first. No false negatives by the bloom
    * contract — a pruned file provably does not hold the key. */
  def prunedFilesPoint(root: String, v: Int, column: String,
      value: Long): Seq[String] = {
    val bf = blooms(root, v, column)
    prunedFiles(root, v, Seq((column, value, value))).filter { f =>
      bf.get(f).forall(_.mightContainLong(value))
    }
  }

  /** Bloom-pruned point lookup `VERSION AS OF v WHERE column = value`:
    * manifest resolution drops every file whose bloom (or stats) rules
    * the key out — the scan opens only possible holders. The empty-
    * survivor case falls back to the full list purely to carry the
    * schema (the row filter returns zero rows either way — the
    * readVersionWhere convention). On an UNCLUSTERED high-cardinality
    * key this is the difference between opening every file and opening
    * ~one: min/max stats are useless when every file spans the key
    * domain, which is exactly the layout ingest order produces. */
  def readVersionPoint(s: SparkSession, root: String, v: Int,
      column: String, value: Long): DataFrame = {
    val files = prunedFilesPoint(root, v, column, value)
    val src = if (files.nonEmpty) files else manifest(root, v)
    applyDeletes(s, root, v,
      applyDvs(s, root, v, s.read.parquet(src: _*))
        .filter(col(column) === value))
  }

  /** RESTORE TABLE ... TO VERSION AS OF v (the Delta RESTORE contract):
    * publish a NEW version whose file list is version v's — a pure
    * manifest copy, no data read or written, so restoring a 100 TB table
    * is a KB-sized metadata operation. History stays intact (the undone
    * versions remain time-travelable until VACUUM ages them out), and
    * because the restore is itself a commit, it CAS-races like any
    * other writer. Returns the new version number. */
  def restore(root: String, toVersion: Int): Int = {
    // D/B/S records carry over (the restored version's files, blooms and
    // schema ARE the new version's); `C` records do not — the restore
    // commit made no row-level changes of its own, and re-listing v's
    // changeset would make a CDF range read re-emit history (readers
    // diffing across a restore fall back to the snapshot diff, which is
    // the correct feed).
    val lines = rawLines(root, toVersion).filterNot(_.startsWith("C\t"))
    var v = latestVersion(root) + 1
    while (!publish(root, v, lines)) v = latestVersion(root) + 1
    v
  }

  /** Metadata-only aggregates (the Iceberg metadata-aggregate pushdown):
    * `COUNT(*)` from footer row counts, `MIN/MAX(column)` from manifest
    * stats — falling back to one footer read for files committed without
    * stats — so the classic dashboard query answers in O(files) footer
    * metadata without reading a single data page. Semantics match SQL
    * exactly: footer row counts include null rows (COUNT(*)), footer
    * min/max exclude nulls (MIN/MAX). Version-pinned like any other read
    * — aggregating v1 after later commits sees v1's files only. */
  /** DESCRIBE HISTORY (r11) — the operational audit trail every table
    * format exposes: per version, the referenced data-file count and the
    * exact row count from parquet FOOTERS (pure metadata — no data pages
    * are read at any table size). Same merge-on-read guard as metaAgg:
    * under equality-delete/DV records footer counts describe files, not
    * live rows, so a metadata answer would overcount — fail fast. */
  def describeHistory(root: String): Seq[(Int, Int, Long)] =
    (1 to latestVersion(root)).map { v =>
      require(deleteFiles(root, v).isEmpty && dvFiles(root, v).isEmpty,
        s"metadata-only history undefined under merge-on-read deletes at $root v$v")
      val files = manifest(root, v)
      (v, files.length, files.map(footerRowCount).sum)
    }

  def metaAgg(s: SparkSession, root: String, v: Int,
      column: String): DataFrame = {
    // footer counts/stats describe the data FILES; under merge-on-read
    // deletes (equality records OR deletion vectors) the version's
    // logical rows are a subset, so a metadata-only answer would
    // overcount — fail fast instead of answering wrong
    require(deleteFiles(root, v).isEmpty && dvFiles(root, v).isEmpty,
      s"metadata-only aggregate undefined under merge-on-read deletes at $root v$v")
    val files = dataEntries(root, v)
    val nRows = files.map(e => footerRowCount(e.path)).sum
    val ranges = files.map { e =>
      e.stats.find(_.column == column).map(fs => (fs.min, fs.max))
        .orElse(footerMinMax(e.path, column))
        .getOrElse(throw new IllegalStateException(
          s"no usable stats for '$column' in ${e.path} — cannot push down"))
    }
    import s.implicits._
    Seq((nRows, ranges.map(_._1).min, ranges.map(_._2).max))
      .toDF("n_rows", s"min_$column", s"max_$column")
  }

  /** The change feed between two versions, answered from the commit LOG:
    * the union of every intermediate commit's recorded changeset files —
    * metadata resolution plus a scan of only those (small) files, never
    * of either version's data. None when some commit in the range didn't
    * record its changes (the caller falls back to a snapshot diff, which
    * works on ANY pair of versions at one key-shuffle per side). */
  def readChanges(s: SparkSession, root: String,
      vFrom: Int, vTo: Int): Option[DataFrame] = {
    require(vFrom < vTo, s"need vFrom < vTo, got $vFrom..$vTo")
    val perVersion = ((vFrom + 1) to vTo).map(v => changeFiles(root, v))
    if (perVersion.exists(_.isEmpty)) None
    else Some(s.read.parquet(perVersion.flatten: _*))
  }

  /** OPTIMIZE: bin-pack the current version's files into ~targetBytes
    * outputs and commit the rewrite as a NEW version. Row-set identity is
    * the contract (asserted by spec + the sink_compact oracle); older
    * versions keep their manifests and files, so time travel still works
    * across a compaction (retention/VACUUM would prune them by age).
    * Topology: one read of the fragmented files + `coalesce` (no shuffle
    * — partitions are concatenated, never re-keyed) + one write; at
    * 100 TB this runs per-partition-directory with the same plan. */
  def compact(s: SparkSession, root: String, targetBytes: Long): Int = {
    val v = latestVersion(root)
    commit(readVersion(s, root, v).coalesce(targetFileCount(root, v,
      targetBytes)), root)
  }

  /** OPTIMIZE ... ZORDER's one-dimensional core (r8): bin-pack AND
    * re-cluster — `repartitionByRange` on `clusterColumn` before the
    * rewrite, so each output file owns a disjoint slice of the column's
    * domain and the recorded `statsColumns` ranges come out TIGHT.
    * Plain [[compact]] concatenates partitions as they come, which
    * PRESERVES whatever interleaving the writes left and degrades
    * skipping as versions accrue; the clustered rewrite is how OPTIMIZE
    * makes a narrow predicate read strictly FEWER files afterwards
    * (spec-pinned). Costs one range shuffle where compact costs none —
    * the standard price of clustering; at 100 TB it runs per partition
    * directory with bounded task inputs, and the range boundaries come
    * from Spark's reservoir sampling, not a driver sort. */
  def compactClustered(s: SparkSession, root: String, targetBytes: Long,
      clusterColumn: String, statsColumns: Seq[String]): Int = {
    val v = latestVersion(root)
    val n = targetFileCount(root, v, targetBytes)
    commit(readVersion(s, root, v).repartitionByRange(n, col(clusterColumn)),
      root, changes = None, statsColumns = statsColumns)
  }

  /** OPTIMIZE ... ZORDER, two-dimensional (r8): bin-pack and re-cluster
    * on the MORTON interleaving of two integer columns, so every output
    * file owns a compact Z-range — a small rectangle-union in (A, B)
    * space — and the recorded stats come out tight on BOTH columns.
    * [[compactClustered]] is the one-dimensional special case: perfect
    * pruning on its cluster column, none on any other; Z-ordering trades
    * a little of A's tightness for B-predicates pruning too (the Delta /
    * Iceberg OPTIMIZE ZORDER contract, spec-pinned both ways).
    *
    * Mechanics: each column min/max-scales to 16 bits — bounds come from
    * the CURRENT version's manifest stats when recorded (pure metadata)
    * and fall back to one agg scan otherwise — then spreads into
    * alternating bit positions via the closed-form magic-mask shifts
    * (codegen'd integer ops, no per-row loop) and ORs into the 32-bit
    * Z-value the range shuffle keys on. The Z column is dropped before
    * the write — it exists only to route rows. Same topology as
    * compactClustered at 100 TB: one range shuffle per partition
    * directory, boundaries from reservoir sampling, never a driver sort. */
  def compactZorder(s: SparkSession, root: String, targetBytes: Long,
      colA: String, colB: String, statsColumns: Seq[String]): Int = {
    val v = latestVersion(root)
    val n = targetFileCount(root, v, targetBytes)
    val df = readVersion(s, root, v)
    def bounds(c: String): (Long, Long) = {
      val st = dataEntries(root, v)
        .map(_.stats.find(_.column == c))
      if (st.nonEmpty && st.forall(_.isDefined)) {
        val fs = st.flatten
        (fs.map(_.min).min, fs.map(_.max).max)
      } else {
        val r = df.agg(min(col(c).cast("long")), max(col(c).cast("long"))).head()
        (r.getLong(0), r.getLong(1))
      }
    }
    def scaled(c: String): String = {
      val (lo, hi) = bounds(c)
      s"(((cast($c as bigint) - ${lo}L) * 65535L) div ${math.max(hi - lo, 1L)}L)"
    }
    def spread(e: String): String =
      Seq((8, 16711935L), (4, 252645135L), (2, 858993459L), (1, 1431655765L))
        .foldLeft(e) { case (x, (sh, mask)) =>
          s"(($x | shiftleft($x, $sh)) & ${mask}L)"
        }
    val z = s"(${spread(scaled(colA))} | shiftleft(${spread(scaled(colB))}, 1))"
    commit(
      df.withColumn("__z", expr(z)).repartitionByRange(n, col("__z")).drop("__z"),
      root, changes = None, statsColumns = statsColumns)
  }

  private def targetFileCount(root: String, v: Int, targetBytes: Long): Int = {
    val totalBytes = manifest(root, v).map(f => Files.size(Paths.get(f))).sum
    math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
  }

  /** VACUUM: retain the newest `keepVersions` versions, delete older
    * manifests and every data/changeset file referenced ONLY by them
    * (files shared with a retained version — possible in formats that
    * re-manifest unchanged files — survive). Returns the deleted file
    * paths. After a vacuum, time travel to a pruned version fails fast at
    * manifest resolution; the latest read is untouched. */
  def vacuum(root: String, keepVersions: Int): Seq[String] = {
    require(keepVersions >= 1, "must retain at least the latest version")
    val latest = latestVersion(root)
    val cutoff = latest - keepVersions // prune versions <= cutoff
    if (cutoff < 1) return Seq.empty
    // only versions whose manifest still exists — a rerun after an earlier
    // vacuum already pruned part of the range must be a no-op for those,
    // not an entries() failure (same `present` discipline as the age sweep)
    // — and TAGGED versions are pinned: a named ref is the durable lease
    // no retention window may break (Iceberg tags behave identically)
    val pinned = tags(root).values.toSet
    val doomed = (1 to cutoff)
      .filter(v => !pinned(v) && Files.exists(manifestPath(root, v)))
    prune(root, doomed,
      retained = ((cutoff + 1) to latest) ++ (1 to cutoff).filter(pinned))
  }

  // ---- named tags -----------------------------------------------------------

  /** Create/replace a named TAG pointing at version `v` — the Iceberg-style
    * immutable snapshot reference (`baseline`, `audit-2026q3`). O(1)
    * metadata (one tiny file under `_tags/`), and both VACUUM sweeps
    * retain tagged versions regardless of their windows, so a tag is the
    * durable pin a reproducible training run or a compliance audit reads
    * through while ordinary history ages out around it. */
  def tagVersion(root: String, name: String, v: Int): Unit = {
    require(name.matches("[A-Za-z0-9._-]+"), s"invalid tag name: $name")
    require(Files.exists(manifestPath(root, v)),
      s"cannot tag missing version $v")
    val dir = Paths.get(root, "_tags")
    Files.createDirectories(dir)
    Files.write(dir.resolve(name),
      v.toString.getBytes(StandardCharsets.UTF_8))
  }

  /** All named tags: tag name → pinned version. O(tags) metadata.
    * A stray or corrupt file under `_tags/` (editor backup, partial write)
    * must not take down every vacuum sweep and tagged read on the table —
    * entries that fail the tag-name grammar or integer parsing are
    * reported loudly and skipped, never thrown from the listing loop. */
  def tags(root: String): Map[String, Int] = {
    val dir = Paths.get(root, "_tags")
    if (!Files.isDirectory(dir)) Map.empty
    else Using.resource(Files.list(dir)) { files =>
      files.iterator().asScala.flatMap { p =>
        val name = p.getFileName.toString
        val parsed = scala.util.Try(
          new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
            .trim.toInt).toOption
        if (!name.matches("[A-Za-z0-9._-]+") || parsed.isEmpty) {
          System.err.println(
            s"graft: skipping malformed tag entry '$name' under $dir")
          None
        } else parsed.map(name -> _)
      }.toMap
    }
  }

  /** Drop a tag — the pinned version becomes vacuum-eligible again. */
  def dropTag(root: String, name: String): Boolean =
    Files.deleteIfExists(Paths.get(root, "_tags", name))

  /** Merged HLL registers for `column` at version `v`: per-bucket MAX over
    * every data file's `H` record — O(files·64) driver metadata, no data
    * pages touched. Merge-independence is the sketch's defining property:
    * the merged registers equal the registers of the whole table computed
    * directly, regardless of how rows were split into files. Throws if
    * the commit did not record NDV sketches for the column. */
  def ndvRegisters(root: String, v: Int, column: String): Seq[Int] = {
    val lines = rawLines(root, v)
    // H records keep the PHYSICAL column name (they describe what is inside
    // the immutable files) — resolve a logical lookup through the rename
    // mapping the same way readVersionRenamed resolves data columns
    val phys = renameMap(root, v).map(_.swap).getOrElse(column, column)
    // staleness gate: delete commits (equality E / positional V) carry H
    // records forward UNCHANGED, so the sketch still counts deleted rows —
    // a silent OVERCOUNT. Same discipline as the completeness gate below:
    // fail loudly and demand a stats refresh on the post-delete snapshot.
    require(!lines.exists(l => l.startsWith("E\t") || l.startsWith("V\t")),
      s"NDV sketch at v$v predates delete records on this version — " +
        "recompute stats (commit with ndvColumns) before reading NDV")
    val recs = lines.filter(_.startsWith("H\t"))
      .map(_.split("\t")).filter(_(2) == phys)
    // completeness gate: a commit that added data files WITHOUT sketches
    // (e.g. a plain append) must fail loudly here — a silent merge over a
    // partial file set UNDERCOUNTS, which is worse than no stat at all
    // (the metaAgg-vs-deletes discipline applied to sketches)
    val covered = recs.map(_(1)).toSet
    val missing = dataEntries(root, v).map(_.path).filterNot(covered)
    require(recs.nonEmpty, s"no NDV sketch recorded for '$column' at v$v")
    require(missing.isEmpty,
      s"NDV sketch for '$column' at v$v misses ${missing.size} data file(s) " +
        "— refresh stats (commit with ndvColumns) before reading NDV")
    val per = recs.map(_(3).split(",").map(_.toInt))
    (0 until 64).map(b => per.map(_(b)).max)
  }

  /** The sketch_hll_distinct estimator on 64 merged registers — the same
    * branch structure (raw harmonic estimate, small-range linear counting
    * under 2.5m with empty buckets) the table_ndv_stats oracle replays,
    * as driver arithmetic. The `ln` branch only engages below 160
    * distincts — callers staging planner fixtures keep NDV above it so
    * both engines stay on the pure-arithmetic branch. */
  def hllEstimate(regs: Seq[Int]): Double = {
    require(regs.length == 64, s"expected 64 registers, got ${regs.length}")
    val empty = regs.count(_ == 0)
    val sScaled = regs.map(m => 1L << (33 - m)).sum
    val raw = 0.709 * 64 * 64 * 8589934592.0 / sScaled.toDouble
    val est =
      if (empty > 0 && raw < 160.0) 64.0 * math.log(64.0 / empty.toDouble)
      else raw
    BigDecimal(est).setScale(6, BigDecimal.RoundingMode.HALF_UP)
      .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  /** Merged fixed-grid histogram for `column` at version `v`: per-cell SUM
    * over every data file's `G` record — O(files·cells) driver metadata,
    * no data pages touched. Exact by construction (cells are a global
    * grid, so the per-file split is invisible to the merged counts).
    * Returns (grid width, cell → row count). Same staleness disciplines
    * as [[ndvRegisters]]: logical names resolve through the rename map,
    * delete commits invalidate the counts loudly, and a data file without
    * a histogram fails the merge rather than silently undercounting. */
  def histogramCells(root: String, v: Int, column: String)
      : (Long, Map[Long, Long]) = {
    val lines = rawLines(root, v)
    val phys = renameMap(root, v).map(_.swap).getOrElse(column, column)
    require(!lines.exists(l => l.startsWith("E\t") || l.startsWith("V\t")),
      s"histogram at v$v predates delete records on this version — " +
        "recompute stats (commit with histColumns) before reading it")
    val recs = lines.filter(_.startsWith("G\t"))
      .map(_.split("\t")).filter(_(2) == phys)
    val covered = recs.map(_(1)).toSet
    val missing = dataEntries(root, v).map(_.path).filterNot(covered)
    require(recs.nonEmpty, s"no histogram recorded for '$column' at v$v")
    require(missing.isEmpty,
      s"histogram for '$column' at v$v misses ${missing.size} data file(s) " +
        "— refresh stats (commit with histColumns) before reading it")
    val widths = recs.map(_(3).toLong).distinct
    require(widths.length == 1,
      s"histogram for '$column' at v$v mixes grid widths $widths")
    val cells = recs.iterator
      .flatMap(r => if (r.length > 4 && r(4).nonEmpty)
        r(4).split(",").iterator.map { kv =>
          val Array(c, n) = kv.split(":"); c.toLong -> n.toLong
        } else Iterator.empty)
      .toSeq.groupMapReduce(_._1)(_._2)(_ + _)
    (widths.head, cells)
  }

  /** Row-count estimate for values in [lo, hi) from a merged fixed-grid
    * histogram: full cells contribute exactly, edge cells pro-rate by
    * overlap under the continuous-uniform-within-cell assumption —
    * cnt·overlap div width, truncating integer arithmetic so both engines
    * state the identical estimate. Exact whenever the probe is
    * cell-aligned (the overlap is then 0 or the full width). */
  def estimateRange(width: Long, cells: Map[Long, Long],
      lo: Long, hi: Long): Long =
    cells.iterator.map { case (cell, cnt) =>
      val cLo = cell * width
      val oLo = math.max(cLo, lo)
      val oHi = math.min(cLo + width, hi)
      if (oHi <= oLo) 0L else cnt * (oHi - oLo) / width
    }.sum

  /** Scan-free planner statistics for a join side (r12 — the CBO move
    * real engines make from their manifests): exact row count from the
    * parquet FOOTER metadata blocks (no data pages are decoded) and the
    * NDV estimate from the manifest's merged `H` registers. O(files)
    * driver work, zero Spark jobs — a broadcast-vs-shuffle decision on a
    * 100 TB table costs a directory's worth of footers, not a scan. */
  def scanFreeStats(root: String, v: Int, column: String): (Long, Double) = {
    val rows = dataEntries(root, v).map(e => footerRowCount(e.path)).sum
    (rows, hllEstimate(ndvRegisters(root, v, column)))
  }

  /** Read the snapshot a named tag pins — time travel by name instead of
    * version number (the interface deployments actually use: nobody
    * remembers that the blessed snapshot was v17). */
  def readTagged(s: SparkSession, root: String, name: String): DataFrame = {
    val v = tags(root).getOrElse(name,
      throw new NoSuchElementException(s"no tag '$name' on $root"))
    readVersion(s, root, v)
  }

  /** Age-based VACUUM (the `RETAIN n HOURS` form): prune every version
    * whose manifest is older than `maxAgeMillis`, ALWAYS retaining the
    * latest regardless of age. A pinned reader of any version inside the
    * window is untouched — retention is the reader-lease contract: hold
    * the window longer than your longest reader. */
  def vacuumOlderThan(root: String, maxAgeMillis: Long): Seq[String] = {
    require(maxAgeMillis >= 0, "retention window must be non-negative")
    val latest = latestVersion(root)
    if (latest == 0) return Seq.empty
    val cut = System.currentTimeMillis() - maxAgeMillis
    val present = (1 to latest)
      .filter(v => Files.exists(manifestPath(root, v)))
    val pinned = tags(root).values.toSet // tags outlive any age window
    val doomed = present.filter(v => v != latest && !pinned(v) &&
      commitTimestampMillis(root, v).getOrElse(
        Files.getLastModifiedTime(manifestPath(root, v)).toMillis) < cut)
    prune(root, doomed, present.filterNot(doomed.contains))
  }

  /** Shared pruning core: delete each doomed version's files not shared
    * with a retained version, drop its manifest, sweep emptied
    * data/changes uuid-dirs. */
  /** ORPHAN cleanup: delete data/changeset files no manifest references —
    * the debris a writer that crashed between its data write and its CAS
    * publish leaves behind (commit() writes data FIRST, so a lost process
    * orphans exactly one uuid directory). Only files older than
    * `graceMillis` go: a LIVE writer mid-commit looks identical to a
    * crashed one, and the grace window (hold it longer than your longest
    * commit) is what tells them apart — the same reader-lease contract as
    * age-based VACUUM. Committed files are never touched: the keep set is
    * the union of EVERY live manifest's records, so cleanup is safe to run
    * concurrently with readers at any version. Returns deleted paths. */
  def cleanOrphans(root: String, graceMillis: Long): Seq[String] = {
    val latest = latestVersion(root)
    val referenced = (1 to latest)
      .filter(v => Files.exists(manifestPath(root, v)))
      .flatMap(v => entries(root, v).map(_.path)).toSet
    val cutoff = System.currentTimeMillis() - graceMillis
    val orphans = Seq("data", "changes", "deletes")
      .map(d => Paths.get(s"$root/$d"))
      .filter(Files.isDirectory(_))
      .flatMap { top =>
        Using.resource(Files.list(top))(_.iterator().asScala.toList)
      }
      .filter(Files.isDirectory(_))
      .flatMap { dir =>
        val files = Using.resource(Files.list(dir))(
          _.iterator().asScala.toList)
        val parquet = files.filter(_.getFileName.toString.endsWith(".parquet"))
        val allOrphaned = parquet.nonEmpty &&
          parquet.forall(p => !referenced.contains(p.toAbsolutePath.toString) &&
            Files.getLastModifiedTime(p).toMillis < cutoff)
        if (allOrphaned) {
          files.foreach(Files.deleteIfExists)
          Files.deleteIfExists(dir)
          parquet.map(_.toAbsolutePath.toString)
        } else Nil
      }
    orphans
  }

  private def prune(root: String, doomed: Seq[Int],
      retained: Seq[Int]): Seq[String] = {
    val keepFiles = retained
      .flatMap(v => entries(root, v).map(_.path)).toSet
    val pruned = doomed.sorted.flatMap { v =>
      val files = entries(root, v).map(_.path).filterNot(keepFiles.contains)
      files.foreach(f => Files.deleteIfExists(Paths.get(f)))
      Files.delete(manifestPath(root, v))
      files
    }
    // sweep the data/<uuid> and changes/<uuid> dirs whose parquet content
    // is now fully pruned: Spark leaves _SUCCESS and .crc sidecars behind,
    // so "no parquet left" — not raw emptiness — is the doomed test. A dir
    // still holding a parquet file (shared with a retained version) keeps
    // its sidecars too; a doomed dir drops sidecars first, then itself,
    // so vacuum leaves no shell dirs.
    pruned.map(f => Paths.get(f).getParent).distinct.foreach { d =>
      if (d != null && Files.isDirectory(d)) {
        val remaining = Using.resource(Files.list(d))(
          _.iterator().asScala.toList)
        if (!remaining.exists(_.getFileName.toString.endsWith(".parquet"))) {
          remaining.foreach(Files.deleteIfExists)
          Files.deleteIfExists(d)
        }
      }
    }
    pruned
  }

  // ---------------------------------------------------------------------------
  // Partition specs + spec EVOLUTION (r11) — the Iceberg partitioning
  // model on this manifest format: a file's partition tuple is a
  // metadata record (`P <path> <srcCol> <transform> <value>`), never a
  // directory-naming convention the reader must re-discover, and the
  // TRANSFORM rides with it, so predicates on the SOURCE column prune
  // files through the transform ("hidden partitioning" — the query never
  // mentions a partition column). Because pruning is per-file metadata,
  // one version can hold files written under DIFFERENT specs — spec
  // evolution is just appending files whose P records carry the new
  // transform; old files keep their old tuples and never rewrite.
  //
  //  - identity(src): the Hive layout — the column is dropped from the
  //    data files (the directory value carries it) and re-attached at
  //    read from the P record; an equality predicate prunes exactly.
  //  - trunc[N](src): value = src div N (Iceberg's truncate/range
  //    transform) — the source column STAYS in the file; a range
  //    predicate [lo, hi] on src prunes to buckets [lo div N, hi div N].

  /** A partition spec: identity when `truncateTo` is None, else the
    * truncate-N transform of an integer source column. */
  final case class PartSpec(srcCol: String, truncateTo: Option[Long] = None) {
    def transformTag: String = truncateTo.map(n => s"trunc:$n").getOrElse("id")
  }

  /** One file's recorded partition value under some spec. */
  final case class PartValue(srcCol: String, transform: String, value: String)

  private def listParquetRecursive(dir: String): Seq[String] =
    Using.resource(Files.walk(Paths.get(dir))) { st =>
      st.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet"))
        .map(_.toAbsolutePath.toString)
        .toSeq.sorted
    }

  /** The `<dir>=<value>` partition segment of a written file's path. */
  private def partValueFromPath(f: String): String = {
    val seg = f.split('/').reverse.drop(1).find(_.contains('='))
      .getOrElse(throw new IllegalStateException(
        s"partitioned write produced no partition segment: $f"))
    java.net.URLDecoder.decode(seg.substring(seg.indexOf('=') + 1), "UTF-8")
  }

  /** Commit `df` under a partition spec. `append = true` carries the
    * previous version's data-side records (D/P/B/E) forward — the
    * spec-evolution append: the new files' P records carry THIS spec's
    * transform while every carried file keeps its own. The recorded
    * schema is `df`'s (the physical `__part` working column for a
    * truncate spec never reaches the manifest). */
  def commitPartitioned(df: DataFrame, root: String, spec: PartSpec,
      append: Boolean): Int = {
    val dataDir = s"$root/data/${java.util.UUID.randomUUID()}"
    val (out, physCol) = spec.truncateTo match {
      case Some(n) =>
        (df.withColumn("__part",
          expr(s"CAST(`${spec.srcCol}` AS BIGINT) div $n")), "__part")
      case None => (df, spec.srcCol)
    }
    out.write.partitionBy(physCol).parquet(dataDir)
    val files = listParquetRecursive(dataDir)
    val newLines = files.flatMap { f =>
      val v = partValueFromPath(f)
      Seq(s"D\t$f", s"P\t$f\t${spec.srcCol}\t${spec.transformTag}\t$v")
    }
    // carry data-side records only: C (changeset) lines belong to the
    // commit that recorded them — readChanges must not re-see them here.
    // Carried lines re-derive on every CAS attempt (a lost publish race
    // means a concurrent commit landed; carrying its pre-race manifest
    // would silently drop that writer's records).
    var v = latestVersion(root) + 1
    def lines() = {
      val carried =
        if (append && latestVersion(root) > 0)
          rawLines(root, latestVersion(root))
            .filterNot(l => l.startsWith("S\t") || l.startsWith("C\t"))
        else Nil
      carried ++ newLines :+ s"S\t${df.schema.json}"
    }
    while (!publish(root, v, lines())) v = latestVersion(root) + 1
    v
  }

  /** Version v's per-file partition records (files without one — e.g.
    * committed pre-evolution by the unpartitioned writer — are absent). */
  def partitionRecords(root: String, v: Int): Map[String, Seq[PartValue]] =
    rawLines(root, v).filter(_.startsWith("P\t"))
      .map(_.split('\t'))
      .collect { case Array("P", path, c, t, value) =>
        path -> PartValue(c, t, value) }
      .groupBy(_._1).map { case (p, xs) => (p, xs.map(_._2)) }

  /** The data files of version v surviving every SOURCE-column predicate
    * through each file's own partition transform — equality predicates
    * prune identity and truncate tuples exactly; range predicates prune
    * truncate tuples to the covered bucket span and identity integer
    * tuples to the range. A file with no tuple for a predicate's column
    * is conservatively kept (the row filter still applies). */
  def prunedFilesPart(root: String, v: Int,
      eqPreds: Seq[(String, String)],
      rangePreds: Seq[(String, Long, Long)]): Seq[String] = {
    val pmap = partitionRecords(root, v)
    def bucketOf(tag: String): Option[Long] =
      if (tag.startsWith("trunc:")) Some(tag.drop(6).toLong) else None
    manifest(root, v).filter { f =>
      val pvs = pmap.getOrElse(f, Nil)
      val eqOk = eqPreds.forall { case (c, want) =>
        pvs.find(_.srcCol == c).forall { pv =>
          bucketOf(pv.transform) match {
            case None => pv.value == want
            case Some(n) =>
              pv.value.toLong == Math.floorDiv(want.toLong, n)
          }
        }
      }
      val rgOk = rangePreds.forall { case (c, lo, hi) =>
        pvs.find(_.srcCol == c).forall { pv =>
          bucketOf(pv.transform) match {
            case None =>
              val x = pv.value.toLong; x >= lo && x <= hi
            case Some(n) =>
              val b = pv.value.toLong
              b >= Math.floorDiv(lo, n) && b <= Math.floorDiv(hi, n)
          }
        }
      }
      eqOk && rgOk
    }
  }

  /** Partition-pruned read across MIXED specs: files prune per their own
    * P records, identity-dropped columns re-attach from their recorded
    * values (cast via the manifest schema), and the row-level filters
    * apply to every surviving row — hidden partitioning must change I/O,
    * never rows.
    *
    * The surviving files group by their identity-attach tuple and each
    * group is one scan relation — after equality pruning that is
    * typically ONE group. An unpruned read of a many-thousand-partition
    * identity layout would plan one scan per group; a production reader
    * hands that case to Spark's own partition discovery (basePath) in a
    * single scan — the manifest records are a superset of what discovery
    * infers, so nothing in the format prevents it. */
  def readVersionPart(s: SparkSession, root: String, v: Int,
      eqPreds: Seq[(String, String)],
      rangePreds: Seq[(String, Long, Long)]): DataFrame = {
    val schema = tableSchema(root, v).getOrElse(throw new IllegalStateException(
      s"partition-aware read needs the manifest schema at $root v$v"))
    val kept0 = prunedFilesPart(root, v, eqPreds, rangePreds)
    val kept = if (kept0.nonEmpty) kept0 else manifest(root, v) // schema carry
    val pmap = partitionRecords(root, v)
    // group by the identity-attach tuple so each group is one scan
    val groups = kept.groupBy { f =>
      pmap.getOrElse(f, Nil).filter(_.transform == "id")
        .map(pv => (pv.srcCol, pv.value)).sortBy(_._1)
    }
    val parts = groups.toSeq.sortBy(_._1.mkString(",")).map { case (attach, fs) =>
      val attached = attach.foldLeft(s.read.parquet(fs: _*)) {
        case (d, (c, value)) => d.withColumn(c, lit(value).cast(schema(c).dataType))
      }
      attached.select(schema.fieldNames.map(col).toSeq: _*)
    }
    val all = parts.reduce(_ unionAll _)
    val eqFiltered = eqPreds.foldLeft(all) { case (d, (c, value)) =>
      d.filter(col(c) === lit(value).cast(schema(c).dataType))
    }
    rangePreds.foldLeft(eqFiltered) { case (d, (c, lo, hi)) =>
      d.filter(col(c).between(lo, hi))
    }
  }
}
