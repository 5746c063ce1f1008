package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The transactional claims the oracle hash can't state: a reader pinned
  * to v1 is unaffected by a concurrent MERGE commit, the manifest rename
  * is the commit point, and compaction changes layout but not content. */
class VersionedTableSpec extends SparkSpec {

  private def freshRoot(): String = {
    val p = Files.createTempDirectory("graft_vt_spec")
    p.toString
  }

  /** Rewrite version v's durable commit instant (the manifest `T`
    * record) — the test analog of a commit published at `millis`. The
    * age-based paths resolve from this record, NOT the file mtime, so
    * faking age means editing the record. */
  private def setCommitInstant(root: String, v: Int, millis: Long): Unit = {
    val p = Paths.get(s"$root/_commits/v$v.manifest")
    val kept = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filterNot(_.startsWith("T\t"))
    Files.write(p, (kept :+ s"T\t$millis").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  private def base() = {
    import spark.implicits._
    (1L to 1000L).map(k => (k, s"s${k % 5}", k * 1.5)).toDF("key", "status", "total")
  }

  test("a v1-pinned reader is snapshot-isolated across a concurrent commit") {
    val root = freshRoot()
    assert(VersionedTable.commit(base(), root) == 1)
    // pin the reader BEFORE the second commit (the plan resolves v1's
    // frozen file list now)
    val pinned = VersionedTable.readVersion(spark, root, 1)
    val before = pinned.agg(count(lit(1)), sum(col("total"))).collect()(0)
    // concurrent writer: MERGE-style rewrite committed as v2
    val merged = base().filter(col("key") % 2 === 0)
      .withColumn("total", col("total") * 2)
    assert(VersionedTable.commit(merged, root) == 2)
    // the pinned reader re-executes and still sees exactly v1
    val after = pinned.agg(count(lit(1)), sum(col("total"))).collect()(0)
    assert(before == after, "v1 reader changed under a concurrent v2 commit")
    assert(pinned.count() == 1000)
    // a FRESH time-travel read of v1 also matches, while latest is v2
    assert(VersionedTable.readVersion(spark, root, 1).count() == 1000)
    assert(VersionedTable.latestVersion(root) == 2)
    assert(VersionedTable.readLatest(spark, root).count() == 500)
  }

  test("manifest lists only complete committed files; versions are immutable") {
    val root = freshRoot()
    VersionedTable.commit(base().repartition(4), root)
    val m1 = VersionedTable.manifest(root, 1)
    assert(m1.size == 4)
    assert(m1.forall(f => Files.exists(Paths.get(f))), "manifest points at missing files")
    VersionedTable.commit(base(), root)
    // v1's manifest is byte-identical after the v2 commit
    assert(VersionedTable.manifest(root, 1) == m1)
  }

  test("compact reduces file count, preserves the exact row set, keeps history") {
    val root = freshRoot()
    VersionedTable.commit(base().repartition(32), root)
    assert(VersionedTable.manifest(root, 1).size == 32)
    val v2 = VersionedTable.compact(spark, root, targetBytes = 64L << 20)
    assert(v2 == 2)
    val filesAfter = VersionedTable.manifest(root, 2).size
    assert(filesAfter < 32, s"compaction did not reduce files: $filesAfter")
    // row-set identity: md5 over every row, order-independent set compare
    def rowHashes(v: Int): Set[String] =
      VersionedTable.readVersion(spark, root, v)
        .select(md5(concat_ws("",
          col("key"), col("status"), col("total"))).as("h"))
        .collect().map(_.getString(0)).toSet
    assert(rowHashes(1) == rowHashes(2), "compaction changed the row set")
    // time travel still resolves the pre-compaction layout
    assert(VersionedTable.manifest(root, 1).size == 32)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 1000)
  }

  test("a lost publish race retries past the winner without touching it") {
    val root = freshRoot()
    VersionedTable.commit(base(), root)
    // simulate a concurrent writer winning version 2: plant its manifest
    // before our commit computes the next version
    val commits = Paths.get(s"$root/_commits")
    val winner = commits.resolve("v2.manifest")
    Files.write(winner, "winner-placeholder".getBytes("UTF-8"))
    val winnerBytes = Files.readAllBytes(winner).toSeq
    // our commit must CAS-fail on v2 and land on v3
    val v = VersionedTable.commit(base().filter(col("key") <= 10), root)
    assert(v == 3, s"loser must retry past the taken version, landed on $v")
    assert(Files.readAllBytes(winner).toSeq == winnerBytes,
      "the winner's manifest was overwritten — publish is not a CAS")
    assert(VersionedTable.readVersion(spark, root, 3).count() == 10)
  }

  test("vacuum prunes old versions' files; latest read unaffected") {
    val root = freshRoot()
    VersionedTable.commit(base().repartition(16), root)
    val v1Files = VersionedTable.manifest(root, 1)
    VersionedTable.compact(spark, root, targetBytes = 64L << 20)
    val deleted = VersionedTable.vacuum(root, keepVersions = 1)
    // v1's files are really gone from disk, and its manifest with them
    assert(deleted.toSet == v1Files.toSet)
    assert(v1Files.forall(f => !Files.exists(Paths.get(f))))
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, 1)
    }
    // the retained latest is intact
    assert(VersionedTable.latestVersion(root) == 2)
    assert(VersionedTable.readLatest(spark, root).count() == 1000)
    // no shell dirs: the pruned commit's data/<uuid> dirs are gone
    // entirely, _SUCCESS/.crc sidecars included (r8 — the sweep previously
    // stopped at "dir not empty" because of exactly those markers)
    val v1Dirs = v1Files.map(f => Paths.get(f).getParent).distinct
    assert(v1Dirs.forall(d => !Files.exists(d)),
      s"vacuum left shell dirs: ${v1Dirs.filter(Files.exists(_)).take(2)}")
    // rerunning the same vacuum after MORE commits must be idempotent,
    // not an entries() failure on the already-pruned v1 (r8)
    VersionedTable.commit(base().filter(col("key") <= 10), root) // v3
    val again = VersionedTable.vacuum(root, keepVersions = 1)
    assert(VersionedTable.latestVersion(root) == 3)
    assert(VersionedTable.readLatest(spark, root).count() == 10)
    assert(again.nonEmpty, "second vacuum should prune v2's files")
  }

  test("log-path CDF reads ONLY changeset files; equals the snapshot diff (r7)") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.commit(base(), root)
    // v2: drop odd keys, double even totals, insert 10 new keys — and
    // record the matching row-level change feed at commit time
    val merged = base().filter(col("key") % 2 === 0)
      .withColumn("total", col("total") * 2)
      .unionAll((2000L to 2009L).map(k => (k, "new", 1.0))
        .toDF("key", "status", "total"))
    val feed = base().filter(col("key") % 2 === 1)
      .select(col("key"), col("status"), col("total"), lit("delete").as("change"))
      .unionAll((2000L to 2009L).map(k => (k, "new", 1.0))
        .toDF("key", "status", "total").withColumn("change", lit("insert")))
      .unionAll(base().filter(col("key") % 2 === 0)
        .select(col("key"), col("status"), col("total"),
          lit("update_pre").as("change")))
      .unionAll(base().filter(col("key") % 2 === 0)
        .select(col("key"), col("status"), (col("total") * 2).as("total"),
          lit("update_post").as("change")))
    VersionedTable.commit(merged, root, changes = Some(feed),
      statsColumns = Nil)
    // the log path resolves: every input file is a changes/ file — the
    // feed costs a metadata lookup + small-file scan, NOT a version diff
    val logRead = VersionedTable.readChanges(spark, root, 1, 2)
    assert(logRead.isDefined, "commit recorded changes but log path is empty")
    val inputs = logRead.get.inputFiles
    assert(inputs.nonEmpty && inputs.forall(_.contains("/changes/")),
      s"log-path read touched non-changeset files: " +
        s"${inputs.filterNot(_.contains("/changes/")).take(3).mkString(",")}")
    // and it is the SAME relation the generic snapshot diff computes
    def rows(df: org.apache.spark.sql.DataFrame) = df
      .select(col("key"), col("status"), col("total"), col("change"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2),
        r.getString(3))).toSet
    assert(rows(logRead.get) == rows(TableQueries.snapshotDiff(spark, root, 1, 2)),
      "log-carried feed diverges from the snapshot diff")
    // a log-less commit range falls back: v1 recorded no changes
    assert(VersionedTable.readChanges(spark, root, 0, 1).isEmpty
      || VersionedTable.changeFiles(root, 1).nonEmpty)
  }

  test("incremental MV refresh == full recompute; reads ONLY the change " +
      "feed (r11)") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.commit(base(), root)
    // v2: drop odd keys, double even totals, insert 10 rows in a NEW
    // group — deletes shrink groups, updates keep their group, inserts
    // create one (the group-migration edge rides the status column)
    val merged = base().filter(col("key") % 2 === 0)
      .withColumn("total", col("total") * 2)
      .unionAll((2000L to 2009L).map(k => (k, "new", 1.0))
        .toDF("key", "status", "total"))
    val feed = base().filter(col("key") % 2 === 1)
      .select(col("key"), col("status"), col("total"), lit("delete").as("change"))
      .unionAll((2000L to 2009L).map(k => (k, "new", 1.0))
        .toDF("key", "status", "total").withColumn("change", lit("insert")))
      .unionAll(base().filter(col("key") % 2 === 0)
        .select(col("key"), col("status"), col("total"),
          lit("update_pre").as("change")))
      .unionAll(base().filter(col("key") % 2 === 0)
        .select(col("key"), col("status"), (col("total") * 2).as("total"),
          lit("update_post").as("change")))
    VersionedTable.commit(merged, root, changes = Some(feed),
      statsColumns = Nil)
    // stored MV state at v1 (an in-memory relation standing in for the
    // MV's own table — the refresh must not rebuild it from v1's data)
    val mv1 = base().groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("total").cast("decimal(18,4)")).as("rev"))
    val refreshed = TableQueries.mvRefresh(spark, root, mv1, 1, 2)
    // the delta path opens changeset files ONLY — neither version's data
    val inputs = refreshed.inputFiles
    assert(inputs.nonEmpty && inputs.forall(_.contains("/changes/")),
      s"MV refresh touched non-changeset files: " +
        s"${inputs.filterNot(_.contains("/changes/")).take(3).mkString(",")}")
    // indistinguishable from the full recompute of v2
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val full = VersionedTable.readVersion(spark, root, 2)
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n_orders"),
        round(sum(col("total").cast("decimal(18,4)")), 2).cast("double")
          .as("revenue"))
    assert(rows(refreshed) == rows(full),
      "incremental refresh diverges from full recompute")
    // the new group appeared through pure +deltas
    assert(rows(refreshed).exists(_._1 == "new"))
  }

  test("deletion vectors: positional delete rewrites nothing, composes " +
      "with equality deletes (r11)") {
    val root = freshRoot()
    VersionedTable.commit(base().repartition(4), root) // v1
    val v2 = VersionedTable.commitDeleteVectors(spark, root, "key % 3 = 0")
    // no rewrite: v2's data file list IS v1's
    assert(VersionedTable.manifest(root, v2) == VersionedTable.manifest(root, 1),
      "DV commit must not touch data files")
    // the DV stores positions, not keys: (file, pos) schema, one row per
    // deleted row
    val dv = spark.read.parquet(VersionedTable.dvFiles(root, v2): _*)
    assert(dv.columns.toSeq == Seq("__file", "__pos"))
    assert(dv.count() == base().filter(col("key") % 3 === 0).count())
    // v2 read == the predicate's complement; v1 still serves every row
    assert(VersionedTable.readVersion(spark, root, v2).count() ==
      base().filter(col("key") % 3 =!= 0).count())
    assert(VersionedTable.readVersion(spark, root, 1).count() == base().count())
    // an equality delete on TOP of the DV composes: v3 removes key%5 by
    // value, read subtracts both
    val v3 = VersionedTable.commitDeletes(
      base().filter(col("key") % 5 === 0).select(col("key")), root, "key")
    val got = VersionedTable.readVersion(spark, root, v3)
      .collect().map(_.getLong(0)).toSet
    val want = (1L to 1000L).filter(k => k % 3 != 0 && k % 5 != 0).toSet
    assert(got == want, "stacked DV + equality delete diverged")
    // OPTIMIZE materializes the deletes: compact reads the logical view
    // (DVs + equality records subtracted) and commits a fresh manifest,
    // so the rewritten version carries no delete metadata at all and
    // serves the same rows — the DV-debt cleanup a table runs when the
    // deleted fraction grows past the read-amplification threshold
    val v4 = VersionedTable.compact(spark, root, targetBytes = 8L << 20)
    assert(VersionedTable.dvFiles(root, v4).isEmpty &&
      VersionedTable.deleteFiles(root, v4).isEmpty,
      "compaction must materialize deletes, not carry them")
    assert(VersionedTable.readVersion(spark, root, v4)
      .collect().map(_.getLong(0)).toSet == want,
      "compaction changed the logical rows")
  }

  test("column rename is pure metadata: chained renames stay one hop, " +
      "history keeps old names (r11)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root) // (key, status, total)
    val v2 = VersionedTable.commitRename(root, Map("total" -> "amount"))
    val v3 = VersionedTable.commitRename(root, Map("amount" -> "amt"))
    // zero rewrite across both renames
    assert(VersionedTable.manifest(root, v3) == VersionedTable.manifest(root, 1),
      "rename touched data files")
    // the chained mapping is ONE hop from the physical name
    assert(VersionedTable.renameMap(root, v3) == Map("total" -> "amt"))
    assert(VersionedTable.renameMap(root, v2) == Map("total" -> "amount"))
    // reads resolve each version's own logical schema
    assert(VersionedTable.readVersionRenamed(spark, root, v3).columns.toSeq
      == Seq("key", "status", "amt"))
    assert(VersionedTable.readVersionRenamed(spark, root, v2).columns.toSeq
      == Seq("key", "status", "amount"))
    assert(VersionedTable.readVersion(spark, root, 1).columns.toSeq
      == Seq("key", "status", "total"))
    // values ride along untouched
    val sum3 = VersionedTable.readVersionRenamed(spark, root, v3)
      .agg(sum(col("amt"))).collect()(0).getDouble(0)
    val sum1 = base().agg(sum(col("total"))).collect()(0).getDouble(0)
    assert(sum3 == sum1, "rename changed data")
    // renaming a column that never existed fails loudly
    intercept[IllegalArgumentException] {
      VersionedTable.commitRename(root, Map("nope" -> "x"))
    }
  }

  test("partition-spec evolution: mixed specs prune per-file through " +
      "their own transforms; rows unchanged (r11)") {
    val root = freshRoot()
    // v1: Hive-style identity(status) over odd keys — status lives in the
    // directory value, NOT in the data files
    VersionedTable.commitPartitioned(base().filter(col("key") % 2 === 1),
      root, VersionedTable.PartSpec("status"), append = false)
    // v2: spec evolves — even keys append under trunc[256](key), a hidden
    // range transform; v1's files carry over untouched
    VersionedTable.commitPartitioned(base().filter(col("key") % 2 === 0),
      root, VersionedTable.PartSpec("key", Some(256L)), append = true)
    assert(VersionedTable.manifest(root, 2).toSet
      .intersect(VersionedTable.manifest(root, 1).toSet)
      == VersionedTable.manifest(root, 1).toSet,
      "append must carry v1's files forward without rewrite")
    val pvs = VersionedTable.partitionRecords(root, 2).values.flatten.toSeq
    assert(pvs.exists(_.transform == "id") &&
      pvs.exists(_.transform == "trunc:256"),
      "one version must hold files under BOTH specs")
    // the mixed-spec read: status eq + key range, predicates on SOURCE
    // columns only
    val got = VersionedTable.readVersionPart(spark, root, 2,
      eqPreds = Seq(("status", "s2")),
      rangePreds = Seq(("key", 100L, 400L)))
    // pruning: strictly fewer files opened than the manifest lists, every
    // identity file opened is the s2 group, every truncate file opened is
    // a covered bucket (100/256=0 .. 400/256=1)
    val opened = got.inputFiles.map(f => new java.net.URI(f).getPath).toSet
    val all = VersionedTable.manifest(root, 2)
    assert(opened.size < all.size,
      s"no partition pruning: opened ${opened.size} of ${all.size}")
    val pmap = VersionedTable.partitionRecords(root, 2)
    opened.foreach { f =>
      pmap.get(f).foreach(_.foreach { pv =>
        if (pv.transform == "id") assert(pv.value == "s2",
          s"opened identity file of group ${pv.value}: $f")
        else assert(pv.value.toLong >= 0L && pv.value.toLong <= 1L,
          s"opened truncate bucket ${pv.value} outside [0,1]: $f")
      })
    }
    // rows: identical to the plain filter over the full relation
    val want = base().filter(col("status") === "s2" &&
      col("key").between(100L, 400L))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val rows = got.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(rows == want, "hidden partitioning changed the answer")
  }

  test("footer-stats skipping prunes files before the scan (r7)") {
    val root = freshRoot()
    VersionedTable.commit(base().repartitionByRange(8, col("key")), root,
      changes = None, statsColumns = Seq("key"))
    val all = VersionedTable.manifest(root, 1)
    assert(all.size == 8)
    // every file carries stats (key is non-null everywhere)
    assert(VersionedTable.entries(root, 1).forall(_.stats.nonEmpty))
    // a narrow range survives in a strict subset of the files
    val pruned = VersionedTable.prunedFiles(root, 1, "key", 100L, 150L)
    assert(pruned.size < all.size,
      s"no files pruned: ${pruned.size} of ${all.size}")
    // pruned + row filter ≡ full + row filter
    val got = VersionedTable.readVersionWhere(spark, root, 1, "key", 100L, 150L)
    assert(got.count() == 51)
    val opened = got.inputFiles.map(f => new java.net.URI(f).getPath).toSet
    assert(opened.subsetOf(pruned.toSet),
      s"the scan opened a file the stats said to skip: ${(opened -- pruned).take(2)}")
    // an unstatted column never prunes (conservative keep)
    assert(VersionedTable.prunedFiles(root, 1, "absent", 0L, 1L).size == 8)
  }

  test("a stats-less file is never pruned: absent footer stats mean keep, not skip (r9)") {
    // hasNonNullValue=false can mean "stats not written", not only
    // "all null" — a writer that omits column statistics is legal parquet.
    // footerMinMax must record NO stats for such a file (all-or-nothing),
    // so readVersionWhere conservatively keeps it instead of wrongly
    // pruning rows that are actually in range. Stage the writer: Spark's
    // parquet sink honors parquet.column.statistics.enabled from the
    // session hadoop conf.
    val root = freshRoot()
    val hc = spark.sparkContext.hadoopConfiguration
    val key = "parquet.column.statistics.enabled"
    hc.set(key, "false")
    try VersionedTable.commit(base().repartitionByRange(8, col("key")), root,
      changes = None, statsColumns = Seq("key"))
    finally hc.unset(key)
    // the manifest recorded no stats for any file (not an under-covering
    // range from whatever subset happened to be statted)
    assert(VersionedTable.entries(root, 1).forall(_.stats.isEmpty))
    // so no file is pruned, and the filtered read still sees every row
    assert(VersionedTable.prunedFiles(root, 1, "key", 100L, 150L).size == 8)
    assert(VersionedTable.readVersionWhere(spark, root, 1, "key", 100L, 150L)
      .count() == 51)
  }

  test("age-based vacuum prunes outside the window; pinned readers inside survive (r7)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root) // v1
    VersionedTable.commit(base().filter(col("key") <= 500), root) // v2
    VersionedTable.commit(base().filter(col("key") <= 100), root) // v3
    // age only v1 beyond the 1h window (via the durable T record — the
    // clock vacuum actually reads; mtime is only the legacy fallback)
    setCommitInstant(root, 1, System.currentTimeMillis() - 86_400_000L)
    val deleted = VersionedTable.vacuumOlderThan(root, maxAgeMillis = 3_600_000L)
    assert(deleted.nonEmpty)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, 1)
    }
    // v2 sits INSIDE the window: a pinned reader of it still works
    assert(VersionedTable.readVersion(spark, root, 2).count() == 500)
    assert(VersionedTable.readLatest(spark, root).count() == 100)
    // the LATEST is never pruned, however old its manifest is
    setCommitInstant(root, 3, System.currentTimeMillis() - 86_400_000L)
    setCommitInstant(root, 2, System.currentTimeMillis() - 86_400_000L)
    VersionedTable.vacuumOlderThan(root, maxAgeMillis = 3_600_000L)
    assert(VersionedTable.latestVersion(root) == 3)
    assert(VersionedTable.readLatest(spark, root).count() == 100)
  }

  test("clustered compaction tightens stats: pruning strictly improves; compound predicates compound (r8)") {
    val root = freshRoot()
    // grp correlates with key (grp = key/100), so clustering on key also
    // clusters grp — the compound-predicate case multi-column stats serve
    val wide = base().withColumn("grp", (col("key") / 100).cast("long"))
    // v1: round-robin arrival order — every file spans the whole domain
    VersionedTable.commit(wide.repartition(8), root,
      changes = None, statsColumns = Seq("key", "grp"))
    val preds = Seq(("key", 100L, 200L))
    val before = VersionedTable.prunedFiles(root, 1, preds)
    assert(before.size == 8,
      s"round-robin layout should defeat skipping, pruned to ${before.size}")
    // OPTIMIZE with clustering: same rows, tight per-file ranges
    val total = VersionedTable.manifest(root, 1)
      .map(f => Files.size(Paths.get(f))).sum
    val v2 = VersionedTable.compactClustered(spark, root,
      targetBytes = total / 4, clusterColumn = "key",
      statsColumns = Seq("key", "grp"))
    val allAfter = VersionedTable.manifest(root, v2)
    assert(allAfter.size >= 3, s"want a multi-file clustered layout, got ${allAfter.size}")
    val after = VersionedTable.prunedFiles(root, v2, preds)
    assert(after.size < allAfter.size && after.size < before.size,
      s"clustered rewrite must strictly improve pruning: " +
        s"${before.size} -> ${after.size} of ${allAfter.size}")
    // pruned + filters ≡ full + filters (and the scan opens only survivors)
    val got = VersionedTable.readVersionWhere(spark, root, v2, preds)
    assert(got.count() == 101)
    val opened = got.inputFiles.map(f => new java.net.URI(f).getPath).toSet
    assert(opened.subsetOf(after.toSet))
    // a second (correlated) predicate can only prune FURTHER
    val compound = VersionedTable.prunedFiles(root, v2,
      preds :+ (("grp", 1L, 1L)))
    assert(compound.toSet.subsetOf(after.toSet))
    assert(VersionedTable.readVersionWhere(spark, root, v2,
      preds :+ (("grp", 1L, 1L))).count() == 100) // keys 100..199
  }

  test("z-order compaction prunes on BOTH dimensions where 1-D clustering prunes one (r8)") {
    // k2 decorrelates from key (multiplier coprime to the modulus), so a
    // key-clustered layout leaves every file spanning the whole k2 domain
    // — the case 1-D clustering cannot serve and Z-ordering exists for
    val wide = base().withColumn("k2", (col("key") * 7919L) % 1000L)
    val rootA = freshRoot(); val rootB = freshRoot()
    Seq(rootA, rootB).foreach { r =>
      VersionedTable.commit(wide.repartition(8), r,
        changes = None, statsColumns = Seq("key", "k2"))
    }
    val total = VersionedTable.manifest(rootA, 1)
      .map(f => Files.size(Paths.get(f))).sum
    val vA = VersionedTable.compactClustered(spark, rootA, total / 8,
      clusterColumn = "key", statsColumns = Seq("key", "k2"))
    val vB = VersionedTable.compactZorder(spark, rootB, total / 8,
      colA = "key", colB = "k2", statsColumns = Seq("key", "k2"))
    val nA = VersionedTable.manifest(rootA, vA).size
    val nB = VersionedTable.manifest(rootB, vB).size
    assert(nA >= 4 && nB >= 4, s"want multi-file layouts, got $nA / $nB")
    val k2Pred = Seq(("k2", 0L, 100L))
    val keyPred = Seq(("key", 100L, 200L))
    val k2AfterCluster = VersionedTable.prunedFiles(rootA, vA, k2Pred)
    val k2AfterZorder = VersionedTable.prunedFiles(rootB, vB, k2Pred)
    assert(k2AfterCluster.size == nA,
      s"independent second column should defeat 1-D clustering, pruned to ${k2AfterCluster.size}/$nA")
    assert(k2AfterZorder.size < nB && k2AfterZorder.size < k2AfterCluster.size,
      s"z-order must prune the second dimension: $nB files, ${k2AfterZorder.size} survive " +
        s"(vs ${k2AfterCluster.size} under key-clustering)")
    val keyAfterZorder = VersionedTable.prunedFiles(rootB, vB, keyPred)
    assert(keyAfterZorder.size < nB,
      s"z-order must still prune the first dimension: ${keyAfterZorder.size}/$nB")
    // compound predicates intersect the survivor sets
    val comp = VersionedTable.prunedFiles(rootB, vB, keyPred ++ k2Pred)
    assert(comp.toSet.subsetOf(
      keyAfterZorder.toSet.intersect(k2AfterZorder.toSet)))
    // identity: the rewrite changes layout, never content
    val got = VersionedTable.readVersion(spark, rootB, vB)
      .orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    val want = wide.orderBy("key").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2), r.getLong(3)))
    assert(got.sameElements(want))
  }

  test("orphan cleanup deletes only unreferenced, out-of-grace files; idempotent (r8)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root) // v1
    val orphan = s"$root/data/crashed-test"
    base().limit(5).coalesce(1).write.parquet(orphan)
    // inside the grace window = maybe a LIVE writer mid-commit: untouched
    assert(VersionedTable.cleanOrphans(root, graceMillis = 3_600_000L).isEmpty)
    assert(Files.isDirectory(Paths.get(orphan)), "in-grace orphan must survive")
    // age it out; the sweep takes the dir, committed files stay
    val old = java.nio.file.attribute.FileTime
      .fromMillis(System.currentTimeMillis() - 86_400_000L)
    scala.util.Using.resource(Files.list(Paths.get(orphan))) { st =>
      st.forEach(p => Files.setLastModifiedTime(p, old))
    }
    val deleted = VersionedTable.cleanOrphans(root, graceMillis = 3_600_000L)
    assert(deleted.nonEmpty && !Files.exists(Paths.get(orphan)),
      s"aged orphan dir must be swept, deleted=$deleted")
    assert(deleted.forall(_.contains("crashed-test")),
      "only the orphaned directory's files may be deleted")
    assert(VersionedTable.readLatest(spark, root).count() == 1000,
      "committed data untouched")
    assert(VersionedTable.cleanOrphans(root, graceMillis = 3_600_000L).isEmpty,
      "rerun must be a no-op")
  }

  test("restore republishes an old version by metadata alone; history and vacuum compose (r8)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root) // v1: 1000 rows
    VersionedTable.commit( // v2: the bad rewrite
      VersionedTable.readVersion(spark, root, 1).filter(col("key") > 500), root)
    def dataDirs() =
      scala.util.Using.resource(Files.list(Paths.get(s"$root/data"))) { st =>
        st.toArray.map(_.toString).toSet
      }
    val before = dataDirs()
    val v3 = VersionedTable.restore(root, 1)
    assert(v3 == 3 && dataDirs() == before,
      "restore must write no data directories — manifest copy only")
    assert(VersionedTable.manifest(root, 3) == VersionedTable.manifest(root, 1),
      "the restored version must list exactly v1's files")
    assert(VersionedTable.readLatest(spark, root).count() == 1000)
    assert(VersionedTable.readVersion(spark, root, 2).count() == 500,
      "the undone version stays time-travelable until vacuumed")
    // vacuum to only the restored version: files it shares with v1 must
    // survive the sweep (v2's exclusive files go)
    VersionedTable.vacuum(root, keepVersions = 1)
    assert(VersionedTable.readLatest(spark, root).count() == 1000)
    intercept[IllegalArgumentException] {
      VersionedTable.readVersion(spark, root, 2).count()
    }
  }

  test("metadata aggregates equal the scan and stay version-pinned (r8)") {
    val root = freshRoot()
    VersionedTable.commit(base().repartition(8), root,
      changes = None, statsColumns = Seq("key"))
    def real(v: Int) = {
      val r = VersionedTable.readVersion(spark, root, v)
        .agg(count(lit(1)), min(col("key")), max(col("key"))).head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    def meta(v: Int) = {
      val r = VersionedTable.metaAgg(spark, root, v, "key").head()
      (r.getLong(0), r.getLong(1), r.getLong(2))
    }
    assert(meta(1) == real(1) && meta(1) == ((1000L, 1L, 1000L)))
    // v2 deletes a key range WITHOUT stats — the fallback path reads the
    // new files' footers; v1's metadata answer must not move
    VersionedTable.commit(
      VersionedTable.readVersion(spark, root, 1)
        .filter(col("key") > 100), root)
    assert(meta(2) == real(2) && meta(2)._2 == 101L)
    assert(meta(1) == ((1000L, 1L, 1000L)), "v1 metadata aggregate moved")
  }

  test("bloom point lookups open a strict file subset with no false negatives (r8)") {
    val root = freshRoot()
    VersionedTable.commit(base().repartition(8), root,
      changes = None, statsColumns = Nil, bloomColumns = Seq("key"))
    val all = VersionedTable.manifest(root, 1)
    assert(all.size == 8)
    assert(VersionedTable.blooms(root, 1, "key").keySet == all.toSet,
      "every data file must carry a bloom for the indexed column")
    // which file actually holds each key (ground truth via one full scan)
    val holder = VersionedTable.readVersion(spark, root, 1)
      .select(col("key"), input_file_name().as("f"))
      .collect().map(r => r.getLong(0) -> new java.net.URI(r.getString(1)).getPath)
      .toMap
    var prunedTotal = 0
    (1L to 1000L by 53L).foreach { k =>
      val survivors = VersionedTable.prunedFilesPoint(root, 1, "key", k)
      assert(survivors.contains(holder(k)),
        s"bloom pruning dropped the file that holds key $k — false negative")
      prunedTotal += all.size - survivors.size
      val got = VersionedTable.readVersionPoint(spark, root, 1, "key", k)
      assert(got.count() == 1 && got.head().getAs[Long]("key") == k)
      val opened = got.inputFiles.map(f => new java.net.URI(f).getPath).toSet
      assert(opened.subsetOf(survivors.toSet),
        "the scan must open only bloom-surviving files")
    }
    assert(prunedTotal > 0,
      "blooms must prune SOME files across the probed keys (1% fpp, 8 files)")
    // a key that exists nowhere: blooms may prune everything; zero rows
    assert(VersionedTable.readVersionPoint(spark, root, 1, "key", 5000L)
      .count() == 0)
  }

  test("schema evolution: time travel across the boundary null-fills added columns (r8)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root) // v1: (key, status, total)
    VersionedTable.commit( // v2: widened schema
      base().withColumn("tier", when(col("key") <= 500, "a").otherwise("b")),
      root)
    // the manifest records both schemas — evolution lives in the log
    assert(VersionedTable.tableSchema(root, 1).get.fieldNames.toSeq ==
      Seq("key", "status", "total"))
    assert(VersionedTable.tableSchema(root, 2).get.fieldNames.toSeq ==
      Seq("key", "status", "total", "tier"))
    // plain time travel serves v1 under ITS OWN frozen schema
    assert(VersionedTable.readVersion(spark, root, 1).columns.toSeq ==
      Seq("key", "status", "total"))
    // the evolved read serves v1 under the CURRENT schema: the added
    // column exists and null-fills on every pre-evolution row
    val evolved = VersionedTable.readVersionEvolved(spark, root, 1)
    assert(evolved.columns.toSeq == Seq("key", "status", "total", "tier"))
    assert(evolved.count() == 1000)
    assert(evolved.filter(col("tier").isNotNull).count() == 0,
      "pre-evolution rows must null-fill the added column")
    // v1's original columns keep their values under the evolved read
    assert(evolved.agg(sum(col("key"))).collect()(0).getLong(0) ==
      (1L to 1000L).sum)
    // and the evolved read of the CURRENT version is just the plain read
    val cur = VersionedTable.readVersionEvolved(spark, root, 2)
    assert(cur.filter(col("tier").isNull).count() == 0)
  }

  test("two real writer threads racing commit(): no lost or duplicated versions (r7)") {
    import spark.implicits._
    val root = freshRoot()
    val perThread = 8
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = (1 to 2).map { tid =>
      new Thread(() => {
        try {
          (1 to perThread).foreach { i =>
            VersionedTable.commit(
              Seq(tid * 100L + i).toDF("payload"), root)
          }
        } catch { case t: Throwable => failures.add(t) }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    assert(failures.isEmpty, s"writer thread failed: ${failures.peek()}")
    // every commit landed on its own version — none lost, none merged
    assert(VersionedTable.latestVersion(root) == 2 * perThread)
    val payloads = (1 to 2 * perThread).map { v =>
      val rows = VersionedTable.readVersion(spark, root, v).collect()
      assert(rows.length == 1, s"version $v has ${rows.length} rows")
      rows(0).getLong(0)
    }
    val expected = (for (t <- 1 to 2; i <- 1 to perThread)
      yield t * 100L + i).toSet
    assert(payloads.toSet == expected,
      s"missing commits: ${(expected -- payloads.toSet).take(5)}")
    assert(payloads.distinct.size == payloads.size, "a commit published twice")
    // no orphaned CAS temp files survive the race
    val leftovers = {
      import scala.jdk.CollectionConverters._
      val st = Files.list(Paths.get(s"$root/_commits"))
      try st.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith(".tmp-")).toList
      finally st.close()
    }
    assert(leftovers.isEmpty, s"orphaned publish temps: $leftovers")
  }

  test("shallow clone forks by metadata; clone and source evolve independently (r9)") {
    val src = freshRoot()
    val dst = freshRoot()
    VersionedTable.commit(base(), src, changes = None,
      statsColumns = Seq("key"))
    val v = VersionedTable.shallowClone(src, 1, dst)
    assert(v == 1)
    // zero data copied: the clone's manifest lists the SOURCE's files,
    // path-identically, stats and all
    assert(VersionedTable.manifest(dst, 1) == VersionedTable.manifest(src, 1))
    assert(VersionedTable.entries(dst, 1).map(_.stats) ==
      VersionedTable.entries(src, 1).map(_.stats))
    // clone writes never touch the source...
    VersionedTable.commit(base().filter(col("key") <= 10), dst)
    assert(VersionedTable.latestVersion(src) == 1)
    assert(VersionedTable.readLatest(spark, src).count() == 1000)
    assert(VersionedTable.readLatest(spark, dst).count() == 10)
    // ...and source commits never touch the clone's pinned v1
    VersionedTable.commit(base().filter(col("key") <= 5), src)
    assert(VersionedTable.readVersion(spark, dst, 1).count() == 1000)
    // cloning onto a non-empty table refuses
    intercept[IllegalArgumentException] {
      VersionedTable.shallowClone(src, 1, dst)
    }
  }

  test("replaceWhere carries disjoint files verbatim, rewrites only straddlers (r9)") {
    val root = freshRoot()
    // range-clustered v1: 10 files, each owning ~100 consecutive keys
    VersionedTable.commit(base().repartitionByRange(10, col("key")), root,
      changes = None, statsColumns = Seq("key"))
    val m1 = VersionedTable.manifest(root, 1)
    assert(m1.size == 10)
    val reload = base().filter(col("key").between(301, 500))
      .withColumn("status", org.apache.spark.sql.functions.lit("reloaded"))
    val v2 = VersionedTable.commitReplaceWhere(spark, reload, root,
      "key", 301L, 500L, statsColumns = Seq("key"))
    assert(v2 == 2)
    // every v1 file disjoint from [301,500] carries over path-identically
    val m2 = VersionedTable.manifest(root, 2).toSet
    val disjoint = VersionedTable.entries(root, 1)
      .filter(e => e.stats.exists(fs =>
        fs.column == "key" && (fs.max < 301 || fs.min > 500)))
    assert(disjoint.nonEmpty, "range clustering produced no disjoint files")
    assert(disjoint.forall(e => m2.contains(e.path)),
      "a provably-disjoint file was rewritten")
    // the replaced range shows the reload; everything else is untouched
    val rows = VersionedTable.readVersion(spark, root, 2).collect()
    assert(rows.length == 1000)
    assert(rows.filter(r => (301L to 500L).contains(r.getAs[Long]("key")))
      .forall(_.getAs[String]("status") == "reloaded"))
    assert(rows.filter(r => !(301L to 500L).contains(r.getAs[Long]("key")))
      .forall(_.getAs[String]("status") != "reloaded"))
    // v1 time travel still serves the pre-reload table
    assert(VersionedTable.readVersion(spark, root, 1)
      .filter(col("status") === "reloaded").isEmpty)
  }

  test("merge-on-read DELETE: no data rewrite, reads subtract, compact folds (r9)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root) // v1
    val v2 = VersionedTable.commitDeletes(
      base().filter(col("key") % 7 === 0).select(col("key")), root, "key")
    assert(v2 == 2)
    // the delete commit is metadata + the key file — v2 lists EXACTLY
    // v1's data files (nothing rewritten), plus an E record
    assert(VersionedTable.manifest(root, 2) == VersionedTable.manifest(root, 1),
      "merge-on-read delete rewrote data files")
    assert(VersionedTable.deleteFiles(root, 2).keySet == Set("key"))
    assert(VersionedTable.deleteFiles(root, 1).isEmpty)
    // v2 reads subtract the deleted keys; v1 still serves every row
    val v2Keys = VersionedTable.readVersion(spark, root, 2)
      .select(col("key")).collect().map(_.getLong(0)).toSet
    assert(v2Keys == (1L to 1000L).filterNot(_ % 7 == 0).toSet)
    assert(VersionedTable.readVersion(spark, root, 1).count() == 1000)
    // the filtered and point read surfaces apply the deletes too
    assert(VersionedTable.readVersionWhere(spark, root, 2, "key", 1, 20)
      .collect().map(_.getAs[Long]("key")).toSet ==
      (1L to 20L).filterNot(_ % 7 == 0).toSet)
    assert(VersionedTable.readVersionPoint(spark, root, 2, "key", 14).isEmpty,
      "point read served a deleted key")
    // metadata-only aggregates must refuse to answer over a MOR version
    // (footer counts include the subtracted rows)
    intercept[IllegalArgumentException] {
      VersionedTable.metaAgg(spark, root, 2, "key")
    }
    // compact reads the resolved view and commits a delete-FREE snapshot
    val v3 = VersionedTable.compact(spark, root, 1L << 20)
    assert(VersionedTable.deleteFiles(root, v3).isEmpty,
      "compaction carried delete records into the rewritten snapshot")
    assert(VersionedTable.readVersion(spark, root, v3).count() ==
      (1L to 1000L).count(_ % 7 != 0))
  }

  test("constraint rejection is atomic: no version, no files, SQL NULL semantics (r9)") {
    import spark.implicits._
    val root = freshRoot()
    val constraints = Seq("total >= 0", "status IS NOT NULL")
    assert(VersionedTable.commitChecked(base(), root, constraints) == Right(1))
    // a corrupted batch: one negative total
    val bad = base().withColumn("total",
      when(col("key") === 500L, lit(-1.0)).otherwise(col("total")))
    val rej = VersionedTable.commitChecked(bad, root, constraints)
    assert(rej == Left(Map("total >= 0" -> 1L)),
      s"expected exactly the one violation: $rej")
    // atomicity: still v1, and no orphan data landed under data/
    assert(VersionedTable.latestVersion(root) == 1)
    val dataFiles = {
      val d = Paths.get(root, "data")
      if (Files.exists(d))
        Files.walk(d).filter(p => p.toString.endsWith(".parquet")).count()
      else 0L
    }
    val v1Files = VersionedTable.entries(root, 1).count(_.change == false)
    assert(dataFiles == v1Files,
      s"rejected commit staged files: $dataFiles on disk vs $v1Files in v1")
    // SQL CHECK semantics: NULL passes a plain predicate (total >= 0 over
    // a NULL total is not a violation) but IS NOT NULL rejects it
    val withNull = base().withColumn("total",
      when(col("key") === 1L, lit(null).cast("double")).otherwise(col("total")))
    assert(VersionedTable.commitChecked(withNull, root,
      Seq("total >= 0")).isRight, "NULL must pass a plain CHECK (SQL standard)")
    assert(VersionedTable.commitChecked(withNull, root,
      Seq("total IS NOT NULL")).isLeft, "explicit NOT NULL must reject")
  }

  test("commitTransform rebases on conflict instead of publishing stale state (r9)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root) // v1: totals k*1.5, status s0..s4
    // writer B doubles every total; writer A (interleaved during B's first
    // publish window) deletes keys > 500
    val (v, attempts) = VersionedTable.commitTransform(spark, root,
      df => df.withColumn("total", col("total") * 2),
      beforePublish = a =>
        if (a == 1) VersionedTable.commit(
          VersionedTable.readVersion(spark, root, 1).filter(col("key") <= 500),
          root))
    assert(v == 3 && attempts == 2, s"expected one rebase: v=$v attempts=$attempts")
    val fin = VersionedTable.readVersion(spark, root, 3)
    // serializable outcome = A then B: 500 rows, all doubled
    assert(fin.count() == 500, "rebase must see A's delete (lost update otherwise)")
    assert(fin.filter(col("total") =!= col("key") * 3.0).count() == 0)
    // and the failed attempt left no orphan data files behind
    val dataFiles = Files.walk(Paths.get(root, "data"))
      .filter(p => p.toString.endsWith(".parquet")).count()
    val referenced = (1 to 3)
      .flatMap(vv => VersionedTable.entries(root, vv)).map(_.path).distinct.size
    assert(dataFiles == referenced,
      s"conflict attempt leaked files: $dataFiles on disk vs $referenced referenced")
    // no conflict → single attempt, no rebase
    val (v4, a4) = VersionedTable.commitTransform(spark, root,
      df => df.filter(col("key") <= 100))
    assert(v4 == 4 && a4 == 1)
    assert(VersionedTable.readVersion(spark, root, 4).count() == 100)
  }

  test("table_concurrent_commit key: the stale frame would differ (lost-update guard)") {
    val out = TableQueries.queries("table_concurrent_commit")(spark, sfDir)
    val cancelledSurcharged = out
      .filter(col("status") === "X" && col("key") % 10 === 0)
      .count()
    assert(cancelledSurcharged > 0, "fixture must exercise the conflict set")
    // in the FINAL state no cancelled order carries the surcharge: its
    // total must still equal the raw table's total (B rebased after A)
    val raw = graft.model.Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey").as("key"), col("o_totalprice").as("raw_total"),
        col("o_orderstatus").as("raw_status"))
    val drifted = out.join(raw, Seq("key"))
      .filter(col("status") === "X" && col("raw_status") === "O" &&
        col("total") =!= col("raw_total"))
      .count()
    assert(drifted == 0,
      s"$drifted cancelled orders carry the stale surcharge — lost update")
  }

  test("WAP: append carries the manifest, fast-forward publishes audited files, races reject (r11)") {
    import spark.implicits._
    val main = freshRoot()
    assert(VersionedTable.commit(base(), main) == 1)
    // stage on a shallow clone; APPEND must carry v1's files forward
    val stage = freshRoot() + "-stage"
    VersionedTable.shallowClone(main, 1, stage)
    val batch = (1001L to 1050L).map(k => (k, "N", k * 2.0))
      .toDF("key", "status", "total")
    assert(VersionedTable.commitAppend(batch, stage) == 2)
    assert(VersionedTable.readVersion(spark, stage, 2).count() == 1050,
      "append must be INSERT INTO, not replace")
    assert(VersionedTable.readVersion(spark, stage, 1).count() == 1000,
      "the pre-append staged version stays readable")
    // main is untouched while staging + audit run
    assert(VersionedTable.latestVersion(main) == 1)
    // publish = metadata fast-forward; main serves base ∪ batch afterwards
    assert(VersionedTable.fastForward(stage, 2, main, 1) == Right(2))
    val served = VersionedTable.readLatest(spark, main)
    assert(served.count() == 1050)
    assert(served.filter(col("key") > 1000L).count() == 50)
    // the publish wrote NO data files under main — every served file is
    // referenced from the staging root (the KB-sized-CAS claim)
    val mainFiles = VersionedTable.manifest(main, 2)
    assert(mainFiles.nonEmpty && mainFiles.exists(_.startsWith(stage)),
      "fast-forward must reference staged files, not copy them")
    // a concurrent main commit after the clone point must reject the
    // fast-forward (lost-update guard): expected version is stale
    val stage2 = freshRoot() + "-stale"
    VersionedTable.shallowClone(main, 2, stage2)
    VersionedTable.commitAppend(
      Seq((2001L, "N", 1.0)).toDF("key", "status", "total"), stage2)
    assert(VersionedTable.commit(base(), main) == 3,
      "a concurrent writer moves main past the clone point")
    assert(VersionedTable.fastForward(stage2, 2, main, 2) == Left(3),
      "a stale fast-forward must be rejected, not erase the concurrent commit")
    assert(VersionedTable.latestVersion(main) == 3)
  }

  test("describe history: footer row counts per version, file counts monotone under append (r11)") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.commit(base(), root)                         // v1 snapshot
    VersionedTable.commitAppend(
      (1001L to 1100L).map(k => (k, "N", 1.0)).toDF("key", "status", "total"),
      root)                                                     // v2 append
    VersionedTable.commit(base().filter(col("key") <= 10L), root) // v3 rewrite
    val hist = VersionedTable.describeHistory(root)
    assert(hist.map(_._1) == Seq(1, 2, 3))
    assert(hist.map(_._3) == Seq(1000L, 1100L, 10L),
      "footer row counts must equal the logical counts when no deletes exist")
    // append references MORE files than its base; a rewrite starts over
    assert(hist(1)._2 > hist(0)._2, "append must carry + extend the file list")
    assert(hist(2)._2 < hist(1)._2, "copy-on-write rewrite resets the file list")
    // metadata guard: merge-on-read deletes make footer counts wrong — refuse
    VersionedTable.commitDeletes(Seq(1L).toDF("key"), root, "key")
    intercept[IllegalArgumentException] {
      VersionedTable.describeHistory(root)
    }
  }

  test("NDV sketches: per-file registers merge to the whole-table sketch; stale stats fail loudly (r11)") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.commit(base(), root, changes = None, statsColumns = Nil,
      bloomColumns = Nil, ndvColumns = Seq("key"))
    val merged = VersionedTable.ndvRegisters(root, 1, "key")
    assert(merged.length == 64 && merged.exists(_ > 0))
    // the merge theorem: per-file MAX-merged registers equal the registers
    // of the whole table computed directly (driver replay over raw keys)
    def md5hex(sv: String): String = java.security.MessageDigest
      .getInstance("MD5").digest(sv.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    val whole = Array.fill(64)(0)
    (1L to 1000L).foreach { k =>
      val h = md5hex(k.toString)
      val b = (Integer.parseInt(h.substring(0, 2), 16) % 64)
      val w = java.lang.Long.parseLong(h.substring(2, 10), 16)
      val rho = if (w == 0) 33 else 33 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      if (rho > whole(b)) whole(b) = rho
    }
    assert(merged == whole.toSeq,
      "merged per-file registers diverge from the whole-table sketch")
    // the estimate is in the m=64 error band around the exact 1000
    val sScaled = merged.map(m => 1L << (33 - m)).sum
    val est = 0.709 * 64 * 64 * 8589934592.0 / sScaled.toDouble
    assert(math.abs(est - 1000.0) / 1000.0 < 0.4, s"estimate $est vs 1000")
    // unknown column and stale stats both fail loudly
    intercept[IllegalArgumentException] {
      VersionedTable.ndvRegisters(root, 1, "status")
    }
    VersionedTable.commitAppend(
      (2000L to 2100L).map(k => (k, "N", 1.0)).toDF("key", "status", "total"),
      root)
    intercept[IllegalArgumentException] {
      VersionedTable.ndvRegisters(root, 2, "key") // appended files unsketched
    }
  }

  test("NDV sketches survive renames and are gated by delete records (r12)") {
    import spark.implicits._
    val root = freshRoot()
    VersionedTable.commit(base(), root, changes = None, statsColumns = Nil,
      bloomColumns = Nil, ndvColumns = Seq("key"))
    val before = VersionedTable.ndvRegisters(root, 1, "key")
    // rename is pure metadata: the sketch (recorded under the PHYSICAL
    // name) must resolve through the logical name, like data columns do
    VersionedTable.commitRename(root, Map("key" -> "id"))     // v2
    assert(VersionedTable.ndvRegisters(root, 2, "id") == before,
      "renamed logical lookup must find the physical H records")
    // delete commits carry H records forward but invalidate the counts —
    // the overcounting sketch must fail loudly, not estimate
    VersionedTable.commitDeletes(Seq(1L).toDF("key"), root, "key") // v3
    val e = intercept[IllegalArgumentException] {
      VersionedTable.ndvRegisters(root, 3, "key")
    }
    assert(e.getMessage.contains("delete"), s"wrong gate: ${e.getMessage}")
  }

  test("grid histograms: per-file cells merge exactly across splits; aligned probes exact; gates hold (r12)") {
    import spark.implicits._
    // same data under two different file splits must merge to the SAME
    // histogram — the global-grid property per-file-anchored buckets lose
    val r1 = freshRoot()
    val r2 = freshRoot()
    VersionedTable.commit(base().repartition(1), r1, changes = None,
      statsColumns = Nil, bloomColumns = Nil, ndvColumns = Nil,
      histColumns = Seq(("key", 100L)))
    VersionedTable.commit(base().repartition(7), r2, changes = None,
      statsColumns = Nil, bloomColumns = Nil, ndvColumns = Nil,
      histColumns = Seq(("key", 100L)))
    val (w1, c1) = VersionedTable.histogramCells(r1, 1, "key")
    val (w2, c2) = VersionedTable.histogramCells(r2, 1, "key")
    assert(w1 == 100L && w2 == 100L && c1 == c2,
      s"file split changed the merged histogram: $c1 vs $c2")
    // keys are 1..1000 → cells 0 (99 rows: 1..99), 1..9 (100 each), 10 (1000)
    assert(c1(0L) == 99L && c1(5L) == 100L && c1(10L) == 1L)
    assert(c1.values.sum == 1000L, "histogram must partition the rows")
    // cell-aligned probe is exact; interior misaligned probe interpolates
    // exactly here because keys are uniform in the cell
    assert(VersionedTable.estimateRange(w1, c1, 100L, 300L) == 200L)
    assert(VersionedTable.estimateRange(w1, c1, 150L, 250L) == 100L)
    // empty range and past-the-data range
    assert(VersionedTable.estimateRange(w1, c1, 5000L, 9000L) == 0L)
    // staleness gates: unsketched append and delete commits both refuse
    VersionedTable.commitAppend(
      (2000L to 2100L).map(k => (k, "N", 1.0)).toDF("key", "status", "total"),
      r1)
    intercept[IllegalArgumentException] {
      VersionedTable.histogramCells(r1, 2, "key")
    }
    VersionedTable.commitDeletes(Seq(1L).toDF("key"), r2, "key")
    val e = intercept[IllegalArgumentException] {
      VersionedTable.histogramCells(r2, 2, "key")
    }
    assert(e.getMessage.contains("delete"), s"wrong gate: ${e.getMessage}")
    // rename resolution, like the NDV records
    val r3 = freshRoot()
    VersionedTable.commit(base(), r3, changes = None, statsColumns = Nil,
      bloomColumns = Nil, ndvColumns = Nil, histColumns = Seq(("key", 100L)))
    VersionedTable.commitRename(r3, Map("key" -> "id"))
    assert(VersionedTable.histogramCells(r3, 2, "id")._2 == c1,
      "renamed logical lookup must find the physical G records")
    // incremental maintenance: stats-carrying append merges to exactly the
    // histogram a full recompute of the union would give
    val r4 = freshRoot()
    VersionedTable.commit(base(), r4, changes = None, statsColumns = Nil,
      bloomColumns = Nil, ndvColumns = Nil, histColumns = Seq(("key", 100L)))
    VersionedTable.commitAppendStats(
      (1001L to 1250L).map(k => (k, "N", 1.0)).toDF("key", "status", "total"),
      r4, Seq(("key", 100L)))
    val (w4, c4) = VersionedTable.histogramCells(r4, 2, "key")
    assert(w4 == 100L)
    assert(c4(10L) == 100L && c4(12L) == 51L, // 1000..1099 full, 1200..1250
      s"appended rows mis-binned: $c4")
    assert(c4.values.sum == 1250L, "append must add exactly its rows")
  }

  test("grid histograms bin signed values by FLOOR division and skip NULLs (r13)") {
    import spark.implicits._
    // values in (-width, 0) must get cell -1, NOT share cell 0 with
    // [0, width) — truncate-toward-zero division would fold them together
    // and estimateRange's cLo = cell*width would misstate their bounds;
    // NULLs belong to no range, so they must not land in (or NPE) any cell
    val root = freshRoot()
    val rows: Seq[(java.lang.Long, String)] =
      Seq(-250L, -100L, -1L, 0L, 1L, 99L, 100L)
        .map(v => (java.lang.Long.valueOf(v), "x")) :+
        ((null: java.lang.Long), "null-row")
    VersionedTable.commit(rows.toDF("v", "tag"), root, changes = None,
      statsColumns = Nil, bloomColumns = Nil, ndvColumns = Nil,
      histColumns = Seq(("v", 100L)))
    val (w, cells) = VersionedTable.histogramCells(root, 1, "v")
    assert(w == 100L)
    assert(cells == Map(-3L -> 1L, -1L -> 2L, 0L -> 3L, 1L -> 1L),
      s"floor-division cells wrong: $cells")
    // NULL is uncounted — range estimates answer for non-null values only
    assert(cells.values.sum == 7L, "NULL row must not be binned")
    // the negative cell's bounds are stated correctly: [-100, 0) holds 2
    assert(VersionedTable.estimateRange(w, cells, -100L, 0L) == 2L)
    assert(VersionedTable.estimateRange(w, cells, -300L, -200L) == 1L)
  }

  test("scan-free stats drive the join planner: zero Spark jobs to decide (r12)") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = freshRoot()
    VersionedTable.commit(base(), root, changes = None, statsColumns = Nil,
      bloomColumns = Nil, ndvColumns = Seq("key"))
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    val (rows, ndv) =
      try {
        val r = VersionedTable.scanFreeStats(root, 1, "key")
        // listener delivery is async — give the bus a beat before reading
        Thread.sleep(500)
        r
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(jobs.get() == 0,
      s"planning stats launched ${jobs.get()} Spark job(s) — not scan-free")
    // footer counts are exact; the HLL estimate must be planning-grade
    assert(rows == 1000L, s"footer row count $rows != 1000")
    assert(math.abs(ndv - 1000.0) / 1000.0 < 0.4, s"NDV estimate $ndv vs 1000")
    // and the decision the key makes from them materializes in the plan:
    // the 500-row build broadcasts, the full-table build shuffle-hashes
    val plan = graft.table.TableQueries.queries("table_cbo_join")(
      spark, sfDir).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"dim build did not broadcast:\n$plan")
    assert(plan.contains("ShuffledHashJoin"),
      s"fact build did not shuffle-hash:\n$plan")
  }

  test("tags listing skips malformed entries instead of throwing (r12)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root)
    VersionedTable.tagVersion(root, "good", 1)
    // a stray editor backup and a corrupt payload land in _tags/
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_tags", "corrupt"),
      "not-a-version".getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_tags", "bad name~"),
      "1".getBytes("UTF-8"))
    assert(VersionedTable.tags(root) == Map("good" -> 1),
      "malformed tag entries must be skipped, not fatal")
    // sweeps + tagged reads keep working around the corruption
    assert(VersionedTable.readTagged(spark, root, "good").count() > 0)
    VersionedTable.vacuum(root, keepVersions = 1)
  }

  test("tags pin versions against both vacuum sweeps; drop re-exposes them (r11)") {
    val root = freshRoot()
    VersionedTable.commit(base(), root)                           // v1
    VersionedTable.commit(base().filter(col("key") <= 500L), root) // v2
    VersionedTable.tagVersion(root, "baseline", 2)
    VersionedTable.commit(base().filter(col("key") <= 100L), root) // v3
    // keep-1 must prune exactly v1: v3 is latest, v2 is pinned by name
    VersionedTable.vacuum(root, keepVersions = 1)
    intercept[Exception] { VersionedTable.readVersion(spark, root, 1).count() }
    assert(VersionedTable.readTagged(spark, root, "baseline").count() == 500L,
      "tagged snapshot must survive the retention sweep, readable by name")
    assert(VersionedTable.readLatest(spark, root).count() == 100L)
    // age sweep with a zero window: latest + pinned survive, nothing else
    VersionedTable.vacuumOlderThan(root, maxAgeMillis = 0L)
    assert(VersionedTable.readTagged(spark, root, "baseline").count() == 500L,
      "tags must outlive any age window")
    // dropping the tag makes v2 ordinary history again
    assert(VersionedTable.dropTag(root, "baseline"))
    VersionedTable.vacuum(root, keepVersions = 1)
    intercept[Exception] { VersionedTable.readVersion(spark, root, 2).count() }
    assert(VersionedTable.readLatest(spark, root).count() == 100L,
      "latest must be untouched by the post-drop sweep")
    // tagging a pruned version fails loudly; bad names are rejected
    intercept[IllegalArgumentException] {
      VersionedTable.tagVersion(root, "late", 2)
    }
    intercept[IllegalArgumentException] {
      VersionedTable.tagVersion(root, "bad/name", 3)
    }
  }

  test("branch merge: manifest-only union of both sides' appends, unsafe branches refused (r12)") {
    import spark.implicits._
    val main = freshRoot()
    assert(VersionedTable.commit(base(), main) == 1)
    val branch = freshRoot()
    VersionedTable.shallowClone(main, 1, branch)
    val batchA = Seq((-1L, "A", 10.0), (-2L, "A", 20.0)).toDF("key", "status", "total")
    val batchB = Seq((-3L, "B", 30.0)).toDF("key", "status", "total")
    VersionedTable.commitAppend(batchA, branch)
    VersionedTable.commitAppend(batchB, main) // main advances concurrently
    // fast-forward refuses (the WAP guard) — this is mergeBranch's raison d'être
    assert(VersionedTable.fastForward(branch, 2, main, 1).isLeft)
    val dataFilesBefore = VersionedTable.manifest(main, 2).toSet
    val branchAdded = VersionedTable.manifest(branch, 2).toSet --
      VersionedTable.manifest(branch, 1).toSet
    val merged = VersionedTable.mergeBranch(branch, 1, main)
    assert(merged == Right(3), s"merge result $merged")
    // THE merge contract: v3's data files are exactly main-v2's ∪ the
    // branch's appended files — referenced, never copied (manifest-only)
    assert(VersionedTable.manifest(main, 3).toSet ==
      dataFilesBefore ++ branchAdded, "merged manifest is not the union")
    val fin = VersionedTable.readLatest(spark, main)
    assert(fin.count() == 1003)
    assert(fin.filter(col("status") === "A").count() == 2, "branch rows lost")
    assert(fin.filter(col("status") === "B").count() == 1, "concurrent rows lost")
    // a branch carrying DELETE records cannot 3-way merge
    val delBranch = freshRoot()
    VersionedTable.shallowClone(main, 3, delBranch)
    VersionedTable.commitDeletes(Seq(5L).toDF("key"), delBranch, "key")
    val refusal = VersionedTable.mergeBranch(delBranch, 1, main)
    assert(refusal.isLeft && refusal.swap.exists(_.contains("non-data")),
      s"delete-carrying branch must refuse with the record kind: $refusal")
    // and the refusal left main untouched
    assert(VersionedTable.latestVersion(main) == 3)
  }

  test("readVersion takes the schema inference would pick and submits no job before its action") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val root = freshRoot()
    val v1 = VersionedTable.commit(Seq((1L, "a"), (2L, "b")).toDF("k", "s"), root)
    val v2 = VersionedTable.commitAppend(Seq((3L, "c")).toDF("k", "s"), root)
    val v3 = VersionedTable.commitAddColumn(root,
      org.apache.spark.sql.types.StructField("x", org.apache.spark.sql.types.DoubleType))
    val v4 = VersionedTable.commitAppend(Seq((4L, "d", 1.5)).toDF("k", "s", "x"), root)
    val v5 = VersionedTable.commitRename(root, Map("s" -> "name"))
    for ((v, what) <- Seq(v1 -> "commit", v2 -> "commitAppend", v3 -> "ADD COLUMN",
        v4 -> "append after ADD COLUMN", v5 -> "commitRename")) {
      var got: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { got = VersionedTable.readVersion(spark, root, v) }.isEmpty,
        s"$what: readVersion submitted a job before its action")
      val want = spark.read.parquet(VersionedTable.manifest(root, v): _*)
      assert(got.schema == want.schema, s"$what: ${got.schema} vs ${want.schema}")
      assert(rows(got) == rows(want), s"$what: rows differ")
    }
    val v6 = VersionedTable.commitDeletes(Seq(2L).toDF("k"), root, "k")
    var deleted: org.apache.spark.sql.DataFrame = null
    assert(jobsOf { deleted = VersionedTable.readVersion(spark, root, v6) }.isEmpty,
      "a version with delete records submitted a job before its action")
    assert(deleted.select(col("k")).as[Long].collect().sorted.toSeq == Seq(1L, 3L, 4L))
  }
}
