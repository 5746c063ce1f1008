package graft.table

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.table.catalog.GraftCatalog

/** The SQL-catalog claims the oracle hash can't state: a `VERSION AS OF`
  * read through `graft.<db>.<table>` compiles the SAME pruned parquet
  * scan as the `readVersion` API — identical file set, identical rows;
  * merge-on-read and renamed versions serve through the API path's
  * resolved relation (bit-identical to it); and SQL DML lands real
  * manifest versions under the same CAS publish as the API (r14). */
class GraftCatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val p = Files.createTempDirectory("graft_cat_spec").toString
    spark.conf.set("spark.sql.catalog.cat", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.cat.warehouse", p)
    p
  }

  /** Rewrite version v's durable commit instant (the manifest `T`
    * record) — the test analog of a commit published at `millis`. */
  private def setCommitInstant(root: String, v: Int, millis: Long): Unit = {
    val p = Paths.get(s"$root/_commits/v$v.manifest")
    val kept = new String(Files.readAllBytes(p),
        java.nio.charset.StandardCharsets.UTF_8)
      .split("\n").toSeq.filterNot(_.startsWith("T\t"))
    Files.write(p, (kept :+ s"T\t$millis").mkString("\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  /** inputFiles returns file: URIs; the manifest stores raw paths. */
  private def norm(f: String): String =
    if (f.startsWith("file:")) new java.net.URI(f).getPath else f

  /** The file set the EXECUTED DSv2 scan actually reads (the wrapper
    * table is not a FileTable, so Dataset.inputFiles can't see through
    * it — this extracts from the physical ParquetScan instead, which is
    * the stronger source: the plan that runs, not the plan as declared). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan match {
          case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
            f.fileIndex.inputFiles.toSeq
          case _ => Seq.empty
        }
    }.flatten.map(norm).toSet

  private def base() = {
    import spark.implicits._
    (1L to 1000L).map(k => (k, s"s${k % 5}", k * 3L)).toDF("key", "status", "cents")
  }

  test("VERSION AS OF resolves through the manifest: same files, same rows as readVersion") {
    val root = s"$wh/db/orders"
    VersionedTable.commit(base().filter(col("key") <= 600).repartition(3), root)
    VersionedTable.commit(base().repartition(5), root)

    for (v <- Seq(1, 2)) {
      val sql = spark.sql(s"SELECT * FROM cat.db.orders VERSION AS OF $v")
      val api = VersionedTable.readVersion(spark, root, v)
      // file-set identity: the SQL scan opens EXACTLY the manifest's
      // frozen files — no second code path, no re-listing, no extras
      assert(scannedFiles(sql) == VersionedTable.manifest(root, v).toSet,
        s"v$v SQL scan file set diverges from the manifest")
      // bit-identical rows
      assert(sql.orderBy("key").collect().toSeq ==
        api.orderBy("key").collect().toSeq, s"v$v SQL rows differ from API")
    }
    // the two versions genuinely differ (no vacuous pass)
    assert(spark.sql("SELECT * FROM cat.db.orders VERSION AS OF 1").count() == 600)
    assert(spark.sql("SELECT * FROM cat.db.orders VERSION AS OF 2").count() == 1000)
    // bare name serves the latest
    assert(scannedFiles(spark.sql("SELECT * FROM cat.db.orders")) ==
      VersionedTable.manifest(root, 2).toSet)
    // catalyst pushdown reaches the catalog's parquet scan: the filter is
    // pushed, and pruning keeps only the requested column in ReadSchema
    val plan = spark.sql(
      "SELECT status FROM cat.db.orders WHERE key = 7 AND status = 's2'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BatchScan"), s"expected a DSv2 BatchScan:\n$plan")
    assert(plan.contains("PushedFilters: [IsNotNull(key), IsNotNull(status)") ||
      plan.contains("EqualTo(key,7)"), s"filter not pushed to the scan:\n$plan")
  }

  test("out-of-range versions and missing tables fail as NoSuchTable; bad literals loudly") {
    val root = s"$wh/db2/t"
    VersionedTable.commit(base(), root)
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM cat.db2.t VERSION AS OF 9").collect()
    }
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM cat.db2.nope").collect()
    }
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM cat.db2.t VERSION AS OF 'v-latest'").collect()
    }
    assert(e.getMessage.contains("integers"), s"wrong error: ${e.getMessage}")
  }

  test("merge-on-read and renamed versions SERVE through SQL, identical to the API read (r14)") {
    import spark.implicits._
    val root = s"$wh/db3/mor"
    VersionedTable.commit(base(), root)
    VersionedTable.commitDeletes(Seq(1L, 2L).toDF("key"), root, "key") // v2: E records
    VersionedTable.commitDeleteVectors(spark, root, "key % 100 = 7")   // v3: +V records
    // E-resolved: the two equality-deleted keys vanish, nothing else
    val v2 = spark.sql("SELECT * FROM cat.db3.mor VERSION AS OF 2")
    assert(v2.count() == 998, "E-resolved count")
    assert(v2.filter(col("key").isin(1L, 2L)).count() == 0)
    // E+V-resolved, bit-identical to the API path
    val v3sql = spark.sql("SELECT * FROM cat.db3.mor VERSION AS OF 3")
      .orderBy("key").collect().toSeq
    val v3api = VersionedTable.readVersion(spark, root, 3)
      .orderBy("key").collect().toSeq
    assert(v3sql == v3api, "SQL MoR resolution diverged from the API read")
    assert(v3sql.size == 988) // 1000 - {1,2} - ten key%100==7 rows
    // v1 (pre-delete) still serves the plain parquet path
    assert(spark.sql("SELECT * FROM cat.db3.mor VERSION AS OF 1").count() == 1000)

    val root2 = s"$wh/db3/ren"
    VersionedTable.commit(base(), root2)
    VersionedTable.commitRename(root2, Map("cents" -> "amount")) // v2: R record
    // the bare name serves the renamed head under its LOGICAL schema
    val ren = spark.sql("SELECT key, amount FROM cat.db3.ren WHERE key <= 3")
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(ren == VersionedTable.readVersionRenamed(spark, root2, 2)
      .select(col("key"), col("amount")).filter(col("key") <= 3)
      .orderBy("key").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    // time travel to the pre-rename version still serves the OLD name
    assert(spark.sql("SELECT cents FROM cat.db3.ren VERSION AS OF 1").count() == 1000)
    // resolved tables are read-only: DML must route to a clean head
    val e = intercept[Exception] {
      spark.sql("INSERT INTO cat.db3.mor SELECT * FROM cat.db3.mor VERSION AS OF 1")
    }
    assert(e.getMessage.contains("read-only") ||
      e.getMessage.contains("does not support") ||
      e.getMessage.contains("TABLE_OPERATION"),
      s"MoR head accepted DML: ${e.getMessage}")
  }

  test("a resolved-table scan node prints the table name, no identity hash") {
    import spark.implicits._
    val root = s"$wh/db3/named"
    VersionedTable.commit(base(), root)
    VersionedTable.commitDeletes(Seq(1L).toDF("key"), root, "key") // v2: MoR
    val scans = spark.sql("SELECT * FROM cat.db3.named VERSION AS OF 2")
      .queryExecution.sparkPlan
      .collect { case p if p.nodeName.startsWith("Scan") => p.nodeName }
    assert(scans.nonEmpty && scans.forall(_.contains("named@v2(resolved)")), scans)
    assert(!scans.exists(_.contains("$anon")), scans)
  }

  test("CTAS: schema-only v1 manifest + data v2, duplicate create refuses (r14)") {
    base().createOrReplaceTempView("ctas_src")
    spark.sql(
      "CREATE TABLE cat.db7.ctas AS SELECT key, status FROM ctas_src WHERE key <= 10")
    val root = s"$wh/db7/ctas"
    assert(VersionedTable.latestVersion(root) == 2,
      "CTAS must land create (v1) + load (v2)")
    assert(VersionedTable.manifest(root, 1).isEmpty,
      "the create half is a schema-only manifest — zero data files")
    // the empty version reads as zero rows UNDER the committed schema
    val v1 = spark.sql("SELECT * FROM cat.db7.ctas VERSION AS OF 1")
    assert(v1.count() == 0 && v1.schema.fieldNames.toSeq == Seq("key", "status"))
    assert(spark.sql("SELECT * FROM cat.db7.ctas").count() == 10)
    // a second CREATE refuses — the table exists
    intercept[Exception] {
      spark.sql("CREATE TABLE cat.db7.ctas AS SELECT * FROM ctas_src")
    }
    // and the created table takes ordinary DML like any other
    spark.sql("INSERT INTO cat.db7.ctas SELECT key, status FROM ctas_src WHERE key > 990")
    assert(spark.sql("SELECT * FROM cat.db7.ctas").count() == 20)
  }

  test("SQL INSERT INTO lands real manifest versions; OVERWRITE replaces; CAS race from SQL retries (r14)") {
    val root = s"$wh/db6/loads"
    VersionedTable.commit(base().filter(col("key") <= 400), root) // v1 via API
    base().filter(col("key") > 400 && col("key") <= 700)
      .createOrReplaceTempView("ins_batch")
    spark.sql("INSERT INTO cat.db6.loads SELECT * FROM ins_batch") // v2 via SQL
    assert(VersionedTable.latestVersion(root) == 2)
    assert(spark.sql("SELECT * FROM cat.db6.loads").count() == 700)
    // v1 is untouched by the append (copy-on-write)
    assert(spark.sql("SELECT * FROM cat.db6.loads VERSION AS OF 1").count() == 400)
    // INSERT OVERWRITE = the truncate-and-load job: a REPLACING commit
    base().filter(col("key") > 900).createOrReplaceTempView("reload_batch")
    spark.sql("INSERT OVERWRITE cat.db6.loads SELECT * FROM reload_batch") // v3
    assert(VersionedTable.latestVersion(root) == 3)
    assert(spark.sql("SELECT * FROM cat.db6.loads").count() == 100)
    assert(spark.sql("SELECT * FROM cat.db6.loads VERSION AS OF 2").count() == 700)
    // CAS retry reached FROM SQL: race an SQL INSERT against an API
    // commit — both versions must land, neither lost (the publish loop
    // retries metadata only; the racing writers' data coexists)
    val before = VersionedTable.latestVersion(root)
    val apiThread = new Thread(() =>
      VersionedTable.commitAppend(base().filter(col("key") <= 50), root))
    apiThread.start()
    spark.sql("INSERT INTO cat.db6.loads SELECT * FROM ins_batch")
    apiThread.join()
    assert(VersionedTable.latestVersion(root) == before + 2,
      "one of the racing writers lost its commit")
    assert(spark.sql("SELECT * FROM cat.db6.loads").count() == 100 + 50 + 300,
      "racing commits lost rows")
    // a version-pinned snapshot refuses DML
    val e = intercept[Exception] {
      spark.sql("INSERT INTO cat.db6.loads VERSION AS OF 1 SELECT * FROM ins_batch")
    }
    assert(e != null)
  }

  test("TIMESTAMP AS OF resolves to the newest version published at or before the instant") {
    val root = s"$wh/db4/ts"
    VersionedTable.commit(base().filter(col("key") <= 100), root)
    // separate the two manifests' publish clocks via the durable T
    // record — the commit metadata TIMESTAMP AS OF actually resolves from
    setCommitInstant(root, 1, 1700000000000L)
    VersionedTable.commit(base(), root)
    setCommitInstant(root, 2, 1700000100000L)
    // a warehouse copy/restore rewrites mtimes; resolution must not care
    // — set BOTH manifests' mtimes to "now" and expect identical answers
    Seq(1, 2).foreach { v =>
      Files.setLastModifiedTime(Paths.get(s"$root/_commits/v$v.manifest"),
        java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    }
    def at(ms: Long) = spark.sql(
      s"SELECT * FROM cat.db4.ts TIMESTAMP AS OF " +
        s"timestamp_millis(${ms}L)").count()
    assert(at(1700000050000L) == 100, "instant between commits must pin v1")
    assert(at(1700000200000L) == 1000, "instant after v2 must pin v2")
    intercept[AnalysisException] { at(1600000000000L) } // before v1
  }

  test("catalog surface: exists/list/drop are manifest-backed; DDL mutation refuses") {
    val root = s"$wh/db5/a"
    VersionedTable.commit(base(), root)
    spark.sql("SHOW TABLES IN cat.db5").collect() // resolves via listTables
    assert(spark.sql("SHOW TABLES IN cat.db5").collect()
      .map(_.getString(1)).toSet == Set("a"))
    // createTable works since r14 (CTAS support) but partition transforms
    // stay on the API — that half still refuses
    intercept[IllegalArgumentException] {
      spark.sessionState.catalogManager.catalog("cat")
        .asInstanceOf[GraftCatalog]
        .createTable(org.apache.spark.sql.connector.catalog.Identifier
          .of(Array("db5"), "b"), base().schema,
          Array[org.apache.spark.sql.connector.expressions.Transform](
            org.apache.spark.sql.connector.expressions.Expressions
              .identity("status")),
          java.util.Collections.emptyMap[String, String]())
    }
    assert(spark.sql("DROP TABLE cat.db5.a").collect().isEmpty)
    intercept[AnalysisException] {
      spark.sql("SELECT * FROM cat.db5.a").collect()
    }
  }

  /** A key-clustered staged table with per-file min/max stats on `key` —
    * the layout the row-level DML group pruning needs. */
  private def stageClustered(root: String): Unit =
    VersionedTable.commit(base().repartitionByRange(4, col("key")), root,
      changes = None, statsColumns = Seq("key"))

  test("SQL DELETE with a pushable predicate commits DELETION VECTORS: zero data files rewritten (r14)") {
    val root = s"$wh/db6/dv"
    stageClustered(root)
    spark.sql("DELETE FROM cat.db6.dv WHERE status = 's1' AND cents < 900")
    assert(VersionedTable.latestVersion(root) == 2, "exactly one new version")
    // the merge-on-read contract: v2's DATA file set IS v1's — the delete
    // landed as positional V records, not a rewrite
    assert(VersionedTable.manifest(root, 2).toSet ==
      VersionedTable.manifest(root, 1).toSet, "data files were rewritten")
    assert(VersionedTable.dvFiles(root, 2).nonEmpty, "no V records committed")
    // semantics: exactly the victims vanished (keys 1..1000, status s1 =
    // key%5==1, cents = 3k < 900 → k < 300 → 60 victims)
    assert(spark.sql("SELECT * FROM cat.db6.dv").count() == 940)
    assert(spark.sql(
      "SELECT * FROM cat.db6.dv WHERE status = 's1' AND cents < 900")
      .count() == 0)
    // v1 still serves the full table
    assert(spark.sql("SELECT * FROM cat.db6.dv VERSION AS OF 1").count() == 1000)
  }

  test("SQL DELETE with a subquery falls back to group-based COW; SQL UPDATE prunes groups by stats (r14)") {
    import spark.implicits._
    val root = s"$wh/db7/cow"
    stageClustered(root)
    val v1Files = VersionedTable.entries(root, 1)
      .filter(e => !e.change && e.delete.isEmpty)
    assert(v1Files.size == 4 && v1Files.forall(_.stats.nonEmpty))
    // subquery DELETE cannot be expressed as pushed predicates → COW
    Seq(10L, 20L).toDF("k").createOrReplaceTempView("doomed")
    spark.sql("DELETE FROM cat.db7.cow WHERE key IN (SELECT k FROM doomed)")
    assert(VersionedTable.latestVersion(root) == 2)
    assert(VersionedTable.dvFiles(root, 2).isEmpty, "COW path must not commit DVs")
    assert(spark.sql("SELECT * FROM cat.db7.cow").count() == 998)
    // UPDATE with a stats-prunable predicate: only the low-key file(s)
    // rewrite; every file whose [min,max] misses the predicate is carried
    // VERBATIM (same path, stats and all)
    val v2 = VersionedTable.entries(root, 2)
      .filter(e => !e.change && e.delete.isEmpty)
    spark.sql("UPDATE cat.db7.cow SET cents = 0 WHERE key < 50")
    val v3Paths = VersionedTable.manifest(root, 3).toSet
    val untouched = v2.filter(_.stats.exists(s => s.column == "key" && s.min > 50))
    assert(untouched.nonEmpty, "fixture must have prunable files")
    untouched.foreach { e =>
      assert(v3Paths.contains(e.path), s"untouched file ${e.path} was rewritten")
    }
    val touched = v2.filter(_.stats.exists(s => s.column == "key" && s.min <= 50))
    touched.foreach { e =>
      assert(!v3Paths.contains(e.path), s"touched file ${e.path} not replaced")
    }
    // rewritten files re-derive their stats records (the skipping index
    // survives row-level DML)
    val v3 = VersionedTable.entries(root, 3).filter(e => !e.change && e.delete.isEmpty)
    assert(v3.forall(_.stats.exists(_.column == "key")), "new files lost key stats")
    assert(spark.sql("SELECT * FROM cat.db7.cow WHERE cents = 0").count() == 47,
      "keys 1..49 minus deleted 10,20 → 47 zeroed rows")
    assert(spark.sql("SELECT * FROM cat.db7.cow").count() == 998)
  }

  test("SQL MERGE INTO lands as ONE serializable COW commit (r14)") {
    import spark.implicits._
    val root = s"$wh/db8/m"
    stageClustered(root)
    // source: refresh half the keys, bring 3 new ones
    ((500L to 1000L).map(k => (k, "refreshed", k * 7L)) ++
      Seq((2001L, "new", 1L), (2002L, "new", 2L), (2003L, "new", 3L)))
      .toDF("key", "status", "cents").createOrReplaceTempView("feed")
    spark.sql(
      """MERGE INTO cat.db8.m t USING feed s ON t.key = s.key
        |WHEN MATCHED AND s.cents % 2 = 0 THEN UPDATE SET
        |  status = s.status, cents = s.cents
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED THEN INSERT (key, status, cents)
        |  VALUES (s.key, s.status, s.cents)""".stripMargin)
    assert(VersionedTable.latestVersion(root) == 2,
      "MERGE must publish exactly one version")
    val out = spark.sql("SELECT * FROM cat.db8.m")
    // 1..499 untouched, 500..1000 even-7k updated (251), odd deleted (250),
    // 3 inserts
    assert(out.count() == 499 + 251 + 3)
    assert(out.filter(col("status") === "refreshed").count() == 251)
    assert(out.filter(col("status") === "new").count() == 3)
    assert(out.filter(col("key") === 502L).select("cents").as[Long].head() == 502L * 7)
    assert(out.filter(col("key") === 501L).count() == 0, "odd matched key must be deleted")
  }

  test("MERGE runtime group filtering: source keys confined to one file's range rewrite only that file (r14)") {
    import spark.implicits._
    val root = s"$wh/db12/rgf"
    stageClustered(root) // 4 key-clustered files with min/max stats
    val v1 = VersionedTable.entries(root, 1)
      .filter(e => !e.change && e.delete.isEmpty)
    // source touches only keys 10..40 — inside the first file's range
    (10L to 40L by 10L).map(k => (k, "patched", k * 100L))
      .toDF("key", "status", "cents").createOrReplaceTempView("microfeed")
    spark.sql(
      """MERGE INTO cat.db12.rgf t USING microfeed s ON t.key = s.key
        |WHEN MATCHED THEN UPDATE SET status = s.status, cents = s.cents
        |WHEN NOT MATCHED THEN INSERT (key, status, cents)
        |  VALUES (s.key, s.status, s.cents)""".stripMargin)
    val v2Paths = VersionedTable.manifest(root, 2).toSet
    // every file whose key range misses the source keys is carried verbatim
    val untouched = v1.filter(_.stats.exists(s => s.column == "key" && s.min > 40))
    assert(untouched.size >= 2, "fixture must have out-of-range files")
    untouched.foreach { e =>
      assert(v2Paths.contains(e.path),
        s"runtime group filter failed: out-of-range file ${e.path} was rewritten")
    }
    // semantics intact: the 4 matched keys patched, total row count unchanged
    val out = spark.sql("SELECT * FROM cat.db12.rgf")
    assert(out.count() == 1000)
    assert(out.filter(col("status") === "patched").count() == 4)
    assert(out.filter(col("key") === 20L).select("cents").as[Long].head() == 2000L)
  }

  test("TRUNCATE TABLE rides the metadata delete: one DV commit, zero files rewritten (r14)") {
    val root = s"$wh/db11/tr"
    VersionedTable.commit(base().repartition(2), root)
    spark.sql("TRUNCATE TABLE cat.db11.tr")
    assert(VersionedTable.latestVersion(root) == 2)
    assert(VersionedTable.manifest(root, 2).toSet ==
      VersionedTable.manifest(root, 1).toSet, "truncate must not rewrite files")
    assert(spark.sql("SELECT * FROM cat.db11.tr").count() == 0)
    assert(spark.sql("SELECT * FROM cat.db11.tr VERSION AS OF 1").count() == 1000,
      "time travel must still serve the pre-truncate table")
  }

  test("ALTER TABLE ADD/RENAME COLUMN are pure-metadata commits; other changes refuse (r14)") {
    val root = s"$wh/db10/alt"
    VersionedTable.commit(base().repartition(3), root)
    spark.sql("ALTER TABLE cat.db10.alt ADD COLUMN note STRING")
    // v2: same data files, widened schema, zero data I/O
    assert(VersionedTable.manifest(root, 2) == VersionedTable.manifest(root, 1),
      "ADD COLUMN must not touch data files")
    assert(VersionedTable.tableSchema(root, 2).get.fieldNames.toSeq ==
      Seq("key", "status", "cents", "note"))
    // old files serve NULL for the new column
    assert(spark.sql("SELECT * FROM cat.db10.alt WHERE note IS NULL").count() == 1000)
    // the next INSERT materializes it for its own rows only
    spark.sql("INSERT INTO cat.db10.alt VALUES (2001, 'sX', 9, 'hello')")
    assert(spark.sql("SELECT * FROM cat.db10.alt WHERE note = 'hello'").count() == 1)
    assert(spark.sql("SELECT * FROM cat.db10.alt").count() == 1001)
    // rename: R record only, files untouched; bare head serves new name
    spark.sql("ALTER TABLE cat.db10.alt RENAME COLUMN cents TO amount")
    assert(VersionedTable.manifest(root, 4) == VersionedTable.manifest(root, 3),
      "RENAME COLUMN must not touch data files")
    assert(spark.sql("SELECT SUM(amount) FROM cat.db10.alt").collect()(0).getLong(0) ==
      (1L to 1000L).map(_ * 3).sum + 9)
    // pre-rename versions still serve their own names
    assert(spark.sql("SELECT SUM(cents) FROM cat.db10.alt VERSION AS OF 1")
      .collect()(0).getLong(0) == (1L to 1000L).map(_ * 3).sum)
    // unsupported evolution refuses loudly
    intercept[Exception] {
      spark.sql("ALTER TABLE cat.db10.alt DROP COLUMN note")
    }
  }

  test("row-level rewrite is serializable: a commit in the plan→publish window fails it loudly (r14)") {
    val root = s"$wh/db9/conflict"
    stageClustered(root) // v1
    // a concurrent writer lands v2 after the rewrite planned against v1
    VersionedTable.commitAppend(base().limit(1), root)
    val staged = Files.createTempDirectory("graft_cow_conflict").toString
    base().limit(5).write.mode("overwrite").parquet(staged)
    val e = intercept[java.util.ConcurrentModificationException] {
      VersionedTable.commitRewriteGroups(root, 1,
        VersionedTable.manifest(root, 1).toSet, staged)
    }
    assert(e.getMessage.contains("advanced"), e.getMessage)
    assert(VersionedTable.latestVersion(root) == 2, "no phantom version published")
  }
}
