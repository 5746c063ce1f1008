package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{AnalysisException, DataFrame}
import org.apache.spark.sql.functions.col

import graft.model.Tables

/** `Artifacts.derive`: one key rule, one superseded-root policy, nested
  * builds, and the reentrant build meter. `Artifacts.read`: one relation
  * per (session, path) while the fingerprint holds. */
class ArtifactsSpec extends SparkSpec {
  private val sources = scala.collection.mutable.ListBuffer[Path]()

  /** A parquet-shaped source: a directory holding one part file. */
  private def source(body: String): Path = {
    val dir = Files.createTempDirectory("graft_artifacts_spec")
    Files.writeString(dir.resolve("part-0"), body)
    sources += dir
    dir
  }

  override def afterAll(): Unit = {
    sources.foreach(d => graft.sink.Sinks.deleteDir(d.toString))
    super.afterAll()
  }

  private def exists(root: String): Boolean = Files.exists(Paths.get(root))

  test("a hit does not re-run build") {
    val src = source("abc").toString
    var builds = 0
    def get() = Artifacts.derive("hit", src) { r =>
      builds += 1
      Files.writeString(Paths.get(s"$r/out"), "x")
    }
    val first = get()
    assert(get() == first)
    assert(builds == 1)
    assert(Files.readString(Paths.get(s"$first/out")) == "x")
  }

  test("an in-place rewrite that keeps the mtime but changes the size " +
      "rebuilds, and the superseded root is gone from disk") {
    val dir = source("abc")
    val part = dir.resolve("part-0")
    val partTime = Files.getLastModifiedTime(part)
    val dirTime = Files.getLastModifiedTime(dir)
    var builds = 0
    def get() = Artifacts.derive("rewrite", dir.toString) { _ => builds += 1 }
    val old = get()
    // rewrite in place, then put back every mtime a bare-mtime key reads
    Files.writeString(part, "abcd")
    Files.setLastModifiedTime(part, partTime)
    Files.setLastModifiedTime(dir, dirTime)
    assert(Files.getLastModifiedTime(dir) == dirTime)
    val fresh = get()
    assert(builds == 2, "the rewritten source served the stale artifact")
    assert(fresh != old)
    assert(exists(fresh))
    assert(!exists(old), s"superseded root $old still on disk")
    assert(get() == fresh && builds == 2)
  }

  test("a derive of another kind nested inside a build returns without " +
      "throwing") {
    val src = source("abc").toString
    // enough distinct keys that nested inserts share map bins: a
    // computeIfAbsent-based cache throws "Recursive update" here
    val pairs = (0 until 64).map { i =>
      var inner = ""
      val outer = Artifacts.derive(s"outer$i", src) { _ =>
        inner = Artifacts.derive(s"inner$i", src) { _ => () }
      }
      (outer, inner)
    }
    pairs.foreach { case (outer, inner) =>
      assert(exists(outer) && exists(inner) && outer != inner)
    }
    // both kinds are now served without another build
    assert(Artifacts.derive("inner0", src) { _ => fail("rebuilt") } ==
      pairs.head._2)
  }

  test("drainNanos counts a nested build once") {
    val src = source("abc").toString
    Artifacts.drainNanos()
    val t0 = System.nanoTime()
    Artifacts.derive("meter_outer", src) { _ =>
      Thread.sleep(100)
      Artifacts.derive("meter_inner", src) { _ => Thread.sleep(100) }
    }
    val wall = System.nanoTime() - t0
    val metered = Artifacts.drainNanos()
    assert(metered >= 200L * 1000 * 1000)
    assert(metered <= wall, s"metered $metered ns > wall $wall ns: " +
      "the nested build was counted twice")
    assert(Artifacts.drainNanos() < 1000L * 1000, "drain did not reset")
  }

  test("a build that throws leaves no entry and no directory behind") {
    val src = source("abc").toString
    var root = ""
    intercept[IllegalStateException] {
      Artifacts.derive("boom", src) { r =>
        root = r
        throw new IllegalStateException("build failed")
      }
    }
    assert(root.nonEmpty && !exists(root))
    assert(exists(Artifacts.derive("boom", src) { _ => () }))
  }

  /** A parquet table `t.parquet` of (k, v) rows under a fresh directory. */
  private def table(rows: (Int, String)*): Path = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_read_spec")
    sources += dir
    rows.toDF("k", "v").coalesce(1).write.parquet(s"$dir/t.parquet")
    dir
  }

  private def rowsOf(df: DataFrame): Seq[(Int, String)] =
    df.collect().map(r => (r.getInt(0), r.getString(1))).toSeq.sortBy(_._1)

  test("a second read of an unchanged path submits no Spark job") {
    val path = s"${table(1 -> "a", 2 -> "b")}/t.parquet"
    assert(jobsOf(Artifacts.read(spark, path)).nonEmpty,
      "the first read infers the schema with a job")
    var again: DataFrame = null
    assert(jobsOf { again = Artifacts.read(spark, path) }.isEmpty)
    assert(again eq Artifacts.read(spark, path))
  }

  test("an in-place rewrite with a changed size returns the new rows") {
    val dir = table(1 -> "a", 2 -> "b")
    val path = s"$dir/t.parquet"
    assert(rowsOf(Artifacts.read(spark, path)) == Seq(1 -> "a", 2 -> "b"))
    // the same part-file name (and checksum sidecar), new bytes, every
    // mtime put back
    def files(p: String) = Files.list(Paths.get(p)).iterator.asScala
      .filter(_.getFileName.toString.contains("part-")).toSeq.sortBy(_.getFileName.toString)
    val old = files(path)
    val times = (old :+ Paths.get(path)).map(p => p -> Files.getLastModifiedTime(p))
    // (a new column too: a reused relation would keep the old schema)
    val other = {
      import spark.implicits._
      val d = Files.createTempDirectory("graft_read_spec")
      sources += d
      Seq((1, "a", 10L), (3, "c", 30L)).toDF("k", "v", "w")
        .coalesce(1).write.parquet(s"$d/t.parquet")
      files(s"$d/t.parquet")
    }
    assert(old.size == 2 && other.size == 2 &&
      Files.size(other.last) != Files.size(old.last))
    old.zip(other).foreach { case (o, n) =>
      Files.copy(n, o, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    times.foreach { case (p, t) => Files.setLastModifiedTime(p, t) }
    val fresh = Artifacts.read(spark, path)
    assert(fresh.columns.toSeq == Seq("k", "v", "w"))
    assert(fresh.collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
      .toSeq.sortBy(_._1) == Seq((1, "a", 10L), (3, "c", 30L)))
  }

  test("two sessions get distinct frames") {
    val path = s"${table(1 -> "a")}/t.parquet"
    val other = spark.newSession()
    val mine = Artifacts.read(spark, path)
    val theirs = Artifacts.read(other, path)
    assert(!(mine eq theirs))
    assert((mine.sparkSession eq spark) && (theirs.sparkSession eq other))
    assert(Artifacts.read(other, path) eq theirs)
  }

  test("two loads of one table join through aliased columns") {
    val dir = table(1 -> "x", 2 -> "y", 2 -> "z", 3 -> "w").toString
    val a = Tables.load(spark, dir, "t").as("a")
    val b = Tables.load(spark, dir, "t").as("b")
    val got = a.join(b, col("a.k") === col("b.k") && col("a.v") < col("b.v"))
      .select(col("a.k"), col("a.v"), col("b.v")).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2))).toSeq
    assert(got == Seq((2, "y", "z")))
  }

  test("the same join through Dataset column references fails to resolve " +
      "instead of returning wrong rows") {
    val dir = table(1 -> "x", 2 -> "y", 2 -> "z", 3 -> "w").toString
    val a = Tables.load(spark, dir, "t")
    val b = Tables.load(spark, dir, "t")
    intercept[AnalysisException] {
      a.join(b, a("k") === b("k") && a("v") < b("v")).collect()
    }
  }

  test("a warm re-run of profile_columns compiles no new class") {
    def run() = graft.operators.DataProfile.profileColumns(spark, sfDir).collect()
    val first = run()
    val compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    assert(run().toSeq == first.toSeq)
    assert(CodegenMetrics.METRIC_COMPILATION_TIME.getCount == compiled,
      "the warm run recompiled generated classes")
  }
}
