package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** `Artifacts.derive`: one key rule, one superseded-root policy, nested
  * builds, and the reentrant build meter. */
class ArtifactsSpec extends AnyFunSuite with BeforeAndAfterAll {
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
}
