package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for specs: the library's own session recipe
  * on 4 cores, so every spec sees what the mains run on. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(cpus = 4)

  override def afterAll(): Unit = {
    // keep the session for sibling suites (same JVM under sbt test)
    super.afterAll()
  }

  /** sf0.001 testdata — the smallest deterministic fixture set. */
  val sfDir = "/root/testdata/sf0.001"
}
