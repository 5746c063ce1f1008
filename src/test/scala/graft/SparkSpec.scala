package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.Eventually._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.SpanSugar._

/** Shared local SparkSession for specs: the library's own session recipe
  * on 4 cores, so every spec sees what the mains run on. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = Session.local(cpus = 4)

  override def afterAll(): Unit = {
    // keep the session for sibling suites (same JVM under sbt test)
    super.afterAll()
  }

  /** Descriptions of the jobs `work` submits from this thread, the
    * listener bus drained. */
  def jobsOf(work: => Unit): Seq[String] = {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("probe")
      work
      sc.setJobDescription("marker")
      spark.range(1).count()
      eventually(timeout(30.seconds)) { assert(seen.contains("marker")) }
      seen.asScala.toSeq.filter(_ == "probe")
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }

  /** sf0.001 testdata — the smallest deterministic fixture set. */
  val sfDir = "/root/testdata/sf0.001"
}
