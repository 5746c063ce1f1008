package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.concurrent.Eventually._
import org.scalatest.time.SpanSugar._

import graft.operators.GraphOps

/** The round driver's contract: the loud cap failure, the bounded exit,
  * round and row counts on a planted chain, and the round job names. */
class IterateSpec extends SparkSpec {

  test("an until-stable loop that reaches its cap fails, naming tag and cap") {
    var rounds = 0
    val e = intercept[IllegalArgumentException] {
      Iterate.untilStable("never_settles", 3, 0) { (s, _) =>
        rounds += 1
        (s + 1, false)
      }
    }
    assert(e.getMessage.contains("never_settles did not converge in 3 rounds"),
      e.getMessage)
    assert(rounds == 3)
    // a loop that settles stops at its first stable round
    assert(Iterate.untilStable("settles", 5, 0)((s, r) => (s + 1, r == 2)) == ((2, 2)))
  }

  test("a bounded loop returns its state at the cap without failing") {
    assert(Iterate.upTo("bounded", 3, 0)((s, _) => (s + 1, false)) == ((3, 3)))
    assert(Iterate.upTo("bounded", 10, 0)((s, r) => (s + 1, r == 4)) == ((4, 4)))
  }

  /** Directed chain 0 → 1 → … → 5 (src, dst). */
  private def chain(): DataFrame = {
    import spark.implicits._
    (0L until 5L).map(i => (i, i + 1)).toDF("src", "dst")
  }

  test("planted chain: rounds and per-round frontier rows match the hand count") {
    import spark.implicits._
    val edges = chain()
    val start = Iterate.checkpoint(Seq(0L).toDF("node"))
    val sizes = Seq.newBuilder[Long]
    val ((settled, _), rounds) = Iterate.upTo("chain_walk", 32, (start, start)) {
      case ((known, frontier), _) =>
        val nxt = Iterate.checkpoint(edges
          .join(frontier.df, col("src") === col("node"))
          .select(col("dst").as("node"))
          .join(known.df, Seq("node"), "left_anti").distinct())
        sizes += nxt.rows
        if (nxt.rows == 0) ((known, nxt), true)
        else ((Iterate.checkpoint(known.df.union(nxt.df), known.rows + nxt.rows),
          nxt), false)
    }
    // levels 1..5 reach nodes 1..5 one at a time; level 6 reaches nothing
    assert(sizes.result() == Seq(1L, 1L, 1L, 1L, 1L, 0L))
    assert(rounds == 6)
    assert(settled.rows == 6L && settled.df.count() == 6L)
  }

  test("round jobs are named '<tag> round <r>'; the caller's description comes back") {
    val sc = spark.sparkContext
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        seen.add(Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobDescription("caller")
      val sym = chain().union(chain().select(col("dst"), col("src")))
      // min-label propagation on the symmetric path 0 - 1 - … - 5: node i
      // takes label 0 in round i, so rounds 1..5 change labels and round
      // 6 is the first stable one
      val labels = GraphOps.minLabelCc(sym, "chain_cc", 16).collect()
      assert(sc.getLocalProperty("spark.job.description") == "caller")
      assert(labels.length == 6 && labels.forall(_.getLong(1) == 0L))
      sc.setJobDescription("marker")
      spark.range(1).count()
      // listener events arrive in order: once the marker is in, all are
      eventually(timeout(30.seconds)) { assert(seen.contains("marker")) }
      val all = seen.asScala.toSeq
      assert(all.filter(_.startsWith("chain_cc")).toSet ==
        (1 to 6).map(r => s"chain_cc round $r").toSet)
      // the initial checkpoint ran before round 1, the collect after the
      // loop: both under the caller's description
      assert(all.count(_ == "caller") >= 2, all)
    } finally {
      sc.removeSparkListener(listener)
      sc.setJobDescription(null)
    }
  }
}
