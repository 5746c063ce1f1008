package graft
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

/** Ad-hoc profiler: `runMain graft.Profile <key> [<key>...]` times each named
  * SparkEntry query (1 warmup + 2 measured, min) on SPARK_GRAFT_SF_DIR and
  * prints a per-Spark-job breakdown of the last measured run — the tool used
  * to find which stage of a multi-job operator (checkpoints, loops) owns the
  * wall time — and that run's formatted physical plan as executed, i.e.
  * with AQE's final choices (a pre-execution `explain` shows only the
  * initial plan). Runs on `Session.local`, the session Bench measures.
  * A diagnostic tool: Bench writes the benchmark artifact.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.local()

    val jobs = scala.collection.mutable.LinkedHashMap[Int, (Long, String)]()
    val ends = scala.collection.mutable.LinkedHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.synchronized {
          jobs(j.jobId) = (j.time, Option(j.properties)
            .flatMap(p => Option(p.getProperty("spark.job.description")))
            .getOrElse("").take(80))
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        ends.synchronized { ends(j.jobId) = j.time }
    })

    // every run's noop write, as executed (listener events arrive in
    // order, so a key's third write is its last measured run)
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical match {
          case w: V2WriteCommand if w.table.name == "noop-table" => writes.put(qe)
          case _ => ()
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }

    args.foreach { name =>
      writes.clear()
      once(name) // warmup
      val t1 = once(name)
      jobs.synchronized(jobs.clear()); ends.synchronized(ends.clear())
      val t2 = once(name)
      println(f"[profile] $name%-28s min=${math.min(t1, t2)}%6.2fs  (p1=$t1%5.2f p2=$t2%5.2f)")
      jobs.foreach { case (id, (start, desc)) =>
        val dur = ends.get(id).map(e => (e - start) / 1e3).getOrElse(-1.0)
        println(f"    job $id%3d ${dur}%7.2fs  $desc")
      }
      val last = (1 to 3).map(_ => Option(writes.poll(60, TimeUnit.SECONDS))).last
      last.foreach(qe => println(qe.explainString(FormattedMode)))
    }
    spark.stop()
  }
}
