package graft.scale

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Tables

/** Oracle-checked keys for the bucketed-layout scale path (SURVEY.md §7's
  * co-located joins, promoted from ScaleSpec's plan-only proof to full
  * CORRECTNESS rows).
  *
  * Bucketing is the batch answer to "this join/aggregate shuffles the fact
  * table every single run": pay the exchange ONCE at write time
  * (`Scale.writeBucketed` — bucketBy + sortBy on the join key), and every
  * subsequent join or aggregation keyed on the bucket column reads
  * pre-partitioned files whose HashPartitioning satisfies the operator's
  * required distribution — zero Exchange nodes in the steady-state plan.
  * At 100 TB this is the difference between re-shuffling ~100 TB per daily
  * join of two fact tables and shuffling nothing at all; the specs pin the
  * exchange-free plans, the oracles pin that the layout never changes the
  * answer.
  */
object ScaleQueries {

  type Q = (SparkSession, String) => DataFrame

  private val runId = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stageCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  /** Stage orders + lineitem as co-bucketed (8 buckets, same key) catalog
    * tables, once per (dir, name/mtime/size fingerprint) per session — the
    * write is the one-time exchange the read path then never pays (the bench's
    * repeated passes measure the steady state, exactly as a nightly job
    * over an OPTIMIZE'd layout would run). Names are pid/run-unique so a
    * leftover warehouse dir from a previous JVM can never collide. */
  private[scale] def bucketedPair(s: SparkSession, dir: String): (String, String) = {
    val fp = graft.sink.Sinks.metadataFingerprint(s"$dir/orders.parquet") + "|" +
      graft.sink.Sinks.metadataFingerprint(s"$dir/lineitem.parquet")
    // unlike the file-staging caches, this one stages CATALOG tables,
    // which die with their session — key on the session identity too so
    // a second session in the same JVM restages instead of resolving a
    // table name the first session registered
    stageCache.computeIfAbsent(
      s"${System.identityHashCode(s)}@$dir@$fp", { _ =>
      val n = runId.incrementAndGet()
      val pid = ProcessHandle.current().pid()
      val ot = s"graft_orders_b_${pid}_$n"
      val lt = s"graft_lineitem_b_${pid}_$n"
      val wh = s.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
      for (t <- Seq(ot, lt)) {
        s.sql(s"DROP TABLE IF EXISTS $t")
        graft.sink.Sinks.deleteDir(s"$wh/$t")
        // names are pid-unique, so leftovers from a crashed JVM would pile
        // up forever — sweep this session's staged layouts on exit (the
        // stagedOnce discipline; the catalog dies with the session anyway)
        sys.addShutdownHook(graft.sink.Sinks.deleteDir(s"$wh/$t"))
      }
      Scale.writeBucketed(Tables.load(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("decimal(18,4)").as("o_total")),
        ot, "o_orderkey", 8)
      Scale.writeBucketed(Tables.load(s, dir, "lineitem")
        .select(col("l_orderkey"),
          col("l_extendedprice").cast("decimal(18,4)").as("l_price")),
        lt, "l_orderkey", 8)
      (ot, lt)
    })
  }

  // ---- join_bucketed_colocated ----------------------------------------------
  // Fact-to-fact join over the co-bucketed layout: orders ⋈ lineitem on
  // the bucket key as a sort-merge join (merge hint — broadcast would also
  // be exchange-free here, but only because sf-test lineitem is small; SMJ
  // is the plan that holds when BOTH sides are 50 TB). Each side's scan
  // reports HashPartitioning(key, 8), which satisfies the join's required
  // distribution, so the zipper runs with NO Exchange anywhere below it
  // (spec-pinned on the executed plan). The oracle is the plain join —
  // layout must never change the answer.
  /** Join stage only (pre-aggregate) — exposed so the spec can pin the
    * exchange-free sub-plan without the report agg's own shuffle in the
    * way. */
  private[scale] def colocatedJoin(s: SparkSession, dir: String): DataFrame = {
    val (ot, lt) = bucketedPair(s, dir)
    s.table(ot).hint("merge")
      .join(s.table(lt), col("o_orderkey") === col("l_orderkey"))
  }

  def joinBucketedColocated(s: SparkSession, dir: String): DataFrame =
    colocatedJoin(s, dir)
      .groupBy(col("o_orderstatus").as("status"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_price")), 2).cast("double").as("revenue"))
      .orderBy(col("status"))

  private val joinBucketedColocatedOracle =
    """SELECT o_orderstatus AS status, COUNT(*) AS n_items,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- agg_bucketed_colocated -----------------------------------------------
  // Keyed aggregation over the bucketed layout: groupBy on the bucket
  // column needs ClusteredDistribution(l_orderkey), which the scan's
  // HashPartitioning(l_orderkey, 8) already provides — the aggregate runs
  // in the scan's own stage, no partial/final split across an exchange
  // (spec-pinned: zero shuffles below the result sort). This is the
  // per-entity rollup (per-document stats, per-user features) every
  // pipeline runs daily; on a bucketed table it costs exactly one scan.
  /** Aggregate stage only (pre-sort) — for the spec's plan pin. */
  private[scale] def colocatedAgg(s: SparkSession, dir: String): DataFrame = {
    val (_, lt) = bucketedPair(s, dir)
    s.table(lt)
      .groupBy(col("l_orderkey").as("orderkey"))
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_price")), 2).cast("double").as("revenue"))
  }

  def aggBucketedColocated(s: SparkSession, dir: String): DataFrame =
    colocatedAgg(s, dir).orderBy(col("orderkey"))

  private val aggBucketedColocatedOracle =
    """SELECT l_orderkey AS orderkey, COUNT(*) AS n_items,
      |       CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,4))), 2) AS DOUBLE) AS revenue
      |FROM lineitem GROUP BY 1 ORDER BY 1""".stripMargin

  val queries: Map[String, Q] = Map[String, Q](
    "join_bucketed_colocated" -> (joinBucketedColocated _),
    "agg_bucketed_colocated" -> (aggBucketedColocated _))

  val oracles: Map[String, String] = Map(
    "join_bucketed_colocated" -> joinBucketedColocatedOracle,
    "agg_bucketed_colocated" -> aggBucketedColocatedOracle)
}
