package graft.scale

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.model.Tables

/** Plan-level proof of the scale utilities. */
class ScaleSpec extends SparkSpec {

  test("co-bucketed tables join without a shuffle") {
    val orders = Tables.load(spark, sfDir, "orders")
    val lineitem = Tables.load(spark, sfDir, "lineitem")
    // a fresh metastore + a leftover warehouse dir from a previous JVM
    // collide on LOCATION_ALREADY_EXISTS: drop both first
    val wh = spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:")
    for (t <- Seq("orders_b", "lineitem_b")) {
      spark.sql(s"DROP TABLE IF EXISTS $t")
      graft.sink.Sinks.deleteDir(s"$wh/$t")
    }
    Scale.writeBucketed(orders.select("o_orderkey", "o_totalprice"),
      "orders_b", "o_orderkey", 8, s"$wh/orders_b")
    Scale.writeBucketed(lineitem.select("l_orderkey", "l_extendedprice"),
      "lineitem_b", "l_orderkey", 8, s"$wh/lineitem_b")

    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("orders_b").join(spark.table("lineitem_b"),
        col("o_orderkey") === col("l_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed join must not shuffle:\n$plan")
      assert(joined.count() ==
        orders.join(lineitem, col("o_orderkey") === col("l_orderkey")).count())
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("salted join returns exactly the plain join's rows") {
    val events = Tables.load(spark, sfDir, "events")
      .select("event_id", "user_id", "value")
    val customer = Tables.load(spark, sfDir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val plain = events.join(customer, Seq("user_id"))
      .select("event_id", "c_mktsegment")
    val salted = Scale.saltedJoin(events, customer, "user_id",
      salts = 7, bigUniqueCol = "event_id")
      .select("event_id", "c_mktsegment")
    assert(salted.count() == plain.count())
    assert(salted.exceptAll(plain).count() == 0)
    assert(plain.exceptAll(salted).count() == 0)
  }

  test("salting spreads a hot key over multiple salt values") {
    import spark.implicits._
    // one pathological key: 10k rows on key 42
    val big = (1 to 10000).map(i => (42L, i.toLong)).toDF("k", "row_id")
    val small = Seq((42L, "hot")).toDF("k", "tag")
    val salted = big.withColumn("__salt",
      pmod(hash(col("row_id")), lit(7)).cast("int"))
    val spread = salted.groupBy("__salt").count().collect()
    assert(spread.length == 7, "hash salt must hit every bucket")
    assert(spread.map(_.getAs[Long]("count")).max < 3000,
      "no single salt bucket holds the whole hot key")
    val joined = Scale.saltedJoin(big, small, "k", 7, "row_id")
    assert(joined.count() == 10000)
  }

  test("AQE skew-join splits the UNSALTED hot key (the automatic path)") {
    import spark.implicits._
    // one pathological key: half of 50k rows land on k=42, padded so the
    // hot shuffle partition is megabytes while the median is tiny
    // pad must be per-row (lpad of the id), not a foldable literal —
    // otherwise Catalyst re-projects it after the join and the shuffle
    // stays tiny
    val big = spark.range(0, 50000).select(
      when(col("id") % 2 === 0, lit(42L)).otherwise(col("id")).as("k"),
      col("id").as("row_id"),
      lpad(col("id").cast("string"), 200, "x").as("pad"))
    val small = spark.range(0, 50000)
      .select(col("id").as("k"), (col("id") % 97).as("tag"))
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      // scale the 256MB-class production thresholds down to the fixture
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64KB")
    val prev = confs.map { case (key, _) =>
      key -> spark.conf.getOption(key) }
    try {
      confs.foreach { case (key, v) => spark.conf.set(key, v) }
      val joined = big.join(small, Seq("k"))
      // materialize THIS query execution (count() would plan a separate
      // one and leave joined's AQE plan unfinalized)
      assert(joined.collect().length == 50000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the join skew-split:\n$plan")
      // semantics unchanged by the split: same aggregate as the plain join
      val viaAqe = joined.agg(sum(col("tag"))).collect()(0).getLong(0)
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val plain = big.join(small, Seq("k")).agg(sum(col("tag")))
        .collect()(0).getLong(0)
      assert(viaAqe == plain)
    } finally prev.foreach {
      case (key, Some(v)) => spark.conf.set(key, v)
      case (key, None) => spark.conf.unset(key)
    }
  }

  test("join_bucketed_colocated: zipper SMJ with zero exchanges (r11)") {
    val join = ScaleQueries.colocatedJoin(spark, sfDir)
    assert(join.count() > 0)
    val plan = join.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"),
      s"co-located fact join must be a sort-merge zipper:\n$plan")
    assert(!plan.contains("Exchange"),
      s"co-bucketed join stage must not shuffle or broadcast:\n$plan")
  }

  test("agg_bucketed_colocated: keyed aggregate in the scan stage, no " +
      "exchange (r11)") {
    val agg = ScaleQueries.colocatedAgg(spark, sfDir)
    assert(agg.count() > 0)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"groupBy on the bucket key must run in the scan's own stage:\n$plan")
  }

  test("bucketed tables' scan nodes carry no per-JVM salt") {
    // plan_fp hashes node names, so a pid in the table name made the
    // colocated keys' fingerprint differ in every JVM
    val pid = ProcessHandle.current().pid().toString
    val scans = ScaleQueries.colocatedJoin(spark, sfDir).queryExecution.sparkPlan
      .collect { case p if p.nodeName.startsWith("Scan") => p.nodeName }
    assert(scans.size == 2, scans)
    assert(scans.forall(n => n.contains("graft_") && !n.contains(pid)), scans)
  }
}
