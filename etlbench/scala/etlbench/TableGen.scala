package etlbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded generator of the star-schema tables the analytics keys read:
  * region, nation, customer, supplier, part, orders, lineitem, events,
  * documents and embeddings, with the schemas and value domains of the
  * repository's parquet test data (FIXTURES.md §A). `scale` follows the
  * test data's scale factor: lineitem has 6 000 000 × scale rows.
  * Each table is written as a Spark parquet directory `<dir>/<name>.parquet`,
  * which `graft.model.Tables.load` reads like a single file.
  */
object TableGen {
  private val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Colors = Seq("red", "blue", "green", "small", "large", "shiny", "matte", "dark")
  private val Nouns = Seq("widget", "bolt", "ring", "anvil", "gear", "valve", "spring", "clamp")
  private val Types = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val Words = Seq("a", "the", "data", "table", "row", "column", "key", "value",
    "join", "agg", "group", "sort", "filter", "scan", "hash", "merge", "window",
    "stream", "batch", "query", "spark", "order", "line", "part", "customer",
    "small", "big", "fast", "slow", "vector")
  private val Langs = Seq("en", "de", "fr", "es", "zh")

  private def r2(x: Double): Double = math.round(x * 100.0) / 100.0
  private def day(base: LocalDate, plus: Int): Timestamp =
    Timestamp.valueOf(base.plusDays(plus).atStartOfDay())

  def counts(scale: Double): Map[String, Int] = {
    def n(base: Double, min: Int) = math.max(min, math.round(base * scale).toInt)
    Map("region" -> 5, "nation" -> 25, "customer" -> n(1.5e5, 50),
      "supplier" -> n(1e4, 10), "part" -> n(2e5, 50), "orders" -> n(1.5e6, 200),
      "lineitem" -> n(6e6, 800), "events" -> n(1e6, 500),
      "documents" -> math.max(500, math.round(5e4 * scale).toInt),
      "embeddings" -> math.max(500, math.round(2e4 * scale).toInt))
  }

  /** Rows and schema of every table, fully determined by `seed` and `scale`. */
  def tables(seed: Long, scale: Double): Seq[(String, StructType, Seq[Row])] = {
    val c = counts(scale)
    def r(salt: Long) = MondayGen.rng(seed, 100, salt)
    def f(name: String, t: DataType) = StructField(name, t)

    val region = (0 until 5).map(i => Row(i, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val rc = r(1)
    val customer = (0 until c("customer")).map(i => Row(i.toLong, f"Customer#$i%09d",
      rc.nextInt(25), r2(-999.99 + rc.nextDouble() * 10999.98), Segments(rc.nextInt(5))))
    val rs = r(2)
    val supplier = (0 until c("supplier")).map(i => Row(i.toLong, f"Supplier#$i%09d",
      rs.nextInt(25), r2(-999.99 + rs.nextDouble() * 10999.98)))
    val rp = r(3)
    val part = (0 until c("part")).map(i => Row(i.toLong,
      s"${Colors(rp.nextInt(8))} ${Nouns(rp.nextInt(8))}", s"Brand#${1 + rp.nextInt(25)}",
      Types(rp.nextInt(6)), 1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0))
    val ro = r(4)
    val d0 = LocalDate.of(1995, 1, 1)
    val orders = (0 until c("orders")).map(i => Row(i.toLong,
      ro.nextInt(c("customer")).toLong, Seq("F", "O", "P")(ro.nextInt(3)),
      r2(1000 + ro.nextDouble() * 499000), day(d0, ro.nextInt(2400)),
      Priorities(ro.nextInt(5))))
    val rl = r(5)
    val lineitem = (0 until c("lineitem")).map { _ =>
      val qty = (1 + rl.nextInt(50)).toDouble
      Row(rl.nextInt(c("orders")).toLong, rl.nextInt(c("part")).toLong,
        rl.nextInt(c("supplier")).toLong, 1 + rl.nextInt(7), qty,
        r2(qty * (900 + rl.nextDouble() * 1200)), rl.nextInt(11) / 100.0,
        rl.nextInt(9) / 100.0, Seq("A", "N", "R")(rl.nextInt(3)),
        Seq("O", "F")(rl.nextInt(2)), day(d0.plusDays(1), rl.nextInt(2500)))
    }
    val re = r(6)
    val nEvents = c("events")
    val t0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val spanMicros = 30L * 86400L * 1000000L
    val events = (0 until nEvents).map { i =>
      val micros = (spanMicros * i) / nEvents + re.nextLong(spanMicros / nEvents)
      Row(i.toLong, Timestamp.valueOf(t0.plusNanos(micros * 1000L)),
        re.nextInt(150).toLong, EventTypes(re.nextInt(5)),
        r2(math.max(0.01, -50.0 * math.log(1.0 - re.nextDouble()))),
        s"""{"k": ${re.nextInt(100)}}""")
    }
    val rd = r(7)
    // about one document in sixteen is a near-copy of an earlier one (one
    // word replaced), so the dedup keys find pairs and clusters
    val texts = scala.collection.mutable.ArrayBuffer[Array[String]]()
    val documents = (0 until c("documents")).map { i =>
      val words =
        if (i >= 20 && rd.nextInt(16) == 0) {
          val w = texts(rd.nextInt(i)).clone()
          w(rd.nextInt(w.length)) = Words(rd.nextInt(Words.size))
          w
        } else Array.fill(8 + rd.nextInt(80))(Words(rd.nextInt(Words.size)))
      texts += words
      val text = words.mkString(" ")
      Row(i.toLong, text, Langs(rd.nextInt(5)), s"src${i % 20}", text.length.toLong)
    }
    val rv = r(8)
    val centers = Array.fill(10, 64)((rv.nextDouble() - 0.5) * 0.3)
    val embeddings = (0 until c("embeddings")).map { i =>
      val label = rv.nextInt(10)
      Row(i.toLong, centers(label).toSeq.map(x => (x + (rv.nextDouble() - 0.5) * 0.2).toFloat), label)
    }

    Seq(
      ("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))), region),
      ("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), nation),
      ("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))), customer),
      ("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))), supplier),
      ("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))), part),
      ("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampType), f("o_orderpriority", StringType))), orders),
      ("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampType))), lineitem),
      ("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))), events),
      ("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))), documents),
      ("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))), embeddings))
  }

  /** Write every table under `dir`; returns the bytes written. */
  def write(spark: SparkSession, dir: String, seed: Long, scale: Double): Long = {
    tables(seed, scale).foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    }
    Files.bytesUnder(dir)
  }
}

object Files {
  def bytesUnder(dir: String): Long = filesUnder(dir).map(_.length).sum

  def filesUnder(dir: String): Seq[java.io.File] = {
    val root = new java.io.File(dir)
    if (!root.exists()) Nil
    else {
      val st = java.nio.file.Files.walk(root.toPath)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.map(_.toFile).filter(f => f.isFile &&
          !f.getName.startsWith(".") && !f.getName.startsWith("_")).toList
      } finally st.close()
    }
  }
}
