package graft
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** sf1 rehearsal data: replicate the sf0.1 tables `factor`x with shifted
  * keys (r10 VERDICT item 2 — "no bench run exists above sf0.1"; the
  * driver's generator is fixed at sf<=0.1, so the rehearsal corpus derives
  * from the largest committed fixture).
  *
  * Referential integrity is preserved per replica: every key column shifts
  * by the same replica offset on both sides of each FK (custkey/orderkey/
  * partkey/suppkey/doc_id/vec_id/user_id), so joins produce factor x the
  * matches of sf0.1 — the same growth a real 10x corpus gives them.
  *
  * Two columns are PERTURBED rather than copied, so the rehearsal stresses
  * the same candidate-set growth a real corpus would:
  *  - documents.text runs through a per-replica alphabet rotation
  *    (translate of the 26 lowercase letters) — token structure, length
  *    and per-doc duplicate families survive, but shingle sets across
  *    replicas are disjoint, so dedup candidate volume grows linearly
  *    (10 exact copies of every doc would grow verify pairs 45x instead);
  *  - embeddings get a small per-replica offset on one stripe of
  *    dimensions, keeping replicas from being bit-equal vectors.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = Session.local()

    val K = 10L * 1000 * 1000 // key-domain stride per replica

    def write(table: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      (0 until factor).map(i => f(base, i)).reduce(_ unionAll _)
        .write.mode("overwrite").parquet(s"$out/$table.parquet")
      println(s"scaled $table x$factor")
    }
    def shift(d: DataFrame, i: Int, keys: String*): DataFrame =
      keys.foldLeft(d)((acc, k) => acc.withColumn(k, col(k) + lit(i * K)))

    // dims stay as-is (broadcast-sized by design at any factor)
    Seq("region", "nation").foreach { t =>
      spark.read.parquet(s"$src/$t.parquet")
        .write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
    write("customer")((d, i) => shift(d, i, "c_custkey"))
    write("supplier")((d, i) => shift(d, i, "s_suppkey"))
    write("part")((d, i) => shift(d, i, "p_partkey"))
    write("orders")((d, i) => shift(d, i, "o_orderkey", "o_custkey"))
    write("lineitem")((d, i) =>
      shift(d, i, "l_orderkey", "l_partkey", "l_suppkey"))
    write("events")((d, i) => shift(d, i, "event_id", "user_id"))
    val abc = "abcdefghijklmnopqrstuvwxyz"
    write("documents") { (d, i) =>
      val rot = abc.drop(i % 26) + abc.take(i % 26)
      shift(d, i, "doc_id")
        .withColumn("text",
          if (i == 0) col("text") else translate(col("text"), abc, rot))
    }
    write("embeddings") { (d, i) =>
      shift(d, i, "vec_id").withColumn("embedding",
        if (i == 0) col("embedding")
        else expr(s"transform(embedding, (x, j) -> " +
          s"CASE WHEN j % $factor = $i THEN CAST(x + ${i * 0.03} AS FLOAT) " +
          s"ELSE x END)"))
    }
    spark.stop()
  }
}
