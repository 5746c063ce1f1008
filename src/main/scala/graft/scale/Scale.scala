package graft.scale

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale utilities for the 100 TB posture (SURVEY.md §7): co-located joins
  * via bucketing, and salting for skewed join keys. Both are plain
  * declarative transforms — Catalyst/AQE still owns planning.
  */
object Scale {

  /** Persist a table bucketed + sorted on its join key. Two tables bucketed
    * the same way join with NO shuffle (bucket-local sort-merge): the
    * exchange is paid once at write time, then every subsequent join of the
    * co-bucketed tables is free. This is the batch analog of co-partitioned
    * state in a streaming join. The files go under `path`, so the table
    * name need not be unique to keep two JVMs' warehouses apart. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).format("parquet").option("path", path)
      .bucketBy(buckets, key).sortBy(key).saveAsTable(table)

  /** Salted equi-join for skewed keys: the big side gets a deterministic
    * salt derived from a row-unique column (hash % salts), the small side is
    * exploded to every salt value — a hot key's rows spread over `salts`
    * tasks instead of one straggler. Inner/left semantics preserved: each
    * big row matches exactly one replica of its key. AQE's skew-join split
    * handles moderate skew automatically; explicit salting is for the
    * pathological keys AQE can't split (single-key partitions). */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salts: Int, bigUniqueCol: String, joinType: String = "inner"): DataFrame = {
    val b = big.withColumn("__salt",
      pmod(hash(col(bigUniqueCol)), lit(salts)).cast("int"))
    val s = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salts - 1))))
    b.join(s, Seq(key, "__salt"), joinType).drop("__salt")
  }
}
