package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for joins on hot keys — the standard salting pattern
  * plus Spark-native AQE notes.
  *
  * When one join key dominates (a single hot `group_id`/`table_oid` at
  * 100 TB), hash partitioning sends the whole key to one task. Salting
  * splits the hot side's rows across `saltFactor` sub-keys and replicates
  * the build side once per salt, restoring parallelism at the cost of a
  * `saltFactor`× build-side copy. AQE's skew-join handles sort-merge skew
  * automatically (`spark.sql.adaptive.skewJoin.enabled`, on by default);
  * salting remains the tool for aggregate-free broadcast misses and
  * stateful keys.
  */
object Skew {

  /** Equi-join `left` (large, possibly skewed) with `right` (small/medium)
    * on `key`, salting the left side over `saltFactor` buckets and
    * exploding the right side to every salt value.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, key: String,
      saltFactor: Int, joinType: String = "inner"): DataFrame = {
    val salted = left.withColumn("__salt",
      pmod(hash(col(key), monotonically_increasing_id()), lit(saltFactor)))
    val replicated = right.withColumn("__salt",
      explode(sequence(lit(0), lit(saltFactor - 1))))
    salted.join(replicated, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Salted aggregation: two-phase count/sum over a skewed key — partial
    * per (key, salt), then final per key. Spark's hash aggregate already
    * does map-side partials; this form additionally splits the REDUCE of a
    * hot key across tasks.
    */
  def saltedCount(df: DataFrame, key: String, saltFactor: Int): DataFrame =
    df.withColumn("__salt",
        pmod(hash(col(key), monotonically_increasing_id()), lit(saltFactor)))
      .groupBy(col(key), col("__salt")).agg(count(lit(1)).as("partial_n"))
      .groupBy(col(key)).agg(sum("partial_n").as("n"))
}
