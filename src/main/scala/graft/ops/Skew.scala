package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Manual skew mitigation. Spark's AQE skew-join handles skewed joins
  * at runtime (and stays enabled in our sessions); AQE cannot split a
  * groupBy where one key owns most rows. Two-phase salted agg splits that
  * hot group into `salts` partials before the final combine.
  */
object Skew {

  /** Deterministic row salt: xxhash64 over every column PLUS the partition
    * id, mod `salts`. Recomputation after a fetch retry yields the same
    * value (partition ids are stable across retries; xxhash64 is pure),
    * unlike monotonically_increasing_id — and mixing in the partition id
    * keeps content-identical rows spreading across salts when they live
    * in different partitions (a pure content hash would collapse a hot
    * key of identical rows onto ONE salt, silently reinstating the
    * straggler). Identical rows within one input partition still share a
    * salt — they are one task's local data either way. */
  private[ops] def rowSalt(df: DataFrame, salts: Int): Column =
    pmod(xxhash64((df.columns.map(col) :+ spark_partition_id()).toIndexedSeq: _*),
      lit(salts.toLong)).cast("int")

  /** Two-phase aggregation for skewed group keys: partial-aggregate on
    * (key, salt), then final-combine on key. `partial` and `combine`
    * must form a semigroup on the aggregated column (sum/sum, count/sum,
    * min/min, max/max...). */
  def saltedAgg(df: DataFrame, key: String, salts: Int,
                partial: Column => Column, combine: Column => Column,
                valueCol: String, outCol: String): DataFrame =
    df.withColumn("__salt", rowSalt(df, salts))
      .groupBy(col(key), col("__salt"))
      .agg(partial(col(valueCol)).as("__p"))
      .groupBy(col(key))
      .agg(combine(col("__p")).as(outCol))
}
