package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew-mitigation primitives.
  *
  * AQE's skew-join splitting (on in GraftSession) covers joins; salting
  * covers the aggregation case AQE cannot fix: a groupBy where one key
  * owns a huge share of rows and a single reducer would own that key.
  * [[saltedAgg]] runs the standard two-phase plan: partial aggregate on
  * (key, salt) — spreading the hot key over `salts` reducers — then a
  * final merge on key. Works for any algebraic aggregate (sum/count/min/
  * max and compositions).
  */
object Skew {

  final case class SaltedAggSpec(partial: Seq[Column], merge: Seq[Column])

  /** Two-phase salted sum/count aggregate.
    *
    * @param df     input
    * @param key    group key column name
    * @param salts  number of salt buckets for phase 1
    * @param sums   columns to sum (sum is mergeable: sum of partial sums)
    * @return df grouped by key with `sum_<col>` and `n_rows`
    */
  def saltedAgg(df: DataFrame, key: String, salts: Int, sums: Seq[String]): DataFrame = {
    val salted = df.withColumn("_salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
    val partial = salted
      .groupBy(col(key), col("_salt"))
      .agg(
        count(lit(1)).as("_n"),
        sums.map(c => sum(col(c)).as(s"_s_$c")): _*)
    partial
      .groupBy(col(key))
      .agg(
        sum(col("_n")).as("n_rows"),
        sums.map(c => sum(col(s"_s_$c")).as(s"sum_$c")): _*)
  }
}
