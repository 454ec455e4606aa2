package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** HyperLogLog with m = 64 registers over a portable 60-bit hash: the one
  * sketch of q139 (distinct words per source), q168 (weekly distinct
  * users) and [[HyperBall]] (q240, q296). Cross-engine exact where it
  * matters: ranks come from bin()-length integer math (no float log2),
  * the harmonic sum is Σ 2^(60 − m) summed through exact decimal, and
  * only the final estimate touches libm (one ln or one division, rounded
  * to 4 digits). Registers merge by MAX, so sketches of shards, days or
  * edge batches re-merge losslessly. */
object Hll {

  val M = 64L
  private val Two60 = 1152921504606846976L // 2^60

  /** (keys..., bucket, m) registers of `df`'s rows: the low 6 bits of
    * `hash60` address the register, and m is the max rank of the other
    * 54 bits (leading zeros + 1 = 55 − bit length). */
  def registers(df: DataFrame, keys: Seq[String], hash60: Column): DataFrame =
    df.withColumn("__h", hash60)
      .withColumn("bucket", col("__h").bitwiseAND(lit(M - 1L)))
      .withColumn("__rest", shiftright(col("__h"), 6))
      .groupBy((keys :+ "bucket").map(col): _*)
      .agg(max(when(col("__rest") === 0L, lit(55))
        .otherwise(lit(55) - length(bin(col("__rest"))))).as("m"))

  /** (keys..., zeros, est) from `registers`: the bias-corrected harmonic
    * mean (alpha_64·m² = 2904.064, both factors written as doubles in the
    * oracle SQL's order) with the small-range linear-counting branch. */
  def estimate(regs: DataFrame, keys: Seq[String]): DataFrame =
    regs.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__np"),
        sum(expr("shiftleft(CAST(1 AS BIGINT), 60 - m)")
          .cast(DecimalType(38, 0))).as("__psum"))
      .withColumn("zeros", lit(M) - col("__np"))
      .withColumn("__sum_d",
        (col("__psum") + col("zeros").cast(DecimalType(38, 0)) *
          lit(Two60).cast(DecimalType(38, 0))).cast("double"))
      .withColumn("__raw",
        lit(2904.064) * lit(Two60).cast("double") / col("__sum_d"))
      .withColumn("est",
        when(col("__raw") <= lit(160.0) && col("zeros") > 0L,
          round(lit(64.0) * log(lit(64.0) / col("zeros").cast("double")), 4))
          .otherwise(round(col("__raw"), 4)))
      .select((keys :+ "zeros" :+ "est").map(col): _*)
}
