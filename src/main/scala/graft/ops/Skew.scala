package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Skew mitigation for hot join keys.
  *
  * WHEN TO PREFER WHICH (measured at sf10 — 60M fact rows, synthetic hot
  * key; PLANS.md "Round-15: q143 skew record"): for a sort-merge equi-join, AQE's runtime
  * skew split beats explicit salting OUTRIGHT — at a 60%-hot key, AQE
  * skew-join 4.4 s vs salted 13.9 s vs naive 18.0 s; at 30%-hot, AQE
  * 9.8 s vs salted 12.6 s vs naive 10.3 s. Salting pays an
  * unconditional bill (factor× dim replication + a fatter shuffle key)
  * whether or not skew materializes, while AQE splits only the
  * partitions that actually ran hot. So: leave
  * `spark.sql.adaptive.skewJoin` on and use the PLAIN join as the
  * default. Reach for [[saltedJoin]] only where AQE cannot act — a
  * shuffled-hash-join path, AQE disabled/unavailable, or when the plan
  * must be deterministic ahead of time — and for
  * [[saltedDistinctCount]]-style aggregations whose functions have no
  * partial pushdown (AQE does not split aggregation keys).
  *
  * `saltedJoin`: the skewed (large) side gets a DETERMINISTIC salt in
  * [0, factor) derived from a hash of its whole row, splitting each hot
  * key into `factor` sub-keys; the other side is replicated `factor`
  * times. One shuffle on (key, salt); each sub-key lands on a different
  * task. Deterministic (no rand()) so results are replayable.
  */
object Skew {

  def withSalt(df: DataFrame, factor: Int, saltCol: String = "__salt"): DataFrame =
    df.withColumn(saltCol,
      pmod(hash(df.columns.map(col): _*), lit(factor)).cast("int"))

  def replicated(df: DataFrame, factor: Int, saltCol: String = "__salt"): DataFrame =
    df.withColumn(saltCol, explode(sequence(lit(0), lit(factor - 1))))
      .withColumn(saltCol, col(saltCol).cast("int"))

  /** Inner/left join `skewed ⋈ other` on `keys`, salted `factor` ways. */
  def saltedJoin(skewed: DataFrame, other: DataFrame, keys: Seq[String],
      factor: Int, joinType: String = "inner"): DataFrame = {
    val l = withSalt(skewed, factor)
    val r = replicated(other, factor)
    l.join(r, keys :+ "__salt", joinType).drop("__salt")
  }

  /** Two-phase grouped aggregation with an explicit salt: partial agg on
    * (key, salt), final agg on key. Spark's hash aggregate already does
    * partial+final map-side combine; this variant exists for agg functions
    * without partial pushdown (e.g. exact collect-based ones) where a hot
    * key would otherwise serialize into one reducer.
    */
  def saltedDistinctCount(df: DataFrame, key: Column, value: Column, factor: Int): DataFrame =
    df.withColumn("__salt", pmod(hash(value), lit(factor)))
      .groupBy(key.as("k"), col("__salt"))
      .agg(countDistinct(value).as("partial"))
      .groupBy(col("k"))
      .agg(sum(col("partial")).as("n_distinct"))
}
