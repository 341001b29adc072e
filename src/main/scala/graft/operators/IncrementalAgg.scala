package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental aggregate maintenance (100 TB design, SCALING.md):
  * the reference rebuilds every gold table from the FULL silver table on
  * each daily run (`05_gold_aggregation.py` reads all of silver) — at
  * scale that is a daily full-table scan to absorb one day of rows.
  * Maintained aggregates instead keep a mergeable STATE per group
  * (count, sum, sum-of-squares, min, max) and fold each increment's
  * partial state in: work per run tracks the increment, not the table.
  *
  * All five state measures form commutative monoids, so
  * `merge(state(A), state(B)) == state(A ∪ B)` EXACTLY: the sums are
  * decimal-backed (each input rounds once to the 1e-10 grid; decimal
  * addition is exact), so fold-of-increments is bit-identical to direct
  * aggregation regardless of batch boundaries, partitioning, or merge
  * order — at 100 TB that means snapshot diffs between maintained and
  * rebuilt gold tables are empty rather than "within tolerance".
  * Derived measures (avg, sample stddev) are computed at read time from
  * the state — never stored, never drift.
  *
  * Applicability: APPEND-ONLY facts (each row contributes exactly once).
  * Under upserts an updated row would double-count; maintaining
  * aggregates over updating facts needs retraction state (old-value
  * subtraction), and min/max cannot be retracted at all. That is why
  * [[graft.pipeline.SeismicPipeline]] — whose silver layer is a MERGE
  * target and whose gold carries `max_magnitude` — recomputes gold per
  * partition instead: a gold group lies inside one silver `(year, month)`
  * partition, so re-aggregating the partitions a run rewrote and keeping
  * the other groups is exact and still costs O(touched partitions).
  */
object IncrementalAgg {

  private val Dec = org.apache.spark.sql.types.DecimalType(28, 10)

  /** Mergeable state of `valueCol` grouped by `keys`. */
  def partialState(df: DataFrame, keys: Seq[String],
      valueCol: String): DataFrame =
    df.groupBy(keys.map(col): _*).agg(
      count(col(valueCol)).as("state_cnt"),
      sum(col(valueCol).cast(Dec)).as("state_sum"),
      sum((col(valueCol) * col(valueCol)).cast(Dec)).as("state_sumsq"),
      min(col(valueCol)).as("state_min"),
      max(col(valueCol)).as("state_max"))

  /** Fold an increment's partial state into the accumulated state —
    * one shuffle over (|state| + |delta|) GROUP rows, independent of
    * the fact-table size.
    */
  def merge(state: DataFrame, delta: DataFrame,
      keys: Seq[String]): DataFrame =
    state.unionByName(delta)
      .groupBy(keys.map(col): _*).agg(
        sum(col("state_cnt")).as("state_cnt"),
        sum(col("state_sum")).as("state_sum"),
        sum(col("state_sumsq")).as("state_sumsq"),
        min(col("state_min")).as("state_min"),
        max(col("state_max")).as("state_max"))

  /** Read-time derived measures from the state (double arithmetic over
    * the exact decimal sums — one cast, deterministic everywhere).
    */
  def finalized(state: DataFrame): DataFrame = {
    val n = col("state_cnt")
    val s = col("state_sum").cast("double")
    val sq = col("state_sumsq").cast("double")
    val variance = (sq - s * s / n) / (n - 1)
    state
      .withColumn("avg_value", s / n)
      .withColumn("stddev_value",
        when(n > 1, sqrt(greatest(variance, lit(0.0)))).otherwise(lit(0.0)))
  }
}
