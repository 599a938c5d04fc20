package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact per-slice median via a distinct-value histogram — the scale
  * shape of a1_descriptive_stats, which BenchScale's a_median leg times
  * at 1×/10×/100× input.
  *
  * Why not Spark's `Percentile`/`median` aggregate: it buffers a boxed
  * per-group count-map inside a single reducer task (heap grows with
  * the group) and its presence downgrades every sibling aggregate in
  * the block to ObjectHashAggregate. Collapsing to a (slice, value,
  * count) histogram first keeps the heavy aggregation codegen'd and
  * shuffles only the distinct values — constant-size whenever the
  * value domain is.
  *
  * The rank arithmetic reproduces Percentile's interpolation exactly:
  * 0-based middle ranks ⌊(n−1)/2⌋ and ⌊n/2⌋, value at rank k = first
  * v with cumulative count ≥ k+1, median = v_lo + 0.5·(v_hi − v_lo).
  */
object MedianHistogram {

  /** Ranked histogram of a `(slice, v)` frame: collapses to per-slice
    * distinct-value counts `c`, then adds the cumulative count `cum`
    * (ordered by v) and the slice total `n`. The windows run over
    * distinct values only — a few thousand rows after the combine. */
  def ranked(sliced: DataFrame): DataFrame = {
    val cumW = Window.partitionBy("slice").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, 0)
    sliced
      .groupBy("slice", "v").agg(count(lit(1)).as("c"))
      .withColumn("cum", sum("c").over(cumW))
      .withColumn("n", sum("c").over(Window.partitionBy("slice")))
  }

  /** Aggregate (over [[ranked]] rows, grouped by slice): the value at
    * the lower middle rank ⌊(n−1)/2⌋. */
  def vLoAgg: Column =
    min(when(col("cum") >= floor((col("n") - 1) / 2) + 1, col("v")))

  /** Aggregate (over [[ranked]] rows, grouped by slice): the value at
    * the upper middle rank ⌊n/2⌋. */
  def vHiAgg: Column =
    min(when(col("cum") >= floor(col("n") / 2) + 1, col("v")))

  /** Percentile's interpolation between the two middle-rank values. */
  def interpolate(vLo: Column, vHi: Column): Column =
    vLo + (vHi - vLo) * 0.5
}
