package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's one exact distributed rank: a two-level prefix sum that
  * gives every row of a value histogram the weight mass strictly below
  * it, without a global sort.
  *
  *  1. a coarse cell per value: floor((v − min)·C / (max − min)),
  *     capped at C = [[Cells]], in doubles. IEEE subtraction,
  *     multiplication and division by shared positive scalars and floor
  *     are all monotone, so cell order agrees with value order for long,
  *     decimal and double values alike (distinct longs near ±2⁶² may
  *     share a cell after the cast — the cell is only a shard, the
  *     within-cell order is the exact value). The min/max normalization
  *     bounds the cell count by C whatever the domain's spread or
  *     shift; a single-value domain collapses to cell 0;
  *  2. running sums inside each (keys, cell) slice — partitioned
  *     windows, so no task ever sorts more than one cell of one key;
  *  3. per-cell offsets from a broadcast triangle join of the cell
  *     totals (b.cell < a.cell, equi-joined on the keys): at most
  *     |keys|·C(C−1)/2 row pairs whatever the corpus size, and never a
  *     window over the cell totals, so no plan built on this kernel
  *     carries an unpartitioned window.
  *
  * Every exact rank, quantile and running sum in the library (rank
  * intervals, average ranks, ntile buckets, order statistics, budget
  * cuts, sequence packing, inverse-CDF tables) is its own algebra over
  * [[before]]; this object is the only place that knows the cell
  * formula, the cell count and how the offsets are computed.
  */
private[graft] object RankPrefix {

  /** Cell-count ceiling: the broadcast offsets table is ≤ C + 1 rows
    * per key whatever the value domain. */
  val Cells = 1024

  /** The cell column's name; plan pins find the within-cell windows by
    * it. */
  val CellCol = "__coarse"

  /** `df` with its own columns kept plus, for every weight `w`, a
    * column `w_before` = Σ w over the rows with the same `keys` and a
    * smaller `value` (an exclusive prefix; weights are integral).
    *
    * PRECONDITION: one row per (`keys`, `value`) — callers aggregate to
    * a histogram first, so equal values are one row and the prefix is
    * tie-free. A row whose `value` or key is null gets no prefix and is
    * dropped. Descending orders negate their value.
    */
  def before(df: DataFrame, keys: Seq[String], value: String,
      weights: String*): DataFrame = {
    val mm = df.agg(min(col(value)).cast("double").as("__vmn"),
      max(col(value)).cast("double").as("__vmx"))
    val cells = df.crossJoin(broadcast(mm))
      // a null value takes a null cell, which no offset matches (`least`
      // alone would skip the null and file it in the top cell)
      .withColumn(CellCol, when(col(value).isNotNull,
        when(col("__vmx") > col("__vmn"),
          least(
            floor((col(value).cast("double") - col("__vmn")) *
              lit(Cells.toDouble) / (col("__vmx") - col("__vmn"))).cast("long"),
            lit(Cells.toLong)))
          .otherwise(lit(0L))))
      .drop("__vmn", "__vmx")
    val slice = keys :+ CellCol
    val wIn = Window.partitionBy(slice.map(col): _*).orderBy(value)
      .rowsBetween(Window.unboundedPreceding, -1)
    val tots = weights.map(w => sum(w).as(w))
    val totals = cells.groupBy(slice.map(col): _*).agg(tots.head, tots.tail: _*)
    val offSums = weights.map(w => coalesce(sum(col(s"b.$w")), lit(0L)).as(s"__off_$w"))
    val offs = totals.as("a")
      .join(broadcast(totals.as("b")),
        keys.map(k => col(s"a.$k") === col(s"b.$k"))
          .foldLeft(col(s"b.$CellCol") < col(s"a.$CellCol"))(_ && _), "left")
      .groupBy(slice.map(c => col(s"a.$c").as(c)): _*)
      .agg(offSums.head, offSums.tail: _*)
    cells
      .select(col("*") +: weights.map(w =>
        coalesce(sum(w).over(wIn), lit(0L)).as(s"__in_$w")): _*)
      .join(broadcast(offs), slice)
      .select(df.columns.map(c => col(s"`$c`")) ++ weights.map(w =>
        (col(s"__off_$w") + col(s"__in_$w")).as(s"${w}_before")): _*)
  }

  /** The SQL-exact ntile bucket (1-based) of a 1-based `rank` among n
    * rows in B buckets, with q = n div B and rem = n mod B: the first
    * rem buckets each take one extra row, so bucket b ends at rank
    * E(b) = b·q + min(b, rem). Integer-exact on both engines. */
  def ntileBucket(rank: Column, q: Column, rem: Column): Column = {
    def div(a: Column, b: Column): Column = call_function("div", a, b)
    when(rank <= rem * (q + 1), div(rank + q, q + 1))
      .otherwise(rem + div(rank - rem * (q + 1) + q - 1, q))
  }
}
