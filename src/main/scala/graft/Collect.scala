package graft

import org.apache.spark.sql.{DataFrame, Row}

/** Driver-side collects with a bound the code enforces. */
object Collect {

  /** The rows of `df` if there are at most `maxRows` of them. Collects
    * `limit(maxRows + 1)`, so a frame over its bound costs at most one
    * extra row on the driver. The limit is planned as an incremental
    * take (1, then 4, 16, ... partitions, one job each), so use this
    * only where the bound can actually be exceeded; see
    * [[collectChecked]]. */
  def collectAtMost(df: DataFrame, maxRows: Int): Option[Array[Row]] = {
    require(maxRows >= 0 && maxRows < Int.MaxValue,
      s"collectAtMost: maxRows must be in [0, ${Int.MaxValue - 1}], got $maxRows")
    Some(df.limit(maxRows + 1).collect()).filter(_.length <= maxRows)
  }

  /** [[collectAtMost]], failing fast past the bound: the message names
    * `what` was collected, which should say how to stay inside it. */
  def collectBounded(df: DataFrame, maxRows: Int, what: String): Array[Row] =
    collectAtMost(df, maxRows).getOrElse(throw new IllegalArgumentException(
      s"$what: more than $maxRows rows would be collected to the driver"))

  /** The rows of a frame whose plan already bounds its row count (one
    * row per key of a bounded key set, a rank filter, a semi-join to a
    * bounded frame): one plain collect, then the bound is asserted
    * with the same message as [[collectBounded]]. */
  def collectChecked(df: DataFrame, maxRows: Int, what: String): Array[Row] = {
    val rows = df.collect()
    require(rows.length <= maxRows,
      s"$what: more than $maxRows rows would be collected to the driver")
    rows
  }
}
