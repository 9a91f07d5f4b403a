package graft

import org.apache.spark.sql.{DataFrame, Row}

/** The one driver-side collect of a metadata-scale relation (a calendar
  * spine, an enum grid, k × dims centroids, partitions × groups counts):
  * each caller states its bound as a number, and it fails loudly when
  * the data outgrows it. The check follows a plain `df.collect()`:
  * `df.limit(max + 1)` would scan a multi-partition aggregate in more
  * Spark jobs (`CollectLimitExec` takes partitions incrementally). */
object Bounded {

  /** All rows of `df`, or an `IllegalArgumentException` if more than
    * `max` came back. `what` names the unit and the relation: "676
    * edges in the trade graph stage, past the bound of 625". */
  def collect(df: DataFrame, max: Int, what: String): Array[Row] = {
    val rows = df.collect()
    require(rows.length <= max, s"${rows.length} $what, past the bound of $max")
    rows
  }
}
