package graft.etl

import java.sql.ResultSet
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, GraftSqlShim}
import org.apache.spark.sql.execution.datasources.jdbc.JDBCOptions
import org.apache.spark.sql.jdbc.JdbcDialects
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** The migration's control-plane reads sent to the source database as
  * plain SQL, the way the reference does it, instead of as Spark jobs:
  * [[IncrementalRunner.run]]'s PK bounds and [[IncrementalRunner.validate]]'s
  * per-range source counts. Each call is one statement over one
  * connection, made, prepared and fetched as Spark's own JDBC scan does
  * (dialect connection factory, `beforeFetch`, `prepareQuery`, fetch
  * size, query timeout), and reads `tableOrQuery` verbatim as the FROM
  * clause. */
private[etl] final class JdbcProbe(opts: JDBCOptions, pkCol: String) {
  private val dialect = JdbcDialects.get(opts.url)
  // quoted: Derby, like most engines, folds an unquoted name's case
  private val pk = dialect.quoteIdentifier(pkCol)

  /** MIN and MAX of the PK over the rows with PK above `above` (all rows
    * when it is `Long.MinValue`); None when there is no such row. */
  def bounds(above: Long): Option[(Long, Long)] = {
    val where = if (above == Long.MinValue) "" else s" WHERE $pk > $above"
    query(s"SELECT MIN($pk), MAX($pk) FROM ${opts.tableOrQuery}$where") { rs =>
      rs.next()
      val lo = rs.getLong(1)
      val hi = rs.getLong(2)
      if (rs.wasNull()) None else Some((lo, hi))
    }
  }

  /** Source rows in each `(lo, hi]` range, or None when two non-empty
    * ranges overlap or repeat (a row would have to count once per range
    * it falls in). One key stream over the ranges' span, each key
    * counted into its range by binary search over the sorted bounds: the
    * cost does not grow with the number of ranges, and driver memory is
    * O(ranges). A grouped join against a VALUES list of the ranges is a
    * nested loop on Derby (minutes at 500 ranges). Empty ranges
    * (`lo >= hi`) hold no row and are left out of the map. */
  def counts(ranges: Seq[(Long, Long)]): Option[Map[(Long, Long), Long]] = {
    val rs = ranges.filter { case (lo, hi) => lo < hi }.sorted.toArray
    if (rs.isEmpty) return Some(Map.empty)
    if ((1 until rs.length).exists(i => rs(i - 1)._2 > rs(i)._1)) return None
    val los = rs.map(_._1)
    val n = new Array[Long](rs.length)
    query(s"SELECT $pk FROM ${opts.tableOrQuery} WHERE $pk > ${los.head} AND $pk <= ${rs.last._2}") {
      keys =>
        while (keys.next()) {
          val k = keys.getLong(1)
          // the last range whose (exclusive) lower bound is below k
          val i = java.util.Arrays.binarySearch(los, k) match {
            case hit if hit >= 0 => hit - 1
            case miss => -miss - 2
          }
          if (i >= 0 && k <= rs(i)._2) n(i) += 1
        }
    }
    Some(rs.iterator.zip(n.iterator).toMap)
  }

  private def query[A](sql: String)(read: ResultSet => A): A = {
    val conn = dialect.createConnectionFactory(opts)(-1)
    try {
      dialect.beforeFetch(conn, opts.asProperties.asScala.toMap)
      val st = conn.prepareStatement(opts.prepareQuery + sql,
        ResultSet.TYPE_FORWARD_ONLY, ResultSet.CONCUR_READ_ONLY)
      try {
        st.setFetchSize(opts.fetchSize)
        st.setQueryTimeout(opts.queryTimeout)
        val rs = st.executeQuery()
        try read(rs) finally rs.close()
      } finally st.close()
    } finally conn.close()
  }
}

private[etl] object JdbcProbe {

  /** A probe for `source` when it is a bare JDBC read the database can
    * answer for: no filter or projection on top; every row read (a
    * `partitionColumn` stride, or one partition with no WHERE clause,
    * whereas a `predicates` read holds only the rows its predicates
    * select); an integral PK column, named exactly; and no
    * `sessionInitStatement`, which Spark runs on each connection it
    * reads through. Any other source gets None and keeps the Spark path. */
  def apply(source: DataFrame, pkCol: String): Option[JdbcProbe] =
    GraftSqlShim.jdbcSource(source).collect {
      case (opts, parts) if (opts.partitionColumn.isDefined || parts == Seq(None)) &&
          opts.sessionInitStatement.isEmpty &&
          source.schema.find(_.name == pkCol).exists(f => Seq(ByteType, ShortType,
            IntegerType, LongType).contains(f.dataType)) =>
        new JdbcProbe(opts, pkCol)
    }
}
