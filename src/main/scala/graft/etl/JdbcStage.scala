package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._

/** Engine-agnostic JDBC staging + ranged-read surface (ref A1 — the
  * reference reads MSSQL via pymssql and MySQL via its DB-API driver;
  * SURVEY.md §2A). One trait owns the mechanics every dialect shares —
  * distributed staging writes, PK-stride partitioned reads — so a new
  * engine plugs in as (driver class, URL scheme) only. The sandbox
  * ships exactly one embedded engine (Derby; no H2/HSQLDB jar
  * resolves offline), so [[DerbyStage]] is the ONE live instance and
  * the MSSQL/MySQL-specific surface lives in [[SourceDialects]] as
  * pure, spec-tested mapping logic.
  */
trait JdbcStage {

  /** JDBC driver class, e.g. Derby's EmbeddedDriver. */
  def driver: String

  /** Connection URL for a database rooted at `dbDir`. */
  def url(dbDir: String): String

  /** Write `df` into a staged table (drop-and-recreate) and return the
    * JDBC url to read it back with. The write is Spark's distributed
    * JDBC sink: each partition inserts over its own connection in
    * `batchsize` batches. */
  def stage(df: DataFrame, dbDir: String, table: String): String = {
    val u = url(dbDir)
    df.write.mode(SaveMode.Overwrite)
      .format("jdbc")
      .option("url", u)
      .option("driver", driver)
      .option("dbtable", table)
      .option("batchsize", "10000")
      .save()
    u
  }

  /** [[stage]] once per (engine, database, table) per JVM, memoized
    * through [[graft.Staged]]: repeat calls with the same target
    * return the URL without re-writing. The staged content is a pure
    * function of the input relation, so within one session the second
    * stage would write byte-identical rows — all it adds is wall time
    * (the bench rerun path measured the full write on every rep). A
    * failed write leaves no entry, so the next call retries. Callers
    * put `dbDir` under a [[graft.Staged.scratch]] dir, so a fresh
    * process never sees a stale database, and stage one table at a
    * time: two concurrent first calls for one table would both drop and
    * rewrite it. */
  def stageOnce(df: DataFrame, dbDir: String, table: String): String =
    graft.Staged.once(s"jdbc $driver $table", dbDir)(stage(df, dbDir, table))

  /** Ranged, partitioned JDBC read of a staged table: Spark plans
    * `numPartitions` concurrent stride reads over `pkCol` — the
    * reference's hand-written `WHERE pk > ? AND pk <= ?` batching,
    * distributed. */
  def readRanged(s: SparkSession, dbUrl: String, table: String, pkCol: String,
                 lower: Long, upper: Long, numPartitions: Int): DataFrame =
    JdbcRangedSource.read(s,
      JdbcRangedSource.options(dbUrl, table, pkCol, lower, upper, numPartitions) +
        ("driver" -> driver))
}

/** The reference's source-dialect surface as CODE (ref A1/A7): the
  * type mapping a real MSSQL/MySQL migration hits on day one, the
  * identifier quoting each dialect requires, and the frontier-batch
  * SQL the reference hand-writes per engine. No live MSSQL/MySQL
  * exists in this sandbox (and no second embedded engine's jar
  * resolves offline), so these are PURE functions pinned by
  * DialectSpec against the public Spark JDBC dialect behavior
  * (`MsSqlServerDialect` / `MySQLDialect`) recorded in MIGRATION.md
  * "Source dialects" — the same rows, now structural instead of
  * prose. */
object SourceDialects {

  /** Catalyst type a Spark JDBC read produces for an MSSQL column
    * type (None = not a type this mapping certifies). Quirks: `bit`
    * is a real boolean, `money`/`smallmoney` stay exact decimals,
    * `tinyint` is UNSIGNED 0–255 (reads as short — wide enough),
    * `datetime2` truncates its 100 ns precision to µs,
    * `datetimeoffset` must stay a string or the offset is lost. */
  def mssqlCatalystType(sourceType: String): Option[DataType] =
    normalize(sourceType) match {
      case "bit" => Some(BooleanType)
      case "tinyint" => Some(ShortType) // unsigned 0–255: byte would overflow
      case "smallint" => Some(ShortType)
      case "int" => Some(IntegerType)
      case "bigint" => Some(LongType)
      case "money" => Some(DecimalType(19, 4))
      case "smallmoney" => Some(DecimalType(10, 4))
      case s if s.startsWith("decimal") || s.startsWith("numeric") =>
        parseDecimal(s, defaultPrecision = 18) // bare MSSQL DECIMAL = (18,0)
      case "real" => Some(FloatType)
      case "float" => Some(DoubleType)
      case "date" => Some(DateType)
      case "datetime" | "datetime2" | "smalldatetime" => Some(TimestampType)
      case "datetimeoffset" => Some(StringType) // offset survives only as text
      case "uniqueidentifier" => Some(StringType) // uppercase hex — normalize before joins
      case s if textual(s) => Some(StringType)
      case s if s.startsWith("varbinary") || s == "binary" || s == "image" =>
        Some(BinaryType)
      case _ => None
    }

  /** Catalyst type for a MySQL column type. Quirks: `TINYINT(1)` is
    * the classic boolean surprise (2–127 collapse to true unless read
    * with tinyInt1isBit=false), unsigned widths each need the NEXT
    * wider Spark type (`INT UNSIGNED` → long, `BIGINT UNSIGNED` →
    * decimal(20,0) — and such a column must never be a signed-long
    * partitionColumn), `YEAR` reads as a Jan-1 date, ENUM/SET lose
    * their ordering as plain text. */
  def mysqlCatalystType(sourceType: String): Option[DataType] =
    normalize(sourceType) match {
      case "tinyint(1)" => Some(BooleanType)
      case s if s.startsWith("tinyint") && s.endsWith("unsigned") => Some(ShortType)
      case s if s.startsWith("tinyint") => Some(ByteType)
      case s if s.startsWith("smallint") && s.endsWith("unsigned") => Some(IntegerType)
      case s if s.startsWith("smallint") => Some(ShortType)
      case s if (s.startsWith("int") || s.startsWith("mediumint")) &&
        s.endsWith("unsigned") => Some(LongType)
      case s if s.startsWith("mediumint") => Some(IntegerType)
      case s if s.startsWith("int") => Some(IntegerType)
      case s if s.startsWith("bigint") && s.endsWith("unsigned") =>
        Some(DecimalType(20, 0)) // values ≥ 2^63 are legal
      case s if s.startsWith("bigint") => Some(LongType)
      case s if s.startsWith("decimal") || s.startsWith("numeric") =>
        parseDecimal(s, defaultPrecision = 10) // bare MySQL DECIMAL = (10,0)
      case "float" => Some(FloatType)
      case "double" => Some(DoubleType)
      case "date" => Some(DateType)
      case "datetime" | "timestamp" => Some(TimestampType) // zone semantics differ — see MIGRATION.md
      case "year" => Some(DateType) // Jan 1 of the year
      case s if s.startsWith("enum") || s.startsWith("set") => Some(StringType)
      case s if textual(s) => Some(StringType)
      case s if s.endsWith("blob") || s.startsWith("varbinary") || s == "binary" =>
        Some(BinaryType)
      case _ => None
    }

  /** Destination type name for the reference's sink schema (ref A7's
    * type-map half [K]: the fixed RDBMS→warehouse name table). TOTAL
    * over every Catalyst type this engine stages — an unmapped type is
    * a loud None, never a silent STRING. */
  def destinationType(dt: DataType): Option[String] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some("INTEGER")
    case FloatType | DoubleType => Some("FLOAT")
    case _: DecimalType => Some("NUMERIC")
    case BooleanType => Some("BOOLEAN")
    case StringType => Some("STRING")
    case DateType => Some("DATE")
    case TimestampType => Some("TIMESTAMP")
    case BinaryType => Some("BYTES")
    case _ => None
  }

  /** Identifier quoting per dialect — the piece of frontier SQL the
    * reference hand-writes differently per engine. */
  def quoteIdentifier(dialect: String, name: String): String = dialect match {
    case "mssql" => s"[${name.replace("]", "]]")}]"
    case "mysql" => s"`${name.replace("`", "``")}`"
    case _ => "\"" + name.replace("\"", "\"\"") + "\"" // ANSI (Derby)
  }

  /** The reference's frontier-batch statement (ref A1's
    * `WHERE pk > lo AND pk <= hi` loop [K]) rendered per dialect. */
  def frontierSql(dialect: String, table: String, pkCol: String,
                  lower: Long, upper: Long): String = {
    val t = quoteIdentifier(dialect, table)
    val pk = quoteIdentifier(dialect, pkCol)
    s"SELECT * FROM $t WHERE $pk > $lower AND $pk <= $upper"
  }

  private def normalize(s: String): String = s.trim.toLowerCase
  private def textual(s: String): Boolean =
    s.startsWith("varchar") || s.startsWith("nvarchar") ||
      s.startsWith("char") || s.startsWith("nchar") ||
      s == "text" || s == "ntext" || s == "tinytext" ||
      s == "mediumtext" || s == "longtext" || s == "json" || s == "xml"
  /** DECIMAL/NUMERIC declarations: both engines default a missing
    * SCALE to 0 and a missing precision to an engine-specific value
    * (MSSQL 18, MySQL 10) — never to Spark's (38,18). Anything that
    * does not parse as a decimal declaration is a loud None, per the
    * module doctrine. */
  private def parseDecimal(s: String, defaultPrecision: Int): Option[DecimalType] = {
    val full = """^(?:decimal|numeric)\s*\(\s*(\d+)\s*(?:,\s*(\d+)\s*)?\)$""".r
    s match {
      case "decimal" | "numeric" => Some(DecimalType(defaultPrecision, 0))
      case full(p, sc) =>
        Some(DecimalType(p.toInt, Option(sc).map(_.toInt).getOrElse(0)))
      case _ => None
    }
  }
}
