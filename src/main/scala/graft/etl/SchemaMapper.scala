package graft.etl

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._
import graft.Tables

/** Warehouse-schema mapping: the Spark-native analog of the
  * reference's SQL-Server→BigQuery type map
  * (ServerUtil.msSqlToBqTypeMap, ServerUtil.java:57-87), BQ column
  * name sanitization (checkHeaderName, ServerUtil.java:297-307), and
  * BQ row conversion (BigQueryTableRowDoFn.java:28-58: stringify,
  * skip nulls, base64 binary).
  */
object SchemaMapper {

  /** Spark type → BigQuery type string (scalar map mirrors the
    * reference's; arrays become REPEATED, like BQ repeated fields). */
  def bqType(dt: DataType): String = dt match {
    case ByteType | ShortType | IntegerType | LongType => "INTEGER"
    case FloatType | DoubleType => "FLOAT"
    case _: DecimalType => "NUMERIC"
    case BooleanType => "BOOLEAN"
    case StringType => "STRING"
    case DateType => "DATE"
    case _: TimestampType | TimestampNTZType => "TIMESTAMP"
    case BinaryType => "BYTES"
    case ArrayType(et, _) => "REPEATED " + bqType(et)
    case st: StructType => "RECORD"
    case other => "STRING" // reference logs-and-strings unknown types
  }

  /** SOURCE-database type NAME → BigQuery type — the reference keys
    * its schema conversion on the source's declared type string
    * (msSqlToBqTypeMap, ServerUtil.java:55-87), which preserves
    * distinctions the JDBC dialect erases before Spark sees them
    * (IMAGE vs VARBINARY both surface as BinaryType; MONEY surfaces as
    * a plain decimal). Keys are SQL Server type names plus the common
    * JDBC/Derby synonyms those types surface as in DatabaseMetaData
    * TYPE_NAME. Note TIMESTAMP→STRING is deliberate: in SQL Server
    * TIMESTAMP is a rowversion token, not a point in time. */
  val sourceTypeToBq: Map[String, String] = Map(
    "VARCHAR" -> "STRING", "NVARCHAR" -> "STRING", "CHAR" -> "STRING",
    "NCHAR" -> "STRING", "TEXT" -> "STRING", "NTEXT" -> "STRING",
    "CLOB" -> "STRING", "LONG VARCHAR" -> "STRING",
    "BIGINT" -> "INTEGER", "INT" -> "INTEGER", "INTEGER" -> "INTEGER",
    "TINYINT" -> "INTEGER", "SMALLINT" -> "INTEGER",
    "NUMERIC" -> "FLOAT", "DECIMAL" -> "FLOAT", "MONEY" -> "FLOAT",
    "SMALLMONEY" -> "FLOAT", "FLOAT" -> "FLOAT", "REAL" -> "FLOAT",
    "DOUBLE" -> "FLOAT",
    "BIT" -> "BOOLEAN", "BOOLEAN" -> "BOOLEAN",
    "DATE" -> "DATE", "TIME" -> "TIME",
    "DATETIME" -> "DATETIME", "DATETIME2" -> "DATETIME",
    "SMALLDATETIME" -> "DATETIME", "DATETIMEOFFSET" -> "TIMESTAMP",
    "TIMESTAMP" -> "STRING",
    "BINARY" -> "BYTES", "IMAGE" -> "BYTES", "VARBINARY" -> "BYTES",
    "BLOB" -> "BYTES",
    "UNIQUEIDENTIFIER" -> "STRING")

  /** Map a raw DatabaseMetaData TYPE_NAME: uppercase, strip length
    * parens, collapse whitespace; Derby's `... FOR BIT DATA` family is
    * binary. None for a type the map does not know — the reference
    * logs-and-skips those (ServerUtil.java:222-227), callers decide. */
  def bqTypeForSourceName(typeName: String): Option[String] = {
    val t = typeName.trim.toUpperCase
      .replaceAll("\\(.*?\\)", "").replaceAll("\\s+", " ").trim
    if (t.endsWith("FOR BIT DATA")) Some("BYTES") else sourceTypeToBq.get(t)
  }

  /** checkHeaderName analog: whitespace→_, strip quotes and slashes,
    * then require a valid BQ column identifier. */
  def sanitizeName(name: String): String = {
    val cleaned = name.replaceAll("\\s", "_").replaceAll("'", "").replaceAll("/", "")
    require(cleaned.matches("^[A-Za-z_]+[A-Za-z_0-9]*$"),
      s"not a valid BQ column identifier after sanitization: '$name'")
    cleaned
  }

  /** Full catalog of every table/column with Spark + BQ types —
    * the Spark-native INFORMATION_SCHEMA discovery result
    * (ServerUtil.getTablesList/getColumnsList). Metadata-only: reads
    * parquet footers, no data scan. */
  def catalog(spark: SparkSession, dir: String,
              tables: Seq[String] = Tables.all): DataFrame = {
    import spark.implicits._
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // fetch footers concurrently — schema discovery is driver-side
    // metadata I/O, serializing 10 tables' footer reads is pure wait.
    // Pin the active session on each pool thread: active-session is an
    // InheritableThreadLocal captured at THREAD creation, so a pool
    // thread born before this session existed would silently read
    // SQLConf defaults (dropping e.g. the events nanosAsLong conf) and
    // resolve schemas differently than the session it serves.
    val schemas = Await.result(
      Future.sequence(tables.map(t => Future {
        SparkSession.setActiveSession(spark)
        t -> Tables.schema(spark, dir, t)
      })),
      Duration.Inf).toMap
    val rows = tables.flatMap { t =>
      schemas(t).fields.zipWithIndex.map {
        case (f, i) =>
          (t, f.name, (i + 1).toLong, f.dataType.simpleString,
            bqType(f.dataType), sanitizeName(f.name))
      }
    }
    rows.toDF("table_name", "column_name", "ordinal",
        "spark_type", "bq_type", "bq_name")
      .orderBy("table_name", "ordinal")
  }

  /** Catalog after the reference's `-`-separated excluded-table list
    * (ServerUtil.parseExcludedTables, ServerUtil.java:249). */
  def catalogExcluding(spark: SparkSession, dir: String, excluded: String): DataFrame = {
    val ex = excluded.split("-").toSet
    catalog(spark, dir, Tables.all.filterNot(ex.contains))
  }

  /** Schema drift between two versions of a table: per column —
    * added / removed / type_changed / same. The operational check a
    * scheduled re-import needs before writing into an existing
    * warehouse table (the reference would fail the insert; detecting
    * drift first routes it to schema evolution instead of the dead
    * letter). Metadata-only. */
  def drift(spark: SparkSession, v1: StructType, v2: StructType): DataFrame = {
    import spark.implicits._
    val m1 = v1.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val m2 = v2.fields.map(f => f.name -> f.dataType.simpleString).toMap
    val rows = (m1.keySet ++ m2.keySet).toSeq.sorted.map { c =>
      (m1.get(c), m2.get(c)) match {
        case (Some(t1), Some(t2)) if t1 == t2 => (c, t1, t2, "same")
        case (Some(t1), Some(t2)) => (c, t1, t2, "type_changed")
        case (Some(t1), None) => (c, t1, "", "removed")
        case (None, Some(t2)) => (c, "", t2, "added")
        case _ => throw new IllegalStateException("unreachable")
      }
    }
    rows.toDF("column_name", "v1_type", "v2_type", "status")
      .orderBy("column_name")
  }
}
