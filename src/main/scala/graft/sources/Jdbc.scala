package graft.sources

import java.sql.DriverManager
import java.util.Properties

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Live JDBC ingest path, proven end-to-end against an embedded Derby
  * database (the Derby jars ship with Spark). This is the reference's
  * core loop made real: schema discovery over JDBC metadata
  * (ServerUtil.java:103-205 walks INFORMATION_SCHEMA + primary keys),
  * then a parallel partitioned extract (TableToDbRowFn.java:62-137's
  * OFFSET/FETCH splits → `spark.read.jdbc` range partitions, which
  * push `WHERE pk >= lo AND pk < hi` into the database per task).
  *
  * Catalog discovery is driver-side by nature (a handful of metadata
  * round-trips, exactly like the reference's ServerUtil); row data
  * only ever moves executor-side through the partitioned read.
  */
object Jdbc {

  val DriverClass = "org.apache.derby.jdbc.EmbeddedDriver"

  /** One embedded Derby instance per JVM under java.io.tmpdir; Derby's
    * log goes there too instead of polluting the cwd. */
  lazy val defaultDbDir: String = {
    val d = java.nio.file.Files.createTempDirectory("graft-derby")
    System.setProperty("derby.stream.error.file",
      d.resolve("derby.log").toString)
    d.resolve("db").toString
  }

  def derbyUrl(dbDir: String = defaultDbDir): String =
    s"jdbc:derby:$dbDir;create=true"

  def connProps: Properties = {
    val p = new Properties()
    p.setProperty("driver", DriverClass)
    p
  }

  private def withConn[A](url: String)(f: java.sql.Connection => A): A = {
    val conn = DriverManager.getConnection(url)
    try f(conn) finally conn.close()
  }

  /** One monitor per (url, table): test suites sharing the JVM sweep
    * the full query set concurrently, so two sweeps can re-stage the
    * SAME source table at once — the DROP/CREATE pair races with
    * itself ("table already exists") unless the whole stage
    * (DDL + load) is serialized per table. Distinct tables still
    * stage concurrently (the import-overlap shape is intentional). */
  private val tableLocks =
    scala.collection.concurrent.TrieMap.empty[(String, String), Object]
  private def lockFor(url: String, table: String): Object =
    tableLocks.getOrElseUpdate((url, table), new Object)

  /** Create a table from explicit DDL (Spark's JDBC writer cannot
    * declare PRIMARY KEY constraints) and append the rows. Column
    * names in the DDL are double-quoted lowercase so they match the
    * identifiers Spark's writer quotes into its INSERT statements. */
  def createAndLoad(df: DataFrame, url: String, table: String, ddl: String): Unit =
    lockFor(url, table).synchronized {
      recreate(url, table, ddl)
      // a handful of writer connections with large insert batches beats
      // one connection per input partition against an embedded DB
      df.coalesce(4).write.mode(SaveMode.Append)
        .option("driver", DriverClass)
        .option("batchsize", "10000")
        .jdbc(url, table, connProps)
    }

  def createTable(url: String, table: String, ddl: String): Unit =
    lockFor(url, table).synchronized {
      recreate(url, table, ddl)
    }

  /** DROP + CREATE with a bounded retry. The per-table monitor above
    * serializes STAGING against itself, but a concurrent partitioned
    * READ of the same table (another suite's extract tasks — reads
    * are intentionally outside the lock) holds Derby row/table locks
    * that can make the DROP time out; its SQLException is
    * indistinguishable from first-run "no table" here, so the CREATE
    * then hits "already exists" (X0Y32). Retrying the pair after the
    * reader's locks drain is semantically identical to having won the
    * timing, and a PERSISTENT failure still surfaces. */
  private def recreate(url: String, table: String, ddl: String): Unit =
    withConn(url) { conn =>
      val st = conn.createStatement()
      try {
        var attempt = 0
        var done = false
        while (!done) {
          try st.executeUpdate(s"DROP TABLE $table")
          catch {
            // 42Y55 = "table does not exist" — the expected first-run
            // case, silent. Anything else (locks, a persistent non-lock
            // failure) is logged so the eventual X0Y32 surfaced after 5
            // retries is diagnosable instead of masking the real cause
            // (r17 ADVICE).
            case e: java.sql.SQLException =>
              if (e.getSQLState != "42Y55")
                System.err.println(
                  s"[jdbc] DROP $table failed (${e.getSQLState}): ${e.getMessage}")
          }
          try { st.executeUpdate(ddl); done = true }
          catch {
            case e: java.sql.SQLException
                if e.getSQLState == "X0Y32" && attempt < 5 =>
              attempt += 1; Thread.sleep(200L * attempt)
          }
        }
      } finally st.close()
    }

  /** Primary-key columns from JDBC metadata, in key-sequence order —
    * the reference's SqlColumn.getPrimaryKey discovery
    * (ServerUtil.java:166-205). Empty when the table declares none. */
  def primaryKeys(url: String, table: String): Seq[String] =
    withConn(url) { conn =>
      val rs = conn.getMetaData.getPrimaryKeys(null, null, table.toUpperCase)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Short, String)]
      while (rs.next()) buf += ((rs.getShort("KEY_SEQ"), rs.getString("COLUMN_NAME")))
      rs.close()
      buf.sortBy(_._1).map(_._2).toSeq
    }

  /** All columns in ordinal order (INFORMATION_SCHEMA.COLUMNS analog,
    * ServerUtil.java:140-165). */
  def columns(url: String, table: String): Seq[String] =
    withConn(url) { conn =>
      val rs = conn.getMetaData.getColumns(null, null, table.toUpperCase, null)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, String)]
      while (rs.next()) buf += ((rs.getInt("ORDINAL_POSITION"), rs.getString("COLUMN_NAME")))
      rs.close()
      buf.sortBy(_._1).map(_._2).toSeq
    }

  /** Column names with their SOURCE type names (DatabaseMetaData
    * TYPE_NAME), ordinal order — the discovery input for the
    * source-type→BQ map, which the reference keys on the database's
    * declared type string (ServerUtil.java:50-51 reads
    * INFORMATION_SCHEMA DATA_TYPE), not the post-dialect JDBC type. */
  def columnTypes(url: String, table: String): Seq[(String, String)] =
    withConn(url) { conn =>
      val rs = conn.getMetaData.getColumns(null, null, table.toUpperCase, null)
      val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, (String, String))]
      while (rs.next())
        buf += ((rs.getInt("ORDINAL_POSITION"),
          (rs.getString("COLUMN_NAME"), rs.getString("TYPE_NAME"))))
      rs.close()
      buf.sortBy(_._1).map(_._2).toSeq
    }

  /** PK catalog with the reference's fallback: when a table declares
    * no primary key, order by ALL columns (ServerUtil.java:233-246's
    * all-column ordering) and flag the inference. */
  def pkCatalog(spark: SparkSession, url: String, tables: Seq[String]): DataFrame = {
    import spark.implicits._
    tables.map { t =>
      val pks = primaryKeys(url, t)
      if (pks.nonEmpty) (t, pks.mkString(","), 0L)
      else (t, columns(url, t).mkString(","), 1L)
    }.toDF("table_name", "pk_cols", "pk_inferred").orderBy("table_name")
  }

  /** Driver-side MIN/MAX bounds for split planning — the same shape
    * as the reference's row-count query (ServerUtil.java:140): one
    * metadata-sized round-trip, no data movement. */
  def columnBounds(url: String, table: String, column: String): (Long, Long) =
    withConn(url) { conn =>
      val (t, c) = (quoteIdent(table), quoteIdent(column))
      val rs = conn.createStatement()
        .executeQuery(s"SELECT MIN($c), MAX($c) FROM $t")
      rs.next()
      val b = (rs.getLong(1), rs.getLong(2))
      rs.close(); b
    }

  /** Partitioned range read on the primary key — each of the
    * `numPartitions` tasks runs its own bounded query against the
    * database, so the extract parallelizes like the reference's
    * offset splits but with sargable range predicates instead of
    * OFFSET scans. */
  def readPartitioned(spark: SparkSession, url: String, table: String,
                      pk: String, lower: Long, upper: Long,
                      numPartitions: Int): DataFrame =
    Sources.readJdbc(spark, url, table, pk, lower, upper, numPartitions, connProps)

  /** Boundary values that split `table` into `numPartitions` roughly
    * equal ranges of `column` (any ORDER BY-able type, read back as
    * its string form). Planning is driver-side metadata work — one
    * COUNT plus (numPartitions-1) single-row ORDER BY/OFFSET/FETCH
    * probes, the same paging statement the reference issues per chunk
    * (TableToDbRowFn.java:155-170) but issued once per BOUNDARY here;
    * the bulk rows then move through sargable range predicates that an
    * index on `column` serves without scanning past skipped rows.
    * Cost caveat: the probes assume an index on `column` — without
    * one each ORDER BY/OFFSET probe is a scan, O(partitions × n)
    * total DB work at planning time. */
  def stringSplitPoints(url: String, table: String, column: String,
                        numPartitions: Int): Seq[String] =
    withConn(url) { conn =>
      val st = conn.createStatement()
      val (t, c) = (quoteIdent(table), quoteIdent(column))
      val rsN = st.executeQuery(s"SELECT COUNT(*) FROM $t")
      rsN.next(); val n = rsN.getLong(1); rsN.close()
      val step = math.max(1L, n / math.max(1, numPartitions))
      val pts = (1L until numPartitions.toLong).map(_ * step)
        .filter(_ < n).flatMap { off =>
          val rs = st.executeQuery(
            s"SELECT $c FROM $t ORDER BY $c OFFSET $off ROWS FETCH NEXT 1 ROWS ONLY")
          val v = if (rs.next()) Option(rs.getString(1)) else None
          rs.close(); v
        }
      st.close()
      pts.distinct
    }

  private def sqlQuote(v: String): String = "'" + v.replace("'", "''") + "'"

  /** ANSI double-quoted identifier (Derby/Postgres/standard dialects):
    * values are escaped by [[sqlQuote]], identifiers by this — an
    * ordering column named with a reserved word or mixed case must not
    * break the extract. Identifier names discovered through
    * DatabaseMetaData are exact-case, which quoting preserves. */
  private def quoteIdent(name: String): String =
    "\"" + name.replace("\"", "\"\"") + "\""

  /** Disjoint covering WHERE clauses over string boundaries: the first
    * range also claims NULLs (Derby orders NULLs last, but a NULL never
    * satisfies either comparison, so it must be claimed explicitly or
    * the row is silently dropped). */
  def rangePredicates(column: String, points: Seq[String]): Array[String] =
    if (points.isEmpty) Array("1=1")
    else {
      val c = quoteIdent(column)
      val first = s"$c < ${sqlQuote(points.head)} OR $c IS NULL"
      val mids = points.sliding(2).collect { case Seq(a, b) =>
        s"$c >= ${sqlQuote(a)} AND $c < ${sqlQuote(b)}"
      }.toSeq
      val last = s"$c >= ${sqlQuote(points.last)}"
      (first +: mids :+ last).toArray
    }

  /** Parallel extract for tables WITHOUT a numeric primary key — the
    * reference pages any such table with `ORDER BY <pk or all columns>
    * OFFSET n FETCH NEXT k` (TableToDbRowFn.java:155-170; all-columns
    * fallback ServerUtil.java:233-246). OFFSET paging makes the
    * database re-scan and discard `n` rows per chunk (quadratic total
    * work); here the driver probes (numPartitions-1) boundary values of
    * the leading ordering column once, then each executor task reads
    * its slice through a sargable range predicate — same split
    * semantics, linear total DB work, and no two tasks overlap because
    * the [lo, hi) ranges partition the column's domain. Skew caveat:
    * ranges split the leading column only, so a single hot value bounds
    * one task — the same bound the reference's ORDER BY paging has on a
    * sorted duplicate run. */
  def readPartitionedByOrdering(spark: SparkSession, url: String, table: String,
                                orderCol: String, numPartitions: Int): DataFrame =
    spark.read.jdbc(url, table,
      rangePredicates(orderCol, stringSplitPoints(url, table, orderCol, numPartitions)),
      connProps)
}
