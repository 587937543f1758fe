package graft.etl

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Re-identification output shaping — the two reid-path steps the
  * reference runs between the DLP call and the Pub/Sub publish:
  *
  *  - column-name re-mapping from a user-supplied JSON map
  *    (CreateHeaderMap, BQReidentificationPipeline.java:266-311:
  *    `options.getColumnMap` JSON → output header rename);
  *  - grouping heterogeneous query-result rows by their header
  *    signature (BQReidentificationPipeline.java:107 keys rows by
  *    header hash so each DLP batch request carries a homogeneous
  *    table).
  *
  * Both are O(columns) metadata operations in Spark — the rename is a
  * plan-level projection and the signature group-by reduces each row
  * to a constant-width key before the (tiny) aggregate, so neither
  * moves row data at 100 TB beyond one count-shuffle.
  */
object Reid {

  /** Parse the reference-shaped column map: `{"old": "new", ...}`. */
  def parseColumnMap(json: String): Map[String, String] = {
    implicit val fmts: Formats = DefaultFormats
    JsonMethods.parse(json).extract[Map[String, String]]
  }

  /** CreateHeaderMap analog: rename output headers per the JSON map;
    * unmapped columns pass through untouched (the reference keeps the
    * original header when the map has no entry). */
  def headerMap(df: DataFrame, mapJson: String): DataFrame = {
    val m = parseColumnMap(mapJson)
    m.foldLeft(df) { case (d, (from, to)) =>
      if (d.columns.contains(from)) d.withColumnRenamed(from, to) else d
    }
  }

  /** Group heterogeneous row sets by header signature: each input
    * DataFrame's rows are keyed by md5(header list), then counted and
    * planned into DLP batches of `batchSize`. Row payloads never move:
    * every row is projected to its constant header string before the
    * aggregate, so the shuffle is a partial-aggregated count, not data. */
  def groupBySignature(sets: Seq[DataFrame], batchSize: Long): DataFrame = {
    require(sets.nonEmpty, "need at least one row set")
    val tagged = sets.map { df =>
      df.select(lit(df.columns.mkString(",")).as("headers"))
    }.reduce(_ unionAll _)
    tagged.groupBy(col("headers"))
      .agg(count(lit(1)).as("n_rows"))
      .select(md5(col("headers")).as("signature"), col("headers"), col("n_rows"),
        ceil(col("n_rows") / batchSize.toDouble).cast("long").as("n_batches"))
      .orderBy("headers")
  }

  /** The reid publish step (BQReidentificationPipeline.java:240-265:
    * row → JSON payload → topic): payloads are built by pure Catalyst
    * expressions (see DlpQueries.reidPublishFormat), the transport is
    * a [[graft.sources.MessageSink]] — a Pub/Sub adapter drops in
    * without touching the payload format. */
  def publish(payloads: DataFrame, sink: graft.sources.MessageSink,
              topic: String): Unit =
    sink.publish(payloads, topic)
}
