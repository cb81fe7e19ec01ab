package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Semi-structured / event operators (mandated extensions E4/E5,
  * SURVEY.md §2.e): JSON property extraction over `events.props`, and
  * time-window aggregation over `events.ts` with Spark's `window()` /
  * `session_window()` groupings.
  */
object Jsonish {

  /** Typed parse of the `props` JSON column. Schema-on-read with an explicit
    * StructType — `from_json` is codegen'd and null-safe on malformed rows.
    */
  val propsSchema: StructType = StructType(Seq(StructField("k", LongType)))

  def parsedProps(events: DataFrame, propsCol: String = "props"): DataFrame =
    events.withColumn("props_parsed", from_json(col(propsCol), propsSchema))

  /** Scalar JSON path extraction (Presto json_extract_scalar counterpart). */
  def jsonGet(c: Column, path: String): Column = get_json_object(c, path)

  /** Tumbling-window aggregation: (window, event_type) → count, sum(value).
    * At scale this is one shuffle on (window, type) with map-side partial
    * aggregation.
    */
  def tumbling(events: DataFrame, width: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), width), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Sliding (hopping) windows: every event lands in width/slide
    * overlapping windows — `window(ts, width, slide)` expands the
    * assignment inline (an explode-like Generate), then the same one
    * shuffle on (window, type) as [[tumbling]]. Shuffle volume scales by
    * the overlap factor; pick slide ≥ width/4 at corpus scale or
    * pre-aggregate to tumbling panes first.
    */
  def sliding(events: DataFrame, width: String = "1 hour",
      slide: String = "15 minutes"): DataFrame =
    events
      .groupBy(window(col("ts"), width, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Session windows per user: gap-based sessionization via the built-in
    * `session_window` (Spark 3.2+), the batch twin of streaming session
    * state in flatMapGroupsWithState.
    */
  def sessions(events: DataFrame, gap: String = "30 minutes"): DataFrame =
    events
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
}
