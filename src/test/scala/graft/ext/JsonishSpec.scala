package graft.ext

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class JsonishSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  private lazy val events = {
    import spark.implicits._
    Seq(
      (1L, "2024-01-01 10:05:00", 7L, "click", 1.0, """{"k": 3}"""),
      (2L, "2024-01-01 10:45:00", 7L, "click", 2.0, """{"k": 4}"""),
      (3L, "2024-01-01 11:20:00", 7L, "view", 4.0, """{"k": 3}"""),
      (4L, "2024-01-01 13:00:00", 8L, "click", 8.0, "not json"))
      .toDF("event_id", "ts_s", "user_id", "event_type", "value", "props")
      .withColumn("ts", col("ts_s").cast("timestamp")).drop("ts_s")
  }

  test("parsedProps is typed and null-safe on malformed rows") {
    val got = Jsonish.parsedProps(events)
      .select(col("event_id"), col("props_parsed.k").as("k"))
      .collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got(1L).contains(3L))
    assert(got(4L).isEmpty) // malformed -> null, no exception
  }

  test("tumbling windows aggregate per (hour, type)") {
    val got = Jsonish.tumbling(events, "1 hour")
    val r = got.where(col("event_type") === "click" &&
        col("window_start") === lit("2024-01-01 10:00:00").cast("timestamp"))
      .head()
    assert(r.getLong(r.fieldIndex("n_events")) == 2)
    assert(r.getDouble(r.fieldIndex("sum_value")) == 3.0)
  }

  test("sliding windows land each event in width/slide windows on real events") {
    val ev = graft.queries.Reference.events(spark, "/root/testdata/sf0.001")
    val sliding = Jsonish.sliding(ev, "1 hour", "15 minutes").count()
    val tumbling = Jsonish.tumbling(ev, "1 hour").count()
    // overlap factor 4: sliding must produce ~4x the tumbling window count
    assert(sliding > 3 * tumbling, s"sliding $sliding vs tumbling $tumbling")
  }

  test("session windows split on the gap") {
    // user 7: events at 10:05, 10:45, 11:20 with 30min gap -> 10:05+10:45
    // are 40min apart -> separate sessions; 10:45 & 11:20 are 35min apart
    // -> also separate. 3 sessions for user 7, 1 for user 8.
    val got = Jsonish.sessions(events, "30 minutes")
    assert(got.where(col("user_id") === 7L).count() == 3)
    assert(got.where(col("user_id") === 8L).count() == 1)
    // widen the gap -> one session for user 7
    val wide = Jsonish.sessions(events, "2 hours")
    assert(wide.where(col("user_id") === 7L).count() == 1)
  }
}
