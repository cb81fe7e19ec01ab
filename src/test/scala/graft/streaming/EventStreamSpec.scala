package graft.streaming

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class EventStreamSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sfDir = "/root/testdata/sf0.001"

  test("stateful sessionization emits idle users' FINAL sessions via event-time timeout") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ev(id: Long, ts: String, user: Long, v: Double) =
      EventStream.Event(id, java.sql.Timestamp.valueOf(ts), user, "c", v)
    val gapMs = 30 * 60 * 1000L
    val ms = MemoryStream[EventStream.Event]
    val out = EventStream.sessionizeStateful(ms.toDS(), gapMs, watermarkDelay = "0 seconds")
    val q = out.writeStream.outputMode("append").format("memory")
      .queryName("stateful_timeout").start()
    try {
      // user 7: one session, then silence forever. user 99: two gap-separated
      // single-event sessions (the first closes by gap inside the batch).
      ms.addData(
        ev(1, "2024-01-01 10:00:00", 7, 1.0), ev(2, "2024-01-01 10:10:00", 7, 2.0),
        ev(3, "2024-01-01 13:00:00", 99, 4.0), ev(4, "2024-01-01 13:35:00", 99, 8.0))
      q.processAllAvailable()
      // a later event for an UNRELATED user advances the watermark past
      // lastSeen+gap for users 7 and 99 — their open sessions must now be
      // emitted by timeout, with NO further event for either user
      ms.addData(ev(5, "2024-01-02 00:00:00", 999, 0.0))
      q.processAllAvailable()
      val got = spark.table("stateful_timeout")
        .where(col("user_id") =!= 999)
        .collect()
        .map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getTimestamp(2).toString,
          r.getLong(3), r.getDouble(4))).toSet
      assert(got == Set(
        (7L, "2024-01-01 10:00:00.0", "2024-01-01 10:10:00.0", 2L, 3.0),
        (99L, "2024-01-01 13:00:00.0", "2024-01-01 13:00:00.0", 1L, 4.0),
        (99L, "2024-01-01 13:35:00.0", "2024-01-01 13:35:00.0", 1L, 8.0)), got.toString)
      // ≡ the session_window twin on the same data: the built-in's session
      // end is lastSeen + gap, the stateful one reports lastSeen — align and
      // compare exactly
      val batch = Seq(
        ev(1, "2024-01-01 10:00:00", 7, 1.0), ev(2, "2024-01-01 10:10:00", 7, 2.0),
        ev(3, "2024-01-01 13:00:00", 99, 4.0), ev(4, "2024-01-01 13:35:00", 99, 8.0))
        .toDS().toDF()
      val twin = graft.ext.Jsonish.sessions(batch, "30 minutes")
        .collect()
        .map(r => (r.getLong(2), r.getTimestamp(0).toString,
          new java.sql.Timestamp(r.getTimestamp(1).getTime - gapMs).toString,
          r.getLong(3), r.getDouble(4))).toSet
      assert(got == twin, s"stateful $got != session_window twin $twin")
    } finally q.stop()
  }

  test("stateful sessionization closes sessions on the gap and sums values") {
    import spark.implicits._
    val events = Seq(
      EventStream.Event(1, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 7, "c", 1.0),
      EventStream.Event(2, java.sql.Timestamp.valueOf("2024-01-01 10:10:00"), 7, "c", 2.0),
      EventStream.Event(3, java.sql.Timestamp.valueOf("2024-01-01 12:00:00"), 7, "c", 4.0),
      EventStream.Event(4, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 8, "c", 8.0))
      .toDS()
    // batch Dataset drives the same flatMapGroupsWithState function
    val out = EventStream.sessionizeStateful(events, gapMillis = 30 * 60 * 1000)
      .collect()
    // user 7: session [10:00,10:10] closed by the 12:00 event; the 12:00
    // session and user 8's stay open in state (append mode emits closed only)
    assert(out.length == 1)
    val s = out.head
    assert(s.user_id == 7 && s.n_events == 2 && s.sum_value == 3.0)
    assert(s.session_start == java.sql.Timestamp.valueOf("2024-01-01 10:00:00"))
    assert(s.session_end == java.sql.Timestamp.valueOf("2024-01-01 10:10:00"))
  }

  test("sessionizeBatch ≡ the session_window aggregation on real events") {
    import graft.queries.Reference
    val ev = Reference.events(spark, sfDir)
    val cols = Seq("user_id", "session_start", "session_end", "n_events", "sum_value")
    val got = EventStream.sessionizeBatch(ev, "30 minutes", valueAgg = Reference.msum)
      .selectExpr(cols: _*)
    val want = ev
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), Reference.msum(col("value")).as("sum_value"))
      .select(col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("user_id"), col("n_events"), col("sum_value"))
      .selectExpr(cols: _*)
    assert(got.count() > 0)
    assert(got.exceptAll(want).count() == 0, "gaps-and-islands row session_window lacks")
    assert(want.exceptAll(got).count() == 0, "session_window row gaps-and-islands lacks")
  }

  test("sessionizeBatch: an event at exactly the gap starts a new session") {
    import spark.implicits._
    // session_window's merge rule is overlap of [t, t+gap) — an event at
    // exactly prev+gap does NOT merge; the >= in the island flag mirrors it
    val base = Seq(
      (1L, "2024-01-01 10:00:00", 7L, 1.0),
      (2L, "2024-01-01 10:30:00", 7L, 2.0), // exactly 30 min later
      (3L, "2024-01-01 10:59:00", 7L, 4.0)) // 29 min after that -> merges
      .toDF("event_id", "tss", "user_id", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val got = EventStream.sessionizeBatch(base, "30 minutes")
      .orderBy("session_start")
      .collect()
      .map(r => (r.getAs[java.sql.Timestamp]("session_start").toString,
        r.getAs[java.sql.Timestamp]("session_end").toString,
        r.getAs[Long]("n_events"), r.getAs[Double]("sum_value")))
    assert(got.toSeq == Seq(
      ("2024-01-01 10:00:00.0", "2024-01-01 10:30:00.0", 1L, 1.0),
      ("2024-01-01 10:30:00.0", "2024-01-01 11:29:00.0", 2L, 6.0)), got.mkString(", "))
  }

  test("statefulReplay ≡ an independent window-function reconstruction on real events") {
    import graft.queries.Reference
    val ev = Reference.events(spark, sfDir)
    val got = EventStream.statefulReplay(ev)
    // third voice beside the fMGWS fold and the DuckDB mirror: gaps-and-
    // islands with the replay's exact contract — ms grid, strict > closure,
    // end = last event, trailing island per user dropped
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ms"), col("event_id"))
    val gapMs = 30 * 60 * 1000L
    val isl = ev
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000").as("ms"),
        round(col("value") * 10000, 0).cast("long").as("units"))
      .withColumn("__prev", lag(col("ms"), 1).over(byUser))
      .withColumn("__sid", sum(
        when(col("__prev").isNull || col("ms") - col("__prev") > gapMs, 1L)
          .otherwise(0L))
        .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val want = isl
      .groupBy(col("user_id"), col("__sid"))
      .agg(
        date_format(timestamp_millis(min(col("ms"))), "yyyy-MM-dd HH:mm:ss")
          .as("session_start"),
        date_format(timestamp_millis(max(col("ms"))), "yyyy-MM-dd HH:mm:ss")
          .as("session_end"),
        count(lit(1)).as("n_events"),
        (sum(col("units")).cast("double") / 10000).as("sum_value"))
      .withColumn("__last", max(col("__sid")).over(Window.partitionBy(col("user_id"))))
      .where(col("__sid") < col("__last"))
      .select("user_id", "session_start", "session_end", "n_events", "sum_value")
    assert(got.count() > 0, "no closed sessions on real events")
    assert(got.exceptAll(want).count() == 0, "replay row the reconstruction lacks")
    assert(want.exceptAll(got).count() == 0, "reconstruction row the replay lacks")
    // withholding is real: every user's trailing open session is absent
    val users = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    val islands = isl.select(col("user_id"), col("__sid")).distinct().count()
    assert(got.count() == islands - users, "withheld-session accounting is off")
  }

  test("sessionizeBatch is stable under adversarial repartitioning and plans one exchange") {
    import graft.queries.Reference
    val ev = Reference.events(spark, sfDir)
    val a = EventStream.sessionizeBatch(ev, "30 minutes", valueAgg = Reference.msum)
    val b = EventStream.sessionizeBatch(ev.repartition(7), "30 minutes",
      valueAgg = Reference.msum)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "island assignment changed under repartitioning")
    // the window's hash(user_id) partitioning must be reused by the final
    // aggregate — a second exchange here becomes the bottleneck at scale
    val plan = a.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, got $exchanges:\n$plan")
  }

}
