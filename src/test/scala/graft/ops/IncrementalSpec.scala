package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class IncrementalSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("mergeStates(agg(old), agg(delta)) equals agg(old union delta) on real events") {
    val ev = graft.queries.Reference.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"), col("ts"))
    def aggOf(df: DataFrame) =
      df.groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n"), min(col("ts")).as("first_ts"),
          max(col("ts")).as("last_ts"))
    val cut = to_date(lit("2024-01-20"))
    val merged = Incremental.mergeStates(
        aggOf(ev.where(col("day") < cut)), aggOf(ev.where(col("day") >= cut)),
        Seq("event_type", "day"), addCols = Seq("n"),
        minCols = Seq("first_ts"), maxCols = Seq("last_ts"))
      .orderBy("event_type", "day").collect().toSeq
    val full = aggOf(ev).orderBy("event_type", "day").collect().toSeq
    assert(merged == full && merged.nonEmpty)
  }

  test("mergeStates keeps one-sided keys and refuses missing columns") {
    import spark.implicits._
    val old = Seq(("a", 3L, 1L), ("b", 5L, 2L)).toDF("k", "n", "mn")
    val delta = Seq(("b", 1L, 0L), ("c", 7L, 9L)).toDF("k", "n", "mn")
    val got = Incremental.mergeStates(old, delta, Seq("k"),
        addCols = Seq("n"), minCols = Seq("mn"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map("a" -> ((3L, 1L)), "b" -> ((6L, 0L)), "c" -> ((7L, 9L))))
    intercept[IllegalArgumentException](
      Incremental.mergeStates(old, delta, Seq("k"), addCols = Seq("missing")))
  }

  test("latestByKey keeps exactly the newest row per key, ties to the higher tie-col") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "old", "2024-01-01 10:00:00"),
      (1L, 11L, "new", "2024-01-02 10:00:00"),
      (2L, 20L, "lo-tie", "2024-01-01 10:00:00"),
      (2L, 21L, "hi-tie", "2024-01-01 10:00:00"),
      // sub-millisecond order: .000900 is newer than .000200 although both
      // share one millisecond, and it wins over the higher tie-col
      (3L, 39L, "sub-ms-early", "2024-01-01 13:00:00.000200"),
      (3L, 34L, "sub-ms-late", "2024-01-01 13:00:00.000900"))
      .toDF("k", "id", "v", "tss")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val got = Incremental.latestByKey(log, "k", "ts", "id").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == Map(1L -> ((11L, "new")), 2L -> ((21L, "hi-tie")),
      3L -> ((34L, "sub-ms-late"))))
    // compacting an already-compacted log is a no-op (idempotent)
    val once = Incremental.latestByKey(log, "k", "ts", "id")
    assert(Incremental.latestByKey(once, "k", "ts", "id").collect().toSet ==
      once.collect().toSet)
  }
}
