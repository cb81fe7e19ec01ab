package graft

import org.apache.spark.sql.SparkSession

/** The one local session configuration shared by every entry point (the
  * `Verify`/`Bench` mains, the examples and the test session).
  */
object Session {

  /** `SPARK_GRAFT_CPUS`, or `default` when it is unset. */
  def envCpus(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  /** A `local[cpus]` session with `cpus` shuffle partitions, UTC session
    * time, no UI and WARN logging (or the already-running session).
    */
  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // events.ts shape varies across testdata generations (nanos vs NTZ
      // micros); nanosAsLong covers the nanos case and Reference.events
      // normalizes every shape to a µs TimestampType column.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
