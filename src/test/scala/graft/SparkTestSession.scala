package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run (spark_guide: one
  * session per suite, lazy): the [[Session]] config on four cores.
  */
object SparkTestSession {
  lazy val spark: SparkSession = Session.local(4)
}
