package graft.examples

import graft.SparkEntry
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Plan evidence for EAGER query stages (round 16): queries whose
  * construction runs jobs before the declared frame exists (the
  * percentile-grid family — `Percentiles.exactGridValues` collects its
  * one-row result at call time) show only a literal projection in
  * `Explain`. This harness registers a QueryExecutionListener and
  * CONSTRUCTS the named queries, dumping the formatted physical plan of
  * every eager action they trigger — the grid aggregation, the per-range
  * subtotal pass, the rank scan — so the "no single-partition window"
  * claim stays reviewable (plans/r16 appendices).
  */
object EagerPlans {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names = if (args.nonEmpty) args.toSeq else Seq("e10_percentiles")
    val spark = graft.Session.local(8)
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        println(s"\n--- eager action: $funcName ---")
        println(qe.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    })
    names.foreach { n =>
      println(s"\n########## $n (construction-time jobs) ##########")
      SparkEntry.queries(n)(spark, sfDir)
      // the execution listener bus is asynchronous — drain before the next
      // query's banner so plans land under the right heading
      Thread.sleep(2000)
    }
    spark.stop()
  }
}
