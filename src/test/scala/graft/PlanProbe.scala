package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, RDDScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.jdk.CollectionConverters._

/** What a piece of driver code ran: the jobs it started and the executed
  * plans of its SQL actions (eager pins and the final collect alike), plus
  * plan-node queries that see through adaptive execution — the nodes of
  * the final plan, query stages included (a plain `collect` stops at each
  * stage, and the plan's string renders the initial plan as well).
  */
object PlanProbe extends AdaptiveSparkPlanHelper {

  final case class Observed[T](result: T, jobs: Int, plans: Seq[SparkPlan])

  /** Runs `body` and reports its jobs and executed plans. A one-task marker
    * job opens and closes the window: the listener bus delivers events in
    * order, so once the closing marker's start arrives every job and SQL
    * action before it has been seen.
    */
  def observe[T](spark: SparkSession)(body: => T): Observed[T] = {
    val sc = spark.sparkContext
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val jobs = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = seen.add(j.jobId)
    }
    val actions = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    def marker(): Int = {
      val f = sc.submitJob(sc.parallelize(Seq(0), 1), (_: Iterator[Int]) => (),
        Seq(0), (_: Int, _: Unit) => (), ())
      scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)
      f.jobIds.head
    }
    sc.addSparkListener(jobs)
    spark.listenerManager.register(actions)
    try {
      val from = marker()
      val result = body
      val to = marker()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(to) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(to), "listener never saw the closing marker job")
      Observed(result, seen.asScala.count(id => id > from && id < to),
        plans.asScala.toSeq)
    } finally {
      spark.listenerManager.unregister(actions)
      sc.removeSparkListener(jobs)
    }
  }

  def shuffles(plan: SparkPlan): Seq[ShuffleExchangeLike] =
    collect(plan) { case e: ShuffleExchangeLike => e }

  def shuffles(df: DataFrame): Seq[ShuffleExchangeLike] =
    shuffles(df.queryExecution.executedPlan)

  def broadcasts(plan: SparkPlan): Seq[BroadcastExchangeLike] =
    collect(plan) { case e: BroadcastExchangeLike => e }

  /** The shuffles whose input is a pinned leaf with a column named
    * `column`, through projections and filters only.
    */
  def shufflesOverLeaf(plan: SparkPlan, column: String): Seq[ShuffleExchangeLike] = {
    def overLeaf(p: SparkPlan): Boolean = p match {
      case r: RDDScanExec => r.output.exists(_.name == column)
      case u if u.children.size == 1 &&
          (Set("Project", "Filter", "InputAdapter")(u.nodeName) ||
            u.nodeName.startsWith("WholeStageCodegen")) => overLeaf(u.children.head)
      case _ => false
    }
    shuffles(plan).filter(e => overLeaf(e.child))
  }
}
