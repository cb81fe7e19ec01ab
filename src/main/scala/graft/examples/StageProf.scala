package graft.examples

import graft.SparkEntry
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}

/** Per-stage profile of one declared query — the Spark-UI substitute for
  * this UI-less sandbox (guide §1.1's empirical loop): runs the named
  * query through the noop sink twice (the second run is the measured one —
  * codegen and parquet footer caches warm) and prints every stage's wall,
  * task count, input/shuffle-read/shuffle-write bytes and records, so the
  * expensive exchange or scan is attributed by measurement instead of plan
  * reading. `SPARK_GRAFT_SF_DIR` / `SPARK_GRAFT_CPUS` as in
  * [[graft.Bench]].
  *
  * Run: `SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_CPUS=32 \
  *   sbt "runMain graft.examples.StageProf e11_ngram_jaccard"`.
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProf <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.envCpus(32))

    @volatile var collect = false
    val rows = new java.util.concurrent.ConcurrentLinkedQueue[String]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        if (collect) {
          val si = sc.stageInfo
          val m = si.taskMetrics
          val wall = (for (a <- si.completionTime; b <- si.submissionTime)
            yield a - b).getOrElse(-1L)
          rows.add(f"[stageprof]   stage ${si.stageId}%4d ${wall}%6d ms " +
            f"tasks=${si.numTasks}%4d in=${m.inputMetrics.bytesRead / 1048576.0}%8.1f MB " +
            f"sr=${m.shuffleReadMetrics.totalBytesRead / 1048576.0}%8.1f MB " +
            f"sw=${m.shuffleWriteMetrics.bytesWritten / 1048576.0}%8.1f MB " +
            f"spill=${m.diskBytesSpilled / 1048576.0}%6.1f MB  ${si.name.takeWhile(_ != '\n').take(80)}")
        }
    })

    args.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      // warm run (codegen, footers, broadcast machinery)
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      // match the bench's round-16 methodology: caches cleared between
      // timings, so the measured run computes from source — without this,
      // operators that persist intermediates profile their CACHED replay
      spark.catalog.clearCache()
      rows.clear(); collect = true
      spark.sparkContext.setJobDescription(s"stageprof: $name")
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      val wall = (System.nanoTime() - t0) / 1e9
      collect = false
      Thread.sleep(300) // listener delivery is async
      println(f"[stageprof] $name warm total ${wall}%.2f s, stages:")
      rows.forEach(r => println(r))
    }
    spark.stop()
  }
}
