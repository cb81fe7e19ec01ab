package graft
object Bench {
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2.0
  }

  /** Execution-memory observability for the scale rehearsal: per-query
    * shuffle/aggregation spill bytes and the peak per-task execution memory,
    * accumulated from task-end events. Attribution is by delta-snapshot
    * around each sequential query run; listener delivery is asynchronous,
    * so a tail task's metrics can land in the next query's bucket — fine
    * for rehearsal-grade headroom numbers, not for billing.
    */
  private class MetricsListener extends org.apache.spark.scheduler.SparkListener {
    val memSpill = new java.util.concurrent.atomic.AtomicLong
    val diskSpill = new java.util.concurrent.atomic.AtomicLong
    val peakTaskMem = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      val m = te.taskMetrics
      if (m != null) {
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        peakTaskMem.getAndUpdate(p => math.max(p, m.peakExecutionMemory))
      }
    }
    def snapshot(): (Long, Long, Long) =
      (memSpill.get(), diskSpill.get(), peakTaskMem.get())
    def resetPeak(): Unit = peakTaskMem.set(0L)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = Session.envCpus(4)
    // SPARK_GRAFT_BENCH_RUNS=k repeats the whole suite k times and reports
    // the per-query MEDIAN (plus min) — the documented 5× co-tenant variance
    // makes any single-run number unusable as a regression signal, so the
    // default is 3 (median-of-3 is the official record, no env var needed).
    val runs = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    // SPARK_GRAFT_BENCH_ONLY=q07_groupsum,e11_ngram_jaccard,… restricts the
    // suite to a headline subset — the scale-rehearsal knob (a sf10 run of
    // all 130+ queries would spend hours re-measuring known-linear scans).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // SPARK_GRAFT_BENCH_METRICS=1 adds per-query spill + peak-task-memory
    // fields (rehearsal observability; off by default to keep the driver's
    // BENCH JSON contract minimal).
    val withMetrics = sys.env.get("SPARK_GRAFT_BENCH_METRICS").contains("1")
    val spark = Session.local(cpus)
    val listener = new MetricsListener
    if (withMetrics) spark.sparkContext.addSparkListener(listener)
    // Warmup: initialize parquet reader, codegen, and shuffle machinery so
    // the first measured query doesn't absorb session startup (~3s).
    spark.read.parquet(s"$sfDir/nation.parquet")
      .groupBy("n_regionkey").count()
      .write.format("noop").mode("overwrite").save()
    // noop sink (not .count()): forces full materialization of every output
    // column — count() lets Catalyst prune projections and would under-time
    // compute-heavy queries.
    val names = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (k, _) => only.forall(_.contains(k)) }
    only.foreach { o =>
      val unknown = o -- names.map(_._1).toSet
      require(unknown.isEmpty, s"SPARK_GRAFT_BENCH_ONLY names unknown queries: $unknown")
    }
    val timings = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val spills = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val peaks = scala.collection.mutable.Map.empty[String, Vector[Double]]
    val failures = scala.collection.mutable.Map.empty[String, Int]
    // whole-suite passes (not back-to-back repeats of one query) so a
    // co-tenant load spike hits different queries in different runs.
    // A run that throws is a FAILURE, not a sample: its time-to-failure never
    // enters the medians (a consistently-crashing query must not report a
    // fast, meaningless timing) — it is counted in the "failures" field.
    for (_ <- 1 to runs; (name, fn) <- names) {
      if (withMetrics) listener.resetPeak()
      val (m0, d0, _) = if (withMetrics) listener.snapshot() else (0L, 0L, 0L)
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        timings(name) = timings.getOrElse(name, Vector.empty) :+ (System.nanoTime() - t0) / 1e9
        if (withMetrics) {
          val (m1, d1, p1) = listener.snapshot()
          spills(name) = spills.getOrElse(name, Vector.empty) :+
            ((m1 - m0) + (d1 - d0)) / 1048576.0
          peaks(name) = peaks.getOrElse(name, Vector.empty) :+ p1 / 1048576.0
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          failures(name) = failures.getOrElse(name, 0) + 1
      }
      // measurement hygiene (round 16): several operators persist bounded
      // intermediates with session lifetime (the graft-wide convention —
      // Stats scaladoc says long-lived sessions clear between batches, and
      // this loop is exactly that). Without this, run 2+ of a query — and
      // any later query sharing a canonically-equal subplan — silently
      // reads run 1's cache instead of the parquet inputs, which the
      // optimization contract forbids. Clearing sits OUTSIDE the timed
      // region: every timing now computes from source.
      spark.catalog.clearCache()
    }
    val succeeded = names.filter { case (k, _) => timings.contains(k) }
    def jsonMapOf(m: collection.Map[String, Vector[Double]], f: Vector[Double] => Double): String =
      succeeded.collect { case (k, _) if m.contains(k) =>
        s"\"" + k + "\":" + BigDecimal(f(m(k))).setScale(3, BigDecimal.RoundingMode.HALF_UP)
      }.mkString("{", ",", "}")
    def jsonMap(f: Vector[Double] => Double): String =
      succeeded.map { case (k, _) => s"\"" + k + "\":" + f(timings(k)) }.mkString("{", ",", "}")
    // stdout carries the CONTRACT line only, with medians rounded to ms —
    // round-14's full-precision line with every per-query map attached
    // overflowed the driver's capture tail and cost the round-over-round
    // comparison (PERF_r15 prev_bench_ok: false). Everything else
    // (full-precision medians, per-run minima, spill metrics) goes to the
    // sidecar file below, which the driver ignores.
    val qs = jsonMapOf(timings, median)
    val fails = failures.toSeq.sortBy(_._1)
      .map { case (k, n) => s"\"" + k + "\":" + n }.mkString("{", ",", "}")
    val total = succeeded.map { case (k, _) => median(timings(k)) }.sum
    val metricsJson = if (withMetrics)
      s""","spill_mb":${jsonMapOf(spills, _.max)},"peak_task_mem_mb":${jsonMapOf(peaks, _.max)}"""
    else ""
    val sidecar = s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":${jsonMap(median)},"queries_min":${jsonMap(_.min)},"failures":$fails$metricsJson,"sf":"$sfDir"}"""
    val sidecarPath = java.nio.file.Paths.get("bench_sidecar.json")
    java.nio.file.Files.write(sidecarPath, sidecar.getBytes("UTF-8"))
    System.err.println(s"[bench] full-precision medians + per-run minima: ${sidecarPath.toAbsolutePath}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"queries":$qs,"failures":$fails,"sf":"$sfDir"}""")
    spark.stop()
  }
}
