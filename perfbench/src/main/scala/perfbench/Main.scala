package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.SparkEntry
import graft.catalog.Ddl
import graft.ingest.IngestJob
import org.apache.spark.perfbench.BusShim
import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark program with one client: it submits one op, waits
  * for its whole result, then submits the next. A run starts one session,
  * runs an untimed warm-up pass over `--warmup` inputs, then times passes
  * over the workload's ops on the full inputs in a seeded order until the
  * ops have taken `--seconds` and at least [[MinPasses]] passes ran.
  * Result checks, cache clearing and the heap probe run between ops,
  * outside the timed region. Raw samples go to `--out` as JSON; `run.py`
  * turns them into metrics.
  *
  * With `--trace 1` the timed passes alternate between traced (a [[Tracer]]
  * on the listener bus and a span per op and phase) and untraced, so the
  * tracing overhead is measured inside the same run. Spans are written to
  * `--spans` when the run ends.
  */
object Main {

  /** Ops of each workload, run once per pass in a seeded order. Query ops
    * are names of [[graft.SparkEntry.queries]]; [[Etl]] is the reference's
    * ETL pipeline, a chain of dependent ops that keeps its internal order.
    * An op costs 0.5 to 22 s, most of it job and stage latency; the lists
    * are short enough for a run to fit its time budget.
    */
  val Etl = "etl"
  val Workloads: Map[String, Seq[String]] = Map(
    // near-dup pairs (ext.Dedup) feeding triangle counts (ops.Triangles,
    // with ops.Layout pins): stage-latency bound. One op only: a second op
    // made the pass depend on the seeded order, e94 running about 8 %
    // slower as the first timed op than after another one.
    "neardup_graph" -> Seq("e94_triangles"),
    // CSV ingest and catalog, then the Percentiles/Normalize, Stats,
    // Funnel and PageRank operators and one reference join query
    "etl_analytics" -> Seq(Etl, "e40_winsorize", "e41_corr_matrix", "e19_funnel",
      "e23_pagerank", "q33_q13custdist"))
  private val Db = "perfbench_etl"
  /** Untimed warm-up passes, over the `--warmup` inputs: the JVM's first
    * pass pays for class loading, code generation and interpreted
    * execution.
    */
  val WarmupPasses = 1
  /** Timed passes per run, at least. `etl_analytics` has eight short ops,
    * each of which a burst of load on the machine can slow by half, so a
    * run times each twice and keeps the faster; one `e94_triangles` pass
    * is steadier and costs too much to repeat within the time budget.
    */
  val MinPasses: Map[String, Int] = Map("neardup_graph" -> 1, "etl_analytics" -> 2)

  final case class Phase(name: String, start: Long, end: Long)
  final case class OpRec(name: String, phases: Seq[Phase], error: Option[String],
      result: Map[String, Any], heapMb: Double, cachedLeft: Int) {
    def wallNs: Long = phases.map(p => p.end - p.start).sum
  }

  def main(argv: Array[String]): Unit = {
    val opts = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def opt(k: String) = opts.getOrElse(k, sys.error(s"missing --$k"))
    val workload = opt("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    new Main(workload, opt("seed").toLong, opt("seconds").toDouble, opt("trace") == "1",
      opt("data"), opt("warmup"), opt("work"), opt("out"), opt("spans")).run()
  }
}

final class Main(workload: String, seed: Long, seconds: Double, trace: Boolean, data: String,
    warmupData: String, work: String, out: String, spansPath: String) {
  import Main._

  private val cpus = Runtime.getRuntime.availableProcessors()
  private val queries = SparkEntry.queries
  private val rng = new scala.util.Random(seed)
  private var spark: SparkSession = _
  private var tracer: Option[Tracer] = None
  private var nextSpan = 0L
  /** Op and phase spans: id, parent, kind, name, pass, start and end in epoch ms. */
  private val spans = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val epochAtNano0 = System.currentTimeMillis() - System.nanoTime() / 1e6
  private def epochMs(nano: Long): Double = epochAtNano0 + nano / 1e6

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def run(): Unit = {
    val missing = Workloads(workload).filterNot(n => n == Etl || queries.contains(n))
    require(missing.isEmpty, s"unknown ops: ${missing.mkString(", ")}")
    spark = session()
    (1 to WarmupPasses).foreach(i => pass(-i, traced = false, timed = false))
    val warmups = warmupRecs.toSeq
    // Every timed op but the first follows the heap probe's full GC; this
    // one gives the first the same clean heap.
    System.gc()
    // set-up ends here: the first timed op starts next
    val setupEndMs = System.currentTimeMillis()
    val passes = mutable.ArrayBuffer.empty[(Int, Boolean, Seq[OpRec])]
    def measured = passes.map(_._3.map(_.wallNs).sum).sum / 1e9
    // traced runs alternate traced and untraced passes and need one of each
    while (passes.length < MinPasses(workload) || measured < seconds ||
        (trace && passes.length < 2)) {
      val traced = trace && passes.length % 2 == 0
      passes += ((passes.length, traced, pass(passes.length, traced, timed = true)))
    }
    spark.stop()
    val passJson = passes.map { case (i, traced, ops) =>
      Map("pass" -> i, "traced" -> traced, "ops" -> ops.map(opJson))
    }
    val result = Map(
      "workload" -> workload, "seed" -> seed, "cpus" -> cpus,
      "setup_end_epoch_ms" -> setupEndMs, "measured_s" -> measured,
      "warmup" -> warmups.map(opJson), "passes" -> passJson)
    Files.write(Paths.get(out), Json(result).getBytes("UTF-8"))
    if (trace) writeSpans()
  }

  private def opJson(o: OpRec): Map[String, Any] = Map(
    "name" -> o.name, "wall_s" -> o.wallNs / 1e9,
    "phases" -> o.phases.map(p => p.name -> (p.end - p.start) / 1e9).toMap,
    "error" -> o.error, "result" -> o.result, "heap_mb" -> o.heapMb,
    "cached_left" -> o.cachedLeft)

  private val warmupRecs = mutable.ArrayBuffer.empty[OpRec]

  /** One closed-loop pass. Warm-up passes (negative ids) are untimed. */
  private def pass(id: Int, traced: Boolean, timed: Boolean): Seq[OpRec] = {
    val t = if (traced) {
      val tr = new Tracer
      spark.sparkContext.addSparkListener(tr)
      Some(tr)
    } else None
    tracer = t
    val dir = if (timed) data else warmupData
    val recs = rng.shuffle(Workloads(workload)).flatMap { unit =>
      if (unit == Etl) etl(id, dir, timed) else Seq(query(id, unit, dir, timed))
    }
    t.foreach { tr =>
      BusShim.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(tr)
      collectTrace(tr)
    }
    tracer = None
    if (!timed) warmupRecs ++= recs
    recs
  }

  private def query(id: Int, name: String, dir: String, timed: Boolean): OpRec =
    op(id, name, timed) { phase =>
      val df = phase("construct")(queries(name)(spark, s"$dir/parquet"))
      phase("plan")(df.queryExecution.executedPlan)
      val rows = phase("execute")(df.collect())
      val fp = Fingerprint.of(df.schema, rows)
      Map("rows" -> fp.rows, "hash" -> fp.hash, "columns" -> fp.columns)
    }

  /** The reference's ETL pipeline: CSV → Parquet, database recreated and
    * every output directory registered, then each table read back.
    */
  private def etl(id: Int, dir: String, timed: Boolean): Seq[OpRec] = {
    val csvDir = s"$dir/csv"
    val outDir = new File(s"$work/ingest/pass$id")
    deleteTree(new File(s"$work/ingest"))
    val convert = op(id, "csv_to_parquet", timed) { phase =>
      val tables = phase("execute")(IngestJob.csvDirToParquet(spark, csvDir, outDir.getPath))
      Map("tables" -> tables.size, "csv_bytes" -> treeBytes(new File(csvDir)),
        "parquet_bytes" -> treeBytes(outDir))
    }
    val register = op(id, "register", timed) { phase =>
      val names = phase("execute") {
        Ddl.recreateDatabase(spark, Db)
        Ddl.registerDir(spark, Db, outDir.getPath)
      }
      Map("tables" -> names.sorted)
    }
    val tables = register.result.get("tables").map(_.asInstanceOf[Seq[String]]).getOrElse(Nil)
    val readback = op(id, "readback", timed) { phase =>
      val shapes = phase("execute")(rng.shuffle(tables).map(t => t -> Ddl.tableShape(spark, s"$Db.$t")))
      shapes.map { case (t, (rows, cols)) =>
        t -> Map("rows" -> rows, "cols" -> cols, "columns" -> spark.table(s"$Db.$t").columns.toSeq)
      }.toMap
    }
    Seq(convert, register, readback)
  }

  /** Runs one op. `body` times each of its phases through the runner it is
    * given; everything else in `body` (result fingerprints) is untimed.
    * After the op, and outside the timed region: the number of persistent
    * RDDs it left registered, a full GC to read the live heap (timed passes
    * only), and `clearCache`, so that no op reads another's cache.
    */
  private def op(pass: Int, name: String, timed: Boolean)(
      body: ((String) => PhaseTimer) => Map[String, Any]): OpRec = {
    val phases = mutable.ArrayBuffer.empty[Phase]
    val opSpan = newSpanId()
    val sc = spark.sparkContext
    val cachedBefore = sc.getPersistentRDDs.size
    def timer(phaseName: String): PhaseTimer = new PhaseTimer {
      def apply[T](f: => T): T = {
        val spanId = newSpanId()
        if (tracer.isDefined) sc.setLocalProperty(Tracer.SpanProp, spanId.toString)
        val t0 = System.nanoTime()
        try f finally {
          val t1 = System.nanoTime()
          sc.setLocalProperty(Tracer.SpanProp, null)
          phases += Phase(phaseName, t0, t1)
          if (tracer.isDefined) span(spanId, opSpan, "phase", phaseName, pass, t0, t1)
        }
      }
    }
    val (error, result) =
      try (None, body(timer))
      catch { case e: Throwable => (Some(s"${e.getClass.getName}: ${e.getMessage}"), Map.empty[String, Any]) }
    if (tracer.isDefined && phases.nonEmpty)
      span(opSpan, -1, "op", name, pass, phases.head.start, phases.last.end)
    val cachedLeft = sc.getPersistentRDDs.size - cachedBefore
    val heapMb = if (timed) {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    } else 0.0
    spark.catalog.clearCache()
    OpRec(name, phases.toSeq, error, result, heapMb, cachedLeft)
  }

  private def newSpanId(): Long = { nextSpan += 1; nextSpan }

  private def span(id: Long, parent: Long, kind: String, name: String, pass: Int,
      t0: Long, t1: Long): Unit =
    spans += Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
      "pass" -> pass, "start" -> epochMs(t0), "end" -> epochMs(t1))

  /** Job and stage spans of one traced pass, from the tracer. */
  private def collectTrace(tr: Tracer): Unit = {
    val jobSpan = tr.jobs.map { j =>
      val id = newSpanId()
      spans += Map("id" -> id, "parent" -> j.parent, "kind" -> "job", "name" -> s"job ${j.jobId}",
        "module" -> j.module, "via_layout" -> j.viaLayout, "start" -> j.start.toDouble, "end" -> j.end.toDouble)
      j.jobId -> id
    }.toMap
    tr.stages.values.foreach { s =>
      spans += Map("id" -> newSpanId(), "parent" -> jobSpan(s.jobId), "kind" -> "stage",
        "name" -> s"stage ${s.stageId}.${s.attempt}", "start" -> s.start.toDouble,
        "end" -> s.end.toDouble, "tasks" -> s.tasks, "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs,
        "gc_ms" -> s.gcMs, "input_bytes" -> s.inputBytes,
        "shuffle_read_bytes" -> s.shuffleReadBytes, "shuffle_write_bytes" -> s.shuffleWriteBytes,
        "spill_bytes" -> s.spillBytes, "peak_task_mem_bytes" -> s.peakTaskMemBytes)
    }
  }

  private def writeSpans(): Unit =
    Files.write(Paths.get(spansPath), spans.map(Json(_)).mkString("", "\n", "\n").getBytes("UTF-8"))

  private def treeBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).map(treeBytes).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length()

  private def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty[File]).foreach(deleteTree)
    f.delete()
  }
}

/** Times one phase of an op. */
trait PhaseTimer {
  def apply[T](f: => T): T
}

/** Writes the DuckDB oracle SQL of every benchmark query op to the file
  * named by the first argument; `make_expected.py` derives expected
  * fingerprints from it.
  */
object OracleSql {
  def main(args: Array[String]): Unit = {
    val ops = Main.Workloads.values.flatten.toSeq.distinct.filter(SparkEntry.oracleSql.contains)
    Files.write(Paths.get(args(0)),
      Json(ops.map(n => n -> SparkEntry.oracleSql(n)).toMap).getBytes("UTF-8"))
  }
}
