package graft.ingest

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.{Failure, Try}

/** CSV → Parquet ingestion (SURVEY.md §2.a S1–S3) — the Spark-native
  * replacement for the reference's `convert_file_to_parquet` /
  * `convert_multiple_files_to_parquet` (`helper_utils.py:167-197`) without
  * the S3/EMR choreography (environment concerns with no analytics
  * semantics, SURVEY.md §3 EP1).
  *
  * Scale posture: `spark.read.csv` with `inferSchema` does a distributed
  * sampling pass; the Parquet write is executor-parallel and columnar at
  * rest, which is what buys predicate pushdown + column pruning for every
  * downstream query.
  */
object IngestJob {

  /** One CSV file → one Parquet directory, with header + schema inference
    * and sanitized column names (`helper_utils.py:167-183`). Returns the
    * inferred schema, as the reference returns the `(name, dtype)` pairs.
    */
  def csvToParquet(spark: SparkSession, filePath: String, outDir: String): StructType = {
    val df = readCsvSanitized(spark, filePath)
    df.write.mode("overwrite").parquet(s"$outDir/${Sanitize.fileName(filePath)}")
    df.schema
  }

  /** CSV read with the reference's options + column-name sanitization. */
  def readCsvSanitized(spark: SparkSession, filePath: String): DataFrame = {
    val raw = spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .csv(filePath)
    raw.toDF(raw.columns.map(Sanitize.replaceInString).toIndexedSeq: _*)
  }

  /** Directory batch convert (`helper_utils.py:185-197`): every `*.csv` in
    * `inDir` → Parquet under `outDir/<sanitized-table-name>`; returns
    * tableName → schema for DDL synthesis.
    *
    * The files convert concurrently, one [[csvToParquet]] per file on a
    * pool of min(files, defaultParallelism) driver threads, largest file
    * first: a file's schema-inference and write jobs are short and often
    * single-task (one small CSV is one split), so converting one file at a
    * time leaves most cores idle. Files whose names sanitize to the same
    * table share one task and convert in path order, so the last one's
    * table and schema win, as they did sequentially. Every task runs to
    * completion; the first failure in path order is then rethrown as
    * thrown.
    */
  def csvDirToParquet(spark: SparkSession, inDir: String, outDir: String): Map[String, StructType] = {
    val files = new java.io.File(inDir).listFiles()
    val tables = Option(files).getOrElse(Array.empty)
      .filter(f => f.isFile && Sanitize.fileType(f.getName) == "csv")
      .map(_.getAbsolutePath)
      .sorted
      .groupBy(Sanitize.fileName).toSeq
      .sortBy { case (_, paths) => paths.head }
    if (tables.isEmpty) return Map.empty
    val pool = Executors.newFixedThreadPool(
      math.min(tables.length, spark.sparkContext.defaultParallelism))
    try {
      val pending = tables
        .sortBy { case (_, paths) => -paths.map(new java.io.File(_).length).sum }
        .map { case (table, paths) =>
          val convert: Callable[StructType] =
            () => paths.map(csvToParquet(spark, _, outDir)).last
          table -> pool.submit(convert)
        }.toMap
      val done = tables.map { case (table, _) =>
        table -> Try(pending(table).get()).recoverWith {
          case e: ExecutionException => Failure(e.getCause)
        }
      }
      done.map { case (table, schema) => table -> schema.get }.toMap
    } finally pool.shutdown()
  }

  /** The pandas-path preprocessing (`helper_utils.py:83-95`), Spark-native:
    * header rewrite with the weaker [[Sanitize.preprocessHeader]] rule and
    * all-NULL column drop. (Datetime coercion of object columns is covered
    * by CSV inferSchema upstream.)
    */
  def preprocess(df: DataFrame): DataFrame = {
    val renamed = df.toDF(df.columns.map(Sanitize.preprocessHeader).toIndexedSeq: _*)
    val counts = renamed.count()
    if (counts == 0) renamed
    else {
      val nonNullCounts = renamed.select(renamed.columns.toIndexedSeq.map(c =>
        org.apache.spark.sql.functions.count(org.apache.spark.sql.functions.col(c)).as(c)): _*)
        .head()
      val keep = renamed.columns.zipWithIndex
        .filter { case (_, i) => nonNullCounts.getLong(i) > 0 }
        .map { case (c, _) => c }
      renamed.select(keep.toIndexedSeq.map(org.apache.spark.sql.functions.col): _*)
    }
  }
}
