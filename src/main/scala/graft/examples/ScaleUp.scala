package graft.examples

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up of a testdata directory: writes `factor`× the rows of
  * every table as key-shifted DISJOINT UNIVERSES — copy k's keys live at
  * `k * 1e9 + key`, so every join relationship (lineitem⋈orders⋈customer,
  * events.user_id, …) holds within each copy and never across copies. The
  * result has the same per-key cardinalities, join fan-outs, and value
  * distributions as the source, at `factor`× the volume — the scale
  * rehearsal input for the bench (VERDICT r8 item 3: "confirm per-query
  * scaling exponents empirically, not by plan argument").
  *
  * Two columns get a per-copy perturbation so content-addressed operators
  * see a realistic corpus instead of a `factor`×-exact-copy degenerate one
  * (real sf1 documents are mostly unique; `factor` identical copies of every
  * text would inflate every near-dup bucket by C(2·factor,2)/1 and measure a
  * corpus no one curates):
  *  - `documents.text` gets copy-LOCAL content vocabulary: every
  *    non-stopword token is suffixed `tok~k` (order preserved, `n_chars`
  *    recomputed), while the English stopword list stays shared. Each
  *    copy is then structurally identical to the source (same n-gram
  *    repetition, span, and length profiles) but shares only
  *    function-word shingles across copies — the Zipfian shape of a real
  *    10× corpus, where content shingles stay rare and only function-word
  *    runs are dense. Two rejected alternatives, both measured wrong:
  *    marker-append left cross-copy texts near-identical (every blocked
  *    candidate-pair family inflated ~C(2·factor,2)×), and hash-keyed
  *    token permutation kept the source's tiny CLOSED vocabulary, making
  *    every trigram posting list uniformly dense at sf1 (Σ df² spills
  *    exceeded the disk in the posting-list Jaccard join);
  *  - `embeddings.embedding` is rotated by the copy index — rotation
  *    preserves the norm and the per-coordinate distribution but decorrelates
  *    cross-copy cosines, so SemDeDup cells and ANN buckets keep their
  *    source-scale occupancy.
  *
  * One scan per table: the copy fan-out is an `explode(sequence(...))`
  * generator (the Reference.doubled trick generalized), not `factor` unions
  * of the same scan.
  *
  * Run: `sbt "runMain graft.examples.ScaleUp /root/testdata/sf0.1 /tmp/sf1 10"`
  */
object ScaleUp {

  private val Stride = 1000000000L

  /** On-disk bytes of a table path — a plain file's length, or the recursive
    * sum over a directory-shaped parquet dataset. `File.length()` on a
    * directory returns the directory-ENTRY size (≈4 KB), which silently
    * collapsed `nFiles` to the cpu floor when the source was the output of a
    * previous ScaleUp run — recreating the exact under-split layout the
    * fan-out exists to avoid (ADVICE r9).
    */
  private def dataBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(dataBytes).sum).getOrElse(0L)
    else f.length()

  /** Shift `keys` by copy·stride under an exploded copy index; `text` and
    * `embedding` perturbations applied where the columns exist.
    */
  private def fanOut(df: DataFrame, factor: Int, keys: Seq[String]): DataFrame = {
    require(!df.columns.contains("__copy"), "fanOut would clobber __copy")
    val exploded = df.withColumn("__copy",
      explode(sequence(lit(0L), lit(factor - 1L))))
    val shifted = keys.foldLeft(exploded) { (d, k) =>
      d.withColumn(k, col(k) + col("__copy") * Stride)
    }
    val sw = graft.ext.TextStats.stopwords("en")
    val texted =
      if (shifted.columns.contains("text"))
        shifted.withColumn("text",
            when(col("__copy") === 0, col("text"))
              .otherwise(array_join(
                transform(split(trim(col("text")), "\\s+"),
                  t => when(t.isin(sw: _*), t)
                    .otherwise(concat(t, lit("~"), col("__copy")))),
                " ")))
          .withColumn("n_chars", length(col("text")).cast("long"))
      else shifted
    val rotated =
      if (texted.columns.contains("embedding")) {
        // rotate by __copy MOD dim: the raw copy index exceeds the vector
        // dimension once factor > dim, where the raw slice length would go
        // negative and corrupt the vectors (ADVICE r9). r = 0 (copy 0 or an
        // exact multiple of dim) passes the vector through unchanged.
        val r = pmod(col("__copy"), size(col("embedding")).cast("long")).cast("int")
        texted.withColumn("embedding",
          when(r === 0, col("embedding")).otherwise(
            concat(
              slice(col("embedding"), r + 1, size(col("embedding")) - r),
              slice(col("embedding"), lit(1), r))))
      } else texted
    rotated.drop("__copy")
  }

  /** (table, key columns to shift). Dimension tables that are fixed-size in
    * TPC-H (nation, region) replicate as-is — their keys are referenced by
    * UNSHIFTED `*_nationkey`/`*_regionkey` columns, so they must keep their
    * identity (they are also the broadcast sides; holding them constant is
    * the honest scale model).
    */
  private val tables: Seq[(String, Seq[String])] = Seq(
    "lineitem" -> Seq("l_orderkey", "l_partkey", "l_suppkey"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "part" -> Seq("p_partkey"),
    "events" -> Seq("event_id", "user_id"),
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"))

  def scaleUp(spark: SparkSession, srcDir: String, outDir: String,
      factor: Int): Unit = {
    val cpus = spark.sparkContext.defaultParallelism
    // GRAFT_SCALEUP_TABLES=documents,embeddings builds a PARTIAL corpus —
    // the dedup/ANN probes only read documents/embeddings, and a 5M-doc
    // corpus at ×1000 does not need 600M lineitem rows alongside it.
    val only = sys.env.get("GRAFT_SCALEUP_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    tables.filter { case (n, _) => only.forall(_.contains(n)) }
      .foreach { case (name, keys) =>
      // The explode fan-out is narrow: without a repartition the output
      // inherits the SOURCE file count (testdata ships one file per table),
      // and a one-file sf1 table collapses every downstream scan to one
      // task whose rows then explode 10x — the single-task sort-aggregate
      // spill that killed the first rehearsal. Write enough files that a
      // scan parallelizes across the cores (~32MB ceiling per file).
      //
      // The repartition happens on the SOURCE, before the explode (r14):
      // repartitioning AFTER the fan-out shuffles factor× the data, and at
      // factor 10⁴ it degenerates into ONE task generating and shuffle-
      // writing the entire 50M-row corpus (measured: <1/3 done after
      // 30 min). Pre-explode, the exchange moves only the source rows and
      // every downstream stage — explode, text perturbation, parquet
      // write — runs at full width with no post-explode shuffle at all.
      val srcBytes = dataBytes(new java.io.File(s"$srcDir/$name.parquet"))
      val nFiles = math.max(cpus,
        ((srcBytes * factor) / (32L << 20) + 1).toInt)
      val src = spark.read.parquet(s"$srcDir/$name.parquet")
      // Refuse a source that is ITSELF a ScaleUp output: chaining runs
      // shifts ids by (c + c')·stride, and distinct (c, c') pairs with
      // equal sums COLLIDE — duplicate keys with different contents, which
      // silently corrupts every downstream join (measured: a chained
      // sf1×10 corpus crashed e14 with DIVIDE_BY_ZERO because colliding
      // doc_ids merged two documents' posting rows under one id). Always
      // scale from the pristine testdata in one hop: factor=100, not 10×10.
      // ONE aggregate pass for all keys (not one scan per key), read through
      // Option so an empty table or non-integral key column gets a clear
      // message instead of an opaque NPE/ClassCastException (ADVICE r13)
      if (keys.nonEmpty) {
        val maxRow = src.agg(max(col(keys.head)).cast("long"),
          keys.tail.map(k => max(col(k)).cast("long")): _*).head()
        keys.zipWithIndex.foreach { case (k, i) =>
          val mx = Option(maxRow.get(i)).map(_.asInstanceOf[Long])
          require(mx.isDefined,
            s"$name.$k has no max — empty source table or non-numeric key " +
              s"column; nothing to scale at $srcDir/$name.parquet")
          require(mx.get < Stride,
            s"$name.$k max=${mx.get} >= stride $Stride — '$srcDir' is already " +
              s"a ScaleUp output; chained runs collide ids ((c+c')·stride). " +
              s"Scale from the original testdata with one larger factor.")
        }
      }
      fanOut(src.repartition(nFiles), factor, keys)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$factor written ($nFiles files)")
    }
    Seq("nation", "region").foreach { name =>
      spark.read.parquet(s"$srcDir/$name.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name copied")
    }
  }

  def main(args: Array[String]): Unit = {
    val srcDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = if (args.length > 1) args(1) else "/tmp/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.Session.local(graft.Session.envCpus(8))
    scaleUp(spark, srcDir, outDir, factor)
    spark.stop()
  }
}
