package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical-layout and skew utilities — the knobs that matter at 100 TB
  * (builder prompt: bucketing for co-located joins, salting for skew).
  */
object Layout {

  /** Write a frame as a bucketed+sorted managed table. Two tables bucketed
    * the same way on the join key co-locate: the sort-merge join reads both
    * sides bucket-by-bucket with NO exchange — at 1000 executors that
    * removes the largest shuffle in a fact-fact join. (Verified in
    * LayoutSpec: the joined plan contains no Exchange operator.)
    */
  def writeBucketed(df: DataFrame, table: String, bucketCol: String,
      nBuckets: Int): Unit =
    df.write
      .bucketBy(nBuckets, bucketCol)
      .sortBy(bucketCol)
      .mode("overwrite")
      .saveAsTable(table)

  /** Repartition-then-write partitioned parquet: directory pruning makes
    * `WHERE pcol = v` skip files entirely (partition pruning at the source).
    */
  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .write.partitionBy(partitionCol)
      .mode("overwrite")
      .parquet(path)

  /** Round-robin repartition iff the frame plans FEWER partitions than
    * `target` (default: the cluster's parallelism) — repairs compute
    * parallelism over under-split inputs. A parquet file with a single row
    * group yields a single scan task no matter what
    * `spark.sql.files.maxPartitionBytes` says (byte-range splits can't
    * divide one row group), so every downstream map-side stage — codegen'd
    * hashing, fixed-point moment aggregation, n-gram explodes — runs on one
    * core until the first exchange. One cheap round-robin shuffle restores
    * full-width compute (measured 3-6x on the heavy declared queries over
    * the single-row-group testdata). A well-split input at real scale has
    * partitions >> cores and is left untouched — the check makes this a
    * no-op exactly where the repartition would be pure waste.
    */
  def repairScanParallelism(df: DataFrame, target: Int = 0): DataFrame = {
    val t = if (target > 0) target
      else df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < t) df.repartition(t) else df
  }

  /** Eagerly materialize a bounded intermediate consumed by several
    * branches of one downstream job, and cut its lineage there. Lazy
    * caching does not protect a COLD run: the consumer branches' stages are
    * scheduled concurrently, and every task that reaches a partition before
    * it is stored recomputes the whole upstream — measured as 2–4×
    * duplicate source scans/tokenizations on the drift/ranking/triangle
    * families. One eager job computes the upstream exactly once.
    *
    * The result is a local checkpoint: its blocks are stored
    * MEMORY_AND_DISK on the executors, and the returned frame's plan is a
    * single leaf scanning them (keeping the source's statistics).
    * Downstream analysis, AQE re-planning and plan rendering therefore see
    * one node instead of the whole upstream DAG — with pins stacked per
    * query, the embedded lineage otherwise grows into millions of
    * characters of plan text rebuilt on every stage update. Under adaptive
    * execution the leaf reports an unknown output partitioning, so a join
    * or aggregate on the source's own key exchanges the pinned rows again;
    * the keyed overload below keeps that partitioning.
    *
    * Ownership: the blocks belong to the returned frame. Spark's
    * ContextCleaner releases them once that frame (and every plan built on
    * it) is unreachable; `spark.catalog.clearCache()` does not touch them.
    * They are NOT recomputable: a query that needs blocks lost with an
    * executor fails instead of re-running the upstream.
    */
  def pin(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** Keyed pin: [[pin]] of `df` hash-partitioned by `key +: keys` into
    * `spark.sql.shuffle.partitions` partitions, whose leaf DECLARES that
    * partitioning — so a join or aggregation on the keys plans no exchange
    * over the pinned rows (each side of a self-join included), and a frame
    * joined to it is shuffled once to meet it. This is the co-partitioned
    * layout of vertex-centric engines (Pregelix): state pinned by vertex id,
    * each message round a local join. When `df` already ends in a hash
    * exchange on the same keys and partition count (an aggregation on
    * them), the planner drops the repartition and the pin adds no shuffle.
    *
    * Refuses a key column `df` does not have, and a checkpoint that does
    * not come back with the expected partition count (the declared layout
    * would be false). Ownership and lineage as for the unkeyed [[pin]].
    */
  def pin(df: DataFrame, key: String, keys: String*): DataFrame = {
    val all = key +: keys
    val missing = all.filterNot(df.columns.contains)
    require(missing.isEmpty, s"keyed pin: no column ${missing.mkString(", ")} " +
      s"in ${df.columns.mkString(", ")}")
    val n = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    org.apache.spark.sql.graftshim.KeyedLeaf.hashPartitioned(
      pin(df.repartition(n, all.map(col): _*)), all, n)
  }

  /** Salted join for skewed keys: explode the small side into `salt`
    * replicas, scatter the big side's hot keys across them, join on
    * (key, salt). Turns one straggler task per hot key into `salt` even
    * tasks. AQE's skew-join handles moderate skew automatically; salting is
    * for the pathological keys AQE can't split (e.g. a single null-heavy
    * key in a sort-merge join).
    */
  def saltedJoin(big: DataFrame, small: DataFrame, key: String,
      salt: Int, joinType: String = "inner"): DataFrame = {
    // join types where unmatched/semi SMALL-side rows surface would return
    // one row per salt replica (salt× inflation) — only big-side-preserving
    // types are sound with an exploded small side
    require(Set("inner", "left", "left_outer", "leftouter", "left_semi",
      "leftsemi", "semi", "left_anti", "leftanti", "anti")
      .contains(joinType.toLowerCase),
      s"saltedJoin supports inner/left/semi/anti join types, got $joinType")
    val saltedBig = big.withColumn("__salt",
      pmod(xxhash64(monotonically_increasing_id()), lit(salt)).cast("int"))
    val saltedSmall = small.withColumn("__salt",
      explode(sequence(lit(0), lit(salt - 1))))
    saltedBig.join(saltedSmall, Seq(key, "__salt"), joinType).drop("__salt")
  }

  /** Sampled skew probe for [[saltedJoinAuto]]: the salt factor the observed
    * hot-key share warrants, or 1 (no-op) when the hottest key holds less
    * than `hotShareThreshold` of the sampled rows.
    *
    * Mechanism: a `sampleFraction` Bernoulli row-sample of the big side's
    * key column feeds the e26 Misra-Gries sketch
    * ([[graft.functions.FreqSketch.heavyHitters]]) — bounded memory and a
    * `capacity`-sized shuffle partial per partition regardless of key
    * cardinality, which is what makes the probe affordable on a 100 TB fact
    * table (an exact groupBy-count over even a 1% sample of high-cardinality
    * keys is itself a monster shuffle). The MG estimate is a LOWER bound on
    * the hot key's true sample frequency, so the probe only salts when the
    * key is provably hot — never on noise.
    *
    * Salt sizing: the hot key's rows are `share` of the input; to spread
    * them across tasks of ~even size the replica count is
    * `ceil(share × defaultParallelism)` clamped to [2, `maxSalt`] — at
    * share = 0.9 on 32 cores that is 29 ways, putting the straggler task on
    * par with the median task. Costs two small jobs over the sample (count +
    * sketch); the sample is persisted for the pair and unpersisted before
    * returning.
    */
  def autoSaltFor(big: DataFrame, key: String,
      sampleFraction: Double = 0.01, hotShareThreshold: Double = 0.2,
      maxSalt: Int = 64, capacity: Int = 64): Int = {
    require(sampleFraction > 0 && sampleFraction <= 1,
      s"sampleFraction must be in (0, 1]: $sampleFraction")
    val sample = big.select(col(key)).where(col(key).isNotNull)
      .sample(withReplacement = false, sampleFraction, seed = 42L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = sample.count()
      if (n == 0) 1
      else {
        val top = graft.functions.FreqSketch.heavyHitters(sample, key, capacity)
          .head(1)
        val share = if (top.isEmpty) 0.0
          else top(0).getLong(1).toDouble / n.toDouble
        if (share < hotShareThreshold) 1
        else {
          val p = big.sparkSession.sparkContext.defaultParallelism
          math.min(maxSalt, math.max(2, math.ceil(share * p).toInt))
        }
      }
    } finally { sample.unpersist(); () }
  }

  /** [[saltedJoin]] with the salt factor chosen by [[autoSaltFor]]'s sampled
    * Misra-Gries probe — the adoption path the r9 skew probe left manual:
    * below the hot-share threshold this is EXACTLY `big.join(small, key)`
    * (no salt column, no explode — AQE remains free to handle moderate skew
    * its own way); above it, the measured-win static salting kicks in with a
    * share-proportional factor. Use for joins where the key distribution is
    * data-dependent and unknown at authoring time; keep explicit
    * [[saltedJoin]] where the hot key is a known constant (e.g. a null-heavy
    * FK).
    */
  def saltedJoinAuto(big: DataFrame, small: DataFrame, key: String,
      joinType: String = "inner", sampleFraction: Double = 0.01,
      hotShareThreshold: Double = 0.2, maxSalt: Int = 64): DataFrame = {
    val salt = autoSaltFor(big, key, sampleFraction, hotShareThreshold, maxSalt)
    if (salt <= 1) big.join(small, Seq(key), joinType)
    else saltedJoin(big, small, key, salt, joinType)
  }

  /** Incremental upsert into a partitioned parquet dataset: DYNAMIC
    * partition overwrite replaces only the partitions present in `df`,
    * leaving every other partition's files untouched — the idempotent
    * "re-land this day/source" primitive of an incremental pipeline. (Static
    * overwrite mode would truncate the whole dataset first; at 100 TB that
    * difference is the whole job.)
    */
  def upsertPartitions(df: DataFrame, path: String, partitionCol: String): Unit =
    df.repartition(col(partitionCol))
      .write
      .option("partitionOverwriteMode", "dynamic")
      .mode("overwrite")
      .partitionBy(partitionCol)
      .parquet(path)

  /** Compact a parquet dataset into ~`targetFileBytes` files at `dest`:
    * the small-file hygiene pass (a 100 TB table accreted from thousands of
    * incremental loads ends up with millions of KB-scale files whose
    * open/footer costs dominate scans). File count is computed from the
    * ACTUAL on-disk bytes via the Hadoop FS, not row counts, so compression
    * ratios carry over. Returns (input files, output files).
    */
  def compactTo(spark: SparkSession, src: String, dest: String,
      targetFileBytes: Long = 128L << 20): (Int, Int) = {
    require(targetFileBytes > 0, s"targetFileBytes must be positive: $targetFileBytes")
    val fs = new org.apache.hadoop.fs.Path(src)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listFiles(new org.apache.hadoop.fs.Path(src), true)
    var nIn = 0
    var bytes = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) { nIn += 1; bytes += f.getLen }
    }
    val nOut = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    spark.read.parquet(src).repartition(nOut).write.mode("overwrite").parquet(dest)
    (nIn, nOut)
  }

  /** Morton (Z-order) interleave of `cols`, each already normalized to an
    * integer in [0, 2^bits): bit i of column j lands at position
    * `i * k + j` of the z-value. Pure static-shift codegen (`shiftleft` /
    * `bitwiseOR` fold — bits·k terms, no UDF, no shuffle).
    * `bits * cols.size` must fit in a signed long (≤ 63).
    */
  def zValue(cols: Seq[Column], bits: Int = 16): Column = {
    require(cols.nonEmpty && bits > 0 && bits * cols.size <= 63,
      s"z-value needs 1+ columns and bits*k <= 63 (got ${cols.size} cols × $bits bits)")
    val k = cols.size
    val terms = for {
      i <- 0 until bits
      (c, j) <- cols.zipWithIndex
    } yield shiftleft(shiftright(c, i).bitwiseAND(lit(1L)), i * k + j)
    terms.reduce((a, b) => a.bitwiseOR(b))
  }

  /** `df` plus a `__z` column: each listed (numeric) column min/max-scaled
    * to [0, 2^bits) — the corpus-wide min/max reduce to ONE broadcast row —
    * then Morton-interleaved with [[zValue]]. Constant columns scale to 0
    * (they carry no ordering information either way).
    */
  def withZValue(df: DataFrame, zCols: Seq[String], bits: Int = 16): DataFrame = {
    val statsCols = zCols.flatMap(c =>
      Seq(min(col(c).cast("double")).as(s"__min_$c"), max(col(c).cast("double")).as(s"__max_$c")))
    val stats = df.agg(statsCols.head, statsCols.tail: _*)
    val maxVal = (1L << bits) - 1
    val scaled = zCols.map { c =>
      val span = greatest(col(s"__max_$c") - col(s"__min_$c"), lit(java.lang.Double.MIN_NORMAL))
      least(lit(maxVal),
        floor((col(c).cast("double") - col(s"__min_$c")) / span * maxVal + 0.5)).cast("long")
    }
    df.crossJoin(broadcast(stats))
      .withColumn("__z", zValue(scaled, bits))
      .drop(zCols.flatMap(c => Seq(s"__min_$c", s"__max_$c")): _*)
  }

  /** Z-ordered parquet write: range-partition by the z-value into `nFiles`
    * tasks and sort within each, so every output file covers a compact
    * hyper-rectangle of the `zCols` space. A predicate on ANY of the
    * clustered columns then skips most files via their min/max footer stats
    * — unlike a linear `orderBy(x)` layout, which clusters x but smears
    * every other column across all files. This is the same layout trick
    * Delta/Iceberg OPTIMIZE ZORDER applies, expressed as plain Spark
    * repartitionByRange + sortWithinPartitions.
    */
  def writeZOrdered(df: DataFrame, path: String, zCols: Seq[String],
      nFiles: Int, bits: Int = 16): Unit =
    withZValue(df, zCols, bits)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)

  /** Exact row count of a parquet file/dataset from FOOTER METADATA alone —
    * no Spark job, no scan. Every parquet footer records its row-group
    * counts; summing them over the files is the count a `SELECT COUNT(*)`
    * job would compute by launching a task per file. Use this for
    * data-dependent parameter sizing (e.g. e31's √n cluster count) where a
    * count job would double-read the table: at 100 TB the footers are a few
    * MB of metadata against a full scan. Directories recurse; non-parquet
    * side files (`_SUCCESS`, checksums) are skipped.
    */
  def parquetRowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(conf)
    val files = fs.listFiles(root, true)
    var n = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f.getPath, conf))
        try n += reader.getRecordCount finally reader.close()
      }
    }
    n
  }

  /** True iff the physical plan of `df` contains no SHUFFLE exchange
    * (`Exchange hashpartitioning`/`rangepartitioning`) — the co-location
    * check used by tests and plan reviews. BroadcastExchange is allowed:
    * broadcasting a dimension is the desired plan, not a data shuffle.
    */
  def hasNoShuffleExchange(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan.toString
    !plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning")
  }
}
