package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("bucketed tables join WITHOUT a shuffle exchange") {
    import spark.implicits._
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_lineitem")
    // a previously-aborted run can leave the managed-table directory behind
    // with no catalog entry; Spark then refuses the CREATE
    Seq("bt_orders", "bt_lineitem").foreach { t =>
      val d = new java.io.File(s"spark-warehouse/$t")
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(d)
      }
    }
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Layout.writeBucketed(o, "bt_orders", "o_orderkey", 8)
    Layout.writeBucketed(l, "bt_lineitem", "l_orderkey", 8)
    val joined = spark.table("bt_lineitem")
      .join(spark.table("bt_orders"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
    // force sort-merge (a tiny dimension would broadcast, which also needs
    // no shuffle but wouldn't exercise bucket co-location): the bucketed
    // SMJ must read both sides bucket-aligned with NO shuffle exchange
    val joinOnly = spark.table("bt_lineitem").hint("merge")
      .join(spark.table("bt_orders"), col("l_orderkey") === col("o_orderkey"))
    assert(Layout.hasNoShuffleExchange(joinOnly),
      s"bucketed join still shuffles:\n${joinOnly.queryExecution.executedPlan}")
    // and it is still correct
    val viaBuckets = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val direct = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaBuckets == direct)
    spark.sql("DROP TABLE IF EXISTS bt_orders")
    spark.sql("DROP TABLE IF EXISTS bt_lineitem")
  }

  test("partitioned write enables partition pruning") {
    val out = java.nio.file.Files.createTempDirectory("graft_part").toString
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    Layout.writePartitioned(l, s"$out/li", "l_returnflag")
    val pruned = spark.read.parquet(s"$out/li").where(col("l_returnflag") === "R")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() == l.where(col("l_returnflag") === "R").count())
    // pruning shows as a partition filter, not a data filter
    assert(plan.contains("PartitionFilters") || !plan.contains("l_returnflag = R"))
  }

  test("salted join matches the plain join result") {
    import spark.implicits._
    val big = (1 to 10000).map(i => (if (i % 3 == 0) 1L else i.toLong, i)).toDF("k", "v")
    val small = Seq((1L, "hot"), (2L, "cold"), (7L, "x")).toDF("k", "name")
    val plain = big.join(small, Seq("k")).agg(count(lit(1)), sum("v")).head()
    val salted = Layout.saltedJoin(big, small, "k", salt = 8)
      .agg(count(lit(1)), sum("v")).head()
    assert(plain == salted)
  }

  test("saltedJoin rejects join types that would inflate the exploded side") {
    import spark.implicits._
    val big = Seq((1L, 1)).toDF("k", "v")
    val small = Seq((1L, "x")).toDF("k", "n")
    intercept[IllegalArgumentException] {
      Layout.saltedJoin(big, small, "k", 4, joinType = "full")
    }
    intercept[IllegalArgumentException] {
      Layout.saltedJoin(big, small, "k", 4, joinType = "right")
    }
    // big-side-preserving aliases stay accepted
    assert(Layout.saltedJoin(big, small, "k", 4, joinType = "semi").count() == 1)
  }

  test("zValue interleaves bits (Morton order on a known grid)") {
    import spark.implicits._
    val df = Seq((0L, 0L), (1L, 0L), (0L, 1L), (1L, 1L), (2L, 3L))
      .toDF("x", "y")
    val z = df.select(Layout.zValue(Seq(col("x"), col("y")), bits = 2).as("z"))
      .collect().map(_.getLong(0)).toSeq
    // (x,y) -> interleave x at even positions, y at odd: (2,3)=10,11 -> 1110=14
    assert(z == Seq(0L, 1L, 2L, 3L, 14L))
  }

  test("z-ordered files prune on EVERY clustered column; linear layout only on its sort key") {
    import spark.implicits._
    val n = 20000
    val rnd = new scala.util.Random(7)
    val data = (0 until n).map(_ => (rnd.nextInt(100000), rnd.nextInt(100000)))
      .toDF("x", "y")
    val dir = java.nio.file.Files.createTempDirectory("zorder").toString
    Layout.writeZOrdered(data, s"$dir/z", Seq("x", "y"), nFiles = 16)
    data.repartitionByRange(16, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(s"$dir/linear")

    def boxes(path: String): Array[(Long, Long, Long, Long)] =
      spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(min("x"), max("x"), min("y"), max("y"))
        .collect().map(r => (r.getInt(1).toLong, r.getInt(2).toLong,
          r.getInt(3).toLong, r.getInt(4).toLong))

    // files a reader must touch for a narrow slice on each dimension
    def touched(bs: Array[(Long, Long, Long, Long)], lo: Long, hi: Long, onY: Boolean) =
      bs.count { case (x0, x1, y0, y1) =>
        if (onY) y0 <= hi && y1 >= lo else x0 <= hi && x1 >= lo }

    val zb = boxes(s"$dir/z")
    val lb = boxes(s"$dir/linear")
    assert(zb.length == 16 && lb.length == 16)
    // x-slice: both layouts prune
    assert(touched(zb, 0, 6250, onY = false) <= 8)
    assert(touched(lb, 0, 6250, onY = false) <= 2)
    // y-slice: the x-sorted layout reads EVERYTHING, z-order still prunes
    assert(touched(lb, 0, 6250, onY = true) == 16)
    assert(touched(zb, 0, 6250, onY = true) <= 8,
      s"z layout touched ${touched(zb, 0, 6250, onY = true)}/16 files for a y-slice")
  }

  test("upsertPartitions replaces only the partitions being landed") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("upsert").toString + "/t"
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
      .write.partitionBy("p").parquet(dir)
    val aFiles = new java.io.File(s"$dir/p=a").listFiles().map(_.getName).toSet
    // re-land partition b only, with different content
    Layout.upsertPartitions(Seq((9L, "b"), (10L, "b")).toDF("id", "p"), dir, "p")
    val got = spark.read.parquet(dir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toSet
    assert(got == Set(1L -> "a", 2L -> "a", 9L -> "b", 10L -> "b"))
    // partition a's files were not rewritten
    assert(new java.io.File(s"$dir/p=a").listFiles().map(_.getName).toSet == aFiles)
  }

  test("compactTo collapses small files by on-disk bytes, preserving rows") {
    import spark.implicits._
    val base = java.nio.file.Files.createTempDirectory("compact").toString
    (0L until 2000L).toDF("x").repartition(40).write.parquet(s"$base/src")
    val (nIn, nOut) = Layout.compactTo(spark, s"$base/src", s"$base/dst",
      targetFileBytes = 1L << 20)
    assert(nIn == 40)
    assert(nOut < 5, s"expected few output files, planned $nOut")
    assert(spark.read.parquet(s"$base/dst").count() == 2000)
    intercept[IllegalArgumentException](
      Layout.compactTo(spark, s"$base/src", s"$base/dst2", targetFileBytes = 0))
  }

  test("parquetRowCount reads exact counts from footers — single file, multi-file, partitioned") {
    import spark.implicits._
    // driver-shaped single file
    assert(Layout.parquetRowCount(spark, "/root/testdata/sf0.001/documents.parquet") == 500L)
    // Spark-written multi-file directory (+ _SUCCESS side file skipped)
    val dir = java.nio.file.Files.createTempDirectory("graft_rc").toString
    (0L until 1234L).toDF("x").repartition(7).write.parquet(s"$dir/multi")
    assert(Layout.parquetRowCount(spark, s"$dir/multi") == 1234L)
    // hive-partitioned tree recurses
    Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
      .write.partitionBy("p").parquet(s"$dir/part")
    assert(Layout.parquetRowCount(spark, s"$dir/part") == 3L)
    assert(Layout.parquetRowCount(spark, s"$dir/part/p=b") == 1L)
  }

  test("autoSaltFor detects the probe's hot key and no-ops on uniform keys") {
    import spark.implicits._
    // 90%-hot key (the skew-join probe shape in BASELINE.md): MG on a 10% sample must see it
    val skewed = (1 to 20000)
      .map(i => (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
    val saltSkewed = Layout.autoSaltFor(skewed, "k", sampleFraction = 0.1)
    assert(saltSkewed > 1, s"hot key missed: salt=$saltSkewed")
    // uniform keys: provably-cold probe → 1 (no-op)
    val uniform = (1 to 20000).map(i => (i.toLong, i)).toDF("k", "v")
    assert(Layout.autoSaltFor(uniform, "k", sampleFraction = 0.1) == 1)
  }

  test("saltedJoinAuto ≡ manual salted join on the skewed frame; plain plan on uniform") {
    import spark.implicits._
    val skewed = (1 to 20000)
      .map(i => (if (i % 10 != 0) 7L else i.toLong, i)).toDF("k", "v")
    val uniform = (1 to 20000).map(i => (i.toLong, i)).toDF("k", "v")
    val small = Seq((7L, "hot"), (2L, "cold"), (40000L, "miss")).toDF("k", "name")
    val plain = skewed.join(small, Seq("k")).agg(count(lit(1)), sum("v")).head()
    val manual = Layout.saltedJoin(skewed, small, "k", salt = 8)
      .agg(count(lit(1)), sum("v")).head()
    val auto = Layout.saltedJoinAuto(skewed, small, "k", sampleFraction = 0.1)
      .agg(count(lit(1)), sum("v")).head()
    assert(auto == plain && auto == manual)
    // uniform side returns the UNSALTED join — no __salt column anywhere in
    // the plan (AQE keeps its own skew machinery; we added nothing)
    val autoUniform = Layout.saltedJoinAuto(uniform, small, "k", sampleFraction = 0.1)
    assert(!autoUniform.queryExecution.analyzed.toString.contains("__salt"))
    assert(autoUniform.join(small, Seq("k")).columns.nonEmpty) // still a live frame
    assert(autoUniform.agg(count(lit(1))).head() ==
      uniform.join(small, Seq("k")).agg(count(lit(1))).head())
  }

  test("date-partitioned fact layout: the q28 orderdate predicate opens ONLY the 1996 partition's files") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val dir = java.nio.file.Files.createTempDirectory("graft_dpart").toString
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    // the incremental-landing layout for a date-filtered fact table: derive
    // the partition column once at write time; q28's range
    // [1996-01-01, 1997-01-01) is exactly o_year = 1996
    Layout.writePartitioned(o.withColumn("o_year", year(col("o_orderdate"))),
      s"$dir/orders", "o_year")
    val part = spark.read.parquet(s"$dir/orders")
    val nYears = new java.io.File(s"$dir/orders").listFiles()
      .count(_.getName.startsWith("o_year="))
    assert(nYears >= 5, s"expected a multi-year spread, got $nYears partitions")
    // q28's join core against the partitioned copy
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val res = part.where(col("o_year") === 1996)
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1)).as("n"))
    val n = res.head().getLong(0)
    // correct vs the unpartitioned date-range form
    val expected = o.where(col("o_orderdate") >= "1996-01-01" &&
        col("o_orderdate") < "1997-01-01")
      .join(l, col("o_orderkey") === col("l_orderkey"))
      .agg(count(lit(1))).head().getLong(0)
    assert(n == expected && n > 0)
    // and the pruning is PHYSICAL: the orders scan selected exactly the 1996
    // directory; its file count matches that directory's on-disk files
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => scans(q.plan)
      case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec => scans(r.child)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val ordersScan = scans(res.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.mkString(",").contains("orders"))
      .getOrElse(fail("no orders FileSourceScanExec in plan"))
    assert(ordersScan.selectedPartitions.partitionCount == 1,
      s"expected 1 partition read, got ${ordersScan.selectedPartitions.partitionCount}")
    val files1996 = new java.io.File(s"$dir/orders/o_year=1996").listFiles()
      .count(_.getName.endsWith(".parquet"))
    val touchedFiles = ordersScan.selectedPartitions.totalNumberOfFiles
    assert(touchedFiles == files1996,
      s"scan touched $touchedFiles files; o_year=1996 holds $files1996")
  }

  test("pin keeps the rows and re-enters plans as a single leaf") {
    val src = spark.range(0, 5000, 1, 4)
      .groupBy((col("id") % 97).as("k")).agg(sum(col("id")).as("s"))
    val pinned = Layout.pin(src)
    assert(pinned.collect().toSet == src.collect().toSet)
    val nodes = pinned.queryExecution.analyzed.collect { case p => p }
    assert(nodes.size == 1, s"pinned plan is not one leaf:\n${pinned.queryExecution.analyzed}")
  }

  test("pin evaluates its upstream exactly once across downstream actions") {
    val evals = spark.sparkContext.longAccumulator("pin_upstream_evals")
    val touch = udf { (x: Long) => evals.add(1); x }
    val pinned = Layout.pin(spark.range(0, 1000, 1, 4).select(touch(col("id")).as("id")))
    assert(evals.value == 1000L)
    assert(pinned.where(col("id") % 2 === 0).count() == 500L)
    // two branches of one job, scheduled concurrently
    val self = pinned.join(pinned.select(col("id").as("id2")), col("id") === col("id2"))
    assert(self.count() == 1000L)
    assert(evals.value == 1000L, s"upstream re-evaluated: ${evals.value} UDF calls")
  }

  test("pinned chains render plans that do not grow with the chain length") {
    def step(df: DataFrame): DataFrame =
      Layout.pin(df.groupBy((col("k") % 50).as("k")).agg(sum(col("s")).as("s")))
    val base = spark.range(0, 2000, 1, 4).select(col("id").as("k"), col("id").as("s"))
    def rendered(pins: Int): Int = {
      val out = Iterator.iterate(base)(step).drop(pins).next()
        .groupBy(col("k")).agg(max(col("s")))
      out.collect()
      out.queryExecution.executedPlan.toString.length
    }
    val (two, four) = (rendered(2), rendered(4))
    // only expression ids (a digit or so each) may differ
    assert(four <= two + 64, s"4-pin plan renders $four chars vs $two for 2 pins")
  }

  private def keyedSource: DataFrame =
    spark.range(0, 6000, 1, 3)
      .select((col("id") % 211).as("k"), col("id").as("v"))

  test("keyed pin: aggregations and self-joins on the key plan no exchange (AQE on)") {
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
    spark.catalog.clearCache()
    val src = keyedSource
    val pinned = Layout.pin(src, "k")
    assert(pinned.collect().toSet == src.collect().toSet)
    val agg = pinned.groupBy(col("k")).agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    val self = pinned.hint("shuffle_hash")
      .join(pinned.select(col("k"), col("v").as("v2")), "k")
      .groupBy(col("k")).agg(count(lit(1)).as("n"))
    Seq(agg, self).foreach { df =>
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"exchange over the keyed pin:\n$plan")
    }
    assert(agg.collect().toSet == src.groupBy(col("k"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s")).collect().toSet)
    assert(self.collect().map(_.getLong(1)).toSet == Set(28L * 28L, 29L * 29L))
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("keyed pin: a frame joined to it is shuffled to the pin's layout and meets its rows") {
    // the declared layout must be the real one: an unpinned side hashed to
    // meet the pin finds every matching row only if the pinned partition i
    // holds exactly the keys that hash to i
    val pinned = Layout.pin(keyedSource, "k")
    val other = spark.range(0, 400, 1, 5)
      .select((col("id") * 7 % 300).as("k"), col("id").as("w"))
    val viaPin = pinned.hint("shuffle_hash").join(other, "k")
    val direct = keyedSource.join(other, "k")
    assert(viaPin.collect().toSet == direct.collect().toSet)
    assert(graft.PlanProbe.shuffles(viaPin).size == 1,
      s"expected one exchange (the unpinned side):\n${viaPin.queryExecution.executedPlan}")
  }

  test("keyed pin on several keys, and a pin over an aggregation on its key adds no shuffle") {
    val two = Layout.pin(keyedSource.withColumn("j", col("v") % 3), "k", "j")
    val byBoth = two.groupBy(col("k"), col("j")).agg(count(lit(1)).as("n"))
    byBoth.collect()
    assert(!byBoth.queryExecution.executedPlan.toString.contains("Exchange"))
    val aggregated = keyedSource.groupBy(col("k")).agg(sum(col("v")).as("s"))
    val n = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // the pin's own repartition is dropped over the aggregation's exchange…
    val reparted = aggregated.repartition(n, col("k"))
    reparted.collect()
    assert(graft.PlanProbe.shuffles(reparted).size == 1,
      reparted.queryExecution.executedPlan.toString)
    // …and that exchange keeps its n partitions, so the pin is accepted
    val p = Layout.pin(aggregated, "k")
    assert(p.rdd.getNumPartitions == n)
    assert(p.collect().toSet == aggregated.collect().toSet)
  }

  test("keyed pin refuses a key column the frame does not have") {
    val e = intercept[IllegalArgumentException](Layout.pin(keyedSource, "nope"))
    assert(e.getMessage.contains("nope"))
    intercept[IllegalArgumentException](Layout.pin(keyedSource, "k", "v", "nope"))
  }

  test("custom SQL function registration (simhash64 via extensions)") {
    graft.GraftExtensions.register(spark)
    import spark.implicits._
    Seq(("the quick brown fox")).toDF("text").createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql("SELECT simhash64(text) AS h FROM ext_docs").head().getLong(0)
    val viaApi = spark.table("ext_docs")
      .select(graft.functions.SimHash.simhash64(col("text"))).head().getLong(0)
    assert(viaSql == viaApi)
  }
}
