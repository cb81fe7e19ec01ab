package graft.examples

import graft.catalog.Ddl
import graft.ext.{Dedup, TextStats}
import graft.forecast.TrendSeasonForecaster
import graft.ingest.{IngestJob, SchemaInference}
import graft.queries.Reference

/** End-to-end demo of the library surface — the Spark-native equivalent of
  * the reference's Main_File.py ETL spine + notebook analysis session:
  * CSV ingest → catalog DDL → SQL query → daily aggregation → forecast →
  * dedup report. Run with:
  *   sbt "runMain graft.examples.Pipeline /root/testdata/sf0.001"
  */
object Pipeline {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(graft.Session.envCpus(8))

    // 1. ingest: CSV dir -> Parquet with sanitized names + inferred schema
    val work = java.nio.file.Files.createTempDirectory("graft_demo").toString
    val csvDir = s"$work/csv"; new java.io.File(csvDir).mkdirs()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$csvDir/Plant Data-2024!.csv"),
      "site id,capacity (MW),commissioned\n1,10.5,2020-01-01\n2,2000000000,2021-07-15\n")
    val schemas = IngestJob.csvDirToParquet(spark, csvDir, s"$work/parquet")
    println(s"[demo] ingested tables: ${schemas.keys.mkString(",")}")

    // 2. schema inference heuristics -> DDL text
    val ingested = spark.read.parquet(s"$work/parquet/${schemas.keys.head}")
    println("[demo] " + SchemaInference.createTableStatement(ingested, "demo_db", "plants"))

    // 3. catalog: register testdata dir + SQL through the session catalog
    Ddl.recreateDatabase(spark, "demo_db")
    Ddl.registerDir(spark, "demo_db", sfDir)
    println(s"[demo] lineitem shape=${Ddl.tableShape(spark, "demo_db.lineitem")}")
    val top = spark.sql(
      """SELECT l_returnflag, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM demo_db.lineitem GROUP BY l_returnflag ORDER BY revenue DESC""".stripMargin)
    println("[demo] revenue by returnflag:")
    top.collect().foreach(r => println(s"[demo]   ${r.getString(0)} -> ${r.get(1)}"))

    // 4. forecast: daily series from events -> fit -> 90-day horizon
    val daily = Reference.all.find(_.name == "q15_daily_series").get.run(spark, sfDir)
    val model = TrendSeasonForecaster.fit(daily)
    val future = model.makeFutureFrame(spark, daily.count().toInt, periods = 90)
    val scored = model.transform(future)
    val fitted = model.transform(daily)
    println(f"[demo] forecast: in-sample MAPE=${TrendSeasonForecaster.mape(fitted)}%.4f, " +
      s"horizon rows=${scored.count()}")

    // 5. dedup + text stats over documents
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val doubled = docs.unionAll(docs)
    val kept = Dedup.exactRows(doubled).count()
    val quality = TextStats.stats(docs)
      .agg(org.apache.spark.sql.functions.avg("n_tokens")).head().getDouble(0)
    println(s"[demo] dedup: ${doubled.count()} docs -> $kept unique; avg tokens/doc=$quality")

    // 5b. near-dedup with transitive grouping + quality gate
    val nearKept = Dedup.nearDedupRows(doubled, minJaccard = 0.7).count()
    val q = TextStats.qualityFilter(docs)
    val passRate = q.where(org.apache.spark.sql.functions.col("quality_pass")).count().toDouble / docs.count()
    println(f"[demo] near-dedup: ${doubled.count()} -> $nearKept docs; quality pass rate=$passRate%.2f")

    // 5c. repetition gate + deterministic split: the tail of a curation
    // pass — drop template-heavy docs, then assign train/val/test by
    // content hash so the split survives any re-run or repartition
    {
      import org.apache.spark.sql.functions.{avg, col}
      val rep = TextStats.repetitionStats(docs)
      val avgDup = rep.agg(avg(col("dup3gram_frac"))).head().getDouble(0)
      val clean = rep.where(col("dup3gram_frac") < 0.5).select(col("doc_id"))
      val splits = graft.ops.Splits.splitByHash(clean)
        .groupBy(col("split")).count()
        .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      println(f"[demo] repetition: avg dup3gram_frac=$avgDup%.3f; hash split: $splits")
    }

    // 5d. decontamination + data mixing + ranked retrieval: the rest of a
    // curation pass — strip docs overlapping the "benchmark" slice, reweight
    // languages deterministically, then probe the corpus with BM25
    {
      import org.apache.spark.sql.functions.col
      val bench = docs.where(col("doc_id") % 10 === 0)
      val corpus = docs.where(col("doc_id") % 10 =!= 0)
      val cleanN = graft.ext.Decontaminate.removeContaminated(corpus, bench).count()
      val mixed = graft.ops.Splits.stratifiedSampleByHash(
        docs, "lang", Map("en" -> 100, "de" -> 50, "fr" -> 50, "zh" -> 25, "es" -> 25))
      val top = graft.ext.Ranking.bm25TopK(docs, Seq("join", "vector"), k = 3)
        .collect().map(r => s"${r.getLong(0)}:${r.getDouble(1)}").mkString(" ")
      println(s"[demo] curation: ${corpus.count()} docs -> $cleanN decontaminated; " +
        s"mixed sample=${mixed.count()}; bm25 top-3 [join,vector]: $top")
      // per-source caps + context-window chunking + funnel/retention slices
      val capped = graft.ops.Splits.capPerGroup(docs, "lang", k = 50).count()
      val chunks = graft.ext.TextStats.chunkTokens(docs,
        windowTokens = 20, overlapTokens = 5).count()
      val funnelCounts = graft.ext.Funnel.counts(
          graft.queries.Reference.events(spark, sfDir), Seq("view", "click", "purchase"))
        .collect().map(r => s"${r.getString(1)}=${r.getLong(2)}").mkString(" ")
      println(s"[demo] prep: capped corpus=$capped docs (<=50/lang); " +
        s"$chunks chunks of <=20 tokens; funnel $funnelCounts")
    }

    // 6. JDBC sink/source round-trip (embedded Derby)
    val derby = java.nio.file.Files.createTempDirectory("demo_derby")
    val url = s"jdbc:derby:$derby/db;create=true"
    graft.sources.Jdbc.writeReplace(top, url, "revenue_by_flag")
    val back = graft.sources.Jdbc.read(spark, url, "revenue_by_flag").count()
    println(s"[demo] jdbc: round-tripped $back rows through Derby")

    // 6b. single-pass grouped top-k (heap aggregator, no window sort)
    val oTab0 = spark.read.parquet(s"$sfDir/orders.parquet")
    val topOrders = graft.functions.TopK.groupedTopK(
      oTab0.select(org.apache.spark.sql.functions.col("o_custkey").as("g"),
        org.apache.spark.sql.functions.col("o_orderkey").as("id"),
        org.apache.spark.sql.functions.col("o_totalprice").as("score")),
      "g", "id", "score", 2)
    println(s"[demo] grouped top-2 orders per customer: ${topOrders.count()} rows")

    // 6c. ORC round-trip (source-format breadth)
    val orcDir = java.nio.file.Files.createTempDirectory("demo_orc").toString
    graft.sources.Formats.writeOrc(oTab0, s"$orcDir/o")
    println(s"[demo] orc round-trip rows=${graft.sources.Formats.readOrc(spark, s"$orcDir/o").count()}")

    // 6d. as-of join: attach each user's latest prior event value to the
    // hourly window starts (events as both sides, shifted semantics)
    {
      import spark.implicits._
      val trades = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:05"), 100.0))
        .toDF("k", "lt", "px")
      val quotes = Seq(
        (1L, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), 10.0),
        (1L, java.sql.Timestamp.valueOf("2024-01-01 11:00:00"), 12.0)).toDF("k", "rt", "bid")
      val asof = graft.ops.AsOfJoin.asofBackward(trades, quotes, "k", "lt", "rt", Seq("bid"))
      println(s"[demo] asof join: trade@10:00:05 gets bid=${asof.head().getAs[Double]("bid")}")
    }

    // 7. custom SQL function through the session (extensions registration)
    graft.GraftExtensions.register(spark)
    docs.limit(3).createOrReplaceTempView("demo_docs")
    val hashes = spark.sql("SELECT doc_id, simhash64(text) AS h FROM demo_docs ORDER BY doc_id")
    println(s"[demo] sql simhash64: ${hashes.collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" ")}")

    // 8. bucketed layout: co-located join with no shuffle exchange
    val oTab = spark.read.parquet(s"$sfDir/orders.parquet")
    val lTab = spark.read.parquet(s"$sfDir/lineitem.parquet")
    graft.ops.Layout.writeBucketed(oTab, "demo_bt_orders", "o_orderkey", 8)
    graft.ops.Layout.writeBucketed(lTab, "demo_bt_lineitem", "l_orderkey", 8)
    val cojoin = spark.table("demo_bt_lineitem").hint("merge")
      .join(spark.table("demo_bt_orders"),
        org.apache.spark.sql.functions.col("l_orderkey") ===
          org.apache.spark.sql.functions.col("o_orderkey"))
    println(s"[demo] bucketed join shuffle-free=${graft.ops.Layout.hasNoShuffleExchange(cojoin)} rows=${cojoin.count()}")
    spark.sql("DROP TABLE IF EXISTS demo_bt_orders")
    spark.sql("DROP TABLE IF EXISTS demo_bt_lineitem")

    // 8b. shuffle reduction + data skipping: bloom-pruned join and
    // z-ordered layout
    {
      import org.apache.spark.sql.functions.col
      val hot = oTab.where(col("o_totalprice") > 400000).select(col("o_custkey"))
      val bloomed = graft.ops.BloomPrune.prunedJoin(
        spark.read.parquet(s"$sfDir/customer.parquet"), "c_custkey",
        hot, "o_custkey", expectedItems = 1000, joinType = "left_semi")
      val zDir = java.nio.file.Files.createTempDirectory("demo_z").toString
      graft.ops.Layout.writeZOrdered(
        lTab.select(col("l_orderkey"), col("l_partkey"), col("l_extendedprice")),
        s"$zDir/l", Seq("l_orderkey", "l_partkey"), nFiles = 8)
      val zFiles = new java.io.File(s"$zDir/l").listFiles()
        .count(_.getName.endsWith(".parquet"))
      println(s"[demo] scale ops: bloom-pruned semi-join=${bloomed.count()} customers; " +
        s"z-ordered lineitem into $zFiles files clustered on (orderkey, partkey)")
    }

    // 9. graph centrality: PageRank over the user↔event-property
    // co-occurrence graph (fixed-point integer recurrence, ops.PageRank)
    locally {
      import org.apache.spark.sql.functions.{col, get_json_object, lit}
      val ue = Reference.events(spark, sfDir)
        .select(col("user_id").as("u"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k").isNotNull).distinct()
      val prEdges = ue.select(col("u").as("src"), (lit(1000000L) + col("k")).as("dst"))
        .unionAll(ue.select((lit(1000000L) + col("k")).as("src"), col("u").as("dst")))
      val pr = graft.ops.PageRank.pageRank(prEdges, iters = 5)
      val topNodes = pr.orderBy(col("rank_micro").desc, col("node")).limit(3)
        .collect().map(r => s"${r.getLong(0)}:${r.getDouble(2)}").mkString(" ")
      println(s"[demo] pagerank over ${pr.count()} nodes; top-3: $topNodes")
    }

    // 10. classical stats + CDC diagnostics: correlation/independence over
    // the fact tables (exact decimal moments, ops.Stats) and an SCD2
    // history with a point-in-time lookup (ops.Scd)
    locally {
      import org.apache.spark.sql.functions.col
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val corr = graft.ops.Stats.corrMatrix(li,
          Seq("l_quantity" -> "l_extendedprice", "l_extendedprice" -> "l_discount"))
        .collect().map(r => s"${r.getString(0)}~${r.getString(1)}=${r.get(3)}")
        .mkString(" ")
      val chi = graft.ops.Stats.chiSquare(
        spark.read.parquet(s"$sfDir/documents.parquet"), "source", "lang").head()
      val hist = graft.ops.Scd.changeIntervals(
        Reference.events(spark, sfDir), "user_id", "event_type", "ts", "event_id")
      println(s"[demo] stats: corr $corr; " +
        s"chi2(source,lang)=${chi.getDouble(3)} dof=${chi.getLong(2)}; " +
        s"scd2 intervals=${hist.count()}")
    }

    // 11. data-quality gate + fuzzy matching: the pre-trust checks a new
    // drop runs (ops.Quality) and entity-resolution pairs via the native
    // jaro_winkler expression (blocked, never all-pairs)
    locally {
      import org.apache.spark.sql.functions.{col, explode, length, lower}
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val uniq = graft.ops.Quality.keyUniqueness(orders, Seq("o_orderkey")).head()
      val fk = graft.ops.Quality.orphanCount(
        spark.read.parquet(s"$sfDir/lineitem.parquet"), orders,
        "l_orderkey", "o_orderkey").head()
      val fuzzy = graft.ext.Dedup.jaroWinklerPairs(
        spark.read.parquet(s"$sfDir/documents.parquet")
          .select(explode(graft.ext.TextStats.tokens(lower(col("text")))).as("t"))
          .where(length(col("t")) > 0),
        "t", minJw = 0.75).count()
      println(s"[demo] quality: dup_orderkeys=${uniq.getLong(3)} " +
        s"orphan_lineitems=${fk.getLong(1)}; fuzzy token pairs@0.75=$fuzzy")
    }

    // 12. forensics + corpus intelligence: Benford/Gini over order amounts,
    // Zipf health and diversity of the text corpus, the α-sampling mixture
    // ledger, and a hybrid lexical+semantic retrieval probe (RRF)
    locally {
      import org.apache.spark.sql.functions.{col, max, min}
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val benfordChi = graft.ops.Stats.benford(orders, "o_totalprice")
        .selectExpr("sum(pow(obs_p - exp_p, 2) / exp_p) as x").head().getDouble(0)
      val gini = graft.ops.Stats.gini(orders, "o_totalprice").head().getDouble(1)
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val zipf = graft.ext.TextStats.zipfFit(docs, topK = 50).head()
      val div = graft.ext.TextStats.distinctNgrams(docs)
        .agg(min(col("distinct2")), max(col("distinct2"))).head()
      println(f"[demo] forensics: benford_x2=$benfordChi%.4f gini=$gini%.4f " +
        f"zipf_slope=${zipf.getDouble(1)}%.2f distinct2=[${div.getDouble(0)}%.2f," +
        f"${div.getDouble(1)}%.2f]")
      val plan = graft.ext.Drift.mixturePlan(docs, budgetTokens = 1000000L)
        .collect().take(3)
        .map(r => f"${r.getString(0)}:w=${r.getDouble(2)}%.3f,ep=${r.getDouble(4)}%.2f")
        .mkString(" ")
      val jsdTop = graft.ext.Drift.sourceJsd(docs)
        .orderBy(col("jsd_nats").desc).head()
      val lex = graft.ext.Ranking.bm25(docs, Seq("spark"))
        .select(col("doc_id"), col("score"))
      val sem = graft.ext.Similarity.bruteForceTopK(
        spark.read.parquet(s"$sfDir/embeddings.parquet"), queryId = 0L, k = 10)
        .withColumnRenamed("vec_id", "doc_id")
      val fused = graft.ext.Ranking.rrfFuse(
          graft.ext.Ranking.rankByScore(lex, "score", "doc_id", 10),
          graft.ext.Ranking.rankByScore(sem, "cosine", "doc_id", 10))
        .collect().take(3).map(r => s"${r.getLong(0)}:${r.getDouble(3)}").mkString(" ")
      println(s"[demo] mixture: plan(head) $plan; " +
        s"max JSD ${jsdTop.getString(0)}~${jsdTop.getString(1)}=${jsdTop.getDouble(4)}; " +
        s"rrf top-3 $fused")
    }

    // graph cohesion + inference layer: triangle support and Adamic–Adar
    // over the near-dup pair graph, rank correlation, attribution, and a
    // bootstrap error bar on the corpus mean
    locally {
      import org.apache.spark.sql.functions.col
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val doubled = docs.unionAll(
        docs.withColumn("doc_id", col("doc_id") + 100000L))
      val pairs = graft.ext.Dedup.ngramJaccardPairs(doubled, minJaccard = 0.8)
      val tri = graft.ops.Triangles.triangleCounts(pairs)
      val supported = tri.where(col("n_triangles") > 0).count()
      val aa = graft.ops.Triangles.adamicAdar(pairs, includeExisting = true)
        .orderBy(col("aa_score").desc).take(1)
        .map(r => s"(${r.getLong(0)},${r.getLong(1)})=${r.getDouble(3)}")
        .mkString
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val rho = graft.ops.Stats.spearman(li, "l_quantity", "l_extendedprice")
        .head().getDouble(3)
      val ev = graft.queries.Reference.events(spark, sfDir)
      val attr = graft.ext.Funnel.lastTouchAttribution(ev)
        .orderBy(col("n_conversions").desc).take(2)
        .map(r => s"ch${r.getLong(0)}:${r.getLong(1)}").mkString(" ")
      val ci = graft.ops.Stats.bootstrapMeanCi(docs, "n_chars", "doc_id",
        b = 50).head()
      println(s"[demo] graph+inference: triangle-supported=$supported docs; " +
        s"top AA $aa; spearman(qty,price)=$rho; top channels $attr; " +
        s"mean n_chars=${ci.getDouble(2)} ci=[${ci.getDouble(3)},${ci.getDouble(4)}]")
    }

    // curation layer: corpus balance -> quality-ordered caps ->
    // readability gate -> keyword labels -> batch-vs-corpus dedup lookup
    locally {
      import org.apache.spark.sql.functions.{col, concat, lit}
      val docs = spark.read.parquet(s"$sfDir/documents.parquet")
      val g = graft.ops.Stats.giniByGroup(docs, "source").head()
      val capped = graft.ops.Splits.capPerGroupTop(docs, "source", k = 10,
        orderCol = "n_chars").count()
      val readable = graft.ext.TextStats.readability(docs)
        .where(col("flesch") > 50).count()
      val kw = graft.ext.Ranking.tfIdfTopTerms(docs, k = 1)
        .where(col("doc_id") === 0L).take(1)
        .map(r => r.getString(1)).mkString
      // a perturbed batch looked up against the corpus by MinHash signature
      val batch = docs.where(col("doc_id") % 25 === 0)
        .select((col("doc_id") + 700000).as("doc_id"),
          concat(col("text"), lit(" ingest suffix")).as("text"))
      val dupBatchIds = Dedup.minhashLookupMd5(batch, docs)
        .select("batch_id").distinct().count()
      println(f"[demo] curation: source-gini=${g.getDouble(2)}%.4f over ${g.getLong(0)}%d " +
        s"sources; cap10/source keeps $capped; flesch>50: $readable docs; " +
        s"doc0 keyword '$kw'; minhash lookup flagged $dupBatchIds/${batch.count()} " +
        s"batch docs")
    }

    Ddl.dropDatabaseCascade(spark, "demo_db")
    spark.stop()
    println("[demo] OK")
  }
}
