package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local(Session.envCpus(4))
    new java.io.File(outDir).mkdirs()
    // Pre-flight audit for e18_editdist: its maxSegmentBucket=500 cap is
    // documented INACTIVE at verify scale (the DuckDB oracle brute-forces
    // all pairs, so a cap that ever became ACTIVE would surface only as an
    // opaque hash mismatch). Trip loudly here instead if regenerated test
    // data grows a hot prefix-segment bucket past the cap. Cost: one
    // projection+aggregate over documents (~0.3 s at sf0.01).
    locally {
      import org.apache.spark.sql.functions.{col, max}
      val hot = graft.ext.Dedup.editDistanceHotSegments(
          spark.read.parquet(s"$sfDir/documents.parquet"),
          maxDist = 5, prefixLen = 40, minBucket = 0)
        .agg(max(col("n_docs"))).head()
      val maxBucket = if (hot.isNullAt(0)) 0L else hot.getLong(0)
      require(maxBucket <= 500,
        s"e18 maxSegmentBucket=500 would be ACTIVE at verify scale (max " +
          s"segment bucket $maxBucket): the oracle brute-forces all pairs, so " +
          s"the gate would hash-mismatch opaquely — re-pin the e18 cap/comment")
    }
    // Pre-flight audit for the e11 family's prefixDfCap=1000 (e11/e14/e94/
    // e99 — round 15 switched them to the witness-counted rarest-prefix
    // path): the boundary proof is that df cannot exceed the DOUBLED
    // corpus's doc count — valid only while 2·|documents| <= 1000 — and
    // the direct contract is an empty ngramJaccardAtRisk on the doubled
    // corpus. Check BOTH: the boundary trips on testdata growth, the audit
    // on any witness-window exposure (ADVICE r13 / verdict r14 item 6).
    locally {
      val nDocs = graft.ops.Layout.parquetRowCount(spark, s"$sfDir/documents.parquet")
      require(2L * nDocs <= 1000L,
        s"e11/e94 prefixDfCap=1000 could be ACTIVE at verify scale (doubled " +
          s"corpus = ${2 * nDocs} docs): the oracle is exact all-pairs, so the " +
          s"gate would hash-mismatch opaquely — re-pin the caps")
      import org.apache.spark.sql.functions.col
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select(col("doc_id"), col("text"))
      val doubled = d.unionAll(d.withColumn("doc_id", col("doc_id") + 100000L))
      val atRisk = graft.ext.Dedup.ngramJaccardAtRisk(doubled,
        minJaccard = 0.8, prefixDfCap = 1000).count()
      require(atRisk == 0L,
        s"e11 prefixDfCap=1000 could be ACTIVE at verify scale ($atRisk docs " +
          s"with over-cap entries in the witness window) — raise the cap or " +
          s"shrink the corpus")
    }
    // Pre-flight audit for e106/e107's prefixDfCap=2000: the capped
    // rarest-prefix candidate path is provably exact iff NO doc has an
    // over-cap entry inside its e-extended prefix witness window
    // (Dedup.ngramContainmentAtRisk scaladoc — one over-cap shared shingle
    // there can already cost a pair its witness quota). The DuckDB oracle
    // brute-forces all pairs, so an active cap would surface only as an
    // opaque hash mismatch — trip loudly here.
    locally {
      val atRisk = graft.ext.Dedup.ngramContainmentAtRisk(
        graft.ext.ExtQueries.containmentCorpus(spark, sfDir),
        minContainment = 0.9, prefixDfCap = 2000).count()
      require(atRisk == 0L,
        s"e106 prefixDfCap=2000 could be ACTIVE at verify scale ($atRisk " +
          s"docs with over-cap entries in the witness window): the oracle " +
          s"brute-forces all pairs — raise the cap or shrink the corpus")
    }
    // Pre-flight audit for e118_decontam_fixedbench: its Spark side emits
    // one row per corpus ROW (duplicate vec_ids intentionally kept separate
    // — the r13 semanticHits pin) while its DuckDB mirror GROUPs BY
    // c.vec_id, and its ORDER BY vec_id is only total under unique ids.
    // Both are sound iff embeddings.vec_id is unique at verify scale — trip
    // loudly here if regenerated testdata ever gains duplicate vec_ids.
    locally {
      import org.apache.spark.sql.functions.{col, countDistinct, count, lit}
      val r = spark.read.parquet(s"$sfDir/embeddings.parquet")
        .agg(count(lit(1)), countDistinct(col("vec_id"))).head()
      require(r.getLong(0) == r.getLong(1),
        s"embeddings.vec_id not unique at verify scale (${r.getLong(0)} rows, " +
          s"${r.getLong(1)} distinct): e118's row-per-corpus-row Spark side vs " +
          s"GROUP BY mirror and its ORDER BY vec_id would hash-mismatch " +
          s"opaquely — re-pin the e118 contract first")
    }
    // Pre-flight audit for e93_embedding_neardup: its Spark side scales LSH
    // band bits with the corpus (Dedup.autoPlanes) while its oracle mirror
    // is a STATIC 32-plane text — valid only while the rule lands on 32 at
    // this corpus size. Trip loudly if regenerated test data moves it.
    locally {
      val n = 2L * graft.ops.Layout.parquetRowCount(spark, s"$sfDir/embeddings.parquet")
      val np = graft.ext.Dedup.autoPlanes(n)
      require(np == 32,
        s"e93 autoPlanes($n) = $np but the static oracle mirror pins 32 " +
          s"planes — regenerate the e93 mirror with the new width or re-clamp " +
          s"autoPlanes, or the gate hash-mismatches opaquely")
    }
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // session-lifetime caches (the direct persists of PageRank,
      // Percentiles and Stats' value grids) would otherwise accumulate
      // across all 151 dumps — the clear-between-batches convention, as in
      // Bench. Layout.pin blocks are not caches: the ContextCleaner
      // releases them once the dumped frame is unreachable.
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
