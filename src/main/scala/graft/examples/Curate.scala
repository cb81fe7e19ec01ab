package graft.examples

import graft.ext.{Decontaminate, Dedup, Drift, LangModel, Packing, Similarity, TextStats}
import graft.ops.Splits
import org.apache.spark.sql.functions._

/** The complete LLM training-data curation pass, end to end — every stage a
  * library operator, every count printed, so the whole pipeline story runs
  * as one binary:
  *
  *   raw docs → quality gate → PII scrub → exact dedup → near-dedup
  *   (MinHash clusters) → benchmark decontamination → language mixing →
  *   per-source caps → deterministic train/val/test split → context-window
  *   chunks → (int8-quantized) embeddings + top-5 sanity probe.
  *
  * Run: `sbt "runMain graft.examples.Curate /root/testdata/sf0.001"`.
  * Every stage is a pure DataFrame transform: the same code curates 500
  * documents here and 100 TB on a cluster — partitioning, shuffles, and
  * caps are the operators' concern, not the pipeline author's.
  */
object Curate {

  /** Wall-clock per stage: every stage's count() forces its computation, so
    * the elapsed time between marks IS that stage's cost (plus cache-reuse
    * credit from earlier stages — deliberately: the composed pipeline is
    * what the sf1 bench row in BASELINE.md records, not isolated operators).
    */
  private var lastMark = System.nanoTime()
  private def mark(stageName: String): Unit = {
    val now = System.nanoTime()
    println(f"[curate]   ^ stage '$stageName' took ${(now - lastMark) / 1e9}%.2f s")
    lastMark = now
  }

  /** Stage-boundary materialization: [[graft.ops.Layout.pin]] — the stage
    * output is computed once, and the returned frame's plan is a flat
    * scan of the materialized partitions (lineage CUT, not just cached) —
    * plus release-behind bookkeeping ([[drop]]).
    *
    * Both halves matter, and each was measured separately at sf1:
    *
    *  - WITHOUT any pin, the chain cost 2224 s: every stage's count()
    *    re-derived the whole upstream lineage (Spark caches nothing
    *    across actions), so the corpus was re-curated from raw ~once per
    *    stage — Σ prefixes instead of Σ stages.
    *  - With `persist` pins (cache, lineage kept), data stopped
    *    recomputing but the DRIVER didn't: Catalyst re-analyzes the full
    *    cumulative plan on every action (cache substitution happens at
    *    physical planning, after analysis), and with ~40 plan-heavy
    *    operators stacked, the late stages went driver-bound — the
    *    mixture ledger (two tiny aggregations over a 600-row frame,
    *    2.5 s with a shallow plan) took 92-99 s, IDENTICALLY at sf0.001
    *    and sf1. Scale-independent stage cost is the signature of plan
    *    overhead, not data work.
    *
    * At 100 TB the same boundaries would be parquet checkpoints (write +
    * re-read), which cut lineage the same way; `localCheckpoint` is the
    * in-memory equivalent. A composed curation DAG needs true
    * materialization points — cache alone leaves the driver quadratic in
    * pipeline depth.
    */
  private val pinned = scala.collection.mutable.Map[
    org.apache.spark.sql.DataFrame, Seq[org.apache.spark.rdd.RDD[_]]]()
  private def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = graft.ops.Layout.pin(df)
    // everything newly persisted by the materialization job belongs to
    // this stage: the checkpoint RDD itself, plus any operator-internal
    // persists that are dead weight once the checkpoint holds the output
    pinned(out) = (sc.getPersistentRDDs.keySet -- before).toSeq
      .flatMap(sc.getPersistentRDDs.get)
    out
  }

  /** Release stage outputs whose consumers have all materialized. A
    * localCheckpoint has no lineage to fall back on — a dropped frame
    * must never be referenced again (the pipeline below is ordered so
    * none is). Keeps live storage O(active stages), not O(all stages).
    */
  private def drop(dfs: org.apache.spark.sql.DataFrame*): Unit =
    dfs.foreach(df => pinned.remove(df).toSeq.flatten
      .foreach(_.unpersist(blocking = false)))

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.local(graft.Session.envCpus(8))
    val t0 = System.nanoTime()
    lastMark = t0

    val raw = pin(spark.read.parquet(s"$sfDir/documents.parquet"))
    println(s"[curate] raw: ${raw.count()} docs")
    mark("read")

    // 1. quality gate (Gopher/C4-style signals, named fail reasons) + scrub
    val gated = pin(TextStats.qualityFilter(
        raw.withColumn("text", TextStats.scrubPii(col("text"))))
      .where(col("quality_pass"))
      .drop("quality_pass", "quality_fail_reasons"))
    println(s"[curate] quality+scrub: ${gated.count()} docs")
    mark("quality+scrub")

    // 1b. diversity gate: drop looping/template docs (distinct-2 below 0.2
    // means over 80% of consecutive word pairs repeat — degenerate text)
    val divIds = TextStats.distinctNgrams(gated)
      .where(col("distinct2").isNull || col("distinct2") >= 0.2)
      .select(col("doc_id").as("__div_id"))
    val diverse = pin(gated.join(divIds, col("doc_id") === col("__div_id"))
      .drop("__div_id"))
    println(s"[curate] diversity gate (distinct-2 >= 0.2): ${diverse.count()} docs")
    drop(gated)
    mark("diversity")

    // 2. exact dedup, then transitive near-dedup (MinHash → CC groups)
    val exact = pin(Dedup.exactRows(diverse))
    val near = pin(Dedup.nearDedupRows(exact, minJaccard = 0.7))
    println(s"[curate] dedup: exact ${exact.count()} -> near ${near.count()} docs")
    drop(diverse, exact)
    mark("dedup")

    // 2b. substring-level dedup: strip cross-doc repeated spans, keeping
    // each span's first occurrence (Lee et al. "all but one")
    val unrep = pin(Dedup.maskRepeatedSpans(near, n = 10, minDocs = 2, keepFirst = true)
      .withColumn("text", col("clean_text")).drop("clean_text"))
    println(s"[curate] repeated-span mask (keep-first): ${unrep.count()} docs")
    drop(near)
    mark("span-mask")

    // 2c. LM fluency gate: drop the corpus's least-fluent 5% tail
    // (CCNet-style bigram-LM score, fixed-point). The cut is a CORPUS
    // PERCENTILE, not a constant — CCNet buckets by LM-score percentiles
    // precisely because absolute log-prob scales shift with the corpus
    // (the first sf1 run proved it: a -3.45 constant calibrated on sf0.001
    // kept 120 of 43k docs once ScaleUp's per-copy vocabulary moved the
    // score distribution).
    val lm = pin(LangModel.lmScore(unrep).select(col("doc_id").as("__lm_id"),
      col("avg_logprob")))
    val p05 = graft.ext.Percentiles.approx(
        lm.where(col("avg_logprob") =!= 0.0),
        Seq("avg_logprob" -> Seq(0.05)))
      .head().getSeq[Double](0).head
    val fluent = pin(unrep.join(lm, col("doc_id") === col("__lm_id"))
      .where(col("avg_logprob") > p05 || col("avg_logprob") === 0.0)
      .drop("__lm_id", "avg_logprob"))
    println(f"[curate] LM fluency gate (avg logprob > p05 = $p05%.4f): ${fluent.count()} docs")
    drop(unrep, lm)
    mark("lm-gate")

    // 3. benchmark decontamination (docs doc_id%10==0 stand in for evals)
    val bench = raw.where(col("doc_id") % 10 === 0)
    val clean = pin(Decontaminate.removeContaminated(fluent, bench, n = 8))
    println(s"[curate] decontaminated (8-gram): ${clean.count()} docs")
    drop(fluent)
    mark("decontam")

    // 3b. DSIR probe: how many of the cleaned docs would an importance
    // resample toward the benchmark-like slice select? (deterministic
    // Gumbel top-k — reported, not applied: mixing below stays the demo's
    // selection mechanism)
    val dsirN = LangModel.dsirSample(clean, bench, k = 50).count()
    println(s"[curate] DSIR toward benchmark slice would select $dsirN/50 requested docs")
    mark("dsir")

    // 4. language mixing + per-source caps (deterministic, monotone)
    val mixed = Splits.stratifiedSampleByHash(clean, "lang",
      Map("en" -> 100, "de" -> 70, "fr" -> 70, "es" -> 50, "zh" -> 50))
    val capped = pin(Splits.capPerGroup(mixed.drop("bucket"), "lang", k = 120))
    println(s"[curate] mixed ${mixed.count()} -> capped ${capped.count()} docs")
    drop(clean, raw)
    mark("mix+cap")

    // 4b. the mixture ledger: what an α-sampled 1M-token run would draw
    // from each language slice, and how far apart the sources still sit
    val plan = Drift.mixturePlan(capped, budgetTokens = 1000000L,
      sourceCol = "lang").collect()
      .map(r => f"${r.getString(0)}:${r.getLong(3)}tok(x${r.getDouble(4)}%.1f)")
      .mkString(" ")
    val jsdMax = Drift.sourceJsd(capped)
      .agg(max(col("jsd_nats"))).head().getDouble(0)
    println(s"[curate] mixture plan (1M tokens, a=0.7): $plan; max source JSD $jsdMax")
    mark("mixture-ledger")

    // 5. content-hash split + context-window chunking
    val split = Splits.splitByHash(capped)
    val splitCounts = split.groupBy("split").count().collect()
      .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
    val chunks = pin(TextStats.chunkTokens(split.where(col("split") === "train"),
      windowTokens = 32, overlapTokens = 4))
    println(s"[curate] split: $splitCounts; train chunks: ${chunks.count()}")
    drop(capped)
    mark("split+chunk")

    // 5b. sequence packing: bin the chunks into 128-token training
    // sequences (deterministic md5-bucketed next-fit, ext.Packing)
    val packed = Packing.packSequences(
      chunks.select((col("doc_id") * 100000L + col("chunk_idx")).as("chunk_id"),
        col("doc_id"), col("n_chunk_tokens").as("n_tokens")),
      budget = 128, numBuckets = 16, idCol = "chunk_id", docCol = "doc_id")
    val nSeqs = packed.select(col("bucket") * 1000000L + col("seq")).distinct().count()
    println(s"[curate] packed ${packed.count()} chunks into $nSeqs sequences of <= 128 tokens")
    drop(chunks)
    mark("packing")

    // 6. embeddings: int8 quantization (4x storage) + top-5 sanity probe
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q8 = Similarity.quantizeInt8(emb)
    val deq = Similarity.dequantizeInt8(q8)
    val exactTop = Similarity.bruteForceTopK(emb, 0L, 5).collect().map(_.getLong(0)).toSeq
    val quantTop = Similarity.bruteForceTopK(deq, 0L, 5).collect().map(_.getLong(0)).toSeq
    println(s"[curate] embeddings: ${q8.count()} int8 vectors; " +
      s"top-5 after quantization ${if (exactTop == quantTop) "UNCHANGED" else s"$quantTop vs $exactTop"}")
    mark("embeddings")

    println(f"[curate] OK — total ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}
