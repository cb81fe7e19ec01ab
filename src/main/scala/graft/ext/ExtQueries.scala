package graft.ext

import graft.queries.Reference.{msumSql, Q}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** DuckDB-oracle-expressible slices of the extension operators (SURVEY.md
  * §2.e). Every declared query carries a full DuckDB oracle; operators whose
  * production form is DuckDB-inexpressible (xxhash64 MinHash/SimHash, LSH,
  * HLL sketches) are declared through md5-portable canonical twins (e83/e84)
  * and spec-pinned against their fast paths in ScalaTest.
  */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** [[t]] + scan-parallelism repair, for the queries whose PER-ROW compute
    * dominates (codegen'd md5/simhash loops, n-gram explodes, exact DECIMAL
    * moment aggregation, iterative graph walks): the testdata's
    * single-row-group files cap every scan at one task, and these queries'
    * map-side work then runs single-core until the first exchange —
    * measured 2-7× slower (e41 9.1→2.1 s, e83 4.5→0.7 s, e23 6.5→3.4 s at
    * sf0.1). Cheap scan-bound queries keep plain [[t]]: for them the
    * round-robin shuffle is pure tax (q14 minmax measured 0.8→1.5 s under a
    * blanket repair). See [[graft.ops.Layout.repairScanParallelism]] — a
    * well-split input passes through untouched, so this is a no-op at real
    * scale.
    *
    * Round-15 sweep (OPTIMIZATION_r15.md): every declared load was A/B'd
    * under the full bench. The repair pays only where saved map-side work
    * exceeds the ~0.3–0.5 s round-robin exchange + AQE round it adds —
    * kept for the regex/shingle/digest and exact-DECIMAL-moment queries
    * (e87 2.9→1.1 s, e103 3.5→2.3 s, e35/e63/e75/e100 −0.3..−0.7 s) and
    * the doubled/excerpt unions (e11/e14/e94/e99/e106 — repaired after
    * the union, until the witness path's own hash partitioning by doc id
    * replaced the repair; e107's keep-best leg keeps it); REVERTED on ~30
    * light queries where it measured as pure tax (e31 +1.0 s, e47 +0.9 s,
    * e92 +0.9 s, e56/e60/e61/e66 +0.3–0.6 s).
    */
  private def tp(s: SparkSession, dir: String, name: String): DataFrame =
    graft.ops.Layout.repairScanParallelism(t(s, dir, name))

  /** Footer row count of a testdata table — metadata only, no job
    * ([[graft.ops.Layout.parquetRowCount]]): the corpus-size signal the
    * dedup declarations use to pick their candidate-generation strategy.
    */
  private def rowCount(s: SparkSession, dir: String, name: String): Long =
    graft.ops.Layout.parquetRowCount(s, s"$dir/$name.parquet")

  /** Strategy note for the n-gram pair family (round-13 A/B, BASELINE.md):
    * the df-capped posting-bucket path is declared at EVERY scale. An
    * earlier size-based switch to PPJoin prefix filtering at ≥100k docs
    * was calibrated against a corpus built by CHAINED ScaleUp runs, whose
    * colliding doc_ids merged distinct documents' posting rows and faked a
    * Σ df² explosion (118–170 GB spills "at 500k docs"). Re-measured on
    * clean corpora: the cap wins Jaccard through 5M docs (221 vs 306 s,
    * identical 256k pairs) and the containment prefix variant exhausts
    * 58+ GB of scratch where cap=2000 completes — its prefix bound only
    * shortens the SMALLER side, so candidate volume stays ~Σ df².
    * `prefixFilter = true` stays available (DedupSpec pins it ≡ naive) as
    * the exact-recall path for df-heavy real corpora where the
    * ngramJaccardAtRisk / ngramContainmentAtRisk audit shows a cap
    * dropping true pairs — choose by measured df skew, not corpus size.
    */

  // E1 exact dedup over a deliberately doubled documents corpus: keeper id +
  // copy count per content hash. Same shape as Dedup.exact, with md5 as the
  // hash because DuckDB's md5 == Spark's md5 (lowercase hex) for the oracle.
  private val e01 = Q(
    "e01_dedup_exact",
    (s, dir) =>
      graft.queries.Reference.doubled(t(s, dir, "documents"))
        .groupBy(md5(lower(trim(col("text")))).as("content_hash"))
        .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy(col("keeper_id")),
    Some(
      """SELECT md5(lower(trim(text))) AS content_hash,
        |  min(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM (SELECT * FROM documents UNION ALL SELECT * FROM documents)
        |GROUP BY md5(lower(trim(text)))
        |ORDER BY keeper_id""".stripMargin))

  // E2 brute-force cosine top-k against the vec_id=0 embedding. Rounded to 4
  // decimals and tie-broken by id so the top-k set hash-matches DuckDB's
  // list_cosine_similarity.
  private val e02 = Q(
    "e02_cosine_topk",
    (s, dir) => Similarity.bruteForceTopK(t(s, dir, "embeddings"), queryId = 0L, k = 10),
    Some(
      """SELECT b.vec_id AS vec_id,
        |  round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |                               CAST(b.embedding AS DOUBLE[])), 4) AS cosine
        |FROM embeddings a, embeddings b
        |WHERE a.vec_id = 0 AND b.vec_id <> 0
        |ORDER BY cosine DESC, vec_id LIMIT 10""".stripMargin))

  // E3 per-document token stats (counts only — the ratio columns are
  // Spark-side floats with regex semantics DuckDB doesn't mirror 1:1;
  // ScalaTest covers those).
  private val e03 = Q(
    "e03_token_stats",
    (s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), col("n_chars"),
          length(col("text")).cast("long").as("n_chars_calc"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tokens"))
        .orderBy(col("doc_id")),
    Some(
      """SELECT doc_id, lang, n_chars, length(text) AS n_chars_calc,
        |  len(string_split_regex(trim(text), '\s+')) AS n_tokens
        |FROM documents ORDER BY doc_id""".stripMargin))

  // E3b corpus word frequency, top-100 with total ordering.
  private val e04 = Q(
    "e04_word_freq",
    (s, dir) =>
      TextStats.wordFreq(t(s, dir, "documents"))
        .orderBy(col("n").desc, col("token"))
        .limit(100),
    Some(
      """SELECT token, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin))

  // E4 JSON property extraction + group (events.props = {"k": N}).
  private val e05 = Q(
    "e05_json_extract",
    (s, dir) =>
      graft.queries.Reference.events(s, dir)
        .select(get_json_object(col("props"), "$.k").cast("long").as("k"),
          col("event_type"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("event_type")).as("n_types"))
        .orderBy(col("k")),
    Some(
      """SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  COUNT(*) AS n_events, COUNT(DISTINCT event_type) AS n_types
        |FROM events GROUP BY k ORDER BY k""".stripMargin))

  // E5 tumbling-window aggregation (streaming-shaped; DuckDB mirror is
  // date_trunc). Spark's window() start == date_trunc('hour') for aligned
  // 1-hour tumbling windows.
  private val e06 = Q(
    "e06_hourly_window",
    (s, dir) =>
      graft.queries.Reference.events(s, dir)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.queries.Reference.msum(col("value")).as("sum_value"))
        .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type")),
    Some(
      s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
         |  COUNT(*) AS n_events, ${msumSql("value")} AS sum_value
         |FROM events
         |GROUP BY strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S'), event_type
         |ORDER BY window_start, event_type""".stripMargin))

  // E3c language-ID heuristic vs the labeled lang column: confusion counts.
  // DuckDB mirror: stopword votes are len(list_filter(tokens, IN inventory)),
  // the argmax is list_sort(...)[-1] over (score, lang) structs — field-order
  // struct comparison matches Spark's array_max over struct(score, lang),
  // including the lexicographic-greatest-lang tie-break — and DuckDB's RE2
  // supports \p{Han} for the CJK override (Java spells it \p{IsHan}). The
  // SQL is GENERATED from TextStats.stopwords so the inventories can't drift.
  private val e07LangSql: String = {
    val langs = TextStats.stopwords.keys.toSeq.sorted
    val structs = langs.map { l =>
      val inv = TextStats.stopwords(l).map(w => s"'$w'").mkString("[", ", ", "]")
      s"{'score': len(list_filter(toks, t -> list_contains($inv, t))), 'lang': '$l'}"
    }.mkString(",\n           ")
    s"""WITH toksed AS (
       |  SELECT lang, text, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |  FROM documents
       |), best AS (
       |  SELECT lang, text,
       |    (list_sort([$structs]))[-1] AS b
       |  FROM toksed
       |)
       |SELECT lang,
       |  CASE WHEN regexp_matches(text, '\\p{Han}') THEN 'zh'
       |       WHEN b.score > 0 THEN b.lang
       |       ELSE 'und' END AS lang_pred,
       |  COUNT(*) AS n
       |FROM best
       |GROUP BY 1, 2
       |ORDER BY lang, lang_pred""".stripMargin
  }

  private val e07 = Q(
    "e07_lang_id",
    (s, dir) =>
      tp(s, dir, "documents")
        .withColumn("votes", TextStats.langVotes(col("text")))
        .select(col("lang"),
          TextStats.langIdFromVotes(col("votes"), col("text")).as("lang_pred"))
        .groupBy(col("lang"), col("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("lang"), col("lang_pred")),
    Some(e07LangSql))

  // NOTE on the retired e08_simhash / e09_minhash_neardup rows: the
  // xxhash64-based SimHash fingerprints and native MinHash-LSH pairs have no
  // DuckDB counterpart, so their declared queries could only ever be
  // rows-only checks ("no_oracle" in every CORRECTNESS report). Round 10
  // retires them in favor of their md5-portable canonical forms e83/e84
  // below (identical banding/vote/verify arithmetic, every byte under the
  // hash oracle). The xxhash64 fast paths remain the production surface —
  // graft.functions.SimHash64, Dedup.minhashNearDupNative,
  // TextStats.fingerprint — all spec-pinned in DedupSpec/TextStatsSpec,
  // including Hamming-neighborhood agreement with the md5 twins.

  // E-stat: exact percentiles (Spark `percentile` ≡ DuckDB `quantile_cont`,
  // both linear-interpolation on the sorted values). Interpolated values are
  // rounded to 4dp: the inputs carry ≤2dp so interpolation at quarter
  // fractions lands on the 4dp grid — rounding kills any a+(b−a)·f vs
  // (a+b)/2 ulp difference between engines without losing information.
  private val e10 = Q(
    "e10_percentiles",
    (s, dir) =>
      // guarded exact form (the oracle needs exactness): Percentiles.exact
      // refuses above its row guard — at real scale the approx twin
      // (Percentiles.approx, error-bound-tested in SketchSpec) is the path
      // grid form (round 15): identical values (SketchSpec pin), but the
      // single task holds one long per DISTINCT value instead of every row
      // value — the 1.4 s single-task merge became a grid window (§1.2)
      Percentiles.exactGrid(tp(s, dir, "lineitem"),
          Seq("l_quantity" -> Seq(0.5, 0.9), "l_extendedprice" -> Seq(0.25, 0.75)))
        .select(
          round(element_at(col("l_quantity_pcts"), 1), 4).as("median_qty"),
          round(element_at(col("l_quantity_pcts"), 2), 4).as("p90_qty"),
          round(element_at(col("l_extendedprice_pcts"), 1), 4).as("p25_price"),
          round(element_at(col("l_extendedprice_pcts"), 2), 4).as("p75_price")),
    Some(
      """SELECT round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |  round(quantile_cont(l_quantity, 0.9), 4) AS p90_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS p25_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS p75_price
        |FROM lineitem""".stripMargin))

  // E1e exact n-gram Jaccard pairs over the doubled corpus — the SAME
  // verification arithmetic e09's re-join stage uses (shingle →
  // array_intersect → |A∩B|/(|A|+|B|−|A∩B|)), here under a full DuckDB
  // oracle: word 3-gram shingles via a list comprehension, overlap via
  // list_intersect. Both sides compute jaccard as an integer-derived IEEE
  // division, so the doubles are bit-identical and need no rounding.
  private val e11 = Q(
    "e11_ngram_jaccard",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // no scan repair: the witness path hash-partitions the documents by
      // id before it shingles them (one shuffle, full-width shingle stage)
      val doubled = d.unionAll(d.withColumn("doc_id", col("doc_id") + 100000L))
      // witness-counted rarest-prefix candidates at EVERY scale (round-15
      // A/B at 5M docs: 133.0 s vs 222.6 s for the round-13 winner, a
      // plain df cap of 1000; IDENTICAL 256k pairs, ngramJaccardAtRisk
      // empty — the e106 generator transferred to the symmetric family).
      // cap=1000 is inactive at verify scale — df cannot exceed the
      // doubled corpus's doc count, graft.Verify pre-flights both
      // 2·|documents| <= 1000 AND an empty ngramJaccardAtRisk, so the
      // claim trips loudly if testdata grows instead of surfacing as an
      // opaque hash mismatch; the
      // constant stays FIXED rather than corpus-derived because at
      // rehearsal scale the cap IS the recall contract. prefixFilter
      // remains the exact-recall escape hatch for df-heavy corpora.
      Dedup.ngramJaccardPairs(doubled, minJaccard = 0.8, prefixDfCap = 1000)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |), toksed AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM doubled
        |), sh AS (
        |  SELECT doc_id, list_distinct([
        |    concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, greatest(len(toks) - 1, 1))
        |  ]) AS sh
        |  FROM toksed
        |)
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |      (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
        |)
        |WHERE jaccard >= 0.8
        |ORDER BY id_a, id_b""".stripMargin))

  // E3c Gopher-style n-gram repetition signals per document (top-n-gram
  // coverage + duplicate-n-gram fraction for n = 2, 3). Both sides divide
  // integer-derived values exactly once → bit-identical doubles.
  private val e12 = Q(
    "e12_repetition",
    (s, dir) =>
      TextStats.repetitionStats(tp(s, dir, "documents"))
        .orderBy(col("doc_id")),
    Some(
      """WITH toksed AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
        |), g2 AS (
        |  SELECT doc_id, unnest([concat_ws(' ', toks[i], toks[i+1]) FOR i IN range(1, greatest(len(toks), 1))]) AS g
        |  FROM toksed
        |), c2 AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM g2 GROUP BY 1, 2
        |), s2 AS (
        |  SELECT doc_id, max(c) AS top_c, sum(c) AS tot, COUNT(*) AS dist FROM c2 GROUP BY 1
        |), g3 AS (
        |  SELECT doc_id, unnest([concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, greatest(len(toks) - 1, 1))]) AS g
        |  FROM toksed
        |), c3 AS (
        |  SELECT doc_id, g, COUNT(*) AS c FROM g3 GROUP BY 1, 2
        |), s3 AS (
        |  SELECT doc_id, max(c) AS top_c, sum(c) AS tot, COUNT(*) AS dist FROM c3 GROUP BY 1
        |)
        |SELECT t.doc_id, len(t.toks) AS n_tokens,
        |  CASE WHEN s2.tot IS NULL OR len(t.toks) = 0 THEN 0.0 ELSE CAST(s2.top_c * 2 AS DOUBLE) / len(t.toks) END AS top2gram_frac,
        |  CASE WHEN s2.tot IS NULL OR s2.tot = 0 THEN 0.0 ELSE CAST(s2.tot - s2.dist AS DOUBLE) / s2.tot END AS dup2gram_frac,
        |  CASE WHEN s3.tot IS NULL OR len(t.toks) = 0 THEN 0.0 ELSE CAST(s3.top_c * 3 AS DOUBLE) / len(t.toks) END AS top3gram_frac,
        |  CASE WHEN s3.tot IS NULL OR s3.tot = 0 THEN 0.0 ELSE CAST(s3.tot - s3.dist AS DOUBLE) / s3.tot END AS dup3gram_frac
        |FROM toksed t LEFT JOIN s2 USING(doc_id) LEFT JOIN s3 USING(doc_id)
        |ORDER BY doc_id""".stripMargin))

  // Deterministic content-hash train/val/test split (80/10/10): md5-derived
  // bucket so Spark and DuckDB agree byte-for-byte — split membership is a
  // property of the data, not the execution.
  private val e13 = Q(
    "e13_hash_split",
    (s, dir) =>
      graft.ops.Splits.splitByHash(t(s, dir, "documents").select(col("doc_id")))
        .orderBy(col("doc_id")),
    Some(
      """WITH h AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS m FROM documents
        |), b AS (
        |  SELECT doc_id,
        |    ((((strpos('0123456789abcdef', substr(m,1,1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(m,2,1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(m,3,1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(m,4,1)) - 1)) % 100 AS bucket
        |  FROM h
        |)
        |SELECT doc_id, bucket,
        |  CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'val' ELSE 'test' END AS split
        |FROM b ORDER BY doc_id""".stripMargin))

  // E1f transitive duplicate clusters: the large-star/small-star
  // connected-components labeling (dupGroups) under a DuckDB oracle —
  // min-reachable-id per node via a recursive CTE over the e11 pair graph.
  // Both engines label a component with its minimum doc_id, so the
  // (doc_id, group_id) frames hash-compare exactly; the size-4/6
  // components in the doubled corpus exercise transitivity (A~B~C
  // collapsing without a direct A~C edge).
  private val e14 = Q(
    "e14_dup_clusters",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // no scan repair — see e11's note
      val doubled = d.unionAll(d.withColumn("doc_id", col("doc_id") + 100000L))
      // same witness-counted path as e11 — cap inactive at verify scale,
      // see e11's note
      val pairs = Dedup.ngramJaccardPairs(doubled, minJaccard = 0.8,
          prefixDfCap = 1000)
        .select(col("id_a"), col("id_b"))
      Dedup.dupGroups(doubled.select(col("doc_id")), pairs).orderBy(col("doc_id"))
    },
    Some(
      """WITH doubled AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL SELECT doc_id + 100000, text FROM documents
        |), toksed AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM doubled
        |), sh AS (
        |  SELECT doc_id, list_distinct([
        |    concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, greatest(len(toks) - 1, 1))
        |  ]) AS sh
        |  FROM toksed
        |), pairs AS (
        |  SELECT * FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
        |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
        |    FROM sh a, sh b
        |    WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
        |  ) WHERE jaccard >= 0.8
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |)
        |SELECT doc_id, group_id FROM (
        |  WITH RECURSIVE reach(id, r) AS (
        |    SELECT doc_id, doc_id FROM doubled
        |    UNION
        |    SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
        |  )
        |  SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
        |) ORDER BY doc_id""".stripMargin))

  // E1g benchmark decontamination: per-corpus-doc count of distinct word
  // 3-grams shared with a held-out "benchmark" slice (doc_id % 10 = 0 stands
  // in for the eval suite). The DuckDB mirror reuses the e11 shingle
  // comprehension; both sides count joined rows over per-doc-distinct
  // shingles vs a deduplicated benchmark set, so the counts agree exactly.
  private val e15 = Q(
    "e15_decontam",
    (s, dir) => {
      val d = t(s, dir, "documents")
      Decontaminate.ngramHits(
          d.where(col("doc_id") % 10 =!= 0),
          d.where(col("doc_id") % 10 === 0))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH toksed AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM documents
        |), sh AS (
        |  SELECT doc_id, list_distinct([
        |    concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, greatest(len(toks) - 1, 1))
        |  ]) AS sh
        |  FROM toksed
        |), bench AS (
        |  SELECT DISTINCT unnest(sh) AS g FROM sh WHERE doc_id % 10 = 0
        |), corpus AS (
        |  SELECT doc_id, unnest(sh) AS g FROM sh WHERE doc_id % 10 <> 0
        |), hits AS (
        |  SELECT doc_id, COUNT(*) AS n_hits FROM corpus JOIN bench USING (g) GROUP BY doc_id
        |)
        |SELECT s.doc_id, coalesce(h.n_hits, 0) AS n_hits,
        |  coalesce(h.n_hits, 0) > 0 AS contaminated
        |FROM sh s LEFT JOIN hits h USING (doc_id)
        |WHERE s.doc_id % 10 <> 0
        |ORDER BY doc_id""".stripMargin))

  // E1h deterministic stratified sampling (data mixing): per-language keep
  // percentages over the md5 bucket — full-keep (de), partial (en/fr/zh),
  // and absent-stratum default-0 (es) paths all exercised. The oracle
  // recomputes the identical bucket arithmetic (e13's formula with the
  // 'mix' salt), so membership matches byte-for-byte.
  private val e16 = Q(
    "e16_stratified_sample",
    (s, dir) =>
      graft.ops.Splits.stratifiedSampleByHash(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          stratumCol = "lang",
          pcts = Map("en" -> 40, "de" -> 100, "fr" -> 25, "zh" -> 10))
        .orderBy(col("doc_id")),
    Some(
      """WITH h AS (
        |  SELECT doc_id, lang, md5('mix' || CAST(doc_id AS VARCHAR)) AS m FROM documents
        |), b AS (
        |  SELECT doc_id, lang,
        |    ((((strpos('0123456789abcdef', substr(m,1,1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(m,2,1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(m,3,1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(m,4,1)) - 1)) % 100 AS bucket
        |  FROM h
        |)
        |SELECT doc_id, lang, bucket FROM b
        |WHERE bucket < CASE lang WHEN 'en' THEN 40 WHEN 'de' THEN 100
        |                         WHEN 'fr' THEN 25 WHEN 'zh' THEN 10 ELSE 0 END
        |ORDER BY doc_id""".stripMargin))

  // E3d BM25 ranked retrieval: per-(term, doc) Okapi scores for a literal
  // query over the documents corpus. The DuckDB SQL is GENERATED from the
  // same term list and constants (Ranking.bm25Sql), so formula and inventory
  // cannot drift; scores are 4dp-rounded on both sides (one ln() libm call
  // is the only non-integer-derived step).
  private val bm25Terms = Seq("join", "vector", "slow")
  private val e17 = Q(
    "e17_bm25",
    (s, dir) =>
      Ranking.bm25(tp(s, dir, "documents"), bm25Terms)
        .orderBy(col("term"), col("doc_id")),
    Some(Ranking.bm25Sql("documents", bm25Terms) + "\nORDER BY term, doc_id"))

  // E1i character-level near-dup: Levenshtein pairs over 40-char prefixes.
  // Spark computes the thresholded banded DP over PassJoin-style pigeonhole
  // segment candidates (see Dedup.editDistancePairs); the oracle
  // brute-forces every pair with DuckDB's own levenshtein — identical
  // classic edit-distance metric, so the surviving (id_a, id_b, dist) rows
  // hash-match exactly.
  // maxSegmentBucket = 500 follows the e11 prefixDfCap convention: provably
  // INACTIVE at verify scale (sf0.01 max segment bucket < 100, sf0.1 max 192
  // — Dedup.editDistanceHotSegments audit, identical pair sets with and
  // without the cap), while at rehearsal scale it bounds the Σ bucket²
  // candidate volume.
  // The sf10 probe (5M docs) fixed the value: stopword-led prefix segments
  // reach ~19k docs and both the uncapped form AND cap=2000 OOM'd the
  // 48g heap, while cap=500 completes (2.2M pairs, 349 s) — a pair matching
  // ONLY via >500-doc boilerplate segments is dropped by design, the
  // documented capped-recall contract.
  private val e18 = Q(
    "e18_editdist",
    (s, dir) =>
      Dedup.editDistancePairs(tp(s, dir, "documents"), maxDist = 5, prefixLen = 40,
        maxSegmentBucket = 500)
        .orderBy(col("id_a"), col("id_b")),
    Some(
      """WITH p AS (
        |  SELECT doc_id, substr(text, 1, 40) AS pfx FROM documents
        |)
        |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |  levenshtein(a.pfx, b.pfx) AS dist
        |FROM p a, p b
        |WHERE a.doc_id < b.doc_id AND levenshtein(a.pfx, b.pfx) <= 5
        |ORDER BY id_a, id_b""".stripMargin))

  // E5b ordered funnel (view → click → purchase, 48 h window anchored at
  // first view): per-user stage reached + first-touch completion times.
  // The DuckDB SQL is GENERATED from the same step list/window
  // (Funnel.funnelSql); times format to seconds on both sides.
  private val funnelSteps = Seq("view", "click", "purchase")
  private val e19 = Q(
    "e19_funnel",
    (s, dir) =>
      Funnel.funnel(graft.queries.Reference.events(s, dir), funnelSteps)
        .select(col("user_id"), col("stage_reached"),
          date_format(col("t_1"), "yyyy-MM-dd HH:mm:ss").as("t1"),
          date_format(col("t_2"), "yyyy-MM-dd HH:mm:ss").as("t2"),
          date_format(col("t_3"), "yyyy-MM-dd HH:mm:ss").as("t3"))
        .orderBy(col("user_id")),
    Some(Funnel.funnelSql("events", funnelSteps)))

  // E5c cohort retention curve over the events table (first-seen-day
  // cohorts, day offsets 0–30, distinct active users per cell).
  private val e20 = Q(
    "e20_retention",
    (s, dir) =>
      Funnel.retention(graft.queries.Reference.events(s, dir))
        .select(date_format(col("cohort_day"), "yyyy-MM-dd").as("cohort"),
          col("day_offset"), col("n_users"))
        .orderBy(col("cohort"), col("day_offset")),
    Some(Funnel.retentionSql("events")))

  // E1j per-group cap (anti-concentration): at most 40 docs per language,
  // chosen by the engine-portable md5 rank — both engines keep the
  // identical rows.
  private val e21 = Q(
    "e21_group_cap",
    (s, dir) =>
      graft.ops.Splits.capPerGroup(
          t(s, dir, "documents").select(col("doc_id"), col("lang")),
          groupCol = "lang", k = 40)
        .orderBy(col("doc_id")),
    Some(
      """SELECT doc_id, lang FROM (
        |  SELECT doc_id, lang,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY md5('cap' || CAST(doc_id AS VARCHAR)), doc_id) AS rnk
        |  FROM documents)
        |WHERE rnk <= 40
        |ORDER BY doc_id""".stripMargin))

  // E3e sliding token-window chunking (window 20, overlap 5 → stride 15):
  // the retrieval/training context-window prep, chunk text and counts under
  // the full hash gate. DuckDB mirrors the integer chunk-count arithmetic
  // and slices the same token lists.
  private val e22 = Q(
    "e22_chunks",
    (s, dir) =>
      TextStats.chunkTokens(t(s, dir, "documents"),
          windowTokens = 20, overlapTokens = 5)
        .orderBy(col("doc_id"), col("chunk_idx")),
    Some(
      """WITH toksed AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents
        |), counted AS (
        |  SELECT doc_id, toks,
        |    CASE WHEN len(toks) = 0 THEN 0
        |         ELSE (greatest(len(toks) - 20, 0) + 14) // 15 + 1 END AS nc
        |  FROM toksed
        |)
        |SELECT doc_id, CAST(s AS INT) AS chunk_idx,
        |  len(toks[(s*15+1):(s*15+20)]) AS n_chunk_tokens,
        |  array_to_string(toks[(s*15+1):(s*15+20)], ' ') AS chunk_text
        |FROM (SELECT doc_id, toks, unnest(range(nc)) AS s FROM counted WHERE nc > 0)
        |ORDER BY doc_id, chunk_idx""".stripMargin))

  // E-ops graph centrality: PageRank over the symmetrized user↔property
  // bipartite co-occurrence graph from events (user node = user_id, item
  // node = 1000000 + props.k). Both engines run the identical fixed-point
  // integer recurrence — the Spark loop (ops.PageRank.pageRank) and the
  // GENERATED unrolled SQL (PageRank.pageRankSql) share (iters, dampingPct)
  // constants, so ranks hash-match exactly, not approximately.
  private val e23EdgesCte =
    """WITH ue AS (
      |  SELECT DISTINCT user_id AS u,
      |    CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL)
      |SELECT u AS src, 1000000 + k AS dst FROM ue
      |UNION ALL
      |SELECT 1000000 + k AS src, u AS dst FROM ue""".stripMargin
  private val e23 = Q(
    "e23_pagerank",
    (s, dir) => {
      val ue = graft.queries.Reference.events(s, dir)
        .select(col("user_id").as("u"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k").isNotNull)
        .distinct()
      val edges = ue.select(col("u").as("src"), (lit(1000000L) + col("k")).as("dst"))
        .unionAll(ue.select((lit(1000000L) + col("k")).as("src"), col("u").as("dst")))
      graft.ops.PageRank.pageRank(edges, iters = 5)
    },
    Some(graft.ops.PageRank.pageRankSql(e23EdgesCte, iters = 5)))

  // E1k substring-level dedup (Lee et al. 2022): every 10-token span that
  // appears verbatim in >= 2 distinct documents, with its per-doc position.
  // The DuckDB mirror rebuilds the same sliding windows with the e11/e22
  // list-slice machinery; both sides join span survivors back by exact span
  // text, so the (doc_id, pos, span, n_docs) frames hash-match.
  private val e24 = Q(
    "e24_repeated_spans",
    (s, dir) =>
      Dedup.repeatedSpans(tp(s, dir, "documents"), n = 10, minDocs = 2)
        .orderBy(col("doc_id"), col("pos")),
    Some(
      """WITH toksed AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents
        |), spans AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(toks[(i+1):(i+10)], ' ') AS span
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 9)) AS i
        |        FROM toksed WHERE len(toks) >= 10)
        |), shared AS (
        |  SELECT span, COUNT(DISTINCT doc_id) AS n_docs
        |  FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
        |)
        |SELECT doc_id, pos, span, n_docs
        |FROM spans JOIN shared USING (span)
        |ORDER BY doc_id, pos""".stripMargin))

  // E-ops dataset profiling (datasheet pass): per-column row/null/distinct
  // counts + min/max over the orders table — one aggregation job, one row
  // per column. The DuckDB SQL is GENERATED from the same column list
  // (Profile.profileSql) so metric definitions cannot drift. Timestamp
  // column excluded: its string rendering differs across engines; numeric
  // renderings below 1e7 with ≤2 decimals are identical shortest-decimal.
  private val profileCols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
    "o_totalprice", "o_orderpriority")
  private val profileNum = Set("o_orderkey", "o_custkey", "o_totalprice")
  private val e25 = Q(
    "e25_profile",
    (s, dir) =>
      graft.ops.Profile.profile(tp(s, dir, "orders"), profileCols),
    Some(graft.ops.Profile.profileSql("orders", profileCols, profileNum)))

  // E-ops bounded-memory heavy hitters: the Misra-Gries sketch
  // (functions.FreqSketch) run in its EXACT regime — capacity 256 over a
  // ≤-hundreds-distinct token vocabulary means no decrement ever fires, so
  // the sketch's estimates equal true counts and max_undercount is 0; the
  // oracle is the plain exact word frequency. The sub-capacity regime
  // (lower-bound counts, N/(m+1) survival guarantee) is deterministic only
  // up to merge order and is pinned in FreqSketchSpec instead.
  private val e26 = Q(
    "e26_heavy_hitters",
    (s, dir) =>
      graft.functions.FreqSketch.heavyHitters(
          t(s, dir, "documents")
            .select(explode(TextStats.tokens(lower(col("text")))).as("w"))
            .where(length(col("w")) > 0),
          itemCol = "w", capacity = 256)
        .orderBy(col("est").desc, col("item")),
    Some(
      """SELECT token AS item, COUNT(*) AS est, CAST(0 AS BIGINT) AS max_undercount
        |FROM (
        |  SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |  FROM documents)
        |WHERE length(token) > 0
        |GROUP BY token ORDER BY est DESC, item""".stripMargin))

  // E3f sequence packing (training-batch prep): documents binned into
  // 128-token sequences by a deterministic md5-bucketed NEXT-FIT scan
  // (ext.Packing). The DuckDB mirror replays the identical scan as a
  // per-bucket recursive CTE — one recursion step per rank advances every
  // bucket at once, so depth = max bucket size, and the (bucket, seq)
  // assignment matches row-for-row.
  private val e27 = Q(
    "e27_pack_sequences",
    (s, dir) =>
      Packing.packSequences(
          t(s, dir, "documents").select(col("doc_id"),
            size(TextStats.tokens(col("text"))).cast("long").as("n_tokens")),
          budget = 128, numBuckets = 16)
        .orderBy(col("doc_id")),
    Some(
      """WITH RECURSIVE b AS (
        |  SELECT doc_id,
        |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
        |    md5('pack' || CAST(doc_id AS VARCHAR)) AS m
        |  FROM documents
        |), bk AS (
        |  SELECT doc_id, n_tokens, m,
        |    ((((strpos('0123456789abcdef', substr(m,1,1)) - 1) * 16
        |      + (strpos('0123456789abcdef', substr(m,2,1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(m,3,1)) - 1)) * 16
        |      + (strpos('0123456789abcdef', substr(m,4,1)) - 1)) % 16 AS bucket
        |  FROM b
        |), ranked AS (
        |  SELECT doc_id, n_tokens, bucket,
        |    row_number() OVER (PARTITION BY bucket ORDER BY m, doc_id) AS rnk
        |  FROM bk
        |), pack AS (
        |  SELECT bucket, rnk, doc_id, n_tokens,
        |    CAST(0 AS BIGINT) AS seq, n_tokens AS fill
        |  FROM ranked WHERE rnk = 1
        |  UNION ALL
        |  SELECT r.bucket, r.rnk, r.doc_id, r.n_tokens,
        |    CASE WHEN p.fill + r.n_tokens <= 128 THEN p.seq ELSE p.seq + 1 END,
        |    CASE WHEN p.fill + r.n_tokens <= 128 THEN p.fill + r.n_tokens ELSE r.n_tokens END
        |  FROM pack p JOIN ranked r ON r.bucket = p.bucket AND r.rnk = p.rnk + 1
        |)
        |SELECT doc_id, n_tokens, bucket, seq FROM pack ORDER BY doc_id""".stripMargin))

  // E1l maximal repeated regions: e24's fixed-window hits coalesced into
  // (start, end) token ranges by the gaps-and-islands trick (lag + running
  // sum), identical integer arithmetic in both engines.
  private val e28 = Q(
    "e28_span_ranges",
    (s, dir) =>
      Dedup.repeatedSpanRanges(tp(s, dir, "documents"), n = 10, minDocs = 2)
        .orderBy(col("doc_id"), col("start_pos")),
    Some(
      """WITH toksed AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents
        |), spans AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(toks[(i+1):(i+10)], ' ') AS span
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 9)) AS i
        |        FROM toksed WHERE len(toks) >= 10)
        |), shared AS (
        |  SELECT span FROM spans GROUP BY span HAVING COUNT(DISTINCT doc_id) >= 2
        |), hits AS (
        |  SELECT doc_id, pos FROM spans JOIN shared USING (span)
        |), g AS (
        |  SELECT doc_id, pos,
        |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 10
        |         THEN 1 ELSE 0 END AS gap
        |  FROM hits
        |), isl AS (
        |  SELECT doc_id, pos, SUM(gap) OVER (PARTITION BY doc_id ORDER BY pos) AS island
        |  FROM g
        |)
        |SELECT doc_id, MIN(pos) AS start_pos, MAX(pos) + 10 AS end_pos,
        |  COUNT(*) AS n_spans
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, start_pos""".stripMargin))

  // E3g bigram-LM corpus fluency (CCNet-style quality signal): add-1
  // smoothed bigram log-probs, 1e-4 fixed-point per-token rounding, exact
  // long sums per doc. The DuckDB SQL is GENERATED from the same constants
  // (LangModel.lmScoreSql) so the formula cannot drift; the one float
  // division per doc is on integer-derived values — bit-identical.
  private val e29 = Q(
    "e29_lm_score",
    (s, dir) =>
      LangModel.lmScore(t(s, dir, "documents"))
        .orderBy(col("doc_id")),
    Some(LangModel.lmScoreSql("documents")))

  // E3h DSIR data selection (importance resampling toward a target domain):
  // the doc_id % 10 = 0 slice stands in for the target (the e15 convention),
  // log-weights are exact integer differences of the two fixed-point LM
  // scores, and the Gumbel top-k noise is md5-derived — the selected set is
  // a property of the data, so both engines pick the identical 50 docs.
  private val e30 = Q(
    "e30_dsir_select",
    (s, dir) => {
      val d = t(s, dir, "documents")
      LangModel.dsirSample(
          d.where(col("doc_id") % 10 =!= 0),
          d.where(col("doc_id") % 10 === 0),
          k = 50)
        .orderBy(col("key_e4").desc, col("doc_id"))
    },
    Some(LangModel.dsirSampleSql(
      "(SELECT doc_id, text FROM documents WHERE doc_id % 10 <> 0)",
      "(SELECT doc_id, text FROM documents WHERE doc_id % 10 = 0)",
      k = 50)))

  // E2b SemDeDup semantic near-dup pairs over the doubled embeddings table:
  // at minCosine 0.95 only exact vector copies can pair (max non-identical
  // cosine in this corpus is ~0.6), and exact copies ALWAYS share a k-means
  // cell — for ANY cluster count — so the operator must recover exactly the
  // planted (i, i+100000) pairs at cosine 1.0: the k-means candidate
  // generation's exact-recall contract under the full hash oracle (the
  // boundary-straddling approximate regime is pinned in SemDedupSpec).
  // nClusters scales ∝ √n (floor 16): within-cell pair work is Σ cell² ≈
  // n²/k, so a FIXED k grows quadratically with the corpus while √n keeps
  // cell occupancy ∝ √n — the r8 verdict's own at-scale note, now executed.
  // The oracle is cluster-count-independent (planted exact copies), so the
  // adaptive k changes no verified byte.
  private val e31 = Q(
    "e31_semdedup",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val doubled = e.unionAll(e.withColumn("vec_id", col("vec_id") + 100000L))
      // n from parquet FOOTER metadata (no job): a count() here re-scanned
      // the embeddings table once per invocation purely to size k
      val n = 2L * graft.ops.Layout.parquetRowCount(s, s"$dir/embeddings.parquet")
      val k = math.max(16, math.sqrt(n.toDouble).toInt)
      Similarity.semDedupPairs(doubled, nClusters = k, minCosine = 0.95)
        .orderBy(col("id_a"))
    },
    Some(
      """SELECT vec_id AS id_a, vec_id + 100000 AS id_b, 1.0 AS cosine
        |FROM embeddings ORDER BY id_a""".stripMargin))

  // E5b batch sessionization under the hash oracle: gaps-and-islands with a
  // (ts, event_id) total order, session_end = last event + gap (the
  // session_window contract), per-session value sums fixed-point. The
  // session_window form is pinned equivalent in EventStreamSpec; this puts
  // the island arithmetic itself under DuckDB's independent replay.
  private val e32 = Q(
    "e32_sessions",
    (s, dir) =>
      graft.streaming.EventStream.sessionizeBatch(
          graft.queries.Reference.events(s, dir), "30 minutes",
          valueAgg = graft.queries.Reference.msum)
        .select(col("user_id"),
          date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(col("session_end"), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"), col("sum_value"))
        .orderBy(col("user_id"), col("session_start")),
    Some(
      s"""WITH lagged AS (
         |  SELECT user_id, ts, value, event_id,
         |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
         |  FROM events
         |), flagged AS (
         |  SELECT user_id, ts, value, event_id,
         |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
         |         THEN 1 ELSE 0 END AS is_new
         |  FROM lagged
         |), isl AS (
         |  SELECT user_id, ts, value,
         |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
         |      ROWS UNBOUNDED PRECEDING) AS sid
         |  FROM flagged
         |)
         |SELECT user_id,
         |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
         |  strftime(make_timestamp(MAX(epoch_us(ts)) + 1800000000),
         |    '%Y-%m-%d %H:%M:%S') AS session_end,
         |  COUNT(*) AS n_events, ${msumSql("value")} AS sum_value
         |FROM isl GROUP BY user_id, sid
         |ORDER BY user_id, session_start""".stripMargin))

  // E3i PMI collocations (phrase mining): top-100 adjacent pairs by
  // pointwise mutual information, minCount 5. The SQL is GENERATED from the
  // same constants (Collocations.pmiBigramsSql) so formula/thresholds can't
  // drift; counts are exact longs, the ratio uses a fixed association, and
  // round(ln, 4) fixed-points the one libm call (the e17/e29 discipline).
  private val e33 = Q(
    "e33_pmi_bigrams",
    (s, dir) =>
      Collocations.pmiBigrams(tp(s, dir, "documents"), minCount = 5L, topK = 100),
    Some(Collocations.pmiBigramsSql("documents", minCount = 5L, topK = 100)))

  // E1d snapshot diff between pipeline runs: the "new" snapshot is a
  // deterministic perturbation of documents (doc_id%7 removed, %5 text
  // edited, %11 re-added under shifted ids), and diffByKey must classify
  // every key. Spark compares 8-byte xxhash64 fingerprints (what ships
  // through the shuffle at scale); the oracle compares the columns
  // directly — agreement pins the fingerprint semantics to the portable
  // column-compare contract.
  private val e34 = Q(
    "e34_snapshot_diff",
    (s, dir) => {
      val docs = t(s, dir, "documents")
      val newDf = docs.where(col("doc_id") % 7 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" v2")))
            .otherwise(col("text")))
        .unionByName(docs.where(col("doc_id") % 11 === 0)
          .withColumn("doc_id", col("doc_id") + lit(1000000L)))
      graft.ops.Diff.diffByKey(docs, newDf, Seq("doc_id"))
        .orderBy(col("doc_id"), col("status"))
    },
    Some(
      """WITH newt AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 5 = 0 THEN text || ' v2' ELSE text END AS text,
        |    lang, source, n_chars
        |  FROM documents WHERE doc_id % 7 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000, text, lang, source, n_chars
        |  FROM documents WHERE doc_id % 11 = 0
        |), d AS (
        |  SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        |    CASE WHEN n.doc_id IS NULL THEN 'removed'
        |         WHEN o.doc_id IS NULL THEN 'added'
        |         WHEN o.text IS DISTINCT FROM n.text
        |           OR o.lang IS DISTINCT FROM n.lang
        |           OR o.source IS DISTINCT FROM n.source
        |           OR o.n_chars IS DISTINCT FROM n.n_chars THEN 'changed'
        |         ELSE 'unchanged' END AS status
        |  FROM documents o FULL OUTER JOIN newt n ON o.doc_id = n.doc_id
        |)
        |SELECT doc_id, status FROM d WHERE status <> 'unchanged'
        |ORDER BY doc_id, status""".stripMargin))

  // E3j mixing drift: KL(source ‖ corpus) over unigram distributions, one
  // row per source — the mixture-reweighting diagnostic. SQL GENERATED from
  // the same formula/association/fixed-point scale (Drift.sourceTokenKlSql).
  private val e35 = Q(
    "e35_source_kl",
    (s, dir) => Drift.sourceTokenKl(tp(s, dir, "documents")),
    Some(Drift.sourceTokenKlSql("documents")))

  // E5c daily volume anomaly z-scores per event type (trailing-14-day ROWS
  // frame, ≥7 prior days) — the monitoring companion to the forecaster.
  // SQL GENERATED from the same constants (Drift.dailyAnomaliesSql).
  private val e36 = Q(
    "e36_daily_anomaly",
    (s, dir) => Drift.dailyAnomalies(graft.queries.Reference.events(s, dir)),
    Some(Drift.dailyAnomaliesSql("events")))

  // E2c semantic decontamination: the benchmark is the vec_id%10=0 slice
  // (the e15/e30 convention) probed against the FULL table, so the 50
  // benchmark vectors find themselves at cosine 1.0 (planted leakage) while
  // the corpus max cross-slice cosine in this data is ~0.49 — a wide
  // deterministic margin around the 0.99 threshold. The threshold applies
  // to the 4dp-rounded max (the e02/e31 discipline) in both engines.
  private val e37 = Q(
    "e37_semantic_decontam",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      Decontaminate.semanticHits(e, e.where(col("vec_id") % 10 === 0), minCosine = 0.99)
        .orderBy(col("vec_id"))
    },
    Some(
      """SELECT c.vec_id AS vec_id,
        |  max(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 4)) AS max_cosine,
        |  max(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                   CAST(b.embedding AS DOUBLE[])), 4)) >= 0.99
        |    AS contaminated
        |FROM embeddings c, (SELECT * FROM embeddings WHERE vec_id % 10 = 0) b
        |GROUP BY c.vec_id
        |ORDER BY vec_id""".stripMargin))

  // E1f SCD Type-2 history build: consecutive runs of each user's
  // event_type collapsed into validity intervals — gaps-and-islands with
  // the (ts, event_id) total order (the e32 discipline), half-open
  // [valid_from, valid_to) with null = current run. run_idx makes the
  // ordering total; CASTs pin DuckDB's HUGEINT window sum back to BIGINT.
  private val e38 = Q(
    "e38_scd2",
    (s, dir) =>
      graft.ops.Scd.changeIntervals(graft.queries.Reference.events(s, dir),
          "user_id", "event_type", "ts", "event_id")
        .select(col("user_id"), col("event_type"), col("run_idx"),
          date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
          date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
          col("n_events"))
        .orderBy(col("user_id"), col("run_idx")),
    Some(
      """WITH lagged AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_t,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_type, ts, event_id,
        |    CASE WHEN rn = 1 OR prev_t <> event_type THEN 1 ELSE 0 END AS is_new
        |  FROM lagged
        |), isl AS (
        |  SELECT user_id, event_type, ts,
        |    CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run_idx
        |  FROM flagged
        |), runs AS (
        |  SELECT user_id, MIN(event_type) AS event_type, run_idx,
        |    MIN(ts) AS vf, COUNT(*) AS n_events
        |  FROM isl GROUP BY user_id, run_idx
        |)
        |SELECT user_id, event_type, run_idx,
        |  strftime(vf, '%Y-%m-%d %H:%M:%S') AS valid_from,
        |  strftime(LEAD(vf) OVER (PARTITION BY user_id ORDER BY run_idx),
        |    '%Y-%m-%d %H:%M:%S') AS valid_to,
        |  n_events
        |FROM runs ORDER BY user_id, run_idx""".stripMargin))

  // E-ops exact-size deterministic sample: the 100 smallest md5(salt ∥ id)
  // keys — membership is a property of the data (monotone-nesting, engine
  // portable), and the plan is TakeOrderedAndProject, never a global sort
  // (asserted in SplitsSpec).
  private val e39 = Q(
    "e39_sample_exact",
    (s, dir) =>
      graft.ops.Splits.sampleExactK(
          t(s, dir, "documents").select(col("doc_id"), col("source")), k = 100)
        .orderBy(col("sample_key"), col("doc_id")),
    Some(
      """SELECT doc_id, source,
        |  md5('sample' || CAST(doc_id AS VARCHAR)) AS sample_key
        |FROM documents ORDER BY sample_key, doc_id LIMIT 100""".stripMargin))

  // E-ops winsorization: l_extendedprice clipped into its [p05, p95]
  // percentile bounds. The bounds are 4dp-rounded (the e10 contract — exact
  // `percentile` and `quantile_cont` agree at 4dp), so clipped values are
  // the identical fixed-point bound in both engines and unclipped values
  // pass through bit-identical from the same parquet.
  private val e40 = Q(
    "e40_winsorize",
    (s, dir) =>
      graft.ops.Normalize.winsorize(
          t(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          "l_extendedprice", pLow = 0.05, pHigh = 0.95)
        // l_extendedprice completes the total order — (okey, line) ties
        // exist, and the _w column is a pure function of the price
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
    Some(
      """WITH b AS (
        |  SELECT round(quantile_cont(l_extendedprice, 0.05), 4) AS lo,
        |         round(quantile_cont(l_extendedprice, 0.95), 4) AS hi
        |  FROM lineitem
        |)
        |SELECT l_orderkey, l_linenumber, l_extendedprice,
        |  CASE WHEN l_extendedprice IS NULL THEN NULL
        |    ELSE least(greatest(l_extendedprice, lo), hi) END
        |    AS l_extendedprice_w
        |FROM lineitem, b
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin))

  // E-stats Pearson correlation matrix: three lineitem pairs in ONE
  // aggregation pass over exact decimal moments (1e4 fixed-point atoms,
  // DECIMAL(38,0) sums) — Spark's own `corr` accumulates doubles in
  // partition order and can't hash-match an independent engine. SQL
  // GENERATED from the same constants/formula (Stats.corrMatrixSql).
  private val statPairs = Seq(
    "l_quantity" -> "l_extendedprice",
    "l_extendedprice" -> "l_discount",
    "l_quantity" -> "l_discount")
  private val e41 = Q(
    "e41_corr_matrix",
    (s, dir) =>
      graft.ops.Stats.corrMatrix(tp(s, dir, "lineitem"), statPairs)
        .orderBy(col("col_x"), col("col_y")),
    Some(s"""SELECT * FROM (${graft.ops.Stats.corrMatrixSql("lineitem", statPairs)})
            |ORDER BY col_x, col_y""".stripMargin))

  // E-stats OLS fit l_extendedprice ~ l_quantity — same exact-moment
  // machinery, textbook closed form in a fixed association; generated SQL.
  private val e42 = Q(
    "e42_linear_fit",
    (s, dir) =>
      graft.ops.Stats.linearFit(tp(s, dir, "lineitem"), "l_quantity", "l_extendedprice"),
    Some(graft.ops.Stats.linearFitSql("lineitem", "l_quantity", "l_extendedprice")))

  // E-stats chi-square independence of documents source × lang: exact
  // integer contingency counts (one cell-key shuffle, corpus scanned once),
  // per-cell terms 1e-6 fixed-pointed and summed exactly (the e35 KL
  // discipline); generated SQL.
  private val e43 = Q(
    "e43_chi_square",
    (s, dir) =>
      graft.ops.Stats.chiSquare(t(s, dir, "documents"), "source", "lang"),
    Some(graft.ops.Stats.chiSquareSql("documents", "source", "lang")))

  // E-ops quantile bucketing (feature binning): quartile assignment over
  // l_extendedprice — cuts 4dp-rounded (the e10/e40 contract), bucket =
  // codegen'd sum of ≥-comparisons against the broadcast cuts. SQL
  // GENERATED from the same constants (Normalize.quantileBucketsSql).
  private val e44 = Q(
    "e44_quantile_buckets",
    (s, dir) =>
      graft.ops.Normalize.quantileBuckets(
          tp(s, dir, "lineitem")
            .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
          "l_extendedprice", k = 4)
        // l_extendedprice completes the total order (e40's note); the
        // bucket column is a pure function of the price
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice")),
    Some(s"""SELECT * FROM (${graft.ops.Normalize.quantileBucketsSql(
               "(SELECT l_orderkey, l_linenumber, l_extendedprice FROM lineitem)",
               "l_extendedprice", 4)})
            |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin))

  // E5d daily gap filling (time-series resampling): per-type daily counts
  // with missing calendar days zero-filled between each series' first and
  // last observation — sequence() spine vs DuckDB generate_series. SQL
  // GENERATED (Drift.fillDailyGapsSql).
  private val e45 = Q(
    "e45_fill_gaps",
    (s, dir) => Drift.fillDailyGaps(graft.queries.Reference.events(s, dir)),
    Some(Drift.fillDailyGapsSql("events")))

  // E-stats grouped OLS: per-event-type trend of DAILY VOLUME over the
  // zero-filled day grid (e45's spine feeding e42's machinery — sparse
  // series regress over their zero days, not just observed ones). All
  // series fit in ONE moment aggregate; x = days since epoch.
  private val e46 = Q(
    "e46_trend_by_series",
    (s, dir) => {
      val xy = Drift.fillDailyGaps(graft.queries.Reference.events(s, dir))
        .select(col("series"),
          datediff(to_date(col("day")), to_date(lit("1970-01-01")))
            .cast("double").as("x"),
          col("n").cast("double").as("y"))
      graft.ops.Stats.linearFitBy(xy, Seq("series"), "x", "y")
        .orderBy(col("series"))
    },
    Some(graft.ops.Stats.linearFitBySql("xy", "series", "x", "y",
      prelude = s"""filled AS (${Drift.fillDailyGapsSql("events")}),
                   |xy AS (
                   |  SELECT series,
                   |    CAST(date_diff('day', DATE '1970-01-01', CAST(day AS DATE))
                   |      AS DOUBLE) AS x,
                   |    CAST(n AS DOUBLE) AS y
                   |  FROM filled),""".stripMargin)))

  // E-ops equi-width histogram of l_extendedprice, 20 bins, zero bins
  // densified — the distribution companion to e25's datasheet. SQL
  // GENERATED (Profile.histogramSql).
  private val e47 = Q(
    "e47_histogram",
    (s, dir) =>
      graft.ops.Profile.histogram(t(s, dir, "lineitem"), "l_extendedprice", bins = 20),
    Some(graft.ops.Profile.histogramSql("lineitem", "l_extendedprice", bins = 20)))

  // E-ops weighted sample: 100 documents ∝ n_chars via Gumbel top-k with
  // md5 noise (the e30 selection machinery generalized to any positive
  // weight column); both engines pick the identical set.
  private val e48 = Q(
    "e48_weighted_sample",
    (s, dir) =>
      graft.ops.Splits.weightedSampleK(
          t(s, dir, "documents").select(col("doc_id"), col("n_chars")),
          k = 100, weightCol = "n_chars")
        .orderBy(col("key_e4").desc, col("doc_id")),
    Some {
      val h16 =
        """((((strpos('0123456789abcdef', substr(m,1,1)) - 1) * 16
          |      + (strpos('0123456789abcdef', substr(m,2,1)) - 1)) * 16
          |      + (strpos('0123456789abcdef', substr(m,3,1)) - 1)) * 16
          |      + (strpos('0123456789abcdef', substr(m,4,1)) - 1))""".stripMargin
      s"""WITH w AS (
         |  SELECT doc_id, n_chars,
         |    CAST(round(ln(CAST(n_chars AS DOUBLE)) * 10000, 0) AS BIGINT)
         |      AS logw_e4,
         |    md5('wsample' || CAST(doc_id AS VARCHAR)) AS m
         |  FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0
         |)
         |SELECT doc_id, n_chars, logw_e4,
         |  logw_e4 + CAST(round(-ln(-ln(($h16 + 0.5) / 65536.0)) * 10000)
         |    AS BIGINT) AS key_e4
         |FROM w
         |ORDER BY key_e4 DESC, doc_id LIMIT 100""".stripMargin
    })

  // E-stats grouped exact percentiles: per-source document-length
  // distribution in one aggregation (the e10 array form per key; guarded
  // against group skew, approxBy is the scale path).
  private val e49 = Q(
    "e49_group_percentiles",
    (s, dir) =>
      Percentiles.exactBy(t(s, dir, "documents"), "source",
          Seq("n_chars" -> Seq(0.5, 0.9)))
        .select(col("source"),
          round(element_at(col("n_chars_pcts"), 1), 4).as("p50_chars"),
          round(element_at(col("n_chars_pcts"), 2), 4).as("p90_chars"))
        .orderBy(col("source")),
    Some(
      """SELECT source,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90_chars
        |FROM documents GROUP BY source ORDER BY source""".stripMargin))

  // E-stats deterministic mode: each source's most frequent token, ties to
  // the lexicographically lowest (engine mode() leaves ties unspecified —
  // the explicit rank makes it hash-verifiable). SQL GENERATED
  // (Stats.modeBySql) over the same tokenization as e04.
  private val e50 = Q(
    "e50_mode_by",
    (s, dir) =>
      graft.ops.Stats.modeBy(
          t(s, dir, "documents")
            .select(col("source"),
              explode(TextStats.tokens(lower(col("text")))).as("tok"))
            .where(length(col("tok")) > 0),
          "source", "tok")
        .orderBy(col("source")),
    Some(graft.ops.Stats.modeBySql(
      """(SELECT source, tok FROM (
        |   SELECT source,
        |     unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
        |   FROM documents)
        | WHERE length(tok) > 0)""".stripMargin,
      "source", "tok")))

  // E-stats within-group percent rank: each document's length position
  // inside its source — ties share a rank so no tie-break column is
  // needed; the (rank−1)/(n−1) division is integer-derived and
  // bit-identical.
  private val e51 = Q(
    "e51_percent_rank",
    (s, dir) =>
      graft.ops.Stats.percentRankBy(
          t(s, dir, "documents").select(col("doc_id"), col("source"), col("n_chars")),
          "source", "n_chars")
        .orderBy(col("doc_id")),
    Some(
      """SELECT doc_id, source, n_chars,
        |  percent_rank() OVER (PARTITION BY source ORDER BY n_chars)
        |    AS n_chars_pr
        |FROM documents WHERE n_chars IS NOT NULL
        |ORDER BY doc_id""".stripMargin))

  // E5e rolling daily median over the zero-filled grid (e45's spine) —
  // the robust smoothing companion to e36's mean/variance z-scores. SQL
  // GENERATED (Drift.rollingDailyMedianSql).
  private val e52 = Q(
    "e52_rolling_median",
    (s, dir) => Drift.rollingDailyMedian(graft.queries.Reference.events(s, dir)),
    Some(Drift.rollingDailyMedianSql("events")))

  // E5f Markov transition matrix of the event stream: P(next | current)
  // under the (ts, event_id) total order; pair counts exact, probability a
  // fixed 4dp-rounded division. SQL GENERATED (Funnel.transitionMatrixSql).
  private val e53 = Q(
    "e53_transitions",
    (s, dir) =>
      Funnel.transitionMatrix(graft.queries.Reference.events(s, dir))
        .orderBy(col("from_type"), col("to_type")),
    Some(Funnel.transitionMatrixSql("events")))

  // E-ops incremental aggregate maintenance: the first 25 days of events
  // stand for the standing aggregate, the rest for the new delta; Spark
  // merges the two PARTIAL aggregates (never re-reading "history") while
  // the oracle recomputes from the full log — the hash match verifies the
  // merge algebra `merge(agg(old), agg(delta)) ≡ agg(old ∪ delta)` itself.
  private val e54 = Q(
    "e54_incremental_agg",
    (s, dir) => {
      val ev = graft.queries.Reference.events(s, dir)
        .select(col("user_id"), col("event_type"), col("ts"),
          to_date(col("ts")).as("day"))
      val cut = to_date(lit("2024-01-26"))
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("event_type"), col("day"))
          .agg(count(lit(1)).as("n"), min(col("ts")).as("first_ts"),
            max(col("ts")).as("last_ts"))
      graft.ops.Incremental.mergeStates(
          aggOf(ev.where(col("day") < cut)), aggOf(ev.where(col("day") >= cut)),
          keyCols = Seq("event_type", "day"),
          addCols = Seq("n"), minCols = Seq("first_ts"), maxCols = Seq("last_ts"))
        .select(col("event_type"),
          date_format(col("day"), "yyyy-MM-dd").as("day"), col("n"),
          date_format(col("first_ts"), "yyyy-MM-dd HH:mm:ss").as("first_ts"),
          date_format(col("last_ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"))
        .orderBy(col("event_type"), col("day"))
    },
    Some(
      """SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  COUNT(*) AS n,
        |  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS first_ts,
        |  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS last_ts
        |FROM events
        |GROUP BY event_type, CAST(ts AS DATE)
        |ORDER BY event_type, day""".stripMargin))

  // E-ops CDC log compaction: each user's LATEST event by (ts, event_id) —
  // the merge-on-read upsert semantic as a batch operator.
  private val e55 = Q(
    "e55_latest_by_key",
    (s, dir) =>
      graft.ops.Incremental.latestByKey(
          graft.queries.Reference.events(s, dir)
            .select(col("user_id"), col("event_id"), col("event_type"), col("ts")),
          keyCol = "user_id", orderCol = "ts", tieCol = "event_id")
        .select(col("user_id"), col("event_id"), col("event_type"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts"))
        .orderBy(col("user_id")),
    Some(
      """SELECT user_id, event_id, event_type,
        |  strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts
        |FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS r
        |  FROM events)
        |WHERE r = 1
        |ORDER BY user_id""".stripMargin))

  // E-ops data-quality gate: key uniqueness on a DELIBERATELY doubled
  // orders table (so the dup detector has real dups to count) + lineitem →
  // orders referential containment on the clean tables, one report row.
  private val e56 = Q(
    "e56_dq_report",
    (s, dir) => {
      val orders = t(s, dir, "orders")
      val uniq = graft.ops.Quality.keyUniqueness(
        graft.queries.Reference.doubled(orders), Seq("o_orderkey"))
      val fk = graft.ops.Quality.orphanCount(
        t(s, dir, "lineitem"), orders, "l_orderkey", "o_orderkey")
      uniq.crossJoin(broadcast(fk))
    },
    Some(
      """WITH kc AS (
        |  SELECT o_orderkey, COUNT(*) AS n FROM
        |    (SELECT * FROM orders UNION ALL SELECT * FROM orders)
        |  GROUP BY o_orderkey
        |), uniq AS (
        |  SELECT CAST(SUM(n) AS BIGINT) AS n_rows, COUNT(*) AS n_keys,
        |    CAST(SUM(CASE WHEN n > 1 THEN n ELSE 0 END) AS BIGINT) AS n_dup_rows,
        |    CAST(SUM(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_keys
        |  FROM kc
        |), fk AS (
        |  SELECT COUNT(*) AS n_child,
        |    CAST(SUM(CASE WHEN o.o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_orphans
        |  FROM lineitem l LEFT JOIN orders o ON l.l_orderkey = o.o_orderkey
        |)
        |SELECT * FROM uniq CROSS JOIN fk""".stripMargin))

  // E1g fuzzy vocabulary match via the native JaroWinkler expression: the
  // 20 distinct corpus tokens most similar to a probe term — entity-
  // resolution-style scoring the oracle replays with DuckDB's own
  // jaro_winkler_similarity (byte semantics, 0.7 boost threshold —
  // pinned value-for-value in JaroWinklerSpec).
  private val e57 = Q(
    "e57_fuzzy_match",
    (s, dir) =>
      t(s, dir, "documents")
        .select(explode(TextStats.tokens(lower(col("text")))).as("token"))
        .where(length(col("token")) > 0)
        .distinct()
        .select(col("token"),
          round(graft.functions.JaroWinkler.jaroWinkler(
            col("token"), lit("analysis")), 4).as("jw"))
        .orderBy(col("jw").desc, col("token"))
        .limit(20),
    Some(
      """SELECT token, round(jaro_winkler_similarity(token, 'analysis'), 4) AS jw
        |FROM (
        |  SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS token
        |  FROM documents)
        |WHERE length(token) > 0
        |ORDER BY jw DESC, token LIMIT 20""".stripMargin))

  // E1h blocked fuzzy pairs over the corpus vocabulary PLUS planted
  // typo variants (token ∥ 'x' for tokens ≥ 6 chars — the e34
  // deterministic-perturbation pattern; the synthetic vocabulary's own max
  // cross-token JW is 0.80, below any useful threshold): JW ≥ 0.92 within
  // (first-char, ±2 length) blocks. The oracle replays the SAME blocking
  // predicates as a theta self-join, so the hash match covers both the
  // scores and the blocking semantics.
  private val e58 = Q(
    "e58_fuzzy_pairs",
    (s, dir) => {
      val toks = t(s, dir, "documents")
        .select(explode(TextStats.tokens(lower(col("text")))).as("token"))
        .where(length(col("token")) > 0)
      val planted = toks.where(length(col("token")) >= 6)
        .select(concat(col("token"), lit("x")).as("token"))
      Dedup.jaroWinklerPairs(toks.unionByName(planted), "token",
          minJw = 0.92, lenBand = 2)
        .orderBy(col("s_a"), col("s_b"))
    },
    Some(
      """WITH toks AS (
        |  SELECT DISTINCT unnest(string_split_regex(lower(trim(text)), '\s+'))
        |    AS s
        |  FROM documents
        |), t2 AS (
        |  SELECT s FROM toks WHERE length(s) > 0
        |  UNION
        |  SELECT s || 'x' AS s FROM toks WHERE length(s) >= 6
        |)
        |SELECT a.s AS s_a, b.s AS s_b,
        |  round(jaro_winkler_similarity(a.s, b.s), 4) AS jw
        |FROM t2 a JOIN t2 b
        |  ON substr(a.s, 1, 1) = substr(b.s, 1, 1)
        |  AND abs(length(a.s) - length(b.s)) <= 2
        |  AND a.s < b.s
        |WHERE round(jaro_winkler_similarity(a.s, b.s), 4) >= 0.92
        |ORDER BY s_a, s_b""".stripMargin))

  // E3k head+tail truncation (long-doc budget policy): 24 head + 8 tail
  // tokens at a 32-token budget — most synthetic docs (≤99 tokens) exceed
  // it, so both branches are exercised; identical list-slice arithmetic in
  // both engines, whitespace-normalized output either way.
  private val e59 = Q(
    "e59_truncate",
    (s, dir) =>
      TextStats.truncateTokens(
          t(s, dir, "documents").select(col("doc_id"), col("text")),
          maxTokens = 32, headTokens = 24)
        .select(col("doc_id"), col("n_tokens"), col("truncated"),
          col("text_trunc"))
        .orderBy(col("doc_id")),
    Some(
      """WITH toksed AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(text), '\s+'),
        |      t -> len(t) > 0) AS toks
        |  FROM documents
        |)
        |SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
        |  len(toks) > 32 AS truncated,
        |  CASE WHEN len(toks) <= 32 THEN array_to_string(toks, ' ')
        |    ELSE array_to_string(toks[1:24], ' ') || ' ' ||
        |         array_to_string(toks[(len(toks) - 8 + 1):len(toks)], ' ')
        |  END AS text_trunc
        |FROM toksed ORDER BY doc_id""".stripMargin))

  // E-stats Benford first-digit forensics over order totals: integer-only
  // digit derivation (no libm on the data path), expectation constants
  // emitted into the generated SQL from the same Scala computation.
  private val e60 = Q(
    "e60_benford",
    (s, dir) => graft.ops.Stats.benford(t(s, dir, "orders"), "o_totalprice"),
    Some(graft.ops.Stats.benfordSql("orders", "o_totalprice")))

  // E-stats Gini concentration of order totals: exact integer units,
  // range-partitioned zipWithIndex ranks (no single-partition window on
  // the Spark side), DECIMAL(38,0) Σ i·x, fixed association.
  private val e61 = Q(
    "e61_gini",
    (s, dir) => graft.ops.Stats.gini(t(s, dir, "orders"), "o_totalprice"),
    Some(graft.ops.Stats.giniSql("orders", "o_totalprice")))

  // E3g distinct-n lexical diversity (Li et al. 2016): per-doc unique-to-
  // total unigram and bigram ratios — zero-shuffle HOFs; ratios divide
  // integer counts exactly once and round at 4dp on both engines.
  private val e62 = Q(
    "e62_distinct_ngrams",
    (s, dir) => TextStats.distinctNgrams(tp(s, dir, "documents"))
      .orderBy(col("doc_id")),
    Some(
      """WITH toksed AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(trim(text)), '\s+'),
        |    t -> length(t) > 0) AS toks
        |  FROM documents
        |)
        |SELECT doc_id, len(toks) AS n_tokens,
        |  CASE WHEN len(toks) > 0 THEN
        |    round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 4)
        |  END AS distinct1,
        |  CASE WHEN len(toks) >= 2 THEN
        |    round(CAST(len(list_distinct([concat_ws(' ', toks[i], toks[i+1])
        |      FOR i IN range(1, greatest(len(toks), 1))])) AS DOUBLE)
        |      / (len(toks) - 1), 4)
        |  END AS distinct2
        |FROM toksed ORDER BY doc_id""".stripMargin))

  // E3h pairwise Jensen–Shannon divergence between source unigram
  // distributions — the mixture-slice interchangeability matrix; SQL
  // GENERATED from the same association order (Drift.sourceJsdSql).
  private val e63 = Q(
    "e63_source_jsd",
    (s, dir) => Drift.sourceJsd(tp(s, dir, "documents")),
    Some(Drift.sourceJsdSql("documents")))

  // E2d reciprocal-rank fusion of a single-term BM25 lexical top-20 with
  // the e02 cosine-to-query semantic top-20 over the shared id space —
  // hybrid retrieval's standard combiner. SQL GENERATED from the same
  // term/query/k/k0/BM25 constants (Ranking.rrfHybridSql).
  private val e64 = Q(
    "e64_rrf_hybrid",
    (s, dir) => {
      val lex = Ranking.bm25(tp(s, dir, "documents"), Seq("spark"))
        .select(col("doc_id"), col("score"))
      val sem = Similarity.bruteForceTopK(tp(s, dir, "embeddings"), queryId = 0L, k = 20)
        .withColumnRenamed("vec_id", "doc_id")
      Ranking.rrfFuse(
        Ranking.rankByScore(lex, "score", "doc_id", 20),
        Ranking.rankByScore(sem, "cosine", "doc_id", 20),
        "doc_id", k0 = 60, outA = "rank_lex", outB = "rank_sem")
    },
    Some(Ranking.rrfHybridSql("documents", "embeddings", "spark", 0L, k = 20, k0 = 60)))

  // E3i temperature-scaled mixture plan (α-sampling): per-source weights
  // n^α, token targets and epochs for a 10M-token budget. SQL GENERATED
  // from the same α/budget (Drift.mixturePlanSql).
  private val e65 = Q(
    "e65_mixture_plan",
    (s, dir) => Drift.mixturePlan(t(s, dir, "documents"), budgetTokens = 10000000L),
    Some(Drift.mixturePlanSql("documents", budgetTokens = 10000000L)))

  // E3j Zipf rank–frequency OLS fit over the top-1000 tokens — corpus-
  // health slope (natural text ≈ −1). Regression components 6dp-rounded
  // and 1e-6-fixed-pointed so neither engine's float sum order matters.
  private val e66 = Q(
    "e66_zipf",
    (s, dir) => TextStats.zipfFit(t(s, dir, "documents")),
    Some(
      """WITH freq AS (
        |  SELECT token, COUNT(*) AS n FROM (
        |    SELECT unnest(string_split_regex(lower(trim(text)), '\s+')) AS token
        |    FROM documents)
        |  WHERE length(token) > 0
        |  GROUP BY token
        |), ranked AS (
        |  SELECT CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS r, n
        |  FROM freq QUALIFY r <= 1000
        |), comps AS (
        |  SELECT round(ln(CAST(r AS DOUBLE)), 6) AS x,
        |    round(ln(CAST(n AS DOUBLE)), 6) AS y,
        |    round(ln(CAST(r AS DOUBLE)) * ln(CAST(n AS DOUBLE)), 6) AS xy,
        |    round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 6) AS xx
        |  FROM ranked
        |), sums AS (
        |  SELECT COUNT(*) AS k,
        |    CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS BIGINT) AS sx,
        |    CAST(SUM(CAST(round(y * 1000000) AS BIGINT)) AS BIGINT) AS sy,
        |    CAST(SUM(CAST(round(xy * 1000000) AS BIGINT)) AS BIGINT) AS sxy,
        |    CAST(SUM(CAST(round(xx * 1000000) AS BIGINT)) AS BIGINT) AS sxx
        |  FROM comps
        |), fit AS (
        |  SELECT k, sx, sy,
        |    round((CAST(k AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1000000)
        |        - (CAST(sx AS DOUBLE) / 1000000) * (CAST(sy AS DOUBLE) / 1000000))
        |      / (CAST(k AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1000000)
        |        - (CAST(sx AS DOUBLE) / 1000000) * (CAST(sx AS DOUBLE) / 1000000)),
        |      4) AS slope
        |  FROM sums
        |)
        |SELECT k AS n_terms, slope,
        |  round(((CAST(sy AS DOUBLE) / 1000000)
        |    - slope * (CAST(sx AS DOUBLE) / 1000000)) / CAST(k AS DOUBLE), 4)
        |    AS intercept
        |FROM fit""".stripMargin))

  // E-stats Cohen's kappa: agreement between the lang labels and a
  // deterministically corrupted rerun (doc_id%7==0 forced to 'en') — the
  // label-vs-relabel audit; same label space, κ well below 1. The CASE is
  // mirrored verbatim; SQL GENERATED (Stats.cohenKappaSql over a CTE).
  private val e67 = Q(
    "e67_cohen_kappa",
    (s, dir) => graft.ops.Stats.cohenKappa(
      t(s, dir, "documents").select(col("lang"),
        when(col("doc_id") % 7 === 0, lit("en")).otherwise(col("lang")).as("lang2")),
      "lang", "lang2"),
    Some("""WITH rated AS (
           |  SELECT lang,
           |    CASE WHEN doc_id % 7 = 0 THEN 'en' ELSE lang END AS lang2
           |  FROM documents
           |), """.stripMargin +
      graft.ops.Stats.cohenKappaSql("rated", "lang", "lang2").stripPrefix("WITH ")))

  // E2e nearest-centroid label eval over embeddings: fixed-point-exact
  // per-label centroids, cosine classification, confusion counts. SQL
  // GENERATED (Similarity.centroidEvalSql).
  private val e68 = Q(
    "e68_centroid_eval",
    (s, dir) => Similarity.centroidEval(t(s, dir, "embeddings")),
    Some(Similarity.centroidEvalSql("embeddings")))

  // E-stats exact binary AUC (Mann–Whitney with tie correction): does the
  // order total rank F-status orders above the rest. Scores bucketed to
  // 100-currency-unit cells (decimals = -2) — the grid bound IS the scale
  // contract. SQL GENERATED (Stats.aucBinarySql over a CTE).
  private val e69 = Q(
    "e69_auc",
    (s, dir) => graft.ops.Stats.aucBinary(
      tp(s, dir, "orders").select(col("o_totalprice").as("score"),
        (col("o_orderstatus") === "F").as("y")),
      "score", "y", decimals = -2),
    Some("""WITH scored AS (
           |  SELECT o_totalprice AS score, o_orderstatus = 'F' AS y FROM orders
           |), """.stripMargin +
      graft.ops.Stats.aucBinarySql("scored", "score", "y", decimals = -2)
        .stripPrefix("WITH ")))

  // E-stats ROC curve on the same bucketed score grid as e69 — per-
  // threshold cumulative tp/fp and 6dp rates; trapezoid area over these
  // points ≡ e69's Mann–Whitney AUC (spec-pinned). SQL GENERATED
  // (Stats.rocPointsSql over the same CTE).
  private val e70 = Q(
    "e70_roc",
    (s, dir) => graft.ops.Stats.rocPoints(
      t(s, dir, "orders").select(col("o_totalprice").as("score"),
        (col("o_orderstatus") === "F").as("y")),
      "score", "y", decimals = -3),
    Some("""WITH scored AS (
           |  SELECT o_totalprice AS score, o_orderstatus = 'F' AS y FROM orders
           |), """.stripMargin +
      graft.ops.Stats.rocPointsSql("scored", "score", "y", decimals = -3)
        .stripPrefix("WITH ")))

  // E-stats calibration (reliability) bins: equi-width score bins with
  // empirical positive rate vs fixed-point-exact mean score. SQL GENERATED
  // (Stats.calibrationBinsSql).
  private val e71 = Q(
    "e71_calibration",
    (s, dir) => graft.ops.Stats.calibrationBins(
      t(s, dir, "orders").select(col("o_totalprice").as("score"),
        (col("o_orderstatus") === "F").as("y")),
      "score", "y", bins = 12),
    Some("""WITH scored AS (
           |  SELECT o_totalprice AS score, o_orderstatus = 'F' AS y FROM orders
           |), """.stripMargin +
      graft.ops.Stats.calibrationBinsSql("scored", "score", "y", bins = 12)
        .stripPrefix("WITH ")))

  // E-series autocorrelation at lags 1..7 over the zero-filled daily grid:
  // the seasonality/memory diagnostic (weekly cycle → lag-7 peak). Exact
  // integer y_t = n_t·T − Σn atoms, DECIMAL(38,0) product sums, ONE 4dp
  // division per (series, lag). SQL GENERATED (Drift.acfSql).
  private val e72 = Q(
    "e72_acf",
    (s, dir) => Drift.acf(graft.queries.Reference.events(s, dir)),
    Some(Drift.acfSql("events")))

  // E-stats two-sample Kolmogorov–Smirnov drift gate on the e69 bucketed
  // grid: max ECDF gap between F and non-F order prices as EXACT integers
  // |cum_a·n_b − cum_b·n_a|, total argmax order, one final 6dp division.
  // SQL GENERATED (Stats.ksTestSql over the same CTE).
  private val e73 = Q(
    "e73_ks_test",
    (s, dir) => graft.ops.Stats.ksTest(
      t(s, dir, "orders").select(col("o_totalprice").as("score"),
        (col("o_orderstatus") === "F").as("y")),
      "score", "y", decimals = -2),
    Some("""WITH scored AS (
           |  SELECT o_totalprice AS score, o_orderstatus = 'F' AS y FROM orders
           |), """.stripMargin +
      graft.ops.Stats.ksTestSql("scored", "score", "y", decimals = -2)
        .stripPrefix("WITH ")))

  // E-series CUSUM changepoint per series on the zero-filled daily grid:
  // the level-shift day via exact-integer |cumx·T − t·S| argmax (earliest
  // day on ties), with bracketing means. SQL GENERATED (Drift.changePointSql).
  private val e74 = Q(
    "e74_changepoint",
    (s, dir) => Drift.changePoint(graft.queries.Reference.events(s, dir)),
    Some(Drift.changePointSql("events")))

  // E-corpus vocabulary overlap per source pair: exact set sizes,
  // Jaccard + containment, disjoint pairs densified — the near-subset
  // detector beside e63's JSD. SQL GENERATED (Drift.vocabOverlapSql).
  private val e75 = Q(
    "e75_vocab_overlap",
    (s, dir) => Drift.vocabOverlap(tp(s, dir, "documents")),
    Some(Drift.vocabOverlapSql("documents")))

  // E-corpus distinctive terms per source: Monroe et al. smoothed
  // log-odds z (add-one prior), ONE ln on exact DECIMAL(38,0) ratio
  // products, rank on the 4dp-rounded z with token tie-break. SQL
  // GENERATED (Drift.logOddsTermsSql).
  private val e76 = Q(
    "e76_log_odds",
    (s, dir) => Drift.logOddsTerms(tp(s, dir, "documents")),
    Some(Drift.logOddsTermsSql("documents")))

  // E-stats mutual information source × lang on documents: the effect-size
  // companion to e43's χ²; KL fixed-point terms, nmi from 6dp-rounded
  // components. SQL GENERATED (Stats.mutualInfoSql).
  private val e77 = Q(
    "e77_mutual_info",
    (s, dir) => graft.ops.Stats.mutualInfo(t(s, dir, "documents"),
      "source", "lang"),
    Some(graft.ops.Stats.mutualInfoSql("documents", "source", "lang")))

  // E-series lead–lag cross-correlation click vs purchase on the shared
  // zero-filled day spine: exact y atoms, DECIMAL(38,0) product sums, one
  // 4dp division per signed lag. SQL GENERATED (Drift.crossCorrSql).
  private val e78 = Q(
    "e78_cross_corr",
    (s, dir) => Drift.crossCorr(graft.queries.Reference.events(s, dir),
      "click", "purchase"),
    Some(Drift.crossCorrSql("events", "click", "purchase")))

  // E-events association rules over per-user distinct-item baskets:
  // support/confidence/lift per directed event-type pair, exact counts,
  // one fixed division each. SQL GENERATED (Funnel.associationRulesSql).
  private val e79 = Q(
    "e79_assoc_rules",
    (s, dir) => Funnel.associationRules(graft.queries.Reference.events(s, dir)),
    Some(Funnel.associationRulesSql("events")))

  // E-series trailing EWMA (α = ½) of daily volume per series on the
  // zero-filled grid: exact power-of-two long weights, adjusted head
  // normalization, one 4dp division per row. SQL GENERATED
  // (Drift.ewmaDailySql).
  private val e80 = Q(
    "e80_ewma",
    (s, dir) => Drift.ewmaDaily(graft.queries.Reference.events(s, dir)),
    Some(Drift.ewmaDailySql("events")))

  // E-graph personalized PageRank on the e23 user↔item graph, teleport
  // pinned to users 0-4: rank = proximity to the seed set, the "related
  // items" primitive. Same fixed-point integer recurrence as e23. SQL
  // GENERATED (PageRank.personalizedPageRankSql).
  private val e81Seeds = Seq(0L, 1L, 2L, 3L, 4L)
  private val e81 = Q(
    "e81_ppr",
    (s, dir) => {
      val ue = graft.queries.Reference.events(s, dir)
        .select(col("user_id").as("u"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .where(col("k").isNotNull)
        .distinct()
      val edges = ue.select(col("u").as("src"), (lit(1000000L) + col("k")).as("dst"))
        .unionAll(ue.select((lit(1000000L) + col("k")).as("src"), col("u").as("dst")))
      graft.ops.PageRank.personalizedPageRank(edges, e81Seeds, iters = 5)
    },
    Some(graft.ops.PageRank.personalizedPageRankSql(e23EdgesCte, e81Seeds,
      iters = 5)))

  // E2-eval simplified silhouette per label over embeddings: a/b from
  // 4dp cosine distances to fixed-point-exact centroids, per-label mean
  // from 1e-4 atoms — the cluster-quality scalar beside e68's confusion
  // matrix. SQL GENERATED (Similarity.silhouetteSql).
  private val e82 = Q(
    "e82_silhouette",
    (s, dir) => Similarity.silhouette(t(s, dir, "embeddings")),
    Some(Similarity.silhouetteSql("embeddings")))

  // E1c SimHash, CANONICAL oracle form (replaces the retired rows-only
  // e08_simhash): per-token hash = md5Hash60 (the e13 md5-bucket discipline
  // widened to 60 bits) instead of xxhash64, so the fingerprint replays
  // bit-for-bit in DuckDB — vote/pack arithmetic under the hash oracle.
  // The codegen'd xxhash64 SimHash64 expression stays the production fast
  // path; DedupSpec pins the two forms' Hamming-neighborhood agreement.
  private val e83 = Q(
    "e83_simhash_md5",
    (s, dir) =>
      tp(s, dir, "documents")
        .select(col("doc_id"),
          coalesce(Dedup.simhashMd5(col("text")), lit(0L)).as("simhash"))
        .orderBy(col("doc_id")),
    Some(Dedup.simhashMd5Sql("documents")))

  // E1d MinHash-LSH near-dup pairs, CANONICAL oracle form (replaces the
  // retired rows-only e09_minhash_neardup, whose spark.ml operator is
  // deleted) over the doubled corpus:
  // md5-derived signatures + plain-text band keys, so band assignment, the
  // candidate pair set, and the exact-Jaccard verification all replay in
  // DuckDB (SQL GENERATED — Dedup.minhashNearDupMd5Sql, same constants).
  // Every doc must collide with its offset exact copy at jaccard 1.0. The
  // codegen'd xxhash64 path (Dedup.minhashNearDupNative) stays the
  // production fast path, DedupSpec-pinned against this form.
  private val e84 = Q(
    "e84_minhash_md5",
    (s, dir) => {
      val d = tp(s, dir, "documents")
      val doubled = d.unionAll(d.withColumn("doc_id", col("doc_id") + 100000L))
      Dedup.minhashNearDupMd5(doubled, minJaccard = 0.7)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(Dedup.minhashNearDupMd5Sql(
      """(SELECT doc_id, text FROM documents
        | UNION ALL SELECT doc_id + 100000, text FROM documents)""".stripMargin)))

  // F-eval forecast evaluation under the oracle (the §2.d surface was
  // spec-only): classical additive decomposition — closed-form OLS trend on
  // exact integer moments + 4dp fixed-point day-of-week effects — fitted on
  // the first 24 days of the zero-filled daily event-volume series and
  // scored on the last 6, with per-day APE and the holdout MAPE. The
  // portable twin of the Prophet-class forecaster (which needs a matrix
  // solve no SQL engine replays); TrendSeasonForecasterSpec pins the two
  // against each other on a planted trend+weekly series. SQL GENERATED
  // (TrendSeasonForecaster.decompEvalSql).
  private val e85 = Q(
    "e85_forecast_eval",
    (s, dir) => graft.forecast.TrendSeasonForecaster.decompEval(
      graft.queries.Reference.events(s, dir), cutoff = "2024-01-25"),
    Some(graft.forecast.TrendSeasonForecaster.decompEvalSql(
      "events", cutoff = "2024-01-25")))

  // E5c streaming-state semantics under the hash oracle: the batch replay of
  // sessionizeStateful (flatMapGroupsWithState) — strict > gap closure,
  // session_end = LAST EVENT (the fMGWS contract, not session_window's
  // +gap), ms-truncated gap arithmetic, and each user's trailing open
  // session withheld exactly as append mode withholds it before the
  // watermark timeout. e32 verified the island arithmetic; this verifies
  // the stateful operator's own output contract (SQL GENERATED —
  // EventStream.statefulReplaySql, same constants).
  private val e86 = Q(
    "e86_stateful_sessions",
    (s, dir) => graft.streaming.EventStream.statefulReplay(
      graft.queries.Reference.events(s, dir)),
    Some(graft.streaming.EventStream.statefulReplaySql("events")))

  // E3j Gopher rule battery (Rae et al. 2021 §A1.1) under the hash oracle:
  // the qualityFilter gate was spec-only; this dumps the four signals
  // (6dp), the pass verdict, and the violated rules per document. Ratios
  // are one division of integer-derived values; thresholds compare the
  // unrounded signal on both engines (SQL GENERATED —
  // TextStats.gopherReportSql, same constants + stopword list).
  private val e87 = Q(
    "e87_gopher_rules",
    (s, dir) => TextStats.gopherReport(tp(s, dir, "documents")),
    Some(TextStats.gopherReportSql("documents")))

  // E2c int8 embedding quantization under the hash oracle (was spec-only):
  // per-vector float32 absmax/127 scale + clamp-round codes, dumped as a
  // comma-joined string so the compare is engine-portable. Proves the 4×
  // shuffle-reduction path computes identical codes in both engines (SQL
  // GENERATED — Similarity.quantizeInt8ReportSql).
  private val e88 = Q(
    "e88_int8_quant",
    (s, dir) => Similarity.quantizeInt8Report(t(s, dir, "embeddings")),
    Some(Similarity.quantizeInt8ReportSql("embeddings")))

  // E5d daily/weekly active users on the zero-filled day spine — the
  // engagement curve beside e19 funnel / e20 retention: exact distincts,
  // trailing-7-day rolling distinct via a ≤7× equi-join fan-out (never a
  // range join). SQL GENERATED (Funnel.activeUsersSql).
  private val e89 = Q(
    "e89_active_users",
    (s, dir) => Funnel.activeUsers(graft.queries.Reference.events(s, dir)),
    Some(Funnel.activeUsersSql("events")))

  // E5e as-of (backward) join under the hash oracle: for every purchase,
  // the latest view AT OR BEFORE it by the same user — the time-series join
  // the one-shuffle union+window AsOfJoin implements, replayed by DuckDB's
  // native ASOF JOIN (greatest right ts <= left ts, unmatched left rows
  // kept by ASOF LEFT JOIN). The view side is pre-aggregated to unique
  // (user, ts) keys (max event_id — the e55 latest-by-key convention)
  // because BOTH engines pick an unspecified winner among equal-timestamp
  // right rows; with unique keys the match is a property of the data.
  private val e90 = Q(
    "e90_asof_join",
    (s, dir) => {
      val ev = graft.queries.Reference.events(s, dir)
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
      val views = ev.where(col("event_type") === "view")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("event_id")).as("view_event"))
        .select(col("user_id"), col("ts").as("vts"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("view_ts"),
          col("view_event"))
      graft.ops.AsOfJoin.asofBackward(purchases, views,
          key = "user_id", leftTime = "ts", rightTime = "vts",
          payloadCols = Seq("view_ts", "view_event"))
        .select(col("event_id"), col("user_id"),
          date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("purchase_ts"),
          col("view_ts"), col("view_event"))
        .orderBy(col("event_id"))
    },
    Some(
      """WITH purchases AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
        |), views AS (
        |  SELECT user_id, ts, max(event_id) AS view_event FROM events
        |  WHERE event_type = 'view' GROUP BY 1, 2
        |)
        |SELECT p.event_id, p.user_id,
        |  strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
        |  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
        |  v.view_event
        |FROM purchases p ASOF LEFT JOIN views v
        |  ON p.user_id = v.user_id AND p.ts >= v.ts
        |ORDER BY p.event_id""".stripMargin))

  // E5f sliding (hopping) windows under the hash oracle — the overlap twin
  // of e06's tumbling windows: width 1 h, slide 15 min, so every event
  // lands in EXACTLY width/slide = 4 windows. Spark's window(ts, w, s)
  // expands the assignment inline (a Generate, then ONE shuffle with
  // map-side partial agg); DuckDB replays it as an explicit 4-way fan-out —
  // window starts are the epoch-aligned 15-minute floor minus 0..3 slides,
  // the same alignment window() uses. Value sums ride the msum fixed-point
  // discipline; (window_start, event_type) is a total order.
  private val e91 = Q(
    "e91_sliding_window",
    (s, dir) =>
      graft.queries.Reference.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          graft.queries.Reference.msum(col("value")).as("sum_value"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy(col("window_start"), col("event_type")),
    Some(
      s"""WITH cover AS (
         |  SELECT make_timestamp(
         |      (CAST(floor(epoch_us(ts) / 900000000) AS BIGINT) - i.i) * 900000000)
         |      AS ws,
         |    event_type, value
         |  FROM events, (SELECT unnest(range(4)) AS i) i
         |)
         |SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, event_type,
         |  COUNT(*) AS n_events, ${msumSql("value")} AS sum_value
         |FROM cover
         |GROUP BY 1, 2
         |ORDER BY window_start, event_type""".stripMargin))

  // E-join binned range join under the hash oracle: lineitem prices (as
  // exact cents) assigned to fixed 500.00-wide price bands via
  // AsOfJoin.rangeJoinBinned — the equi-join-on-bins formulation of a
  // point-in-interval join (each interval explodes to its covered bins;
  // the exact containment predicate filters bin-mates) — while DuckDB runs
  // the plain inequality join the operator replaces. Quantity sums ride
  // msum; bands above the price ceiling simply match nothing.
  private val e92 = Q(
    "e92_range_join",
    (s, dir) => {
      val pts = t(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100, 0).cast("long").as("cents"),
          col("l_quantity"))
      val bands = s.range(0, 22).select(col("id").as("band"),
        (col("id") * 500000L).as("lo"), ((col("id") + 1L) * 500000L).as("hi"))
      graft.ops.AsOfJoin.rangeJoinBinned(pts, bands,
          pointCol = "cents", startCol = "lo", endCol = "hi",
          binWidth = 500000L)
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          graft.queries.Reference.msum(col("l_quantity")).as("sum_qty"))
        .orderBy(col("band"))
    },
    Some(
      s"""WITH pts AS (
         |  SELECT CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS cents,
         |    l_quantity
         |  FROM lineitem
         |), bands AS (
         |  SELECT i AS band, i * 500000 AS lo, (i + 1) * 500000 AS hi
         |  FROM (SELECT unnest(range(22)) AS i)
         |)
         |SELECT b.band, COUNT(*) AS n, ${msumSql("l_quantity")} AS sum_qty
         |FROM pts p JOIN bands b ON p.cents >= b.lo AND p.cents < b.hi
         |GROUP BY 1
         |ORDER BY band""".stripMargin))

  // E1/E2 embedding-cosine near-dup under the hash oracle: the hyperplane-
  // LSH pipeline in its md5-portable form (integer fixed-point dots — band
  // assignment is EXACT in both engines, not epsilon-dependent; see
  // Dedup.embeddingNearDupMd5). Input is the e31 doubled corpus, so exact-
  // copy pairs are planted; DuckDB replays coefficients, quantization,
  // sign-pack, banding, candidates and the 4dp cosine verification.
  private val e93 = Q(
    "e93_embedding_neardup",
    (s, dir) => {
      val e = tp(s, dir, "embeddings")
      val doubled = e.unionAll(e.withColumn("vec_id", col("vec_id") + 100000L))
      // Corpus-scaled banding (Dedup.autoPlanes, footer count × 2 — no
      // job): at fixed band bits LSH bucket occupancy grows ∝ corpus
      // (e93 measured ×34 at 100× in round 12); scaling bits pins it.
      // At the verify corpus the rule lands exactly on the historical
      // 32 planes the STATIC oracle mirror below uses — graft.Verify
      // pre-flights that equality so a regenerated-testdata drift trips
      // loudly, not as an opaque hash mismatch.
      Dedup.embeddingNearDupMd5(doubled, minCosine = 0.95,
        nPlanes = Dedup.autoPlanes(2L * rowCount(s, dir, "embeddings")))
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(Dedup.embeddingNearDupMd5Sql(
      """(SELECT vec_id, embedding FROM embeddings
        | UNION ALL SELECT vec_id + 100000, embedding FROM embeddings)""".stripMargin,
      minCosine = 0.95)))

  // E-graph triangle counting over the e11 near-dup pair graph — the
  // cluster-cohesion diagnostic beside e14's transitive groups: doubled
  // near-identical docs form cliques (high triangle support) while a
  // chain-merge bridge sits on zero triangles. The whole path runs on
  // keyed pins: one shingle pass pinned by doc id, the witness join
  // co-partitioned by shingle hash, the candidate pairs verified in place
  // against the shingle pin, and triangles counted by intersecting
  // degree-oriented adjacency arrays (each triangle found exactly once).
  // DuckDB replays the e11 pair CTEs and counts with an independent
  // three-way join under the same orientation (SQL GENERATED —
  // Triangles.triangleCountsSql — so the orientation rule can't drift).
  private val e94Prelude =
    """doubled AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL SELECT doc_id + 100000, text FROM documents
      |), toksed AS (
      |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks FROM doubled
      |), sh AS (
      |  SELECT doc_id, list_distinct([
      |    concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, greatest(len(toks) - 1, 1))
      |  ]) AS sh
      |  FROM toksed
      |),""".stripMargin
  private val e94Edges =
    """  SELECT id_a, id_b FROM (
      |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |      CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) /
      |        (len(a.sh) + len(b.sh) - len(list_intersect(a.sh, b.sh))) AS jaccard
      |    FROM sh a, sh b
      |    WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
      |  ) WHERE jaccard >= 0.8""".stripMargin
  private val e94 = Q(
    "e94_triangles",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // no scan repair — see e11's note
      val doubled = d.unionAll(d.withColumn("doc_id", col("doc_id") + 100000L))
      // same witness-counted path as e11 (measured winner at 5M docs)
      val pairs = Dedup.ngramJaccardPairs(doubled, minJaccard = 0.8,
        prefixDfCap = 1000)
      graft.ops.Triangles.triangleCounts(pairs, "id_a", "id_b")
    },
    Some(graft.ops.Triangles.triangleCountsSql(e94Edges, e94Prelude)))

  // E-stats Spearman rank correlation (tie-aware, bucket-grid ranks) —
  // monotonic association between quantity and line price on the fact
  // table. SQL GENERATED (Stats.spearmanSql: same 2·rank integers, same
  // association).
  private val e95 = Q(
    "e95_spearman",
    (s, dir) => graft.ops.Stats.spearman(tp(s, dir, "lineitem"),
      "l_quantity", "l_extendedprice", decimals = 2),
    Some(graft.ops.Stats.spearmanSql("lineitem",
      "l_quantity", "l_extendedprice", decimals = 2)))

  // E3d per-source token Shannon entropy — the absolute lexical-diversity
  // health signal beside e35's relative KL drift; 1e-6 ln fixed point,
  // DECIMAL(38,0) accumulation. SQL GENERATED (Drift.sourceEntropySql).
  private val e96 = Q(
    "e96_entropy",
    (s, dir) => Drift.sourceEntropy(t(s, dir, "documents")),
    Some(Drift.sourceEntropySql("documents")))

  // E5g last-touch conversion attribution: purchases credited to the
  // channel (props.k) of the latest view/click by the same user within
  // 48 h, organic conversions in bucket −1 — the as-of join as the
  // attribution model (last-within-window ≡ last-then-void). SQL
  // GENERATED (Funnel.lastTouchAttributionSql).
  private val e97 = Q(
    "e97_attribution",
    (s, dir) => Funnel.lastTouchAttribution(graft.queries.Reference.events(s, dir)),
    Some(Funnel.lastTouchAttributionSql("events")))

  // E-stats Welch's two-sample t: do view and click events carry the same
  // mean value — the A/B-test primitive from one conditional moment pass.
  // SQL GENERATED (Stats.welchTSql: same fixed-point atoms, associations,
  // guards).
  private val e98 = Q(
    "e98_welch_t",
    (s, dir) => graft.ops.Stats.welchT(graft.queries.Reference.events(s, dir),
      "value", "event_type", "view", "click"),
    Some(graft.ops.Stats.welchTSql("events",
      "value", "event_type", "view", "click")))

  // E-graph Adamic–Adar over the e11 pair graph, scoring EXISTING edges
  // (edge-support strength — the e11 graph is clique-shaped, so the
  // non-edge prediction set would be empty by construction; the
  // candidate-recovery use over banding-lossy graphs is spec-pinned in
  // TrianglesSpec). Common neighbors weighted by the fixed-point
  // 1/ln(deg) terms; SQL GENERATED (Triangles.adamicAdarSql).
  private val e99 = Q(
    "e99_adamic_adar",
    (s, dir) => {
      val d = t(s, dir, "documents")
      // no scan repair — see e11's note
      val doubled = d.unionAll(d.withColumn("doc_id", col("doc_id") + 100000L))
      // same witness-counted path as e11 — cap inactive at verify scale,
      // see e11's note
      val pairs = Dedup.ngramJaccardPairs(doubled, minJaccard = 0.8,
        prefixDfCap = 1000)
      graft.ops.Triangles.adamicAdar(pairs, "id_a", "id_b",
        includeExisting = true)
    },
    Some(graft.ops.Triangles.adamicAdarSql(e94Edges, e94Prelude,
      includeExisting = true)))

  // E-stats Poisson-bootstrap CI for the mean document length — hash-
  // derived Poisson(1) weights through 8 fixed inverse-CDF thresholds, so
  // every replicate is a property of the data + salt; nearest-rank order
  // statistics over the replicate means. SQL GENERATED
  // (Stats.bootstrapMeanCiSql: same md5 noise, same threshold literals).
  private val e100 = Q(
    "e100_bootstrap_ci",
    (s, dir) => graft.ops.Stats.bootstrapMeanCi(tp(s, dir, "documents"),
      "n_chars", "doc_id", b = 100),
    Some(graft.ops.Stats.bootstrapMeanCiSql("documents",
      "n_chars", "doc_id", b = 100)))

  // E-join interval×interval overlap under the hash oracle: user sessions
  // (the e32 gaps-and-islands intervals) overlap-joined against 60 fixed
  // half-day "campaign flight" windows via AsOfJoin.intervalOverlapBinned
  // (bin equi-join; a pair emits only in its overlap's FIRST bin, so no
  // distinct pass) while DuckDB runs the plain inequality join the
  // operator replaces. Output is flight-level concurrency: sessions
  // touched + total overlap microseconds (exact longs). The flight spine
  // keeps output LINEAR in sessions — session×session pair analysis is
  // the spec'd generic form (AsOfJoinSpec), quadratic in concurrency by
  // its own semantics.
  private val e101Base = 1704067200000000L // 2024-01-01T00:00:00Z in µs
  private val e101HalfDay = 43200000000L
  // the e32 gaps-and-islands session intervals as reusable CTEs (numeric
  // µs bounds) — shared by e101 (overlap join) and e104 (concurrency)
  private val sessionCtesSql =
    """lagged AS (
      |  SELECT user_id, ts, event_id,
      |    LAG(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      |  FROM events
      |), flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us >= 1800000000
      |         THEN 1 ELSE 0 END AS is_new
      |  FROM lagged
      |), isl AS (
      |  SELECT user_id, ts,
      |    SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged
      |), sess AS (
      |  SELECT user_id, MIN(epoch_us(ts)) AS s_us,
      |    MAX(epoch_us(ts)) + 1800000000 AS e_us
      |  FROM isl GROUP BY user_id, sid
      |),""".stripMargin
  private val e101 = Q(
    "e101_session_overlap",
    (s, dir) => {
      val sess = graft.streaming.EventStream.sessionizeBatch(
          graft.queries.Reference.events(s, dir))
        .select(col("user_id"),
          unix_micros(col("session_start")).as("s_us"),
          unix_micros(col("session_end")).as("e_us"))
      val flights = s.range(0, 60).select(col("id").as("flight"),
        (lit(e101Base) + col("id") * e101HalfDay).as("f_start"),
        (lit(e101Base) + (col("id") + lit(1L)) * e101HalfDay).as("f_end"))
      graft.ops.AsOfJoin.intervalOverlapBinned(flights, sess,
          "f_start", "f_end", "s_us", "e_us", binWidth = e101HalfDay)
        .groupBy(col("flight"))
        .agg(count(lit(1)).as("n_sessions"),
          sum(least(col("f_end"), col("e_us")) -
            greatest(col("f_start"), col("s_us"))).as("overlap_us"))
        .orderBy(col("flight"))
    },
    Some(
      s"""WITH $sessionCtesSql flights AS (
         |  SELECT CAST(i AS BIGINT) AS flight,
         |    $e101Base + CAST(i AS BIGINT) * $e101HalfDay AS f_start,
         |    $e101Base + (CAST(i AS BIGINT) + 1) * $e101HalfDay AS f_end
         |  FROM (SELECT unnest(range(60)) AS i)
         |)
         |SELECT flight, COUNT(*) AS n_sessions,
         |  CAST(SUM(least(f_end, e_us) - greatest(f_start, s_us)) AS BIGINT)
         |    AS overlap_us
         |FROM flights f JOIN sess s ON f.f_start < s.e_us AND s.s_us < f.f_end
         |GROUP BY 1
         |ORDER BY flight""".stripMargin))

  // E5h exact max-concurrency profile: peak simultaneous sessions per hour
  // via the distributed sweep-line (per-bucket boundary prefix + bucket-
  // grid carry; −1 sorts before +1 at an equal instant, so back-to-back
  // sessions never stack — the half-open contract). Zero-boundary hours
  // carry the level. SQL GENERATED (Funnel.maxConcurrencySql) over the
  // shared session CTEs.
  private val e104 = Q(
    "e104_concurrency",
    (s, dir) => {
      val sess = graft.streaming.EventStream.sessionizeBatch(
          graft.queries.Reference.events(s, dir))
        .select(unix_micros(col("session_start")).as("s_us"),
          unix_micros(col("session_end")).as("e_us"))
      Funnel.maxConcurrency(sess, "s_us", "e_us")
    },
    Some(Funnel.maxConcurrencySql("sess", prelude = sessionCtesSql)))

  // E2/E-rank nDCG@10 of label-centroid retrieval: every label's centroid
  // (e68's fixed-point-exact mean vectors) ranks the whole corpus by 4dp
  // cosine; relevance = label match. The graded retrieval-eval metric
  // beside e64's RRF combiner and e69's AUC — answers "how separable are
  // the embedding classes as a retrieval problem". SQL GENERATED
  // (Ranking.ndcgAtKSql with the e68 centroid CTEs as prelude).
  private val e105 = Q(
    "e105_ndcg",
    (s, dir) => {
      val emb = t(s, dir, "embeddings")
      val base = emb
        .where(col("label").isNotNull && col("embedding").isNotNull)
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v"))
      val cent = Similarity.labelCentroids(emb)
      val wq = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query")).orderBy(col("cos").desc, col("vec_id"))
      val ranked = base.crossJoin(broadcast(cent))
        .select(col("c_label").as("query"), col("vec_id"), col("label"),
          round(Similarity.cosine(col("v"), col("cvec")), 4).as("cos"))
        .withColumn("rnk", row_number().over(wq).cast("long"))
        .withColumn("rel",
          when(col("label") === col("query"), 1L).otherwise(0L))
      Ranking.ndcgAtK(ranked, "query", "rnk", "rel", k = 10)
        .orderBy(col("query"))
    },
    Some(Ranking.ndcgAtKSql("ranked", k = 10, prelude =
      """e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings
        |  WHERE label IS NOT NULL AND embedding IS NOT NULL
        |), atoms AS (
        |  SELECT label, unnest(generate_series(1, len(v))) AS dim, unnest(v) AS x
        |  FROM e
        |), cm AS (
        |  SELECT label, dim,
        |    CAST(SUM(CAST(round(x * 1000000) AS BIGINT)) AS DOUBLE)
        |      / COUNT(*) / 1000000 AS c
        |  FROM atoms GROUP BY 1, 2
        |), cent AS (
        |  SELECT label AS c_label, list(c ORDER BY dim) AS cvec FROM cm GROUP BY 1
        |), scored AS (
        |  SELECT c.c_label AS query, e.vec_id, e.label,
        |    round(list_cosine_similarity(e.v, c.cvec), 4) AS cos
        |  FROM e CROSS JOIN cent c
        |), ranked AS (
        |  SELECT query, vec_id, label,
        |    row_number() OVER (PARTITION BY query ORDER BY cos DESC, vec_id)
        |      AS rnk,
        |    CASE WHEN label = query THEN 1 ELSE 0 END AS rel
        |  FROM scored
        |),""".stripMargin) + "\nORDER BY query"))

  // E1f n-gram CONTAINMENT near-dup under the hash oracle — the asymmetric
  // subsumption detector Jaccard can't see: every document is paired with
  // a planted half-length excerpt (doc_id + 200000) whose shingle set is
  // a SUBSET of the original's, so c_excerpt_in_doc = 1.0 while the
  // Jaccard sits near 0.5. DuckDB replays the excerpt construction
  // (identical token slicing) and brute-forces containment over full
  // shingle sets (the e11 oracle pattern); the operator's posting-list
  // candidates + capped re-score must land on exactly the same pairs.
  // The e106/e107 corpus — documents plus a planted half-length excerpt per
  // doc (doc_id + 200000). Until round 16 the scored containment pair table
  // was SHARED between the two declarations through a module-level memo
  // (e107 consumed the table e106 published, so e107's bench timing
  // excluded pair generation). Removed: the optimization contract requires
  // every bench timing to compute from the parquet inputs, so e107 now pays
  // its own pair generation (the real pipeline answer — one materialized
  // pair table with two consumers — lives in examples.Curate's pin(), where
  // it belongs; a benchmark of two separate queries is not a pipeline).
  private[graft] def containmentCorpus(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val toks = split(trim(col("text")), "\\s+")
    val k = greatest(floor(size(toks) / 2), lit(3)).cast("int")
    val exc = d.select((col("doc_id") + 200000L).as("doc_id"),
      concat_ws(" ", slice(toks, lit(1), k)).as("text"))
    // no scan repair: the witness path hash-partitions by id before it
    // shingles (e11's note); e107's keep-best leg repairs its own copy
    d.select(col("doc_id"), col("text")).unionAll(exc)
  }
  private def containmentPairsFresh(s: SparkSession, dir: String): DataFrame = {
    // rarest-prefix candidates under an audited bucket cap at every scale
    // (round 14): candidate volume is Σ prefix_df·df on prefix mass that
    // concentrates on RARE shingles, vs the retired df-capped posting
    // path's Σ df² count-aggregation (143 GB spill at 500k docs / 570 s at
    // 5M)
    // and the retired entries⋈entries prefixFilter (scratch-exhausted at
    // 5M — its full-index side re-shuffled Σ prefix_df·df rows through a
    // string-keyed join). Recall is per-doc auditable: a pair can be lost
    // only if the smaller side's ENTIRE rarest-prefix is over-cap shingles
    // (Dedup.ngramContainmentAtRisk); graft.Verify pre-flights that the
    // audit is EMPTY at verify scale, so the exact all-pairs oracle binds
    // bit-for-bit by construction, not by luck.
    graft.ops.Layout.pin(Dedup.ngramContainmentPairs(containmentCorpus(s, dir),
      minContainment = 0.9, prefixDfCap = 2000))
  }

  private val e106 = Q(
    "e106_containment",
    (s, dir) => containmentPairsFresh(s, dir).orderBy(col("id_a"), col("id_b")),
    Some(
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |), toks0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM base
        |), exc AS (
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_to_string(toks[1:greatest(len(toks) // 2, 3)], ' ') AS text
        |  FROM toks0
        |), corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id, text FROM exc
        |), toksed AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM corpus
        |), sh AS (
        |  SELECT doc_id, list_distinct([
        |    concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, greatest(len(toks) - 1, 1))
        |  ]) AS sh
        |  FROM toksed
        |)
        |SELECT * FROM (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(a.sh), 4) AS c_a_in_b,
        |    round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |      / len(b.sh), 4) AS c_b_in_a
        |  FROM sh a, sh b
        |  WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
        |)
        |WHERE greatest(c_a_in_b, c_b_in_a) >= 0.9
        |ORDER BY id_a, id_b""".stripMargin))

  // E1g quality-aware dedup tail: the e106 containment clusters resolved
  // by nearDedupRowsKeepBest with score = char length — each cluster keeps
  // its LONGEST member (the superset doc; ties to lowest id), so the
  // planted excerpts drop and the originals survive. DuckDB replays the
  // e14 recursive-CTE grouping + a (score DESC, id) argmax. This is the
  // curation semantics min-id keepers can't express: keep the best copy,
  // not an arbitrary one.
  private val e107 = Q(
    "e107_keep_best",
    (s, dir) => {
      // repair AFTER the union — the 2-branch single-row-group scan caps
      // the keep-best stages at 2 tasks (see [[tp]])
      val corpus = graft.ops.Layout.repairScanParallelism(containmentCorpus(s, dir))
        .withColumn("score", length(col("text")).cast("long"))
      // pair generation is computed fresh (round 16 — no cross-query memo;
      // see containmentCorpus's note), then clustering + argmax keepers
      val pairs = containmentPairsFresh(s, dir).select(col("id_a"), col("id_b"))
      Dedup.nearDedupRowsKeepBest(corpus, pairs, "score")
        .select(col("doc_id"), col("score"))
        .orderBy(col("doc_id"))
    },
    Some(
      """WITH base AS (
        |  SELECT doc_id, text FROM documents
        |), toks0 AS (
        |  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM base
        |), exc AS (
        |  SELECT doc_id + 200000 AS doc_id,
        |    array_to_string(toks[1:greatest(len(toks) // 2, 3)], ' ') AS text
        |  FROM toks0
        |), corpus AS (
        |  SELECT doc_id, text FROM base
        |  UNION ALL SELECT doc_id, text FROM exc
        |), toksed AS (
        |  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
        |  FROM corpus
        |), sh AS (
        |  SELECT doc_id, list_distinct([
        |    concat_ws(' ', toks[i], toks[i+1], toks[i+2]) FOR i IN range(1, greatest(len(toks) - 1, 1))
        |  ]) AS sh
        |  FROM toksed
        |), pairs AS (
        |  SELECT id_a, id_b FROM (
        |    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(a.sh), 4) AS c_a_in_b,
        |      round(CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
        |        / len(b.sh), 4) AS c_b_in_a
        |    FROM sh a, sh b
        |    WHERE a.doc_id < b.doc_id AND len(a.sh) > 0 AND len(b.sh) > 0
        |  )
        |  WHERE greatest(c_a_in_b, c_b_in_a) >= 0.9
        |), edges AS (
        |  SELECT id_a AS a, id_b AS b FROM pairs
        |  UNION ALL SELECT id_b, id_a FROM pairs
        |), ids AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS score FROM corpus
        |)
        |SELECT doc_id, score FROM (
        |  WITH RECURSIVE reach(id, r) AS (
        |    SELECT doc_id, doc_id FROM corpus
        |    UNION
        |    SELECT e.a, reach.r FROM edges e JOIN reach ON reach.id = e.b
        |  ), grouped AS (
        |    SELECT id AS doc_id, min(r) AS group_id FROM reach GROUP BY id
        |  )
        |  SELECT i.doc_id, i.score,
        |    row_number() OVER (PARTITION BY g.group_id
        |                       ORDER BY i.score DESC, i.doc_id) AS rn
        |  FROM grouped g JOIN ids i ON g.doc_id = i.doc_id
        |)
        |WHERE rn = 1
        |ORDER BY doc_id""".stripMargin))

  // E5i per-channel time-to-convert percentiles — the latency companion to
  // e97's credit rollup: Δ = conversion second − in-window last-touch
  // second, exact per-channel p50/p90 under the e49 portable percentile
  // contract. SQL GENERATED (Funnel.timeToConvertSql).
  private val e108 = Q(
    "e108_time_to_convert",
    (s, dir) => Funnel.timeToConvert(graft.queries.Reference.events(s, dir)),
    Some(Funnel.timeToConvertSql("events")))

  // E-norm per-group z-score (population σ from exact fixed-point moments,
  // broadcast back, zero-shuffle projection) — grouped feature scaling
  // under the hash oracle. ORDER BY spans every output column (the q01
  // total-order lesson). SQL GENERATED (Normalize.zScoreBySql).
  private val e102 = Q(
    "e102_zscore_by",
    (s, dir) =>
      graft.ops.Normalize.zScoreBy(tp(s, dir, "lineitem"),
          "l_extendedprice", "l_returnflag")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("l_extendedprice_z"))
        .orderBy(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("l_extendedprice"), col("l_extendedprice_z")),
    Some(
      s"""SELECT l_orderkey, l_linenumber, l_returnflag, l_extendedprice,
         |  l_extendedprice_z
         |FROM (
         |${graft.ops.Normalize.zScoreBySql("lineitem", "l_extendedprice", "l_returnflag")}
         |)
         |ORDER BY 1, 2, 3, 4, 5""".stripMargin))

  // E-norm median/MAD robust outlier report (two exact-percentile passes,
  // 4dp portable contract, strict-> flag) — the heavy-tail-safe companion
  // to e102's z-scores. SQL GENERATED (Normalize.madOutliersSql).
  private val e103 = Q(
    "e103_mad_outliers",
    (s, dir) => graft.ops.Normalize.madOutliers(tp(s, dir, "orders"),
      "o_totalprice"),
    Some(graft.ops.Normalize.madOutliersSql("orders", "o_totalprice")))

  // E3k per-document top-k TF-IDF terms over the full vocabulary — keyword
  // extraction for corpus labeling (bm25/e17 scores a literal term list;
  // this discovers each doc's characteristic terms from the data). Exact
  // long tf/df/N; score rounded to 4dp BEFORE the rank window in both
  // engines; ties to term asc. SQL GENERATED (Ranking.tfIdfTopTermsSql).
  private val e109 = Q(
    "e109_tfidf_terms",
    (s, dir) =>
      Ranking.tfIdfTopTerms(tp(s, dir, "documents"), k = 3, minDf = 2,
          maxDfFrac = 0.5)
        .orderBy(col("doc_id"), col("rank")),
    Some(Ranking.tfIdfTopTermsSql("documents", k = 3, minDf = 2,
      maxDfFrac = 0.5) + "\nORDER BY doc_id, rank"))

  // E-mix Gini of the docs-per-source distribution — the corpus-balance
  // scalar a mixture ledger tracks before applying per-domain caps. Exact
  // integer rank-sums over the distinct-group-size GRID (the rank-grid
  // discipline: the window is resolution-bounded, never group-bounded);
  // one double division, 6dp. SQL GENERATED (Stats.giniByGroupSql);
  // e61's Stats.gini is the VALUE-distribution cousin.
  private val e110 = Q(
    "e110_source_gini",
    (s, dir) => graft.ops.Stats.giniByGroup(t(s, dir, "documents"), "source"),
    Some(graft.ops.Stats.giniByGroupSql("documents", "source")))

  // E-mix quality-ordered per-source cap — keep the 40 LONGEST docs per
  // source (RefinedWeb-style curation keeps the best variants; e13 is the
  // uniform-random cap). Spark runs the exact two-phase salted window
  // (hot-group-proof); the oracle is the plain single window — identical
  // by the subset argument pinned in SplitsSpec.
  private val e111 = Q(
    "e111_cap_best",
    (s, dir) =>
      graft.ops.Splits.capPerGroupTop(tp(s, dir, "documents"), "source",
          k = 40, orderCol = "n_chars")
        .select(col("source"), col("rank"), col("doc_id"), col("n_chars"))
        .orderBy(col("source"), col("rank")),
    Some(
      """SELECT source, CAST(rn AS INTEGER) AS rank, doc_id, n_chars FROM (
        |  SELECT source, doc_id, n_chars,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY n_chars DESC, doc_id) AS rn
        |  FROM documents)
        |WHERE rn <= 40
        |ORDER BY source, rank""".stripMargin))

  // E3l inverted-index BM25 with a query TABLE — the served-retrieval
  // shape (e17 compiles ≤64 literal terms into the scan; this joins an
  // arbitrary (q_id, term) set against posting lists, thousands of queries
  // in one pass). Per-(q,doc) score sums run FIXED-POINT (msum applied to
  // ranking) so reduction order can't diverge. SQL GENERATED
  // (Ranking.bm25JoinSql) from the same literal query set.
  private val bm25JoinQueries: Seq[(Long, String)] = Seq(
    1L -> "join", 1L -> "slow", 2L -> "vector", 2L -> "scan", 3L -> "hash",
    3L -> "table", 3L -> "value")
  private val e112 = Q(
    "e112_bm25_join",
    (s, dir) => {
      import s.implicits._
      Ranking.bm25Join(tp(s, dir, "documents"),
          bm25JoinQueries.toDF("q_id", "term"), k = 10)
        .orderBy(col("q_id"), col("rank"))
    },
    Some(Ranking.bm25JoinSql("documents", bm25JoinQueries, k = 10)
      + "\nORDER BY q_id, rank"))

  // E-drift Population Stability Index — value-distribution drift between
  // the first and second half of the events month (split 2024-01-16), the
  // standard ML-monitoring gate. One conditional hash aggregate to the
  // bucket grid, 1e-6-smoothed terms, fixed-point sum. SQL GENERATED
  // (Drift.psiSql).
  private val e113 = Q(
    "e113_psi",
    (s, dir) => graft.ext.Drift.psi(graft.queries.Reference.events(s, dir),
      splitTs = "2024-01-16 00:00:00", bucketWidth = 10.0),
    Some(graft.ext.Drift.psiSql("events", splitTs = "2024-01-16 00:00:00",
      bucketWidth = 10.0)))

  // E3m Flesch reading-ease — the readability member of the quality
  // battery; three codegen'd regex counts per row, zero shuffle, one
  // fixed-order float expression over integer inputs. SQL GENERATED
  // (TextStats.readabilitySql).
  private val e114 = Q(
    "e114_readability",
    (s, dir) => TextStats.readability(tp(s, dir, "documents"))
      .orderBy(col("doc_id")),
    Some(TextStats.readabilitySql("documents") + "\nORDER BY doc_id"))

  // E1j incremental near-dup: a freshly-ingested batch (every 10th doc,
  // re-id'd, with a 3-token suffix — a realistic near-copy) deduped
  // against the corpus on SIGNATURES alone (slot-agreement estimated
  // Jaccard, Broder's unbiased resemblance estimator) — the daily-ingest
  // shape, where only signatures of the corpus side join the batch. SQL
  // GENERATED (Dedup.minhashLookupMd5Sql) from the same constants.
  private val e115 = Q(
    "e115_incr_dedup",
    (s, dir) => {
      val base = tp(s, dir, "documents")
      val batch = base.where(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(col("text"), lit(" freshly ingested copy")).as("text"))
      Dedup.minhashLookupMd5(batch, base, minEstJaccard = 0.5)
        .orderBy(col("batch_id"), col("corpus_id"))
    },
    Some(Dedup.minhashLookupMd5Sql("documents",
      """(SELECT doc_id + 900000 AS doc_id,
        |  text || ' freshly ingested copy' AS text
        |FROM documents WHERE doc_id % 10 = 0)""".stripMargin)
      + "\nORDER BY batch_id, corpus_id"))

  // E1n incremental SPAN lookup — the substring-dedup daily-ingest shape
  // (e115's argument applied to spans): which of a new batch's 10-token
  // spans already repeat across the corpus ∪ batch, joining the batch
  // against the corpus posting table only. The batch re-ids every 10th
  // doc and appends a 10-token marker: its body spans collide with the
  // corpus originals (n_docs = 2), the
  // marker-only span collides across the whole batch, and the unique
  // doc-tail/marker boundary spans fall below minDocs and drop
  // (Dedup.spanLookup — engine-portable span-text keys; spec-pinned ≡
  // repeatedSpans over corpus ∪ batch in DedupSpec).
  private val e116 = Q(
    "e116_span_lookup",
    (s, dir) => {
      val base = tp(s, dir, "documents")
      val marker = " ingest marker alpha beta gamma delta epsilon zeta eta theta"
      val batch = base.where(pmod(col("doc_id"), lit(10)) === 0)
        .select((col("doc_id") + 900000).as("doc_id"),
          concat(col("text"), lit(marker)).as("text"))
      Dedup.spanLookup(batch, base, n = 10, minDocs = 2)
        .orderBy(col("doc_id"), col("pos"))
    },
    Some(
      """WITH corpus_toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
        |  FROM documents
        |), corpus_spans AS (
        |  SELECT doc_id, array_to_string(toks[(i+1):(i+10)], ' ') AS span
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 9)) AS i
        |        FROM corpus_toks WHERE len(toks) >= 10)
        |), corpus_counts AS (
        |  SELECT span, COUNT(DISTINCT doc_id) AS cd FROM corpus_spans GROUP BY 1
        |), batch AS (
        |  SELECT doc_id + 900000 AS doc_id,
        |    text || ' ingest marker alpha beta gamma delta epsilon zeta eta theta' AS text
        |  FROM documents WHERE doc_id % 10 = 0
        |), batch_toks AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(trim(lower(text)), '\s+'), t -> len(t) > 0) AS toks
        |  FROM batch
        |), batch_spans AS (
        |  SELECT doc_id, CAST(i AS INT) AS pos,
        |    array_to_string(toks[(i+1):(i+10)], ' ') AS span
        |  FROM (SELECT doc_id, toks, unnest(range(0, len(toks) - 9)) AS i
        |        FROM batch_toks WHERE len(toks) >= 10)
        |), batch_counts AS (
        |  SELECT span, COUNT(DISTINCT doc_id) AS bd FROM batch_spans GROUP BY 1
        |), total AS (
        |  SELECT span, CAST(COALESCE(cd, 0) + bd AS BIGINT) AS n_docs
        |  FROM batch_counts b LEFT JOIN corpus_counts c USING (span)
        |  WHERE COALESCE(cd, 0) + bd >= 2
        |)
        |SELECT s.doc_id, s.pos, s.span, t.n_docs
        |FROM batch_spans s JOIN total t USING (span)
        |ORDER BY doc_id, pos""".stripMargin))

  // E3n unigram LM quality score — the CCNet-style model-based member of
  // the quality battery (e87's Gopher rules are the heuristic member):
  // add-one unigram LM trained on the corpus scores every doc's mean token
  // log-probability; rare-token soup ranks low, fluent common-vocabulary
  // text ranks high. Self-trained here (train = score = documents), so
  // oov_tokens is structurally 0 — the train/score split and OOV path are
  // spec-pinned in TextStatsSpec. Integer-input 1e-6 ln fixed point,
  // DECIMAL(38,0) accumulation, one 4dp double division (the e96
  // discipline). SQL GENERATED (TextStats.lmScoreSql).
  private val e117 = Q(
    "e117_lm_score",
    (s, dir) => {
      val d = tp(s, dir, "documents")
      TextStats.lmScore(d, d)
    },
    Some(TextStats.lmScoreSql("documents", "documents")))

  // E2c' semantic decontamination with a FIXED-SIZE benchmark — the
  // production twin of e37 (round-13 verdict item 4): e37's benchmark is
  // the vec_id%10 slice of the WHOLE table, so its work grows ∝ corpus²
  // by test construction (the one super-linear row in the 100× rehearsal).
  // Real decontamination probes a pinned eval suite that does NOT grow
  // with training data: this benchmark is the %10 slice of the BASE id
  // universe only (vec_id < 10⁹ — ScaleUp copies live at copy·10⁹ and
  // never enter it), constant across 1×/10×/100×, making the declared
  // query's scale shape linear. Output = the flagged rows only (the list
  // a curation pipeline consumes), so output stays benchmark-sized too.
  private val e118 = Q(
    "e118_decontam_fixedbench",
    (s, dir) => {
      val e = t(s, dir, "embeddings")
      val bench = e.where(col("vec_id") % 10 === 0 && col("vec_id") < 1000000000L)
      Decontaminate.semanticHits(e, bench, minCosine = 0.99)
        .where(col("contaminated"))
        .select(col("vec_id"), col("max_cosine"))
        .orderBy(col("vec_id"))
    },
    Some(
      """SELECT vec_id, max_cosine FROM (
        |  SELECT c.vec_id AS vec_id,
        |    max(round(list_cosine_similarity(CAST(c.embedding AS DOUBLE[]),
        |                                     CAST(b.embedding AS DOUBLE[])), 4))
        |      AS max_cosine
        |  FROM embeddings c,
        |    (SELECT * FROM embeddings
        |     WHERE vec_id % 10 = 0 AND vec_id < 1000000000) b
        |  GROUP BY c.vec_id)
        |WHERE max_cosine >= 0.99
        |ORDER BY vec_id""".stripMargin))

  val all: Seq[Q] = Seq(e01, e02, e03, e04, e05, e06, e07, e10, e11,
    e12, e13, e14, e15, e16, e17, e18, e19, e20, e21, e22, e23, e24, e25, e26,
    e27, e28, e29, e30, e31, e32, e33, e34, e35, e36, e37, e38, e39, e40, e41,
    e42, e43, e44, e45, e46, e47, e48, e49, e50, e51, e52, e53, e54, e55, e56,
    e57, e58, e59, e60, e61, e62, e63, e64, e65, e66, e67, e68, e69, e70, e71,
    e72, e73, e74, e75, e76, e77, e78, e79, e80, e81, e82, e83, e84, e85, e86,
    e87, e88, e89, e90, e91, e92, e93, e94, e95, e96, e97, e98, e99, e100,
    e101, e102, e103, e104, e105, e106, e107, e108, e109, e110, e111,
    e112, e113, e114, e115, e116, e117, e118)
}
