package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ranked retrieval over a document corpus: TF-IDF / BM25 (Robertson &
  * Spärck Jones; the BM25 form is the Okapi formula with the standard
  * `idf = ln(1 + (N − df + 0.5)/(df + 0.5))` smoothing). This is the search
  * primitive the text suite was missing — quality gates and dedup decide
  * what ENTERS a corpus, ranking is how a pipeline FINDS things in it
  * (eval-set mining, topic probes, nearest-keyword audits).
  *
  * Scale posture: the query term list is tiny (a handful of literals), so
  * per-document term frequencies are computed as codegen'd higher-order
  * functions on the token array — the corpus is scanned ONCE with ZERO
  * shuffle on the heavy side. Corpus-level statistics (N, Σdl, per-term df)
  * reduce to a single row and re-enter via a broadcast cross join. The only
  * shuffle anywhere is the final ORDER BY / top-k.
  */
object Ranking {

  /** Per-(term, doc) BM25 partial scores for a literal term list — one row
    * per matching (term, doc), columns (term, doc_id, tf, dl, score).
    * Scores stay per-term (summing to a doc score is the caller's move via
    * [[bm25TopK]]) so the output is engine-deterministic: every float op
    * happens in one fixed textual order from integer inputs.
    */
  def bm25(
      docs: DataFrame,
      terms: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id",
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && terms.size <= 64,
      s"bm25 takes a small literal term list (got ${terms.size}); " +
        "for term sets at corpus scale use an inverted-index join instead")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    // one scan: doc length + one codegen'd count per query term, no shuffle
    val perDoc = docs.select(
      col(idCol).as("doc_id"),
      size(toks).cast("long").as("dl"), // long to match the oracle's len()
      array(terms.map(t =>
        struct(lit(t).as("term"),
          size(filter(toks, x => x === lit(t))).cast("long").as("tf"))): _*).as("tfs"))
    // corpus stats reduce to ONE row: N, Σdl, df per term (position-aligned
    // with `terms` — the aggregate is over the same array order)
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      sum(col("dl")).as("sum_dl"),
      array(terms.indices.map(i =>
        sum(when(col("tfs")(i)("tf") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*).as("dfs"))
    val joined = perDoc
      .select(col("doc_id"), col("dl"), posexplode(col("tfs")).as(Seq("pos", "t")))
      .where(col("t")("tf") > 0)
      .crossJoin(broadcast(stats))
    val tf = col("t")("tf")
    val df = element_at(col("dfs"), col("pos") + 1)
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    // textual float-op order mirrored 1:1 in bm25Sql — keep in lockstep
    val idf = log(lit(1.0) + (col("n_docs") - df + lit(0.5)) / (df + lit(0.5)))
    val score = idf * (tf * (lit(k1) + lit(1.0))) /
      (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    joined.select(
      col("t")("term").as("term"),
      col("doc_id"),
      tf.as("tf"),
      col("dl"),
      round(score, 4).as("score"))
  }

  /** DuckDB-side SQL of [[bm25]] over a parquet-registered `documents`-shaped
    * table — GENERATED from the same term list and constants so the two
    * formulations cannot drift (the e07 stopword-inventory pattern). Float
    * semantics: every operation appears in the same textual order as the
    * Spark expression; inputs are integers, so both engines execute the
    * identical IEEE sequence (ln() is the one libm call — scores are rounded
    * to 4 decimals on both sides to absorb any sub-ulp divergence).
    */
  def bm25Sql(table: String, terms: Seq[String], k1: Double = 1.2, b: Double = 0.75): String = {
    // escape for the single-quoted literals and double-quoted aliases the
    // generator embeds terms in — a term like it's must not break the oracle
    def lq(s: String) = s.replace("'", "''")
    def aq(s: String) = s.replace("\"", "\"\"")
    val tfExprs = terms.map(t =>
      s"""len(list_filter(toks, x -> x = '${lq(t)}')) AS "tf_${aq(t)}"""").mkString(",\n    ")
    val dfExprs = terms.map(t =>
      s"""SUM(CASE WHEN "tf_${aq(t)}" > 0 THEN 1 ELSE 0 END) AS "df_${aq(t)}"""").mkString(",\n    ")
    val perTerm = terms.map(t =>
      s"""SELECT '${lq(t)}' AS term, doc_id, "tf_${aq(t)}" AS tf, dl FROM tf WHERE "tf_${aq(t)}" > 0""")
      .mkString("\n  UNION ALL\n  ")
    val dfCase = terms.map(t => s"""WHEN term = '${lq(t)}' THEN "df_${aq(t)}"""").mkString(" ")
    s"""WITH tf AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    $tfExprs
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM $table)
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
       |    $dfExprs
       |  FROM tf
       |), matches AS (
       |  $perTerm
       |)
       |SELECT term, doc_id, tf, dl,
       |  round(ln(1.0 + (n_docs - (CASE $dfCase END) + 0.5) / ((CASE $dfCase END) + 0.5))
       |    * (tf * ($k1 + 1.0))
       |    / (tf + $k1 * (1.0 - $b + $b * dl / (CAST(sum_dl AS DOUBLE) / n_docs))), 4) AS score
       |FROM matches, stats""".stripMargin
  }

  /** Doc-level BM25 top-k: per-term scores summed per document, then a
    * k-bounded global top-k (TakeOrderedAndProject — no full sort). Ties
    * break on doc_id for determinism.
    */
  def bm25TopK(
      docs: DataFrame,
      terms: Seq[String],
      k: Int = 10,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame =
    bm25(docs, terms, textCol, idCol)
      .groupBy(col("doc_id"))
      .agg(round(sum(col("score")), 4).as("score"), count(lit(1)).as("n_terms_hit"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)

  /** Per-document top-k TF-IDF terms over the FULL corpus vocabulary — the
    * keyword-extraction / document-labeling primitive ([[bm25]] scores a
    * small LITERAL term list; this op discovers each document's most
    * characteristic terms from the data). tf·idf with the classic
    * `idf = ln(N / df)`; terms outside `[minDf, maxDfFrac·N]` are pruned
    * (singleton noise below, stopword-grade ubiquity above — df-pruning is
    * also what keeps the per-term join bounded, the e11 `prefixDfCap`
    * argument applied to ranking).
    *
    * Scale shape: ONE corpus scan explodes to (doc, term) pairs and
    * reduces to the pinned tf table; df and the 1-row corpus count both
    * derive from tf (no second corpus scan), the count re-entering via a
    * broadcast; the tf⋈df equi-join
    * shuffles on `term` (vocab-sized, Zipf-bounded after the df prune); the
    * final rank is a window PARTITIONED by doc — per-partition work is
    * bounded by a document's own vocabulary, so there is no unpartitioned
    * sort anywhere.
    *
    * Determinism: tf, df, N are exact longs; the score is one float
    * expression in fixed textual order (`tf · ln(N/df)`, mirrored 1:1 in
    * [[tfIdfTopTermsSql]]), rounded to 4 decimals BEFORE ranking so both
    * engines rank identical values; ties break on term asc. Output:
    * (doc_id, term, tf, df, score, rank), rank 1 = best.
    */
  def tfIdfTopTerms(
      docs: DataFrame,
      k: Int = 3,
      minDf: Int = 2,
      maxDfFrac: Double = 0.5,
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    require(k > 0 && minDf >= 1 && maxDfFrac > 0 && maxDfFrac <= 1.0,
      s"invalid tfIdfTopTerms params: k=$k minDf=$minDf maxDfFrac=$maxDfFrac")
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val pairs = docs.select(col(idCol).as("doc_id"), explode(toks).as("term"))
    val tf = pairs.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .transform(graft.ops.Layout.pin)
    // df and N derive from the pinned tf table — ONE corpus scan (every
    // doc has ≥1 token row: split yields [""] on empty text)
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val n = tf.agg(count_distinct(col("doc_id")).as("n_docs"))
    val scored = tf.join(dft, "term")
      .crossJoin(broadcast(n))
      .where(col("df") >= minDf &&
        col("df") <= lit(maxDfFrac) * col("n_docs"))
      .withColumn("score",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term"))
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("score"), col("rank"))
  }

  /** DuckDB mirror of [[tfIdfTopTerms]] — GENERATED from the same constants;
    * the score expression appears in the identical textual order and is
    * rounded to 4 decimals before the rank window in both engines.
    */
  def tfIdfTopTermsSql(table: String, k: Int = 3, minDf: Int = 2,
      maxDfFrac: Double = 0.5): String =
    s"""WITH pairs AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM $table
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term
       |), dft AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), n AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM tf)
       |SELECT doc_id, term, tf, df, score, rank FROM (
       |  SELECT tf.doc_id, tf.term, tf.tf, dft.df,
       |    round(tf.tf * ln(CAST(n_docs AS DOUBLE) / dft.df), 4) AS score,
       |    CAST(row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY round(tf.tf * ln(CAST(n_docs AS DOUBLE) / dft.df), 4) DESC,
       |               tf.term) AS INTEGER) AS rank
       |  FROM tf JOIN dft USING (term), n
       |  WHERE dft.df >= $minDf AND dft.df <= CAST($maxDfFrac AS DOUBLE) * n_docs
       |)
       |WHERE rank <= $k""".stripMargin

  /** Inverted-index BM25 with a query TABLE — the served-retrieval shape
    * at scale. [[bm25]] takes ≤ 64 literal terms compiled into the scan;
    * this joins an arbitrary (q_id, term) query set against the corpus's
    * posting lists, so thousands of queries score in ONE pass with no
    * per-query job.
    *
    * Scale shape: ONE corpus scan builds the (doc, term, tf) posting table
    * (hash aggregate, map-side partial), pinned operator-internally (the
    * [[graft.ext.Drift.sourceTokenKl]] convention) because everything else
    * DERIVES from it without touching the corpus again: per-doc length
    * dl = Σ tf over the doc's terms (token counts are a partition of the
    * token multiset), per-term df, and the 1-row (N, Σdl) broadcast. The
    * query set — DISTINCT (q_id, term) — joins posting lists on `term`: a
    * broadcast hash join while queries fit (the served case), an equi-join
    * beyond.
    * Per-(query, doc) scores reduce in a hash aggregate whose SUM runs in
    * FIXED-POINT (each per-term score rounds to 4dp → scaled longs), so
    * Spark's and DuckDB's reduction orders cannot diverge — the msum
    * discipline applied to ranking. The final per-query top-k is the
    * k-bounded [[graft.functions.TopK.groupedTopK]] aggregator: the only
    * query-keyed shuffle carries ≤ k rows per (partition, query).
    *
    * Output: (q_id, doc_id, score, rank), rank 1 best, ties to the lower
    * doc_id. Queries whose terms miss the corpus entirely produce no rows.
    */
  def bm25Join(
      docs: DataFrame,
      queries: DataFrame,
      k: Int = 10,
      textCol: String = "text",
      idCol: String = "doc_id",
      qIdCol: String = "q_id",
      qTermCol: String = "term",
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val pairs = docs.select(col(idCol).as("doc_id"), explode(toks).as("term"))
    val tf = pairs.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .transform(graft.ops.Layout.pin)
    // dl, df, and (N, Σdl) all derive from tf — the corpus is scanned ONCE
    // (every doc has ≥1 token row: split yields [""] on empty text, so the
    // dl/stats reduction sees every doc)
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum(col("dl")).as("sum_dl"))
    val q = queries.select(col(qIdCol).cast("long").as("q_id"),
      lower(col(qTermCol)).as("term")).distinct()
    // per-(query, term, doc) partial score — same textual float order as
    // bm25/bm25Sql, rounded 4dp; the per-(q, doc) SUM then runs fixed-point
    val avgdl = col("sum_dl").cast("double") / col("n_docs")
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val part = idf * (col("tf") * (lit(k1) + lit(1.0))) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / avgdl))
    val scored = q.join(tf, "term")
      .join(dl, "doc_id")
      .join(broadcast(dft.crossJoin(broadcast(stats))), "term")
      .groupBy(col("q_id"), col("doc_id"))
      .agg((sum(round(part * 10000.0, 0).cast("long")).cast("double") / 10000.0)
        .as("score"))
    graft.functions.TopK.groupedTopK(scored, "q_id", "doc_id", "score", k)
      .select(col("q_id"), col("doc_id"), col("score"), col("rank"))
  }

  /** DuckDB mirror of [[bm25Join]] for a literal query set — GENERATED from
    * the same (q_id, terms) pairs and constants. The per-term score appears
    * in the identical textual order as the Spark expression and rounds to
    * 4dp BEFORE the fixed-point per-(q, doc) sum; the rank window replays
    * groupedTopK's (score desc, doc_id asc) total order.
    */
  def bm25JoinSql(table: String, queryTerms: Seq[(Long, String)], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): String = {
    def lq(s: String) = s.replace("'", "''")
    val values = queryTerms
      .map { case (qid, t) => s"($qid, '${lq(t)}')" }.mkString(", ")
    s"""WITH q AS (
       |  -- CAST: VALUES integer literals default to INTEGER; Spark's q_id
       |  -- is LongType, and the gate compares dtypes strictly
       |  SELECT DISTINCT CAST(q_id AS BIGINT) AS q_id, lower(term) AS term
       |  FROM (VALUES $values) AS v(q_id, term)
       |), pairs AS (
       |  SELECT doc_id,
       |    unnest(string_split_regex(trim(lower(text)), '\\s+')) AS term
       |  FROM $table
       |), tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM pairs GROUP BY doc_id, term
       |), dl AS (
       |  -- derived from tf, like the Spark side: dl = Σ tf over a doc's terms
       |  SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id
       |), dft AS (
       |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, CAST(SUM(dl) AS BIGINT) AS sum_dl FROM dl
       |), scored AS (
       |  SELECT q.q_id, tf.doc_id,
       |    CAST(SUM(CAST(round(
       |      ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |        * (tf * ($k1 + 1.0))
       |        / (tf + $k1 * (1.0 - $b + $b * dl / (CAST(sum_dl AS DOUBLE) / n_docs)))
       |      * 10000.0, 0) AS BIGINT)) AS BIGINT) / 10000.0 AS score
       |  FROM q JOIN tf USING (term) JOIN dl ON tf.doc_id = dl.doc_id,
       |    dft, stats
       |  WHERE dft.term = tf.term
       |  GROUP BY q.q_id, tf.doc_id
       |)
       |SELECT q_id, doc_id, score,
       |  CAST(rn AS INTEGER) AS rank
       |FROM (
       |  SELECT q_id, doc_id, score,
       |    row_number() OVER (PARTITION BY q_id
       |                       ORDER BY score DESC, doc_id) AS rn
       |  FROM scored)
       |WHERE rn <= $k""".stripMargin
  }

  /** Top-k rank assignment over a scored frame: the k best rows by
    * (score desc, id) with a 1-based `rank` column. The id tie-break makes
    * the rank total, so downstream fusion is engine-deterministic. The
    * limit runs as TakeOrderedAndProject (top-k per partition, merged on
    * the driver — no full sort); the rank-assigning window then sees only
    * the ≤ k survivors (the buildVocab pattern), so the unpartitioned
    * window is bounded, never corpus-sized.
    */
  def rankByScore(scored: DataFrame, scoreCol: String, idCol: String,
      k: Int): DataFrame = {
    require(k > 0 && k <= 100000,
      s"rankByScore is a bounded top-k ranker (got k=$k); rank a whole " +
        "corpus with a partitioned window instead")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col(scoreCol).desc, col(idCol))
    scored
      .orderBy(col(scoreCol).desc, col(idCol)).limit(k)
      .withColumn("rank", row_number().over(w).cast("long"))
      .select(col(idCol), col("rank"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009) of two bounded rankings
    * — the standard hybrid-retrieval combiner (lexical BM25 + semantic
    * cosine): score(d) = Σ_lists 1/(k0 + rank_d), ids missing from a list
    * contribute 0 from it. Rank-based, so the two lists' incomparable raw
    * scores never mix. Inputs are [[rankByScore]]-shaped frames
    * (`idCol`, `rank`); output (id, rankA, rankB, rrf) best-first with an
    * id tie-break.
    *
    * Determinism: ranks are exact longs, the fused score is ONE fixed
    * textual float expression per row (no float aggregation anywhere),
    * 6dp-rounded. Scale: both inputs are top-k bounded, so the full outer
    * join is trivially small — the heavy work happened in the rankers.
    */
  def rrfFuse(rankedA: DataFrame, rankedB: DataFrame,
      idCol: String = "doc_id", k0: Int = 60,
      outA: String = "rank_a", outB: String = "rank_b"): DataFrame = {
    require(k0 > 0, s"rrf smoothing constant must be positive: $k0")
    val a = rankedA.select(col(idCol), col("rank").as(outA))
    val b = rankedB.select(col(idCol), col("rank").as(outB))
    a.join(b, Seq(idCol), "full")
      .select(col(idCol), col(outA), col(outB),
        round(coalesce(lit(1.0) / (lit(k0) + col(outA)), lit(0.0)) +
          coalesce(lit(1.0) / (lit(k0) + col(outB)), lit(0.0)), 6).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
  }

  /** DuckDB mirror of the e64 hybrid-retrieval fusion — GENERATED from the
    * same term / query id / k / k0 / BM25 constants: single-term BM25
    * top-k (the [[bm25Sql]] float order verbatim) fused with cosine-to-
    * query top-k (the e02 formulation) under [[rrfFuse]]'s expression.
    */
  def rrfHybridSql(docsTable: String, embTable: String, term: String,
      queryId: Long, k: Int, k0: Int,
      k1: Double = 1.2, b: Double = 0.75): String = {
    val lq = term.replace("'", "''")
    s"""WITH tf AS (
       |  SELECT doc_id, len(toks) AS dl,
       |    len(list_filter(toks, x -> x = '$lq')) AS tf
       |  FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS toks
       |        FROM $docsTable)
       |), stats AS (
       |  SELECT COUNT(*) AS n_docs, SUM(dl) AS sum_dl,
       |    SUM(CASE WHEN tf > 0 THEN 1 ELSE 0 END) AS df
       |  FROM tf
       |), lex AS (
       |  SELECT doc_id,
       |    round(ln(1.0 + (n_docs - df + 0.5) / (df + 0.5))
       |      * (tf * ($k1 + 1.0))
       |      / (tf + $k1 * (1.0 - $b + $b * dl / (CAST(sum_dl AS DOUBLE) / n_docs))), 4)
       |      AS score
       |  FROM tf, stats WHERE tf > 0
       |), lexr AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT) AS r
       |  FROM lex QUALIFY r <= $k
       |), sem AS (
       |  SELECT bb.vec_id AS doc_id,
       |    round(list_cosine_similarity(CAST(aa.embedding AS DOUBLE[]),
       |                                 CAST(bb.embedding AS DOUBLE[])), 4) AS cosine
       |  FROM $embTable aa, $embTable bb
       |  WHERE aa.vec_id = $queryId AND bb.vec_id <> $queryId
       |), semr AS (
       |  SELECT doc_id, CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT) AS r
       |  FROM sem QUALIFY r <= $k
       |)
       |SELECT COALESCE(l.doc_id, s.doc_id) AS doc_id,
       |  l.r AS rank_lex, s.r AS rank_sem,
       |  round(COALESCE(1.0 / ($k0 + l.r), 0.0) + COALESCE(1.0 / ($k0 + s.r), 0.0), 6)
       |    AS rrf
       |FROM lexr l FULL OUTER JOIN semr s ON l.doc_id = s.doc_id
       |ORDER BY rrf DESC, doc_id""".stripMargin
  }

  /** Plain TF-IDF weight per (term, doc) — `tf · ln(N / df)` — for corpora
    * where BM25's length normalization is unwanted (e.g. fixed-length
    * chunks). Same zero-shuffle shape as [[bm25]].
    */
  def tfidf(
      docs: DataFrame,
      terms: Seq[String],
      textCol: String = "text",
      idCol: String = "doc_id"): DataFrame = {
    val toks = split(lower(trim(col(textCol))), "\\s+")
    val perDoc = docs.select(
      col(idCol).as("doc_id"),
      array(terms.map(t =>
        struct(lit(t).as("term"),
          size(filter(toks, x => x === lit(t))).cast("long").as("tf"))): _*).as("tfs"))
    val stats = perDoc.agg(
      count(lit(1)).as("n_docs"),
      array(terms.indices.map(i =>
        sum(when(col("tfs")(i)("tf") > 0, 1L).otherwise(0L)).as(s"df_$i")): _*).as("dfs"))
    perDoc
      .select(col("doc_id"), posexplode(col("tfs")).as(Seq("pos", "t")))
      .where(col("t")("tf") > 0)
      .crossJoin(broadcast(stats))
      .select(col("t")("term").as("term"), col("doc_id"), col("t")("tf").as("tf"),
        round(col("t")("tf") * log(col("n_docs").cast("double") /
          element_at(col("dfs"), col("pos") + 1)), 4).as("tfidf"))
  }

  /** ln 2, computed ONCE in Scala and embedded as the same literal in the
    * Spark plan and the generated SQL (the PoissonCum convention), so the
    * nDCG discount `1/log₂(r+1) = ln2/ln(r+1)` leaves only `ln(r+1)` to
    * the engines — the repo's established cross-engine ln primitive.
    */
  private val Ln2: Double = math.log(2.0)

  /** nDCG@k — the graded retrieval-quality metric beside [[rrfFuse]]'s
    * combiner and e69's binary AUC: per query,
    * `DCG@k = Σ_{rank ≤ k} rel·(1/log₂(rank+1))` normalized by the ideal
    * DCG of the same judged set (relevances re-sorted descending, top k).
    * Input is a judged ranking `(queryCol, rankCol, relCol)` — one row per
    * (query, document) with 1-based ranks and integer relevance grades;
    * the frame must carry each query's COMPLETE judged set (feeding only
    * a top-k slice silently truncates the ideal and inflates nDCG).
    * Output: `(query, n_ranked, n_rel, ndcg)` — ndcg 4dp, null when a
    * query has no relevant documents.
    *
    * Determinism: discounts are `round(10⁶·ln2/ln(rank+1))` exact longs
    * (rank 1 → exactly 10⁶), rel·discount products sum as longs, and the
    * one normalization division rounds at 4dp. Scale: the ideal ranking
    * is a window PARTITIONED BY query (bounded by a query's judged-list
    * length, never corpus-global); everything else is one hash aggregate.
    */
  def ndcgAtK(ranked: DataFrame, queryCol: String, rankCol: String,
      relCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k must be ≥ 1: $k")
    def disc(r: org.apache.spark.sql.Column) =
      round(lit(1000000.0) * Ln2 / log(r.cast("double") + lit(1.0)), 0)
        .cast("long")
    val wIdeal = org.apache.spark.sql.expressions.Window
      .partitionBy(col(queryCol))
      .orderBy(col(relCol).desc, col(rankCol))
    ranked
      .where(col(rankCol).isNotNull && col(relCol).isNotNull)
      .withColumn("__irank", row_number().over(wIdeal).cast("long"))
      .groupBy(col(queryCol).as("query"))
      .agg(
        count(lit(1)).as("n_ranked"),
        sum(when(col(relCol) > 0, 1L).otherwise(0L)).as("n_rel"),
        sum(when(col(rankCol) <= k, col(relCol).cast("long") * disc(col(rankCol)))
          .otherwise(0L)).as("__dcg"),
        sum(when(col("__irank") <= k, col(relCol).cast("long") * disc(col("__irank")))
          .otherwise(0L)).as("__idcg"))
      .select(col("query"), col("n_ranked"), col("n_rel"),
        when(col("__idcg") > 0,
          round(col("__dcg").cast("double") / col("__idcg").cast("double"), 4))
          .as("ndcg"))
  }

  /** DuckDB mirror of [[ndcgAtK]] — generated; same embedded ln2 literal,
    * same long discounts, same guards. `rankedRel` is any relation with
    * `(query, rnk, rel)` columns; `prelude` prepends CTEs it needs.
    */
  def ndcgAtKSql(rankedRel: String, k: Int, prelude: String = ""): String = {
    val pre = if (prelude.isEmpty) "" else s"$prelude "
    def disc(r: String) =
      // CAST the ln2 literal to DOUBLE: DuckDB parses a bare decimal
      // literal as DECIMAL and its fixed-width multiply overflows
      s"CAST(round(1000000.0 * CAST($Ln2 AS DOUBLE) / ln(CAST($r AS DOUBLE) + 1.0), 0) AS BIGINT)"
    s"""WITH ${pre}jr AS (
       |  SELECT query, rnk, rel,
       |    row_number() OVER (PARTITION BY query ORDER BY rel DESC, rnk)
       |      AS irank
       |  FROM $rankedRel
       |  WHERE rnk IS NOT NULL AND rel IS NOT NULL
       |), agg AS (
       |  SELECT query, COUNT(*) AS n_ranked,
       |    CAST(SUM(CASE WHEN rel > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_rel,
       |    CAST(SUM(CASE WHEN rnk <= $k
       |      THEN CAST(rel AS BIGINT) * ${disc("rnk")} ELSE 0 END) AS BIGINT)
       |      AS dcg,
       |    CAST(SUM(CASE WHEN irank <= $k
       |      THEN CAST(rel AS BIGINT) * ${disc("irank")} ELSE 0 END) AS BIGINT)
       |      AS idcg
       |  FROM jr GROUP BY 1
       |)
       |SELECT query, n_ranked, n_rel,
       |  CASE WHEN idcg > 0
       |       THEN round(CAST(dcg AS DOUBLE) / CAST(idcg AS DOUBLE), 4)
       |  END AS ndcg
       |FROM agg""".stripMargin
  }
}
