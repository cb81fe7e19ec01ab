package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distribution-drift diagnostics for corpus mixing: how far each source's
  * token distribution sits from the corpus mixture — the signal behind
  * mixture reweighting decisions (upweight a source, cap another) and the
  * audit that a new crawl didn't shift the language of a slice.
  *
  * Determinism (Reference scaladoc rules): all counts are exact longs; each
  * KL term fixes its float association
  * `(c_st·N_c) / (N_s·c_ct)` before the ONE libm `ln`, is scaled by the
  * exact count and 1e-6-fixed-pointed, and per-source terms sum as longs —
  * the e29 discipline, so both engines produce bit-identical divergences.
  *
  * Scale: one corpus scan into a (source, token) count table — that table
  * is |sources|×|vocab| (not corpus-sized), so it is pinned
  * ([[graft.ops.Layout.pin]]) and every derived frame (per-token totals,
  * per-source totals, the grand total, the term join) reads the pinned
  * blocks. The per-token totals broadcast (vocab-sized),
  * per-source totals broadcast (|sources| rows), so the term computation is
  * shuffle-free after the count pass.
  *
  * Pin lifetime: the pinned intermediates are local checkpoints owned by
  * the LAZY frame each operator returns. Their blocks live while that frame
  * (or any plan built on it) is reachable; Spark's ContextCleaner releases
  * them after, and `spark.catalog.clearCache()` does not touch them. The
  * frames are bounded (vocab/spine-sized, never corpus-sized) and stored
  * MEMORY_AND_DISK. Pinned blocks are not recomputed: a query that needs
  * blocks lost with an executor fails. This is the convention for every
  * pinning operator in graft.
  */
object Drift {

  /** KL(P_source ‖ P_corpus) in nats over unigram distributions, one row
    * per source: `(source, n_tokens, kl_nats)`. The corpus mixture includes
    * the source itself, so every source token has corpus support and the
    * divergence is finite; a source that IS the whole corpus scores 0.
    */
  def sourceTokenKl(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val tk = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val cst = docs
      .select(col(sourceCol).as("source"), explode(tk).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.ops.Layout.pin)
    val cct = cst.groupBy(col("w")).agg(sum(col("c")).as("ct"))
    val ns = cst.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val nc = cct.agg(sum(col("ct")).as("n_c"))
    cst
      .join(broadcast(cct), "w")
      .join(broadcast(ns), "source")
      .crossJoin(broadcast(nc))
      .select(col("source"), col("n_s"),
        round(col("c").cast("double") *
          log((col("c").cast("double") * col("n_c")) /
            (col("n_s").cast("double") * col("ct"))), 6).as("term"))
      .groupBy(col("source"), col("n_s"))
      .agg(round(
        sum(round(col("term") * lit(1000000), 0).cast("long")).cast("double")
          / lit(1000000) / col("n_s").cast("double"), 6).as("kl_nats"))
      .select(col("source"), col("n_s").as("n_tokens"), col("kl_nats"))
      .orderBy(col("source"))
  }

  /** Daily volume anomaly scores per event type: each (day, type) count is
    * z-scored against the trailing `lookback` OBSERVED days (a ROWS frame —
    * missing days don't pad the window), needing at least `minPrior` prior
    * days before a score is emitted; a zero-variance history yields null
    * rather than ±∞. The monitoring twin of the forecaster: no model fit,
    * just "is today's volume off its recent distribution".
    *
    * Determinism: daily counts are exact longs; trailing sum / sum-of-
    * squares stay exact under the window; mean/variance/z fix their float
    * association (`ss/cnt - mean·mean`, clamped at 0 against negative
    * epsilon) so both engines agree bit-for-bit, and z rounds at 4dp.
    *
    * Scale: the raw scan aggregates down to |days|×|types| rows in one
    * shuffle with map-side partials; the window pass then runs over that
    * tiny rollup partitioned by type. `n·n·lookback` must stay below 2^63 —
    * daily counts up to ~8·10^8 are safe.
    */
  def dailyAnomalies(events: DataFrame, lookback: Int = 14,
      minPrior: Int = 7): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(-lookback, -1)
    val mean = col("s").cast("double") / col("cnt")
    val variance = greatest(
      col("ss").cast("double") / col("cnt") - mean * mean, lit(0.0))
    daily
      .withColumn("cnt", count(col("n")).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("ss", sum(col("n") * col("n")).over(w))
      .select(
        date_format(col("day"), "yyyy-MM-dd").as("day"),
        col("event_type"), col("n"),
        when(col("cnt") >= minPrior, round(mean, 4)).as("mean_trailing"),
        when(col("cnt") >= minPrior && variance > 0,
          round((col("n").cast("double") - mean) / sqrt(variance), 4)).as("z"))
      .orderBy(col("day"), col("event_type"))
  }

  /** DuckDB mirror of [[dailyAnomalies]] — generated from the same
    * lookback/minPrior and the same association order.
    */
  def dailyAnomaliesSql(table: String, lookback: Int = 14,
      minPrior: Int = 7): String =
    s"""WITH daily AS (
       |  SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n
       |  FROM $table GROUP BY 1, 2
       |), win AS (
       |  SELECT day, event_type, n,
       |    COUNT(n) OVER w AS cnt,
       |    CAST(SUM(n) OVER w AS BIGINT) AS s,
       |    CAST(SUM(n*n) OVER w AS BIGINT) AS ss
       |  FROM daily
       |  WINDOW w AS (PARTITION BY event_type ORDER BY day
       |    ROWS BETWEEN $lookback PRECEDING AND 1 PRECEDING)
       |)
       |SELECT strftime(day, '%Y-%m-%d') AS day, event_type, n,
       |  CASE WHEN cnt >= $minPrior
       |       THEN round(CAST(s AS DOUBLE) / cnt, 4) END AS mean_trailing,
       |  CASE WHEN cnt >= $minPrior AND
       |    GREATEST(CAST(ss AS DOUBLE)/cnt -
       |      (CAST(s AS DOUBLE)/cnt)*(CAST(s AS DOUBLE)/cnt), 0.0) > 0
       |  THEN round((CAST(n AS DOUBLE) - CAST(s AS DOUBLE)/cnt) /
       |    sqrt(GREATEST(CAST(ss AS DOUBLE)/cnt -
       |      (CAST(s AS DOUBLE)/cnt)*(CAST(s AS DOUBLE)/cnt), 0.0)), 4)
       |  END AS z
       |FROM win ORDER BY day, event_type""".stripMargin

  /** DuckDB mirror of [[sourceTokenKl]] — generated so the formula, the
    * association order, and the 1e-6 fixed-point scale cannot drift.
    */
  def sourceTokenKlSql(table: String, textCol: String = "text",
      sourceCol: String = "source"): String =
    s"""WITH toks AS (
       |  SELECT $sourceCol AS source,
       |    unnest(list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
       |      t -> length(t) > 0)) AS w
       |  FROM $table
       |), cst AS (
       |  SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
       |), cct AS (
       |  SELECT w, CAST(SUM(c) AS BIGINT) AS ct FROM cst GROUP BY 1
       |), ns AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cst GROUP BY 1
       |), nc AS (
       |  SELECT CAST(SUM(ct) AS BIGINT) AS n_c FROM cct
       |), terms AS (
       |  SELECT s.source, x.n_s,
       |    round(CAST(s.c AS DOUBLE) *
       |      ln((CAST(s.c AS DOUBLE) * t.n_c) / (CAST(x.n_s AS DOUBLE) * c.ct)),
       |      6) AS term
       |  FROM cst s
       |  JOIN cct c ON s.w = c.w
       |  JOIN ns x ON s.source = x.source
       |  CROSS JOIN nc t
       |)
       |SELECT source, n_s AS n_tokens,
       |  round(CAST(SUM(CAST(round(term * 1000000) AS BIGINT)) AS DOUBLE)
       |    / 1000000 / CAST(n_s AS DOUBLE), 6) AS kl_nats
       |FROM terms GROUP BY source, n_s
       |ORDER BY source""".stripMargin

  /** Per-source Shannon entropy of the unigram distribution (nats), one
    * row per source: `(source, n_tokens, n_types, entropy, norm_entropy)`.
    * Entropy is the absolute lexical-diversity measure beside
    * [[sourceTokenKl]]'s relative drift: a low-entropy source is
    * boilerplate/templated text regardless of how it compares to the rest
    * of the corpus (the Gopher-style corpus-health signal at source
    * granularity, complementing e62's per-document distinct-n).
    * `norm_entropy` = H / ln(n_types) ∈ [0,1] (null for single-type
    * sources) factors out vocabulary size.
    *
    * Determinism: H = ln N − (Σ c·ln c)/N; each ln c is 1e-6-fixed-pointed
    * (`round(ln(c)·10⁶)` — an exact long both engines agree on), the
    * products c·⌊ln c·10⁶⌉ accumulate in DECIMAL(38,0) (c can reach 10¹²
    * at corpus scale, so a long Σ would overflow), and the final expression
    * runs ONCE on doubles from exactly-agreed integers in a fixed
    * association, 4dp-rounded.
    *
    * Scale: ONE corpus scan into the (source, token) count table, then a
    * vocab-sized aggregate per source — no further shuffle of the corpus;
    * the same posture as [[sourceTokenKl]].
    */
  def sourceEntropy(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val tk = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val lnFx = round(log(col("c").cast("double")) * lit(1000000), 0)
      .cast("decimal(19,0)")
    docs
      .select(col(sourceCol).as("source"), explode(tk).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("source"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(col("c").cast("decimal(19,0)") * lnFx).as("s_clnc"))
      .select(col("source"), col("n_tokens"), col("n_types"),
        // + 0.0 canonicalizes IEEE −0.0 (reachable when fixed-point error
        // nudges a ~zero entropy negative): Spark's BigDecimal round can't
        // produce −0.0 but DuckDB's can — the identity add makes both +0.0
        (round(log(col("n_tokens").cast("double")) -
          (col("s_clnc").cast("double") / lit(1000000.0)) /
            col("n_tokens").cast("double"), 4) + lit(0.0)).as("entropy"),
        when(col("n_types") > 1,
          round((log(col("n_tokens").cast("double")) -
            (col("s_clnc").cast("double") / lit(1000000.0)) /
              col("n_tokens").cast("double")) /
            log(col("n_types").cast("double")), 4) + lit(0.0)).as("norm_entropy"))
      .orderBy(col("source"))
  }

  /** DuckDB mirror of [[sourceEntropy]] — generated; same token split,
    * same 1e-6 ln fixed point, same DECIMAL(38,0) accumulation, same final
    * association.
    */
  def sourceEntropySql(table: String, textCol: String = "text",
      sourceCol: String = "source"): String =
    s"""WITH toks AS (
       |  SELECT $sourceCol AS source,
       |    unnest(list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
       |      t -> length(t) > 0)) AS w
       |  FROM $table
       |), cst AS (
       |  SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
       |), agg AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
       |    COUNT(*) AS n_types,
       |    SUM(CAST(c AS DECIMAL(19,0)) *
       |        CAST(round(ln(CAST(c AS DOUBLE)) * 1000000, 0) AS DECIMAL(19,0)))
       |      AS s_clnc
       |  FROM cst GROUP BY 1
       |)
       |SELECT source, n_tokens, n_types,
       |  -- + 0.0 canonicalizes IEEE -0.0, see the Spark twin
       |  round(ln(CAST(n_tokens AS DOUBLE))
       |    - (CAST(s_clnc AS DOUBLE) / 1000000.0) / CAST(n_tokens AS DOUBLE),
       |    4) + 0.0 AS entropy,
       |  CASE WHEN n_types > 1 THEN
       |    round((ln(CAST(n_tokens AS DOUBLE))
       |      - (CAST(s_clnc AS DOUBLE) / 1000000.0) / CAST(n_tokens AS DOUBLE))
       |      / ln(CAST(n_types AS DOUBLE)), 4) + 0.0
       |  END AS norm_entropy
       |FROM agg
       |ORDER BY source""".stripMargin

  /** Pairwise Jensen–Shannon divergence between source unigram
    * distributions, one row per unordered source pair: `(source_a,
    * source_b, n_tokens_a, n_tokens_b, jsd_nats)`. JSD(P,Q) =
    * ½KL(P‖M) + ½KL(Q‖M) with M the even mixture — symmetric, and always
    * FINITE (every supported token has mixture support), unlike raw
    * KL between two sources. This is the pairwise companion to
    * [[sourceTokenKl]]'s source-vs-corpus view: it answers "which two
    * slices are interchangeable and which are genuinely different corpora"
    * (0 = identical distributions, ln 2 ≈ 0.6931 = disjoint vocabularies).
    *
    * Determinism (the [[sourceTokenKl]] discipline): counts are exact
    * longs; each term fixes its float association
    * `(2·c_a·n_b) / (c_a·n_b + c_b·n_a)` before the ONE libm `ln`, is
    * scaled by the exact count, 6dp-rounded, 1e-6-fixed-pointed, and
    * summed as longs.
    *
    * Scale: ONE corpus scan into the (source, token) count table
    * (|sources|×|vocab|, never corpus-sized, pinned); the |pairs|-row
    * frame broadcasts onto it and the per-pair token spine + two count
    * lookups shuffle on (source, token) — bounded by |pairs|×|vocab|.
    * Quadratic in |sources| by construction: meant for the handful of
    * mixture slices a pipeline actually mixes, not thousands.
    */
  def sourceJsd(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val tk = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val cst = docs
      .select(col(sourceCol).as("source"), explode(tk).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.ops.Layout.pin)
    val ns = cst.groupBy(col("source")).agg(sum(col("c")).as("n"))
    val pairs = ns.select(col("source").as("source_a"), col("n").as("n_a"))
      .crossJoin(ns.select(col("source").as("source_b"), col("n").as("n_b")))
      .where(col("source_a") < col("source_b"))
    // per-pair token spine: every token in EITHER source (a one-sided
    // count of 0 still contributes its ln 2 term — dropping it would
    // understate the divergence of disjoint slices)
    val spine = cst.select(col("source"), col("w"))
      .join(broadcast(pairs),
        col("source") === col("source_a") || col("source") === col("source_b"))
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"), col("w"))
      .distinct()
    val withCounts = spine
      .join(cst.select(col("source").as("source_a"), col("w"), col("c").as("c_a")),
        Seq("source_a", "w"), "left")
      .join(cst.select(col("source").as("source_b"), col("w"), col("c").as("c_b")),
        Seq("source_b", "w"), "left")
      .na.fill(0L, Seq("c_a", "c_b"))
    val (caD, cbD) = (col("c_a").cast("double"), col("c_b").cast("double"))
    val (naD, nbD) = (col("n_a").cast("double"), col("n_b").cast("double"))
    // p/m and q/m reduce to count-ratio forms — association fixed before ln
    val termA = when(col("c_a") > 0,
      round(caD * log((lit(2.0) * caD * nbD) / (caD * nbD + cbD * naD)), 6))
      .otherwise(lit(0.0))
    val termB = when(col("c_b") > 0,
      round(cbD * log((lit(2.0) * cbD * naD) / (cbD * naD + caD * nbD)), 6))
      .otherwise(lit(0.0))
    withCounts
      .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
        termA.as("term_a"), termB.as("term_b"))
      .groupBy(col("source_a"), col("source_b"), col("n_a"), col("n_b"))
      .agg(
        sum(round(col("term_a") * lit(1000000), 0).cast("long")).as("sa"),
        sum(round(col("term_b") * lit(1000000), 0).cast("long")).as("sb"))
      .select(col("source_a"), col("source_b"),
        col("n_a").as("n_tokens_a"), col("n_b").as("n_tokens_b"),
        round((col("sa").cast("double") / lit(1000000) / col("n_a").cast("double")
          + col("sb").cast("double") / lit(1000000) / col("n_b").cast("double"))
          / lit(2.0), 6).as("jsd_nats"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** DuckDB mirror of [[sourceJsd]] — generated; same association order,
    * same 6dp term rounding and 1e-6 fixed-point sums.
    */
  def sourceJsdSql(table: String, textCol: String = "text",
      sourceCol: String = "source"): String =
    s"""WITH toks AS (
       |  SELECT $sourceCol AS source,
       |    unnest(list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
       |      t -> length(t) > 0)) AS w
       |  FROM $table
       |), cst AS (
       |  SELECT source, w, COUNT(*) AS c FROM toks GROUP BY 1, 2
       |), ns AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n FROM cst GROUP BY 1
       |), pairs AS (
       |  SELECT a.source AS source_a, a.n AS n_a, b.source AS source_b, b.n AS n_b
       |  FROM ns a, ns b WHERE a.source < b.source
       |), spine AS (
       |  SELECT DISTINCT p.source_a, p.source_b, p.n_a, p.n_b, c.w
       |  FROM pairs p JOIN cst c ON c.source = p.source_a OR c.source = p.source_b
       |), counted AS (
       |  SELECT t.source_a, t.source_b, t.n_a, t.n_b,
       |    COALESCE(a.c, 0) AS c_a, COALESCE(b.c, 0) AS c_b
       |  FROM spine t
       |  LEFT JOIN cst a ON a.source = t.source_a AND a.w = t.w
       |  LEFT JOIN cst b ON b.source = t.source_b AND b.w = t.w
       |), scored AS (
       |  SELECT source_a, source_b, n_a, n_b,
       |    CASE WHEN c_a > 0 THEN round(CAST(c_a AS DOUBLE) *
       |      ln((2.0 * CAST(c_a AS DOUBLE) * CAST(n_b AS DOUBLE)) /
       |         (CAST(c_a AS DOUBLE) * CAST(n_b AS DOUBLE)
       |          + CAST(c_b AS DOUBLE) * CAST(n_a AS DOUBLE))), 6)
       |      ELSE 0.0 END AS term_a,
       |    CASE WHEN c_b > 0 THEN round(CAST(c_b AS DOUBLE) *
       |      ln((2.0 * CAST(c_b AS DOUBLE) * CAST(n_a AS DOUBLE)) /
       |         (CAST(c_b AS DOUBLE) * CAST(n_a AS DOUBLE)
       |          + CAST(c_a AS DOUBLE) * CAST(n_b AS DOUBLE))), 6)
       |      ELSE 0.0 END AS term_b
       |  FROM counted
       |)
       |SELECT source_a, source_b, n_a AS n_tokens_a, n_b AS n_tokens_b,
       |  round((CAST(SUM(CAST(round(term_a * 1000000) AS BIGINT)) AS DOUBLE)
       |      / 1000000 / CAST(n_a AS DOUBLE)
       |    + CAST(SUM(CAST(round(term_b * 1000000) AS BIGINT)) AS DOUBLE)
       |      / 1000000 / CAST(n_b AS DOUBLE)) / 2.0, 6) AS jsd_nats
       |FROM scored GROUP BY source_a, source_b, n_a, n_b
       |ORDER BY source_a, source_b""".stripMargin

  /** Temperature-scaled mixture plan — the standard multi-source training
    * recipe (the α-sampling of multilingual/multi-corpus LM training):
    * source s gets sampling weight w_s ∝ n_s^α (α < 1 upweights small
    * sources relative to proportional sampling; α = 1 IS proportional),
    * and a token `budget` turns the weights into per-source target token
    * counts and epochs (target/n — epochs > 1 means that source repeats).
    * One row per source: `(source, n_tokens, weight, target_tokens,
    * epochs)`.
    *
    * Determinism: per-source token counts are exact longs; n^α is the ONE
    * libm call, 4dp-rounded; the cross-source normalizer sums the rounded
    * values as 1e-4-fixed-point longs (float-order-free); weight, target,
    * and epochs each fix one textual association and round.
    *
    * Scale: ONE aggregation shuffle on source (map-side partials); the
    * |sources|-row result and its 1-row normalizer broadcast. The heavy
    * side is scanned once.
    */
  def mixturePlan(docs: DataFrame, budgetTokens: Long, alpha: Double = 0.7,
      textCol: String = "text", sourceCol: String = "source"): DataFrame = {
    require(budgetTokens > 0 && budgetTokens <= (1L << 53),
      s"budgetTokens must be in (0, 2^53] for exact double arithmetic: $budgetTokens")
    require(alpha > 0 && alpha <= 1, s"alpha must be in (0, 1]: $alpha")
    val tk = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val ns = docs
      .select(col(sourceCol).as("source"), size(tk).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("n_tokens"))
    val scored = ns.withColumn("p",
      round(pow(col("n_tokens").cast("double"), lit(alpha)), 4))
    val tot = scored.agg(
      sum(round(col("p") * lit(10000), 0).cast("long")).as("ptot"))
    scored
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        round(col("p") * lit(10000) / col("ptot").cast("double"), 6).as("weight"))
      .select(col("source"), col("n_tokens"), col("weight"),
        round(lit(budgetTokens) * col("weight"), 0).cast("long").as("target_tokens"))
      .select(col("source"), col("n_tokens"), col("weight"), col("target_tokens"),
        round(col("target_tokens").cast("double") / col("n_tokens").cast("double"), 4)
          .as("epochs"))
      .orderBy(col("source"))
  }

  /** DuckDB mirror of [[mixturePlan]] — generated from the same α and
    * budget, same association order and fixed points.
    */
  def mixturePlanSql(table: String, budgetTokens: Long, alpha: Double = 0.7,
      textCol: String = "text", sourceCol: String = "source"): String =
    s"""WITH toks AS (
       |  SELECT $sourceCol AS source,
       |    len(list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
       |      t -> length(t) > 0)) AS nt
       |  FROM $table
       |), ns AS (
       |  SELECT source, CAST(SUM(nt) AS BIGINT) AS n_tokens FROM toks GROUP BY 1
       |), scored AS (
       |  SELECT source, n_tokens,
       |    round(pow(CAST(n_tokens AS DOUBLE), $alpha), 4) AS p
       |  FROM ns
       |), tot AS (
       |  SELECT CAST(SUM(CAST(round(p * 10000) AS BIGINT)) AS BIGINT) AS ptot
       |  FROM scored
       |), weighted AS (
       |  SELECT source, n_tokens,
       |    round(p * 10000 / CAST(ptot AS DOUBLE), 6) AS weight
       |  FROM scored, tot
       |), targeted AS (
       |  SELECT source, n_tokens, weight,
       |    CAST(round($budgetTokens * weight, 0) AS BIGINT) AS target_tokens
       |  FROM weighted
       |)
       |SELECT source, n_tokens, weight, target_tokens,
       |  round(CAST(target_tokens AS DOUBLE) / CAST(n_tokens AS DOUBLE), 4) AS epochs
       |FROM targeted ORDER BY source""".stripMargin

  /** Daily gap filling (time-series resampling): per-series daily counts
    * with every missing calendar day between the series' first and last
    * observation zero-filled — the step that makes [[dailyAnomalies]]'s
    * trailing frames and the forecaster's regular grid honest on sparse
    * streams (an unobserved day IS a zero-count observation, not a hole to
    * silently skip).
    *
    * Scale posture: ONE count shuffle ((series, day) — bounded by
    * series × days, never corpus-sized); the day spine explodes from the
    * |series|-row min/max frame via `sequence()` and the fill join runs on
    * the two bounded frames. Output: (series, day 'yyyy-MM-dd', n).
    */
  def fillDailyGaps(events: DataFrame, seriesCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    // pinned: the spine's min/max pass and the fill join both consume
    // this frame, and stage reuse does NOT deduplicate the two consumers
    // (measured: without the pin the plan scans events twice — the
    // same finding as Collocations' count table). Bounded at series × days.
    val daily = events
      .groupBy(col(seriesCol).as("series"), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.ops.Layout.pin)
    val spine = daily
      .groupBy(col("series"))
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(col("series"),
        explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("day"))
    spine.join(daily, Seq("series", "day"), "left")
      .select(col("series"), date_format(col("day"), "yyyy-MM-dd").as("day"),
        coalesce(col("n"), lit(0L)).as("n"))
      .orderBy(col("series"), col("day"))
  }

  /** Rolling daily MEDIAN volume per series — the robust companion to
    * [[dailyAnomalies]]'s mean/variance z-score (one bad day poisons a
    * trailing mean for `lookback` days; it barely moves the median). Runs
    * over the ZERO-FILLED grid ([[fillDailyGaps]]) so sparse series smooth
    * over their true zero days, with a `window`-row trailing frame
    * (shrinking at the series head, the SQL frame contract). The exact
    * percentile buffers only `window` values per row — bounded, unlike the
    * corpus-percentile case. Output: (series, day, n, med), med
    * 4dp-rounded.
    */
  def rollingDailyMedian(events: DataFrame, window: Int = 7,
      seriesCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    require(window > 0, s"window must be positive: $window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("day"))
      .rowsBetween(-(window - 1), 0)
    fillDailyGaps(events, seriesCol, tsCol)
      .withColumn("med", round(expr("percentile(n, 0.5D)").over(w), 4))
      .orderBy(col("series"), col("day"))
  }

  /** DuckDB mirror of [[rollingDailyMedian]] — generated, same frame. */
  def rollingDailyMedianSql(table: String, window: Int = 7,
      seriesCol: String = "event_type", tsCol: String = "ts"): String =
    s"""WITH filled AS (${fillDailyGapsSql(table, seriesCol, tsCol)})
       |SELECT series, day, n,
       |  round(quantile_cont(n, 0.5) OVER (PARTITION BY series ORDER BY day
       |    ROWS BETWEEN ${window - 1} PRECEDING AND CURRENT ROW), 4) AS med
       |FROM filled
       |ORDER BY series, day""".stripMargin

  /** Trailing exponentially-weighted moving average of daily volume per
    * series, α = ½, over the zero-filled grid ([[fillDailyGaps]]) — the
    * fast-reacting smoother between [[rollingDailyMedian]] (robust, laggy)
    * and [[dailyAnomalies]] (no smoothing at all). The "adjusted" form:
    * ewma_t = Σ_k 2^(W−1−k)·n_{t−k} / Σ_k 2^(W−1−k) over the available
    * trailing `window` days, so the series head is a true average of what
    * exists, not biased toward a phantom zero history.
    *
    * Determinism: α = ½ makes every weight an exact power-of-two long —
    * numerator and denominator are EXACT integer sums (no float pow, no
    * reduction-order hazard), and each row emits ONE 4dp division. A
    * general α would put libm `pow` in both engines; ½ keeps the whole
    * computation in integers, which is why it is the only α offered.
    *
    * Scale: runs entirely on the series×days grid — the `window` lag
    * columns are per-grid-row, never per-event. Exactness bound:
    * n·2^(window−1) per term must stay under 2⁶³ — daily counts to ~10¹⁴
    * at the default window 8.
    */
  def ewmaDaily(events: DataFrame, window: Int = 8,
      seriesCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    require(window >= 1 && window <= 48,
      s"window must be in [1, 48] (weights are 2^(window-1) longs): $window")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("series")).orderBy(col("day"))
    def lagN(k: Int): Column = if (k == 0) col("n") else lag(col("n"), k).over(w)
    val terms = (0 until window).map { k =>
      val wt = 1L << (window - 1 - k)
      (when(lagN(k).isNotNull, lagN(k) * lit(wt)).otherwise(lit(0L)),
        when(lagN(k).isNotNull, lit(wt)).otherwise(lit(0L)))
    }
    val num = terms.map(_._1).reduce(_ + _)
    val den = terms.map(_._2).reduce(_ + _)
    fillDailyGaps(events, seriesCol, tsCol)
      .select(col("series"), col("day"), col("n"),
        round(num.cast("double") / den.cast("double"), 4).as("ewma"))
      .orderBy(col("series"), col("day"))
  }

  /** DuckDB mirror of [[ewmaDaily]] — generated, same exact-integer
    * weights and fixed division.
    */
  def ewmaDailySql(table: String, window: Int = 8,
      seriesCol: String = "event_type", tsCol: String = "ts"): String = {
    def lagN(k: Int) = if (k == 0) "n" else s"LAG(n, $k) OVER w"
    val num = (0 until window).map { k =>
      val wt = 1L << (window - 1 - k)
      s"CASE WHEN ${lagN(k)} IS NULL THEN 0 ELSE ${lagN(k)} * $wt END"
    }.mkString(" + ")
    val den = (0 until window).map { k =>
      val wt = 1L << (window - 1 - k)
      s"CASE WHEN ${lagN(k)} IS NULL THEN 0 ELSE $wt END"
    }.mkString(" + ")
    s"""WITH filled AS (${fillDailyGapsSql(table, seriesCol, tsCol)})
       |SELECT series, day, n,
       |  round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 4) AS ewma
       |FROM filled
       |WINDOW w AS (PARTITION BY series ORDER BY day)
       |ORDER BY series, day""".stripMargin
  }

  /** Sample autocorrelation per series at lags 1..`maxLag` over the
    * zero-filled daily grid ([[fillDailyGaps]]) — the seasonality/memory
    * diagnostic beside [[dailyAnomalies]] and the forecaster: a weekly
    * cycle shows as a peak at lag 7, white noise stays near 0. The standard
    * estimator r_ℓ = Σ_{t>ℓ}(x_t−x̄)(x_{t−ℓ}−x̄) / Σ_t(x_t−x̄)².
    *
    * Determinism: with T days and S = Σx per series, both sums are
    * computed on y_t = x_t·T − S — EXACT integers (the common 1/T² factor
    * cancels in the ratio, so x̄ never exists as a float). y products
    * accumulate as DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) exact sums;
    * ONE double division per (series, lag), 4dp-rounded. A constant series
    * (zero variance) yields null.
    *
    * Scale: one count shuffle reduces the stream to the series×days grid;
    * the window/lag passes and the final aggregate run on that grid, never
    * on raw rows. Exactness bound: |x_t·T| < 2⁶³ — daily counts up to
    * ~10¹⁴ at a 10⁵-day history.
    */
  def acf(events: DataFrame, maxLag: Int = 7,
      seriesCol: String = "event_type", tsCol: String = "ts"): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(col("series"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wLag = Window.partitionBy(col("series")).orderBy(col("day"))
    val ys = fillDailyGaps(events, seriesCol, tsCol)
      .withColumn("t", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("n")).over(wAll))
      .withColumn("y", (col("n") * col("t") - col("s")).cast("decimal(19,0)"))
    val lagged = (1 to maxLag).foldLeft(ys) { (df, l) =>
      df.withColumn(s"y_$l", lag(col("y"), l).over(wLag))
    }
    val aggs = sum(col("y") * col("y")).as("d") +:
      (1 to maxLag).map(l => sum(col("y") * col(s"y_$l")).as(s"num_$l"))
    val agg = lagged.groupBy(col("series"))
      .agg(max(col("t")).as("n_days"), aggs: _*)
    val rows = (1 to maxLag).map { l =>
      struct(lit(l).as("lag"),
        when(col("d") > 0,
          round(col(s"num_$l").cast("double") / col("d").cast("double"), 4))
          .as("acf"))
    }
    agg.select(col("series"), col("n_days"), explode(array(rows: _*)).as("r"))
      .select(col("series"), col("r.lag").as("lag"), col("n_days"),
        col("r.acf").as("acf"))
      .orderBy(col("series"), col("lag"))
  }

  /** Lead–lag cross-correlation between two named series at lags
    * −`maxLag`..+`maxLag` over a SHARED zero-filled daily spine — the
    * "does B's volume foreshadow A's" diagnostic beside [[acf]]'s
    * self-memory: `r_ℓ` correlates `a_t` with `b_{t−ℓ}`, so a peak at
    * ℓ > 0 means B leads A by ℓ days. One spine (global min..max day of
    * the two series, missing days = 0 on both) keeps the pairing honest —
    * per-series spans would silently shift the alignment.
    *
    * Determinism: the [[acf]] atoms — `y_t = x_t·T − Σx` EXACT integers
    * per series, DECIMAL(19,0)² product sums; ONE double division per lag
    * against `sqrt(d_a·d_b)` (the product taken on doubles of exact
    * decimals, fixed order), 4dp. Either series constant on the spine →
    * null at every lag. Both-series-absent input → zero rows.
    *
    * Scale: one count shuffle to the day grid; windows, lag passes, and
    * the aggregate run on the days-bounded grid (the resolution bound, not
    * a row bound).
    */
  def crossCorr(events: DataFrame, seriesA: String, seriesB: String,
      maxLag: Int = 7, seriesCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    require(maxLag >= 1, s"maxLag must be >= 1: $maxLag")
    import org.apache.spark.sql.expressions.Window
    val daily = events
      .where(col(seriesCol).isin(seriesA, seriesB))
      .groupBy(to_date(col(tsCol)).as("day"), col(seriesCol).as("series"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.ops.Layout.pin)
    val spine = daily
      .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .where(col("d0").isNotNull)
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"))
    val grid = spine
      .join(daily.where(col("series") === seriesA)
        .select(col("day"), col("n").as("na")), Seq("day"), "left")
      .join(daily.where(col("series") === seriesB)
        .select(col("day"), col("n").as("nb")), Seq("day"), "left")
      .na.fill(0L, Seq("na", "nb"))
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val wOrd = Window.orderBy(col("day"))
    def nm(l: Int) = if (l < 0) s"yb_m${-l}" else s"yb_p$l"
    val ys = grid
      .withColumn("t", count(lit(1)).over(wAll))
      .withColumn("sa", sum(col("na")).over(wAll))
      .withColumn("sb", sum(col("nb")).over(wAll))
      .withColumn("ya", (col("na") * col("t") - col("sa")).cast("decimal(19,0)"))
      .withColumn("yb", (col("nb") * col("t") - col("sb")).cast("decimal(19,0)"))
    val lagged = (-maxLag to maxLag).foldLeft(ys) { (df, l) =>
      val c = if (l >= 0) lag(col("yb"), l).over(wOrd)
        else lead(col("yb"), -l).over(wOrd)
      df.withColumn(nm(l), c)
    }
    val aggs = Seq(sum(col("ya") * col("ya")).as("da"),
      sum(col("yb") * col("yb")).as("db")) ++
      (-maxLag to maxLag).map(l => sum(col("ya") * col(nm(l))).as(s"num_${nm(l)}"))
    val agg = lagged.agg(max(col("t")).as("n_days"), aggs: _*)
    val rows = (-maxLag to maxLag).map { l =>
      struct(lit(l).as("lag"),
        when(col("da") > 0 && col("db") > 0,
          round(col(s"num_${nm(l)}").cast("double") /
            sqrt(col("da").cast("double") * col("db").cast("double")), 4))
          .as("ccf"))
    }
    agg.select(col("n_days"), explode(array(rows: _*)).as("r"))
      .where(col("n_days").isNotNull)
      .select(col("r.lag").as("lag"), col("n_days"), col("r.ccf").as("ccf"))
      .orderBy(col("lag"))
  }

  /** DuckDB mirror of [[crossCorr]] — generated; same spine, same exact
    * atoms, same divisions.
    */
  def crossCorrSql(table: String, seriesA: String, seriesB: String,
      maxLag: Int = 7, seriesCol: String = "event_type",
      tsCol: String = "ts"): String = {
    def nm(l: Int) = if (l < 0) s"yb_m${-l}" else s"yb_p$l"
    val lagCols = (-maxLag to maxLag).map { l =>
      val f = if (l >= 0) s"lag(yb, $l)" else s"lead(yb, ${-l})"
      s"$f OVER (ORDER BY day) AS ${nm(l)}"
    }.mkString(",\n    ")
    val numAggs = (-maxLag to maxLag)
      .map(l => s"SUM(ya * ${nm(l)}) AS num_${nm(l)}")
      .mkString(",\n    ")
    val branches = (-maxLag to maxLag).map { l =>
      s"""SELECT $l AS lag, n_days,
         |  CASE WHEN da > 0 AND db > 0
         |       THEN round(CAST(num_${nm(l)} AS DOUBLE)
         |         / sqrt(CAST(da AS DOUBLE) * CAST(db AS DOUBLE)), 4)
         |  END AS ccf FROM agg""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH daily AS (
       |  SELECT CAST($tsCol AS DATE) AS day, $seriesCol AS series,
       |    COUNT(*) AS n
       |  FROM $table
       |  WHERE $seriesCol IN ('$seriesA', '$seriesB')
       |  GROUP BY 1, 2
       |), mm AS (
       |  SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily
       |), spine AS (
       |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM mm WHERE d0 IS NOT NULL
       |), grid AS (
       |  SELECT s.day,
       |    COALESCE(a.n, 0) AS na, COALESCE(b.n, 0) AS nb
       |  FROM spine s
       |  LEFT JOIN daily a ON a.day = s.day AND a.series = '$seriesA'
       |  LEFT JOIN daily b ON b.day = s.day AND b.series = '$seriesB'
       |), ys AS (
       |  SELECT day,
       |    CAST(na * t - sa AS DECIMAL(19,0)) AS ya,
       |    CAST(nb * t - sb AS DECIMAL(19,0)) AS yb, t
       |  FROM (
       |    SELECT day, na, nb,
       |      COUNT(*) OVER () AS t,
       |      CAST(SUM(na) OVER () AS BIGINT) AS sa,
       |      CAST(SUM(nb) OVER () AS BIGINT) AS sb
       |    FROM grid
       |  )
       |), lagged AS (
       |  SELECT day, t, ya, yb,
       |    $lagCols
       |  FROM ys
       |), agg AS (
       |  SELECT CAST(MAX(t) AS BIGINT) AS n_days,
       |    SUM(ya * ya) AS da,
       |    SUM(yb * yb) AS db,
       |    $numAggs
       |  FROM lagged
       |)
       |SELECT lag, n_days, ccf FROM ($branches) u
       |WHERE n_days IS NOT NULL
       |ORDER BY lag""".stripMargin
  }

  /** DuckDB mirror of [[acf]] — generated; same grid, same exact y atoms,
    * same single-division association.
    */
  def acfSql(table: String, maxLag: Int = 7,
      seriesCol: String = "event_type", tsCol: String = "ts"): String = {
    val lagCols = (1 to maxLag).map(l =>
      s"lag(y, $l) OVER (PARTITION BY series ORDER BY day) AS y_$l")
      .mkString(",\n       |    ").stripMargin
    val numAggs = (1 to maxLag).map(l => s"SUM(y * y_$l) AS num_$l")
      .mkString(",\n       |    ").stripMargin
    val branches = (1 to maxLag).map(l =>
      s"""SELECT series, $l AS lag, n_days,
         |  CASE WHEN d > 0
         |       THEN round(CAST(num_$l AS DOUBLE) / CAST(d AS DOUBLE), 4)
         |  END AS acf FROM agg""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH filled AS (${fillDailyGapsSql(table, seriesCol, tsCol)}
       |), stats AS (
       |  SELECT series, day, n,
       |    COUNT(*) OVER (PARTITION BY series) AS t,
       |    CAST(SUM(n) OVER (PARTITION BY series) AS BIGINT) AS s
       |  FROM filled
       |), ys AS (
       |  SELECT series, day, t,
       |    CAST(n * t - s AS DECIMAL(19,0)) AS y
       |  FROM stats
       |), lagged AS (
       |  SELECT series, t, y,
       |    $lagCols
       |  FROM ys
       |), agg AS (
       |  SELECT series, CAST(MAX(t) AS BIGINT) AS n_days,
       |    SUM(y * y) AS d,
       |    $numAggs
       |  FROM lagged GROUP BY series
       |)
       |SELECT * FROM ($branches) u
       |ORDER BY series, lag""".stripMargin
  }

  /** Vocabulary overlap per source pair: distinct-token intersection,
    * Jaccard, and containment — the cheap set-level companion to
    * [[sourceJsd]]'s distributional distance (a crawl slice that is a
    * near-subset of an existing source shows containment ≈ 1 long before
    * its token MIX converges). One row per unordered pair:
    * `(source_a, source_b, v_a, v_b, inter, jaccard, containment)` with
    * `containment = inter / min(v_a, v_b)`.
    *
    * Determinism: all set sizes are exact longs; the two ratios are single
    * 6dp-rounded divisions. Pairs with EMPTY intersection are densified
    * from the source spine (a disjoint pair is a 0.0 row, not a missing
    * one). A source whose documents tokenize to nothing has no vocabulary
    * and drops out entirely.
    *
    * Scale: the corpus reduces to the distinct (source, token) table in
    * one shuffle (|S|×|V|-bounded, pinned); the intersection self-join
    * shuffles that table by token — a token in k sources contributes
    * k(k−1)/2 pair rows, so the join is |V|·|S|²-bounded, never
    * corpus-sized; sizes and the pair spine are |S|-row frames.
    */
  def vocabOverlap(docs: DataFrame, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    val tk = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val vocab = docs
      .select(col(sourceCol).as("source"), explode(tk).as("w"))
      .distinct()
      .transform(graft.ops.Layout.pin)
    val sizes = vocab.groupBy(col("source")).agg(count(lit(1)).as("v"))
    val inter = vocab.select(col("source").as("source_a"), col("w"))
      .join(vocab.select(col("source").as("source_b"), col("w")), Seq("w"))
      .where(col("source_a") < col("source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
    val spine = sizes.select(col("source").as("source_a"), col("v").as("v_a"))
      .crossJoin(sizes.select(col("source").as("source_b"), col("v").as("v_b")))
      .where(col("source_a") < col("source_b"))
    spine.join(inter, Seq("source_a", "source_b"), "left")
      .na.fill(0L, Seq("inter"))
      .select(col("source_a"), col("source_b"), col("v_a"), col("v_b"),
        col("inter"),
        round(col("inter").cast("double") /
          (col("v_a") + col("v_b") - col("inter")).cast("double"), 6)
          .as("jaccard"),
        round(col("inter").cast("double") /
          least(col("v_a"), col("v_b")).cast("double"), 6).as("containment"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** DuckDB mirror of [[vocabOverlap]] — generated; same tokenizer, same
    * densified spine, same final associations.
    */
  def vocabOverlapSql(table: String, textCol: String = "text",
      sourceCol: String = "source"): String =
    s"""WITH vocab AS (
       |  SELECT DISTINCT $sourceCol AS source,
       |    unnest(list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
       |      t -> length(t) > 0)) AS w
       |  FROM $table
       |), sizes AS (
       |  SELECT source, COUNT(*) AS v FROM vocab GROUP BY source
       |), inter AS (
       |  SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS inter
       |  FROM vocab a JOIN vocab b ON a.w = b.w AND a.source < b.source
       |  GROUP BY 1, 2
       |), spine AS (
       |  SELECT a.source AS source_a, a.v AS v_a, b.source AS source_b,
       |    b.v AS v_b
       |  FROM sizes a CROSS JOIN sizes b
       |  WHERE a.source < b.source
       |)
       |SELECT s.source_a, s.source_b, s.v_a, s.v_b,
       |  COALESCE(i.inter, 0) AS inter,
       |  round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |    / CAST(s.v_a + s.v_b - COALESCE(i.inter, 0) AS DOUBLE), 6) AS jaccard,
       |  round(CAST(COALESCE(i.inter, 0) AS DOUBLE)
       |    / CAST(least(s.v_a, s.v_b) AS DOUBLE), 6) AS containment
       |FROM spine s
       |LEFT JOIN inter i ON i.source_a = s.source_a AND i.source_b = s.source_b
       |ORDER BY s.source_a, s.source_b""".stripMargin

  /** Population Stability Index between two time slices of a value
    * distribution — the standard drift gate of ML monitoring (rule of
    * thumb: < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 investigate).
    * Period A is `ts < splitTs`, period B is `ts >= splitTs` (a NULL
    * timestamp lands in NEITHER period, on both engines); values land on a
    * fixed-width bucket grid and
    * `PSI = Σ (pA − pB) · ln((pA + ε)/(pB + ε))` with ε = 1e-6 smoothing
    * both sides (a bucket present in only one period contributes a large
    * finite term instead of ±∞ — the portable form of the textbook
    * "drop or epsilon" caveat).
    *
    * Scale: one scan reduces to the bucket grid (resolution-bounded,
    * `floor(value/width)`) with BOTH period counts in the same conditional
    * hash aggregate — the two-period comparison costs one pass, not two.
    * Totals re-enter via a 1-row broadcast. Per-bucket terms round to 6dp
    * and sum FIXED-POINT (the [[sourceTokenKl]] 1e-6 convention), so the
    * reduction order cannot diverge across engines. Output: one row
    * (n_a, n_b, n_buckets, psi).
    */
  def psi(events: DataFrame, splitTs: String, valueCol: String = "value",
      tsCol: String = "ts", bucketWidth: Double = 50.0): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be positive: $bucketWidth")
    val cnt = events.select(
        floor(col(valueCol) / bucketWidth).cast("long").as("b"),
        (col(tsCol) < to_timestamp(lit(splitTs))).as("is_a"))
      .groupBy(col("b"))
      .agg(sum(when(col("is_a"), 1L).otherwise(0L)).as("ca"),
        sum(when(!col("is_a"), 1L).otherwise(0L)).as("cb"))
    val tot = cnt.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"))
    val pa = col("ca").cast("double") / col("na")
    val pb = col("cb").cast("double") / col("nb")
    val term = round((pa - pb) * log((pa + lit(1e-6)) / (pb + lit(1e-6))), 6)
    cnt.crossJoin(broadcast(tot))
      .select(col("na"), col("nb"), term.as("t"))
      .groupBy(col("na"), col("nb"))
      .agg(count(lit(1)).as("n_buckets"),
        round(sum(round(col("t") * lit(1000000), 0).cast("long")).cast("double")
          / lit(1000000), 6).as("psi"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        col("n_buckets"), col("psi"))
  }

  /** DuckDB mirror of [[psi]] — generated; double literals CAST explicitly
    * (DuckDB parses bare decimals as DECIMAL — the e105 lesson), same
    * textual float order, same 1e-6 fixed-point sum. Period B tests
    * `ts >= split` (not `NOT ts < split`): a NULL timestamp must fall out
    * of BOTH periods, exactly as Spark's two when/otherwise branches do.
    */
  def psiSql(table: String, splitTs: String, valueCol: String = "value",
      tsCol: String = "ts", bucketWidth: Double = 50.0): String =
    s"""WITH c AS (
       |  SELECT CAST(floor($valueCol / CAST($bucketWidth AS DOUBLE)) AS BIGINT) AS b,
       |    CAST(SUM(CASE WHEN $tsCol < TIMESTAMP '$splitTs' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
       |    CAST(SUM(CASE WHEN $tsCol >= TIMESTAMP '$splitTs' THEN 1 ELSE 0 END) AS BIGINT) AS cb
       |  FROM $table GROUP BY 1
       |), t AS (
       |  SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb
       |  FROM c
       |), terms AS (
       |  SELECT na, nb,
       |    round((CAST(ca AS DOUBLE)/na - CAST(cb AS DOUBLE)/nb) *
       |      ln((CAST(ca AS DOUBLE)/na + CAST(0.000001 AS DOUBLE)) /
       |         (CAST(cb AS DOUBLE)/nb + CAST(0.000001 AS DOUBLE))), 6) AS tm
       |  FROM c, t
       |)
       |SELECT na AS n_a, nb AS n_b, COUNT(*) AS n_buckets,
       |  round(CAST(SUM(CAST(round(tm * 1000000, 0) AS BIGINT)) AS BIGINT)
       |    / 1000000.0, 6) AS psi
       |FROM terms GROUP BY na, nb""".stripMargin

  /** Distinctive terms per source by smoothed log-odds z-score (Monroe,
    * Colaresi & Quinn 2008 "Fightin' Words", add-one prior): for each
    * (source, token), the log-odds of the token in the source vs the REST
    * of the corpus, standardized by its estimated variance — the "what
    * makes this slice different" report that raw TF-IDF overstates for
    * rare tokens. Output: top `topK` rows per source,
    * `(source, token, c, z_score, rank)`.
    *
    * Determinism: with `o = c_t − c` (rest count), `m = n_s − c + 1` and
    * `mo = (N − n_s) − o + 1`, the two odds ratios combine into ONE ln on
    * an exact-integer ratio — `δ = ln((c+1)·mo / (m·(o+1)))`, numerator
    * and denominator EXACT DECIMAL(38,0) products, one division, one
    * libm `ln`; `σ² = 1/(c+1) + 1/(o+1)` is a fixed two-term textual sum;
    * `z = round(δ/sqrt(σ²), 4)`. Ranks order by the ROUNDED z then token
    * (total), so both engines rank identically.
    *
    * Scale: everything runs on the pinned |S|×|V| count table — corpus
    * totals re-aggregate from it (the stream is scanned once), the rest
    * counts come from a token-keyed join of grid-sized frames, and the
    * top-k window is per-source over the grid.
    */
  def logOddsTerms(docs: DataFrame, topK: Int = 10, textCol: String = "text",
      sourceCol: String = "source"): DataFrame = {
    require(topK >= 1, s"topK must be >= 1: $topK")
    import org.apache.spark.sql.expressions.Window
    val tk = filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0)
    val cst = docs
      .select(col(sourceCol).as("source"), explode(tk).as("w"))
      .groupBy(col("source"), col("w"))
      .agg(count(lit(1)).as("c"))
      .transform(graft.ops.Layout.pin)
    val ns = cst.groupBy(col("source")).agg(sum(col("c")).as("n_s"))
    val ct = cst.groupBy(col("w")).agg(sum(col("c")).as("c_t"))
    val nTot = cst.agg(sum(col("c")).as("n_tot"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    val g = cst
      .join(ct, Seq("w"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(nTot))
      .withColumn("o", col("c_t") - col("c"))
      .withColumn("num", dec(col("c") + 1) *
        dec(col("n_tot") - col("n_s") - col("o") + 1))
      .withColumn("den", dec(col("n_s") - col("c") + 1) * dec(col("o") + 1))
      .withColumn("delta", log(col("num").cast("double") / col("den").cast("double")))
      .withColumn("sig2",
        lit(1.0) / (col("c") + 1).cast("double") +
          lit(1.0) / (col("o") + 1).cast("double"))
      .withColumn("z", round(col("delta") / sqrt(col("sig2")), 4))
    g.withColumn("rank", row_number().over(
        Window.partitionBy(col("source"))
          .orderBy(col("z").desc, col("w").asc)))
      .where(col("rank") <= topK)
      .select(col("source"), col("w").as("token"), col("c"),
        col("z").as("z_score"), col("rank").cast("long").as("rank"))
      .orderBy(col("source"), col("rank"))
  }

  /** DuckDB mirror of [[logOddsTerms]] — generated; same single-ln exact
    * ratio, same fixed σ² association, same rounded-z rank order.
    */
  def logOddsTermsSql(table: String, topK: Int = 10, textCol: String = "text",
      sourceCol: String = "source"): String =
    s"""WITH toks AS (
       |  SELECT $sourceCol AS source,
       |    unnest(list_filter(string_split_regex(lower(trim($textCol)), '\\s+'),
       |      t -> length(t) > 0)) AS w
       |  FROM $table
       |), cst AS (
       |  SELECT source, w, COUNT(*) AS c FROM toks GROUP BY source, w
       |), ns AS (
       |  SELECT source, CAST(SUM(c) AS BIGINT) AS n_s FROM cst GROUP BY source
       |), ct AS (
       |  SELECT w, CAST(SUM(c) AS BIGINT) AS c_t FROM cst GROUP BY w
       |), nt AS (
       |  SELECT CAST(SUM(c) AS BIGINT) AS n_tot FROM cst
       |), g AS (
       |  SELECT cst.source, cst.w, cst.c,
       |    ct.c_t - cst.c AS o, ns.n_s, nt.n_tot
       |  FROM cst
       |  JOIN ct ON ct.w = cst.w
       |  JOIN ns ON ns.source = cst.source
       |  CROSS JOIN nt
       |), scored AS (
       |  SELECT source, w, c,
       |    round(
       |      ln(CAST(CAST(c + 1 AS DECIMAL(19,0))
       |            * CAST(n_tot - n_s - o + 1 AS DECIMAL(19,0)) AS DOUBLE)
       |        / CAST(CAST(n_s - c + 1 AS DECIMAL(19,0))
       |            * CAST(o + 1 AS DECIMAL(19,0)) AS DOUBLE))
       |      / sqrt(1.0 / CAST(c + 1 AS DOUBLE) + 1.0 / CAST(o + 1 AS DOUBLE)),
       |      4) AS z
       |  FROM g
       |), rked AS (
       |  SELECT source, w, c, z,
       |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY z DESC, w ASC) AS rank
       |  FROM scored
       |)
       |SELECT source, w AS token, c, z AS z_score, rank
       |FROM rked WHERE rank <= $topK
       |ORDER BY source, rank""".stripMargin

  /** CUSUM changepoint per series over the zero-filled daily grid
    * ([[fillDailyGaps]]): the day where the cumulative deviation from the
    * series mean peaks — the level-shift locator beside [[dailyAnomalies]]'
    * single-day spikes (a sustained regime change barely registers as any
    * one day's z-score; it maxes the CUSUM). One row per series:
    * `(series, cp_day, n_days, strength, mean_before, mean_after)` where
    * `strength = max_t |Σ_{i≤t} x_i / S − t/T| ∈ [0, 1)` (0 ⇔ perfectly
    * uniform) and the means bracket the located shift.
    *
    * Determinism: the CUSUM is compared as EXACT integers
    * `|cumx_t·T − t·S|` (DECIMAL(19,0) products; T·S < 10¹⁹ bound), argmax
    * resolved per series by the total (gap DESC, day ASC) order — earliest
    * day among exact ties; the only float ops are three final divisions of
    * exact integers (6dp strength, 4dp means). `mean_after` is null when
    * the peak lands on the last day (empty after-window, undefined).
    *
    * Scale: the count shuffle reduces the stream to the series×days grid;
    * the running window, ranks, and output are grid-sized.
    */
  def changePoint(events: DataFrame, seriesCol: String = "event_type",
      tsCol: String = "ts"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wAll = Window.partitionBy(col("series"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wRun = Window.partitionBy(col("series")).orderBy(col("day"))
    def dec(c: Column) = c.cast("decimal(19,0)")
    fillDailyGaps(events, seriesCol, tsCol)
      .withColumn("tt", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("n")).over(wAll))
      .withColumn("t", row_number().over(wRun))
      .withColumn("cumx", sum(col("n")).over(wRun))
      .withColumn("gap", abs(dec(col("cumx")) * dec(col("tt")) -
        dec(col("t")) * dec(col("s"))))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("series"))
          .orderBy(col("gap").desc, col("day").asc)))
      .where(col("rk") === 1)
      .select(col("series"), col("day").as("cp_day"), col("tt").as("n_days"),
        when(col("s") > 0,
          round(col("gap").cast("double") /
            (col("tt").cast("double") * col("s").cast("double")), 6))
          .as("strength"),
        round(col("cumx").cast("double") / col("t").cast("double"), 4)
          .as("mean_before"),
        when(col("t") < col("tt"),
          round((col("s") - col("cumx")).cast("double") /
            (col("tt") - col("t")).cast("double"), 4)).as("mean_after"))
      .orderBy(col("series"))
  }

  /** DuckDB mirror of [[changePoint]] — generated; same grid, same exact
    * gap integers, same tie order, same final associations.
    */
  def changePointSql(table: String, seriesCol: String = "event_type",
      tsCol: String = "ts"): String =
    s"""WITH filled AS (${fillDailyGapsSql(table, seriesCol, tsCol)}
       |), run AS (
       |  SELECT series, day, n,
       |    COUNT(*) OVER (PARTITION BY series) AS tt,
       |    CAST(SUM(n) OVER (PARTITION BY series) AS BIGINT) AS s,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY series ORDER BY day) AS BIGINT) AS t,
       |    CAST(SUM(n) OVER (PARTITION BY series ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumx
       |  FROM filled
       |), g AS (
       |  SELECT series, day, tt, s, t, cumx,
       |    abs(CAST(cumx AS DECIMAL(19,0)) * CAST(tt AS DECIMAL(19,0))
       |      - CAST(t AS DECIMAL(19,0)) * CAST(s AS DECIMAL(19,0))) AS gap
       |  FROM run
       |), rked AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY series
       |    ORDER BY gap DESC, day ASC) AS rk
       |  FROM g
       |)
       |SELECT series, day AS cp_day, tt AS n_days,
       |  CASE WHEN s > 0
       |       THEN round(CAST(gap AS DOUBLE)
       |         / (CAST(tt AS DOUBLE) * CAST(s AS DOUBLE)), 6)
       |  END AS strength,
       |  round(CAST(cumx AS DOUBLE) / CAST(t AS DOUBLE), 4) AS mean_before,
       |  CASE WHEN t < tt
       |       THEN round(CAST(s - cumx AS DOUBLE) / CAST(tt - t AS DOUBLE), 4)
       |  END AS mean_after
       |FROM rked WHERE rk = 1
       |ORDER BY series""".stripMargin

  /** DuckDB mirror of [[fillDailyGaps]] — generated, same spine semantics. */
  def fillDailyGapsSql(table: String, seriesCol: String = "event_type",
      tsCol: String = "ts"): String =
    s"""WITH daily AS (
       |  SELECT $seriesCol AS series, CAST($tsCol AS DATE) AS day, COUNT(*) AS n
       |  FROM $table GROUP BY 1, 2
       |), mm AS (
       |  SELECT series, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1
       |), spine AS (
       |  SELECT series, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
       |  FROM mm
       |)
       |SELECT s.series, strftime(s.day, '%Y-%m-%d') AS day,
       |  COALESCE(d.n, 0) AS n
       |FROM spine s LEFT JOIN daily d ON s.series = d.series AND s.day = d.day
       |ORDER BY s.series, s.day""".stripMargin
}
