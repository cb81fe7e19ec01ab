package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Classical statistics over fact tables — correlation, least squares,
  * independence — computed with the repo's exactness discipline so the
  * results are bit-identical across engines, runs, and partitionings.
  *
  * The moment problem: Pearson/OLS need Σx, Σx², Σxy. Spark's own
  * `corr`/`covar_pop` accumulate doubles in partition order — nondeterministic
  * at the last ulp under repartitioning, and unverifiable against an
  * independent engine. Here every moment is an EXACT integer: values are
  * fixed-pointed at 1e4 (`round(x·10⁴)`, the msum discipline) as
  * DECIMAL(19,0), products are DECIMAL(38,0), and sums run in DECIMAL(38,0)
  * (associative, exact — a Long would overflow at Σx² ≈ rows·10¹⁸; width
  * 19 atoms keep DuckDB in INT128 and the product inside both engines'
  * 38-digit decimal ceiling). The closed-form
  * formula then runs ONCE on doubles cast from exactly-agreed decimals in a
  * fixed association, so its result is bit-identical everywhere.
  *
  * Scale posture: corrMatrix/linearFit are ONE partial+final hash aggregate
  * over a column-pruned scan — no shuffle of the fact table, no second
  * pass, k pairs in one job. DECIMAL(38,0) headroom holds while
  * rows · (|x|·10⁴)² < 10³⁸ — e.g. 10¹² rows of values up to 10⁹ in fixed
  * point; past that, lower the fixed-point scale deliberately.
  *
  * Each operator ships a GENERATED DuckDB mirror (the Profile.profileSql
  * pattern) so formula and constants cannot drift between engines.
  *
  * Cache lifetime: operators that pin a bounded intermediate (the
  * marginal/count tables behind chiSquare, mutualInfo, cohenKappa, ksTest)
  * return LAZY frames over it; the pinned blocks are released by Spark's
  * ContextCleaner once that frame is unreachable — the graft-wide
  * convention (see Drift's scaladoc). The value grids behind the cumulative
  * operators are persisted directly (`boundedGrid`): that cache lives until
  * the session ends or the caller runs `spark.catalog.clearCache()`, which
  * long-lived sessions should do between batches.
  */
object Stats {

  private val Scale = 10000L
  private val TermScale = 1000000L

  /** `round(x·10⁴)` as DECIMAL(19,0) — the exact fixed-point atom. Width 19
    * (not 18) deliberately: DuckDB stores DECIMAL(≤18) in INT64 and its
    * multiply overflows at ~10⁹ atoms, while width ≥19 runs in INT128 —
    * 19+19 = 38 keeps the product inside both engines' decimal ceiling.
    */
  private def fx(c: Column): Column =
    round(c * Scale, 0).cast("decimal(19,0)")

  private def fxSql(c: String): String =
    s"CAST(round($c * $Scale, 0) AS DECIMAL(19,0))"

  /** Pearson correlation for each requested column pair: one row per pair
    * with (col_x, col_y, n, corr), corr 4dp-rounded. ALL pairs are computed
    * in a single aggregation job (every pair's moments are columns of one
    * agg — the Profile one-pass pattern), so k pairs cost one scan, not k.
    * A zero-variance side yields null corr (division guarded). Rows where
    * EITHER side of a pair is null are excluded from that pair's moments
    * AND its n (pairwise-complete deletion — mixing an all-rows n with
    * null-skipping sums would silently corrupt the closed form).
    */
  def corrMatrix(df: DataFrame, pairs: Seq[(String, String)],
      exact: Boolean = true): DataFrame = {
    require(pairs.nonEmpty, "corrMatrix: no column pairs given")
    val moments = pairs.zipWithIndex.flatMap { case ((x, y), i) =>
      pairMomentAggs(x, y, i, exact)
    }
    val m = df.agg(moments.head, moments.tail: _*)
    val rows = pairs.zipWithIndex.map { case ((x, y), i) =>
      struct(lit(x).as("col_x"), lit(y).as("col_y"),
        col(s"n_$i").as("n"),
        corrFromMoments(col(s"n_$i"), col(s"sx_$i"), col(s"sy_$i"),
          col(s"sxx_$i"), col(s"syy_$i"), col(s"sxy_$i")).as("corr"))
    }
    m.select(explode(array(rows: _*)).as("r"))
      .select(col("r.col_x"), col("r.col_y"), col("r.n"), col("r.corr"))
  }

  /** corr = (n·Σxy − Σx·Σy) / (√(n·Σxx − Σx²) · √(n·Σyy − Σy²)), computed
    * on doubles CAST from the exact decimal moments — identical inputs and
    * a fixed association make the result bit-identical across engines.
    */
  private def corrFromMoments(n: Column, sx: Column, sy: Column,
      sxx: Column, syy: Column, sxy: Column): Column = {
    val nd = n.cast("double")
    val (dx, dy) = (sx.cast("double"), sy.cast("double"))
    val cov = nd * sxy.cast("double") - dx * dy
    val vx = nd * sxx.cast("double") - dx * dx
    val vy = nd * syy.cast("double") - dy * dy
    when(vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
      .otherwise(round(cov / (sqrt(vx) * sqrt(vy)), 4))
  }

  /** DuckDB mirror of [[corrMatrix]] — generated from the same constants
    * and formula, so the two sides cannot drift.
    */
  def corrMatrixSql(table: String, pairs: Seq[(String, String)]): String = {
    val selects = pairs.map { case (x, y) =>
      val (a, b) = (fxSql(x), fxSql(y))
      s"""SELECT '$x' AS col_x, '$y' AS col_y, n, corr FROM (
         |  SELECT COUNT(*) AS n,
         |    CASE WHEN CAST(COUNT(*) AS DOUBLE) * CAST(SUM($a * $a) AS DOUBLE)
         |           - CAST(SUM($a) AS DOUBLE) * CAST(SUM($a) AS DOUBLE) <= 0
         |         OR CAST(COUNT(*) AS DOUBLE) * CAST(SUM($b * $b) AS DOUBLE)
         |           - CAST(SUM($b) AS DOUBLE) * CAST(SUM($b) AS DOUBLE) <= 0
         |    THEN NULL ELSE
         |      round((CAST(COUNT(*) AS DOUBLE) * CAST(SUM($a * $b) AS DOUBLE)
         |        - CAST(SUM($a) AS DOUBLE) * CAST(SUM($b) AS DOUBLE))
         |        / (sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM($a * $a) AS DOUBLE)
         |            - CAST(SUM($a) AS DOUBLE) * CAST(SUM($a) AS DOUBLE))
         |          * sqrt(CAST(COUNT(*) AS DOUBLE) * CAST(SUM($b * $b) AS DOUBLE)
         |            - CAST(SUM($b) AS DOUBLE) * CAST(SUM($b) AS DOUBLE))), 4)
         |    END AS corr
         |  FROM $table WHERE $x IS NOT NULL AND $y IS NOT NULL)""".stripMargin
    }
    selects.mkString("\nUNION ALL\n")
  }

  /** Ordinary least squares y = intercept + slope·x (one row: n, slope,
    * intercept, r2, all 4dp-rounded) — the same exact moments, the
    * textbook closed form in a fixed association. The fixed-point inputs
    * are 10⁴× the data: the slope is scale-free, the intercept de-scales by
    * 10⁴ once. Zero x-variance → null slope/intercept/r2.
    */
  def linearFit(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val a = fitMomentAggs(xCol, yCol)
    fitSelect(df.agg(a.head, a.tail: _*), Nil)
  }

  /** Grouped OLS — one fit per key, ALL fits in one partial+final hash
    * aggregate (millions of series cost one shuffle of six-number moment
    * rows, never a per-series job): the per-series trend primitive behind
    * fleet-wide monitoring (compose with
    * [[graft.ext.Drift.fillDailyGaps]] so sparse series regress over their
    * zero days, not just their observed ones). Output: keyCols + (n,
    * slope, intercept, r2).
    */
  def linearFitBy(df: DataFrame, keyCols: Seq[String],
      xCol: String, yCol: String): DataFrame = {
    require(keyCols.nonEmpty, "linearFitBy: keyCols must be non-empty (use linearFit)")
    val a = fitMomentAggs(xCol, yCol)
    fitSelect(df.groupBy(keyCols.map(col): _*).agg(a.head, a.tail: _*), keyCols)
  }

  /** Pairwise-complete moments: every aggregate (INCLUDING n) sees only
    * rows where both sides are non-null, so the closed form's inputs all
    * describe the same row subset.
    */
  /** `exact=true` accumulates 10⁴-fixed-point DECIMAL moments (engine-
    * bit-identical — the oracle form, and the INT128 arithmetic is the
    * honest price). `exact=false` accumulates raw doubles: whole-stage-
    * codegen'd, several× cheaper per row, mergeable — the 100 TB default
    * where a ±1e-4 reduction-order wobble on a 4dp result is acceptable.
    */
  private def pairMomentAggs(x: String, y: String, i: Int,
      exact: Boolean = true): Seq[Column] = {
    val both = col(x).isNotNull && col(y).isNotNull
    def g(c: Column) = when(both, c)
    def a(c: Column) = if (exact) fx(c) else c.cast("double")
    Seq(
      count(when(both, lit(1))).as(s"n_$i"),
      sum(g(a(col(x)))).as(s"sx_$i"),
      sum(g(a(col(y)))).as(s"sy_$i"),
      sum(g(a(col(x)) * a(col(x)))).as(s"sxx_$i"),
      sum(g(a(col(y)) * a(col(y)))).as(s"syy_$i"),
      sum(g(a(col(x)) * a(col(y)))).as(s"sxy_$i"))
  }

  private def fitMomentAggs(xCol: String, yCol: String): Seq[Column] = {
    val both = col(xCol).isNotNull && col(yCol).isNotNull
    def g(c: Column) = when(both, c)
    Seq(
      count(when(both, lit(1))).as("n"),
      sum(g(fx(col(xCol)))).as("sx"),
      sum(g(fx(col(yCol)))).as("sy"),
      sum(g(fx(col(xCol)) * fx(col(xCol)))).as("sxx"),
      sum(g(fx(col(yCol)) * fx(col(yCol)))).as("syy"),
      sum(g(fx(col(xCol)) * fx(col(yCol)))).as("sxy"))
  }

  private def fitSelect(m: DataFrame, keyCols: Seq[String]): DataFrame = {
    val nd = col("n").cast("double")
    val (dx, dy) = (col("sx").cast("double"), col("sy").cast("double"))
    val vx = nd * col("sxx").cast("double") - dx * dx
    val vy = nd * col("syy").cast("double") - dy * dy
    val cov = nd * col("sxy").cast("double") - dx * dy
    val slope = cov / vx
    val r = cov / (sqrt(vx) * sqrt(vy))
    m.select(keyCols.map(col) ++ Seq(col("n"),
      when(vx <= 0.0, lit(null).cast("double"))
        .otherwise(round(slope, 4)).as("slope"),
      when(vx <= 0.0, lit(null).cast("double"))
        .otherwise(round((dy - slope * dx) / nd / Scale, 4)).as("intercept"),
      when(vx <= 0.0 || vy <= 0.0, lit(null).cast("double"))
        .otherwise(round(r * r, 4)).as("r2")): _*)
  }

  /** DuckDB mirror of [[linearFit]] — generated, same constants/formula. */
  def linearFitSql(table: String, xCol: String, yCol: String): String =
    fitSqlBuilder(table, None, xCol, yCol, "")

  /** DuckDB mirror of [[linearFitBy]]. `prelude` lets callers prepend CTEs
    * (e.g. a gap-filled series table) — it is spliced verbatim after WITH.
    */
  def linearFitBySql(table: String, keyCol: String, xCol: String,
      yCol: String, prelude: String = ""): String =
    fitSqlBuilder(table, Some(keyCol), xCol, yCol, prelude)

  private def fitSqlBuilder(table: String, keyCol: Option[String],
      xCol: String, yCol: String, prelude: String): String = {
    val (a, b) = (fxSql(xCol), fxSql(yCol))
    val keySel = keyCol.map(k => s"$k, ").getOrElse("")
    val keyBy = keyCol.map(k => s" GROUP BY $k").getOrElse("")
    val keyOrd = keyCol.map(k => s"\nORDER BY $k").getOrElse("")
    val pre = if (prelude.isEmpty) "" else s"$prelude "
    s"""WITH ${pre}m AS (
       |  SELECT ${keySel}COUNT(*) AS n,
       |    CAST(SUM($a) AS DOUBLE) AS dx, CAST(SUM($b) AS DOUBLE) AS dy,
       |    CAST(SUM($a * $a) AS DOUBLE) AS dxx,
       |    CAST(SUM($b * $b) AS DOUBLE) AS dyy,
       |    CAST(SUM($a * $b) AS DOUBLE) AS dxy
       |  FROM $table WHERE $xCol IS NOT NULL AND $yCol IS NOT NULL$keyBy
       |), f AS (
       |  SELECT ${keySel}n,
       |    CAST(n AS DOUBLE) * dxx - dx * dx AS vx,
       |    CAST(n AS DOUBLE) * dyy - dy * dy AS vy,
       |    CAST(n AS DOUBLE) * dxy - dx * dy AS cov,
       |    dx, dy FROM m
       |)
       |SELECT ${keySel}n,
       |  CASE WHEN vx <= 0 THEN NULL ELSE round(cov / vx, 4) END AS slope,
       |  CASE WHEN vx <= 0 THEN NULL ELSE
       |    round((dy - (cov / vx) * dx) / CAST(n AS DOUBLE) / $Scale, 4)
       |  END AS intercept,
       |  CASE WHEN vx <= 0 OR vy <= 0 THEN NULL ELSE
       |    round((cov / (sqrt(vx) * sqrt(vy))) * (cov / (sqrt(vx) * sqrt(vy))), 4)
       |  END AS r2
       |FROM f$keyOrd""".stripMargin
  }

  /** Deterministic MODE per group: each key's most frequent value, ties to
    * the LOWEST value (Spark's `mode()` and DuckDB's leave tie order
    * unspecified — an explicit rank makes the answer a property of the
    * data). Two aggregations: the (key, value) count shuffle, then a
    * row_number over the count table — which is categories-sized, never
    * corpus-sized, so the window sort is bounded. Output: (key, mode_value,
    * n_mode).
    */
  def modeBy(df: DataFrame, keyCol: String, valCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("k")).orderBy(col("n").desc, col("v"))
    df.where(col(valCol).isNotNull)
      .groupBy(col(keyCol).as("k"), col(valCol).as("v"))
      .agg(count(lit(1)).as("n"))
      .withColumn("__r", row_number().over(w))
      .where(col("__r") === 1)
      .select(col("k").as(keyCol), col("v").as(s"${valCol}_mode"),
        col("n").as("n_mode"))
  }

  /** DuckDB mirror of [[modeBy]] — generated, same explicit tie-break. */
  def modeBySql(table: String, keyCol: String, valCol: String): String =
    s"""WITH counts AS (
       |  SELECT $keyCol AS k, $valCol AS v, COUNT(*) AS n
       |  FROM $table WHERE $valCol IS NOT NULL GROUP BY 1, 2
       |), ranked AS (
       |  SELECT k, v, n,
       |    row_number() OVER (PARTITION BY k ORDER BY n DESC, v) AS r
       |  FROM counts
       |)
       |SELECT k AS $keyCol, v AS ${valCol}_mode, n AS n_mode
       |FROM ranked WHERE r = 1
       |ORDER BY $keyCol""".stripMargin

  /** Within-group percent rank: append `{valCol}_pr` = (rank − 1)/(n − 1)
    * of the value inside its key group — the relative-position normalizer
    * ("this doc is longer than 93% of its source"). Ties share a rank, so
    * the result is deterministic with no tie-break column; the division is
    * integer-derived and bit-identical across engines. One shuffle (the
    * window partition); a single-row group ranks 0.0. Per-group work is a
    * sort, the same contract as any per-key window at scale.
    *
    * Null-value rows are EXCLUDED (the modeBy convention): Spark orders
    * nulls FIRST ascending while DuckDB defaults to NULLS LAST — the exact
    * engine divergence Reference.scala's q16 pins — and a null "value" has
    * no meaningful rank; including it would also inflate (n − 1) for every
    * real row in the group. Mirrors must carry the same IS NOT NULL filter.
    */
  def percentRankBy(df: DataFrame, keyCol: String, valCol: String): DataFrame =
    df.where(col(valCol).isNotNull)
      .withColumn(s"${valCol}_pr",
        percent_rank().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col(keyCol)).orderBy(col(valCol))))

  /** Benford first-digit analysis — the classic fabricated-numbers
    * forensic: observed first-significant-digit frequencies of a positive
    * amount column against Benford's log10(1 + 1/d) expectation. The digit
    * is derived through INTEGER arithmetic (amounts are fixed-pointed at
    * `decimals`, cast to BIGINT, first character of the integer's string —
    * scaling by 10^decimals never changes the leading significant digit),
    * so no libm call touches the data path and both engines agree exactly;
    * the nine expectation constants are 4dp-rounded. One count shuffle on
    * the 9-value digit key. Output: (digit, n, obs_p, exp_p) for digits
    * 1–9 (absent digits reported with n = 0 via the 9-row spine), null and
    * non-positive amounts excluded.
    *
    * SUB-UNIT amounts (positive but below one fixed-point unit — the
    * UNROUNDED scaled value < 1, e.g. anything under 0.01 at decimals=2)
    * are excluded too: rounding would map them to integer 0 (digit '0' —
    * outside the 1–9 spine, silently distorting obs_p's denominator) or
    * round-promote them to digit '1' (0.0099 → 1 unit). The digit of a
    * value below the chosen resolution is not measurable at that
    * resolution; pick `decimals` to cover the amounts you care about. The
    * gate is on the raw `value·10^decimals` (one IEEE multiply, identical
    * in both engines), so no rounding artifact can admit or invent a digit.
    */
  def benford(df: DataFrame, valueCol: String, decimals: Int = 2): DataFrame = {
    require(decimals >= 0, s"decimals must be >= 0: $decimals")
    val scaleF = math.pow(10, decimals)
    val units = round(col(valueCol) * scaleF, 0).cast("bigint")
    val counts = df
      .where(col(valueCol).isNotNull && col(valueCol) > 0 &&
        col(valueCol) * scaleF >= 1)
      .select(substring(units.cast("string"), 1, 1).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n"))
    val spark = df.sparkSession
    import spark.implicits._
    val spine = (1 to 9).map(d =>
      (d, BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble))
      .toDF("digit", "exp_p")
    val total = counts.agg(sum(col("n")).as("n_tot"))
    spine.join(counts, Seq("digit"), "left")
      .crossJoin(broadcast(total))
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"),
        round(coalesce(col("n"), lit(0L)).cast("double") /
          col("n_tot").cast("double"), 4).as("obs_p"),
        col("exp_p"))
      .orderBy(col("digit"))
  }

  /** DuckDB mirror of [[benford]] — generated; the nine expectation
    * constants are emitted as literals from the SAME Scala computation, so
    * the two engines cannot disagree on a libm ulp.
    */
  def benfordSql(table: String, valueCol: String, decimals: Int = 2): String = {
    val scaleF = math.pow(10, decimals)
    val spine = (1 to 9).map { d =>
      val p = BigDecimal(math.log10(1.0 + 1.0 / d))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      s"($d, $p)"
    }.mkString(", ")
    s"""WITH counts AS (
       |  SELECT CAST(substr(CAST(CAST(round($valueCol * $scaleF, 0) AS BIGINT)
       |      AS VARCHAR), 1, 1) AS INTEGER) AS digit,
       |    COUNT(*) AS n
       |  FROM $table
       |  WHERE $valueCol IS NOT NULL AND $valueCol > 0
       |    AND $valueCol * $scaleF >= 1
       |  GROUP BY 1
       |), spine(digit, exp_p) AS (VALUES $spine),
       |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS n_tot FROM counts)
       |SELECT s.digit, COALESCE(c.n, 0) AS n,
       |  round(CAST(COALESCE(c.n, 0) AS DOUBLE) / CAST(n_tot AS DOUBLE), 4)
       |    AS obs_p,
       |  CAST(exp_p AS DOUBLE) AS exp_p
       |FROM spine s LEFT JOIN counts c ON s.digit = c.digit CROSS JOIN tot
       |ORDER BY s.digit""".stripMargin
  }

  /** Gini concentration index of a non-negative amount column (revenue
    * concentration, token-count inequality): G = 2·Σᵢ i·xᵢ / (n·Σx) −
    * (n+1)/n over ascending-sorted values. Values are fixed-pointed to
    * exact integer units; the global rank comes from `zipWithIndex` over a
    * range-partitioned sort (per-partition offsets — NOT a single-partition
    * window, which is the naive formulation's scale-killer); Σ i·x runs in
    * DECIMAL(38,0). Ties hold equal values, so their arbitrary rank order
    * cannot change the sum — the result is deterministic. Output: one row
    * (n, gini), gini 4dp, null for n = 0.
    */
  def gini(df: DataFrame, valueCol: String, decimals: Int = 2): DataFrame = {
    require(decimals >= 0, s"decimals must be >= 0: $decimals")
    val spark = df.sparkSession
    import spark.implicits._
    val scaleF = math.pow(10, decimals)
    val units = df
      .where(col(valueCol).isNotNull && col(valueCol) >= 0)
      .select(round(col(valueCol) * scaleF, 0).cast("bigint").as("x"))
    val ranked = units.orderBy(col("x")).as[Long].rdd
      .zipWithIndex().map { case (x, i0) => (x, i0 + 1) }
      .toDF("x", "i")
    val m = ranked.agg(
      count(lit(1)).as("n"),
      sum(col("x").cast("decimal(19,0)")).as("s0"),
      sum(col("i").cast("decimal(19,0)") * col("x").cast("decimal(19,0)")).as("s1"))
    val nd = col("n").cast("double")
    val (s0, s1) = (col("s0").cast("double"), col("s1").cast("double"))
    m.select(col("n"),
      when(col("n") === 0 || s0 === 0.0, lit(null).cast("double"))
        .otherwise(round(lit(2.0) * s1 / (nd * s0) - (nd + lit(1.0)) / nd, 4))
        .as("gini"))
  }

  /** DuckDB mirror of [[gini]] — generated, same fixed points and
    * association (the mirror's window rank and the Spark side's
    * zipWithIndex assign tied values different orders; equal values make
    * the sums identical regardless).
    */
  def giniSql(table: String, valueCol: String, decimals: Int = 2): String = {
    val scaleF = math.pow(10, decimals)
    s"""WITH v AS (
       |  SELECT CAST(round($valueCol * $scaleF, 0) AS BIGINT) AS x
       |  FROM $table WHERE $valueCol IS NOT NULL AND $valueCol >= 0
       |), r AS (
       |  SELECT x, row_number() OVER (ORDER BY x) AS i FROM v
       |), m AS (
       |  SELECT COUNT(*) AS n,
       |    CAST(SUM(CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS s0,
       |    CAST(SUM(CAST(i AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DOUBLE)
       |      AS s1
       |  FROM r
       |)
       |SELECT n,
       |  CASE WHEN n = 0 OR s0 = 0 THEN NULL
       |    ELSE round(2.0 * s1 / (CAST(n AS DOUBLE) * s0)
       |      - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 4)
       |  END AS gini
       |FROM m""".stripMargin
  }

  /** Cohen's kappa — chance-corrected agreement between two categorical
    * columns over the SAME label space (label-vs-relabel audits,
    * model-vs-gold comparisons, annotator consistency):
    * κ = (p_o − p_e)/(1 − p_e) with p_o the diagonal mass of the confusion
    * matrix and p_e = Σ_k rowtot_k·coltot_k / n² the chance agreement.
    * One row: `(n, n_labels, po, pe, kappa)`; κ = 1 perfect, 0 chance
    * level, null when p_e rounds to 1 (a single label on both sides —
    * agreement is undefined, not perfect).
    *
    * Determinism: every input to the floats is an exact long (diagonal
    * mass, margin products in DECIMAL(19,0)·DECIMAL(19,0) — exact to n ≈
    * 10¹⁸); p_o and p_e each fix one textual association and round at 6dp;
    * κ is computed from the ROUNDED p_o/p_e, same as the mirror.
    *
    * Scale: ONE count shuffle on the (a, b) cell grid (categories², never
    * row-count-sized); margins and the three 1-row frames derive from the
    * pinned cells.
    */
  def cohenKappa(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("obs"))
      .transform(Layout.pin)
    val n = cells.agg(coalesce(sum(col("obs")), lit(0L)).as("n"))
    val diag = cells.where(col("a") === col("b"))
      .agg(coalesce(sum(col("obs")), lit(0L)).as("d"))
    val marg = cells.groupBy(col("a")).agg(sum(col("obs")).as("rt"))
      .join(cells.groupBy(col("b")).agg(sum(col("obs")).as("ct")),
        col("a") === col("b"), "full")
      .agg(count(lit(1)).as("n_labels"),
        coalesce(sum(coalesce(col("rt"), lit(0L)).cast("decimal(19,0)") *
          coalesce(col("ct"), lit(0L)).cast("decimal(19,0)")), lit(0L).cast("decimal(38,0)"))
          .as("s"))
    val nd = col("n").cast("double")
    n.crossJoin(broadcast(diag)).crossJoin(broadcast(marg))
      .select(col("n"), col("n_labels"),
        when(col("n") > 0, round(col("d").cast("double") / nd, 6)).as("po"),
        when(col("n") > 0, round(col("s").cast("double") / (nd * nd), 6)).as("pe"))
      .select(col("n"), col("n_labels"), col("po"), col("pe"),
        when(col("po").isNotNull && col("pe") =!= 1.0,
          round((col("po") - col("pe")) / (lit(1.0) - col("pe")), 4)).as("kappa"))
  }

  /** DuckDB mirror of [[cohenKappa]] — generated, same decimal margins,
    * 6dp p_o/p_e fixed points, and κ-from-rounded association.
    */
  def cohenKappaSql(table: String, aCol: String, bCol: String): String =
    s"""WITH cells AS (
       |  SELECT $aCol AS a, $bCol AS b, COUNT(*) AS obs
       |  FROM $table
       |  WHERE $aCol IS NOT NULL AND $bCol IS NOT NULL
       |  GROUP BY 1, 2
       |), nt AS (SELECT COALESCE(CAST(SUM(obs) AS BIGINT), 0) AS n FROM cells),
       |dg AS (SELECT COALESCE(CAST(SUM(obs) AS BIGINT), 0) AS d FROM cells WHERE a = b),
       |marg AS (
       |  SELECT COUNT(*) AS n_labels,
       |    COALESCE(SUM(CAST(COALESCE(rt, 0) AS DECIMAL(19,0))
       |      * CAST(COALESCE(ct, 0) AS DECIMAL(19,0))), 0) AS s
       |  FROM (SELECT a, CAST(SUM(obs) AS BIGINT) AS rt FROM cells GROUP BY a) x
       |  FULL OUTER JOIN
       |    (SELECT b, CAST(SUM(obs) AS BIGINT) AS ct FROM cells GROUP BY b) y
       |    ON x.a = y.b
       |), ps AS (
       |  SELECT n, n_labels,
       |    CASE WHEN n > 0 THEN round(CAST(d AS DOUBLE) / CAST(n AS DOUBLE), 6) END AS po,
       |    CASE WHEN n > 0 THEN round(CAST(s AS DOUBLE)
       |      / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) END AS pe
       |  FROM nt, dg, marg
       |)
       |SELECT n, n_labels, po, pe,
       |  CASE WHEN po IS NOT NULL AND pe <> 1.0
       |       THEN round((po - pe) / (1.0 - pe), 4) END AS kappa
       |FROM ps""".stripMargin

  /** Pre-flight grid-cardinality guard for the rank-grid family
    * ([[aucBinary]], [[rocPoints]], [[ksTest]], [[spearman]]) — makes the
    * "resolution-bounded, never row-bounded" contract SELF-ENFORCING
    * instead of an argument: those operators run an unpartitioned
    * cumulative window over the distinct-bucket grid, which is fine at the
    * declared parameters (decimals=2..4 over bounded ranges) but a caller
    * passing decimals=6 over a wide-range column would get an unbounded
    * single-task window. The guard persists the grid-sized cell frame
    * (its first consumer materializes it anyway — the count is the
    * materialization, so the corpus is still scanned ONCE) and refuses
    * loudly above `maxGridCells` — the [[graft.ext.Percentiles.exactBy]]
    * largest-group pattern applied to grids.
    */
  private def boundedGrid(cells: DataFrame, op: String,
      maxGridCells: Long): DataFrame = {
    require(maxGridCells > 0, s"maxGridCells must be positive: $maxGridCells")
    val pinned = cells.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = pinned.count()
    require(n <= maxGridCells,
      s"Stats.$op: $n distinct value-grid cells exceed maxGridCells=$maxGridCells. " +
        "The cumulative window runs in ONE task bounded by GRID size — lower " +
        "`decimals` (each step cuts the grid 10x), or switch to a sketch " +
        "(approx_percentile / GK) at this scale.")
    pinned
  }

  /** Exact binary AUC — the Mann–Whitney rank form with the standard tie
    * correction: AUC = P(score⁺ > score⁻) + ½·P(score⁺ = score⁻), the
    * classifier-eval metric (and the quality-score sanity probe: does the
    * score actually rank the positive class higher). One row:
    * `(n_pos, n_neg, auc)`, 6dp; null when either class is empty.
    *
    * Scores are bucketed at `decimals` fixed-point BEFORE comparison —
    * AUC's semantics here are over the bucketed scores, which is what a
    * bounded-resolution model probability is anyway. That bound is also
    * the scale contract: the per-class counting reduces to the
    * distinct-bucket grid (≤ range·10^decimals rows, NEVER row-count-
    * sized), so the running-sum window over it is bounded; 2U accumulates
    * in DECIMAL(19,0) products (exact past n = 10⁹ where a long n² sum
    * overflows).
    *
    * Determinism: counts and the 2U numerator are exact integers; the one
    * float division fixes its association and rounds.
    */
  def aucBinary(df: DataFrame, scoreCol: String, labelCol: String,
      decimals: Int = 4, maxGridCells: Long = 50000000L): DataFrame = {
    require(decimals >= -6 && decimals <= 6,
      s"decimals bounds the score grid; want [-6, 6], got $decimals")
    val scaleF = math.pow(10, decimals)
    val lab = col(labelCol).cast("boolean")
    val cells = boundedGrid(df
      .where(col(scoreCol).isNotNull && lab.isNotNull)
      .groupBy(round(col(scoreCol) * scaleF, 0).cast("long").as("sb"))
      .agg(sum(when(lab, 1L).otherwise(0L)).as("np"),
        sum(when(!lab, 1L).otherwise(0L)).as("nn")), "aucBinary", maxGridCells)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("sb"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val agg = cells
      .withColumn("cumneg", coalesce(sum(col("nn")).over(w), lit(0L)))
      .agg(
        sum(col("np")).as("n_pos"),
        sum(col("nn")).as("n_neg"),
        sum(col("np").cast("decimal(19,0)") *
          (lit(2L) * col("cumneg") + col("nn")).cast("decimal(19,0)")).as("u2"))
    agg.select(
      coalesce(col("n_pos"), lit(0L)).as("n_pos"),
      coalesce(col("n_neg"), lit(0L)).as("n_neg"),
      when(col("n_pos") > 0 && col("n_neg") > 0,
        round(col("u2").cast("double") /
          (lit(2.0) * col("n_pos").cast("double") * col("n_neg").cast("double")), 6))
        .as("auc"))
  }

  /** DuckDB mirror of [[aucBinary]] — generated; same bucket grid, same
    * exact 2U accumulation, same final association.
    */
  def aucBinarySql(table: String, scoreCol: String, labelCol: String,
      decimals: Int = 4): String = {
    val scaleF = math.pow(10, decimals)
    s"""WITH cells AS (
       |  SELECT CAST(round($scoreCol * $scaleF, 0) AS BIGINT) AS sb,
       |    CAST(SUM(CASE WHEN CAST($labelCol AS BOOLEAN) THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(SUM(CASE WHEN CAST($labelCol AS BOOLEAN) THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM $table
       |  WHERE $scoreCol IS NOT NULL AND $labelCol IS NOT NULL
       |  GROUP BY 1
       |), run AS (
       |  SELECT np, nn,
       |    COALESCE(CAST(SUM(nn) OVER (ORDER BY sb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS cumneg
       |  FROM cells
       |), agg AS (
       |  SELECT CAST(SUM(np) AS BIGINT) AS n_pos, CAST(SUM(nn) AS BIGINT) AS n_neg,
       |    SUM(CAST(np AS DECIMAL(19,0)) * CAST(2 * cumneg + nn AS DECIMAL(19,0)))
       |      AS u2
       |  FROM run
       |)
       |SELECT COALESCE(n_pos, 0) AS n_pos, COALESCE(n_neg, 0) AS n_neg,
       |  CASE WHEN n_pos > 0 AND n_neg > 0
       |       THEN round(CAST(u2 AS DOUBLE)
       |         / (2.0 * CAST(n_pos AS DOUBLE) * CAST(n_neg AS DOUBLE)), 6)
       |  END AS auc
       |FROM agg""".stripMargin
  }

  /** ROC curve points — one row per DISTINCT score bucket (the e69 grid):
    * predicting positive at threshold `score_bucket` (score ≥ bucket) gives
    * the cumulative `(tp, fp)` and the 6dp `(tpr, fpr)` rates. Trapezoidal
    * area over these points equals the Mann–Whitney [[aucBinary]] exactly —
    * spec-pinned — so the curve and the scalar cannot disagree.
    *
    * Scale contract = the bucket grid: the raw table reduces to
    * ≤ range·10^decimals cells in one count shuffle; both running windows
    * and the output are grid-sized, never row-count-sized. An empty class
    * yields null for its rate column rather than a division error.
    */
  def rocPoints(df: DataFrame, scoreCol: String, labelCol: String,
      decimals: Int = 4, maxGridCells: Long = 50000000L): DataFrame = {
    require(decimals >= -6 && decimals <= 6,
      s"decimals bounds the score grid; want [-6, 6], got $decimals")
    import org.apache.spark.sql.expressions.Window
    val scaleF = math.pow(10, decimals)
    val lab = col(labelCol).cast("boolean")
    val cells = boundedGrid(df
      .where(col(scoreCol).isNotNull && lab.isNotNull)
      .groupBy(round(col(scoreCol) * scaleF, 0).cast("long").as("sb"))
      .agg(sum(when(lab, 1L).otherwise(0L)).as("np"),
        sum(when(!lab, 1L).otherwise(0L)).as("nn")), "rocPoints", maxGridCells)
    val wCum = Window.orderBy(col("sb").desc)
      .rowsBetween(Window.unboundedPreceding, 0)
    val wAll = Window.orderBy(col("sb").desc)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    cells
      .withColumn("tp", sum(col("np")).over(wCum))
      .withColumn("fp", sum(col("nn")).over(wCum))
      .withColumn("p", sum(col("np")).over(wAll))
      .withColumn("nneg", sum(col("nn")).over(wAll))
      .select(col("sb").as("score_bucket"), col("tp"), col("fp"),
        when(col("p") > 0,
          round(col("tp").cast("double") / col("p").cast("double"), 6)).as("tpr"),
        when(col("nneg") > 0,
          round(col("fp").cast("double") / col("nneg").cast("double"), 6)).as("fpr"))
      .orderBy(col("score_bucket").desc)
  }

  /** DuckDB mirror of [[rocPoints]] — generated; same grid, same windows,
    * same rate association.
    */
  def rocPointsSql(table: String, scoreCol: String, labelCol: String,
      decimals: Int = 4): String = {
    val scaleF = math.pow(10, decimals)
    s"""WITH cells AS (
       |  SELECT CAST(round($scoreCol * $scaleF, 0) AS BIGINT) AS sb,
       |    CAST(SUM(CASE WHEN CAST($labelCol AS BOOLEAN) THEN 1 ELSE 0 END) AS BIGINT) AS np,
       |    CAST(SUM(CASE WHEN CAST($labelCol AS BOOLEAN) THEN 0 ELSE 1 END) AS BIGINT) AS nn
       |  FROM $table
       |  WHERE $scoreCol IS NOT NULL AND $labelCol IS NOT NULL
       |  GROUP BY 1
       |), run AS (
       |  SELECT sb,
       |    CAST(SUM(np) OVER (ORDER BY sb DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
       |    CAST(SUM(nn) OVER (ORDER BY sb DESC
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp,
       |    CAST(SUM(np) OVER () AS BIGINT) AS p,
       |    CAST(SUM(nn) OVER () AS BIGINT) AS nneg
       |  FROM cells
       |)
       |SELECT sb AS score_bucket, tp, fp,
       |  CASE WHEN p > 0 THEN round(CAST(tp AS DOUBLE) / CAST(p AS DOUBLE), 6)
       |  END AS tpr,
       |  CASE WHEN nneg > 0 THEN round(CAST(fp AS DOUBLE) / CAST(nneg AS DOUBLE), 6)
       |  END AS fpr
       |FROM run
       |ORDER BY score_bucket DESC""".stripMargin
  }

  /** Calibration (reliability) bins — equi-width score bins between the
    * observed min/max (the Profile.histogram binning association, verbatim),
    * each with its count, positive count, 6dp empirical positive rate, and
    * 6dp mean score. A well-calibrated scorer has pos_rate tracking
    * mean_score; systematic gaps are the miscalibration.
    *
    * Determinism: per-bin mean score sums `round(x·10⁴)` DECIMAL(19,0)
    * atoms (exact, associative — safe past the ~10⁹-row point where a long
    * sum of 10⁴-scaled scores overflows) and fixes the de-scale association
    * `s/10⁴/n`. Empty bins are omitted (a reliability diagram has no point
    * there); rows with a null score or label are excluded.
    *
    * Scale: min/max is a 1-row broadcast; the fact table then takes ONE
    * count shuffle down to ≤ `bins` rows. Zero span puts everything in
    * bin 0 (the histogram contract).
    */
  def calibrationBins(df: DataFrame, scoreCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins > 0, s"calibrationBins needs bins > 0, got $bins")
    val lab = col(labelCol).cast("boolean")
    val in = df.where(col(scoreCol).isNotNull && lab.isNotNull)
    val mm = in.agg(min(col(scoreCol)).cast("double").as("__lo"),
      max(col(scoreCol)).cast("double").as("__hi"))
    val span = col("__hi") - col("__lo")
    val bin = when(span === 0.0, lit(0))
      .otherwise(least(lit(bins - 1),
        floor((col(scoreCol).cast("double") - col("__lo")) / span * bins)
          .cast("int")))
    in.crossJoin(broadcast(mm))
      .groupBy(bin.as("bin"), col("__lo"), col("__hi"))
      .agg(count(lit(1)).as("n"),
        sum(when(lab, 1L).otherwise(0L)).as("n_pos"),
        sum(round(col(scoreCol).cast("double") * 10000, 0)
          .cast("decimal(19,0)")).as("s4"))
      .select(col("bin"),
        round(col("__lo") + col("bin") * (col("__hi") - col("__lo")) / bins, 4)
          .as("lo"),
        round(col("__lo") + (col("bin") + 1) * (col("__hi") - col("__lo")) / bins, 4)
          .as("hi"),
        col("n"), col("n_pos"),
        round(col("n_pos").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"),
        round(col("s4").cast("double") / lit(10000.0) / col("n").cast("double"), 6)
          .as("mean_score"))
      .orderBy(col("bin"))
  }

  /** DuckDB mirror of [[calibrationBins]] — generated; same binning, atom,
    * and association.
    */
  def calibrationBinsSql(table: String, scoreCol: String, labelCol: String,
      bins: Int = 10): String =
    s"""WITH base AS (
       |  SELECT $scoreCol AS score, CAST($labelCol AS BOOLEAN) AS y
       |  FROM $table
       |  WHERE $scoreCol IS NOT NULL AND $labelCol IS NOT NULL
       |), mm AS (
       |  SELECT CAST(min(score) AS DOUBLE) AS lo0,
       |         CAST(max(score) AS DOUBLE) AS hi0
       |  FROM base
       |), agg AS (
       |  SELECT CASE WHEN hi0 - lo0 = 0 THEN 0
       |    ELSE LEAST($bins - 1, CAST(floor(
       |      (CAST(score AS DOUBLE) - lo0) / (hi0 - lo0) * $bins) AS INTEGER))
       |    END AS bin,
       |    lo0, hi0, COUNT(*) AS n,
       |    CAST(SUM(CASE WHEN y THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
       |    SUM(CAST(round(CAST(score AS DOUBLE) * 10000, 0) AS DECIMAL(19,0)))
       |      AS s4
       |  FROM base CROSS JOIN mm
       |  GROUP BY 1, 2, 3
       |)
       |SELECT CAST(bin AS INTEGER) AS bin,
       |  round(lo0 + bin * (hi0 - lo0) / $bins, 4) AS lo,
       |  round(lo0 + (bin + 1) * (hi0 - lo0) / $bins, 4) AS hi,
       |  n, n_pos,
       |  round(CAST(n_pos AS DOUBLE) / CAST(n AS DOUBLE), 6) AS pos_rate,
       |  round(CAST(s4 AS DOUBLE) / 10000.0 / CAST(n AS DOUBLE), 6) AS mean_score
       |FROM agg
       |ORDER BY bin""".stripMargin

  /** Chi-square test of independence between two categorical columns:
    * one row with the contingency dimensions, dof, and the χ² statistic.
    * Observed and marginal counts are exact longs — ONE count shuffle on
    * the cell key, marginals re-aggregated from the (tiny, pinned) cell
    * table, so the corpus is scanned once. Each cell's (obs − exp)²/exp
    * term is computed on doubles derived from those exact integers in a
    * fixed association, 1e-6 fixed-pointed, and summed exactly (the Drift
    * KL discipline) — engine-portable. dof = (n_a − 1)·(n_b − 1).
    *
    * Rows with a null category on either side are EXCLUDED (a null key
    * would silently fall out of the marginal-grid equi-join while still
    * contributing expected mass — wrong in both directions); treat null as
    * a real category by imputing a sentinel upstream if that's the intent.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("obs"))
      .transform(Layout.pin)
    val aTot = cells.groupBy("a").agg(sum("obs").as("a_tot"))
    val bTot = cells.groupBy("b").agg(sum("obs").as("b_tot"))
    val n = cells.agg(sum("obs").as("n_tot"))
    val exp = col("a_tot").cast("double") * col("b_tot").cast("double") /
      col("n_tot").cast("double")
    // densify to the FULL marginal grid: a (a, b) combination never observed
    // still contributes (0 − exp)²/exp = exp — dropping structural zeros
    // would understate the statistic exactly on the most dependent data
    val d = coalesce(col("obs"), lit(0L)).cast("double") - exp
    aTot.crossJoin(broadcast(bTot))
      .join(broadcast(cells), Seq("a", "b"), "left")
      .crossJoin(broadcast(n))
      .select(col("a"), col("b"), round(d * d / exp, 6).as("t"))
      .agg(
        countDistinct(col("a")).as("n_a"),
        countDistinct(col("b")).as("n_b"),
        (sum(round(col("t") * TermScale, 0).cast("long")).cast("double") / TermScale)
          .as("chi2"))
      .select(col("n_a"), col("n_b"),
        ((col("n_a") - 1) * (col("n_b") - 1)).as("dof"), col("chi2"))
  }

  /** DuckDB mirror of [[chiSquare]] — generated, same fixed points; the
    * squared deviation is written `(d)*(d)`, not POWER(d,2), so both
    * engines run the identical IEEE multiply.
    */
  def chiSquareSql(table: String, aCol: String, bCol: String): String =
    s"""WITH cells AS (
       |  SELECT $aCol AS a, $bCol AS b, COUNT(*) AS obs
       |  FROM $table
       |  WHERE $aCol IS NOT NULL AND $bCol IS NOT NULL
       |  GROUP BY $aCol, $bCol
       |), at AS (SELECT a, SUM(obs) AS a_tot FROM cells GROUP BY a),
       |bt AS (SELECT b, SUM(obs) AS b_tot FROM cells GROUP BY b),
       |nt AS (SELECT SUM(obs) AS n_tot FROM cells),
       |grid AS (
       |  SELECT at.a, bt.b, COALESCE(obs, 0) AS obs, a_tot, b_tot, n_tot
       |  FROM at CROSS JOIN bt
       |  LEFT JOIN cells ON cells.a = at.a AND cells.b = bt.b
       |  CROSS JOIN nt
       |), terms AS (
       |  SELECT a, b,
       |    round((CAST(obs AS DOUBLE)
       |        - CAST(a_tot AS DOUBLE) * CAST(b_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
       |      * (CAST(obs AS DOUBLE)
       |        - CAST(a_tot AS DOUBLE) * CAST(b_tot AS DOUBLE) / CAST(n_tot AS DOUBLE))
       |      / (CAST(a_tot AS DOUBLE) * CAST(b_tot AS DOUBLE) / CAST(n_tot AS DOUBLE)),
       |      6) AS t
       |  FROM grid
       |)
       |SELECT COUNT(DISTINCT a) AS n_a, COUNT(DISTINCT b) AS n_b,
       |  (COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1) AS dof,
       |  CAST(SUM(CAST(round(t * $TermScale, 0) AS BIGINT)) AS DOUBLE) / $TermScale
       |    AS chi2
       |FROM terms""".stripMargin

  /** Mutual information (nats) and normalized MI between two categorical
    * columns: one row `(n_a, n_b, mi_nats, h_a, h_b, nmi)` — the
    * effect-SIZE companion to [[chiSquare]]'s significance statistic
    * (χ² grows with N on any fixed dependence; MI measures the dependence
    * itself, and `nmi = mi/sqrt(h_a·h_b)` lands in [0, 1]).
    *
    * Determinism (the Drift KL discipline): all counts exact longs; each
    * joint term fixes its count-ratio association `(obs·N)/(a_tot·b_tot)`
    * before the ONE `ln`, is scaled by the exact count, 6dp-rounded and
    * 1e-6 fixed-point-summed; marginal entropies use the same pattern on
    * `N/a_tot`; `nmi` is computed from the ROUNDED 6dp components, null
    * when either margin is single-category (H = 0 — undefined, not 0).
    * Null categories are EXCLUDED (the [[chiSquare]] rationale).
    *
    * Scale: ONE count shuffle to the (a, b) cell table (pinned,
    * category²-bounded); marginals and totals re-aggregate from it; the
    * corpus is scanned once.
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df
      .where(col(aCol).isNotNull && col(bCol).isNotNull)
      .groupBy(col(aCol).as("a"), col(bCol).as("b"))
      .agg(count(lit(1)).as("obs"))
      .transform(Layout.pin)
    val aTot = cells.groupBy("a").agg(sum("obs").as("a_tot"))
    val bTot = cells.groupBy("b").agg(sum("obs").as("b_tot"))
    val nt = cells.agg(sum("obs").as("n_tot"))
    val nD = col("n_tot").cast("double")
    def fxSum(term: Column) =
      sum(round(term * TermScale, 0).cast("long")).cast("double") / TermScale
    val miTerm = round(col("obs").cast("double") *
      log((col("obs").cast("double") * nD) /
        (col("a_tot").cast("double") * col("b_tot").cast("double"))), 6)
    def hTerm(tot: Column) =
      round(tot.cast("double") * log(nD / tot.cast("double")), 6)
    val sMi = cells.join(aTot, Seq("a")).join(bTot, Seq("b"))
      .crossJoin(broadcast(nt))
      .agg(fxSum(miTerm).as("s_mi"))
    val ha = aTot.crossJoin(broadcast(nt))
      .agg(count(lit(1)).as("n_a"), fxSum(hTerm(col("a_tot"))).as("s_a"))
    val hb = bTot.crossJoin(broadcast(nt))
      .agg(count(lit(1)).as("n_b"), fxSum(hTerm(col("b_tot"))).as("s_b"))
    ha.crossJoin(broadcast(hb)).crossJoin(broadcast(sMi))
      .crossJoin(broadcast(nt))
      .select(col("n_a"), col("n_b"),
        round(col("s_mi") / nD, 6).as("mi_nats"),
        round(col("s_a") / nD, 6).as("h_a"),
        round(col("s_b") / nD, 6).as("h_b"))
      .withColumn("nmi",
        when(col("h_a") > 0 && col("h_b") > 0,
          round(col("mi_nats") / sqrt(col("h_a") * col("h_b")), 6)))
  }

  /** DuckDB mirror of [[mutualInfo]] — generated; same fixed points, same
    * rounded-component nmi.
    */
  def mutualInfoSql(table: String, aCol: String, bCol: String): String =
    s"""WITH cells AS (
       |  SELECT $aCol AS a, $bCol AS b, COUNT(*) AS obs
       |  FROM $table
       |  WHERE $aCol IS NOT NULL AND $bCol IS NOT NULL
       |  GROUP BY $aCol, $bCol
       |), at AS (SELECT a, CAST(SUM(obs) AS BIGINT) AS a_tot FROM cells GROUP BY a),
       |bt AS (SELECT b, CAST(SUM(obs) AS BIGINT) AS b_tot FROM cells GROUP BY b),
       |nt AS (SELECT CAST(SUM(obs) AS BIGINT) AS n_tot FROM cells),
       |mi AS (
       |  SELECT CAST(SUM(CAST(round(
       |      round(CAST(obs AS DOUBLE)
       |        * ln(CAST(obs AS DOUBLE) * CAST(n_tot AS DOUBLE)
       |          / (CAST(a_tot AS DOUBLE) * CAST(b_tot AS DOUBLE))), 6)
       |      * $TermScale, 0) AS BIGINT)) AS DOUBLE) / $TermScale AS s_mi
       |  FROM cells
       |  JOIN at ON at.a = cells.a
       |  JOIN bt ON bt.b = cells.b
       |  CROSS JOIN nt
       |), ha AS (
       |  SELECT COUNT(*) AS n_a,
       |    CAST(SUM(CAST(round(
       |      round(CAST(a_tot AS DOUBLE)
       |        * ln(CAST(n_tot AS DOUBLE) / CAST(a_tot AS DOUBLE)), 6)
       |      * $TermScale, 0) AS BIGINT)) AS DOUBLE) / $TermScale AS s_a
       |  FROM at CROSS JOIN nt
       |), hb AS (
       |  SELECT COUNT(*) AS n_b,
       |    CAST(SUM(CAST(round(
       |      round(CAST(b_tot AS DOUBLE)
       |        * ln(CAST(n_tot AS DOUBLE) / CAST(b_tot AS DOUBLE)), 6)
       |      * $TermScale, 0) AS BIGINT)) AS DOUBLE) / $TermScale AS s_b
       |  FROM bt CROSS JOIN nt
       |), fin AS (
       |  SELECT n_a, n_b,
       |    round(s_mi / CAST(n_tot AS DOUBLE), 6) AS mi_nats,
       |    round(s_a / CAST(n_tot AS DOUBLE), 6) AS h_a,
       |    round(s_b / CAST(n_tot AS DOUBLE), 6) AS h_b
       |  FROM ha CROSS JOIN hb CROSS JOIN mi CROSS JOIN nt
       |)
       |SELECT n_a, n_b, mi_nats, h_a, h_b,
       |  CASE WHEN h_a > 0 AND h_b > 0
       |       THEN round(mi_nats / sqrt(h_a * h_b), 6)
       |  END AS nmi
       |FROM fin""".stripMargin

  /** Two-sample Kolmogorov–Smirnov distance between the `valueCol`
    * distributions of the two classes of boolean `labelCol`, on the
    * `decimals`-bucketed value grid (the [[aucBinary]] contract: the grid
    * bound IS the scale contract — windows run over distinct buckets,
    * never rows). One row: `(n_a, n_b, d_stat, at_value)` where
    * `d_stat = max_v |F_a(v) − F_b(v)|` and `at_value` is the grid point
    * attaining it (lowest among exact ties). The caller compares `d_stat`
    * against `c(α)·sqrt((n_a+n_b)/(n_a·n_b))` — the drift gate between a
    * new crawl slice and the established corpus.
    *
    * Determinism: ECDF gaps are compared as EXACT integers
    * `|cum_a·n_b − cum_b·n_a|` (DECIMAL(19,0) products — exact past the
    * point where a double ECDF would quantize away a tie); the argmax is a
    * total `ORDER BY (gap DESC, bucket ASC) LIMIT 1`, and the ONLY float
    * ops are the final 6dp division and the bucket→value rescale. A
    * one-class input yields null `d_stat` (undefined, not 0); an empty
    * input yields zero rows.
    *
    * Scale: one count shuffle reduces the corpus to ≤ range·10^decimals
    * cells; the cumulative window, the 1-row totals broadcast, and the
    * top-1 all run on that grid.
    */
  def ksTest(df: DataFrame, valueCol: String, labelCol: String,
      decimals: Int = 4, maxGridCells: Long = 50000000L): DataFrame = {
    require(decimals >= -6 && decimals <= 6,
      s"decimals bounds the value grid; want [-6, 6], got $decimals")
    val scaleF = math.pow(10, decimals)
    val lab = col(labelCol).cast("boolean")
    val cells = boundedGrid(df
      .where(col(valueCol).isNotNull && lab.isNotNull)
      .groupBy(round(col(valueCol) * scaleF, 0).cast("long").as("sb"))
      .agg(sum(when(lab, 1L).otherwise(0L)).as("na"),
        sum(when(!lab, 1L).otherwise(0L)).as("nb")), "ksTest", maxGridCells)
    val tot = cells.agg(sum(col("na")).as("n_a"), sum(col("nb")).as("n_b"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("sb"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    def dec(c: Column) = c.cast("decimal(19,0)")
    cells
      .withColumn("cuma", sum(col("na")).over(w))
      .withColumn("cumb", sum(col("nb")).over(w))
      .crossJoin(broadcast(tot))
      .withColumn("gap", abs(dec(col("cuma")) * dec(col("n_b")) -
        dec(col("cumb")) * dec(col("n_a"))))
      .orderBy(col("gap").desc, col("sb").asc)
      .limit(1)
      .select(col("n_a"), col("n_b"),
        when(col("n_a") > 0 && col("n_b") > 0,
          round(col("gap").cast("double") /
            (col("n_a").cast("double") * col("n_b").cast("double")), 6))
          .as("d_stat"),
        when(col("n_a") > 0 && col("n_b") > 0,
          col("sb").cast("double") / lit(scaleF)).as("at_value"))
  }

  /** DuckDB mirror of [[ksTest]] — generated; same grid, same exact gap
    * integers, same total argmax order, same final associations.
    */
  def ksTestSql(table: String, valueCol: String, labelCol: String,
      decimals: Int = 4): String = {
    val scaleF = math.pow(10, decimals)
    s"""WITH cells AS (
       |  SELECT CAST(round($valueCol * $scaleF, 0) AS BIGINT) AS sb,
       |    CAST(SUM(CASE WHEN CAST($labelCol AS BOOLEAN) THEN 1 ELSE 0 END) AS BIGINT) AS na,
       |    CAST(SUM(CASE WHEN CAST($labelCol AS BOOLEAN) THEN 0 ELSE 1 END) AS BIGINT) AS nb
       |  FROM $table
       |  WHERE $valueCol IS NOT NULL AND $labelCol IS NOT NULL
       |  GROUP BY 1
       |), tot AS (
       |  SELECT CAST(SUM(na) AS BIGINT) AS n_a, CAST(SUM(nb) AS BIGINT) AS n_b
       |  FROM cells
       |), run AS (
       |  SELECT sb,
       |    CAST(SUM(na) OVER (ORDER BY sb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cuma,
       |    CAST(SUM(nb) OVER (ORDER BY sb
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumb
       |  FROM cells
       |), g AS (
       |  SELECT sb, n_a, n_b,
       |    abs(CAST(cuma AS DECIMAL(19,0)) * CAST(n_b AS DECIMAL(19,0))
       |      - CAST(cumb AS DECIMAL(19,0)) * CAST(n_a AS DECIMAL(19,0))) AS gap
       |  FROM run CROSS JOIN tot
       |)
       |SELECT n_a, n_b,
       |  CASE WHEN n_a > 0 AND n_b > 0
       |       THEN round(CAST(gap AS DOUBLE)
       |         / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)), 6)
       |  END AS d_stat,
       |  CASE WHEN n_a > 0 AND n_b > 0
       |       THEN CAST(sb AS DOUBLE) / $scaleF
       |  END AS at_value
       |FROM g
       |ORDER BY gap DESC, sb ASC
       |LIMIT 1""".stripMargin
  }

  /** Spearman rank correlation ρ between two numeric columns — the
    * monotonic-association companion to [[corrMatrix]]'s Pearson (outlier-
    * robust, invariant under any monotone rescale of either side; use it
    * when "does quality score rank with engagement" matters more than the
    * linear slope). One row: `(col_x, col_y, n, rho)`, ρ 4dp-rounded, null
    * when either side is constant.
    *
    * Semantics: classical tie-aware Spearman — each value gets the AVERAGE
    * rank of its tie group, then Pearson on the ranks. Ranks are kept
    * exact by working with 2·rank (`2·|{<v}| + |{=v}| + 1`, always an
    * integer); the constant factor cancels in the correlation.
    *
    * Scale contract (the e69 bucket-grid discipline): values are bucketed
    * at `decimals` fixed-point BEFORE ranking, so ranking reduces to the
    * distinct-bucket grid (≤ range·10^decimals rows, never row-count-
    * sized): one (bx, by) count shuffle collapses the corpus to the joint
    * grid, the marginal cumulative windows run on grids, and the moment
    * sums are weighted by cell counts — the fact table is scanned ONCE and
    * never re-shuffled. Rank products accumulate in DECIMAL(38,0)
    * (≤ 4n³ — exact past 10⁹ rows); the mirror uses HUGEINT for the same
    * integers.
    */
  def spearman(df: DataFrame, xCol: String, yCol: String,
      decimals: Int = 2, maxGridCells: Long = 50000000L): DataFrame = {
    require(decimals >= -6 && decimals <= 6,
      s"decimals bounds the rank grid; want [-6, 6], got $decimals")
    val scaleF = math.pow(10, decimals)
    val joint = boundedGrid(df
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
      .groupBy(round(col(xCol) * scaleF, 0).cast("long").as("bx"),
        round(col(yCol) * scaleF, 0).cast("long").as("by"))
      .agg(count(lit(1)).as("n_xy")), "spearman", maxGridCells)
    // grid-sized (resolution-bounded); three consumers (two marginals +
    // the moment join) — cache-lifetime convention, see object scaladoc
    def marginalRanks(bCol: String, rName: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window.orderBy(col(bCol))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
      joint.groupBy(col(bCol)).agg(sum(col("n_xy")).as("c"))
        .withColumn("cum", sum(col("c")).over(w))
        // 2·avgRank = 2·(cum − c) + c + 1 = 2·cum − c + 1 (exact long)
        .select(col(bCol), (lit(2L) * col("cum") - col("c") + 1L).as(rName))
    }
    def dec(c: Column) = c.cast("decimal(19,0)")
    val m = joint
      .join(marginalRanks("bx", "r2x"), "bx")
      .join(marginalRanks("by", "r2y"), "by")
      .agg(
        sum(col("n_xy")).as("n"),
        sum(dec(col("r2x")) * dec(col("n_xy"))).as("sx"),
        sum(dec(col("r2y")) * dec(col("n_xy"))).as("sy"),
        sum(dec(col("r2x")) * dec(col("r2x")) * dec(col("n_xy"))).as("sxx"),
        sum(dec(col("r2y")) * dec(col("r2y")) * dec(col("n_xy"))).as("syy"),
        sum(dec(col("r2x")) * dec(col("r2y")) * dec(col("n_xy"))).as("sxy"))
    m.select(lit(xCol).as("col_x"), lit(yCol).as("col_y"),
      coalesce(col("n"), lit(0L)).as("n"),
      corrFromMoments(coalesce(col("n"), lit(0L)), col("sx"), col("sy"),
        col("sxx"), col("syy"), col("sxy")).as("rho"))
  }

  /** DuckDB mirror of [[spearman]] — generated; same bucket grid, same
    * 2·rank integers (HUGEINT — DuckDB's DECIMAL multiply binds width at
    * 38 and would reject the three-factor product), same final
    * association. `table` may be any FROM-able expression.
    */
  def spearmanSql(table: String, xCol: String, yCol: String,
      decimals: Int = 2): String = {
    val scaleF = math.pow(10, decimals)
    s"""WITH joint AS (
       |  SELECT CAST(round($xCol * $scaleF, 0) AS BIGINT) AS bx,
       |    CAST(round($yCol * $scaleF, 0) AS BIGINT) AS by,
       |    COUNT(*) AS n_xy
       |  FROM $table
       |  WHERE $xCol IS NOT NULL AND $yCol IS NOT NULL
       |  GROUP BY 1, 2
       |), rx AS (
       |  SELECT bx, 2 * CAST(SUM(c) OVER (ORDER BY bx
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    - c + 1 AS r2x
       |  FROM (SELECT bx, CAST(SUM(n_xy) AS BIGINT) AS c FROM joint GROUP BY 1)
       |), ry AS (
       |  SELECT by, 2 * CAST(SUM(c) OVER (ORDER BY by
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
       |    - c + 1 AS r2y
       |  FROM (SELECT by, CAST(SUM(n_xy) AS BIGINT) AS c FROM joint GROUP BY 1)
       |), m AS (
       |  SELECT CAST(SUM(n_xy) AS BIGINT) AS n,
       |    SUM(CAST(r2x AS HUGEINT) * CAST(n_xy AS HUGEINT)) AS sx,
       |    SUM(CAST(r2y AS HUGEINT) * CAST(n_xy AS HUGEINT)) AS sy,
       |    SUM(CAST(r2x AS HUGEINT) * CAST(r2x AS HUGEINT) * CAST(n_xy AS HUGEINT)) AS sxx,
       |    SUM(CAST(r2y AS HUGEINT) * CAST(r2y AS HUGEINT) * CAST(n_xy AS HUGEINT)) AS syy,
       |    SUM(CAST(r2x AS HUGEINT) * CAST(r2y AS HUGEINT) * CAST(n_xy AS HUGEINT)) AS sxy
       |  FROM joint JOIN rx USING (bx) JOIN ry USING (by)
       |)
       |SELECT '$xCol' AS col_x, '$yCol' AS col_y, COALESCE(n, 0) AS n,
       |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <= 0
       |       OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <= 0
       |  THEN NULL ELSE
       |    round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
       |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
       |      / (sqrt(CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
       |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
       |        * sqrt(CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
       |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
       |  END AS rho
       |FROM m""".stripMargin
  }

  /** Welch's two-sample t — unequal-variance mean comparison between two
    * labelled groups (the A/B-test / cohort-shift primitive: "did the new
    * mixture move mean quality"). One row: `(label_a, label_b, n_a, n_b,
    * mean_a, mean_b, t_stat, df)`; means 4dp, t 4dp, Welch–Satterthwaite
    * df 2dp. Null t/df when either group has < 2 rows or both variances
    * are zero.
    *
    * Exactness: both groups' (n, Σx, Σx²) come from ONE conditional
    * aggregation pass in 10⁴-fixed-point DECIMAL (the corrMatrix moment
    * discipline); the closed form runs once on doubles cast from those
    * exactly-agreed integers in a fixed association — bit-identical across
    * engines and partitionings. Scale: one partial+final hash aggregate
    * over a column-pruned scan, no shuffle of the fact table.
    */
  def welchT(df: DataFrame, valueCol: String, labelCol: String,
      labelA: String, labelB: String): DataFrame = {
    require(labelA != labelB, "welchT: labels must differ")
    def grp(lbl: String, suf: String): Seq[Column] = {
      val in = col(labelCol) === lbl && col(valueCol).isNotNull
      def g(c: Column) = when(in, c)
      Seq(count(when(in, lit(1))).as(s"n_$suf"),
        sum(g(fx(col(valueCol)))).as(s"s_$suf"),
        sum(g(fx(col(valueCol)) * fx(col(valueCol)))).as(s"ss_$suf"))
    }
    val aggs = grp(labelA, "a") ++ grp(labelB, "b")
    val m = df.agg(aggs.head, aggs.tail: _*)
    // per-group: mean = Σx/n (de-scaled once), sample variance
    // s² = (n·Σx² − (Σx)²) / (n·(n−1)) — computed on doubles from the
    // exact decimal atoms, de-scaled by 10⁸ once
    def stats(suf: String): (Column, Column, Column) = {
      val nd = col(s"n_$suf").cast("double")
      val s = col(s"s_$suf").cast("double")
      val ss = col(s"ss_$suf").cast("double")
      val mean = s / nd / Scale
      val variance = (nd * ss - s * s) / (nd * (nd - 1.0)) / (Scale.toDouble * Scale)
      (nd, mean, variance)
    }
    val (na, ma, va) = stats("a")
    val (nb, mb, vb) = stats("b")
    val se2 = va / na + vb / nb
    val tStat = (ma - mb) / sqrt(se2)
    val dfW = (se2 * se2) /
      ((va / na) * (va / na) / (na - 1.0) + (vb / nb) * (vb / nb) / (nb - 1.0))
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0.0
    m.select(
      lit(labelA).as("label_a"), lit(labelB).as("label_b"),
      col("n_a"), col("n_b"),
      when(col("n_a") > 0, round(ma, 4)).as("mean_a"),
      when(col("n_b") > 0, round(mb, 4)).as("mean_b"),
      when(ok, round(tStat, 4)).as("t_stat"),
      when(ok, round(dfW, 2)).as("df"))
  }

  /** Cumulative Poisson(1) probabilities for k = 0..7 (the inverse-CDF
    * thresholds of the bootstrap weights). Computed once in Scala and
    * embedded as the SAME double literals in the Spark plan and the
    * generated SQL, so both engines bucket identically.
    */
  private val PoissonCum: Seq[Double] = {
    val probs = (0 to 7).scanLeft(math.exp(-1.0)) { (p, k) => p / (k + 1) }
    probs.take(8).scanLeft(0.0)(_ + _).tail
  }

  /** Poisson-bootstrap confidence interval for the mean — error bars on a
    * corpus-level metric (mean quality score, mean doc length) without
    * distributional assumptions. One row:
    * `(n, b, mean, ci_lo, ci_hi)` — the exact overall mean plus the
    * [α/2, 1−α/2] percentile interval over `b` bootstrap replicate means,
    * all 6dp.
    *
    * Why Poisson: classical bootstrap resampling (draw n rows with
    * replacement) needs global coordination; the Poisson approximation
    * gives every row an independent per-replicate weight w ~ Poisson(1)
    * (Chamandy et al. 2012, "Estimating uncertainty for massive data
    * streams" — the standard distributed bootstrap), so the whole
    * procedure is one explode + one aggregate, embarrassingly parallel.
    *
    * Determinism: the weight is hash-derived — u = (md5(salt ∥ id ∥ ':' ∥
    * rep) first 4 hex + ½) / 2¹⁶ (the [[graft.ops.Splits.hashBucket]] /
    * gumbelE4 noise convention) pushed through the Poisson(1) inverse CDF
    * (8 fixed thresholds, tail capped at 8, P(k>8) ≈ 10⁻⁶ — below the
    * 2⁻¹⁶ noise grid anyway) — so every replicate is a property of the
    * DATA + salt, reproducible on any engine/partitioning. Replicate
    * means divide exact fixed-point sums once; the order statistics use
    * nearest-rank indices ⌈b·α/2⌉ / ⌈b·(1−α/2)⌉ over the totally ordered
    * (mean, rep) list.
    *
    * Scale: the exploded frame is corpus × b rows but reduces in ONE hash
    * aggregate with map-side partials to b rows; the overall mean adds a
    * second plain scan (≈ 1/b of the explode cost). Cost is linear in b —
    * b = 100..200 is the published sweet spot.
    */
  def bootstrapMeanCi(df: DataFrame, valueCol: String, idCol: String,
      b: Int = 100, alpha: Double = 0.05, salt: String = "boot"): DataFrame = {
    require(b >= 10 && b <= 10000, s"b replicates in [10, 10000], got $b")
    require(alpha > 0 && alpha < 0.5, s"alpha in (0, 0.5), got $alpha")
    val rows = df
      .where(col(valueCol).isNotNull && col(idCol).isNotNull)
      .select(fx(col(valueCol)).as("atom"), col(idCol).cast("string").as("id"))
    val u = (conv(substring(md5(concat(lit(salt), col("id"), lit(":"),
      col("rep").cast("string"))), 1, 4), 16, 10).cast("double") + 0.5) / 65536.0
    val w = PoissonCum.zipWithIndex.foldRight(lit(8L)) {
      case ((p, k), acc) => when(col("u") < p, k.toLong).otherwise(acc)
    }
    val means = rows
      .withColumn("rep", explode(sequence(lit(0), lit(b - 1))))
      .withColumn("u", u)
      .groupBy(col("rep"))
      .agg(sum(w).as("n_eff"),
        sum(w.cast("decimal(19,0)") * col("atom")).as("s"))
      .where(col("n_eff") > 0)
      .select(col("rep"),
        (col("s").cast("double") / lit(Scale.toDouble)
          / col("n_eff").cast("double")).as("mean_rep"))
    val wn = org.apache.spark.sql.expressions.Window
      .orderBy(col("mean_rep"), col("rep"))
    val ranked = means
      .withColumn("rn", row_number().over(wn))
      .withColumn("cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
    val loIdx = greatest(lit(1L), ceil(col("cnt") * lit(alpha / 2)).cast("long"))
    val hiIdx = least(col("cnt"), ceil(col("cnt") * lit(1 - alpha / 2)).cast("long"))
    val ci = ranked.agg(
      max(col("cnt")).as("b"),
      min(when(col("rn") === loIdx, col("mean_rep"))).as("lo"),
      min(when(col("rn") === hiIdx, col("mean_rep"))).as("hi"))
    val tot = rows.agg(count(lit(1)).as("n"), sum(col("atom")).as("sa"))
    tot.crossJoin(broadcast(ci)).select(
      col("n"), col("b"),
      when(col("n") > 0, round(col("sa").cast("double") / lit(Scale.toDouble)
        / col("n").cast("double"), 6)).as("mean"),
      round(col("lo"), 6).as("ci_lo"),
      round(col("hi"), 6).as("ci_hi"))
  }

  /** The e13-convention hex→int ladder for DuckDB (no conv() there):
    * first 4 hex chars of `m` as a 16-bit integer.
    */
  private def hex4Sql(m: String): String =
    s"""((((strpos('0123456789abcdef', substr($m,1,1)) - 1) * 16
       |      + (strpos('0123456789abcdef', substr($m,2,1)) - 1)) * 16
       |      + (strpos('0123456789abcdef', substr($m,3,1)) - 1)) * 16
       |      + (strpos('0123456789abcdef', substr($m,4,1)) - 1))""".stripMargin

  /** DuckDB mirror of [[bootstrapMeanCi]] — generated: same md5 noise,
    * same Poisson thresholds (the identical double literals), same
    * nearest-rank order statistics.
    */
  def bootstrapMeanCiSql(table: String, valueCol: String, idCol: String,
      b: Int = 100, alpha: Double = 0.05, salt: String = "boot"): String = {
    val wCase = PoissonCum.zipWithIndex
      .map { case (p, k) => s"WHEN u < $p THEN $k" }
      .mkString("CASE ", " ", " ELSE 8 END")
    s"""WITH rows_in AS (
       |  SELECT ${fxSql(valueCol)} AS atom, CAST($idCol AS VARCHAR) AS id
       |  FROM $table
       |  WHERE $valueCol IS NOT NULL AND $idCol IS NOT NULL
       |), expl AS (
       |  SELECT atom, id, CAST(r.i AS BIGINT) AS rep
       |  FROM rows_in, (SELECT unnest(range($b)) AS i) r
       |), wts AS (
       |  SELECT atom, rep,
       |    CAST($wCase AS BIGINT) AS w
       |  FROM (
       |    SELECT atom, rep,
       |      (CAST(${hex4Sql(s"md5('${salt.replace("'", "''")}' || id || ':' || CAST(rep AS VARCHAR))")} AS DOUBLE) + 0.5) / 65536.0 AS u
       |    FROM expl
       |  )
       |), means AS (
       |  SELECT rep,
       |    CAST(SUM(CAST(w AS DECIMAL(19,0)) * atom) AS DOUBLE) / ${Scale}.0
       |      / CAST(SUM(w) AS DOUBLE) AS mean_rep
       |  FROM wts GROUP BY rep HAVING SUM(w) > 0
       |), ranked AS (
       |  SELECT mean_rep,
       |    row_number() OVER (ORDER BY mean_rep, rep) AS rn,
       |    COUNT(*) OVER () AS cnt
       |  FROM means
       |), ci AS (
       |  SELECT MAX(cnt) AS b,
       |    -- CAST the embedded literals to DOUBLE: bare decimals parse as DECIMAL
       |    -- and DuckDB would compute the rank product exactly while the
       |    -- Spark twin multiplies doubles — ceil could differ by one when
       |    -- the exact product is an integer (the ndcgAtKSql convention)
       |    MIN(CASE WHEN rn = greatest(1, CAST(ceiling(cnt * CAST(${alpha / 2} AS DOUBLE)) AS BIGINT))
       |             THEN mean_rep END) AS lo,
       |    MIN(CASE WHEN rn = least(cnt, CAST(ceiling(cnt * CAST(${1 - alpha / 2} AS DOUBLE)) AS BIGINT))
       |             THEN mean_rep END) AS hi
       |  FROM ranked
       |), tot AS (
       |  SELECT COUNT(*) AS n, SUM(atom) AS sa FROM rows_in
       |)
       |SELECT n, b,
       |  CASE WHEN n > 0 THEN
       |    round(CAST(sa AS DOUBLE) / ${Scale}.0 / CAST(n AS DOUBLE), 6)
       |  END AS mean,
       |  round(lo, 6) AS ci_lo,
       |  round(hi, 6) AS ci_hi
       |FROM tot CROSS JOIN ci""".stripMargin
  }

  /** DuckDB mirror of [[welchT]] — generated; same fixed-point atoms, same
    * associations, same guards.
    */
  def welchTSql(table: String, valueCol: String, labelCol: String,
      labelA: String, labelB: String): String = {
    val v = fxSql(valueCol)
    def grpSql(lbl: String, suf: String): String = {
      val in = s"$labelCol = '${lbl.replace("'", "''")}' AND $valueCol IS NOT NULL"
      s"""    COUNT(*) FILTER (WHERE $in) AS n_$suf,
         |    SUM(CASE WHEN $in THEN $v END) AS s_$suf,
         |    SUM(CASE WHEN $in THEN $v * $v END) AS ss_$suf""".stripMargin
    }
    def statsSql(suf: String): String =
      s"""    CAST(n_$suf AS DOUBLE) AS nd_$suf,
         |    CAST(s_$suf AS DOUBLE) / CAST(n_$suf AS DOUBLE) / $Scale AS m_$suf,
         |    (CAST(n_$suf AS DOUBLE) * CAST(ss_$suf AS DOUBLE)
         |      - CAST(s_$suf AS DOUBLE) * CAST(s_$suf AS DOUBLE))
         |      / (CAST(n_$suf AS DOUBLE) * (CAST(n_$suf AS DOUBLE) - 1.0))
         |      / (CAST($Scale AS DOUBLE) * $Scale) AS v_$suf""".stripMargin
    s"""WITH m AS (
       |  SELECT
       |${grpSql(labelA, "a")},
       |${grpSql(labelB, "b")}
       |  FROM $table
       |), st AS (
       |  SELECT n_a, n_b,
       |${statsSql("a")},
       |${statsSql("b")}
       |  FROM m
       |), f AS (
       |  SELECT n_a, n_b, nd_a, nd_b, m_a, m_b, v_a, v_b,
       |    v_a / nd_a + v_b / nd_b AS se2
       |  FROM st
       |)
       |SELECT '${labelA.replace("'", "''")}' AS label_a,
       |  '${labelB.replace("'", "''")}' AS label_b,
       |  n_a, n_b,
       |  CASE WHEN n_a > 0 THEN round(m_a, 4) END AS mean_a,
       |  CASE WHEN n_b > 0 THEN round(m_b, 4) END AS mean_b,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
       |       THEN round((m_a - m_b) / sqrt(se2), 4) END AS t_stat,
       |  CASE WHEN n_a >= 2 AND n_b >= 2 AND se2 > 0
       |       THEN round((se2 * se2)
       |         / ((v_a / nd_a) * (v_a / nd_a) / (nd_a - 1.0)
       |           + (v_b / nd_b) * (v_b / nd_b) / (nd_b - 1.0)), 2)
       |  END AS df
       |FROM f""".stripMargin
  }

  /** Gini coefficient of the per-group row distribution — the corpus-
    * balance diagnostic a mixture ledger reads next to its proportions
    * (0 = every source contributes equally, → 1 = one source owns the
    * corpus; the per-domain concentration number web-scale curation tracks
    * before applying caps).
    *
    * Scale shape: one hash aggregate to |groups| counts, a second to the
    * DISTINCT count VALUES (the grid), one cumulative window over that
    * grid, one final reduce. The unpartitioned window follows the
    * rank-grid discipline ([[spearman]]): it runs over distinct group
    * SIZES — resolution-bounded, never group- or row-bounded (a billion
    * domains share far fewer distinct document counts). With ties grouped,
    * the sorted-rank sum Σ i·xᵢ for a size v of multiplicity m above c
    * smaller groups is v·(m·c + m(m+1)/2) — integer-exact and
    * order-invariant, so no tie-break column is needed anywhere.
    *
    * Everything is exact longs until ONE double division at the end
    * (identical IEEE in both engines — [[giniSql]] mirrors the textual
    * order), rounded to 6 decimals. Long arithmetic holds to ~2⁶³ in
    * n·total; a corpus past that flips the sums to DECIMAL(38,0), the
    * [[corrMatrix]] fixed-point pattern. Output: one row
    * (n_groups, n_rows, gini).
    */
  def giniByGroup(df: DataFrame, groupCol: String): DataFrame = {
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("x"))
    val grid = counts.groupBy(col("x")).agg(count(lit(1)).as("m"))
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("x"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val cum = grid.withColumn("c", sum(col("m")).over(w) - col("m"))
    cum.select(col("m"), (col("x") * col("m")).as("xm"),
        (col("x") * (col("m") * col("c") + expr("(m * (m + 1)) div 2"))).as("ix"))
      .agg(sum(col("m")).as("n"), sum(col("xm")).as("total"),
        sum(col("ix")).as("sumix"))
      .select(col("n").as("n_groups"), col("total").as("n_rows"),
        round((lit(2L) * col("sumix") - (col("n") + 1L) * col("total"))
          .cast("double") / (col("n") * col("total")), 6).as("gini"))
  }

  /** DuckDB mirror of [[giniByGroup]] — same grid construction, same integer
    * arithmetic (`//` ≡ Spark's `div`), same single double division.
    */
  def giniByGroupSql(table: String, groupCol: String): String =
    s"""WITH counts AS (
       |  SELECT $groupCol, COUNT(*) AS x FROM $table GROUP BY $groupCol
       |), grid AS (
       |  SELECT x, COUNT(*) AS m FROM counts GROUP BY x
       |), cum AS (
       |  SELECT x, m,
       |    SUM(m) OVER (ORDER BY x ROWS UNBOUNDED PRECEDING) - m AS c
       |  FROM grid
       |), terms AS (
       |  SELECT m, x * m AS xm, x * (m * c + (m * (m + 1)) // 2) AS ix
       |  FROM cum
       |), s AS (
       |  -- DuckDB SUM(BIGINT) widens to HUGEINT (int128) — cast back so the
       |  -- count columns stay BIGINT like Spark's LongType sums
       |  SELECT CAST(SUM(m) AS BIGINT) AS n, CAST(SUM(xm) AS BIGINT) AS total,
       |    CAST(SUM(ix) AS BIGINT) AS sumix
       |  FROM terms
       |)
       |SELECT n AS n_groups, total AS n_rows,
       |  round(CAST(2 * sumix - (n + 1) * total AS DOUBLE) / (n * total), 6)
       |    AS gini
       |FROM s""".stripMargin
}
