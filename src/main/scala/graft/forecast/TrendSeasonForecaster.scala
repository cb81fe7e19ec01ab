package graft.forecast

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Additive trend + Fourier-seasonality forecaster with uncertainty
  * intervals and a MAPE harness (SURVEY.md §2.d F1–F4) — the capability of
  * the reference's Prophet stage (ipynb cells 13-18), re-implemented from
  * the published model (Taylor & Letham, "Forecasting at Scale", 2017):
  *
  *   y(t) = g(t) + s(t) + ε,  s(t) = Σ_k a_k cos(2πkt/P) + b_k sin(2πkt/P)
  *   for P ∈ {365.25, 7}
  *
  * g is the paper's §3.1 piecewise-linear trend: `nChangepoints` knots laid
  * over the first `changepointRange` of the observed points (Prophet's
  * default grid), each contributing a continuous hinge basis max(0, t−s_j)
  * whose coefficient is the slope CHANGE at s_j. `nChangepoints = 0` (the
  * default) degenerates to the single global line. Fit is ordinary least
  * squares over [1, t, hinges…, Fourier…] — the L2 analogue of Prophet's
  * Laplace (L1) changepoint prior; the grid and continuity construction are
  * the paper's, the sparsity prior is relaxed to ridge (documented
  * difference). Acceptance mirrors the reference's own evaluation: a MAPE
  * bound on a held-out split (0.02 on its data, PDF p.4), not coefficient
  * equality with Stan's MAP estimates (SURVEY.md §7 risk 3).
  *
  * Scale posture: the input series is an already-aggregated daily frame
  * (thousands of rows even for decades of data), so the OLS solve is a
  * driver-side O(n·p²) normal-equations pass — the distributed work is the
  * upstream aggregation (see q15_daily_series). Prediction is pushed back
  * into Spark as pure column arithmetic with the β vector inlined as
  * literals: codegen'd, executor-parallel, no UDF.
  */
object TrendSeasonForecaster {

  final case class Config(
      yearlyOrder: Int = 3,
      weeklyOrder: Int = 3,
      intervalWidth: Double = 0.95,
      nChangepoints: Int = 0,
      changepointRange: Double = 0.8)

  /** Fitted model: β over [1, t, hinge(t−s_j)…, yearly sin/cos…, weekly
    * sin/cos…] with t in days since `t0` (epoch days) and `changepoints` the
    * fitted knot offsets s_j, plus residual quantiles for intervals.
    */
  final case class Model(
      config: Config,
      t0: Long,
      beta: Array[Double],
      residLo: Double,
      residHi: Double,
      changepoints: Array[Double] = Array.empty) {

    private def designRow(tDays: Double): Array[Double] =
      Model.designRow(config, changepoints, tDays)

    def predictAt(epochDay: Long): Double = {
      val x = designRow((epochDay - t0).toDouble)
      var s = 0.0; var i = 0
      while (i < x.length) { s += x(i) * beta(i); i += 1 }
      s
    }

    /** Trend-only component (Prophet's `trend` output column): base line
      * plus every hinge's slope change accumulated past its knot.
      */
    def trendAt(epochDay: Long): Double = {
      val t = (epochDay - t0).toDouble
      var g = beta(0) + beta(1) * t
      var j = 0
      while (j < changepoints.length) {
        g += beta(2 + j) * math.max(0.0, t - changepoints(j)); j += 1
      }
      g
    }

    /** Spark-side prediction: adds `trend`, `yhat`, `yhat_lower`,
      * `yhat_upper` to a frame with a date column `dsCol` — β and the knots
      * inlined as literals, evaluated per-row in codegen (F3).
      */
    def transform(df: DataFrame, dsCol: String = "ds"): DataFrame = {
      val t = datediff(col(dsCol), lit(java.time.LocalDate.ofEpochDay(t0).toString)).cast("double")
      var trend: Column = lit(beta(0)) + lit(beta(1)) * t
      var i = 2
      for (s <- changepoints) {
        trend = trend + lit(beta(i)) * greatest(t - lit(s), lit(0.0)); i += 1
      }
      var yhat: Column = trend
      for (k <- 1 to config.yearlyOrder) {
        val w = 2.0 * math.Pi * k / 365.25
        yhat = yhat + lit(beta(i)) * cos(t * w); i += 1
        yhat = yhat + lit(beta(i)) * sin(t * w); i += 1
      }
      for (k <- 1 to config.weeklyOrder) {
        val w = 2.0 * math.Pi * k / 7.0
        yhat = yhat + lit(beta(i)) * cos(t * w); i += 1
        yhat = yhat + lit(beta(i)) * sin(t * w); i += 1
      }
      df.withColumn("trend", trend)
        .withColumn("yhat", yhat)
        .withColumn("yhat_lower", yhat + lit(residLo))
        .withColumn("yhat_upper", yhat + lit(residHi))
    }

    /** `make_future_dataframe(periods, freq='D')` counterpart (F2):
      * history ∪ future daily ds rows, generated distributed via
      * spark.range → date_add.
      */
    def makeFutureFrame(spark: SparkSession, historyDays: Int, periods: Int): DataFrame = {
      val start = java.time.LocalDate.ofEpochDay(t0).toString
      spark.range(0, historyDays.toLong + periods)
        .select(date_add(lit(start).cast("date"), col("id").cast("int")).as("ds"))
    }
  }

  object Model {
    private[forecast] def designRow(
        config: Config, changepoints: Array[Double], tDays: Double): Array[Double] = {
      val p = 2 + changepoints.length + 2 * config.yearlyOrder + 2 * config.weeklyOrder
      val x = new Array[Double](p)
      x(0) = 1.0; x(1) = tDays
      var i = 2
      var j = 0
      while (j < changepoints.length) {
        x(i) = math.max(0.0, tDays - changepoints(j)); i += 1; j += 1
      }
      for (k <- 1 to config.yearlyOrder) {
        val w = 2.0 * math.Pi * k * tDays / 365.25
        x(i) = math.cos(w); x(i + 1) = math.sin(w); i += 2
      }
      for (k <- 1 to config.weeklyOrder) {
        val w = 2.0 * math.Pi * k * tDays / 7.0
        x(i) = math.cos(w); x(i + 1) = math.sin(w); i += 2
      }
      x
    }
  }

  /** F1: fit on a (ds date, y double) frame. Collects the aggregated series
    * (small by construction) and solves the normal equations.
    */
  def fit(df: DataFrame, config: Config = Config(),
      dsCol: String = "ds", yCol: String = "y"): Model = {
    val rows = df.select(
        datediff(col(dsCol), lit("1970-01-01").cast("date")).cast("long").as("t"),
        col(yCol).cast("double").as("y"))
      .na.drop()
      .orderBy(col("t"))
      .collect()
    require(rows.length >= 3, s"need >=3 points, got ${rows.length}")
    val t0 = rows.head.getLong(0)
    val ts = rows.map(r => (r.getLong(0) - t0).toDouble)
    val ys = rows.map(_.getDouble(1))

    // Prophet's changepoint grid (§3.1 / prophet's set_changepoints):
    // nChangepoints knots evenly over the first changepointRange of the
    // OBSERVED points (index space, so irregular sampling follows the data),
    // skipping index 0 — a hinge at t=0 is collinear with the base line.
    val cps: Array[Double] =
      if (config.nChangepoints <= 0) Array.empty
      else {
        val hi = math.max(1, math.round(config.changepointRange * (ts.length - 1)).toInt)
        // clamp to >= 1: with nChangepoints+1 > 2*hi the grid rounds to index
        // 0, whose hinge max(0, t-0) = t is collinear with the linear term
        // (singular normal equations); .distinct folds the duplicates the
        // clamp creates on such short series
        (1 to config.nChangepoints)
          .map(j => ts(math.max(1, math.round(j.toDouble * hi / (config.nChangepoints + 1)).toInt)))
          .distinct.toArray
      }

    val p = 2 + cps.length + 2 * config.yearlyOrder + 2 * config.weeklyOrder
    val xtx = Array.ofDim[Double](p, p)
    val xty = new Array[Double](p)
    var n = 0
    while (n < ts.length) {
      val x = Model.designRow(config, cps, ts(n))
      var i = 0
      while (i < p) {
        xty(i) += x(i) * ys(n)
        var j = 0
        while (j < p) { xtx(i)(j) += x(i) * x(j); j += 1 }
        i += 1
      }
      n += 1
    }
    // ridge epsilon keeps the solve stable when the series is shorter than
    // a full seasonal period (collinear Fourier columns)
    var d = 0
    while (d < p) { xtx(d)(d) += 1e-8; d += 1 }
    val beta = solve(xtx, xty)

    val resid = ts.indices.map { idx =>
      val x = Model.designRow(config, cps, ts(idx))
      var s = 0.0; var i = 0
      while (i < p) { s += x(i) * beta(i); i += 1 }
      ys(idx) - s
    }.sorted
    val alpha = (1.0 - config.intervalWidth) / 2.0
    def quantile(q: Double): Double =
      resid(math.min(resid.length - 1, math.max(0, (q * (resid.length - 1)).round.toInt)))
    Model(config, t0, beta, quantile(alpha), quantile(1.0 - alpha), cps)
  }

  /** Gaussian elimination with partial pivoting (p ≤ ~20 → trivial cost). */
  private def solve(a: Array[Array[Double]], b: Array[Double]): Array[Double] = {
    val p = b.length
    val m = a.map(_.clone())
    val y = b.clone()
    var col0 = 0
    while (col0 < p) {
      var piv = col0
      var r = col0 + 1
      while (r < p) { if (math.abs(m(r)(col0)) > math.abs(m(piv)(col0))) piv = r; r += 1 }
      val tmp = m(col0); m(col0) = m(piv); m(piv) = tmp
      val ty = y(col0); y(col0) = y(piv); y(piv) = ty
      require(math.abs(m(col0)(col0)) > 1e-12, "singular design matrix")
      r = col0 + 1
      while (r < p) {
        val f = m(r)(col0) / m(col0)(col0)
        var c = col0
        while (c < p) { m(r)(c) -= f * m(col0)(c); c += 1 }
        y(r) -= f * y(col0)
        r += 1
      }
      col0 += 1
    }
    val beta = new Array[Double](p)
    var i = p - 1
    while (i >= 0) {
      var s = y(i)
      var j = i + 1
      while (j < p) { s -= m(i)(j) * beta(j); j += 1 }
      beta(i) = s / m(i)(i)
      i -= 1
    }
    beta
  }

  /** F4: MAPE as a distributed aggregate — `avg(abs((y-yhat)/y))`, the
    * reference's holdout metric (= 0.02 on its data).
    */
  def mape(df: DataFrame, yCol: String = "y", yhatCol: String = "yhat"): Double =
    df.where(col(yCol) =!= 0)
      .agg(avg(abs((col(yCol) - col(yhatCol)) / col(yCol))))
      .head().getDouble(0)

  /** ENGINE-PORTABLE forecast evaluation (e85): classical additive
    * decomposition — closed-form OLS trend + day-of-week effects — fitted on
    * the zero-filled daily event-volume series before `cutoff` and evaluated
    * on the days at/after it. This is the oracle-expressible twin of the
    * Prophet-class [[fit]] model: the full Fourier OLS needs a matrix solve
    * no SQL engine replays, so the DECLARED evaluation uses the decomposition
    * form whose every estimate is a closed-form ratio of exact integer
    * moments (the e42 linearFit discipline) and whose seasonal means sum
    * 4dp fixed-point atoms — bit-identical in any engine.
    * TrendSeasonForecasterSpec pins the two models against each other on a
    * planted trend+weekly series (both must clear the reference's own
    * MAPE < 0.02 bar).
    *
    * Determinism inventory: the daily series is an exact count on the
    * e45-style zero-filled spine; t is the integer epoch day; dow is the
    * PORTABLE `(t + 4) % 7` (0 = Sunday — engines disagree on the numbering
    * of their native dayofweek, the epoch anchor never does); slope's
    * numerator/denominator are exact BIGINT moments (Σt·y fits a long for
    * any daily series shorter than ~10⁵ years at 10¹⁴ events/day) divided
    * ONCE; residuals and predictions are rounded to the 4dp grid before any
    * float aggregation; MAPE sums 1e-6 atoms. Zero-volume days are excluded
    * from APE/MAPE (the F4 convention — APE is undefined at y = 0) but kept
    * as forecast rows.
    *
    * Output: one row per holdout day — (ds, y, yhat, ape, mape), mape
    * constant across rows (broadcast 1-row cross join, no window).
    */
  def decompEval(events: DataFrame, cutoff: String,
      tsCol: String = "ts"): DataFrame = {
    val daily0 = events
      .select(to_date(col(tsCol)).as("ds"))
      .groupBy(col("ds")).agg(count(lit(1)).as("y"))
      .transform(graft.ops.Layout.pin)
    // bounded (one row per observed day); PINNED (one eager local
    // checkpoint) because the spine min/max and the fill join both consume
    // it concurrently (the e45 double-scan fix + the cold-run dedup)
    val mm = daily0.agg(min(col("ds")).as("d0"), max(col("ds")).as("d1"))
    val spine = mm.select(
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("ds"))
    val t = datediff(col("ds"), lit("1970-01-01").cast("date")).cast("long")
    val daily = spine.join(daily0, Seq("ds"), "left")
      .select(col("ds"), t.as("t"), ((t + 4) % 7).as("dow"),
        coalesce(col("y"), lit(0L)).as("y"))
    val train = daily.where(col("ds") < lit(cutoff).cast("date"))

    val m = train.agg(
      count(lit(1)).as("n"),
      sum(col("t")).as("st"),
      sum(col("y")).as("sy"),
      sum(col("t") * col("t")).as("stt"),
      sum(col("t") * col("y")).as("sty"))
    val fit = broadcast(m.select(
      ((col("n") * col("sty") - col("st") * col("sy")).cast("double") /
        (col("n") * col("stt") - col("st") * col("st")).cast("double"))
        .as("slope"),
      col("st"), col("sy"), col("n")))
      .select(col("slope"),
        ((col("sy").cast("double") - col("slope") * col("st").cast("double")) /
          col("n").cast("double")).as("icept"))
    def trendOf(tc: Column) = col("icept") + col("slope") * tc.cast("double")

    val dowEff = broadcast(
      train.crossJoin(fit)
        .select(col("dow"),
          round(col("y").cast("double") - trendOf(col("t")), 4).as("r4"))
        .groupBy(col("dow"))
        .agg((sum(round(col("r4") * 10000, 0).cast("long")).cast("double") /
          lit(10000) / count(lit(1)).cast("double")).as("eff")))

    val holdout = daily.where(col("ds") >= lit(cutoff).cast("date"))
      .join(dowEff, Seq("dow"))
      .crossJoin(fit)
      .select(col("ds"), col("y"),
        round(trendOf(col("t")) + col("eff"), 4).as("yhat"))
    val scored = holdout.select(col("ds"), col("y"), col("yhat"),
      when(col("y") > 0,
        round(abs(col("y").cast("double") - col("yhat")) /
          col("y").cast("double"), 6)).as("ape"))
    val mapeRow = broadcast(scored.agg(
      (sum(round(col("ape") * 1000000, 0).cast("long")).cast("double") /
        lit(1000000) / count(col("ape")).cast("double")).as("mape")))
    scored.crossJoin(mapeRow)
      .select(date_format(col("ds"), "yyyy-MM-dd").as("ds"),
        col("y"), col("yhat"), col("ape"), col("mape"))
      .orderBy(col("ds"))
  }

  /** Generated DuckDB mirror of [[decompEval]] — same spine, same integer
    * moments, same association and rounding at every step.
    */
  def decompEvalSql(table: String, cutoff: String,
      tsCol: String = "ts"): String =
    s"""WITH daily0 AS (
       |  SELECT CAST($tsCol AS DATE) AS ds, COUNT(*) AS y
       |  FROM $table GROUP BY 1
       |), mm AS (
       |  SELECT MIN(ds) AS d0, MAX(ds) AS d1 FROM daily0
       |), spine AS (
       |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS ds
       |  FROM mm
       |), daily AS (
       |  SELECT s.ds,
       |    datediff('day', DATE '1970-01-01', s.ds) AS t,
       |    (datediff('day', DATE '1970-01-01', s.ds) + 4) % 7 AS dow,
       |    COALESCE(d.y, 0) AS y
       |  FROM spine s LEFT JOIN daily0 d ON s.ds = d.ds
       |), train AS (
       |  SELECT * FROM daily WHERE ds < DATE '$cutoff'
       |), m AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(t) AS BIGINT) AS st,
       |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(t * t) AS BIGINT) AS stt,
       |    CAST(SUM(t * y) AS BIGINT) AS sty
       |  FROM train
       |), fit0 AS (
       |  SELECT CAST(n * sty - st * sy AS DOUBLE) /
       |      CAST(n * stt - st * st AS DOUBLE) AS slope,
       |    st, sy, n
       |  FROM m
       |), fit AS (
       |  SELECT slope,
       |    (CAST(sy AS DOUBLE) - slope * CAST(st AS DOUBLE)) /
       |      CAST(n AS DOUBLE) AS icept
       |  FROM fit0
       |), doweff AS (
       |  SELECT dow,
       |    CAST(SUM(CAST(round(r4 * 10000, 0) AS BIGINT)) AS DOUBLE)
       |      / 10000 / CAST(COUNT(*) AS DOUBLE) AS eff
       |  FROM (
       |    SELECT dow,
       |      round(CAST(y AS DOUBLE) -
       |        (icept + slope * CAST(t AS DOUBLE)), 4) AS r4
       |    FROM train CROSS JOIN fit)
       |  GROUP BY 1
       |), scored AS (
       |  SELECT h.ds, h.y,
       |    round((icept + slope * CAST(h.t AS DOUBLE)) + eff, 4) AS yhat,
       |    CASE WHEN h.y > 0 THEN
       |      round(abs(CAST(h.y AS DOUBLE) -
       |        round((icept + slope * CAST(h.t AS DOUBLE)) + eff, 4))
       |        / CAST(h.y AS DOUBLE), 6)
       |    END AS ape
       |  FROM daily h JOIN doweff e ON h.dow = e.dow CROSS JOIN fit
       |  WHERE h.ds >= DATE '$cutoff'
       |), mp AS (
       |  SELECT CAST(SUM(CAST(round(ape * 1000000, 0) AS BIGINT)) AS DOUBLE)
       |      / 1000000 / CAST(COUNT(ape) AS DOUBLE) AS mape
       |  FROM scored
       |)
       |SELECT strftime(ds, '%Y-%m-%d') AS ds, y, yhat, ape, mape
       |FROM scored CROSS JOIN mp
       |ORDER BY ds""".stripMargin

  /** P8: the reference's positional 83/17 train/test split (ipynb cell 13) —
    * ordered row_number window vs the fraction cut.
    *
    * The unpartitioned ORDER BY window is a SINGLE-TASK global sort — the
    * right tool for the already-aggregated series this API is documented
    * for, and a one-task straggler on anything bigger. `maxRows` makes that
    * contract explicit: the split refuses a frame above the limit instead of
    * silently funneling a fact table through one executor thread. For large
    * frames, split on the value domain instead (a `WHERE ds < cutoff` range
    * predicate prunes at the scan and never sorts).
    */
  def positionalSplit(df: DataFrame, frac: Double = 0.83,
      orderCol: String = "ds", maxRows: Long = 1000000L): (DataFrame, DataFrame) = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(orderCol))
    val n = df.count()
    require(n <= maxRows,
      s"positionalSplit sorts in ONE task (global unpartitioned window): $n rows " +
        s"exceeds maxRows=$maxRows. Aggregate the series first, or split on a " +
        s"value-range predicate over '$orderCol' instead.")
    val cut = (n * frac).toLong
    val numbered = df.withColumn("__rn", row_number().over(w))
    (numbered.where(col("__rn") <= cut).drop("__rn"),
      numbered.where(col("__rn") > cut).drop("__rn"))
  }
}
