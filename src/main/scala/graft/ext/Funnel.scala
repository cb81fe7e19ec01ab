package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-funnel analysis over an event stream — the product-analytics
  * primitive (view → click → purchase conversion): for each user, the
  * earliest chain of the step events completed inside a window anchored at
  * the FIRST step-1 event. Semantics are the deterministic "first touch"
  * funnel: t₁ = first step-1 event; tᵢ₊₁ = first step-(i+1) event strictly
  * after tᵢ and no later than t₁ + window. Greedy-earliest is the industry
  * semantic precisely because it is deterministic — it never depends on
  * which of several qualifying chains an engine happens to find.
  *
  * Scale posture: stage i is a filtered aggregate (`type = stepᵢ` pushes to
  * the scan) joined to the previous stage's per-user row — each stage
  * shuffles only users who SURVIVED the previous stage (monotonically
  * shrinking), never the raw event stream twice. k steps = k filtered
  * scans + k shrinking shuffles; no arrays of per-user events are ever
  * collected.
  *
  * Pin lifetime: transitionMatrix/associationRules pin their bounded
  * pair-count frames and return LAZY results over them; the pinned blocks
  * are released by Spark's ContextCleaner once the result is unreachable
  * — the graft-wide convention (see Drift's scaladoc).
  */
object Funnel {

  /** Per-stage per-user completion frames: element i has columns
    * (user, t_1 … t_{i+1}) — users completing the first i+1 steps.
    */
  def stages(
      events: DataFrame,
      steps: Seq[String],
      window: String = "48 hours",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): Seq[DataFrame] = {
    require(steps.size >= 2, s"a funnel needs at least 2 steps, got $steps")
    val first = events.where(col(typeCol) === steps.head)
      .groupBy(col(userCol)).agg(min(col(tsCol)).as("t_1"))
    steps.tail.zipWithIndex.scanLeft(first) { case (prev, (step, i)) =>
      val tPrev = s"t_${i + 1}"
      val tCur = s"t_${i + 2}"
      val carried = (1 to i + 1).map(j => col(s"t_$j"))
      events.where(col(typeCol) === step)
        .join(prev, userCol)
        .where(col(tsCol) > col(tPrev) &&
          col(tsCol) <= col("t_1") + expr(s"INTERVAL $window"))
        .groupBy((col(userCol) +: carried): _*)
        .agg(min(col(tsCol)).as(tCur))
    }
  }

  /** Per-user funnel summary: (user, stage_reached, t_1 … t_k) with null
    * times past the reached stage. Only users who entered the funnel
    * (performed step 1) appear.
    */
  def funnel(
      events: DataFrame,
      steps: Seq[String],
      window: String = "48 hours",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val st = stages(events, steps, window, userCol, tsCol, typeCol)
    val joined = st.zipWithIndex.tail.foldLeft(st.head) { case (acc, (s, i)) =>
      acc.join(s.select(col(userCol), col(s"t_${i + 1}")), Seq(userCol), "left")
    }
    // ascending fold so the HIGHEST stage's test wraps outermost — a user
    // at stage 3 also has t_2 set, so lower tests must be the fallback
    val stageReached = (2 to steps.size).foldLeft(lit(1)) { (els, k) =>
      when(col(s"t_$k").isNotNull, lit(k)).otherwise(els)
    }
    joined.withColumn("stage_reached", stageReached)
      .select((col(userCol) +: col("stage_reached") +:
        steps.indices.map(i => col(s"t_${i + 1}"))): _*)
  }

  /** Funnel conversion counts: one row per step, (step, event_type,
    * n_users) — the classic funnel chart input.
    */
  def counts(
      events: DataFrame,
      steps: Seq[String],
      window: String = "48 hours",
      userCol: String = "user_id",
      tsCol: String = "ts",
      typeCol: String = "event_type"): DataFrame = {
    val st = stages(events, steps, window, userCol, tsCol, typeCol)
    st.zipWithIndex.map { case (s, i) =>
      s.agg(count(lit(1)).as("n_users"))
        .select(lit(i + 1).as("step"), lit(steps(i)).as("event_type"), col("n_users"))
    }.reduce(_ unionAll _)
  }

  /** Cohort retention: users grouped by first-seen day (their cohort), then
    * counted as retained on each later day-offset they were active —
    * (cohort day, day offset, n_users), the retention-curve input. Two
    * shuffles: per-user first-day aggregate, then the (cohort, offset)
    * count over the DISTINCT per-user active days (`countDistinct` guards
    * multi-event days). `maxOffsetDays` bounds the output (and lets the
    * offset filter run before the final aggregate).
    */
  def retention(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts",
      maxOffsetDays: Int = 30): DataFrame = {
    val firstDay = events.groupBy(col(userCol))
      .agg(min(to_date(col(tsCol))).as("cohort_day"))
    val active = events.select(col(userCol), to_date(col(tsCol)).as("day")).distinct()
    active.join(firstDay, userCol)
      .select(col(userCol), col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("day_offset"))
      .where(col("day_offset").between(0, maxOffsetDays))
      .groupBy(col("cohort_day"), col("day_offset"))
      .agg(countDistinct(col(userCol)).as("n_users"))
  }

  /** Daily/weekly active-user curves on the zero-filled day spine: one row
    * per calendar day between the first and last observed event with the
    * day's exact distinct users (dau) and the trailing-7-day distinct users
    * (wau). The rolling distinct is NOT a range join: each (day, user)
    * activity row fans out to the ≤7 spine days it covers (an equi-join
    * explode, the e45 spine discipline), so the plan is
    * dedup → 7× generator → dedup → count — every stage a hash shuffle with
    * partial aggregation, no non-equi join, no per-day rescan. Zero-event
    * days appear with dau = wau = 0 (a gap in an engagement curve is
    * signal). Invariants pinned in FunnelSpec: wau ≥ dau, wau ≤ Σ dau over
    * the trailing window.
    *
    * Scale: exact distincts are one dedup shuffle each; at 100 TB swap in
    * [[activeUsersApprox]] — HLL sketch per day + sketch-union across the
    * window — whose per-day shuffle carries kilobyte sketches instead of the
    * user universe. The exact form here is the oracle the sketch is judged
    * against (FunnelSpec pins the relative-error bound).
    *
    * Pin lifetime: the deduped (day, user) frame is pinned — it feeds the
    * spine min/max, the dau count, and the window fan-out, and stage reuse
    * does not deduplicate three consumers — and follows the graft-wide
    * convention (object scaladoc / Drift): its blocks are released once the
    * returned frame is unreachable.
    */
  def activeUsers(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", windowDays: Int = 7): DataFrame = {
    val du = events.select(to_date(col(tsCol)).as("d"), col(userCol).as("u"))
      .distinct()
      .transform(graft.ops.Layout.pin)
    // bounded (≤ days × users); consumed by the spine min/max, the dau
    // count, and the window fan-out — pin-lifetime convention as Drift
    val mm = du.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val spine = mm.select(
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("ds"))
    val dau = du.groupBy(col("d").as("ds")).agg(count(lit(1)).as("dau"))
    val wau = du
      .select(explode(sequence(col("d"),
        date_add(col("d"), windowDays - 1))).as("ds"), col("u"))
      .distinct()
      .groupBy(col("ds")).agg(count(lit(1)).as("wau"))
    spine
      .join(dau, Seq("ds"), "left")
      .join(wau, Seq("ds"), "left")
      .select(date_format(col("ds"), "yyyy-MM-dd").as("ds"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .orderBy(col("ds"))
  }

  /** The 100 TB twin of [[activeUsers]]: DataSketches HLL per day +
    * sketch-union across the trailing window (the documented at-scale path,
    * now implemented). Same output shape `(ds, dau, wau)`, approximate
    * counts.
    *
    * Why this wins at scale: the exact form's rolling distinct materializes
    * and re-deduplicates (days × users × window) rows — its shuffle grows
    * with the USER universe. Here the raw events reduce ONCE to |days|
    * sketches (`hll_sketch_agg` is a partial-aggregating hash shuffle whose
    * final state is ≤ ~0.6·2^lgConfigK bytes per day); the window fan-out
    * then ships ≤ window × |days| kilobyte blobs and `hll_union_agg` merges
    * them per spine day. Total post-reduce traffic is measured in MB at any
    * corpus size — the curve costs the same at 100 TB as at 100 GB.
    *
    * Error: DataSketches HLL at lgConfigK=14 has relative standard error
    * ≈ 0.81% (1.04/√2^lgK); FunnelSpec pins |approx−exact|/exact ≤ 3% on
    * the real events table for both dau and wau. Unions do not degrade the
    * bound (HLL union is lossless at equal lgK). Zero-event days appear as
    * dau = wau = 0, exactly like the exact form.
    */
  def activeUsersApprox(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", windowDays: Int = 7, lgConfigK: Int = 14): DataFrame =
    activeUsersFromSketches(
      dailyUserSketches(events, userCol, tsCol, lgConfigK), windowDays)

  /** Per-day HLL user sketches `(d, sk)` — the INCREMENTAL substrate for
    * engagement curves at scale: HLL union is associative and lossless at
    * equal lgConfigK, so a daily job sketches ONLY the new day's events and
    * upserts that one row ([[graft.ops.Layout.upsertPartitions]] on `d`);
    * late-arriving data re-sketches and unions into the same day
    * (`hll_union_agg` over the day's rows — FunnelSpec pins half ∪ half ≡
    * whole). Curves then re-derive from this |days|-row table via
    * [[activeUsersFromSketches]] WITHOUT rescanning the event log — the
    * same read-the-delta-not-the-history shape as `Incremental.mergeStates`
    * (e54), applied to distinct counting, where no exact merge exists at
    * any price: exact distincts are not mergeable without re-union of the
    * raw sets; sketches are.
    */
  def dailyUserSketches(events: DataFrame, userCol: String = "user_id",
      tsCol: String = "ts", lgConfigK: Int = 14): DataFrame =
    events
      .select(to_date(col(tsCol)).as("d"), col(userCol).as("u"))
      .groupBy(col("d"))
      .agg(hll_sketch_agg(col("u"), lit(lgConfigK)).as("sk"))

  /** DAU/WAU curves from a stored [[dailyUserSketches]] table: the spine,
    * day estimate, and trailing-window sketch-union fan-out of
    * [[activeUsersApprox]], starting from `(d, sk)` rows. A sketch table
    * holding several rows per day (incremental appends before compaction)
    * is handled by the pre-union. Output `(ds, dau, wau)`, zero-filled.
    */
  def activeUsersFromSketches(sketches: DataFrame, windowDays: Int = 7): DataFrame = {
    val daySk = sketches
      .groupBy(col("d"))
      .agg(hll_union_agg(col("sk"), lit(false)).as("sk"))
      .transform(graft.ops.Layout.pin)
    // |days| rows × one sketch blob; three consumers (spine, dau, fan-out) —
    // pin-lifetime convention as activeUsers
    val mm = daySk.agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
    val spine = mm.select(
      explode(sequence(col("d0"), col("d1"), expr("interval 1 day"))).as("ds"))
    val dau = daySk.select(col("d").as("ds"),
      hll_sketch_estimate(col("sk")).as("dau"))
    val wau = daySk
      .select(explode(sequence(col("d"),
        date_add(col("d"), windowDays - 1))).as("ds"), col("sk"))
      .groupBy(col("ds"))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("wau"))
    spine
      .join(dau, Seq("ds"), "left")
      .join(wau, Seq("ds"), "left")
      .select(date_format(col("ds"), "yyyy-MM-dd").as("ds"),
        coalesce(col("dau"), lit(0L)).as("dau"),
        coalesce(col("wau"), lit(0L)).as("wau"))
      .orderBy(col("ds"))
  }

  /** DuckDB mirror of [[activeUsers]] — same spine, same ≤7-day fan-out. */
  def activeUsersSql(table: String, windowDays: Int = 7): String =
    s"""WITH du AS (
       |  SELECT DISTINCT CAST(ts AS DATE) AS d, user_id AS u FROM $table
       |), mm AS (
       |  SELECT MIN(d) AS d0, MAX(d) AS d1 FROM du
       |), spine AS (
       |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
       |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS ds
       |  FROM mm
       |), dau AS (
       |  SELECT d AS ds, COUNT(*) AS dau FROM du GROUP BY 1
       |), cover AS (
       |  SELECT DISTINCT d + CAST(i.i AS INTEGER) AS ds, u
       |  FROM du, (SELECT unnest(range($windowDays)) AS i) i
       |), wau AS (
       |  SELECT ds, COUNT(*) AS wau FROM cover GROUP BY 1
       |)
       |SELECT strftime(s.ds, '%Y-%m-%d') AS ds,
       |  COALESCE(d.dau, 0) AS dau, COALESCE(w.wau, 0) AS wau
       |FROM spine s LEFT JOIN dau d ON s.ds = d.ds
       |  LEFT JOIN wau w ON s.ds = w.ds
       |ORDER BY ds""".stripMargin

  /** Last-touch conversion attribution: every conversion event is credited
    * to the CHANNEL of the latest qualifying touch event by the same user
    * at or before it, within `windowSeconds` — the standard marketing
    * attribution model (the e19 funnel answers "how many converted"; this
    * answers "which channel gets the credit"). Channels come from the
    * event's JSON props (`$.channelJsonKey`, the e05 convention);
    * conversions whose latest touch is older than the window — or who have
    * none — land in channel −1 ("unattributed", a real bucket: organic
    * conversions are signal). Output: `(channel, n_conversions, revenue)`
    * with revenue the fixed-point-exact sum of the conversion values,
    * totally ordered by channel.
    *
    * Semantics note: last-touch-within-window ≡ last-touch-then-void —
    * backward as-of picks the LATEST touch ≤ t, and if that one is outside
    * the window every earlier touch is too — so the composed
    * [[graft.ops.AsOfJoin.asofBackward]] with `toleranceSeconds` IS the
    * attribution model, not an approximation of it.
    *
    * Determinism: several touches can share (user, ts); both engines
    * resolve the winner by max event_id BEFORE the join (the e90
    * pre-dedup), carrying THAT event's channel, so the credit is a
    * property of the data.
    *
    * Scale: touches reduce by one hash aggregate; the as-of is the
    * one-shuffle union+window (never a range join); the credit rollup
    * aggregates conversions — the event stream is scanned twice (touch
    * filter + conversion filter, both pushed to the scan) and shuffled
    * once each.
    */
  def lastTouchAttribution(events: DataFrame,
      convType: String = "purchase",
      touchTypes: Seq[String] = Seq("view", "click"),
      windowSeconds: Long = 48L * 3600,
      channelJsonKey: String = "k",
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", valueCol: String = "value",
      idCol: String = "event_id", propsCol: String = "props"): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    val channel = get_json_object(col(propsCol), s"$$.$channelJsonKey")
      .cast("long")
    val touches = events
      .where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(tsCol).as("__tts"),
        col(idCol).as("__tid"), channel.as("__ch"))
      .groupBy(col(userCol), col("__tts"))
      .agg(max(struct(col("__tid"), col("__ch"))).as("__w"))
      .select(col(userCol), col("__tts"), col("__w.__ch").as("channel"))
    val conv = events
      .where(col(typeCol) === convType)
      .select(col(idCol), col(userCol), col(tsCol), col(valueCol))
    graft.ops.AsOfJoin.asofBackward(conv, touches,
        key = userCol, leftTime = tsCol, rightTime = "__tts",
        payloadCols = Seq("channel"),
        toleranceSeconds = Some(windowSeconds))
      .groupBy(coalesce(col("channel"), lit(-1L)).as("channel"))
      .agg(count(lit(1)).as("n_conversions"),
        graft.queries.Reference.msum(col(valueCol)).as("revenue"))
      .orderBy(col("channel"))
  }

  /** Per-channel time-to-convert distribution — the latency companion to
    * [[lastTouchAttribution]]'s credit rollup: for every conversion with
    * an in-window last touch, Δ = conversion second − touch second (whole
    * seconds, the as-of tolerance truncation), then per-channel exact
    * percentiles of Δ. Output: `(channel, n_conversions, p50_s, p90_s, …)`
    * (one `p{N}_s` column per requested probability, 4dp — the e49/e10
    * portable percentile contract), totally ordered by channel.
    * Unattributed conversions have no Δ and are excluded by definition
    * (their COUNT lives in [[lastTouchAttribution]]'s −1 bucket).
    *
    * `exact = true` buffers each channel's deltas in its final-aggregation
    * task (the [[graft.ext.Percentiles.exactBy]] contract — fine while the
    * busiest channel fits); at corpus scale flip `exact = false` for the
    * mergeable GK sketch, the same switch as winsorize/Profile.
    */
  def timeToConvert(events: DataFrame,
      convType: String = "purchase",
      touchTypes: Seq[String] = Seq("view", "click"),
      windowSeconds: Long = 48L * 3600,
      channelJsonKey: String = "k",
      probs: Seq[Double] = Seq(0.5, 0.9),
      exact: Boolean = true,
      userCol: String = "user_id", tsCol: String = "ts",
      typeCol: String = "event_type", idCol: String = "event_id",
      propsCol: String = "props"): DataFrame = {
    require(touchTypes.nonEmpty, "attribution needs at least one touch type")
    require(probs.nonEmpty && probs.forall(p => p > 0 && p < 1),
      s"probabilities in (0,1): $probs")
    val channel = get_json_object(col(propsCol), s"$$.$channelJsonKey")
      .cast("long")
    val touches = events
      .where(col(typeCol).isin(touchTypes: _*))
      .select(col(userCol), col(tsCol).as("__tts"),
        col(idCol).as("__tid"), channel.as("__ch"))
      .groupBy(col(userCol), col("__tts"))
      .agg(max(struct(col("__tid"), col("__ch"))).as("__w"))
      .select(col(userCol), col("__tts"), col("__w.__ch").as("channel"),
        col("__tts").cast("long").as("touch_s"))
    val conv = events
      .where(col(typeCol) === convType)
      .select(col(idCol), col(userCol), col(tsCol))
    val deltas = graft.ops.AsOfJoin.asofBackward(conv, touches,
        key = userCol, leftTime = tsCol, rightTime = "__tts",
        payloadCols = Seq("channel", "touch_s"),
        toleranceSeconds = Some(windowSeconds))
      .where(col("touch_s").isNotNull)
      // attributed-but-channel-less touches (props.k missing/non-numeric)
      // bucket to −1 — e97's convention, and it pins NULL ordering: Spark
      // sorts NULLs first ASC, DuckDB last, so a raw NULL group would
      // diverge in row order under the hash gate
      .select(coalesce(col("channel"), lit(-1L)).as("channel"),
        (col(tsCol).cast("long") - col("touch_s")).as("tt_s"))
    val arr = probs.map(p => s"${p}D").mkString(", ")
    val pctAgg =
      if (exact) expr(s"percentile(tt_s, array($arr))")
      else expr(s"approx_percentile(tt_s, array($arr), 10000)")
    val pctCols = probs.zipWithIndex.map { case (p, i) =>
      round(element_at(col("__pcts"), i + 1).cast("double"), 4)
        .as(pctName(p))
    }
    deltas.groupBy(col("channel"))
      .agg(count(lit(1)).as("n_conversions"), pctAgg.as("__pcts"))
      .select((col("channel") +: col("n_conversions") +: pctCols): _*)
      .orderBy(col("channel"))
  }

  private def pctName(p: Double): String = {
    val pct = p * 100
    val s = if (pct == pct.floor) pct.toLong.toString
    else pct.toString.replace('.', '_')
    s"p${s}_s"
  }

  /** DuckDB mirror of [[timeToConvert]] — generated: same pre-deduped
    * touch table, same floor-to-second Δ, same 4dp quantile_cont contract.
    */
  def timeToConvertSql(table: String,
      convType: String = "purchase",
      touchTypes: Seq[String] = Seq("view", "click"),
      windowSeconds: Long = 48L * 3600,
      channelJsonKey: String = "k",
      probs: Seq[Double] = Seq(0.5, 0.9)): String = {
    def lq(s: String) = s.replace("'", "''")
    val touchIn = touchTypes.map(t => s"'${lq(t)}'").mkString(", ")
    val pctSel = probs
      .map(p => s"round(quantile_cont(tt_s, $p), 4) AS ${pctName(p)}")
      .mkString(",\n  ")
    s"""WITH touches AS (
       |  SELECT user_id, ts, channel FROM (
       |    SELECT user_id, ts,
       |      CAST(json_extract_string(props, '$$.$channelJsonKey') AS BIGINT)
       |        AS channel,
       |      row_number() OVER (PARTITION BY user_id, ts
       |                         ORDER BY event_id DESC) AS rn
       |    FROM $table
       |    WHERE event_type IN ($touchIn)
       |  ) WHERE rn = 1
       |), conv AS (
       |  SELECT event_id, user_id, ts FROM $table
       |  WHERE event_type = '${lq(convType)}'
       |), credited AS (
       |  SELECT t.channel AS channel,
       |    CASE WHEN t.ts IS NOT NULL
       |           AND (epoch_us(c.ts) // 1000000) - (epoch_us(t.ts) // 1000000)
       |             <= $windowSeconds
       |         THEN (epoch_us(c.ts) // 1000000) - (epoch_us(t.ts) // 1000000)
       |    END AS tt_s
       |  FROM conv c ASOF LEFT JOIN touches t
       |    ON c.user_id = t.user_id AND c.ts >= t.ts
       |)
       |SELECT COALESCE(channel, -1) AS channel, COUNT(*) AS n_conversions,
       |  $pctSel
       |FROM credited
       |WHERE tt_s IS NOT NULL
       |GROUP BY 1
       |ORDER BY channel""".stripMargin
  }

  /** DuckDB mirror of [[lastTouchAttribution]] — generated: ASOF LEFT JOIN
    * against the same max-event_id pre-deduped touch table, the same
    * window void, the same −1 bucket and msum revenue.
    */
  def lastTouchAttributionSql(table: String,
      convType: String = "purchase",
      touchTypes: Seq[String] = Seq("view", "click"),
      windowSeconds: Long = 48L * 3600,
      channelJsonKey: String = "k"): String = {
    def lq(s: String) = s.replace("'", "''")
    val touchIn = touchTypes.map(t => s"'${lq(t)}'").mkString(", ")
    s"""WITH touches AS (
       |  -- winner = row with max event_id (NOT arg_max, which skips NULL
       |  -- channels and would diverge from Spark's struct-max)
       |  SELECT user_id, ts, channel FROM (
       |    SELECT user_id, ts,
       |      CAST(json_extract_string(props, '$$.$channelJsonKey') AS BIGINT)
       |        AS channel,
       |      row_number() OVER (PARTITION BY user_id, ts
       |                         ORDER BY event_id DESC) AS rn
       |    FROM $table
       |    WHERE event_type IN ($touchIn)
       |  ) WHERE rn = 1
       |), conv AS (
       |  SELECT event_id, user_id, ts, value FROM $table
       |  WHERE event_type = '${lq(convType)}'
       |), credited AS (
       |  SELECT c.value,
       |    -- Spark's timestamp→long cast floors to whole seconds; replicate
       |    -- with exact integer microseconds so sub-second fractions can't
       |    -- flip the boundary comparison
       |    CASE WHEN t.ts IS NOT NULL
       |           AND (epoch_us(c.ts) // 1000000) - (epoch_us(t.ts) // 1000000)
       |             <= $windowSeconds
       |         THEN t.channel END AS channel
       |  FROM conv c ASOF LEFT JOIN touches t
       |    ON c.user_id = t.user_id AND c.ts >= t.ts
       |)
       |SELECT COALESCE(channel, -1) AS channel,
       |  COUNT(*) AS n_conversions,
       |  ${graft.queries.Reference.msumSql("value")} AS revenue
       |FROM credited
       |GROUP BY 1
       |ORDER BY channel""".stripMargin
  }

  /** Exact max-concurrency profile over half-open intervals `[start, end)`
    * in integer microseconds: one row per `bucketUs`-wide time bucket with
    * the maximum number of simultaneously open intervals at ANY instant
    * inside the bucket — the capacity-planning primitive (peak concurrent
    * sessions/streams/connections per hour). The companion to e101's
    * overlap join: that one asks "which pairs overlap", this one "how high
    * does the stack get".
    *
    * Sweep-line, distributed two-phase: every interval contributes a +1
    * boundary at `start` and a −1 at `end` (at an equal instant −1 sorts
    * first, so back-to-back intervals never count as concurrent — the
    * half-open contract). Phase 1: a running sum per BUCKET partition
    * (bounded by the bucket's boundary count) yields each bucket's local
    * prefix maximum and net change. Phase 2: a cumulative sum over the
    * BUCKET GRID (resolution-bounded, never row-bounded — the e69
    * discipline) carries the level into each bucket;
    * `max = carry-in + max(0, local max)` (the `max(0,·)` covers buckets
    * whose first boundaries only close intervals — the peak is then the
    * carried level at bucket start). Zero-boundary buckets appear with
    * the carried level (a flat hour is an answer, not a gap).
    *
    * Determinism under ties: equal `(t, delta)` rows are interchangeable —
    * equal deltas produce the same prefix-value multiset in any order, so
    * the bucket max is a property of the data even though per-row running
    * sums are not.
    *
    * Output: `(bucket_start "yyyy-MM-dd HH:mm:ss", max_concurrent)`,
    * totally ordered.
    */
  def maxConcurrency(intervals: DataFrame, startCol: String, endCol: String,
      bucketUs: Long = 3600000000L): DataFrame = {
    require(bucketUs > 0, s"bucketUs must be positive: $bucketUs")
    import org.apache.spark.sql.expressions.Window
    val b = intervals.select(explode(array(
        struct(col(startCol).cast("long").as("t"), lit(1L).as("delta")),
        struct(col(endCol).cast("long").as("t"), lit(-1L).as("delta")))).as("x"))
      .select(col("x.t").as("t"), col("x.delta").as("delta"))
      // floor division (the AsOfJoin binning convention) — `div` truncates
      // toward zero and would diverge from DuckDB's `//` on pre-1970 times
      .withColumn("bucket", floor(col("t") / lit(bucketUs)).cast("long"))
    val wLocal = Window.partitionBy(col("bucket"))
      .orderBy(col("t"), col("delta"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val per = b.withColumn("run", sum(col("delta")).over(wLocal))
      .groupBy(col("bucket"))
      .agg(max(col("run")).as("max_local"), sum(col("delta")).as("net"))
      .transform(graft.ops.Layout.pin)
    // |buckets| rows; two consumers (grid bounds + the spine join) —
    // pin-lifetime convention (see object scaladoc)
    val mm = per.agg(min(col("bucket")).as("b0"), max(col("bucket")).as("b1"))
    val spine = mm.select(explode(sequence(col("b0"), col("b1"))).as("bucket"))
    val wGrid = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, -1)
    spine.join(per, Seq("bucket"), "left")
      .withColumn("carry",
        coalesce(sum(coalesce(col("net"), lit(0L))).over(wGrid), lit(0L)))
      .select(
        date_format(timestamp_micros(col("bucket") * bucketUs), "yyyy-MM-dd HH:mm:ss")
          .as("bucket_start"),
        (col("carry") + greatest(lit(0L), coalesce(col("max_local"), lit(0L))))
          .as("max_concurrent"))
      .orderBy(col("bucket_start"))
  }

  /** DuckDB mirror of [[maxConcurrency]] — generated; same boundary
    * convention, same two-phase sums, same zero-boundary spine.
    * `intervalsRel` is any relation text with `(s_us, e_us)` columns;
    * `prelude` prepends CTEs it needs.
    */
  def maxConcurrencySql(intervalsRel: String, prelude: String = "",
      bucketUs: Long = 3600000000L): String = {
    val pre = if (prelude.isEmpty) "" else s"$prelude "
    s"""WITH ${pre}bnd AS (
       |  SELECT t, delta, t // $bucketUs AS bucket FROM (
       |    SELECT s_us AS t, 1 AS delta FROM $intervalsRel
       |    UNION ALL SELECT e_us, -1 FROM $intervalsRel
       |  )
       |), localp AS (
       |  SELECT bucket, delta,
       |    SUM(delta) OVER (PARTITION BY bucket ORDER BY t, delta
       |      ROWS UNBOUNDED PRECEDING) AS run
       |  FROM bnd
       |), per AS (
       |  SELECT bucket, CAST(MAX(run) AS BIGINT) AS max_local,
       |    CAST(SUM(delta) AS BIGINT) AS net
       |  FROM localp GROUP BY 1
       |), mm AS (
       |  SELECT MIN(bucket) AS b0, MAX(bucket) AS b1 FROM per
       |), spine AS (
       |  SELECT unnest(range(b0, b1 + 1)) AS bucket FROM mm
       |), j AS (
       |  SELECT s.bucket, COALESCE(p.max_local, 0) AS ml,
       |    COALESCE(p.net, 0) AS net
       |  FROM spine s LEFT JOIN per p USING (bucket)
       |), c AS (
       |  SELECT bucket, ml,
       |    COALESCE(SUM(net) OVER (ORDER BY bucket
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS carry
       |  FROM j
       |)
       |SELECT strftime(make_timestamp(bucket * $bucketUs), '%Y-%m-%d %H:%M:%S')
       |    AS bucket_start,
       |  CAST(carry + greatest(0, ml) AS BIGINT) AS max_concurrent
       |FROM c
       |ORDER BY bucket_start""".stripMargin
  }

  /** DuckDB mirror of [[retention]] — cohort day formatted to a string. */
  def retentionSql(table: String, maxOffsetDays: Int = 30): String =
    s"""WITH first_day AS (
       |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day FROM $table GROUP BY user_id
       |), active AS (
       |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM $table
       |)
       |SELECT strftime(f.cohort_day, '%Y-%m-%d') AS cohort,
       |  date_diff('day', f.cohort_day, a.day) AS day_offset,
       |  COUNT(DISTINCT a.user_id) AS n_users
       |FROM active a JOIN first_day f ON a.user_id = f.user_id
       |WHERE date_diff('day', f.cohort_day, a.day) BETWEEN 0 AND $maxOffsetDays
       |GROUP BY 1, 2
       |ORDER BY cohort, day_offset""".stripMargin

  /** DuckDB mirror of [[funnel]] (times formatted to seconds) — GENERATED
    * from the same steps/window so the two cannot drift. The interval is
    * spelled `n UNIT`, e.g. "48 hours".
    */
  def funnelSql(table: String, steps: Seq[String], window: String = "48 hours"): String = {
    def lq(s: String) = s.replace("'", "''") // step names land in '…' literals
    val ctes = steps.zipWithIndex.tail.map { case (step0, i) =>
      val step = lq(step0)
      val prev = s"s$i"
      val carried = (1 to i).map(j => s"$prev.t_$j").mkString(", ")
      s"""s${i + 1} AS (
         |  SELECT e.user_id, $carried, min(e.ts) AS t_${i + 1}
         |  FROM $table e JOIN $prev ON e.user_id = $prev.user_id
         |  WHERE e.event_type = '$step' AND e.ts > $prev.t_$i
         |    AND e.ts <= $prev.t_1 + INTERVAL $window
         |  GROUP BY e.user_id, $carried)""".stripMargin
    }
    val s1 =
      s"""s1 AS (
         |  SELECT user_id, min(ts) AS t_1 FROM $table
         |  WHERE event_type = '${lq(steps.head)}' GROUP BY user_id)""".stripMargin
    val lefts = (2 to steps.size).map(i =>
      s"LEFT JOIN s$i ON s1.user_id = s$i.user_id").mkString("\n")
    val stageCase = (steps.size to 2 by -1).map(k =>
      s"WHEN s$k.t_$k IS NOT NULL THEN $k").mkString(" ")
    val timeCols = steps.indices.map(i =>
      s"strftime(s${i + 1}.t_${i + 1}, '%Y-%m-%d %H:%M:%S') AS t${i + 1}").mkString(",\n  ")
    s"""WITH ${(s1 +: ctes).mkString(",\n")}
       |SELECT s1.user_id, CASE $stageCase ELSE 1 END AS stage_reached,
       |  $timeCols
       |FROM s1
       |$lefts
       |ORDER BY s1.user_id""".stripMargin
  }

  /** First-order (Markov) transition matrix of the event stream: for each
    * observed (from, to) adjacent pair in a user's (ts, tie) total order,
    * the count and the conditional probability P(to | from) — the
    * user-journey summary next to the funnel (which fixes a path; this
    * surveys all of them).
    *
    * Scale: one shuffle for the lead window (hash(user)), one bounded
    * count shuffle (|event types|² keys); the per-from totals re-aggregate
    * from the pair COUNTS (categories-sized, broadcast back) — the stream
    * is scanned once. The probability divides two exact longs in a fixed
    * association, 4dp-rounded. Output: (from_type, to_type, n, p).
    */
  def transitionMatrix(events: DataFrame, userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts",
      tieCol: String = "event_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol)).orderBy(col(tsCol), col(tieCol))
    // pinned: the join's left side and the per-from totals both consume
    // this frame, and stage reuse does not deduplicate the two consumers
    // (the fillDailyGaps/chiSquare finding) — without it the event log is
    // scanned and window-sorted twice. Bounded at |event types|².
    val pairs = events
      .withColumn("__next", lead(col(typeCol), 1).over(w))
      .where(col("__next").isNotNull)
      .groupBy(col(typeCol).as("from_type"), col("__next").as("to_type"))
      .agg(count(lit(1)).as("n"))
      .transform(graft.ops.Layout.pin)
    val froms = pairs.groupBy(col("from_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(broadcast(froms), Seq("from_type"))
      .select(col("from_type"), col("to_type"), col("n"),
        round(col("n").cast("double") / col("n_from").cast("double"), 4).as("p"))
  }

  /** DuckDB mirror of [[transitionMatrix]] — generated, same total order
    * and fixed division.
    */
  def transitionMatrixSql(table: String, userCol: String = "user_id",
      typeCol: String = "event_type", tsCol: String = "ts",
      tieCol: String = "event_id"): String =
    s"""WITH nexts AS (
       |  SELECT $typeCol AS from_type,
       |    LEAD($typeCol) OVER (PARTITION BY $userCol
       |      ORDER BY $tsCol, $tieCol) AS to_type
       |  FROM $table
       |), pairs AS (
       |  SELECT from_type, to_type, COUNT(*) AS n
       |  FROM nexts WHERE to_type IS NOT NULL GROUP BY 1, 2
       |), froms AS (
       |  SELECT from_type, CAST(SUM(n) AS BIGINT) AS n_from
       |  FROM pairs GROUP BY 1
       |)
       |SELECT p.from_type, p.to_type, p.n,
       |  round(CAST(p.n AS DOUBLE) / CAST(f.n_from AS DOUBLE), 4) AS p
       |FROM pairs p JOIN froms f USING (from_type)
       |ORDER BY p.from_type, p.to_type""".stripMargin

  /** Association rules over per-user item baskets — the market-basket
    * primitive (support / confidence / lift for every directed item pair
    * `antecedent → consequent`). A basket is a user's DISTINCT item set;
    * counts are over users, not event rows, so repeat events never inflate
    * a rule.
    *
    * Determinism: all four counts (`n_both`, the two item supports, the
    * user total) are exact longs; support and confidence are ONE 4dp
    * division each, and lift fixes its association as
    * `(n_both·N) / (n_ante·n_cons)` — two correctly-rounded IEEE products
    * feeding one division, identical on both engines.
    *
    * Scale: the basket frame (one distinct-shuffle, pinned — three
    * consumers) is user×item sized; the pair expansion self-joins it on
    * the user key, so per-user work is basket-size², bounded by the item
    * vocabulary — for heavy-tailed baskets cap them first
    * (`Splits.groupCap`). Item supports broadcast (|items| rows); the
    * user total is a 1-row cross join. Nothing corpus-sized survives the
    * first aggregation.
    */
  def associationRules(events: DataFrame, userCol: String = "user_id",
      itemCol: String = "event_type", minBoth: Long = 2): DataFrame = {
    val baskets = events
      .select(col(userCol).as("u"), col(itemCol).as("item"))
      .distinct()
      .transform(graft.ops.Layout.pin)
    val nUsers = baskets.agg(count_distinct(col("u")).as("n_users"))
    val items = baskets.groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val pairs = baskets.as("a")
      .join(baskets.as("b"),
        col("a.u") === col("b.u") && col("a.item") =!= col("b.item"))
      .groupBy(col("a.item").as("antecedent"), col("b.item").as("consequent"))
      .agg(count(lit(1)).as("n_both"))
      .where(col("n_both") >= minBoth)
    pairs
      .join(broadcast(items.select(col("item").as("antecedent"),
        col("n_item").as("n_ante"))), Seq("antecedent"))
      .join(broadcast(items.select(col("item").as("consequent"),
        col("n_item").as("n_cons"))), Seq("consequent"))
      .crossJoin(broadcast(nUsers))
      .select(col("antecedent"), col("consequent"), col("n_both"),
        round(col("n_both").cast("double") / col("n_users").cast("double"), 4)
          .as("support"),
        round(col("n_both").cast("double") / col("n_ante").cast("double"), 4)
          .as("confidence"),
        round((col("n_both").cast("double") * col("n_users").cast("double")) /
          (col("n_ante").cast("double") * col("n_cons").cast("double")), 4)
          .as("lift"))
      .orderBy(col("antecedent"), col("consequent"))
  }

  /** DuckDB mirror of [[associationRules]] — generated, same counts, same
    * fixed divisions.
    */
  def associationRulesSql(table: String, userCol: String = "user_id",
      itemCol: String = "event_type", minBoth: Long = 2): String =
    s"""WITH baskets AS (
       |  SELECT DISTINCT $userCol AS u, $itemCol AS item FROM $table
       |), n AS (
       |  SELECT CAST(COUNT(DISTINCT u) AS BIGINT) AS n_users FROM baskets
       |), items AS (
       |  SELECT item, CAST(COUNT(*) AS BIGINT) AS n_item
       |  FROM baskets GROUP BY 1
       |), pairs AS (
       |  SELECT a.item AS antecedent, b.item AS consequent,
       |    CAST(COUNT(*) AS BIGINT) AS n_both
       |  FROM baskets a JOIN baskets b ON a.u = b.u AND a.item <> b.item
       |  GROUP BY 1, 2 HAVING COUNT(*) >= $minBoth
       |)
       |SELECT p.antecedent, p.consequent, p.n_both,
       |  round(CAST(p.n_both AS DOUBLE) / CAST(n.n_users AS DOUBLE), 4)
       |    AS support,
       |  round(CAST(p.n_both AS DOUBLE) / CAST(ia.n_item AS DOUBLE), 4)
       |    AS confidence,
       |  round((CAST(p.n_both AS DOUBLE) * CAST(n.n_users AS DOUBLE)) /
       |    (CAST(ia.n_item AS DOUBLE) * CAST(ic.n_item AS DOUBLE)), 4)
       |    AS lift
       |FROM pairs p
       |JOIN items ia ON ia.item = p.antecedent
       |JOIN items ic ON ic.item = p.consequent
       |CROSS JOIN n
       |ORDER BY p.antecedent, p.consequent""".stripMargin
}
