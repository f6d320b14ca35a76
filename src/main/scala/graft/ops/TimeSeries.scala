package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Regular-grid time-series repair: per-key daily spines with gap rows
  * materialized and values carried forward. Event tables are sparse in
  * time (a user with no events on a day simply has no row); most
  * downstream consumers — trend models, retention dashboards, feature
  * stores — need a dense grid with an explicit "nothing happened"
  * marker and a last-known-value column.
  *
  * Scale posture (100 TB): the spine is generated from each key's OWN
  * [min, max] day bounds, so grid size is Σ_k span_k — never
  * |keys| × global-span (a key active for one week contributes 7 rows
  * regardless of the table's multi-year range). `sequence()` + `explode`
  * expand map-side from the 1-row-per-key bounds frame; the daily
  * rollup, the bounds, the spine join, and the forward-fill window all
  * hash-partition on the key, so the whole plan is one key-shuffle
  * deep. Forward fill is `last(ignoreNulls)` over an unbounded-preceding
  * row frame — a single running-state pass per key, no self-join.
  */
object TimeSeries {

  /** Dense daily series of `round(sum(valueCol), 6)` per key with
    * forward fill. Output: key, `day`, `day_value` (null on gap days),
    * `filled_value` (last non-null carried forward), `is_gap`. */
  def fillDailyGaps(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    // day-grain rollup: the float sum crosses partitions, so round(6)
    // before anything downstream copies the value (oracle twin rounds
    // identically; reorder noise ~1e-13)
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(round(sum(col(valueCol)), 6).as("day_value"))
    // per-key bounds → exploded daily spine (map-side after the agg)
    val spine = daily
      .groupBy(keyCol)
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col(keyCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val w = Window.partitionBy(keyCol).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine
      .join(daily, Seq(keyCol, "day"), "left")
      .withColumn("filled_value",
        last(col("day_value"), ignoreNulls = true).over(w))
      .withColumn("is_gap", col("day_value").isNull)
  }

  /** Exponentially-weighted moving average of the daily series with
    * DYADIC decay (weight 2^-offset, horizon `horizonDays`), evaluated
    * at each observed day:
    * ewma(d) = Σ_o 2^-o·v(d−o) / Σ_{o: v(d−o) exists} 2^-o.
    *
    * The decay base is fixed at 1/2 on purpose: every weight is a power
    * of two, so the per-term products v·2^-o are EXACT in IEEE doubles
    * (exponent shift only) and the weight-sum denominator is exactly
    * representable — the whole smoother is bit-reproducible across
    * engines up to the final ≤horizon-term sum order (absorbed by
    * round(9), same convention as every float agg here).
    *
    * Scale posture: no range self-join — each day-grain row emits its
    * `horizonDays` forward contributions map-side (`sequence`+`explode`,
    * bounded fan-out), then one hash agg on (key, target day) and a
    * semi-join back to observed days. Same bounded-fan-out shape as
    * `Behavior.rollingDistinct`. */
  def ewmaDaily(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, horizonDays: Int = 8): DataFrame = {
    require(horizonDays >= 1 && horizonDays <= 62,
      "horizon must be in [1,62] (dyadic weights underflow beyond)")
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(round(sum(col(valueCol)), 6).as("day_value"))
    val contrib = daily
      .select(col(keyCol), col("day"), col("day_value"),
        explode(sequence(lit(0), lit(horizonDays - 1))).as("_o"))
      .select(col(keyCol), date_add(col("day"), col("_o")).as("day"),
        (col("day_value") * pow(lit(0.5), col("_o"))).as("_wv"),
        pow(lit(0.5), col("_o")).as("_w"))
    contrib
      .groupBy(col(keyCol), col("day"))
      .agg(round(sum(col("_wv")) / sum(col("_w")), 9).as("ewma"))
      .join(daily.select(col(keyCol), col("day")), Seq(keyCol, "day"),
        "left_semi")
  }

  /** Rolling OLS slope of daily counts over a trailing `windowDays`-row
    * frame per key — the local-trend monitor ("is this source's volume
    * accelerating THIS week") that the global regression (q127) can't
    * see. slope = (nΣxy − ΣxΣy) / (nΣx² − (Σx)²) with x = epoch day —
    * all frame sums are exact integers, one double division at the end
    * (round 6); a single-row frame has zero x-variance and yields null.
    *
    * Shape: one (key, day) count agg; every frame window runs over that
    * |keys|·|days| table. */
  def rollingSlope(df: DataFrame, keyCol: String, tsCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 2)
    val daily = df
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("_x", datediff(col("day"), lit("1970-01-01"))
        .cast("long"))
    val w = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(-(windowDays - 1), Window.currentRow)
    val fr = daily
      .withColumn("_fn", count(lit(1)).over(w))
      .withColumn("_sx", sum(col("_x")).over(w))
      .withColumn("_sy", sum(col("n")).over(w))
      .withColumn("_sxy", sum(col("_x") * col("n")).over(w))
      .withColumn("_sxx", sum(col("_x") * col("_x")).over(w))
    val den = col("_fn") * col("_sxx") - col("_sx") * col("_sx")
    fr.select(col(keyCol), col("day"), col("n"),
      when(den > 0, round((col("_fn") * col("_sxy")
        - col("_sx") * col("_sy")) / den, 6)).as("slope_r"))
  }

  /** One-sided CUSUM change-point detection over daily counts per key
    * (Page, Biometrika 1954): C⁺_t = max(0, C⁺_{t-1} + x_t − μ − k),
    * alarm when C⁺ > h — the sequential drift detector that catches a
    * sustained upward shift long before a per-day z-score does. The
    * recursion is rewritten with the classic running-extremum identity
    * C⁺_t = S_t − min(0, min_{i≤t} S_i) where S_t = Σ(x_i − μ − k), so
    * the whole statistic is two cumulative windows — no sequential scan
    * and no UDAF state.
    *
    * μ is each key's own mean daily count (exact integer ratio). Shape:
    * one (key, day) count agg off the corpus; every window runs over
    * that |keys|·|days| table. */
  def cusumDaily(df: DataFrame, keyCol: String, tsCol: String,
      allowance: Double, threshold: Double): DataFrame = {
    val daily = df
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val wKey = Window.partitionBy(keyCol)
    val wOrd = Window.partitionBy(keyCol).orderBy("day")
    val wCum = wOrd.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    val s = col("_runsum") -
      col("_rn") * (col("_tot") / col("_days") + allowance)
    daily
      .withColumn("_tot", sum(col("n")).over(wKey))
      .withColumn("_days", count(lit(1)).over(wKey))
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_runsum", sum(col("n")).over(wCum))
      .withColumn("_s", s)
      .withColumn("_smin", min(col("_s")).over(wCum))
      .select(col(keyCol), col("day"), col("n"),
        round(col("_s") - least(col("_smin"), lit(0.0)), 6).as("cusum_r"),
        (col("_s") - least(col("_smin"), lit(0.0)) > threshold)
          .as("alarm"))
  }

  /** Day-of-week seasonal index per key: mean daily count on each
    * weekday divided by the key's overall mean daily count — the
    * "Mondays run 1.3×" profile that separates weekly rhythm from real
    * trend shifts before an alert fires. dow is 0 = Sunday … 6
    * (Spark's dayofweek − 1 == DuckDB/Postgres dayofweek).
    *
    * Two stacked hash-aggs (events → day grain → (key, dow)) plus a
    * |keys|-row totals broadcast; the index is a ratio of two integer
    * means in one shared parenthesization. */
  def dowSeasonalIndex(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as("_n"))
    val perDow = daily
      .groupBy(col(keyCol), (dayofweek(col("_day")) - 1).as("dow"))
      .agg(count(lit(1)).as("n_days"), sum(col("_n")).as("_s"))
    val tot = daily.groupBy(col(keyCol))
      .agg(count(lit(1)).as("_td"), sum(col("_n")).as("_tn"))
    perDow.join(broadcast(tot), Seq(keyCol))
      .select(col(keyCol), col("dow"), col("n_days"),
        round(col("_s") / col("n_days"), 6).as("mean_count_r"),
        round((col("_s") / col("n_days"))
          / (col("_tn") / col("_td")), 6).as("seasonal_index_r"))
  }

  /** Ratio-to-moving-average seasonal decomposition (the classical
    * multiplicative method): detrend each complete-window day by its
    * centered 7-day moving average, then average the detrended ratios
    * per weekday — the trend-adjusted sibling of [[dowSeasonalIndex]]
    * (a ramping series fools a plain weekday mean; dividing by the
    * local MA removes the ramp first).
    *
    * Determinism: the MA is an exact integer frame sum / 7.0; the
    * per-weekday mean sums the 6-dp-ROUNDED ratios as DECIMAL(18,6) —
    * order-independent — and divides once. The rounding itself is the
    * engine-agnostic ⌊x·10⁶ + ½⌋/10⁶ (pure IEEE ops on identical
    * doubles): ratios like 7n/Σ land EXACTLY on .xxxxxx5 boundaries,
    * where Spark's exact-decimal HALF_UP and a multiply-round
    * implementation can disagree by 1e-6 (caught by the sf0.1 gate).
    * Windows run over the day-grain table (≤ span rows per key), never
    * the event table. */
  def ratioToMaSeasonal(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    def flo6(c: Column): Column =
      floor(c * lit(1.0e6) + lit(0.5)) / lit(1.0e6)
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(keyCol).orderBy(col("day"))
      .rowsBetween(-3, 3)
    val det = daily
      .withColumn("_wn", count(lit(1)).over(w))
      .withColumn("_ws", sum(col("n")).over(w))
      .where(col("_wn") === 7) // complete centered windows only
      .withColumn("_ratio", flo6(col("n") / (col("_ws") / 7.0)))
    det
      .groupBy(col(keyCol), (dayofweek(col("day")) - 1).as("dow"))
      .agg(count(lit(1)).as("n_obs"),
        sum(col("_ratio").cast("decimal(18,6)")).cast("double")
          .as("_rs"))
      .select(col(keyCol), col("dow"), col("n_obs"),
        flo6(col("_rs") / col("n_obs")).as("seasonal_r"))
  }

  /** Rolling robust anomaly flags: per (key, day), the trailing
    * `windowDays`-day count window's MEDIAN and MAD (computed exactly
    * from the sorted window array — percentile_cont interpolation),
    * flagging days with |n − med| > k · 1.4826 · MAD. The
    * monitoring-grade outlier rule: a traffic spike inflates a rolling
    * MEAN/σ enough to mask the next spike; the median/MAD window
    * doesn't care.
    *
    * The window array is ≤ `windowDays` elements over the DAY-GRAIN
    * table (≤ span rows per key — bounded regardless of event volume),
    * so the sort-in-a-lambda is constant work per row; counts are
    * integers, making every median/deviation an exact half-integer and
    * the threshold one IEEE product. */
  def rollingMadAnomalies(events: DataFrame, keyCol: String,
      tsCol: String, windowDays: Int, k: Double = 3.0): DataFrame = {
    require(windowDays >= 2)
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(keyCol).orderBy(col("day"))
      .rowsBetween(-(windowDays - 1), Window.currentRow)
    // interpolated median of a SORTED double array (percentile_cont)
    def medOf(arr: Column): Column = {
      val m = size(arr)
      // Column./ is double division — cast back for the 1-based index
      val mid = ((m + 1) / 2).cast("int")
      val lo = (m / 2).cast("int")
      when(m % 2 === 1, element_at(arr, mid))
        .otherwise((element_at(arr, lo)
          + element_at(arr, lo + 1)) / 2.0)
    }
    val withArr = daily
      .withColumn("_arr",
        sort_array(collect_list(col("n").cast("double")).over(w)))
      .withColumn("med", medOf(col("_arr")))
      .withColumn("_devs",
        sort_array(transform(col("_arr"),
          x => abs(x - col("med")))))
      .withColumn("mad", medOf(col("_devs")))
    withArr.select(col(keyCol), col("day"), col("n"),
      round(col("med"), 6).as("med_r"), round(col("mad"), 6).as("mad_r"),
      (abs(col("n") - col("med")) > lit(k) * lit(1.4826) * col("mad"))
        .as("is_anomaly"))
  }

  /** Per-key autocorrelation function of the DAILY COUNT series at lags
    * 1..`maxLag` — the readout that picks the seasonal period (a spike
    * at lag 7 = weekly rhythm) and decides whether "yesterday predicts
    * today" before any forecasting model is budgeted. Uses the standard
    * full-series-mean estimator
    * r(l) = Σ_t (x_t−μ)(x_{t+l}−μ) / Σ_t (x_t−μ)², with the series
    * gap-filled to zero on missing days (a count series IS zero on a
    * silent day; skipping gaps would splice non-adjacent days together).
    *
    * Exactness: counts are integers, so every aggregate — the lag-pair
    * products Σ x_t·x_{t+l}, the marginal sums over each pair window,
    * and the global Σx/Σx² — is integer-exact; the estimator expands to
    * (P − μ(A+B) + mμ²)/(SS − nμ²) with μ = S/n, ONE float expression
    * evaluated identically by both engines, rounded to 6.
    *
    * Shape: one hash-agg to day grain (≤ span rows/key regardless of
    * event volume), the spine+zero-fill explode, then ONE equi-join of
    * the day table against itself shifted by each lag (the lag spec is
    * a broadcast `maxLag`-row frame), and two tiny rollups. Nothing
    * event-volume-sized past the first agg. */
  def acfDaily(events: DataFrame, keyCol: String, tsCol: String,
      maxLag: Int): DataFrame = {
    require(maxLag >= 1, "maxLag must be >= 1")
    val s = events.sparkSession
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("_x"))
    val filled = daily
      .groupBy(keyCol)
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col(keyCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
      .join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("_x"), lit(0L)).as("x"))
    val stats = filled.groupBy(keyCol)
      .agg(count(lit(1)).as("_n"), sum(col("x")).as("_s"),
        sum(col("x") * col("x")).as("_ss"))
    val lags = s.range(1, maxLag + 1L)
      .select(col("id").cast("int").as("lag"))
    val lagged = filled.crossJoin(broadcast(lags))
      .select(col(keyCol), col("lag"),
        date_add(col("day"), col("lag")).as("day"),
        col("x").as("_x1"))
    val pairs = lagged
      .join(filled.withColumnRenamed("x", "_x2"), Seq(keyCol, "day"))
      .groupBy(col(keyCol), col("lag"))
      .agg(count(lit(1)).as("_m"), sum(col("_x1") * col("_x2")).as("_p"),
        sum(col("_x1")).as("_a"), sum(col("_x2")).as("_b"))
    val mu = col("_s").cast("double") / col("_n")
    pairs.join(stats, Seq(keyCol))
      .select(col(keyCol), col("lag"), col("_m").as("n_pairs"),
        when(col("_ss") > mu * col("_s"), // SS − nμ² = SS − μS > 0
          round((col("_p") - mu * (col("_a") + col("_b"))
            + col("_m") * mu * mu) /
            (col("_ss") - mu * col("_s")), 6)).as("acf_r"))
  }

  /** Single changepoint by binary segmentation: per key, the day
    * boundary that best splits the OBSERVED daily-count series into two
    * level segments — argmax over split points of the between-segment
    * sum-of-squares reduction, gain = s_l²/n_l + s_r²/n_r − s²/n (the
    * one-split step of binary segmentation; Scott & Knott '74 / the
    * CUSUM-adjacent "did the level shift, and when" monitoring
    * question [[cusumDaily]] only answers half of). Ties take the
    * EARLIEST day. Emits per key (≥ 2 observed days): the last day of
    * the left segment, segment sizes, 6-dp segment means and gain.
    *
    * Shape: corpus → (key, day) count grain in one shuffle; the split
    * scan is a cumulative window over each key's day series — bounded
    * by the calendar, never corpus-sized. Sums are exact BIGINTs; the
    * gain algebra is one shared double parenthesization. */
  def trendBreak(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val grain = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val wCum = Window.partitionBy(keyCol).orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scan = grain
      .withColumn("n_l", count(lit(1)).over(wCum))
      .withColumn("s_l", sum(col("x")).over(wCum))
      .withColumn("n", count(lit(1)).over(wAll))
      .withColumn("s", sum(col("x")).over(wAll))
      .where(col("n_l") < col("n"))
    def d(c: String) = col(c).cast("double")
    val sR = d("s") - d("s_l"); val nR = col("n") - col("n_l")
    val gain = d("s_l") * d("s_l") / col("n_l") + sR * sR / nR -
      d("s") * d("s") / col("n")
    val scored = scan.select(col(keyCol), col("day"), col("n_l"),
      nR.as("n_r"), (d("s_l") / col("n_l")).as("_ml"),
      (sR / nR).as("_mr"), gain.as("_gain"))
    val wBest = Window.partitionBy(keyCol)
      .orderBy(col("_gain").desc, col("day"))
    scored.withColumn("_rk", row_number().over(wBest))
      .where(col("_rk") === 1)
      .select(col(keyCol), col("day").as("break_day"),
        col("n_l").as("n_left"), col("n_r").as("n_right"),
        round(col("_ml"), 6).as("mean_l_r"),
        round(col("_mr"), 6).as("mean_r_r"),
        round(col("_gain"), 6).as("gain_r"))
  }

  /** Time-weighted average per key over irregularly-sampled events:
    * hold each observation piecewise-constant until the next one and
    * integrate over the key's observed span — ∫v dt / (t_last −
    * t_first). The right mean for sensor/gauge-style metrics where
    * sample RATE varies (a plain avg over-weights bursts); the last
    * observation of each key carries no interval and contributes
    * nothing, the standard left-Riemann convention.
    *
    * Exact integration: values are scaled to 1e-6-grid integers
    * (`round(v·10⁶)` — identical on both engines), durations are
    * epoch-micros BIGINTs, and each v·Δt product is accumulated as
    * DECIMAL(38,0) (magnitude ≤ ~1e20 — far inside 38 digits, and
    * 64-bit-overflow-proof), so the integral is order-independent; the
    * single final division is 6-dp rounded. Keys whose span is zero
    * (one event, or all events at one instant) are dropped — no
    * integrable interval exists.
    *
    * Shape: ONE shuffle on the key (the lead window and the final agg
    * share the `hashpartitioning(key)` exchange); per-key state is the
    * window frame's single lookahead row. `idCol` makes the order
    * total under timestamp ties. */
  def timeWeightedAvg(events: DataFrame, keyCol: String, tsCol: String,
      valueCol: String, idCol: String): DataFrame = {
    val w = Window.partitionBy(keyCol)
      .orderBy(col("_us"), col(idCol))
    val stepped = events
      .select(col(keyCol), col(idCol), unix_micros(col(tsCol)).as("_us"),
        round(col(valueCol) * lit(1000000.0)).cast("long").as("_v6"))
      .withColumn("_dur", lead(col("_us"), 1).over(w) - col("_us"))
    stepped.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        (max(col("_us")) - min(col("_us"))).as("span_us"),
        sum(col("_v6").cast("decimal(38,0)") * col("_dur")).as("_int"))
      .where(col("span_us") > 0)
      .select(col(keyCol), col("n_events"), col("span_us"),
        round(col("_int").cast("double") / col("span_us")
          / lit(1000000.0), 6).as("twa_r"))
  }

  /** Theil–Sen robust trend: per key, the MEDIAN of all pairwise
    * day-grain slopes (x_j − x_i)/(day_j − day_i) — the
    * breakdown-point-0.29 slope estimator that one outlier day cannot
    * drag the way OLS ([[rollingSlope]]) can. Median via
    * [[Ranks.exactQuantiles]] — distributed exact, no single-task sort.
    *
    * Shape: corpus → (key, day) counts in one shuffle; the pair join is
    * quadratic ONLY in each key's observed-day count (calendar-bounded:
    * a year of days is ~66k pairs — constant per key, independent of
    * event volume), then the banded-rank median machinery. Slopes are
    * identical doubles cross-engine (exact-integer differences,
    * one division). */
  def theilSen(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val grain = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val a = grain.select(col(keyCol), col("day").as("_da"),
      col("x").as("_xa"))
    val b = grain.select(col(keyCol), col("day").as("_db"),
      col("x").as("_xb"))
    val pairs = a.join(b, Seq(keyCol))
      .where(col("_da") < col("_db"))
      .select(col(keyCol),
        // nullif: ANSI Spark evaluates the projection's division before
        // the _da < _db filter is guaranteed to have run (plan-order
        // dependent) — same-day pairs must divide by null, not 0; none
        // survive the filter, so results are unchanged
        ((col("_xb") - col("_xa")).cast("double")
          / nullif(datediff(col("_db"), col("_da")), lit(0))).as("slope"),
        concat(col("_da").cast("string"), lit("#"),
          col("_db").cast("string")).as("_pid"))
    Ranks.exactQuantiles(pairs, keyCol, "slope", "_pid",
        bandWidth = 1.0, nums = Seq(1), den = 2)
      .select(col(keyCol), col("n"),
        round(col("q_val"), 6).as("slope_med_r"))
  }

  /** Mann–Kendall trend test — the SIGNIFICANCE companion to
    * [[theilSen]]'s magnitude: S = Σ_{i<j} sign(x_j − x_i) over the
    * day-ordered per-key series, Kendall τ = S/(n(n−1)/2), and the
    * tie-corrected normal z (Var·18 = n(n−1)(2n+5) − Σ_t t(t−1)(2t+5),
    * continuity-corrected ±1) — "is there a monotone trend at all"
    * before the slope is believed. S, τ's denominator and Var·18 are
    * exact integers; z is one double division over them plus one sqrt.
    *
    * Same pair shape as [[theilSen]]: quadratic only in each key's
    * observed-day count (calendar-bounded), one hash-agg for S, a
    * (key, x)-grain agg for the tie correction. */
  def mannKendall(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val grain = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val nn = grain.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val a = grain.select(col(keyCol), col("day").as("_da"),
      col("x").as("_xa"))
    val b = grain.select(col(keyCol), col("day").as("_db"),
      col("x").as("_xb"))
    val s = a.join(b, Seq(keyCol))
      .where(col("_da") < col("_db"))
      .select(col(keyCol),
        when(col("_xb") > col("_xa"), 1L)
          .when(col("_xb") < col("_xa"), -1L).otherwise(0L).as("_sg"))
      .groupBy(col(keyCol)).agg(sum(col("_sg")).as("s_stat"))
    val tc = grain.groupBy(col(keyCol), col("x"))
      .agg(count(lit(1)).as("_t"))
      .where(col("_t") > 1)
      .groupBy(col(keyCol))
      .agg(sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
        .as("_tcorr"))
    val joined = s.join(nn, Seq(keyCol)).join(tc, Seq(keyCol), "left")
      .withColumn("_var18",
        col("n") * (col("n") - 1) * (lit(2) * col("n") + 5)
          - coalesce(col("_tcorr"), lit(0L)))
    val sd = sqrt(col("_var18").cast("double") / lit(18.0))
    joined.select(col(keyCol), col("n"), col("s_stat"),
      round(col("s_stat").cast("double")
        / (col("n").cast("double") * (col("n") - 1).cast("double")
          / lit(2.0)), 6).as("tau_r"),
      when(col("_var18") > 0 && col("s_stat") > 0,
        round((col("s_stat") - 1).cast("double") / sd, 6))
        .when(col("_var18") > 0 && col("s_stat") < 0,
          round((col("s_stat") + 1).cast("double") / sd, 6))
        .when(col("_var18") > 0, lit(0.0))
        .as("z_r"))
  }

  /** Seasonal-naïve forecast backtest: predict each day's count by the
    * count `lagDays` earlier on the ZERO-FILLED spine and score the
    * prediction — MAE and bias from exact integer errors, MAPE over
    * positive-actual days with 12-dp DECIMAL term sums (the q226
    * order-independent posture). The standard "is a model even worth
    * building" baseline, and the drift alarm when a stable series'
    * seasonal-naïve error jumps.
    *
    * Shape: day-grain agg → per-key spine explode (calendar-bounded) →
    * one self-join shifted by `lagDays` → a per-key rollup. Evaluated
    * days are those ≥ lagDays into the key's span. */
  def seasonalNaiveBacktest(events: DataFrame, keyCol: String,
      tsCol: String, lagDays: Int): DataFrame = {
    require(lagDays >= 1)
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val spine = daily.groupBy(keyCol)
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col(keyCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = spine.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val pred = filled.select(col(keyCol),
      date_add(col("day"), lagDays).as("day"), col("x").as("p"))
    val joined = filled.join(pred, Seq(keyCol, "day"))
    val err = col("x") - col("p")
    joined.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(err)).as("_sae"), sum(err).as("_se"),
        sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_pos"),
        sum(when(col("x") > 0,
          t12(abs(err).cast("double") / col("x")))).as("_sape"))
      .select(col(keyCol), col("n_days"),
        round(col("_sae").cast("double") / col("n_days"), 6).as("mae_r"),
        round(col("_se").cast("double") / col("n_days"), 6).as("bias_r"),
        col("n_pos"),
        when(col("n_pos") > 0,
          round(col("_sape").cast("double") / col("n_pos"), 6))
          .as("mape_r"))
  }

  /** Spectral power of the daily-count series at a FIXED integer
    * period: S_P = (Σ_t x_t·cos(2πt/P))² + (Σ_t x_t·sin(2πt/P))² —
    * one DFT bin, the "is there a P-day cycle" test that [[acfDaily]]
    * approaches from the lag domain. Emitted per key for each period
    * in `periods`, with the mean-removed power (the DC component
    * otherwise dominates): x is replaced by x − x̄ via the identity
    * Σ(x−x̄)w = Σxw − x̄Σw computed on exact sums.
    *
    * Cross-engine exactness: the only transcendentals are the P
    * distinct cos/sin values per period, which are SCALA-COMPUTED
    * literals keyed by t mod P (a broadcast weight table shared
    * verbatim with the oracle SQL) — no engine trig in the plan.
    * Weighted sums accumulate as 12-dp DECIMAL of rounded terms.
    * Shape: zero-filled spine → broadcast weight-table join → one
    * (key, period) hash-agg. */
  def spectralPower(events: DataFrame, keyCol: String, tsCol: String,
      periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2))
    val s = events.sparkSession
    import s.implicits._
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val spine = daily.groupBy(keyCol)
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col(keyCol), col("_d0"),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = spine.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), datediff(col("day"), col("_d0")).as("t"),
        coalesce(col("x"), lit(0L)).as("x"))
    val weights = periods.flatMap(p => (0 until p).map(r =>
      (p, r, math.cos(2 * math.Pi * r / p),
        math.sin(2 * math.Pi * r / p))))
      .toDF("period", "r", "c", "sn")
    val joined = filled.crossJoin(broadcast(weights.select(
        col("period")).distinct()))
      .withColumn("r", col("t") % col("period"))
      .join(broadcast(weights), Seq("period", "r"))
    joined.groupBy(col(keyCol), col("period"))
      .agg(count(lit(1)).as("n_days"), sum(col("x")).as("_sx"),
        sum(t12(col("x") * col("c")))
          .as("_sc"),
        sum(t12(col("x") * col("sn")))
          .as("_ss"),
        sum(t12(col("c"))).as("_wc"),
        sum(t12(col("sn"))).as("_ws"))
      .select(col(keyCol), col("period"), col("n_days"),
        round(
          (col("_sc").cast("double") - col("_sx").cast("double")
            / col("n_days") * col("_wc").cast("double")) *
          (col("_sc").cast("double") - col("_sx").cast("double")
            / col("n_days") * col("_wc").cast("double")) +
          (col("_ss").cast("double") - col("_sx").cast("double")
            / col("n_days") * col("_ws").cast("double")) *
          (col("_ss").cast("double") - col("_sx").cast("double")
            / col("n_days") * col("_ws").cast("double")), 6)
          .as("power_r"))
  }

  /** Pinball (quantile) loss of the seasonal-naïve forecast at several
    * quantile levels: L_τ(e) = max(τ·e, (τ−1)·e) with e = actual −
    * forecast — the asymmetric score that grades a forecast AS a
    * τ-quantile (τ=0.5 halves the MAE; τ=0.9 punishes under-forecasts
    * 9× harder). Complements [[seasonalNaiveBacktest]]'s symmetric
    * MAE/bias with the tail-risk view a capacity-planning consumer
    * needs. Same spine/lag-join shape; τ levels fan out by a broadcast
    * spec; per-(key, τ) losses are 9-dp DECIMAL term sums. */
  def pinballBacktest(events: DataFrame, keyCol: String, tsCol: String,
      lagDays: Int, taus: Seq[Double]): DataFrame = {
    require(lagDays >= 1 && taus.nonEmpty)
    require(taus.forall(t => t > 0 && t < 1))
    val s = events.sparkSession
    import s.implicits._
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val spine = daily.groupBy(keyCol)
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col(keyCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = spine.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val pred = filled.select(col(keyCol),
      date_add(col("day"), lagDays).as("day"), col("x").as("p"))
    val tauSpec = taus.toDF("tau")
    val e = (col("x") - col("p")).cast("double")
    filled.join(pred, Seq(keyCol, "day"))
      .crossJoin(broadcast(tauSpec))
      .groupBy(col(keyCol), col("tau"))
      .agg(count(lit(1)).as("n_days"),
        sum(round(greatest(col("tau") * e, (col("tau") - lit(1.0)) * e),
          9).cast("decimal(28,9)")).as("_l"))
      .select(col(keyCol), col("tau"), col("n_days"),
        round(col("_l").cast("double") / col("n_days"), 6)
          .as("pinball_r"))
  }

  /** Daily cross-correlation of two event slices at lags −L..L: Pearson
    * r between x_t (`sliceA`) and y_{t+lag} (`sliceB`) over the SHARED
    * zero-filled spine — "does A lead B, and by how many days". Lag > 0
    * means A leads B. Emits per lag: aligned-pair count and 6-dp r
    * (null when either side is constant on the overlap).
    *
    * Shape: two day-grain aggs on one spine (global min..max — a
    * calendar-bounded frame), a broadcast lag-spec fan-out, one
    * day-equi-join, per-lag integer moments; Pearson in one shared
    * double parenthesization. */
  def xcorrDaily(events: DataFrame, tsCol: String, sliceA: Column,
      sliceB: Column, maxLag: Int): DataFrame = {
    require(maxLag >= 0)
    val s = events.sparkSession
    import s.implicits._
    val days = events.select(to_date(col(tsCol)).as("day"),
      when(sliceA, 1L).otherwise(0L).as("_a"),
      when(sliceB, 1L).otherwise(0L).as("_b"))
    val daily = days.groupBy(col("day"))
      .agg(sum(col("_a")).as("xa"), sum(col("_b")).as("xb"))
    val spine = daily.agg(min(col("day")).as("_d0"),
        max(col("day")).as("_d1"))
      .select(explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = spine.join(daily, Seq("day"), "left")
      .select(col("day"), coalesce(col("xa"), lit(0L)).as("xa"),
        coalesce(col("xb"), lit(0L)).as("xb"))
    val lags = (-maxLag to maxLag).toDF("lag")
    // y at day d is re-keyed to d − lag, so joining on the day pairs
    // x_t with y_{t+lag}: a high r at lag > 0 means A's today tracks
    // B's future — A LEADS B by `lag` days
    val shifted = filled.crossJoin(broadcast(lags))
      .select(col("lag"), date_sub(col("day"), col("lag")).as("day"),
        col("xb").as("yb"))
    val pairs = filled.join(shifted, Seq("day"))
      .groupBy(col("lag"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("xa")).as("_sx"), sum(col("yb")).as("_sy"),
        sum(col("xa") * col("xa")).as("_sxx"),
        sum(col("yb") * col("yb")).as("_syy"),
        sum(col("xa") * col("yb")).as("_sxy"))
    def d(c: String) = col(c).cast("double")
    val n = d("n_pairs")
    val cov = d("_sxy") - d("_sx") * d("_sy") / n
    val vx = d("_sxx") - d("_sx") * d("_sx") / n
    val vy = d("_syy") - d("_sy") * d("_sy") / n
    pairs.select(col("lag"), col("n_pairs"),
      when(vx > 0 && vy > 0,
        round(cov / nullif(sqrt(vx) * sqrt(vy), lit(0.0)), 6))
        .as("r_r"))
  }

  /** Classical additive seasonal decomposition of a daily integer
    * series (the moving-average STL-lite): trend = centered 7-day MA on
    * the ZERO-FILLED spine (only full windows), detrended = y − trend,
    * seasonal(dow) = mean detrended per weekday normalized to sum ≈ 0,
    * residual = detrended − seasonal. Emits one row per weekday —
    * n_days, the raw and normalized seasonal effect, and the overall
    * residual sd riding every row (how much of the series the
    * trend+season model leaves unexplained).
    *
    * Determinism: the MA is an exact integer 7-sum divided once;
    * every cross-row float mean/variance takes 12-dp-rounded
    * DECIMAL-summed terms (residual squares at 6 dp — cents² scale).
    * `daily` is the (dayCol DATE, yCol BIGINT) grain; dow is 0=Sunday,
    * the q295 convention. Everything below the first rollup runs on
    * the |days| spine. */
  def classicalDecomposition(daily: DataFrame, dayCol: String,
      yCol: String): DataFrame = {
    val bounds = daily.agg(min(col(dayCol)).as("_d0"),
      max(col(dayCol)).as("_d1"))
    val spine = bounds
      .select(explode(sequence(col("_d0"), col("_d1"))).as(dayCol))
      .join(daily, Seq(dayCol), "left")
      .select(col(dayCol), coalesce(col(yCol), lit(0L)).as("_y"))
    val w7 = Window.orderBy(dayCol).rowsBetween(-3, 3)
    val det = spine
      .withColumn("_s7", sum(col("_y")).over(w7))
      .withColumn("_c7", count(lit(1)).over(w7))
      .where(col("_c7") === 7)
      .select(col(dayCol),
        (col("_y").cast("double")
          - col("_s7").cast("double") / 7).as("_det"))
    val seas = det
      .groupBy((dayofweek(col(dayCol)) - 1).cast("long").as("dow"))
      .agg(count(lit(1)).as("n_days"),
        (sum(t12(col("_det")))
          .cast("double") / count(lit(1))).as("_sraw"))
    val m = seas.agg(
      (sum(t12(col("_sraw")))
        .cast("double") / count(lit(1))).as("_sm"))
    val snorm = seas.crossJoin(broadcast(m))
      .select(col("dow"), col("n_days"), col("_sraw"),
        (col("_sraw") - col("_sm")).as("_snorm"))
    val resid = det
      .withColumn("dow", (dayofweek(col(dayCol)) - 1).cast("long"))
      .join(broadcast(snorm.select(col("dow"), col("_snorm"))), "dow")
      .select((col("_det") - col("_snorm")).as("_r"))
    val rsd = resid.agg(count(lit(1)).as("_n"),
      sum(round(col("_r") * col("_r"), 6).cast("decimal(38,6)"))
        .as("_rss"))
      .select(when(col("_n") > 0, sqrt(col("_rss").cast("double")
        / col("_n").cast("double"))).as("_rsd"))
    snorm.crossJoin(broadcast(rsd))
      .select(col("dow"), col("n_days"),
        round(col("_sraw"), 6).as("seasonal_raw_r"),
        round(col("_snorm"), 6).as("seasonal_r"),
        round(col("_rsd"), 6).as("resid_sd_r"))
  }

  /** Best single mean-shift changepoint by exhaustive SSE scan (the
    * first step of binary segmentation, Scott & Knott / CUSUM's
    * model-based sibling): for EVERY split point s the two-segment
    * SSE comes in closed form from cumulative (n, Σy, Σy²) prefixes,
    * the winner maximizes the SSE reduction (ties → earliest day),
    * and F = reduction / (SSE_split/(n−2)) sizes the shift. Where
    * [[cusumDaily]] ALARMS on a drift, this LOCATES the single best
    * break and quantifies both regime means.
    *
    * All prefixes are exact integer/DECIMAL windows over the bounded
    * day grain (the q304 calendar posture); every candidate's SSE is
    * a pure double function of exact moments, so the argmax is
    * engine-deterministic; the winner is TakeOrdered-selected, never
    * a global sort. Returns one row: n_days, break_t, n_left,
    * mean_left_r, mean_right_r, f_r — break_t is the first day index
    * of the RIGHT segment. */
  def bestMeanShift(daily: DataFrame, tCol: String,
      yCentsCol: String): DataFrame = {
    val w = Window.orderBy("_t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val pre = daily.select(col(tCol).as("_t"),
        col(yCentsCol).cast("decimal(38,0)").as("_y"))
      .withColumn("_cn", count(lit(1)).over(w))
      .withColumn("_cy", sum(col("_y")).over(w))
      .withColumn("_cyy", sum(col("_y") * col("_y")).over(w))
      .localCheckpoint() // totals + candidate scan read it
    // grand totals = the prefixes AT the last day (max_by on the unique
    // _t), NOT max over cumulatives: _cy is only monotone when every
    // daily y is nonnegative — a net-refund day would make max(_cy)
    // overshoot the true total (wrong SSEs, wrong break). _cn/_cyy are
    // monotone regardless, but take all three at _tmax for one shape.
    val tot = pre.agg(max(col("_cn")).as("_n"),
      max_by(col("_cy"), col("_t")).as("_sy"),
      max_by(col("_cyy"), col("_t")).as("_syy"),
      max(col("_t")).as("_tmax"))
    def sse(n: org.apache.spark.sql.Column,
        sy: org.apache.spark.sql.Column,
        syy: org.apache.spark.sql.Column) =
      syy.cast("double") -
        sy.cast("double") * sy.cast("double") / n.cast("double")
    val cand = pre.crossJoin(broadcast(tot))
      .where(col("_t") < col("_tmax")) // a split needs a right segment
      .withColumn("_sseL", sse(col("_cn"), col("_cy"), col("_cyy")))
      .withColumn("_sseR", sse(col("_n") - col("_cn"),
        col("_sy") - col("_cy"), col("_syy") - col("_cyy")))
      .withColumn("_sse0", sse(col("_n"), col("_sy"), col("_syy")))
      .withColumn("_red",
        col("_sse0") - (col("_sseL") + col("_sseR")))
    val best = cand.orderBy(col("_red").desc, col("_t")).limit(1)
    val nD = col("_n").cast("double")
    val split = col("_sseL") + col("_sseR")
    best.select(col("_n").as("n_days"), (col("_t") + 1).as("break_t"),
      col("_cn").as("n_left"),
      round(col("_cy").cast("double") / col("_cn").cast("double"), 6)
        .as("mean_left_r"),
      round((col("_sy") - col("_cy")).cast("double")
        / (col("_n") - col("_cn")).cast("double"), 6)
        .as("mean_right_r"),
      round(when(col("_n") > 2 && split > 0,
        col("_red") / (split / (nD - 2))), 6).as("f_r"))
  }

  /** Hurst exponent by rescaled-range (R/S) analysis (Hurst 1951;
    * Mandelbrot & Wallis 1969): chop the day-grain series into
    * complete blocks of each size n, compute each block's rescaled
    * range R/S (range of cumulative mean-deviations over population
    * SD), average per size, and fit ln(mean R/S) = c + H·ln(n) —
    * H ≈ 0.5 is a memoryless walk, H > 0.5 long-range persistence
    * (trends compound; naive CI widths lie), H < 0.5 mean reversion.
    *
    * Exactness: inside a block, n·Z_i = n·W_i − i·S_n (W = running
    * integer prefix sum, S_n = block total) keeps the cumulative
    * deviations in EXACT integer arithmetic — R = (max−min)/n and the
    * population SD meet in one double expression per block, so no
    * engine-ordered float prefix sum exists anywhere (a windowed
    * double cumsum would be segment-tree-ordered in DuckDB but
    * running-ordered in Spark). Per-block R/S terms are 12-dp
    * DECIMAL-summed per size; the ln-ln OLS runs on the ≤|sizes|
    * point frame with the shared simple-OLS parenthesization.
    * All windows are PARTITIONED by (size, block). Returns per size:
    * n (block length), n_blocks, mean_rs_r, h_r (the fitted slope,
    * repeated — the q213 global-column convention). */
  def hurstRs(daily: DataFrame, tCol: String, yCol: String,
      sizes: Seq[Int]): DataFrame = {
    require(sizes.nonEmpty && sizes.forall(_ >= 2), "block sizes >= 2")
    val s = daily.sparkSession
    import s.implicits._
    val spec = sizes.toDF("n")
    val rows = daily.select(col(tCol).cast("long").as("_t"),
        col(yCol).cast("long").as("_y"))
      .crossJoin(broadcast(spec))
      .withColumn("_blk", expr("_t div n"))
    val wb = Window.partitionBy(col("n"), col("_blk"))
    val wcum = wb.orderBy(col("_t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val annotated = rows
      .withColumn("_cnt", count(lit(1)).over(wb))
      .where(col("_cnt") === col("n"))
      .withColumn("_w", sum(col("_y")).over(wcum))
      .withColumn("_i", row_number().over(wb.orderBy(col("_t"))))
      .withColumn("_sn", sum(col("_y")).over(wb))
      // y² in DECIMAL: daily cents squared overflows BIGINT (ANSI throw)
      .withColumn("_syy", sum(col("_y").cast("decimal(38,0)")
        * col("_y").cast("decimal(38,0)")).over(wb))
      // n*Z_i as an exact integer: no float accumulates in any order
      .withColumn("_nz", col("n") * col("_w") - col("_i") * col("_sn"))
    val blocks = annotated.groupBy(col("n"), col("_blk"))
      .agg(max(col("_nz")).as("_zmax"), min(col("_nz")).as("_zmin"),
        first(col("_sn")).as("_sn"), first(col("_syy")).as("_syy"))
    val nD = col("n").cast("double")
    val r = (greatest(col("_zmax"), lit(0L))
      - least(col("_zmin"), lit(0L))).cast("double") / nD
    val sd = sqrt((col("_syy").cast("double")
      - col("_sn").cast("double") * col("_sn").cast("double") / nD) / nD)
    val perSize = blocks
      .select(col("n"), when(sd > 0, r / sd).as("_rs"))
      .where(col("_rs").isNotNull)
      .groupBy(col("n"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(t12(col("_rs"))).cast("double").as("_srs"))
      .withColumn("_meanrs",
        col("_srs") / col("n_blocks").cast("double"))
      .where(col("_meanrs") > 0)
      .localCheckpoint() // consumed by the fit AND the final select
    val m = perSize.agg(count(lit(1)).as("_k"),
      sum(t12(log(nD))).cast("double").as("_sx"),
      sum(t12(log(col("_meanrs")))).cast("double").as("_sy"),
      sum(t12(log(nD) * log(nD))).cast("double").as("_sxx"),
      sum(t12(log(nD) * log(col("_meanrs")))).cast("double").as("_sxy"))
    val kD = col("_k").cast("double")
    val h = m.select(col("_k"),
      when(col("_k") >= 2 &&
        kD * col("_sxx") - col("_sx") * col("_sx") > 0,
        (kD * col("_sxy") - col("_sx") * col("_sy")) /
          (kD * col("_sxx") - col("_sx") * col("_sx"))).as("_h"))
    perSize.crossJoin(broadcast(h))
      .select(col("n"), col("n_blocks"),
        round(col("_meanrs"), 6).as("mean_rs_r"),
        round(col("_h"), 6).as("h_r"))
  }

  /** KPSS level-stationarity test (Kwiatkowski–Phillips–Schmidt–Shin
    * 1992): η = n⁻² Σᵢ Sᵢ² / s²(l), where Sᵢ are partial sums of the
    * demeaned OBSERVED series and s²(l) is the Bartlett-kernel
    * long-run variance γ₀ + 2 Σⱼ (1 − j/(l+1)) γⱼ. The null here is
    * STATIONARITY (the mirror of a unit-root test): large η says the
    * level wanders — the "is this series even modelable as level +
    * noise" gate in front of [[cusumDaily]]/[[bestMeanShift]], which
    * assume it is.
    *
    * Exact-arithmetic discipline: with C_i the exact cumulative sum
    * and Sy the grand total, n·S_i = n·C_i − i·Sy and
    * n·e_i = n·y_i − Sy are exact integers; every squared/lagged
    * product is ONE double expression of exact integers, evaluated in
    * MILLIONS of dollars (cents/1e8) and 6-dp-rounded onto
    * DECIMAL(38,6) before its order-independent sum — the scaled
    * n-weighted partial sums reach ~10¹² cents even at bench scale,
    * and a rounding grid only stays engine-deterministic while it sits
    * well ABOVE the double's ulp at the term magnitude (the
    * [[pageHinkley]] lesson, one decade harder because these terms
    * are n-weighted squares). Lag pairs come from an equi-join on the
    * row index (the [[acfDaily]] shape), never a per-lag window. All
    * windows live on the bounded day grain. Returns one row: n,
    * gamma0_r / s2l_r (in M$²), kpss_r (unit-invariant; NULL when
    * s²(l) ≤ 0, e.g. a constant series). */
  def kpss(daily: DataFrame, tCol: String, yCol: String,
      lags: Int = 7): DataFrame = {
    require(lags >= 1, "lags must be >= 1")
    def t6(c: org.apache.spark.sql.Column) =
      round(c, 6).cast("decimal(38,6)")
    val s = daily.sparkSession
    val w = Window.orderBy("_t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = daily.select(col(tCol).as("_t"),
        col(yCol).cast("decimal(38,0)").as("_y"))
      .withColumn("_i", count(lit(1)).over(w))
      .withColumn("_c", sum(col("_y")).over(w))
      .localCheckpoint() // totals + partial-sum scan + lag pairs
    val tot = base.agg(max(col("_i")).as("_n"),
      max_by(col("_c"), col("_i")).as("_sy"))
    val nD = col("_n").cast("double")
    val syD = col("_sy").cast("double")
    // Σ S_i² via the exact scaled form (n·S_i)²/n², in k$
    val nSi = (nD * col("_c").cast("double") -
      col("_i").cast("double") * syD) / lit(1e8)
    val ssum = base.crossJoin(broadcast(tot))
      .agg(sum(t6(nSi * nSi / (nD * nD))).cast("double").as("_ss2"),
        first(col("_n")).as("_n"), first(col("_sy")).as("_sy"))
    // γ_j, j = 0..lags: lag pairs by row-index equi-join
    val spec = s.range(0, lags + 1L).select(col("id").as("lag"))
    val shifted = base.crossJoin(broadcast(spec))
      .select(col("lag"), (col("_i") + col("lag")).as("_i"),
        col("_y").as("_y0"))
    val nE = (c: org.apache.spark.sql.Column) =>
      (nD * c.cast("double") - syD) / lit(1e8)
    val gam = shifted
      .join(base.select(col("_i"), col("_y").as("_y1")), Seq("_i"))
      .crossJoin(broadcast(tot))
      .groupBy(col("lag"))
      .agg(sum(t6(nE(col("_y0")) * nE(col("_y1")) / (nD * nD)))
        .cast("double").as("_g"))
    // Bartlett weights on the ≤(lags+1)-row γ frame
    val lD = lit(lags.toDouble)
    val s2l = gam
      .agg(sum(when(col("lag") === 0, col("_g")).otherwise(
        lit(2.0) * (lit(1.0) - col("lag").cast("double") / (lD + 1.0))
          * col("_g"))).as("_s2n"),
        sum(when(col("lag") === 0, col("_g"))).as("_g0n"))
    ssum.crossJoin(broadcast(s2l))
      .select(col("_n").as("n"),
        round(col("_g0n") / nD, 6).as("gamma0_r"),
        round(col("_s2n") / nD, 6).as("s2l_r"),
        round(when(col("_s2n") > 0,
          col("_ss2") / (nD * nD) / (col("_s2n") / nD)), 6)
          .as("kpss_r"))
  }

  /** Page–Hinkley drift detector (Page 1954; the sequential mean-shift
    * monitor next to [[cusumDaily]]'s two-sided CUSUM): with the
    * running mean x̄_i over the first i observations,
    * m_i = Σ_{k≤i} (x_k − x̄_k − δ) and PH_i = m_i − min_{k≤i} m_k;
    * an alarm fires when PH_i > λ. δ and λ are in THOUSANDS of
    * dollars (k$, cents/1e5).
    *
    * Determinism: x̄_k = C_k/k is one double division of exact
    * integers; each increment is evaluated in k$ — the k$ magnitude
    * (~10³) keeps the 6-dp grid SIX orders above the double's ulp, so
    * the per-term rounding is engine-deterministic (a 12-dp grid at
    * raw-cents magnitude ~10⁸ sits BELOW the double's representational
    * noise, where Spark's shortest-repr rounding and DuckDB's binary
    * rounding visibly diverge — measured, r11) — then cumulative-
    * summed as DECIMAL over the ORDERED bounded day grain. ph_max is
    * the raw double of that exact DECIMAL (no re-rounding).
    * Returns one row: n, ph_max (k$), t_at_max, n_alarms,
    * t_first_alarm (NULL when no PH_i exceeds λ). */
  def pageHinkley(daily: DataFrame, tCol: String, yCol: String,
      deltaK: Double, lambdaK: Double): DataFrame = {
    def t6(c: org.apache.spark.sql.Column) =
      round(c, 6).cast("decimal(38,6)")
    val wc = Window.orderBy("_t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = daily.select(col(tCol).as("_t"),
        col(yCol).cast("decimal(38,0)").as("_y"))
      .withColumn("_i", count(lit(1)).over(wc))
      .withColumn("_c", sum(col("_y")).over(wc))
      .withColumn("_inc", t6((col("_y").cast("double")
        - col("_c").cast("double") / col("_i").cast("double"))
        / lit(1e5) - lit(deltaK)))
      .withColumn("_m", sum(col("_inc")).over(wc))
      .withColumn("_ph", col("_m") - min(col("_m")).over(wc))
    base.agg(count(lit(1)).as("n"),
        max(col("_ph")).cast("double").as("ph_max"),
        min_by(col("_t"), struct((-col("_ph")).as("a"), col("_t")))
          .as("t_at_max"),
        sum(when(col("_ph").cast("double") > lambdaK, 1L)
          .otherwise(0L)).as("n_alarms"),
        min(when(col("_ph").cast("double") > lambdaK, col("_t")))
          .as("t_first_alarm"))
  }

  /** Depth-2 binary segmentation: the [[bestMeanShift]] scan applied
    * recursively — the root break first, then the best break WITHIN
    * each resulting segment (CBS/Scott-Knott shape, fixed depth). The
    * recursion is declarative: each child frame is the day grain
    * filtered against the broadcast 1-row parent pick (no collect),
    * and each pick is localCheckpointed so the union does not
    * re-execute the scan chain combinatorially (the MMR lesson).
    * Segments too short for a valid split (< 2 days) simply emit no
    * row — same semantics as the oracle\'s empty sub-CTE. Returns up
    * to 3 rows: segment ("root"/"left"/"right"), n_days, break_t,
    * n_left, mean_left_r, mean_right_r, f_r, in segment order. */
  def binarySegmentation2(daily: DataFrame, tCol: String,
      yCentsCol: String): DataFrame = {
    val root = bestMeanShift(daily, tCol, yCentsCol).localCheckpoint()
    val bt = root.select(col("break_t"))
    val left = daily.crossJoin(broadcast(bt))
      .where(col(tCol) < col("break_t"))
      .select(col(tCol), col(yCentsCol))
    val right = daily.crossJoin(broadcast(bt))
      .where(col(tCol) >= col("break_t"))
      .select(col(tCol), col(yCentsCol))
    val l = bestMeanShift(left, tCol, yCentsCol).localCheckpoint()
    val r = bestMeanShift(right, tCol, yCentsCol).localCheckpoint()
    root.withColumn("segment", lit("root"))
      .unionByName(l.withColumn("segment", lit("left")))
      .unionByName(r.withColumn("segment", lit("right")))
      .select(col("segment"), col("n_days"), col("break_t"),
        col("n_left"), col("mean_left_r"), col("mean_right_r"),
        col("f_r"))
  }

  /** Chained-base price-index triplet per month (index-number theory):
    * Laspeyres (base-quantity weights), Paasche (current-quantity
    * weights), Fisher (their geometric mean — the "ideal" index that
    * passes the time-reversal test both one-sided indexes fail). Unit
    * prices are exact-integer ratios Σcents/Σqty per (item, month);
    * only items traded in BOTH the base month and month m enter that
    * month's index (the matched-model convention, n_items reported).
    * One corpus pass to the (item, month) grain; every index is a
    * broadcast join of that bounded grain against its base slice,
    * with each revenue product 12-dp-gridded before the sums.
    * Returns one row per non-base month: month, n_items,
    * laspeyres_r, paasche_r, fisher_r. */
  def priceIndexFisher(sales: DataFrame, itemCol: String,
      monthCol: String, centsCol: String, qtyCol: String): DataFrame = {
    val pm = sales.groupBy(col(itemCol).as("_i"), col(monthCol).as("_m"))
      .agg(sum(col(centsCol)).as("_c"), sum(col(qtyCol)).as("_q"))
      .withColumn("_p", col("_c").cast("double") / col("_q").cast("double"))
      .localCheckpoint() // base slice + every month join read it
    val base = pm.crossJoin(broadcast(pm.agg(min(col("_m")).as("_m0"))))
      .where(col("_m") === col("_m0"))
      .select(col("_i"), col("_p").as("_p0"), col("_q").as("_q0"),
        col("_m0"))
    val joined = pm.join(base.drop("_m0"), Seq("_i"))
      .crossJoin(broadcast(pm.agg(min(col("_m")).as("_m0"))))
      .where(col("_m") =!= col("_m0"))
    joined.groupBy(col("_m").as("month"))
      .agg(count(lit(1)).as("n_items"),
        sum(t12(col("_p") * col("_q0"))).cast("double").as("_lnum"),
        sum(t12(col("_p0") * col("_q0"))).cast("double").as("_lden"),
        sum(t12(col("_p") * col("_q"))).cast("double").as("_pnum"),
        sum(t12(col("_p0") * col("_q"))).cast("double").as("_pden"))
      .select(col("month"), col("n_items"),
        round(col("_lnum") / col("_lden"), 6).as("laspeyres_r"),
        round(col("_pnum") / col("_pden"), 6).as("paasche_r"),
        round(sqrt((col("_lnum") / col("_lden"))
          * (col("_pnum") / col("_pden"))), 6).as("fisher_r"))
      .orderBy("month")
  }

  /** SEASONAL Mann–Kendall trend test (Hirsch & Slack 1984): the
    * [[mannKendall]] S statistic computed WITHIN each season stratum
    * (here day-of-week, the calendar's strongest cycle) and summed —
    * so a strong weekly pattern cannot masquerade as (or mask) a
    * monotone trend the plain test would mis-score. S = Σ_dow S_dow,
    * Var = Σ_dow Var_dow with each stratum's tie correction; z uses
    * the ±1 continuity convention of the plain test. Pairs join only
    * within (key, stratum) — day-grain² per stratum, calendar-bounded.
    * Returns one row per key: n, s_stat, z_r. */
  def seasonalMannKendall(events: DataFrame, keyCol: String,
      tsCol: String): DataFrame = {
    val grain = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
      .withColumn("_dw", dayofweek(col("day")))
      .localCheckpoint() // pairs + per-stratum n + tie table read it
    val nn = grain.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val a = grain.select(col(keyCol), col("_dw"),
      col("day").as("_da"), col("x").as("_xa"))
    val b = grain.select(col(keyCol), col("_dw"),
      col("day").as("_db"), col("x").as("_xb"))
    val s = a.join(b, Seq(keyCol, "_dw"))
      .where(col("_da") < col("_db"))
      .select(col(keyCol),
        when(col("_xb") > col("_xa"), 1L)
          .when(col("_xb") < col("_xa"), -1L).otherwise(0L).as("_sg"))
      .groupBy(col(keyCol)).agg(sum(col("_sg")).as("s_stat"))
    val strat = grain.groupBy(col(keyCol), col("_dw"))
      .agg(count(lit(1)).as("_ns"))
    val tc = grain.groupBy(col(keyCol), col("_dw"), col("x"))
      .agg(count(lit(1)).as("_t"))
      .where(col("_t") > 1)
      .groupBy(col(keyCol), col("_dw"))
      .agg(sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
        .as("_tcorr"))
    val varSum = strat.join(tc, Seq(keyCol, "_dw"), "left")
      .select(col(keyCol),
        (col("_ns") * (col("_ns") - 1) * (lit(2) * col("_ns") + 5)
          - coalesce(col("_tcorr"), lit(0L))).as("_v18"))
      .groupBy(col(keyCol)).agg(sum(col("_v18")).as("_var18"))
    val joined = s.join(nn, Seq(keyCol)).join(varSum, Seq(keyCol))
    val sd = sqrt(col("_var18").cast("double") / lit(18.0))
    joined.select(col(keyCol), col("n"), col("s_stat"),
      when(col("_var18") > 0 && col("s_stat") > 0,
        round((col("s_stat") - 1).cast("double") / sd, 6))
        .when(col("_var18") > 0 && col("s_stat") < 0,
          round((col("s_stat") + 1).cast("double") / sd, 6))
        .when(col("_var18") > 0, lit(0.0))
        .as("z_r"))
  }

  /** Scala-computed per-period basis rows (period, r = t mod period,
    * cos, sin) shared verbatim with oracle SQL (the
    * [[spectralPower]] weight-table idiom — no engine trig in any
    * plan). */
  def lsWeights(periods: Seq[Int]): Seq[(Int, Int, Double, Double)] =
    periods.flatMap(p => (0 until p).map { r =>
      val theta = 2 * math.Pi * r / p
      (p, r, math.cos(theta), math.sin(theta))
    })

  /** [[lsWeights]] rendered for a SQL VALUES clause. */
  def lsWeightValues(periods: Seq[Int]): String =
    lsWeights(periods)
      .map { case (p, r, c, s) =>
        s"($p, $r, ${c}::DOUBLE, ${s}::DOUBLE)" }
      .mkString(",\n    ")

  /** Lomb–Scargle periodogram at integer trial periods over the
    * OBSERVED days only — the spectral estimator for IRREGULARLY
    * sampled series ([[spectralPower]]'s DFT bin needs the zero-filled
    * spine; LS is defined on the raw (tᵢ, yᵢ) sample and is the right
    * tool when gaps mean "not measured", not "zero"). Computed in the
    * τ-free normal-equations form: with y centered (exact identity
    * Σ(y−ȳ)w = Σyw − ȳΣw) and S_c = Σŷcosωt, S_s = Σŷsinωt,
    * CC = Σcos², SS = Σsin², CS = Σcos·sin,
    *
    *   P(ω) = ½ · (S_c²·SS − 2·S_c·S_s·CS + S_s²·CC) / (CC·SS − CS²)
    *
    * — algebraically identical to the classical Lomb (1976) τ-rotated
    * form (τ merely diagonalizes the 2×2 normal matrix), but free of
    * data-dependent trig. pnorm_r normalizes by the sample variance
    * (the Scargle false-alarm scaling); both are null when the day
    * count < 3 or the basis is degenerate.
    *
    * Shape: one (day) hash-agg, broadcast join to the literal basis
    * table on (period, t mod period), one (period) hash-agg of 12-dp
    * DECIMAL term sums — bounded-grid output, no window, no spine. */
  def lombScargle(df: DataFrame, dayCol: String, valueCol: String,
      periods: Seq[Int]): DataFrame = {
    require(periods.nonEmpty && periods.forall(_ >= 2))
    val s = df.sparkSession
    import s.implicits._
    val d0 = df.agg(min(col(dayCol)).as("_d0"))
    val base = df.crossJoin(broadcast(d0))
      .select(datediff(col(dayCol), col("_d0")).as("t"),
        col(valueCol).cast("double").as("y"))
    val wt = broadcast(lsWeights(periods).toDF("period", "r", "c", "sn"))
    val joined = base
      .crossJoin(broadcast(periods.toDF("period")))
      .withColumn("r", col("t") % col("period"))
      .join(wt, Seq("period", "r"))
    val agg = joined.groupBy(col("period"))
      .agg(count(lit(1)).as("n_days"),
        sum(t12(col("y"))).as("_sy"),
        sum(t12(col("y") * col("y"))).as("_sy2"),
        sum(t12(col("c"))).as("_swc"),
        sum(t12(col("sn"))).as("_sws"),
        sum(t12(col("y") * col("c"))).as("_syc"),
        sum(t12(col("y") * col("sn"))).as("_sys"),
        sum(t12(col("c") * col("c"))).as("_scc"),
        sum(t12(col("sn") * col("sn"))).as("_sss"),
        sum(t12(col("c") * col("sn"))).as("_scs"))
    val nD = col("n_days").cast("double")
    def d(c: Column) = c.cast("double")
    val ybar = d(col("_sy")) / nD
    val sc = d(col("_syc")) - ybar * d(col("_swc"))
    val ss = d(col("_sys")) - ybar * d(col("_sws"))
    val det = (d(col("_scc")) * d(col("_sss"))
      - d(col("_scs")) * d(col("_scs")))
    val power = (sc * sc * d(col("_sss"))
      - lit(2.0) * sc * ss * d(col("_scs"))
      + ss * ss * d(col("_scc"))) / det / 2
    val varY = (d(col("_sy2")) - nD * ybar * ybar) / (nD - 1)
    agg.select(col("period"), col("n_days"),
      when(col("n_days") >= 3 && abs(det) > 1e-9,
        round(power, 6)).as("power_r"),
      when(col("n_days") >= 3 && abs(det) > 1e-9 && varY > 0,
        round(power / varY, 6)).as("pnorm_r"))
  }

  /** Taylor's law (Taylor 1961): across replicate cells of the same
    * process, variance scales as a POWER of the mean — log V = a +
    * b·log M with b ≈ 1 for Poisson-like counts and b → 2 for
    * clumped/bursty ones. The fitted exponent b is the classic one-
    * number burstiness diagnostic for count panels (here: cells =
    * (key, ISO week), observations = that cell's daily counts).
    *
    * Means/variances per cell are exact integer-moment rationals; only
    * the ln enters as a float, and the OLS over the ≤|cells| grid uses
    * 12-dp DECIMAL term sums. Cells need ≥2 days, mean > 0, var > 0
    * (ln-defined); returns one row: n_cells, slope_r, intercept_r,
    * r2_r (nulls when < 3 usable cells or degenerate spread). */
  def taylorLaw(events: DataFrame, keyCol: String, tsCol: String)
      : DataFrame = {
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    // week cells keyed by the week's Monday (date_trunc), NOT
    // (weekofyear, calendar year): Dec 29–31 carry ISO week 1 of the
    // NEXT year, so the calendar-year pair would merge them with
    // January's week 1 across a year boundary (round-12 ADVICE).
    val cells = daily
      .groupBy(col(keyCol), date_trunc("week", col("day")).as("_wk"))
      .agg(count(lit(1)).as("_n"), sum(col("x")).as("_s"),
        sum(col("x") * col("x")).as("_s2"))
      .where(col("_n") >= 2)
      .select(
        (col("_s").cast("double") / col("_n").cast("double")).as("_m"),
        ((col("_n") * col("_s2") - col("_s") * col("_s")).cast("double")
          / (col("_n") * (col("_n") - 1)).cast("double")).as("_v"))
      .where(col("_m") > 0 && col("_v") > 0)
      .select(log(col("_m")).as("_lx"), log(col("_v")).as("_ly"))
    val agg = cells.agg(count(lit(1)).as("n_cells"),
      sum(t12(col("_lx"))).as("_sx"), sum(t12(col("_ly"))).as("_sy"),
      sum(t12(col("_lx") * col("_lx"))).as("_sxx"),
      sum(t12(col("_lx") * col("_ly"))).as("_sxy"),
      sum(t12(col("_ly") * col("_ly"))).as("_syy"))
    def d(c: Column) = c.cast("double")
    val nD = col("n_cells").cast("double")
    val sxx = d(col("_sxx")) - d(col("_sx")) * d(col("_sx")) / nD
    val sxy = d(col("_sxy")) - d(col("_sx")) * d(col("_sy")) / nD
    val syy = d(col("_syy")) - d(col("_sy")) * d(col("_sy")) / nD
    val b = sxy / sxx
    agg.select(col("n_cells"),
      when(col("n_cells") >= 3 && sxx > 0, round(b, 6)).as("slope_r"),
      when(col("n_cells") >= 3 && sxx > 0,
        round(d(col("_sy")) / nD - b * d(col("_sx")) / nD, 6))
        .as("intercept_r"),
      when(col("n_cells") >= 3 && sxx > 0 && syy > 0,
        round(sxy * sxy / (sxx * syy), 6)).as("r2_r"))
  }

  /** Allan variance ladder of the daily count series (Allan 1966 —
    * the clock-stability statistic applied to a metric stream): for
    * each averaging window tau, AVAR(tau) = mean squared difference of
    * ADJACENT tau-day block means / 2. Unlike the plain variance it
    * converges for drifting/random-walk series, and the SLOPE of
    * AVAR vs tau names the noise type (white ~ 1/tau, random walk
    * ~ tau, flicker ~ flat) -- the "is this counter white noise or
    * drifting" ladder next to [[taylorLaw]]'s cross-cell power law.
    * Zero-filled calendar spine (the [[Forecast]] convention);
    * complete blocks only. Exact integers: block SUMS s_b subtract
    * exactly and AVAR = sum (s_{b+1}-s_b)^2 / (2(M-1) tau^2) is one
    * double division. Returns one row per tau: tau_days, n_blocks,
    * avar_r. */
  def allanVariance(events: DataFrame, tsCol: String,
      taus: Seq[Int]): DataFrame = {
    require(taus.nonEmpty && taus.forall(_ >= 1))
    val s = events.sparkSession
    import s.implicits._
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val spine = daily.agg(min(col("day")).as("_d0"),
        max(col("day")).as("_d1"))
      .select(col("_d0"),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = spine.join(daily, Seq("day"), "left")
      .select(datediff(col("day"), col("_d0")).as("_t"),
        coalesce(col("x"), lit(0L)).as("_x"))
    val tt = taus.toDF("tau_days")
    val blocks = filled.crossJoin(broadcast(tt))
      .groupBy(col("tau_days"), (col("_t") / col("tau_days"))
        .cast("long").as("_b"))
      .agg(count(lit(1)).as("_cnt"), sum(col("_x")).as("_s"))
      .where(col("_cnt") === col("tau_days"))
    val w = Window.partitionBy(col("tau_days")).orderBy(col("_b"))
    blocks
      .withColumn("_d", col("_s") - lag(col("_s"), 1).over(w))
      .groupBy(col("tau_days"))
      .agg(count(lit(1)).as("n_blocks"),
        coalesce(sum((col("_d") * col("_d")).cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")).as("_num"))
      .select(col("tau_days"), col("n_blocks"),
        round(col("_num").cast("double")
          / (lit(2.0) * (col("n_blocks").cast("double") - lit(1.0))
            * col("tau_days").cast("double")
            * col("tau_days").cast("double")), 6).as("avar_r"))
      .orderBy(col("tau_days"))
  }

  /** Spectral flatness (Wiener entropy) of the GLOBAL daily count
    * series over the literal period basis: geometric / arithmetic
    * mean of the [[spectralPower]] bins at the given periods --
    * flatness ~ 1 = white (no period dominates), ~ 0 = one cycle
    * carries the energy; the peak bin is named alongside. Works on
    * the ops' pinned 6-dp powers, so both engines fold identical
    * inputs; ln/exp ride the engine on equal arguments (the g2
    * precedent). Null flatness when any bin power is 0 (ln
    * undefined; the degenerate all-flat case). Returns one row:
    * n_periods, flatness_r, peak_period, peak_power_r. */
  def spectralFlatness(events: DataFrame, tsCol: String,
      periods: Seq[Int]): DataFrame = {
    val p = spectralPower(events.withColumn("_k", lit(0)), "_k",
      tsCol, periods).localCheckpoint()
    val agg = p.agg(count(lit(1)).as("n_periods"),
      sum(when(col("power_r") > 0, 1L).otherwise(0L)).as("_npos"),
      coalesce(sum(when(col("power_r") > 0,
        t12(log(col("power_r"))))), lit(0).cast("decimal(28,12)"))
        .cast("double").as("_sln"),
      sum(t12(col("power_r"))).cast("double").as("_sp"))
    val peak = p.orderBy(col("power_r").desc, col("period"))
      .limit(1)
      .select(col("period").as("peak_period"),
        col("power_r").as("peak_power_r"))
    val nD = col("n_periods").cast("double")
    broadcast(agg).crossJoin(broadcast(peak))
      .select(col("n_periods"),
        round(when(col("_npos") === col("n_periods"),
          exp(col("_sln") / nD) / (col("_sp") / nD)), 6)
          .as("flatness_r"),
        col("peak_period"), col("peak_power_r"))
  }
}
