package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Round-12 forecasting batch: Brown's double exponential smoothing,
  * Croston's intermittent-demand method, and the Theta method (in its
  * SES-with-drift equivalence) — the classical per-series forecasters a
  * monitoring pipeline runs over its daily grains, plus the seasonal-
  * strength readout of the q327 decomposition.
  *
  * SES recursions are computed with a TRUNCATED geometric kernel
  * (window `kernelW` trailing observations, explicitly normalized):
  * the exact recursion needs (1−α)^t across thousands of days — both
  * an underflow and a cross-engine trajectory hazard — while the
  * truncated kernel drops weight ≤ (1−α)^W (≈ 4.6e-5 at α = 0.3,
  * W = 28; documented bias) and is an ewmaDaily-shaped explode +
  * hash-agg both engines replay exactly. All kernels ride the 12-dp
  * DECIMAL grid.
  */
object Forecast {


  /** One truncated-SES pass over a (day, value) frame: each observed
    * day's value contributes to days day..day+W−1 at weight
    * α(1−α)^o; the per-day sum is normalized by the weights actually
    * present and semi-joined back to observed days (the ewmaDaily
    * shape — map-side explode, one hash-agg, no recursion). */
  private def sesPass(daily: DataFrame, dayCol: String, vCol: String,
      alpha: Double, kernelW: Int): DataFrame = {
    val contrib = daily
      .select(col(dayCol), col(vCol),
        explode(sequence(lit(0), lit(kernelW - 1))).as("_o"))
      .select(date_add(col(dayCol), col("_o")).as(dayCol),
        (col(vCol) * lit(alpha) * pow(lit(1.0 - alpha), col("_o")))
          .as("_wv"),
        (lit(alpha) * pow(lit(1.0 - alpha), col("_o"))).as("_w"))
    contrib.groupBy(col(dayCol))
      .agg((sum(t12(col("_wv"))).cast("double")
        / sum(t12(col("_w"))).cast("double")).as("_ses"))
      .join(daily.select(col(dayCol)), Seq(dayCol), "left_semi")
  }

  /** Brown's double exponential smoothing (truncated kernel) + h-step
    * forecasts from the LAST day: S1 = SES(y), S2 = SES(S1),
    * a = 2S1 − S2, b = α/(1−α)·(S1 − S2), ŷ_{t+h} = a + h·b.
    * Returns `horizon` rows: (h, day [last], s1_r, s2_r, a_r, b_r,
    * forecast_r). Shape: two ewmaDaily-shaped passes on the day grain,
    * then the 1-row last-day frame fans to the horizon grid. */
  def brownDouble(daily: DataFrame, dayCol: String, vCol: String,
      alpha: Double, kernelW: Int, horizon: Int): DataFrame = {
    require(alpha > 0 && alpha < 1 && kernelW >= 2 && horizon >= 1)
    val s1 = sesPass(daily.select(col(dayCol), col(vCol).as("_y")),
      dayCol, "_y", alpha, kernelW)
    val s2 = sesPass(s1.select(col(dayCol), col("_ses").as("_s1")),
      dayCol, "_s1", alpha, kernelW)
      .withColumnRenamed("_ses", "_s2")
    val lastDay = daily.agg(max(col(dayCol)).as(dayCol))
    // pin the two levels to the 12-dp grid BEFORE combining: a + h·b
    // lands on round-6 boundaries, and an upstream ulp would flip them
    val last = s1.join(s2, Seq(dayCol))
      .join(broadcast(lastDay), Seq(dayCol), "left_semi")
      .select(col(dayCol), round(col("_ses"), 12).as("_s1"),
        round(col("_s2"), 12).as("_s2"))
      .select(col(dayCol), col("_s1"), col("_s2"),
        (lit(2.0) * col("_s1") - col("_s2")).as("_a"),
        (lit(alpha / (1.0 - alpha)) * (col("_s1") - col("_s2")))
          .as("_b"))
    last.crossJoin(
        broadcast(daily.sparkSession.range(1, horizon + 1)
          .toDF("h")))
      .select(col("h"), col(dayCol).as("day"),
        round(col("_s1"), 6).as("s1_r"),
        round(col("_s2"), 6).as("s2_r"),
        round(col("_a"), 6).as("a_r"), round(col("_b"), 6).as("b_r"),
        round(col("_a") + col("h").cast("double") * col("_b"), 6)
          .as("forecast_r"))
      .orderBy("h")
  }

  /** Croston's method for INTERMITTENT demand (Croston 1972): smooth
    * the nonzero demand sizes and the inter-demand intervals
    * separately (truncated index-kernels over the ≤K demand events),
    * forecast rate = z/p — the estimator plain SES biases badly on
    * sparse series. Demand events are indexed by a day-grain window
    * (the calendar-bounded class). Returns one row: (n_demands, z_r,
    * p_r [mean interval], rate_r [= z/p per day]). */
  def croston(daily: DataFrame, dayCol: String, vCol: String,
      alpha: Double, kernelW: Int): DataFrame = {
    require(alpha > 0 && alpha < 1 && kernelW >= 2)
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col(dayCol))
    val dem = daily.where(col(vCol) > 0)
      .withColumn("_k", row_number().over(w))
      .withColumn("_gap", datediff(col(dayCol),
        lag(col(dayCol), 1).over(w)).cast("double"))
      .localCheckpoint() // ≤K rows; consumed by both kernels + count
    val cnt = dem.agg(count(lit(1)).as("n_demands"),
      max(col("_k")).as("_kmax"))
    def kernel(src: DataFrame, valCol: Column): DataFrame = src
      .crossJoin(broadcast(cnt.select(col("_kmax"))))
      .where(col("_k") > col("_kmax") - kernelW && valCol.isNotNull)
      .select((lit(alpha) * pow(lit(1.0 - alpha),
          (col("_kmax") - col("_k")).cast("double"))).as("_w"),
        valCol.as("_v"))
      .agg((sum(t12(col("_v") * col("_w"))).cast("double")
        / sum(t12(col("_w"))).cast("double")).as("_z"))
    val z = kernel(dem, col(vCol).cast("double"))
    val p = kernel(dem, col("_gap"))
      .withColumnRenamed("_z", "_p")
    cnt.select(col("n_demands"))
      .crossJoin(broadcast(z)).crossJoin(broadcast(p))
      .select(col("n_demands"), round(col("_z"), 6).as("z_r"),
        round(col("_p"), 6).as("p_r"),
        round(col("_z") / col("_p"), 6).as("rate_r"))
  }

  /** The Theta method in its SES-with-drift equivalence (Hyndman &
    * Billah 2003: Theta(0,2) forecasts = SES level + h·b/2 with b the
    * OLS slope of the series): the M3-winning forecaster as one
    * truncated-SES pass + exact integer OLS sums. Returns `horizon`
    * rows: (h, day [last], ses_r, slope_r, forecast_r). */
  def thetaForecast(daily: DataFrame, dayCol: String, vCol: String,
      alpha: Double, kernelW: Int, horizon: Int): DataFrame = {
    require(alpha > 0 && alpha < 1 && kernelW >= 2 && horizon >= 1)
    val d0 = daily.agg(min(col(dayCol)).as("_d0"))
    val g = daily.crossJoin(broadcast(d0))
      .select(col(dayCol),
        datediff(col(dayCol), col("_d0")).cast("double").as("_x"),
        col(vCol).cast("double").as("_y"))
    val ols = g.agg(count(lit(1)).cast("double").as("_n"),
        sum(t12(col("_x"))).cast("double").as("_sx"),
        sum(t12(col("_y"))).cast("double").as("_sy"),
        sum(t12(col("_x") * col("_x"))).cast("double").as("_sxx"),
        sum(t12(col("_x") * col("_y"))).cast("double").as("_sxy"))
      .select(round((col("_n") * col("_sxy") - col("_sx") * col("_sy"))
        / (col("_n") * col("_sxx") - col("_sx") * col("_sx")), 12)
        .as("_b"))
    val ses = sesPass(g.select(col(dayCol), col("_y")), dayCol, "_y",
      alpha, kernelW)
    val lastDay = daily.agg(max(col(dayCol)).as(dayCol))
    val last = ses.join(broadcast(lastDay), Seq(dayCol), "left_semi")
    last.crossJoin(broadcast(ols))
      .crossJoin(broadcast(
        daily.sparkSession.range(1, horizon + 1).toDF("h")))
      .withColumn("_ses", round(col("_ses"), 12))
      .select(col("h"), col(dayCol).as("day"),
        round(col("_ses"), 6).as("ses_r"),
        round(col("_b"), 6).as("slope_r"),
        round(col("_ses")
          + col("h").cast("double") * col("_b") / 2.0, 6)
          .as("forecast_r"))
      .orderBy("h")
  }

  /** Seasonal / trend strength of the q327 classical decomposition
    * (Wang, Smith & Hyndman 2006; the STL-features form): on the gap-
    * filled day spine, trend = centered 7-day MA, detrended = y − T,
    * seasonal = DOW means of detrended (centered), remainder =
    * detrended − seasonal (all divided by `scale` — cents² on years of
    * revenue overflows the 12-dp DECIMAL grid; the strengths are
    * scale-invariant);
    *   F_s = max(0, 1 − Var(R)/Var(S+R)),
    * plus the trend strength F_t = max(0, 1 − Var(R)/Var(T+R)). All
    * variances are population variances over the interior spine (full
    * 7-day MA defined), on 12-dp-gridded sums. Returns one row:
    * (n_days, var_detrended_r, var_remainder_r, f_seasonal_r,
    * f_trend_r). */
  def seasonalStrength(daily: DataFrame, dayCol: String,
      yCol: String, scale: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
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
        (col("_s7").cast("double") / 7 / scale).as("_t"),
        ((col("_y").cast("double")
          - col("_s7").cast("double") / 7) / scale).as("_det"))
      .localCheckpoint() // interior spine; 3 consumers below
    val seas = det
      .groupBy((dayofweek(col(dayCol)) - 1).cast("long").as("_dow"))
      .agg((sum(t12(col("_det"))).cast("double") / count(lit(1)))
        .as("_sraw"))
    val m = seas.agg((sum(t12(col("_sraw"))).cast("double")
      / count(lit(1))).as("_sm"))
    val parts = det
      .withColumn("_dow", (dayofweek(col(dayCol)) - 1).cast("long"))
      .join(broadcast(seas.crossJoin(m)
        .select(col("_dow"), (col("_sraw") - col("_sm")).as("_s"))),
        Seq("_dow"))
      .select(col("_det"), col("_s"), col("_t"),
        (col("_det") - col("_s")).as("_r"))
    def popVar(c: Column, n: Column, s: Column, s2: Column): Column =
      s2 / n - (s / n) * (s / n)
    val agg = parts.agg(count(lit(1)).cast("double").as("_n"),
      sum(t12(col("_det"))).cast("double").as("_sd"),
      sum(t12(col("_det") * col("_det"))).cast("double").as("_sdd"),
      sum(t12(col("_r"))).cast("double").as("_sr"),
      sum(t12(col("_r") * col("_r"))).cast("double").as("_srr"),
      sum(t12(col("_t") + col("_r"))).cast("double").as("_str"),
      sum(t12((col("_t") + col("_r")) * (col("_t") + col("_r"))))
        .cast("double").as("_strr"))
    val vDet = popVar(col("_det"), col("_n"), col("_sd"), col("_sdd"))
    val vR = popVar(col("_r"), col("_n"), col("_sr"), col("_srr"))
    val vTR = popVar(lit(0), col("_n"), col("_str"), col("_strr"))
    agg.select(col("_n").cast("long").as("n_days"),
      round(vDet, 6).as("var_detrended_r"),
      round(vR, 6).as("var_remainder_r"),
      round(greatest(lit(0.0), lit(1.0) - vR / nullif(vDet, lit(0.0))),
        6).as("f_seasonal_r"),
      round(greatest(lit(0.0), lit(1.0) - vR / nullif(vTR, lit(0.0))),
        6).as("f_trend_r"))
  }

  /** M-competition forecast scorecard for the seasonal-naïve forecast
    * (lag `lagDays`) against the naïve-1 scale on the zero-filled
    * daily spine:
    *   MASE  = MAE(seasonal-naïve) / MAE(naïve-1)
    *   RMSSE = √(MSE(seasonal-naïve) / MSE(naïve-1))
    *   sMAPE = mean 2|x−p| / (|x|+|p|) over days with x+p > 0
    * — the scale-free trio q247's MAE/bias/MAPE can't provide (MAPE
    * explodes on near-zero days; MASE/RMSSE normalize by the in-
    * sample naïve difficulty instead). Integer error sums are exact;
    * the sMAPE rationals are 12-dp terms. Returns per key: n_days,
    * mase_r, smape_r, rmsse_r (scale ratios null when the naïve-1
    * denominator is 0 — a constant series).
    *
    * Shape: the [[TimeSeries.seasonalNaiveBacktest]] spine with TWO
    * lag self-joins (lag-7 forecast, lag-1 scale) — joins on day
    * arithmetic, no window. */
  def forecastScorecard(events: DataFrame, keyCol: String,
      tsCol: String, lagDays: Int): DataFrame = {
    require(lagDays >= 2)
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val spine = daily.groupBy(col(keyCol))
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col(keyCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = spine.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val f7 = filled.select(col(keyCol),
      date_add(col("day"), lagDays).as("day"), col("x").as("_p"))
    val f1 = filled.select(col(keyCol),
      date_add(col("day"), 1).as("day"), col("x").as("_p1"))
    // evaluation span: days where BOTH lags exist, so MASE's
    // numerator and denominator cover the same days
    val j = filled.join(f7, Seq(keyCol, "day"))
      .join(f1, Seq(keyCol, "day"))
    j.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(abs(col("x") - col("_p"))).as("_ae7"),
        sum(abs(col("x") - col("_p1"))).as("_ae1"),
        sum((col("x") - col("_p")) * (col("x") - col("_p")))
          .as("_se7"),
        sum((col("x") - col("_p1")) * (col("x") - col("_p1")))
          .as("_se1"),
        sum(when(col("x") + col("_p") > 0, 1L).otherwise(0L))
          .as("_npos"),
        sum(when(col("x") + col("_p") > 0,
          t12(lit(2.0) * abs(col("x") - col("_p")).cast("double")
            / (col("x") + col("_p")).cast("double")))
          .otherwise(lit(0).cast("decimal(28,12)"))).as("_sm"))
      .select(col(keyCol), col("n_days"),
        round(when(col("_ae1") > 0,
          col("_ae7").cast("double") / col("_ae1").cast("double")), 6)
          .as("mase_r"),
        round(when(col("_npos") > 0,
          col("_sm").cast("double") / col("_npos").cast("double")), 6)
          .as("smape_r"),
        round(when(col("_se1") > 0,
          sqrt(col("_se7").cast("double")
            / col("_se1").cast("double"))), 6).as("rmsse_r"))
  }

  /** Diebold–Mariano forecaster ADJUDICATION between the seasonal-naïve
    * (lag `lagDays`) and naïve-1 forecasts of daily counts: per key,
    * the loss differential d_t = |x−p_lag| − |x−p_1| and its
    * t-statistic DM = d̄ / √(s²_d / n). q496's scorecard SCORES one
    * forecaster; this tests whether the two differ at all — the
    * question a model-selection gate actually asks. The simple iid-
    * variance form (no HAC kernel), documented: at the daily grain the
    * one-step loss differentials are near-uncorrelated, and the
    * cross-engine contract wants exact moments, not kernel weights.
    * d_t, Σd, Σd² are EXACT integers (absolute count errors); only the
    * final ratio is a double. DM is null on a zero-variance
    * differential (identical forecasters). Same evaluation span as
    * [[forecastScorecard]]: the zero-filled spine days where both lags
    * exist. Returns per key: n_days, mean_d_r, dm_r. */
  def dieboldMariano(events: DataFrame, keyCol: String, tsCol: String,
      lagDays: Int): DataFrame = {
    require(lagDays >= 2)
    val daily = events
      .groupBy(col(keyCol), to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val spine = daily.groupBy(col(keyCol))
      .agg(min(col("day")).as("_d0"), max(col("day")).as("_d1"))
      .select(col(keyCol),
        explode(sequence(col("_d0"), col("_d1"))).as("day"))
    val filled = spine.join(daily, Seq(keyCol, "day"), "left")
      .select(col(keyCol), col("day"),
        coalesce(col("x"), lit(0L)).as("x"))
    val fL = filled.select(col(keyCol),
      date_add(col("day"), lagDays).as("day"), col("x").as("_p"))
    val f1 = filled.select(col(keyCol),
      date_add(col("day"), 1).as("day"), col("x").as("_p1"))
    val d = filled.join(fL, Seq(keyCol, "day"))
      .join(f1, Seq(keyCol, "day"))
      .select(col(keyCol),
        (abs(col("x") - col("_p")) - abs(col("x") - col("_p1")))
          .as("_d"))
    d.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_days"),
        sum(col("_d")).as("_sd"),
        sum(col("_d") * col("_d")).as("_sdd"))
      .select(col(keyCol), col("n_days"),
        round(col("_sd").cast("double") / col("n_days").cast("double"),
          6).as("mean_d_r"),
        round({
          val nD = col("n_days").cast("double")
          val varD = ((col("_sdd").cast("double")
            - col("_sd").cast("double") * col("_sd").cast("double") / nD)
            / (nD - 1))
          when(col("n_days") > 1 && varD > 0,
            (col("_sd").cast("double") / nD) / sqrt(varD / nD))
        }, 6).as("dm_r"))
  }
}
