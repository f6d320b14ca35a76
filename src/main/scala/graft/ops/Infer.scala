package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Classical statistical inference over warehouse-scale aggregates:
  * Welch's unequal-variance t-test, normal-tail p-values, and
  * Benjamini–Hochberg false-discovery-rate control. The reference
  * pipeline surfaces raw per-video metrics and leaves "is this
  * difference real" to its SQL consumers
  * (/root/reference/fetch_youtube_data.py:143-200); these ops make the
  * engine answer it directly — the metric-review / experiment-readout
  * layer every analytics warehouse grows.
  *
  * Scale posture (100 TB): every test here consumes ONE hash-aggregate
  * of exact integer/decimal moments (n, Σv, Σv²) — the corpus is
  * touched once, the statistics are computed on the |groups|-row
  * aggregate. BH-FDR runs on the HYPOTHESES table (one row per tested
  * group — thousands at most, never corpus-sized), so its global
  * rank window is a deliberate single-task step over a tiny input.
  *
  * Cross-engine determinism: moments are exact (integer-valued inputs
  * summed as DECIMAL), every downstream formula is ONE shared
  * parenthesization evaluated in doubles on both engines, and outputs
  * are rounded to 6 dp (the [[Profile.poissonBootstrap]] /
  * corr-matrix posture — ~1e-15 engine drift vs a 1e-6 grid).
  */
object Infer {

  /** Abramowitz & Stegun 26.2.17 coefficients for the normal CDF tail
    * polynomial (|error| < 7.5e-8 — far inside the 6-dp output grid). */
  private[graft] val AS2617: Seq[Double] =
    Seq(0.319381530, -0.356563782, 1.781477937,
      -1.821255978, 1.330274429)
  private[graft] val AS2617T = 0.2316419
  private[graft] val InvSqrt2Pi = 0.3989422804014327

  /** Standard normal CDF Φ(z) as a Column — A&S 26.2.17, Horner form.
    * The SAME Horner chain is emitted by [[normalCdfSql]] so both
    * engines evaluate an identical double expression tree. */
  def normalCdf(z: Column): Column = {
    val az = abs(z)
    val t = lit(1.0) / (lit(1.0) + lit(AS2617T) * az)
    val poly = AS2617.reverse.foldLeft(lit(0.0): Column)(
      (acc, b) => acc * t + lit(b)) * t
    val upper = lit(InvSqrt2Pi) * exp(-az * az / lit(2.0)) * poly
    when(z >= 0, lit(1.0) - upper).otherwise(upper)
  }

  /** The identical Φ(z) expression for the DuckDB oracle; `z` is a SQL
    * expression (pre-bind it in a CTE — it is spliced several times). */
  def normalCdfSql(z: String): String = {
    val t = s"(1.0 / (1.0 + $AS2617T * abs($z)))"
    val horner = AS2617.reverse.foldLeft("0.0")(
      (acc, b) => s"(($acc) * $t + $b)")
    val upper = s"($InvSqrt2Pi * exp(-abs($z) * abs($z) / 2.0) " +
      s"* (($horner) * $t))"
    s"(CASE WHEN $z >= 0 THEN 1.0 - $upper ELSE $upper END)"
  }

  /** Welch's unequal-variance t-test per group: compare the mean of an
    * INTEGER-VALUED metric (scale currency to cents upstream) between
    * arm A (`armB` false) and arm B (true) without assuming equal
    * variances — the default two-sample mean test when group sizes and
    * spreads differ (Welch, Biometrika 1947). Emits per group: counts,
    * 6-dp means, Cohen's d (pooled-SD effect size), the t statistic,
    * the Welch–Satterthwaite degrees of freedom, and a two-sided
    * p-value from the NORMAL approximation to the t distribution —
    * exact-t needs an incomplete beta; at warehouse n (df in the
    * thousands) the normal tail is indistinguishable and keeps the
    * formula engine-portable ([[normalCdf]]).
    *
    * One hash-agg over the corpus to (n, Σv, Σv²) per (group, arm) —
    * Σv² summed as DECIMAL(38,0) so 64-bit overflow cannot occur at
    * any scale; all statistics come off the tiny aggregate. Degenerate
    * guards: t/df/p null unless both arms have n ≥ 2 and positive
    * variance; means/d null for an empty/single-row arm. */
  def welchTTest(units: DataFrame, groupCol: String, armB: Column,
      valueInt: Column): DataFrame = {
    val v = valueInt.cast("decimal(38,0)")
    val agg = units.groupBy(col(groupCol)).agg(
      sum(when(!armB, 1L).otherwise(0L)).as("n_a"),
      sum(when(!armB, v).otherwise(lit(null))).as("_sa"),
      sum(when(!armB, v * v).otherwise(lit(null))).as("_ssa"),
      sum(when(armB, 1L).otherwise(0L)).as("n_b"),
      sum(when(armB, v).otherwise(lit(null))).as("_sb"),
      sum(when(armB, v * v).otherwise(lit(null))).as("_ssb"))
    // doubles from exact decimal moments; ONE parenthesization, shared
    // with the oracle SQL builder below. Divisors go through nullif so
    // degenerate arms yield null (ANSI Spark would otherwise throw on
    // the eagerly-evaluated common subexpression even under when(ok));
    // null never survives to output — every consumer is gated on `ok`.
    def nz(c: Column) = nullif(c, lit(0))
    def m(s: String, n: String) = col(s).cast("double") / nz(col(n))
    val ma = m("_sa", "n_a"); val mb = m("_sb", "n_b")
    def va(s: String, ss: String, n: String) =
      (col(ss).cast("double")
        - col(s).cast("double") * col(s).cast("double") / nz(col(n))) /
        nz(col(n) - lit(1))
    val vA = va("_sa", "_ssa", "n_a"); val vB = va("_sb", "_ssb", "n_b")
    val se2 = vA / nz(col("n_a")) + vB / nz(col("n_b"))
    val ok = col("n_a") >= 2 && col("n_b") >= 2 && se2 > 0
    // nullif: Spark 4 ANSI throws on double/0 even inside a when(ok)
    // branch (common-subexpression elimination evaluates eagerly), so a
    // both-arms-constant input (se2 = 0) must divide by null, not 0
    val t = (mb - ma) / sqrt(nullif(se2, lit(0.0)))
    val dfw = se2 * se2 / nullif(
      vA / nz(col("n_a")) * (vA / nz(col("n_a"))) / nz(col("n_a") - lit(1))
        + vB / nz(col("n_b")) * (vB / nz(col("n_b")))
          / nz(col("n_b") - lit(1)), lit(0.0))
    val pooled = ((col("n_a") - lit(1)) * vA + (col("n_b") - lit(1)) * vB) /
      nz(col("n_a") + col("n_b") - lit(2))
    agg.select(col(groupCol), col("n_a"), col("n_b"),
      round(when(col("n_a") > 0, ma), 6).as("mean_a_r"),
      round(when(col("n_b") > 0, mb), 6).as("mean_b_r"),
      round(when(ok && pooled > 0, (mb - ma) / sqrt(nullif(pooled,
        lit(0.0)))), 6).as("cohen_d_r"),
      round(when(ok, t), 6).as("t_r"),
      round(when(ok, dfw), 6).as("df_r"),
      round(when(ok, lit(2.0) * (lit(1.0) - normalCdf(abs(t)))), 6)
        .as("p_r"))
  }

  /** Murphy decomposition of the Brier score (Murphy 1973):
    * BS = REL − RES + UNC over `bins` forecast-probability bins, where
    * reliability Σn_b(f̄_b−ō_b)²/N is the calibration error, resolution
    * Σn_b(ō_b−ō)²/N the forecast's discrimination, and uncertainty
    * ō(1−ō) the base-rate floor — the verification readout that says
    * WHY a probability forecast's Brier score is what it is (badly
    * calibrated vs just undiscriminating), one level deeper than a
    * reliability diagram (q187). The direct Brier Σ(p−y)²/N rides
    * along; it exceeds REL−RES+UNC by the within-bin forecast
    * variance, which binning absorbs.
    *
    * Shape: one hash-agg to the ≤`bins` bin grain (counts, positives,
    * 9-dp DECIMAL forecast sums, 9-dp DECIMAL (p−y)² sums), then a
    * single rollup whose squared-gap terms are 12-dp DECIMAL sums —
    * everything after the first agg is bins-sized. Bin assignment
    * floors p·bins (identical doubles cross-engine), clamped to the
    * top bin. */
  def brierDecomposition(df: DataFrame, probCol: String, label: Column,
      bins: Int): DataFrame = {
    require(bins >= 2)
    val binned = df.select(col(probCol).as("_p"),
        when(label, 1L).otherwise(0L).as("_y"))
      .withColumn("_bin", least(floor(col("_p") * bins),
        lit(bins - 1L)).cast("int"))
    val perBin = binned.groupBy(col("_bin")).agg(
      count(lit(1)).as("_nb"), sum(col("_y")).as("_kb"),
      sum(round(col("_p"), 9).cast("decimal(28,9)")).as("_sp"),
      sum(round((col("_p") - col("_y")) * (col("_p") - col("_y")), 9)
        .cast("decimal(28,9)")).as("_sq"))
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val withTot = perBin
      .withColumn("_n", sum(col("_nb")).over(wAll))
      .withColumn("_k", sum(col("_kb")).over(wAll))
    val fb = col("_sp").cast("double") / col("_nb")
    val ob = col("_kb").cast("double") / col("_nb")
    val obar = col("_k").cast("double") / col("_n")
    withTot.groupBy(col("_n").as("n"), col("_k").as("k"))
      .agg(count(lit(1)).as("n_bins"),
        sum(t12(col("_nb") * ((fb - ob) * (fb - ob)))).as("_rel"),
        sum(t12(col("_nb") * ((ob - obar) * (ob - obar)))).as("_res"),
        sum(col("_sq")).as("_br"))
      .select(col("n"), col("n_bins"),
        round(col("k").cast("double") / col("n"), 6).as("base_rate_r"),
        round(col("_br").cast("double") / col("n"), 6).as("brier_r"),
        round(col("_rel").cast("double") / col("n"), 6).as("rel_r"),
        round(col("_res").cast("double") / col("n"), 6).as("res_r"),
        round(col("k").cast("double") / col("n") *
          (lit(1.0) - col("k").cast("double") / col("n")), 6)
          .as("unc_r"))
  }

  /** Sequential probability ratio test (Wald 1945) over a daily
    * conversion stream: per day the binomial log-likelihood-ratio
    * increment k·ln(p1/p0) + (n−k)·ln((1−p1)/(1−p0)) and its running
    * total, plus the Wald decision against the ln B / ln A boundaries
    * (B = (1−β)/α, A = β/(1−α) at the given error rates) — the
    * "stop the experiment as soon as the evidence is in" monitor that
    * fixed-horizon tests ([[welchTTest]], two-proportion z) cannot
    * give. `decision` reports the state AT each day (accept_h1 /
    * accept_h0 / continue); the first non-continue day is the
    * sequential stopping point.
    *
    * Determinism: daily (n, k) are exact integers from one hash-agg;
    * the two ln() coefficients are Scala-computed double literals
    * shared verbatim with the oracle SQL, so every increment is the
    * identical double; the running sum accumulates in day order on
    * both engines. The day-grain table is calendar-bounded — the
    * cumulative window is over dozens of rows, not the corpus. */
  def sprtDaily(events: DataFrame, tsCol: String, success: Column,
      p0: Double, p1: Double, alpha: Double,
      beta: Double): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0)
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1)
    val cPos = math.log(p1 / p0)
    val cNeg = math.log((1 - p1) / (1 - p0))
    val upper = math.log((1 - beta) / alpha)
    val lower = math.log(beta / (1 - alpha))
    val daily = events
      .groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(when(success, 1L).otherwise(0L)).as("k"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val llr = col("k") * lit(cPos) + (col("n") - col("k")) * lit(cNeg)
    daily
      .withColumn("_cum", sum(llr).over(wCum))
      .select(col("day"), col("n"), col("k"),
        round(llr, 6).as("llr_r"),
        round(col("_cum"), 6).as("cum_llr_r"),
        when(col("_cum") >= upper, lit("accept_h1"))
          .when(col("_cum") <= lower, lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** Empirical-Bayes (beta-binomial) shrinkage of per-segment rates:
    * fit Beta(α, β) to the observed segment rates by method of
    * moments, then report each segment's posterior-mean rate
    * (k + α)/(n + α + β) — small segments shrink hard toward the
    * global mean, big ones barely move, and ranking by the shrunken
    * rate stops tiny-n segments from topping every leaderboard
    * (Robbins 1956; the baseball-averages classic).
    *
    * Moment fit: m and v are the UNWEIGHTED mean/variance of the
    * segment rates, accumulated as 12-dp DECIMAL sums of rounded
    * p and p² (order-independent — the q226 posture); α, β and each
    * shrunken rate are one shared double parenthesization. Degenerate
    * fits (v = 0, or the MoM precision m(1−m)/v − 1 ≤ 0) yield null
    * shrunken rates with the raw rate still reported. */
  def ebShrinkage(units: DataFrame, segCol: String,
      success: Column): DataFrame = {
    val seg = units.groupBy(col(segCol)).agg(
      count(lit(1)).as("n"),
      sum(when(success, 1L).otherwise(0L)).as("k"))
    val p = col("k").cast("double") / col("n")
    val mom = seg.agg(
      count(lit(1)).as("_m0"),
      sum(t12(p)).as("_sp"),
      sum(t12(p * p)).as("_spp"))
    val m = col("_sp").cast("double") / col("_m0")
    val v = col("_spp").cast("double") / col("_m0") - m * m
    val prec = m * (lit(1.0) - m) / nullif(v, lit(0.0)) - lit(1.0)
    val ok = col("_m0") >= 2 && v > 0 && prec > 0
    val alpha = m * prec
    val beta = (lit(1.0) - m) * prec
    seg.crossJoin(broadcast(mom))
      .select(col(segCol), col("n"), col("k"),
        round(p, 6).as("rate_r"),
        round(when(ok, alpha), 6).as("alpha_r"),
        round(when(ok, beta), 6).as("beta_r"),
        round(when(ok, (col("k") + alpha) /
          (col("n") + alpha + beta)), 6).as("shrunk_r"))
  }

  /** Wilson score interval (JASA 1927) for a per-group proportion —
    * the binomial CI that stays inside [0, 1] and behaves at small n
    * and extreme rates where the Wald interval collapses; the standard
    * bound for ranking "best conversion" segments without small-sample
    * lying. `z` defaults to the two-sided 95% normal quantile.
    *
    * One hash-agg to (n, k) per group; the interval algebra is one
    * shared double parenthesization over those exact integers —
    * degenerate groups (n = 0) yield null bounds. */
  def wilsonInterval(units: DataFrame, groupCol: String,
      success: Column, z: Double = 1.959964): DataFrame = {
    val agg = units.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(when(success, 1L).otherwise(0L)).as("k"))
    // n ≥ 1 by construction (groups only exist from rows); the nullif
    // keeps any future degenerate aggregation ANSI-safe
    val n = nullif(col("n").cast("double"), lit(0.0))
    val p = col("k").cast("double") / n
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / n
    val center = (p + z2 / (lit(2.0) * n)) / denom
    val half = lit(z) * sqrt(p * (lit(1.0) - p) / n
      + z2 / (lit(4.0) * n * n)) / denom
    agg.select(col(groupCol), col("n"), col("k"),
      round(when(col("n") > 0, p), 6).as("rate_r"),
      round(when(col("n") > 0, center - half), 6).as("lo_r"),
      round(when(col("n") > 0, center + half), 6).as("hi_r"))
  }

  /** Benjamini–Hochberg step-up FDR control (JRSS-B 1995) over a
    * HYPOTHESES table: rank p-values ascending, find the largest k with
    * p_(k) ≤ k·α/m, and mark ranks ≤ k as discoveries — the standard
    * multiplicity correction when one screen tests thousands of
    * segments/terms/features at once.
    *
    * Input is one row per hypothesis (already aggregated — never
    * corpus-sized), so the unpartitioned rank window is a deliberate
    * single-task pass over a tiny table; `idCol` breaks p ties for a
    * total order. Adds: `bh_rank`, `bh_thresh_r` (k·α/m, 6 dp),
    * `discovery` (boolean; all-false when no rank passes). */
  /** Storey's π₀ estimate (Storey 2002): the fraction of TRUE NULLS
    * among m hypotheses, π̂₀ = min(1, #{p > λ} / ((1−λ)·m)) — the
    * number that turns BH-FDR (q232) into the less-conservative
    * adaptive procedure. One agg over the |hypotheses| frame. Returns
    * one row: (m, n_above_lambda, pi0_r). */
  def storeyPi0(hyp: DataFrame, pCol: String,
      lambda: Double): DataFrame = {
    require(lambda > 0 && lambda < 1)
    hyp.agg(count(lit(1)).as("m"),
        sum(when(col(pCol) > lambda, 1L).otherwise(0L))
          .as("n_above_lambda"))
      .select(col("m"), col("n_above_lambda"),
        round(least(lit(1.0), col("n_above_lambda").cast("double")
          / (lit(1.0 - lambda) * col("m").cast("double"))), 6)
          .as("pi0_r"))
  }

  def bhFdr(hyp: DataFrame, pCol: String, idCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = hyp
      .withColumn("bh_rank",
        row_number().over(Window.orderBy(col(pCol), col(idCol))))
      .withColumn("_m", count(lit(1)).over(wAll))
    val thresh = col("bh_rank") * lit(alpha) / col("_m")
    ranked
      .withColumn("_pass", when(col(pCol) <= thresh, col("bh_rank")))
      .withColumn("_kstar", max(col("_pass")).over(wAll))
      .select(hyp.columns.toIndexedSeq.map(col) ++ Seq(col("bh_rank"),
        round(thresh, 6).as("bh_thresh_r"),
        coalesce(col("bh_rank") <= col("_kstar"), lit(false))
          .as("discovery")): _*)
  }

  /** One-way ANOVA per group: does the mean of an INTEGER-VALUED
    * measure differ across cells? Decomposes SST = SSB + SSW from the
    * cell-grain sufficient statistics (n_c, Σx, Σx² — Σx² as
    * DECIMAL(38,0)), reports effect size η² = SSB/SST and
    * F = (SSB/(k−1))/(SSW/(n−k)). The one float sum over cells
    * (Σ_c S_c²/n_c) takes the house order-independent form: each term
    * 12-dp-rounded, summed as DECIMAL — and SSW = ΣΣx² − that sum
    * needs no second pass. Degenerate groups (SST ≤ 0, k ≤ 1, n ≤ k,
    * SSW ≤ 0) yield nulls.
    *
    * Two hash-aggs (unit → cell grain, cell → group grain); nothing
    * wider than the cell table ever aggregates in float. */
  def oneWayAnova(units: DataFrame, groupCol: String, cellCol: String,
      valueCol: String): DataFrame = {
    val xd = col(valueCol).cast("decimal(38,0)")
    val cell = units.groupBy(col(groupCol), col(cellCol)).agg(
      count(lit(1)).as("_nc"), sum(col(valueCol)).as("_sc"),
      sum(xd * xd).as("_ssc"))
    val g = cell.groupBy(col(groupCol)).agg(
      sum(col("_nc")).as("n"), count(lit(1)).as("k"),
      sum(col("_sc")).as("_s"), sum(col("_ssc")).as("_ss"),
      sum(t12(col("_sc").cast("double") * col("_sc").cast("double")
        / col("_nc").cast("double")))
        .as("_t12"))
    val nD = col("n").cast("double")
    val sD = col("_s").cast("double")
    val ssD = col("_ss").cast("double")
    val t12D = col("_t12").cast("double")
    val sst = ssD - sD * sD / nD
    val ssb = t12D - sD * sD / nD
    val ssw = ssD - t12D
    g.select(col(groupCol), col("n"), col("k"),
      round(when(sst > 0, ssb / nullif(sst, lit(0.0))), 6).as("eta2_r"),
      round(when(col("k") > 1 && col("n") > col("k") && ssw > 0,
        (ssb / (col("k") - 1).cast("double"))
          / nullif(ssw / (col("n") - col("k")).cast("double"),
            lit(0.0))), 6).as("f_r"))
  }

  /** Bartlett's variance-homogeneity test per group — the PARAMETRIC
    * sibling of Brown–Forsythe (q296): χ² = [(N−k)·ln(S_p²) −
    * Σ(nᵢ−1)·ln(Sᵢ²)] / C with C = 1 + (Σ1/(nᵢ−1) − 1/(N−k))/(3(k−1)).
    * More powerful under normality, fragile otherwise — publishing
    * both (q296/q320) is the honest pairing. Cells with nᵢ ≤ 1 are
    * excluded (their variance is undefined); any zero cell variance →
    * null (ln undefined). Cell moments exact; the three cross-cell
    * float sums (ln terms, 1/(nᵢ−1), s²/n) are 12-dp DECIMAL. */
  def bartlett(units: DataFrame, groupCol: String, cellCol: String,
      valueCol: String): DataFrame = {
    val xd = col(valueCol).cast("decimal(38,0)")
    val cell = units.groupBy(col(groupCol), col(cellCol)).agg(
      count(lit(1)).as("_nc"), sum(col(valueCol)).as("_sc"),
      sum(xd * xd).as("_ssc"))
      .where(col("_nc") > 1)
    val ncD = col("_nc").cast("double")
    val scD = col("_sc").cast("double")
    val sscD = col("_ssc").cast("double")
    val s2 = (sscD - scD * scD / ncD) / (ncD - 1)
    val g = cell.groupBy(col(groupCol)).agg(
      sum(col("_nc")).as("n"), count(lit(1)).as("k"),
      sum(col("_ssc")).as("_ss"),
      sum(t12(scD * scD / ncD))
        .as("_t12"),
      // guard the ln: a zero-variance cell must yield a NULL term in
      // BOTH engines (Spark ln(0)=null is sum-skipped; DuckDB's −inf
      // would fail the DECIMAL cast) — the _mins2 output guard then
      // nullifies the statistic identically
      sum(when(s2 > 0, round((ncD - 1) * log(s2), 12))
        .cast("decimal(28,12)")).as("_lt"),
      sum(t12(lit(1.0) / (ncD - 1)))
        .as("_inv"),
      min(s2).as("_mins2"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val ssw = col("_ss").cast("double") - col("_t12").cast("double")
    val sp2 = ssw / (nD - kD)
    val c = lit(1.0) + (col("_inv").cast("double")
      - lit(1.0) / (nD - kD)) / (lit(3.0) * (kD - 1))
    g.select(col(groupCol), col("n"), col("k"),
      round(when(col("k") > 1 && col("n") > col("k") &&
        col("_mins2") > 0 && ssw > 0,
        ((nD - kD) * log(sp2) - col("_lt").cast("double")) / c), 6)
        .as("chi2_r"))
  }

  /** One-way random-effects intraclass correlation ICC(1) per group:
    * how much of the measure's variance lives BETWEEN cells (e.g.
    * between users) vs within — the reliability number behind "is one
    * day enough to characterize a user". ICC = (MSB − MSW) /
    * (MSB + (n₀−1)·MSW) with the unbalanced-design cell size
    * n₀ = (N − Σnᵢ²/N)/(k−1). Rides [[oneWayAnova]]'s exact-moment
    * sums plus one extra exact Σnᵢ². */
  def icc1(units: DataFrame, groupCol: String, cellCol: String,
      valueCol: String): DataFrame = {
    val xd = col(valueCol).cast("decimal(38,0)")
    val cell = units.groupBy(col(groupCol), col(cellCol)).agg(
      count(lit(1)).as("_nc"), sum(col(valueCol)).as("_sc"),
      sum(xd * xd).as("_ssc"))
    val g = cell.groupBy(col(groupCol)).agg(
      sum(col("_nc")).as("n"), count(lit(1)).as("k"),
      sum(col("_sc")).as("_s"), sum(col("_ssc")).as("_ss"),
      sum(col("_nc").cast("decimal(38,0)") * col("_nc")).as("_nc2"),
      sum(t12(col("_sc").cast("double") * col("_sc").cast("double")
        / col("_nc").cast("double")))
        .as("_t12"))
    val nD = col("n").cast("double")
    val kD = col("k").cast("double")
    val sD = col("_s").cast("double")
    val ssD = col("_ss").cast("double")
    val t12D = col("_t12").cast("double")
    val msb = (t12D - sD * sD / nD) / (kD - 1)
    val msw = (ssD - t12D) / (nD - kD)
    val n0 = (nD - col("_nc2").cast("double") / nD) / (kD - 1)
    val denom = msb + (n0 - 1) * msw
    g.select(col(groupCol), col("n"), col("k"),
      round(when(col("k") > 1 && col("n") > col("k"), n0), 6)
        .as("n0_r"),
      round(when(col("k") > 1 && col("n") > col("k") && denom > 0,
        (msb - msw) / denom), 6).as("icc_r"))
  }

  /** Cronbach's α over a COMPLETE subject × item value grid (caller
    * zero-fills): α = k/(k−1)·(1 − Σσᵢ²/σ_total²) — internal
    * consistency of the k items as one scale ("do the event types
    * move together per user"). Population variances from exact
    * integer moments; the k-term Σσᵢ² is 12-dp DECIMAL. Null when the
    * total score is constant. Returns one row: n_subjects, k_items,
    * sum_item_var_r, total_var_r, alpha_r. */
  def cronbachAlpha(grid: DataFrame, subjectCol: String,
      itemCol: String, valueCol: String): DataFrame = {
    val xd = col(valueCol).cast("decimal(38,0)")
    val item = grid.groupBy(col(itemCol)).agg(
      count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"),
      sum(xd * xd).as("_ss"))
    val nD = col("_n").cast("double")
    val vI = (col("_ss").cast("double") / nD) -
      ((col("_s").cast("double") / nD) * (col("_s").cast("double") / nD))
    val items = item.agg(count(lit(1)).as("k_items"),
      sum(t12(vI)).cast("double")
        .as("_sumvar"))
    val subj = grid.groupBy(col(subjectCol))
      .agg(sum(col(valueCol)).as("_tot"))
    val td = col("_tot").cast("decimal(38,0)")
    val tot = subj.agg(count(lit(1)).as("n_subjects"),
      sum(col("_tot")).as("_ts"), sum(td * td).as("_tss"))
    val nsD = col("n_subjects").cast("double")
    val vT = (col("_tss").cast("double") / nsD) -
      ((col("_ts").cast("double") / nsD) *
        (col("_ts").cast("double") / nsD))
    val kD = col("k_items").cast("double")
    tot.crossJoin(broadcast(items))
      .select(col("n_subjects"), col("k_items"),
        round(col("_sumvar"), 6).as("sum_item_var_r"),
        round(vT, 6).as("total_var_r"),
        round(when(col("k_items") > 1 && vT > 0,
          kD / (kD - 1) * (lit(1.0) - col("_sumvar") / vT)), 6)
          .as("alpha_r"))
  }

  /** Cohen's d + Hedges' g between two arms over an integer measure:
    * standardized mean difference d = (m_t − m_c)/s_pooled with the
    * small-sample-corrected g = d·(1 − 3/(4N−9)) — the effect size
    * that belongs next to every significance test (q198/q231's z/t
    * say "real", d says "big"). All moments exact integers; one
    * shared parenthesization. */
  def cohensD(units: DataFrame, group1: Column,
      valueCol: String): DataFrame = {
    val xd = col(valueCol).cast("decimal(38,0)")
    val agg = units.agg(
      sum(when(group1, 1L).otherwise(0L)).as("n_t"),
      sum(when(group1, col(valueCol))).as("_st"),
      sum(when(group1, xd * xd)).as("_sst"),
      sum(when(!group1, 1L).otherwise(0L)).as("n_c"),
      sum(when(!group1, col(valueCol))).as("_sc"),
      sum(when(!group1, xd * xd)).as("_ssc"))
    val ntD = col("n_t").cast("double")
    val ncD = col("n_c").cast("double")
    val mt = col("_st").cast("double") / ntD
    val mc = col("_sc").cast("double") / ncD
    val pooled = (col("_sst").cast("double")
      - col("_st").cast("double") * col("_st").cast("double") / ntD
      + col("_ssc").cast("double")
      - col("_sc").cast("double") * col("_sc").cast("double") / ncD) /
      (ntD + ncD - 2)
    val d = (mt - mc) / sqrt(pooled)
    val nD = ntD + ncD
    agg.select(col("n_t"), col("n_c"),
      round(when(col("n_t") > 0, mt), 6).as("mean_t_r"),
      round(when(col("n_c") > 0, mc), 6).as("mean_c_r"),
      round(when(col("n_t") > 1 && col("n_c") > 1 && pooled > 0, d), 6)
        .as("d_r"),
      round(when(col("n_t") > 1 && col("n_c") > 1 && pooled > 0,
        d * (lit(1.0) - lit(3.0) / (lit(4.0) * nD - 9))), 6)
        .as("g_r"))
  }

  /** Kruskal–Wallis rank test per group (JASA 1952): the DISTRIBUTION-
    * FREE "do these cells differ in level" — [[oneWayAnova]] without
    * the normality assumption, and the k-cell generalization of
    * [[graft.ops.Ranks.rankSumAuc]]'s Mann–Whitney machinery. Pooled
    * MIDRANKS stay exactly integer ×2 (R·2 = 2·N_less + t + 1 from the
    * value-grain tie counts), so per-cell rank sums are exact; H's one
    * float cell-sum (Σ S_c²/(4 n_c)) takes the 12-dp DECIMAL
    * order-independent form, and the tie-correction divisor
    * 1 − Σ(t³−t)/(n³−n) is a ratio of exact integers.
    *
    * Shape: one (group, value) tie-count agg, a cumulative window over
    * that VALUE-GRAIN table (distinct values per group — never the
    * unit table), a join back, two hash-aggs. Degenerate groups
    * (n < 2, k < 2, all values tied → divisor 0) yield null H. */
  def kruskalWallis(units: DataFrame, groupCol: String, cellCol: String,
      valueCol: String): DataFrame = {
    val vg = units.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("_t"))
    val w = Window.partitionBy(groupCol).orderBy(valueCol)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // midrank ×2 of every unit with this value: 2·N_less + t + 1
    val ranked = vg
      .withColumn("_nle", sum(col("_t")).over(w))
      .select(col(groupCol), col(valueCol), col("_t"),
        (lit(2) * (col("_nle") - col("_t")) + col("_t") + 1).as("_r2"))
    val cells = units.join(ranked, Seq(groupCol, valueCol))
      .groupBy(col(groupCol), col(cellCol))
      .agg(count(lit(1)).as("_nc"), sum(col("_r2")).as("_s2"))
    val ties = vg.groupBy(col(groupCol))
      .agg(sum(col("_t") * col("_t") * col("_t") - col("_t"))
        .as("_tie"))
    val g = cells.groupBy(col(groupCol)).agg(
      sum(col("_nc")).as("n"), count(lit(1)).as("k"),
      sum(t12(col("_s2").cast("double") * col("_s2").cast("double")
        / (lit(4.0) * col("_nc").cast("double")))).as("_t12"))
      .join(ties, Seq(groupCol))
    val nD = col("n").cast("double")
    val h = lit(12.0) / (nD * (nD + lit(1.0))) *
      col("_t12").cast("double") - lit(3.0) * (nD + lit(1.0))
    val divisor = lit(1.0) - col("_tie").cast("double") /
      (nD * nD * nD - nD)
    g.select(col(groupCol), col("n"), col("k"),
      round(when(col("n") >= 2 && col("k") >= 2 && divisor > 0,
        h / nullif(divisor, lit(0.0))), 6).as("h_r"))
  }

  /** Cochran's Q (Biometrika 1950): the k-classifier generalization of
    * [[mcnemar]] — on the SAME units, do k binary raters/filters
    * succeed at different rates? Q = (k−1)·(k·ΣG_j² − T²)/(k·T − ΣL_i²)
    * with G_j = per-classifier successes, L_i = per-unit success count,
    * T = ΣG — every term an exact integer from ONE hash-agg, the
    * statistic a single double division (~χ² with k−1 df). Degenerate
    * groups (every unit all-right or all-wrong: denominator 0) yield
    * null. For k = 2 this reduces exactly to McNemar's uncorrected χ². */
  def cochranQ(units: DataFrame, groupCol: String,
      correct: Seq[Column]): DataFrame = {
    val k = correct.length
    require(k >= 2, "need at least two classifiers")
    val inds = correct.map(c => when(c, 1L).otherwise(0L))
    val li = inds.reduce(_ + _)
    val aggCols = count(lit(1)).as("n") +:
      inds.zipWithIndex.map { case (c, j) => sum(c).as(s"g${j + 1}") } :+
      sum(li * li).as("_sl2")
    val a = units.groupBy(col(groupCol)).agg(aggCols.head,
      aggCols.tail: _*)
    val gs = (1 to k).map(j => col(s"g$j"))
    val t = gs.reduce(_ + _)
    val sumG2 = gs.map(g => g * g).reduce(_ + _)
    val den = lit(k) * t - col("_sl2")
    a.select(col(groupCol) +: col("n") +: gs :+
      round(when(den > 0,
        lit((k - 1).toDouble) * (lit(k) * sumG2 - t * t).cast("double")
          / nullif(den.cast("double"), lit(0.0))), 6).as("q_r"): _*)
  }

  /** McNemar's test (Psychometrika 1947) for PAIRED classifier
    * comparison per group: on the same units, is model A right where B
    * is wrong more often than the reverse? Only the DISCORDANT pairs
    * carry signal — b = #(A right, B wrong), c = #(A wrong, B right);
    * χ² = (b−c)²/(b+c) ~ χ²(1), plus the Edwards continuity-corrected
    * form (max(|b−c|−1, 0))²/(b+c). The standard "is the new filter
    * actually better on the same corpus" readout, where a two-sample
    * test would throw away the pairing.
    *
    * One hash-agg to (n, b, c) per group; both statistics are one
    * double division over those exact integers — cross-engine
    * deterministic. Degenerate groups (b+c = 0: the models never
    * disagree) yield null χ². */
  def mcnemar(units: DataFrame, groupCol: String, aCorrect: Column,
      bCorrect: Column): DataFrame = {
    val agg = units.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"),
      sum(when(aCorrect && !bCorrect, 1L).otherwise(0L)).as("b_disc"),
      sum(when(!aCorrect && bCorrect, 1L).otherwise(0L)).as("c_disc"))
    val b = col("b_disc").cast("double")
    val c = col("c_disc").cast("double")
    val denom = nullif(b + c, lit(0.0))
    val diff = b - c
    val cc = greatest(abs(col("b_disc") - col("c_disc")) - 1, lit(0L))
      .cast("double")
    agg.select(col(groupCol), col("n"), col("b_disc"), col("c_disc"),
      round(when(col("b_disc") + col("c_disc") > 0,
        diff * diff / denom), 6).as("chi2_r"),
      round(when(col("b_disc") + col("c_disc") > 0,
        cc * cc / denom), 6).as("chi2_cc_r"))
  }

  /** Isotonic (PAV) calibration over a BINNED score→label table — the
    * monotone fit p(label | score bin) that reliability diagrams
    * (q187) show the need for, in its closed MINIMAX form
    * (Barlow et al. 1972, "Statistical inference under order
    * restrictions"): iso(i) = max_{h≤i} min_{j≥i} mean(h..j), where
    * mean(h..j) is the pooled k/n over the bin interval. Equals the
    * pool-adjacent-violators output exactly, but as three relational
    * steps instead of a sequential pooling loop.
    *
    * Input is the per-bin aggregate (one row per score bin — bounded
    * by the binning, never corpus-sized), so the cumulative window and
    * the B² interval frame are deliberate spec-table passes, the
    * [[bhFdr]] class. The corpus itself was already reduced to
    * (bin, n, k) by the caller's single hash-agg. All interval means
    * derive from exact integer cumulative sums; one double division
    * per interval, min/max exact → cross-engine deterministic.
    * Returns the input columns plus `iso_rate_r` (6 dp). */
  def pavIsotonic(bins: DataFrame, binCol: String, nCol: String,
      kCol: String): DataFrame = {
    val w = Window.orderBy("_b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = bins
      .select(col(binCol).as("_b"), col(nCol).as("_n"), col(kCol).as("_k"))
      .withColumn("_cn", sum(col("_n")).over(w))
      .withColumn("_ck", sum(col("_k")).over(w))
    val lo = cum.select(col("_b").as("h"),
      (col("_cn") - col("_n")).as("_cnl"),
      (col("_ck") - col("_k")).as("_ckl"))
    val hi = cum.select(col("_b").as("j"), col("_cn").as("_cnh"),
      col("_ck").as("_ckh"))
    val intervals = lo.join(broadcast(hi), col("h") <= col("j"))
      .select(col("h"), col("j"),
        ((col("_ckh") - col("_ckl")).cast("double") /
          nullif((col("_cnh") - col("_cnl")).cast("double"), lit(0.0)))
          .as("_mean"))
    val mn = intervals
      .join(broadcast(bins.select(col(binCol).as("_i"))),
        col("h") <= col("_i") && col("j") >= col("_i"))
      .groupBy(col("_i"), col("h"))
      .agg(min(col("_mean")).as("_mn"))
    val iso = mn.groupBy(col("_i").as(binCol))
      .agg(round(max(col("_mn")), 6).as("iso_rate_r"))
    bins.join(iso, binCol)
  }

  /** Mantel–Haenszel stratified 2×2 analysis: the pooled odds ratio
    * OR_MH = Σ(aᵢdᵢ/nᵢ) / Σ(bᵢcᵢ/nᵢ) and the Cochran–Mantel–Haenszel
    * χ² = (Σaᵢ − ΣEᵢ)² / ΣVᵢ with the hypergeometric
    * Eᵢ = r₁ᵢc₁ᵢ/nᵢ, Vᵢ = r₁ᵢr₀ᵢc₁ᵢc₀ᵢ/(nᵢ²(nᵢ−1)) — "is the
    * exposure–outcome association real AFTER controlling for the
    * stratum", the confounder-adjusted form of q198's pooled z (which
    * Simpson's paradox can invert). One hash-agg to the |strata|-row
    * 2×2 frame; per-stratum float terms 12-dp DECIMAL-summed; strata
    * with n ≤ 1 contribute nothing to V (their E term still counts —
    * a singleton stratum carries no variance). Returns one row:
    * n_strata, o_sum, e_sum_r, or_mh_r, chi2_r. */
  def mantelHaenszel(units: DataFrame, stratumCol: String,
      exposed: Column, outcome: Column): DataFrame = {
    val cell = units.groupBy(col(stratumCol)).agg(
      sum(when(exposed && outcome, 1L).otherwise(0L)).as("_a"),
      sum(when(exposed && !outcome, 1L).otherwise(0L)).as("_b"),
      sum(when(!exposed && outcome, 1L).otherwise(0L)).as("_c"),
      sum(when(!exposed && !outcome, 1L).otherwise(0L)).as("_d"))
    def d(c: String) = col(c).cast("double")
    val n = col("_a") + col("_b") + col("_c") + col("_d")
    val nD = n.cast("double")
    val e = (col("_a") + col("_b")).cast("double") *
      (col("_a") + col("_c")).cast("double") / nD
    val v = (col("_a") + col("_b")).cast("double") *
      (col("_c") + col("_d")).cast("double") *
      (col("_a") + col("_c")).cast("double") *
      (col("_b") + col("_d")).cast("double") /
      (nD * nD * (nD - 1))
    val agg = cell.agg(count(lit(1)).as("n_strata"),
      sum(col("_a")).as("o_sum"),
      sum(when(n > 0, round(e, 12)).cast("decimal(28,12)")).as("_e"),
      sum(when(n > 1, round(v, 12)).otherwise(lit(0.0))
        .cast("decimal(28,12)")).as("_v"),
      sum(when(n > 0, round(d("_a") * d("_d") / nD, 12))
        .cast("decimal(28,12)")).as("_ad"),
      sum(when(n > 0, round(d("_b") * d("_c") / nD, 12))
        .cast("decimal(28,12)")).as("_bc"))
    val diff = col("o_sum").cast("double") - col("_e").cast("double")
    agg.select(col("n_strata"), col("o_sum"),
      round(col("_e").cast("double"), 6).as("e_sum_r"),
      round(when(col("_bc") > 0,
        col("_ad").cast("double") / col("_bc").cast("double")), 6)
        .as("or_mh_r"),
      round(when(col("_v") > 0,
        diff * diff / col("_v").cast("double")), 6).as("chi2_r"))
  }

  /** Cochran–Armitage trend test: does a binary outcome rate move
    * MONOTONICALLY across ordered groups with integer scores wᵢ?
    * T = Σwᵢaᵢ, E = p̄·Σwᵢnᵢ, Var = p̄(1−p̄)·(Σwᵢ²nᵢ − (Σwᵢnᵢ)²/N),
    * z = (T−E)/√Var — the dose-response sharpening of q298's omnibus
    * χ² (which spends power on non-monotone departures). Everything up
    * to the final three doubles is an exact integer (T, and all the
    * Σw-moments, stay BIGINT). Returns one row: n, n_pos, t_stat,
    * z_r. */
  def cochranArmitage(units: DataFrame, scoreCol: String,
      outcome: Column): DataFrame = {
    val g = units.groupBy(col(scoreCol)).agg(
      count(lit(1)).as("_n"),
      sum(when(outcome, 1L).otherwise(0L)).as("_a"))
    val agg = g.agg(sum(col("_n")).as("n"), sum(col("_a")).as("n_pos"),
      sum(col(scoreCol) * col("_a")).as("t_stat"),
      sum(col(scoreCol) * col("_n")).as("_wn"),
      sum(col(scoreCol) * col(scoreCol) * col("_n")).as("_wwn"))
    val nD = col("n").cast("double")
    val pbar = col("n_pos").cast("double") / nD
    val eT = pbar * col("_wn").cast("double")
    val varT = pbar * (lit(1.0) - pbar) * (col("_wwn").cast("double")
      - col("_wn").cast("double") * col("_wn").cast("double") / nD)
    agg.select(col("n"), col("n_pos"), col("t_stat"),
      round(when(varT > 0,
        (col("t_stat").cast("double") - eT) / sqrt(varT)), 6)
        .as("z_r"))
  }

  /** Delete-one-BLOCK jackknife for a ratio statistic θ = Σnum/Σden
    * (e.g. revenue per order with weekly blocks): each leave-one-out
    * replicate θ₍ᵢ₎ = (Sy−yᵢ)/(Sn−nᵢ) comes from exact per-block and
    * total integer sums, SE_jack = √((B−1)/B · Σ(θ₍ᵢ₎−θ̄₍·₎)²), and
    * the bias-corrected estimate is B·θ − (B−1)·θ̄₍·₎ (Quenouille).
    * The deterministic, resampling-free complement to the q183
    * bootstrap: blocks respect serial correlation, no RNG to
    * cross-engine-pin, closed form. Replicate deviations are
    * 12-dp-rounded DECIMAL sums over the B-row block frame; θ̄₍·₎
    * re-enters by broadcast. Returns one row: n_blocks, theta_r,
    * theta_jack_r, se_jack_r. */
  def jackknifeRatio(df: DataFrame, blockCol: String, numCol: String,
      denCol: String): DataFrame = {
    val blocks = df.groupBy(col(blockCol))
      .agg(sum(col(numCol)).as("_y"), sum(col(denCol)).as("_n"))
      .localCheckpoint() // consumed by totals + two replicate passes
    val tot = blocks.agg(sum(col("_y")).as("_sy"),
      sum(col("_n")).as("_sn"), count(lit(1)).as("_b"))
    val theta = col("_sy").cast("double") / col("_sn").cast("double")
    // nullif guard (the repo-wide ÷0 convention): a single-block input
    // or a block holding the entire denominator makes Sn − n_i = 0 —
    // the replicate term degrades to NULL instead of engine 0/0
    val thI = (col("_sy") - col("_y")).cast("double") /
      nullif((col("_sn") - col("_n")).cast("double"), lit(0.0))
    val withTot = blocks.crossJoin(broadcast(tot))
    val mean = withTot.agg(
        (sum(t12(thI)).cast("double")
          / first(col("_b")).cast("double")).as("_thbar"))
    val dev = withTot.crossJoin(broadcast(mean))
      .agg(sum(t12((thI - col("_thbar")) * (thI - col("_thbar"))))
        .cast("double").as("_ss"))
    val bD = col("_b").cast("double")
    tot.crossJoin(broadcast(mean)).crossJoin(broadcast(dev))
      .select(col("_b").as("n_blocks"),
        round(theta, 6).as("theta_r"),
        round(when(col("_b") >= 2,
          bD * theta - (bD - 1) * col("_thbar")), 6)
          .as("theta_jack_r"),
        round(when(col("_b") >= 2,
          sqrt((bD - 1) / bD * col("_ss"))), 6).as("se_jack_r"))
  }

  /** Platt scaling (Platt 1999): calibrate a raw score into a
    * probability by fitting P(y=1|x) = σ(A·x + B) with Newton–Raphson
    * on the binomial log-likelihood. The corpus is reduced FIRST to a
    * bounded score-bin grid (one hash-agg: n_b, k_b per bin, x_b = bin
    * midpoint) and the 2-parameter fit runs on the grid's sufficient
    * statistics — so each Newton step costs |bins| rows regardless of
    * corpus size (the q374/q373 fixed-step posture: per-step 1-row
    * state, localCheckpointed).
    *
    * Determinism: every per-bin term is 12-dp-rounded onto
    * DECIMAL(28,12) before its order-independent sum; the sigmoid
    * argument AND output are 12-dp-rounded so a last-ulp exp()
    * difference between engines cannot propagate into the trajectory.
    * Degenerate fits (all-positive / all-negative corpora drive |B|→∞)
    * stay finite for small `iters`; a singular Hessian (det = 0) makes
    * the step NULL→0 via the nullif guard rather than diverging.
    * Returns one row: n, n_pos, a_r, b_r, nll_r (final per-doc negative
    * log-likelihood, 6 dp). */
  def plattScaling(df: DataFrame, xCol: String, labelCol: String,
      lo: Double, hi: Double, bins: Int, iters: Int): DataFrame = {
    require(bins >= 2 && iters >= 1, "need >=2 bins and >=1 iteration")
    val width = (hi - lo) / bins
    val grid = df
      .select(col(xCol).cast("double").as("_x"),
        when(col(labelCol).cast("boolean"), 1L).otherwise(0L).as("_y"))
      .where(col("_x").isNotNull)
      .withColumn("_b", least(greatest(
        floor((col("_x") - lit(lo)) / lit(width)), lit(0.0)), lit(bins - 1.0))
        .cast("long"))
      .groupBy(col("_b"))
      .agg(count(lit(1)).as("_n"), sum(col("_y")).as("_k"))
      .withColumn("_xb", lit(lo) + (col("_b").cast("double") + 0.5) * lit(width))
      .localCheckpoint() // bounded grid; consumed by every Newton step
    // sigmoid with both the argument and the value pinned to 12 dp
    def sig(a: Column, b: Column, x: Column): Column =
      round(lit(1.0) / (lit(1.0) +
        exp(-round(a * x + b, 12))), 12)
    var ab = df.sparkSession.range(1)
      .select(lit(0.0).as("_a"), lit(0.0).as("_bb"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val s = grid.crossJoin(broadcast(ab))
        .withColumn("_p", sig(col("_a"), col("_bb"), col("_xb")))
        .withColumn("_w", col("_n") * col("_p") * (lit(1.0) - col("_p")))
        .agg(
          sum(t12((col("_n") * col("_p") - col("_k")) * col("_xb")))
            .cast("double").as("_g1"),
          sum(t12(col("_n") * col("_p") - col("_k")))
            .cast("double").as("_g2"),
          sum(t12(col("_w") * col("_xb") * col("_xb")))
            .cast("double").as("_h11"),
          sum(t12(col("_w") * col("_xb"))).cast("double").as("_h12"),
          sum(t12(col("_w"))).cast("double").as("_h22"))
      val det = col("_h11") * col("_h22") - col("_h12") * col("_h12")
      ab = s.crossJoin(broadcast(ab))
        .select(
          (col("_a") - coalesce((col("_g1") * col("_h22")
            - col("_g2") * col("_h12")) / nullif(det, lit(0.0)),
            lit(0.0))).as("_a"),
          (col("_bb") - coalesce((col("_g2") * col("_h11")
            - col("_g1") * col("_h12")) / nullif(det, lit(0.0)),
            lit(0.0))).as("_bb"))
        .localCheckpoint() // 1-row state; next step reads it
    }
    val fin = grid.crossJoin(broadcast(ab))
      // clamp to the open interval for the NLL only: a perfectly
      // separated bin rounds p to exactly 0/1 at 12 dp and ln(0) would
      // poison the sum (the 12-dp grid is also exactly the clamp width)
      .withColumn("_p", least(greatest(
        sig(col("_a"), col("_bb"), col("_xb")), lit(1e-12)),
        lit(1.0) - lit(1e-12)))
      .agg(sum(col("_n")).as("n"), sum(col("_k")).as("n_pos"),
        first(col("_a")).as("_af"), first(col("_bb")).as("_bf"),
        sum(t12(-(col("_k") * log(col("_p"))
          + (col("_n") - col("_k")) * log(lit(1.0) - col("_p")))))
          .cast("double").as("_nll"))
    fin.select(col("n"), col("n_pos"),
      round(col("_af"), 6).as("a_r"), round(col("_bf"), 6).as("b_r"),
      round(col("_nll") / col("n").cast("double"), 6).as("nll_r"))
  }

  /** Split-conformal prediction interval for the lag-1 martingale
    * forecast (Vovk et al.; Lei et al. 2018): tomorrow ≈ today, the
    * strongest assumption-free daily baseline. Nonconformity score =
    * |y_t − y_{t−1}| on CONSECUTIVE days only (a calendar gap breaks
    * the pair — the granger convention); days hash-split (md5 parity)
    * into calibration and test; q̂ = the ⌈(n_cal+1)(1−α)⌉-th smallest
    * calibration score, and the audit reports the test-side coverage
    * of ±q̂ — the finite-sample ≥1−α guarantee made measurable.
    *
    * Everything is exact integers (cent scores, integer-ceiling rank,
    * order statistic by row_number with date tie-break) until the one
    * final coverage division — engine determinism is structural. The
    * two unpartitioned windows (lag, calibration rank) ride the
    * calendar-bounded day grain (allowlisted). α is passed as
    * (alphaNum/alphaDen) so the rank stays integer arithmetic.
    * Returns one row: n_cal, n_test, qhat (input units),
    * coverage_r (6 dp), target_r. */
  def conformalLag1(daily: DataFrame, tCol: String, valueCol: String,
      alphaNum: Int, alphaDen: Int): DataFrame = {
    require(alphaNum > 0 && alphaNum < alphaDen, "need 0 < alpha < 1")
    val scored = daily
      .select(col(tCol).as("_t"), col(valueCol).cast("long").as("_y"))
      .withColumn("_yp", lag(col("_y"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("_t"))))
      .withColumn("_tp", lag(col("_t"), 1).over(
        org.apache.spark.sql.expressions.Window.orderBy(col("_t"))))
      .where(col("_yp").isNotNull &&
        datediff(col("_t"), col("_tp")) === 1)
      .select(col("_t"), abs(col("_y") - col("_yp")).as("_s"),
        (TextOps.hash60(col("_t").cast("string")) % 2 === 0).as("_cal"))
      .localCheckpoint() // consumed by the rank pass AND the test side
    val cal = scored.where(col("_cal"))
    val nCal = cal.agg(count(lit(1)).as("n_cal"))
    // ceil((n+1)(1-alpha)) in exact integer arithmetic:
    // (den-num)(n+1) ceil-div den
    val k = expr(s"((${alphaDen - alphaNum} * (n_cal + 1)) + " +
      s"${alphaDen - 1}) div $alphaDen")
    val qhat = cal
      .withColumn("_rn", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("_s").asc, col("_t").asc)))
      .crossJoin(broadcast(nCal))
      .where(col("_rn") === k)
      .select(col("_s").as("qhat"), col("n_cal"))
    // grouped (not global) agg: when k > n_cal the qhat frame is empty
    // and the output must be EMPTY in both engines (the oracle's
    // GROUP BY semantics) — a global agg would emit one all-NULL row
    // and diverge on degenerate input (the chowTest lesson)
    val test = scored.where(!col("_cal"))
      .crossJoin(broadcast(qhat))
      .groupBy(col("qhat"), col("n_cal"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("_s") <= col("qhat"), 1L).otherwise(0L)).as("_cov"))
    test.select(col("n_cal"), col("n_test"), col("qhat"),
      round(col("_cov").cast("double")
        / nullif(col("n_test").cast("double"), lit(0.0)), 6)
        .as("coverage_r"),
      round(lit(1.0) - lit(alphaNum.toDouble) / alphaDen, 6)
        .as("target_r"))
  }

  /** Pocock group-sequential monitor for a two-arm conversion test
    * (Pocock 1977): at each of K interim looks the cumulative
    * two-proportion z is compared against the CONSTANT Pocock boundary
    * — peeking-with-a-budget instead of the naive repeated 1.96 test
    * that inflates false positives ~3× by K = 5. `looks` carries the
    * (look, cutoff) grid and `critical` the K-specific boundary
    * (2.413 for K = 5 at α = .05, the published table value).
    *
    * Shape: ONE corpus pass reduces to the per-unit (arm, first-
    * conversion-cutoff) grain, then every look is a conditional sum
    * over the broadcast |K|-row grid — cumulative counts without
    * re-scanning. All counts exact; z is one double expression per
    * look (the q198 two-proportion convention). Returns one row per
    * look: look, n1, n0, c1, c0, z_r, crossed. */
  def pocockMonitor(units: DataFrame, armB: Column, convCol: String,
      looks: Seq[(Int, Column)], critical: Double): DataFrame = {
    require(looks.nonEmpty, "need at least one interim look")
    val base = units.select(armB.as("_arm"),
        col(convCol).as("_cv")) // conversion "time", NULL = never
      .localCheckpoint() // one pass; every look aggregates it
    val rows = looks.map { case (k, cutoff) =>
      val conv = col("_cv").isNotNull && col("_cv") <= cutoff
      base.agg(
        sum(when(col("_arm"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("_arm"), 1L).otherwise(0L)).as("n0"),
        sum(when(col("_arm") && conv, 1L).otherwise(0L)).as("c1"),
        sum(when(!col("_arm") && conv, 1L).otherwise(0L)).as("c0"))
        .select(lit(k).as("look"), col("n1"), col("n0"), col("c1"),
          col("c0"))
    }
    val all = rows.reduce(_ unionByName _)
    val p1 = col("c1").cast("double") / col("n1").cast("double")
    val p0 = col("c0").cast("double") / col("n0").cast("double")
    val pp = (col("c1") + col("c0")).cast("double") /
      (col("n1") + col("n0")).cast("double")
    val se = sqrt(pp * (lit(1.0) - pp) *
      (lit(1.0) / col("n1") + lit(1.0) / col("n0")))
    val z = (p1 - p0) / nullif(se, lit(0.0))
    all.select(col("look"), col("n1"), col("n0"), col("c1"), col("c0"),
        round(z, 6).as("z_r"),
        (abs(z) > critical).as("crossed"))
      .orderBy("look")
  }

  /** Holm step-down multiple-testing correction — [[bhFdr]]'s FWER
    * sibling: rank p ascending, threshold α/(m−k+1), and reject
    * exactly the prefix BEFORE the first failure (step-down: one
    * failure shields everything after it, unlike BH's step-up scan
    * from the other end). Uniformly more powerful than Bonferroni at
    * the same family-wise guarantee and assumption-free — the
    * conservative counterpart when "FDR ≤ α" is not enough. Runs on
    * the bounded hypotheses grain (the bhFdr posture — deliberate
    * tiny-input global windows). Emits the input columns plus
    * holm_rank, holm_thresh_r, discovery. */
  def holmStepDown(hyp: DataFrame, pCol: String, idCol: String,
      alpha: Double): DataFrame = {
    require(alpha > 0 && alpha < 1, "alpha must be in (0,1)")
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val ranked = hyp
      .withColumn("holm_rank",
        row_number().over(Window.orderBy(col(pCol), col(idCol))))
      .withColumn("_m", count(lit(1)).over(wAll))
    val thresh = lit(alpha) / (col("_m") - col("holm_rank") + 1)
    ranked
      .withColumn("_fail",
        when(col(pCol) > thresh, col("holm_rank")))
      .withColumn("_kfail", min(col("_fail")).over(wAll))
      .select(hyp.columns.toIndexedSeq.map(col) ++ Seq(col("holm_rank"),
        round(thresh, 6).as("holm_thresh_r"),
        coalesce(col("holm_rank") < col("_kfail"), lit(true))
          .as("discovery")): _*)
  }

  /** Per-stratum 2×2 log-odds frame with Haldane +0.5 continuity:
    * y = ln((a+.5)(d+.5)/((b+.5)(c+.5))), v = Σ 1/(cell+.5) — the
    * shared input of [[metaDL]] and [[eggerSmallStudy]]. */
  private def lorFrame(df: DataFrame, strataCol: String,
      exposedCol: Column, caseCol: Column): DataFrame = {
    val tab = df.groupBy(col(strataCol))
      .agg(
        sum(when(exposedCol && caseCol, 1L).otherwise(0L)).as("_a"),
        sum(when(exposedCol && !caseCol, 1L).otherwise(0L)).as("_b"),
        sum(when(!exposedCol && caseCol, 1L).otherwise(0L)).as("_c"),
        sum(when(!exposedCol && !caseCol, 1L).otherwise(0L)).as("_d"))
    def h(c: Column) = c.cast("double") + 0.5
    tab.select(col(strataCol),
      round(log(h(col("_a")) * h(col("_d"))
        / (h(col("_b")) * h(col("_c")))), 12).as("_y"),
      round(lit(1.0) / h(col("_a")) + lit(1.0) / h(col("_b"))
        + lit(1.0) / h(col("_c")) + lit(1.0) / h(col("_d")), 12)
        .as("_v"))
  }

  /** DerSimonian–Laird random-effects meta-analysis of per-stratum
    * log odds ratios (Haldane-corrected): the fixed-effect pooled
    * LOR, Cochran's Q, the DL between-stratum variance τ² =
    * max(0, (Q − (k−1))/(Σw − Σw²/Σw)), the I² heterogeneity share,
    * and the random-effects pooled LOR under weights 1/(v+τ²). The
    * question q332's MH pooling begs: how much does the effect VARY
    * across strata, and what does the pooled effect become once that
    * variation is priced in? Returns one row: k, fixed_lor_r, q_r,
    * tau2_r, i2_r, random_lor_r.
    *
    * Shape: one hash-agg to the ≤k strata table, one moment pass
    * (Q via Σwy² − (Σwy)²/Σw — no second data pass), then ONE
    * re-weighting pass over the k-row frame with τ² broadcast. */
  def metaDL(df: DataFrame, strataCol: String, exposedCol: Column,
      caseCol: Column): DataFrame = {
    val lor = lorFrame(df, strataCol, exposedCol, caseCol)
      .localCheckpoint() // ≤k rows; both weighting passes
    val m1 = lor.agg(count(lit(1)).as("k"),
        sum(t12(lit(1.0) / col("_v"))).cast("double").as("_sw"),
        sum(t12(col("_y") / col("_v"))).cast("double").as("_swy"),
        sum(t12(col("_y") * col("_y") / col("_v"))).cast("double")
          .as("_swy2"),
        sum(t12(lit(1.0) / (col("_v") * col("_v")))).cast("double")
          .as("_sw2"))
      .withColumn("_q", round(col("_swy2")
        - col("_swy") * col("_swy") / col("_sw"), 12))
      .withColumn("_tau2", round(greatest(lit(0.0),
        (col("_q") - (col("k") - 1).cast("double"))
          / (col("_sw") - col("_sw2") / col("_sw"))), 12))
    val re = lor.crossJoin(broadcast(m1))
      .groupBy(col("k"), col("_sw"), col("_swy"), col("_q"),
        col("_tau2"))
      .agg(
        sum(t12(lit(1.0) / (col("_v") + col("_tau2")))).cast("double")
          .as("_srw"),
        sum(t12(col("_y") / (col("_v") + col("_tau2"))))
          .cast("double").as("_srwy"))
    re.select(col("k"),
      round(col("_swy") / col("_sw"), 6).as("fixed_lor_r"),
      round(col("_q"), 6).as("q_r"),
      round(col("_tau2"), 6).as("tau2_r"),
      round(when(col("_q") > 0, greatest(lit(0.0),
        (col("_q") - (col("k") - 1).cast("double")) / col("_q"))), 6)
        .as("i2_r"),
      round(col("_srwy") / col("_srw"), 6).as("random_lor_r"))
  }

  /** Egger's small-study (funnel-plot asymmetry) test on the same
    * Haldane LOR frame: OLS of the standardized effect z = y/√v on
    * precision 1/√v — a nonzero INTERCEPT is the asymmetry signal
    * (small/noisy strata drifting one way). Returns one row: k,
    * intercept_r, slope_r, r2_r. */
  def eggerSmallStudy(df: DataFrame, strataCol: String,
      exposedCol: Column, caseCol: Column): DataFrame = {
    val pts = lorFrame(df, strataCol, exposedCol, caseCol)
      .select(round(col("_y") / sqrt(col("_v")), 12).as("_z"),
        round(lit(1.0) / sqrt(col("_v")), 12).as("_p"))
    val agg = pts.agg(count(lit(1)).as("k"),
      sum(t12(col("_p"))).cast("double").as("_sx"),
      sum(t12(col("_z"))).cast("double").as("_sy"),
      sum(t12(col("_p") * col("_p"))).cast("double").as("_sxx"),
      sum(t12(col("_p") * col("_z"))).cast("double").as("_sxy"),
      sum(t12(col("_z") * col("_z"))).cast("double").as("_syy"))
    val kD = col("k").cast("double")
    val cxx = col("_sxx") - col("_sx") * col("_sx") / kD
    val cxy = col("_sxy") - col("_sx") * col("_sy") / kD
    val cyy = col("_syy") - col("_sy") * col("_sy") / kD
    agg.select(col("k"),
      round(when(cxx > 0,
        col("_sy") / kD - cxy / cxx * col("_sx") / kD), 6)
        .as("intercept_r"),
      round(when(cxx > 0, cxy / cxx), 6).as("slope_r"),
      round(when(cxx > 0 && cyy > 0, cxy * cxy / (cxx * cyy)), 6)
        .as("r2_r"))
  }

  /** Deterministic sign-flip randomization test for "is the paired
    * daily difference symmetric around zero": with d_i the per-day
    * difference and B md5-derived ±1 sign patterns (s_ib = parity of
    * md5(day‖'_'‖b) — reproducible in any engine, no RNG), the
    * add-one permutation p-value is
    *   p = (1 + #{b : |Σ s_ib·d_i| ≥ |Σ d_i|}) / (B + 1).
    * Exact integers throughout. Returns one row: n_days, t_obs, n_b,
    * p_r.
    *
    * Shape: day-grain hash-agg → B-way map-side fan-out (bounded
    * literal grid) → one (b) hash-agg → one rollup. */
  def signFlipTest(daily: DataFrame, dayCol: String, diffCol: String,
      b: Int = 200): DataFrame = {
    require(b >= 1)
    val s = daily.sparkSession
    import s.implicits._
    val obs = daily.agg(sum(col(diffCol)).as("_tobs"),
      count(lit(1)).as("n_days"))
    val flips = daily
      .crossJoin(broadcast((0 until b).toDF("_b")))
      .select(col("_b"),
        (when(conv(substring(md5(concat(col(dayCol).cast("string"),
          lit("_"), col("_b").cast("string"))), 1, 1), 16, 10)
          .cast("int") % 2 === 0, lit(1L)).otherwise(lit(-1L))
          * col(diffCol)).as("_sd"))
      .groupBy(col("_b")).agg(sum(col("_sd")).as("_tb"))
    flips.crossJoin(broadcast(obs))
      .agg(first(col("n_days")).as("n_days"),
        first(col("_tobs")).as("t_obs"),
        count(lit(1)).as("n_b"),
        sum(when(abs(col("_tb")) >= abs(col("_tobs")), 1L)
          .otherwise(0L)).as("_ge"))
      .select(col("n_days"), col("t_obs"), col("n_b"),
        round((col("_ge") + 1).cast("double")
          / (col("n_b") + 1).cast("double"), 6).as("p_r"))
  }
}
