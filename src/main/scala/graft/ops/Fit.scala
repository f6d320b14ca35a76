package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Closed-form model fits computed from ONE pass of exact sufficient
  * statistics: the decision-stump split scan (the inner loop of every
  * tree learner and the standard univariate feature-importance screen)
  * and two-regressor ordinary least squares via the normal equations.
  * The reference leaves modeling to downstream notebooks; these make
  * the engine answer "which feature/threshold separates the label" and
  * "what linear trend fits this group" directly.
  *
  * Scale posture (100 TB): both ops reduce the corpus to a tiny exact
  * aggregate in one hash shuffle — the stump to (feature, value) grain
  * counts (continuous features are pre-bucketed by the caller, so the
  * grain is bounded), OLS to nine DECIMAL(38,0) moments per group —
  * and all floating-point algebra runs on that aggregate with ONE
  * shared parenthesization (the [[Infer]] cross-engine posture).
  */
object Fit {

  /** Best binary split per feature by Gini impurity, over LONG-format
    * input (featureCol names the feature, valueCol its integer-valued
    * observation, labelCol a 0/1 target). Every candidate threshold
    * "x ≤ v" (v = each distinct value except the last — an empty right
    * child is not a split) is scored by the weighted child Gini
    *   G = (n_L·g_L + n_R·g_R)/n,   g = 1 − p² − (1−p)²,
    * and the argmax-gain split wins, ties broken by the SMALLEST
    * threshold. Emits per feature: the chosen threshold, child sizes,
    * root/split Gini and the gain (6 dp).
    *
    * Shape: corpus → (feature, value, n, n_pos) hash-agg; the
    * threshold scan is a cumulative window over that VALUE-GRAIN table
    * partitioned by feature — bounded by the caller's bucketing, never
    * corpus-sized. Counts are exact integers; the impurity algebra is
    * one shared double parenthesization. */
  def giniStump(obs: DataFrame, featureCol: String, valueCol: String,
      labelCol: String): DataFrame = {
    val grain = obs.groupBy(col(featureCol).as("feature"),
        col(valueCol).cast("long").as("v"))
      .agg(count(lit(1)).as("n_v"),
        sum(col(labelCol).cast("long")).as("p_v"))
    val wCum = Window.partitionBy("feature").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("feature")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val scan = grain
      .withColumn("n_l", sum(col("n_v")).over(wCum))
      .withColumn("p_l", sum(col("p_v")).over(wCum))
      .withColumn("n", sum(col("n_v")).over(wAll))
      .withColumn("p", sum(col("p_v")).over(wAll))
      .where(col("n_l") < col("n")) // last value: no right child
    // g(pos, n) = 1 − (pos/n)² − ((n−pos)/n)²; weighted child Gini in
    // the same parenthesization as the oracle builder
    def g(pos: Column, n: Column) =
      lit(1.0) - (pos / n) * (pos / n) -
        ((n - pos) / n) * ((n - pos) / n)
    val nR = col("n") - col("n_l"); val pR = col("p") - col("p_l")
    val gSplit = (col("n_l") * g(col("p_l").cast("double"), col("n_l"))
      + nR * g(pR.cast("double"), nR)) / col("n")
    val gRoot = g(col("p").cast("double"), col("n"))
    val scored = scan.select(col("feature"), col("v"), col("n_l"),
      nR.as("n_r"), gRoot.as("_g0"), gSplit.as("_gs"),
      (gRoot - gSplit).as("_gain"))
    val wBest = Window.partitionBy("feature")
      .orderBy(col("_gain").desc, col("v"))
    scored.withColumn("_rk", row_number().over(wBest))
      .where(col("_rk") === 1)
      .select(col("feature"), col("v").as("split_value"),
        col("n_l").as("n_left"), col("n_r").as("n_right"),
        round(col("_g0"), 6).as("gini_root_r"),
        round(col("_gs"), 6).as("gini_split_r"),
        round(col("_gain"), 6).as("gain_r"))
  }

  /** Hashing-trick featurizer (Weinberger et al., ICML'09): each token
    * hashes to one of `dim` buckets with a ±1 sign drawn from an
    * independent hash bit, and a row's feature vector is the signed
    * bucket count — the fixed-width, vocabulary-free encoding that
    * replaces a terabyte-scale string-indexer fit with a stateless
    * map. Emits LONG format (id, dim, v) — sparse, join-friendly, and
    * exactly what a downstream linear model or LSH consumes.
    *
    * Determinism: md5-hash60 buckets/signs ([[TextOps.hash60]] — the
    * engine-portable hash the samplers already share), integer sums.
    * Shape: explode to token grain, one (id, dim) hash-agg; no
    * vocabulary state anywhere. */
  def featureHash(rows: DataFrame, idCol: String, tokens: Column,
      dim: Int): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    rows.select(col(idCol), explode(tokens).as("_t"))
      .withColumn("_h", TextOps.hash60(col("_t")))
      .select(col(idCol), (col("_h") % dim).cast("int").as("dim"),
        when(expr(s"(_h div $dim) % 2") === 0, 1L).otherwise(-1L)
          .as("_sgn"))
      .groupBy(col(idCol), col("dim"))
      .agg(sum(col("_sgn")).as("v"))
  }

  /** Per-group OLS fit y = b0 + b1·x1 + b2·x2 by the normal equations,
    * solved in closed form (3×3 Cramer). Inputs must be INTEGER-VALUED
    * (scale upstream): all ten sufficient statistics (n, Σx1, Σx2, Σy,
    * Σx1², Σx2², Σx1x2, Σx1y, Σx2y, Σy²) are exact DECIMAL(38,0) sums
    * from ONE hash-agg, and the coefficients + R² are computed from
    * those exact moments in one shared double parenthesization.
    * The singularity guard is EXACT-singularity only: with
    * integer-scaled moments det is integer-valued (×10^…-scaled), so
    * `abs(det) > 1e-9` fires iff det == 0 exactly — collinear designs
    * null out, but NEAR-singular (ill-conditioned) designs pass with
    * coefficients whose stability the caller must judge (the oracle
    * SQL encodes the identical det != 0 condition, which is why the
    * guard is deliberately not a relative-magnitude threshold).
    * n < 3 also yields nulls. */
  def ols2(df: DataFrame, groupCol: String, yCol: String, x1Col: String,
      x2Col: String): DataFrame = {
    def d(c: String) = col(c).cast("decimal(38,0)")
    val agg = df.select(col(groupCol), d(yCol).as("_y"),
        d(x1Col).as("_x1"), d(x2Col).as("_x2"))
      .groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        sum(col("_x1")).as("_s1"), sum(col("_x2")).as("_s2"),
        sum(col("_y")).as("_sy"),
        sum(col("_x1") * col("_x1")).as("_s11"),
        sum(col("_x2") * col("_x2")).as("_s22"),
        sum(col("_x1") * col("_x2")).as("_s12"),
        sum(col("_x1") * col("_y")).as("_s1y"),
        sum(col("_x2") * col("_y")).as("_s2y"),
        sum(col("_y") * col("_y")).as("_syy"))
    def dd(c: String) = col(c).cast("double")
    val n = dd("n")
    val (s1, s2, sy) = (dd("_s1"), dd("_s2"), dd("_sy"))
    val (s11, s22, s12) = (dd("_s11"), dd("_s22"), dd("_s12"))
    val (s1y, s2y, syy) = (dd("_s1y"), dd("_s2y"), dd("_syy"))
    val det0 = n * (s11 * s22 - s12 * s12) - s1 * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s12 - s11 * s2)
    // nullif: Spark 4 ANSI throws on /0 even under when(ok) (eager
    // common-subexpression evaluation) — singular designs divide by null
    val det = nullif(det0, lit(0.0))
    val b0 = (sy * (s11 * s22 - s12 * s12) - s1 * (s1y * s22 - s12 * s2y)
      + s2 * (s1y * s12 - s11 * s2y)) / det
    val b1 = (n * (s1y * s22 - s12 * s2y) - sy * (s1 * s22 - s12 * s2) +
      s2 * (s1 * s2y - s1y * s2)) / det
    val b2 = (n * (s11 * s2y - s1y * s12) - s1 * (s1 * s2y - s1y * s2) +
      sy * (s1 * s12 - s11 * s2)) / det
    val sse = syy - b0 * sy - b1 * s1y - b2 * s2y
    val sst = syy - sy * sy / n
    val ok = col("n") >= 3 && abs(det0) > lit(1e-9)
    agg.select(col(groupCol), col("n"),
      round(when(ok, b0), 6).as("b0_r"),
      round(when(ok, b1), 6).as("b1_r"),
      round(when(ok, b2), 6).as("b2_r"),
      round(when(ok && sst > 0, lit(1.0) - sse / nullif(sst, lit(0.0))),
        6).as("r2_r"))
  }

  /** Weibull fit by median-rank regression (the probability-plot
    * estimator reliability engineering standardized on): uncensored
    * integer durations t ≥ 1 get Benard median ranks
    * F_i = (i − 0.3)/(n + 0.4), and OLS of z = ln(−ln(1−F_i)) on
    * x = ln t yields shape k = slope, scale λ = exp(−intercept/k).
    *
    * Shape: durations reduce to the VALUE GRAIN (t, m_t) with
    * [[Ranks.bandedRunningSum]] giving each run its exclusive rank
    * offset (no unpartitioned window over subjects), then
    * posexplode(sequence) restores one row per subject with its exact
    * integer rank — linear fan-out, and within a tie run x is
    * constant so the regression sums are order-independent by
    * construction. ln/ln·ln terms are 12-dp-rounded DECIMAL sums.
    * Returns one row: n, shape_r, scale_days_r, r2_r. */
  def weibullMedianRank(subjects: DataFrame, tCol: String,
      observedCol: String, bandWidth: Double = 16.0): DataFrame = {
    val obs = subjects
      .where(col(observedCol) && col(tCol) >= 1)
      .groupBy(col(tCol).cast("long").as("_t"))
      .agg(count(lit(1)).as("_m"))
    val tot = obs.agg(sum(col("_m")).as("_n"))
    val ranked = Ranks.bandedRunningSum(obs.withColumn("_g", lit(0)),
        "_g", "_t", "_m", bandWidth)
      .withColumn("_o", col("runsum") - col("_m"))
    val rows = ranked.crossJoin(broadcast(tot))
      .select(col("_t"), col("_o"), col("_n"),
        posexplode(expr("sequence(1, _m)")))
      .withColumn("_i", col("_o") + col("col"))
    val x = log(col("_t").cast("double"))
    val fI = (col("_i").cast("double") - 0.3) /
      (col("_n").cast("double") + 0.4)
    val z = log(-log(lit(1.0) - fI))
    val agg = rows.agg(count(lit(1)).as("n"),
      sum(t12(x)).cast("double").as("_sx"),
      sum(t12(z)).cast("double").as("_sz"),
      sum(t12(x * x)).cast("double").as("_sxx"),
      sum(t12(x * z)).cast("double").as("_sxz"),
      sum(t12(z * z)).cast("double").as("_szz"))
    val n = col("n").cast("double")
    val sxx = n * col("_sxx") - col("_sx") * col("_sx")
    val sxz = n * col("_sxz") - col("_sx") * col("_sz")
    val szz = n * col("_szz") - col("_sz") * col("_sz")
    val k = sxz / nullif(sxx, lit(0.0))
    val a = (col("_sz") - k * col("_sx")) / n
    val ok = col("n") >= 2 && sxx > 0
    agg.select(col("n"),
      round(when(ok, k), 6).as("shape_r"),
      round(when(ok, exp(-a / k)), 6).as("scale_days_r"),
      round(when(ok && szz > 0, sxz * sxz / (sxx * szz)), 6)
        .as("r2_r"))
  }

  /** Discrete power-law tail exponent by the continuous-MLE
    * approximation (Clauset–Shalizi–Newman 2009, eq. 3.7):
    * α = 1 + n / Σ ln(x_i/(xmin − ½)) over the tail x ≥ xmin, with
    * SE = (α − 1)/√n — "is user activity Zipf-tailed, and how heavy".
    * One filtered hash-agg; the ln terms are 12-dp DECIMAL sums.
    * Returns one row: n_tail, alpha_r, se_r. */
  def powerlawAlpha(df: DataFrame, xCol: String,
      xmin: Long): DataFrame = {
    require(xmin >= 1, "xmin must be >= 1")
    val tail = df.where(col(xCol) >= xmin)
    val term = log(col(xCol).cast("double") / (xmin - 0.5))
    val agg = tail.agg(count(lit(1)).as("n_tail"),
      sum(t12(term)).cast("double")
        .as("_sl"))
    val n = col("n_tail").cast("double")
    val alpha = lit(1.0) + n / nullif(col("_sl"), lit(0.0))
    agg.select(col("n_tail"),
      round(when(col("n_tail") >= 2, alpha), 6).as("alpha_r"),
      round(when(col("n_tail") >= 2, (alpha - 1) / sqrt(n)), 6)
        .as("se_r"))
  }

  /** Generalized-Pareto fit of threshold exceedances by method of
    * moments (Hosking & Wallis '87): over z = y − u for y > u,
    * ξ = ½(1 − m²/s²) and β = ½m(1 + m²/s²) from the sample mean m
    * and (n−1)-variance s² — the peaks-over-threshold complement to
    * the q336 block-maxima Gumbel. Exceedances enter as exact integer
    * cents, so Σz and Σz² are exact DECIMAL(38,0) and the two moments
    * meet in one shared double parenthesization. Returns one row:
    * u_cents, n_exceed, mean_r, xi_r, beta_r. */
  def gpdExceedances(df: DataFrame, yCentsCol: String,
      uCents: Long): DataFrame =
    gpdExceedances(df, yCentsCol,
      df.sparkSession.range(1).select(lit(uCents).as("u_cents")))

  /** Threshold-frame overload: `u` is a 1-row (u_cents) frame — lets
    * the caller derive the threshold from the data itself (e.g. an
    * exact quantile) while the fit stays one broadcast join away. */
  def gpdExceedances(df: DataFrame, yCentsCol: String,
      u: DataFrame): DataFrame = {
    val z = (col(yCentsCol) - col("u_cents")).cast("decimal(38,0)")
    val agg = df.crossJoin(broadcast(u))
      .where(col(yCentsCol) > col("u_cents"))
      .groupBy(col("u_cents"))
      .agg(count(lit(1)).as("n_exceed"),
        sum(z).as("_sz"), sum(z * z).as("_szz"))
    val n = col("n_exceed").cast("double")
    val m = col("_sz").cast("double") / n
    val s2 = (col("_szz").cast("double") -
      col("_sz").cast("double") * col("_sz").cast("double") / n) /
      (n - 1)
    val ratio = m * m / nullif(s2, lit(0.0))
    val ok = col("n_exceed") >= 3 && s2 > 0
    agg.select(col("u_cents"), col("n_exceed"),
      round(when(ok, m), 6).as("mean_r"),
      round(when(ok, (lit(1.0) - ratio) / 2), 6).as("xi_r"),
      round(when(ok, m * (lit(1.0) + ratio) / 2), 6).as("beta_r"))
  }

  /** Threshold sweep of binary-classifier quality: per threshold t,
    * the confusion counts of pred = (score > t) against the label and
    * the derived precision / recall / F1 / Matthews correlation. MCC's
    * four-way product rides DECIMAL(38,0) (exact past 2³¹-row
    * corpora); undefined cells (empty class or zero denominator)
    * carry NULL. One corpus pass fanned by the broadcast |thresholds|
    * grid, one hash-agg. Returns one row per threshold. */
  def mccF1Sweep(df: DataFrame, score: Column, label: Column,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val base = df.select(score.as("_s"),
      when(label, 1L).otherwise(0L).as("_y"))
    val grid = df.sparkSession.range(1)
      .select(explode(array(thresholds.map(lit(_)): _*))
        .as("threshold"))
    val g = base.crossJoin(broadcast(grid))
      .groupBy(col("threshold"))
      .agg(
        sum(when(col("_y") === 1 && col("_s") > col("threshold"), 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("_y") === 0 && col("_s") > col("threshold"), 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("_y") === 1 && !(col("_s") > col("threshold")), 1L)
          .otherwise(0L)).as("fn"),
        sum(when(col("_y") === 0 && !(col("_s") > col("threshold")), 1L)
          .otherwise(0L)).as("tn"))
    val prec = (col("tp").cast("double")
      / nullif((col("tp") + col("fp")).cast("double"), lit(0.0)))
    val rec = (col("tp").cast("double")
      / nullif((col("tp") + col("fn")).cast("double"), lit(0.0)))
    val mccDen = sqrt((d38(col("tp") + col("fp"))
      * (col("tp") + col("fn")) * (col("tn") + col("fp"))
      * (col("tn") + col("fn"))).cast("double"))
    val mccNum = (d38(col("tp")) * col("tn")
      - d38(col("fp")) * col("fn")).cast("double")
    g.select(col("threshold"), col("tp"), col("fp"), col("fn"),
        col("tn"),
        round(prec, 6).as("precision_r"),
        round(rec, 6).as("recall_r"),
        round(lit(2.0) * prec * rec
          / nullif(prec + rec, lit(0.0)), 6).as("f1_r"),
        round(mccNum / nullif(mccDen, lit(0.0)), 6).as("mcc_r"))
      .orderBy(col("threshold"))
  }

  /** Pareto-smoothed-importance-sampling k̂ diagnostic (Vehtari et al.,
    * "Pareto smoothed importance sampling", JMLR 2024): fit a GPD to
    * the upper tail of an importance-weight distribution; the shape
    * k̂ says whether the weights are usable (k̂ < 0.5: reliable;
    * 0.5–0.7: shaky; > 0.7: the estimate cannot be trusted — a few
    * weights dominate). The weights enter as an exact integer column
    * (caller scales, e.g. micro-units); the tail is the top 1/tailDenom
    * by weight (k = ⌈n / tailDenom⌉ in EXACT integer arithmetic — a
    * float tail fraction would put the cutoff on a double boundary),
    * selected by a BANDED rank (never a global sort task), threshold
    * u = the k-th largest weight, GPD fit = the [[gpdExceedances]]
    * method-of-moments on the strict exceedances. Returns one row:
    * (n_weights, u, n_exceed, xi_r and the mean/beta of the fit) —
    * xi_r IS k̂. */
  def psisKhat(weights: DataFrame, wCol: String, idCol: String,
      tailDenom: Int, bandWidth: Double): DataFrame = {
    require(tailDenom >= 2)
    // the weight frame feeds THREE consumers (banded rank, the count,
    // and the exceedance scan); its upstream is typically a whole
    // importance-weighting pipeline — materialize once (doc-sized,
    // executor-resident) instead of re-running the pipeline per branch
    val w = weights.select(col(idCol).as("_id"),
      col(wCol).cast("long").as("_w")).localCheckpoint()
    val ranked = Ranks.bandedRank(
      w.select(col("_id"), col("_w"), (-col("_w")).cast("double")
        .as("_neg")).withColumn("_g0", lit(0)),
      "_g0", "_neg", "_id", bandWidth)
    val cnt = w.agg(count(lit(1)).as("_n"))
      .select(col("_n"),
        expr(s"(_n + ${tailDenom - 1}) div $tailDenom").as("_k"))
    // bandedRank's rnk is 0-BASED: the top-k rows are rnk < k
    val u = ranked.crossJoin(broadcast(cnt))
      .where(col("rnk") < col("_k"))
      .agg(min(col("_w")).as("u_cents"))
    gpdExceedances(w.select(col("_w").as("_wc")), "_wc", u)
      .crossJoin(broadcast(cnt.select(col("_n").as("n_weights"))))
      .select(col("n_weights"), col("u_cents").as("u"),
        col("n_exceed"), col("mean_r"), col("xi_r").as("khat_r"),
        col("beta_r"))
  }

  /** Zero-inflated Poisson fit by EM on a count panel: the mixture
    * π·δ₀ + (1−π)·Poisson(λ) whose EM reduces to SCALAR closed forms
    * — with N = cells, n₀ = zero cells, S = Σy, each step is
    *   z₀ = π / (π + (1−π)·e^{−λ}) ;  π′ = n₀z₀/N ;
    *   λ′ = S/(N − n₀z₀)
    * so the whole fit is ONE corpus agg followed by `iters` unrolled
    * scalar expressions (every float pinned to the 12-dp grid, exp on
    * a pinned argument — the emStep idiom). Dominance of zeros beyond
    * Poisson's e^{−λ} share is exactly what π̂ measures. Returns one
    * row: n, n0, s, pi_r, lambda_r. */
  def zipEm(counts: DataFrame, yCol: String, iters: Int = 10,
      p0: Double = 0.25): DataFrame = {
    require(iters >= 1 && p0 > 0 && p0 < 1)
    val nD = col("n").cast("double")
    val n0D = col("n0").cast("double")
    val sD = col("s").cast("double")
    // FS-EM loop discipline: a 1-row parameter frame checkpointed per
    // step (a fully unrolled expression tree grows ~3^iters nodes)
    var par = counts.agg(count(lit(1)).as("n"),
        sum(when(col(yCol) === 0, 1L).otherwise(0L)).as("n0"),
        sum(col(yCol)).as("s"))
      .select(col("n"), col("n0"), col("s"),
        round(lit(p0), 12).as("_pi"),
        round(sD / nD / (1.0 - p0), 12).as("_lam"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val z0 = round(col("_pi")
        / (col("_pi") + (lit(1.0) - col("_pi")) * exp(-col("_lam"))),
        12)
      par = par.select(col("n"), col("n0"), col("s"),
          round(n0D * z0 / nD, 12).as("_pi"),
          round(sD / (nD - n0D * z0), 12).as("_lam"))
        .localCheckpoint()
    }
    par.select(col("n"), col("n0"), col("s"),
      round(col("_pi"), 6).as("pi_r"),
      round(col("_lam"), 6).as("lambda_r"))
  }

  /** Two-feature logistic regression by IRLS on a BINNED design (the
    * [[graft.ops.Infer]] plattScaling discipline lifted to 3
    * parameters): rows are (x1, x2, n, k) cells — trials and
    * successes per distinct feature pair — so the per-step sigmoid
    * runs on the bounded cell grid, never on raw rows. Each Newton
    * step aggregates the nine X′WX / X′(y−p) moments (12-dp terms)
    * and solves the 3×3 system in closed Cramer form on a 1-row
    * parameter frame (FS-EM checkpoint loop). Features enter as
    * ln(1+x) pinned to 12 dp. Returns one row: n_trials, k_pos,
    * b0_r, b1_r, b2_r, deviance_r. */
  def logistic2Irls(cells: DataFrame, x1Col: String, x2Col: String,
      nCol: String, kCol: String, iters: Int = 4): DataFrame = {
    require(iters >= 1)
    val base = cells.select(
        round(log(lit(1.0) + col(x1Col).cast("double")), 12).as("_l1"),
        round(log(lit(1.0) + col(x2Col).cast("double")), 12).as("_l2"),
        col(nCol).cast("double").as("_n"),
        col(kCol).cast("double").as("_k"))
      .localCheckpoint() // the IRLS frame; consumed every step
    var par = base.sparkSession.range(1).select(
        lit(0.0).as("_b0"), lit(0.0).as("_b1"), lit(0.0).as("_b2"))
      .localCheckpoint()
    for (_ <- 1 to iters) {
      val p = round(lit(1.0) / (lit(1.0) + exp(-round(col("_b0")
        + col("_b1") * col("_l1") + col("_b2") * col("_l2"), 12))), 12)
      val e = base.crossJoin(broadcast(par))
        .withColumn("_p", p)
        .withColumn("_w", col("_n") * col("_p")
          * (lit(1.0) - col("_p")))
        .withColumn("_r", col("_k") - col("_n") * col("_p"))
      val m = e.agg(
        sum(t12(col("_w"))).cast("double").as("sw"),
        sum(t12(col("_w") * col("_l1"))).cast("double").as("sw1"),
        sum(t12(col("_w") * col("_l2"))).cast("double").as("sw2"),
        sum(t12(col("_w") * col("_l1") * col("_l1"))).cast("double")
          .as("sw11"),
        sum(t12(col("_w") * col("_l1") * col("_l2"))).cast("double")
          .as("sw12"),
        sum(t12(col("_w") * col("_l2") * col("_l2"))).cast("double")
          .as("sw22"),
        sum(t12(col("_r"))).cast("double").as("sr"),
        sum(t12(col("_r") * col("_l1"))).cast("double").as("sr1"),
        sum(t12(col("_r") * col("_l2"))).cast("double").as("sr2"),
        first(col("_b0")).as("_b0"), first(col("_b1")).as("_b1"),
        first(col("_b2")).as("_b2"))
      val det = (col("sw") * (col("sw11") * col("sw22")
          - col("sw12") * col("sw12"))
        - col("sw1") * (col("sw1") * col("sw22")
          - col("sw12") * col("sw2"))
        + col("sw2") * (col("sw1") * col("sw12")
          - col("sw11") * col("sw2")))
      val d0 = (col("sr") * (col("sw11") * col("sw22")
          - col("sw12") * col("sw12"))
        - col("sw1") * (col("sr1") * col("sw22")
          - col("sw12") * col("sr2"))
        + col("sw2") * (col("sr1") * col("sw12")
          - col("sw11") * col("sr2")))
      val d1 = (col("sw") * (col("sr1") * col("sw22")
          - col("sw12") * col("sr2"))
        - col("sr") * (col("sw1") * col("sw22")
          - col("sw12") * col("sw2"))
        + col("sw2") * (col("sw1") * col("sr2")
          - col("sr1") * col("sw2")))
      val d2 = (col("sw") * (col("sw11") * col("sr2")
          - col("sr1") * col("sw12"))
        - col("sw1") * (col("sw1") * col("sr2")
          - col("sr1") * col("sw2"))
        + col("sr") * (col("sw1") * col("sw12")
          - col("sw11") * col("sw2")))
      par = m.select(
          round(col("_b0") + d0 / det, 12).as("_b0"),
          round(col("_b1") + d1 / det, 12).as("_b1"),
          round(col("_b2") + d2 / det, 12).as("_b2"))
        .localCheckpoint()
    }
    val pF = round(lit(1.0) / (lit(1.0) + exp(-round(col("_b0")
      + col("_b1") * col("_l1") + col("_b2") * col("_l2"), 12))), 12)
    // the 12-dp pin can saturate p to exactly 0/1 — clamp the
    // deviance logs on BOTH engines (the plattScaling clamp)
    val pc = least(greatest(col("_p"), lit(1e-12)),
      lit(1.0 - 1e-12))
    base.crossJoin(broadcast(par))
      .withColumn("_p", pF)
      .agg(sum(col("_n")).cast("long").as("n_trials"),
        sum(col("_k")).cast("long").as("k_pos"),
        first(col("_b0")).as("_b0"), first(col("_b1")).as("_b1"),
        first(col("_b2")).as("_b2"),
        sum(t12(lit(-2.0) * (col("_k") * log(pc)
          + (col("_n") - col("_k"))
            * log(lit(1.0) - pc)))).cast("double").as("_dev"))
      .select(col("n_trials"), col("k_pos"),
        round(col("_b0"), 6).as("b0_r"),
        round(col("_b1"), 6).as("b1_r"),
        round(col("_b2"), 6).as("b2_r"),
        round(col("_dev"), 6).as("deviance_r"))
  }
}
