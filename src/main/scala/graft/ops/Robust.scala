package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Round-12 robust-statistics batch: iterative estimators that follow
  * the engine's fixed-step bounded-grain discipline (the plattScaling
  * idiom — one data-sized pass to a grid/grain, then every iteration is
  * a crossJoin(broadcast(1-row params)) + aggregate over the bounded
  * frame, params re-rounded to the 12-dp grid each step so the DuckDB
  * oracle replays the identical trajectory).
  *
  * All heavy sums ride exact DECIMAL(38,0) integer products or
  * 12-dp-gridded DECIMAL(28,12) terms (the Markov/ols2 overflow
  * discipline) — never raw double accumulation whose order varies
  * across engines.
  */
object Robust {

  private def d38(c: Column) = c.cast("decimal(38,0)")

  /** Iterative Grubbs / generalized-ESD style outlier peeling on a
    * BOUNDED grain (day spine, key grid): `rounds` times, compute the
    * remaining frame's mean and sample sd from exact integer sums,
    * extract the single largest |deviation| row (ties: smallest key),
    * emit it with its R statistic, remove it, repeat. The classical
    * GESD critical values need t-quantiles (not portably exact across
    * engines); this emits the R_i statistics themselves — the monitor
    * compares them to its site-configured thresholds.
    *
    * `yCol` must be an exact integer (cents/counts): sums and
    * sum-of-squares run on DECIMAL(38,0) so mean/sd are the same
    * doubles in any engine. Each removal localCheckpoints the ≤grain
    * frame — `rounds` is small and fixed. Returns one row per round:
    * (round, key, y, n_remaining, mean_r, sd_r, r_stat_r). */
  def gesdPeel(grain: DataFrame, keyCol: String, yCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1)
    var cur = grain.select(col(keyCol).as("_k"),
      col(yCol).cast("long").as("_y")).localCheckpoint()
    val out = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to rounds) {
      val stats = cur.agg(count(lit(1)).as("_n"),
        sum(d38(col("_y"))).as("_s"),
        sum(d38(col("_y")) * d38(col("_y"))).as("_s2"))
      val mean = col("_s").cast("double") / col("_n").cast("double")
      val variance = ((col("_s2").cast("double")
        - col("_s").cast("double") * col("_s").cast("double")
          / col("_n").cast("double"))
        / (col("_n").cast("double") - 1.0))
      val top = cur.crossJoin(broadcast(stats))
        .withColumn("_mean", mean)
        .withColumn("_sd", sqrt(variance))
        .withColumn("_dev", abs(col("_y").cast("double") - col("_mean")))
        .orderBy(col("_dev").desc, col("_k").asc)
        .limit(1)
        .select(lit(i).as("round"), col("_k").as(keyCol),
          col("_y").as(yCol), col("_n").as("n_remaining"),
          round(col("_mean"), 6).as("mean_r"),
          round(col("_sd"), 6).as("sd_r"),
          round(col("_dev") / col("_sd"), 6).as("r_stat_r"))
        .localCheckpoint()
      out += top
      cur = cur.join(top.select(col(keyCol).as("_k")), Seq("_k"),
        "left_anti").localCheckpoint()
    }
    out.reduce(_ unionByName _)
  }

  /** Huber M-estimator line fit y = a + b·x by IRLS on a bounded grain
    * (day spine): start at OLS, then `iters` re-weighted steps with
    * w = 1 for |r| ≤ delta, delta/|r| beyond — the regression that
    * shrugs off the outlier days OLS chases. Every step's params are
    * re-rounded to 12 dp and every weighted sum is a 12-dp-gridded
    * DECIMAL — the oracle replays the identical trajectory. `xCol`,
    * `yCol` are doubles on caller-scaled units (keep |w·x·y| < 1e16 so
    * the decimal grid never saturates). Returns one row:
    * (n, a_ols_r, b_ols_r, a_r, b_r, w_min_r, n_downweighted). */
  def huberIrls(grain: DataFrame, xCol: String, yCol: String,
      delta: Double, iters: Int): DataFrame = {
    require(iters >= 1 && delta > 0)
    val g = grain.select(col(xCol).cast("double").as("_x"),
      col(yCol).cast("double").as("_y")).localCheckpoint()
    def wls(weighted: DataFrame): DataFrame = weighted.agg(
        sum(t12(col("_w"))).cast("double").as("_sw"),
        sum(t12(col("_w") * col("_x"))).cast("double").as("_swx"),
        sum(t12(col("_w") * col("_y"))).cast("double").as("_swy"),
        sum(t12(col("_w") * col("_x") * col("_x"))).cast("double")
          .as("_swxx"),
        sum(t12(col("_w") * col("_x") * col("_y"))).cast("double")
          .as("_swxy"),
        sum(t12(when(col("_w") < 1.0, 1.0).otherwise(0.0)))
          .cast("double").as("_ndw"),
        min(round(col("_w"), 6)).as("_wmin"))
      .select(
        round((col("_sw") * col("_swxy") - col("_swx") * col("_swy"))
          / (col("_sw") * col("_swxx") - col("_swx") * col("_swx")), 12)
          .as("_b"),
        round((col("_swy") - ((col("_sw") * col("_swxy")
          - col("_swx") * col("_swy"))
          / (col("_sw") * col("_swxx") - col("_swx") * col("_swx")))
          * col("_swx")) / col("_sw"), 12).as("_a"),
        col("_ndw"), col("_wmin"), col("_sw"))
    val ols = wls(g.withColumn("_w", lit(1.0))).localCheckpoint()
    var fit = ols
    for (_ <- 1 to iters) {
      val weighted = g.crossJoin(broadcast(fit.select("_a", "_b")))
        .withColumn("_r",
          round(col("_y") - col("_a") - col("_b") * col("_x"), 12))
        .withColumn("_w", when(abs(col("_r")) <= delta, lit(1.0))
          .otherwise(round(lit(delta) / abs(col("_r")), 12)))
      fit = wls(weighted).localCheckpoint()
    }
    g.agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(ols.select(round(col("_a"), 6).as("a_ols_r"),
        round(col("_b"), 6).as("b_ols_r"))))
      .crossJoin(broadcast(fit.select(round(col("_a"), 6).as("a_r"),
        round(col("_b"), 6).as("b_r"),
        col("_wmin").as("w_min_r"),
        col("_ndw").cast("long").as("n_downweighted"))))
  }

  /** Two-component 1-D Gaussian mixture by EM on a bounded grain —
    * `iters` fixed steps from the deterministic (min, max, pooled-var,
    * π = 0.5) start. Responsibilities run in the LOG domain with both
    * the log-ratio argument and the sigmoid value pinned to 12 dp (the
    * plattScaling exp discipline), so both engines walk the same
    * trajectory. Component variances are floored at `varFloor` (EM on a
    * grain with duplicate extremes can collapse a component). Returns
    * one row: (n, pi1_r, mu1_r, mu2_r, sd1_r, sd2_r). */
  def gmm2Em(grain: DataFrame, yCol: String, iters: Int,
      varFloor: Double = 1e-6): DataFrame = {
    require(iters >= 1)
    val g = grain.select(col(yCol).cast("double").as("_y"))
      .localCheckpoint()
    val init = g.agg(count(lit(1)).as("_n"),
        min(col("_y")).as("_mn"), max(col("_y")).as("_mx"),
        sum(t12(col("_y"))).cast("double").as("_s"),
        sum(t12(col("_y") * col("_y"))).cast("double").as("_s2"))
      .select(col("_n"),
        lit(0.5).as("_pi1"),
        round(col("_mn"), 12).as("_mu1"),
        round(col("_mx"), 12).as("_mu2"),
        round(greatest((col("_s2") - col("_s") * col("_s") / col("_n"))
          / col("_n"), lit(varFloor)), 12).as("_v1"),
        round(greatest((col("_s2") - col("_s") * col("_s") / col("_n"))
          / col("_n"), lit(varFloor)), 12).as("_v2"))
      .localCheckpoint()
    var par = init
    for (_ <- 1 to iters) {
      // log responsibility ratio L = ln(p2/p1) per row; gamma1 = sigmoid(-L)
      val z1 = (col("_y") - col("_mu1")) * (col("_y") - col("_mu1")) / col("_v1")
      val z2 = (col("_y") - col("_mu2")) * (col("_y") - col("_mu2")) / col("_v2")
      val lr = round(log(lit(1.0) - col("_pi1")) - log(col("_pi1"))
        + lit(0.5) * log(col("_v1")) - lit(0.5) * log(col("_v2"))
        + lit(0.5) * z1 - lit(0.5) * z2, 12)
      val e = g.crossJoin(broadcast(par))
        .withColumn("_g1", round(lit(1.0) / (lit(1.0) + exp(lr)), 12))
      val m = e.agg(first(col("_n")).as("_n"),
          sum(t12(col("_g1"))).cast("double").as("_t1"),
          sum(t12(col("_g1") * col("_y"))).cast("double").as("_ty1"),
          sum(t12(col("_g1") * col("_y") * col("_y"))).cast("double")
            .as("_tyy1"),
          sum(t12((lit(1.0) - col("_g1")) * col("_y"))).cast("double")
            .as("_ty2"),
          sum(t12((lit(1.0) - col("_g1")) * col("_y") * col("_y")))
            .cast("double").as("_tyy2"))
        .select(col("_n"),
          round(col("_t1") / col("_n").cast("double"), 12).as("_pi1"),
          round(col("_ty1") / col("_t1"), 12).as("_mu1"),
          round(col("_ty2") / (col("_n").cast("double") - col("_t1")), 12)
            .as("_mu2"),
          round(greatest(col("_tyy1") / col("_t1")
            - (col("_ty1") / col("_t1")) * (col("_ty1") / col("_t1")),
            lit(varFloor)), 12).as("_v1"),
          round(greatest(col("_tyy2")
            / (col("_n").cast("double") - col("_t1"))
            - (col("_ty2") / (col("_n").cast("double") - col("_t1")))
              * (col("_ty2") / (col("_n").cast("double") - col("_t1"))),
            lit(varFloor)), 12).as("_v2"))
      par = m.localCheckpoint()
    }
    par.select(col("_n").as("n"), round(col("_pi1"), 6).as("pi1_r"),
      round(col("_mu1"), 6).as("mu1_r"),
      round(col("_mu2"), 6).as("mu2_r"),
      round(sqrt(col("_v1")), 6).as("sd1_r"),
      round(sqrt(col("_v2")), 6).as("sd2_r"))
  }

  /** Cox proportional hazards with ONE BINARY covariate (Breslow tie
    * handling), `newton` fixed Newton steps from β = 0 — the
    * survival-analysis regression whose risk-set sums reduce, for a
    * binary x, to the per-time-grain at-risk counts (n0_t, n1_t) the
    * Kaplan–Meier machinery already computes: with s_t = Σ x over
    * events at t and d_t events,
    *   U(β) = Σ_t [s_t − d_t·n1_t·e^β / (n0_t + n1_t·e^β)],
    *   I(β) = Σ_t d_t·n0_t·n1_t·e^β / (n0_t + n1_t·e^β)²,
    * β ← β + U/I. Everything after the subjects agg lives on the
    * bounded time grain; e^β is pinned to 12 dp on argument and value.
    * Input: (tCol integer grain, eventCol 0/1, xCol 0/1). Returns one
    * row: (n_subjects, n_events, beta_r, hr_r, se_r). */
  def coxPhBinary(subjects: DataFrame, tCol: String, eventCol: String,
      xCol: String, newton: Int): DataFrame = {
    require(newton >= 1)
    val s = subjects.select(col(tCol).cast("long").as("_t"),
      col(eventCol).cast("long").as("_e"), col(xCol).cast("long").as("_x"))
    val perT = s.groupBy(col("_t")).agg(
        sum(col("_e")).as("_d"),
        sum(col("_e") * col("_x")).as("_s"),
        count(lit(1)).as("_in"),
        sum(col("_x")).as("_in1"))
    val tot = s.agg(count(lit(1)).as("_n"), sum(col("_x")).as("_n1t"),
      sum(col("_e")).as("_ne"))
    // at-risk counts at t = totals minus strictly-earlier entries
    // (suffix sums via the bounded-grain cumulative window —
    // WindowGrainSpec: the KM/q387 time-grain idiom)
    val w = org.apache.spark.sql.expressions.Window.orderBy(col("_t"))
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, -1)
    val risk = perT.crossJoin(broadcast(tot))
      .withColumn("_cin", coalesce(sum(col("_in")).over(w), lit(0L)))
      .withColumn("_cin1", coalesce(sum(col("_in1")).over(w), lit(0L)))
      .withColumn("_nr1", col("_n1t") - col("_cin1"))
      .withColumn("_nr0", (col("_n") - col("_n1t"))
        - (col("_cin") - col("_cin1")))
      .where(col("_d") > 0)
      .select(col("_t"), col("_d"), col("_s"), col("_nr0"), col("_nr1"))
      .localCheckpoint()
    var beta = risk.sparkSession.range(1)
      .select(lit(0.0).as("_beta")).localCheckpoint()
    var last: DataFrame = null
    for (_ <- 1 to newton) {
      val eb = round(exp(round(col("_beta"), 12)), 12)
      val den = col("_nr0").cast("double") + col("_nr1").cast("double") * col("_eb")
      val stepAgg = risk.crossJoin(broadcast(beta))
        .withColumn("_eb", eb)
        .agg(
          sum(t12(col("_s").cast("double")
            - col("_d").cast("double") * col("_nr1").cast("double")
              * col("_eb") / den)).cast("double").as("_u"),
          sum(t12(col("_d").cast("double") * col("_nr0").cast("double")
            * col("_nr1").cast("double") * col("_eb") / (den * den)))
            .cast("double").as("_i"),
          first(round(col("_beta"), 12)).as("_b0"))
        .localCheckpoint()
      last = stepAgg
      beta = stepAgg.select(round(col("_b0") + col("_u")
        / nullif(col("_i"), lit(0.0)), 12).as("_beta")).localCheckpoint()
    }
    tot.crossJoin(broadcast(beta)).crossJoin(broadcast(
        last.select(col("_i").as("_ifin"))))
      .select(col("_n").as("n_subjects"), col("_ne").as("n_events"),
        round(col("_beta"), 6).as("beta_r"),
        round(exp(round(col("_beta"), 12)), 6).as("hr_r"),
        round(lit(1.0) / sqrt(col("_ifin")), 6).as("se_r"))
  }

}
