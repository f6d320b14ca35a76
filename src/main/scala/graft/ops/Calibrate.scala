package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Probability-calibration and policy-evaluation metrics: is a model's
  * predicted probability TRUSTWORTHY (Hosmer–Lemeshow, ECE/MCE), did a
  * new model move subjects in the right direction (NRI/IDI), what
  * would a different action policy have earned on the logged data
  * (IPS/SNIPS), and is a paired categorical transition symmetric
  * (Bowker). These complement q261's Brier decomposition and q280's
  * isotonic recalibration with the TEST and COUNTERFACTUAL views.
  *
  * Scale posture: every op is one (or two) corpus hash-aggs onto a
  * bounded grid — probability bins, k×k transition cells, action ×
  * context cells — followed by grid arithmetic. Float terms are 12-dp
  * DECIMAL sums.
  */
object Calibrate {


  /** Hosmer–Lemeshow goodness-of-calibration χ² on EQUAL-WIDTH
    * probability bins (documented divergence from the classic
    * deciles-of-risk: equal-width bins are deterministic under ties
    * and cross-engine exact; with a well-spread score the test is the
    * same). Bins with a degenerate expectation (E₁ ≤ 0 or E₀ ≤ 0) are
    * excluded on both engines. Returns one row: n, n_bins_used, hl_r,
    * df (= used − 2, the fitted-model convention). */
  def hosmerLemeshow(df: DataFrame, probCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2)
    val b = least(floor(col(probCol) * bins), lit(bins - 1))
    val per = df.groupBy(b.as("_b"))
      .agg(count(lit(1)).as("_ng"),
        sum(col(labelCol).cast("long")).as("_o1"),
        sum(t12(col(probCol))).as("_e1"))
      .select(col("_b"), col("_ng"), col("_o1"),
        col("_e1").cast("double").as("_e1"))
      .where(col("_e1") > 0 && col("_ng").cast("double") - col("_e1") > 0)
    val term = ((col("_o1").cast("double") - col("_e1"))
        * (col("_o1").cast("double") - col("_e1")) / col("_e1")
      + ((col("_ng") - col("_o1")).cast("double")
          - (col("_ng").cast("double") - col("_e1")))
        * ((col("_ng") - col("_o1")).cast("double")
          - (col("_ng").cast("double") - col("_e1")))
        / (col("_ng").cast("double") - col("_e1")))
    per.agg(sum(col("_ng")).as("n"),
        count(lit(1)).as("n_bins_used"),
        sum(t12(term)).as("_hl"))
      .select(col("n"), col("n_bins_used"),
        round(col("_hl").cast("double"), 6).as("hl_r"),
        (col("n_bins_used") - 2).as("df"))
  }

  /** Expected / maximum calibration error on equal-width bins:
    * ECE = Σ_g (n_g/N)·|acc_g − conf_g|, MCE = max_g |acc_g −
    * conf_g| — the reliability-diagram summary numbers. Returns one
    * row: n, ece_r, mce_r. */
  def eceMce(df: DataFrame, probCol: String, labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2)
    val b = least(floor(col(probCol) * bins), lit(bins - 1))
    val per = df.groupBy(b.as("_b"))
      .agg(count(lit(1)).as("_ng"),
        sum(col(labelCol).cast("long")).as("_o1"),
        sum(t12(col(probCol))).as("_sp"))
    val gap = abs(col("_o1").cast("double") / col("_ng").cast("double")
      - col("_sp").cast("double") / col("_ng").cast("double"))
    per.agg(sum(col("_ng")).as("n"),
        sum(t12(col("_ng").cast("double") * gap)).as("_wgap"),
        max(round(gap, 12)).as("_mce"))
      .select(col("n"),
        round(col("_wgap").cast("double") / col("n").cast("double"), 6)
          .as("ece_r"),
        round(col("_mce"), 6).as("mce_r"))
  }

  /** Off-policy evaluation of a DETERMINISTIC target action under a
    * context-stratified empirical logging propensity: with contexts c
    * and logged propensity p̂(a|c) = n_{a,c}/n_c, the importance
    * weight of a logged row is w = 1{a = target}/p̂(target|c).
    *   V_IPS   = Σ w·r / N        (unbiased, high variance)
    *   V_SNIPS = Σ w·r / Σ w      (self-normalized, lower variance)
    *   V_CLIP  = Σ min(w, M)·r / N (clipped at M)
    *   ESS     = (Σw)²/Σw²        (effective sample size diagnostic)
    * Returns one row: n, v_ips_r, v_snips_r, v_clip_r, ess_r.
    *
    * Shape: one (context, action) hash-agg for propensities,
    * broadcast back onto the (context) grain, one final agg — the
    * corpus is scanned twice, never joined row-to-row. */
  def ipsSnips(df: DataFrame, contextCol: String, actionCol: String,
      rewardCol: String, targetAction: String,
      clipM: Double = 10.0): DataFrame = {
    val byCtx = df.groupBy(col(contextCol))
      .agg(count(lit(1)).as("_nc"),
        sum(when(col(actionCol) === targetAction, 1L).otherwise(0L))
          .as("_nt"))
      .where(col("_nt") > 0) // contexts never logging the target
    // carry no information about it — excluded on both engines
    val w = (col("_nc").cast("double") / col("_nt").cast("double"))
    val scored = df.join(broadcast(byCtx), Seq(contextCol))
      .select(
        when(col(actionCol) === targetAction, w).otherwise(lit(0.0))
          .as("_w"),
        when(col(actionCol) === targetAction,
          least(w, lit(clipM))).otherwise(lit(0.0)).as("_wc"),
        col(rewardCol).cast("double").as("_r"))
    scored.agg(count(lit(1)).as("n"),
        sum(t12(col("_w") * col("_r"))).as("_swr"),
        sum(t12(col("_w"))).as("_sw"),
        sum(t12(col("_w") * col("_w"))).as("_sw2"),
        sum(t12(col("_wc") * col("_r"))).as("_swcr"))
      .select(col("n"),
        round(col("_swr").cast("double") / col("n").cast("double"), 6)
          .as("v_ips_r"),
        round(col("_swr").cast("double") / col("_sw").cast("double"),
          6).as("v_snips_r"),
        round(col("_swcr").cast("double") / col("n").cast("double"), 6)
          .as("v_clip_r"),
        round(col("_sw").cast("double") * col("_sw").cast("double")
          / col("_sw2").cast("double"), 6).as("ess_r"))
  }

  /** Bowker's test of symmetry for a paired k×k categorical
    * transition (the k-class McNemar): χ² = Σ_{i<j} (n_ij − n_ji)² /
    * (n_ij + n_ji) over discordant pairs with n_ij + n_ji > 0;
    * df = the number of such pairs. Pure integer counting until the
    * final division. Returns one row: n_pairs, chi2_r, df. */
  def bowker(pairs: DataFrame, fromCol: String, toCol: String)
      : DataFrame = {
    val cells = pairs.groupBy(col(fromCol).as("_i"),
      col(toCol).as("_j")).agg(count(lit(1)).as("_n"))
    val upper = cells.where(col("_i") < col("_j"))
      .select(col("_i"), col("_j"), col("_n").as("_nij"))
    val lower = cells.where(col("_i") > col("_j"))
      .select(col("_j").as("_i"), col("_i").as("_j"),
        col("_n").as("_nji"))
    val joined = upper.join(lower, Seq("_i", "_j"), "full_outer")
      .select(coalesce(col("_nij"), lit(0L)).as("_a"),
        coalesce(col("_nji"), lit(0L)).as("_b"))
      .where(col("_a") + col("_b") > 0)
    val tot = pairs.agg(count(lit(1)).as("n_pairs"))
    joined.agg(
        sum(t12((col("_a") - col("_b")).cast("double")
          * (col("_a") - col("_b")).cast("double")
          / (col("_a") + col("_b")).cast("double"))).as("_chi2"),
        count(lit(1)).as("df"))
      .crossJoin(broadcast(tot))
      .select(col("n_pairs"),
        round(col("_chi2").cast("double"), 6).as("chi2_r"), col("df"))
  }

  /** Net Reclassification Improvement + Integrated Discrimination
    * Improvement for a NEW risk score vs an OLD one on the same
    * subjects: with risk classes from `cuts` (ascending thresholds),
    *   NRI = [P(up|y=1) − P(down|y=1)] − [P(up|y=0) − P(down|y=0)]
    *   IDI = [mean p_new − mean p_old | y=1]
    *       − [mean p_new − mean p_old | y=0]
    * Returns one row: n_events, n_nonevents, nri_r, idi_r. */
  def nriIdi(df: DataFrame, oldCol: String, newCol: String,
      labelCol: String, cuts: Seq[Double]): DataFrame = {
    require(cuts.nonEmpty && cuts == cuts.sorted)
    def cls(c: Column): Column =
      cuts.foldLeft(lit(0))((acc, t) => acc + (c >= t).cast("int"))
    val scored = df.select(col(labelCol).cast("int").as("_y"),
      cls(col(newCol)).as("_cn"), cls(col(oldCol)).as("_co"),
      col(newCol).cast("double").as("_pn"),
      col(oldCol).cast("double").as("_po"))
    scored.agg(
        sum(col("_y").cast("long")).as("n_events"),
        sum((lit(1) - col("_y")).cast("long")).as("n_nonevents"),
        sum(when(col("_y") === 1 && col("_cn") > col("_co"), 1L)
          .otherwise(0L)).as("_u1"),
        sum(when(col("_y") === 1 && col("_cn") < col("_co"), 1L)
          .otherwise(0L)).as("_d1"),
        sum(when(col("_y") === 0 && col("_cn") > col("_co"), 1L)
          .otherwise(0L)).as("_u0"),
        sum(when(col("_y") === 0 && col("_cn") < col("_co"), 1L)
          .otherwise(0L)).as("_d0"),
        sum(when(col("_y") === 1,
          t12(col("_pn") - col("_po"))).otherwise(lit(0).cast(
          "decimal(28,12)"))).as("_i1"),
        sum(when(col("_y") === 0,
          t12(col("_pn") - col("_po"))).otherwise(lit(0).cast(
          "decimal(28,12)"))).as("_i0"))
      .select(col("n_events"), col("n_nonevents"),
        round(when(col("n_events") > 0 && col("n_nonevents") > 0,
          (col("_u1") - col("_d1")).cast("double")
            / col("n_events").cast("double")
          - (col("_u0") - col("_d0")).cast("double")
            / col("n_nonevents").cast("double")), 6).as("nri_r"),
        round(when(col("n_events") > 0 && col("n_nonevents") > 0,
          col("_i1").cast("double")
            / col("n_events").cast("double")
          - col("_i0").cast("double")
            / col("n_nonevents").cast("double")), 6).as("idi_r"))
  }
}
