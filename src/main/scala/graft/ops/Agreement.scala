package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Round-12 inter-rater agreement / association batch: Fleiss' kappa,
  * Krippendorff's alpha (nominal), Kendall's W concordance, the
  * bias-corrected Cramér's V, and quadratic-weighted Cohen's kappa.
  *
  * These are the label-quality gates of an annotation pipeline: before
  * training on rater-assigned labels (or on heuristic pseudo-labels),
  * measure whether the raters agree beyond chance.
  *
  * Shape discipline: every op reduces the data to a BOUNDED contingency
  * or per-item-count grain in one pass (hash agg, map-side combinable),
  * then finishes on exact integer sums — DECIMAL(38,0) products, double
  * division only in the closed forms, mirrored term for term by the
  * DuckDB twins. Per-item rational terms (Krippendorff's 1/(m_u−1))
  * ride the 12-dp DECIMAL grid so the data-sized sum is
  * order-independent. */
object Agreement {

  private def d38(c: Column) = c.cast("decimal(38,0)")

  /** Fleiss' kappa for `m` raters per item over nominal categories.
    * `ratings` holds one row per (item, rater) with the assigned
    * category; every item must carry exactly `m` ratings (the caller's
    * rater construction guarantees it — heuristic raters rate every
    * document). P̄ = (Σ_ic n_ic² − N·m)/(N·m·(m−1)), P_e = Σ_j p_j²,
    * κ = (P̄−P_e)/(1−P_e). One row:
    * (n_items, m_raters, p_bar_r, p_e_r, kappa_r). */
  def fleissKappa(ratings: DataFrame, itemCol: String, catCol: String,
      m: Int): DataFrame = {
    require(m >= 2)
    val grain = ratings.groupBy(col(itemCol).as("_i"),
      col(catCol).as("_c")).agg(count(lit(1)).as("_n"))
    val a = grain.agg(
      countDistinct(col("_i")).cast("double").as("_ni"),
      sum(d38(col("_n")) * d38(col("_n"))).cast("double").as("_s2"))
    val b = grain.groupBy(col("_c")).agg(sum(col("_n")).as("_t"))
      .agg(sum(d38(col("_t")) * d38(col("_t"))).cast("double").as("_b"))
    val mm = lit(m.toDouble)
    val pBar = ((col("_s2") - col("_ni") * mm)
      / (col("_ni") * mm * (mm - lit(1.0))))
    val pE = col("_b") / ((col("_ni") * mm) * (col("_ni") * mm))
    a.crossJoin(broadcast(b)).select(
      col("_ni").cast("long").as("n_items"),
      lit(m.toLong).as("m_raters"),
      round(pBar, 6).as("p_bar_r"), round(pE, 6).as("p_e_r"),
      round((pBar - pE) / nullif(lit(1.0) - pE, lit(0.0)), 6)
        .as("kappa_r"))
  }

  /** Krippendorff's alpha, nominal metric, variable raters per item
    * (items with fewer than 2 ratings are excluded, per the standard):
    * α = 1 − D_o_num·(n−1)/(n² − Σ_c n_c²) with
    * D_o_num = Σ_u (m_u² − Σ_c n_uc²)/(m_u−1). The per-item rational
    * term rides the 12-dp grid; everything else is exact integers.
    * One row: (n_vals, d_o_num_r, alpha_r). */
  def krippendorffAlphaNominal(ratings: DataFrame, itemCol: String,
      catCol: String): DataFrame = {
    val grain = ratings.groupBy(col(itemCol).as("_i"),
      col(catCol).as("_c")).agg(count(lit(1)).as("_n"))
    val items = grain.groupBy(col("_i")).agg(
        sum(col("_n")).as("_mu"),
        sum(d38(col("_n")) * d38(col("_n"))).cast("double").as("_s2u"))
      .where(col("_mu") >= 2)
    val doNum = items.agg(sum(t12(
      (col("_mu").cast("double") * col("_mu").cast("double")
        - col("_s2u"))
      / (col("_mu").cast("double") - lit(1.0)))).cast("double")
      .as("_do"))
    val kept = grain.join(items.select(col("_i")), Seq("_i"))
    val margins = kept.groupBy(col("_c")).agg(sum(col("_n")).as("_nc"))
      .agg(sum(col("_nc")).cast("double").as("_n"),
        sum(d38(col("_nc")) * d38(col("_nc"))).cast("double").as("_c2"))
    margins.crossJoin(broadcast(doNum)).select(
      col("_n").cast("long").as("n_vals"),
      round(col("_do"), 6).as("d_o_num_r"),
      round(lit(1.0) - col("_do") * (col("_n") - lit(1.0))
        / nullif(col("_n") * col("_n") - col("_c2"), lit(0.0)), 6)
        .as("alpha_r"))
  }

  /** Kendall's coefficient of concordance W over pre-ranked judgments:
    * `ranks` holds one row per (judge, item, rank 1..K), every judge
    * ranking every item, no ties. Integer-exact via the ×2 trick:
    * S4 = Σ_i (2R_i − m(K+1))², W = 3·S4/(m²·(K³−K)). One row:
    * (k_items, m_judges, w_r). */
  def kendallW(ranks: DataFrame, judgeCol: String, itemCol: String,
      rankCol: String): DataFrame = {
    val perItem = ranks.groupBy(col(itemCol).as("_i"))
      .agg(sum(col(rankCol)).as("_ri"), count(lit(1)).as("_m"))
    // two-pass on the bounded item grain: K and m first, then exact S4
    val km = perItem.agg(count(lit(1)).as("_k"), max(col("_m")).as("_mj"))
    perItem.crossJoin(broadcast(km))
      .select(col("_k"), col("_mj"),
        (d38(lit(2) * col("_ri") - col("_mj") * (col("_k") + lit(1))))
          .as("_d"))
      .groupBy(col("_k"), col("_mj"))
      .agg(sum(col("_d") * col("_d")).cast("double").as("_s4"))
      .select(col("_k").as("k_items"), col("_mj").as("m_judges"),
        round(lit(3.0) * col("_s4")
          / nullif(col("_mj").cast("double") * col("_mj").cast("double")
            * (col("_k").cast("double") * col("_k").cast("double")
              * col("_k").cast("double") - col("_k").cast("double")),
            lit(0.0)), 6).as("w_r"))
  }

  /** Cramér's V with the Bergsma bias correction on a bounded
    * contingency grid: φ² = Σ n_xy²/(r_x·c_y) − 1 (12-dp-grid terms
    * over the bounded grid), φ̃² = max(0, φ² − (r−1)(c−1)/(n−1)),
    * r̃ = r − (r−1)²/(n−1), c̃ analog, Ṽ = √(φ̃²/min(r̃−1, c̃−1)).
    * One row: (n, r_levels, c_levels, phi2_r, v_r, v_corrected_r). */
  def cramersVCorrected(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    val cell = df.groupBy(col(xCol).as("_x"), col(yCol).as("_y"))
      .agg(count(lit(1)).as("_n"))
    val rx = cell.groupBy(col("_x")).agg(sum(col("_n")).as("_rx"))
    val cy = cell.groupBy(col("_y")).agg(sum(col("_n")).as("_cy"))
    val terms = cell.join(rx, Seq("_x")).join(cy, Seq("_y"))
      .agg(sum(t12(col("_n").cast("double") * col("_n").cast("double")
          / (col("_rx").cast("double") * col("_cy").cast("double"))))
        .cast("double").as("_sphi"),
        sum(col("_n")).cast("double").as("_nn"))
    val dims = rx.agg(count(lit(1)).cast("double").as("_r"))
      .crossJoin(broadcast(cy.agg(count(lit(1)).cast("double")
        .as("_c"))))
    val j = terms.crossJoin(broadcast(dims))
    val phi2 = col("_sphi") - lit(1.0)
    val phi2t = greatest(phi2 - (col("_r") - lit(1.0))
      * (col("_c") - lit(1.0)) / (col("_nn") - lit(1.0)), lit(0.0))
    val rt = (col("_r") - (col("_r") - lit(1.0)) * (col("_r") - lit(1.0))
      / (col("_nn") - lit(1.0)))
    val ct = (col("_c") - (col("_c") - lit(1.0)) * (col("_c") - lit(1.0))
      / (col("_nn") - lit(1.0)))
    j.select(col("_nn").cast("long").as("n"),
      col("_r").cast("long").as("r_levels"),
      col("_c").cast("long").as("c_levels"),
      round(phi2, 6).as("phi2_r"),
      round(sqrt(phi2 / least(col("_r") - lit(1.0),
        col("_c") - lit(1.0))), 6).as("v_r"),
      round(sqrt(phi2t / nullif(least(rt - lit(1.0), ct - lit(1.0)),
        lit(0.0))), 6).as("v_corrected_r"))
  }

  /** Quadratic-weighted Cohen's kappa for two ordinal raters on levels
    * 0..k−1: κ_w = 1 − n·Σ(i−j)²o_ij / Σ(i−j)²r_i·c_j — exact
    * integers until the final division. Also emits the raw agreement
    * rate. One row: (n, po_r, kappa_w_r). */
  def weightedKappaQuadratic(pairs: DataFrame, aCol: String,
      bCol: String): DataFrame = {
    val cell = pairs.groupBy(col(aCol).as("_a"), col(bCol).as("_b"))
      .agg(count(lit(1)).as("_n"))
    val ra = cell.groupBy(col("_a")).agg(sum(col("_n")).as("_ra"))
    val cb = cell.groupBy(col("_b")).agg(sum(col("_n")).as("_cb"))
    val num = cell.agg(
      sum(d38((col("_a") - col("_b")) * (col("_a") - col("_b")))
        * d38(col("_n"))).cast("double").as("_num"),
      sum(when(col("_a") === col("_b"), col("_n")).otherwise(lit(0L)))
        .cast("double").as("_agree"),
      sum(col("_n")).cast("double").as("_nn"))
    val den = ra.crossJoin(cb)
      .agg(sum(d38((col("_a") - col("_b")) * (col("_a") - col("_b")))
        * d38(col("_ra")) * d38(col("_cb"))).cast("double").as("_den"))
    num.crossJoin(broadcast(den)).select(
      col("_nn").cast("long").as("n"),
      round(col("_agree") / col("_nn"), 6).as("po_r"),
      round(lit(1.0) - col("_nn") * col("_num")
        / nullif(col("_den"), lit(0.0)), 6).as("kappa_w_r"))
  }

  /** Gwet's AC1 (Gwet 2008) on the same ratings frame as
    * [[fleissKappa]]: identical observed agreement po, but chance
    * agreement pe = sum_c pi_c(1-pi_c)/(k-1) -- the "agreement by
    * RANDOM rating" model, not Fleiss' "agreement by prevalence"
    * model, which is exactly what resolves the kappa paradox (high
    * observed agreement + skewed prevalence => kappa near 0, AC1
    * high). All-exact integers: with po = A/B and pe = C/D,
    * AC1 = (A*D - C*B)/(B*(D - C)) as DECIMAL(38,0) products meeting
    * in one double division. Returns one row: n_items, po_r, pe_r,
    * ac1_r. */
  def gwetAc1(ratings: DataFrame, itemCol: String, catCol: String,
      m: Int, k: Int): DataFrame = {
    require(m >= 2 && k >= 2)
    val grain = ratings.groupBy(col(itemCol).as("_i"),
      col(catCol).as("_c")).agg(count(lit(1)).as("_n"))
      .localCheckpoint()
    val a = grain.agg(countDistinct(col("_i")).as("n_items"),
      sum(d38(col("_n")) * (col("_n") - 1)).as("_anum"))
    val b = grain.groupBy(col("_c")).agg(sum(col("_n")).as("_t"))
      .crossJoin(broadcast(a.select(col("n_items").as("_ni"))))
      .agg(sum(d38(col("_t")) * (d38(col("_ni")) * m - col("_t")))
        .as("_cnum"))
    a.crossJoin(broadcast(b))
      .select(col("n_items"),
        col("_anum").cast("decimal(38,0)").as("_A"),
        (d38(col("n_items")) * (m.toLong * (m.toLong - 1)))
          .cast("decimal(38,0)").as("_B"),
        col("_cnum").cast("decimal(38,0)").as("_C"),
        (d38(lit(k.toLong - 1)) * (d38(col("n_items")) * m)
          * (d38(col("n_items")) * m)).cast("decimal(38,0)").as("_D"))
      .select(col("n_items"),
        round(col("_A").cast("double") / col("_B").cast("double"), 6)
          .as("po_r"),
        round(col("_C").cast("double") / col("_D").cast("double"), 6)
          .as("pe_r"),
        round((col("_A").cast("double") * col("_D").cast("double")
            - col("_C").cast("double") * col("_B").cast("double"))
          / (col("_B").cast("double")
            * (col("_D").cast("double") - col("_C").cast("double"))),
          6).as("ac1_r"))
  }

  /** Lin's concordance correlation coefficient (Lin 1989) for paired
    * integer measures: CCC = 2 s_xy / (s_x^2 + s_y^2 + (mx-my)^2) --
    * agreement with the 45-degree line, i.e. Pearson r discounted by
    * the accuracy coefficient Cb that penalizes location/scale shift
    * (the paired-continuous complement of the categorical kappas in
    * this file; q321's ICC models grouped raters, not one paired
    * comparison). n^2-scaled so every term is an exact DECIMAL(38,0)
    * integer: CCC = 2(n Sxy - SxSy) / (n Sxx - Sx^2 + n Syy - Sy^2
    * + (Sx - Sy)^2); Pearson r uses the sqrt(A)*sqrt(B) split so no
    * integer product exceeds 38 digits. Returns one row: n_pairs,
    * ccc_r, pearson_r, cb_r. */
  def linCcc(pairs: DataFrame, xCol: String, yCol: String)
      : DataFrame = {
    val agg = pairs.agg(count(lit(1)).as("n"),
      sum(d38(col(xCol))).as("_sx"), sum(d38(col(yCol))).as("_sy"),
      sum(d38(col(xCol)) * col(yCol)).as("_sxy"),
      sum(d38(col(xCol)) * col(xCol)).as("_sxx"),
      sum(d38(col(yCol)) * col(yCol)).as("_syy"))
    val nD = d38(col("n"))
    val cnum = ((nD * col("_sxy") - col("_sx") * col("_sy")) * 2)
      .cast("double")
    val vx = (nD * col("_sxx") - col("_sx") * col("_sx")).cast("double")
    val vy = (nD * col("_syy") - col("_sy") * col("_sy")).cast("double")
    val shift = ((col("_sx") - col("_sy"))
      * (col("_sx") - col("_sy"))).cast("double")
    agg.select(col("n").as("n_pairs"),
      round(cnum / (vx + vy + shift), 6).as("ccc_r"),
      round(when(vx > 0 && vy > 0,
        (cnum / lit(2.0)) / (sqrt(vx) * sqrt(vy))), 6).as("pearson_r"),
      round(when(vx > 0 && vy > 0,
        (cnum / (vx + vy + shift))
          / ((cnum / lit(2.0)) / (sqrt(vx) * sqrt(vy)))), 6)
        .as("cb_r"))
  }
}
