package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Post-hoc and stratified-contingency inference: the tests that come
  * AFTER an omnibus rejection — which pairs differ (Dunn, Tukey HSD),
  * does the effect trend along an ordering (Page), is a treatment
  * effect consistent across repeated blocks (Quade), and is an odds
  * ratio homogeneous across strata (Breslow–Day with Tarone's
  * correction).
  *
  * Scale posture: every op reduces the corpus with ONE hash-agg to a
  * bounded grid (value grid via banded prefixes, k×k pair grids,
  * block×treatment grids, strata tables) and runs the test arithmetic
  * on the grid. No corpus sort, no data-sized window; the only
  * unpartitioned windows rank the ≤|blocks| grid (pinned).
  */
object Posthoc {


  /** Dunn's post-hoc test after Kruskal–Wallis: pairwise z on
    * tie-corrected mid-rank means,
    * z_ij = (R̄_i − R̄_j) / √((N(N+1)/12 − T)·(1/n_i + 1/n_j)) with
    * T = Σ(t³−t)/(12(N−1)). Mid-ranks stay exact integers via
    * 2·midrank(v) = 2·C(<v) + m(v) + 1 (the [[Nonparam.mannWhitney]]
    * prefix idiom, banded). Returns one row per group pair (ga < gb):
    * ga, gb, n_a, n_b, z_r — the consumer applies the multiplicity
    * rule (k(k−1)/2 comparisons) to its α.
    *
    * Shape: per-(group, value) hash-agg → zero-filled grid × banded
    * global prefix → one (group) rollup → bounded k² self-join. */
  def dunn(df: DataFrame, valueCol: String, groupCol: String,
      bandWidth: Double = 16.0): DataFrame = {
    val pv = df.groupBy(col(valueCol))
      .agg(count(lit(1)).as("_m"))
    val cum = Ranks.bandedRunningSum(pv.withColumn("_g0", lit(0)),
        "_g0", valueCol, "_m", bandWidth)
      .select(col(valueCol), col("_m"),
        (col("runsum") - col("_m")).as("_clt"))
    val pg = df.groupBy(col(groupCol), col(valueCol))
      .agg(count(lit(1)).as("_cnt"))
      .join(cum, Seq(valueCol))
    // Σ 2·rank per group (exact), group sizes
    val grp = pg.groupBy(col(groupCol))
      .agg(sum(col("_cnt")).as("_ng"),
        sum(col("_cnt") * (lit(2) * col("_clt") + col("_m") + 1))
          .as("_r2"))
    val tot = cum.agg(sum(col("_m")).as("n"),
      sum(col("_m") * col("_m") * col("_m") - col("_m")).as("_t3"))
    val sides = grp.crossJoin(broadcast(tot))
    val nD = col("n").cast("double")
    val sig2 = (nD * (nD + 1) / 12
      - col("_t3").cast("double") / (lit(12.0) * (nD - 1)))
    val a = sides.select(col(groupCol).as("ga"), col("_ng").as("n_a"),
      col("_r2").as("_r2a"), col("n"), col("_t3"))
    val b = sides.select(col(groupCol).as("gb"), col("_ng").as("n_b"),
      col("_r2").as("_r2b"))
    a.join(b, col("ga") < col("gb"))
      .select(col("ga"), col("gb"), col("n_a"), col("n_b"),
        round(when(sig2 > 0, (col("_r2a").cast("double")
            / (lit(2.0) * col("n_a").cast("double"))
          - col("_r2b").cast("double")
            / (lit(2.0) * col("n_b").cast("double")))
          / sqrt(sig2 * (lit(1.0) / col("n_a").cast("double")
            + lit(1.0) / col("n_b").cast("double")))), 6).as("z_r"))
      .orderBy("ga", "gb")
  }

  /** Tukey–Kramer HSD q statistics after a one-way ANOVA: for every
    * group pair, q_ij = (x̄_i − x̄_j)/√((MSW/2)·(1/n_i + 1/n_j)), MSW
    * from exact integer within-group moments. Returns per pair:
    * ga, gb, diff_r, q_r (consumer compares against the studentized
    * range quantile for k groups and N−k df). */
  def tukeyHsd(df: DataFrame, valueCol: String, groupCol: String)
      : DataFrame = {
    val g = df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("_ng"), sum(col(valueCol)).as("_s"),
        sum(col(valueCol) * col(valueCol)).as("_s2"))
    // SSW = Σ_g (Σx² − (Σx)²/n_g) with exact integer moments
    val msw = g.agg(sum(col("_ng")).as("n"),
        count(lit(1)).as("k"),
        sum(t12(col("_s2").cast("double")
          - col("_s").cast("double") * col("_s").cast("double")
            / col("_ng").cast("double"))).as("_ssw"))
      .select(col("n"), col("k"),
        (col("_ssw").cast("double")
          / (col("n") - col("k")).cast("double")).as("_msw"))
    val sides = g.crossJoin(broadcast(msw))
    val a = sides.select(col(groupCol).as("ga"), col("_ng").as("n_a"),
      col("_s").as("_sa"), col("_msw"))
    val b = sides.select(col(groupCol).as("gb"), col("_ng").as("n_b"),
      col("_s").as("_sb"))
    a.join(b, col("ga") < col("gb"))
      .select(col("ga"), col("gb"),
        round(col("_sa").cast("double") / col("n_a").cast("double")
          - col("_sb").cast("double") / col("n_b").cast("double"), 6)
          .as("diff_r"),
        round((col("_sa").cast("double") / col("n_a").cast("double")
          - col("_sb").cast("double") / col("n_b").cast("double"))
          / sqrt(col("_msw") / 2
            * (lit(1.0) / col("n_a").cast("double")
              + lit(1.0) / col("n_b").cast("double"))), 6).as("q_r"))
      .orderBy("ga", "gb")
  }

  /** Quade test: the block-weighted Friedman — blocks with a LARGER
    * in-block range count more (they carry more signal). Within-block
    * mid-ranks r_ij of the k treatments; block weights R_i = rank of
    * the block's range; S_ij = R_i·(r_ij − (k+1)/2);
    * F = (n−1)·B/(A−B) with B = Σ_j S_j²/n, A = Σ S_ij² (F ~
    * F(k−1, (n−1)(k−1)); A = B ⇒ perfect agreement, F degenerates —
    * emitted null). Returns one row: n_blocks, k, a_r, b_r, f_r.
    *
    * Shape: one (block, treatment) hash-agg; in-block ranks partition
    * by block; the block-range rank runs over the ≤|blocks| grid
    * (pinned keyGrid window). */
  def quade(cells: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val complete = completeBlocks(cells, blockCol, treatCol)
    val wB = Window.partitionBy(col(blockCol))
    // mid-rank within block: 2r = 2·#(<x) + #(=x) + 1 via two counts
    val ranked = complete
      .withColumn("_lt", count(lit(1)).over(
        wB.orderBy(col(valueCol))
          .rangeBetween(Window.unboundedPreceding, -1)))
      .withColumn("_eq", count(lit(1)).over(
        wB.orderBy(col(valueCol)).rangeBetween(0, 0)))
      .withColumn("_r2", lit(2) * col("_lt") + col("_eq") + 1)
      .withColumn("_rng", max(col(valueCol)).over(wB)
        - min(col(valueCol)).over(wB))
    val k = ranked.groupBy(col(blockCol))
      .agg(count(lit(1)).as("_k"), first(col("_rng")).as("_rngb"))
    // block weights: mid-rank of the range over the |blocks| grid
    val wQ = Window.orderBy(col("_rngb"))
    val weights = k
      .withColumn("_wlt", count(lit(1)).over(
        wQ.rangeBetween(Window.unboundedPreceding, -1)))
      .withColumn("_weq", count(lit(1)).over(wQ.rangeBetween(0, 0)))
      .withColumn("_w2", lit(2) * col("_wlt") + col("_weq") + 1)
      .select(col(blockCol), col("_k"), col("_w2"))
    val s = ranked.join(broadcast(weights), Seq(blockCol))
      // 4·S_ij = w2·(r2 − (k+1)) stays integer
      .withColumn("_s4", col("_w2") * (col("_r2") - (col("_k") + 1)))
    val agg = s.groupBy(col(treatCol))
      .agg(sum(col("_s4")).as("_sj4"), first(col("_k")).as("_k"),
        sum(col("_s4") * col("_s4")).as("_a16p"))
    agg.agg(count(lit(1)).as("k"),
        sum(col("_sj4") * col("_sj4")).as("_b16n"),
        sum(col("_a16p")).as("_a16"))
      .crossJoin(broadcast(s.select(col(blockCol)).distinct()
        .agg(count(lit(1)).as("n_blocks"))))
      .select(col("n_blocks"), col("k"),
        round(col("_a16").cast("double") / 16, 6).as("a_r"),
        round(col("_b16n").cast("double")
          / (lit(16.0) * col("n_blocks").cast("double")), 6).as("b_r"),
        round(when(col("_a16").cast("double") / 16
            - col("_b16n").cast("double")
              / (lit(16.0) * col("n_blocks").cast("double")) > 0,
          (col("n_blocks") - 1).cast("double")
            * (col("_b16n").cast("double")
              / (lit(16.0) * col("n_blocks").cast("double")))
            / (col("_a16").cast("double") / 16
              - col("_b16n").cast("double")
                / (lit(16.0) * col("n_blocks").cast("double")))), 6)
          .as("f_r"))
  }

  /** Page's trend test for ORDERED treatments across blocks:
    * L = Σ_j j·R_j (R_j = rank sums over blocks, treatments ordered
    * by their natural order) with the large-sample z against
    * E[L] = n·k·(k+1)²/4 and Var[L] = n·k²·(k+1)·(k²−1)/144 (the
    * no-tie moments; mid-ranks make the z slightly conservative under
    * heavy ties — documented). Returns one row: n_blocks, k, l2
    * (= 2L, exact), z_r. */
  def pageTrend(cells: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val complete = completeBlocks(cells, blockCol, treatCol)
    val wB = Window.partitionBy(col(blockCol))
    val ranked = complete
      .withColumn("_lt", count(lit(1)).over(
        wB.orderBy(col(valueCol))
          .rangeBetween(Window.unboundedPreceding, -1)))
      .withColumn("_eq", count(lit(1)).over(
        wB.orderBy(col(valueCol)).rangeBetween(0, 0)))
      .withColumn("_r2", lit(2) * col("_lt") + col("_eq") + 1)
    val wT = Window.orderBy(col(treatCol))
    val treats = complete.select(col(treatCol)).distinct()
      .withColumn("_j", row_number().over(wT))
    val agg = ranked.join(broadcast(treats), Seq(treatCol))
      .agg(sum(col("_j") * col("_r2")).as("l2"),
        countDistinct(col(blockCol)).as("n_blocks"),
        countDistinct(col(treatCol)).as("k"))
    val nD = col("n_blocks").cast("double")
    val kD = col("k").cast("double")
    val e = nD * kD * (kD + 1) * (kD + 1) / 4
    val v = nD * kD * kD * (kD + 1) * (kD * kD - 1) / 144
    agg.select(col("n_blocks"), col("k"), col("l2"),
      round(when(v > 0,
        (col("l2").cast("double") / 2 - e) / sqrt(v)), 6).as("z_r"))
  }

  /** Restrict a block×treatment frame to COMPLETE blocks — blocks
    * holding every treatment the frame contains (Quade and Page are
    * complete-block designs; a calendar edge week with 3 of 7
    * weekdays would corrupt the in-block centering). Same predicate
    * in the oracle SQL. */
  private def completeBlocks(cells: DataFrame, blockCol: String,
      treatCol: String): DataFrame = {
    val kAll = cells.select(col(treatCol)).distinct()
      .agg(count(lit(1)).as("_kall"))
    val full = cells.groupBy(col(blockCol))
      .agg(countDistinct(col(treatCol)).as("_kb"))
      .crossJoin(broadcast(kAll))
      .where(col("_kb") === col("_kall"))
      .select(col(blockCol))
    cells.join(broadcast(full), Seq(blockCol), "left_semi")
  }

  /** Breslow–Day test of odds-ratio homogeneity across strata, with
    * Tarone's correction: given per-stratum 2×2 tables (a,b,c,d), fit
    * the Mantel–Haenszel common OR ψ̂, solve each stratum's expected
    * exposed-case count Ã_k from the quadratic
    * (ψ−1)Ã² − [ψ(n1+m1) + (n0−m1)]Ã + ψ·n1·m1 = 0 (root inside the
    * cell bounds), and sum (a−Ã)²/Ṽ with
    * Ṽ = 1/(1/Ã + 1/(n1−Ã) + 1/(m1−Ã) + 1/(n0−m1+Ã)). Tarone
    * subtracts (Σ(a−Ã))²/ΣṼ. Returns one row: k, psi_mh_r, bd_r,
    * tarone_r, df (= k−1). Strata with an empty margin are excluded
    * (both engines, same predicate).
    *
    * Shape: one hash-agg to the ≤k strata table; everything after is
    * grid arithmetic. */
  def breslowDay(df: DataFrame, strataCol: String, exposedCol: Column,
      caseCol: Column): DataFrame = {
    val tab = df.groupBy(col(strataCol))
      .agg(
        sum(when(exposedCol && caseCol, 1L).otherwise(0L)).as("_a"),
        sum(when(exposedCol && !caseCol, 1L).otherwise(0L)).as("_b"),
        sum(when(!exposedCol && caseCol, 1L).otherwise(0L)).as("_c"),
        sum(when(!exposedCol && !caseCol, 1L).otherwise(0L)).as("_d"))
      .where(col("_a") + col("_b") > 0 && col("_c") + col("_d") > 0
        && col("_a") + col("_c") > 0 && col("_b") + col("_d") > 0)
    val nT = col("_a") + col("_b") + col("_c") + col("_d")
    val mh = tab.agg(
      sum(t12(col("_a").cast("double") * col("_d").cast("double")
        / nT.cast("double"))).as("_num"),
      sum(t12(col("_b").cast("double") * col("_c").cast("double")
        / nT.cast("double"))).as("_den"))
      .select((col("_num").cast("double") / col("_den").cast("double"))
        .as("_psi"))
    val w = tab.crossJoin(broadcast(mh))
      .withColumn("_n1", (col("_a") + col("_b")).cast("double"))
      .withColumn("_n0", (col("_c") + col("_d")).cast("double"))
      .withColumn("_m1", (col("_a") + col("_c")).cast("double"))
    // quadratic (ψ−1)Ã² − [ψ(n1+m1) + (n0−m1)]Ã + ψ·n1·m1 = 0;
    // the in-bounds root is the − branch of the standard formula
    val qa = col("_psi") - 1
    val qb = -(col("_psi") * (col("_n1") + col("_m1"))
      + (col("_n0") - col("_m1")))
    val qc = col("_psi") * col("_n1") * col("_m1")
    // two quadratic roots; the valid one lies inside the cell bounds
    // (max(0, m1−n0), min(n1, m1)) — bounds-checked pick, not a fixed
    // branch, so ψ<1 strata resolve identically on both engines
    val r1 = ((-qb - sqrt(qb * qb - lit(4.0) * qa * qc))
      / (lit(2.0) * qa))
    val r2 = ((-qb + sqrt(qb * qb - lit(4.0) * qa * qc))
      / (lit(2.0) * qa))
    val lo = greatest(lit(0.0), col("_m1") - col("_n0"))
    val hi = least(col("_n1"), col("_m1"))
    val atil = when(abs(qa) < 1e-12, -qc / qb)
      .when(r1 > lo && r1 < hi, r1)
      .otherwise(r2)
    val scored = w.withColumn("_atil", atil)
      .withColumn("_v", lit(1.0) / (lit(1.0) / col("_atil")
        + lit(1.0) / (col("_n1") - col("_atil"))
        + lit(1.0) / (col("_m1") - col("_atil"))
        + lit(1.0) / (col("_n0") - col("_m1") + col("_atil"))))
    scored.agg(count(lit(1)).as("k"),
        first(col("_psi")).as("_psi"),
        sum(t12((col("_a").cast("double") - col("_atil"))
          * (col("_a").cast("double") - col("_atil")) / col("_v")))
          .as("_bd"),
        sum(t12(col("_a").cast("double") - col("_atil"))).as("_dev"),
        sum(t12(col("_v"))).as("_sv"))
      .select(col("k"), round(col("_psi"), 6).as("psi_mh_r"),
        round(col("_bd").cast("double"), 6).as("bd_r"),
        round(col("_bd").cast("double")
          - col("_dev").cast("double") * col("_dev").cast("double")
            / col("_sv").cast("double"), 6).as("tarone_r"),
        (col("k") - 1).as("df"))
  }
}
