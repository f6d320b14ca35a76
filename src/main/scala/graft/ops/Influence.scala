package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Round-12 regression-influence batch: the classical OLS diagnostics
  * (hat leverage, Cook's distance, PRESS/LOOCV, externally studentized
  * residuals) plus the design-side collinearity readouts (VIF, ridge
  * coefficient path).
  *
  * Shape discipline: every op is ONE exact-moment aggregation
  * (DECIMAL(38,0) sums of integer-scaled inputs — the ols2/Markov
  * overflow convention) broadcast back over the bounded grain (day
  * spine) or consumed as closed forms; per-row terms are doubles
  * derived from those shared moments with the same parenthesization the
  * DuckDB oracle twin spells, so both engines walk identical arithmetic.
  * Top-k extraction is orderBy+limit (TakeOrderedAndProject), never an
  * unpartitioned window. At 100 TB the moment pass is the only
  * data-sized stage and it is a single map-side-combinable aggregate.
  */
object Influence {

  private def d38(c: Column) = c.cast("decimal(38,0)")

  /** Exact simple-OLS moments of an integer grain (keyCol, x long,
    * y long): one row (n, sx, sy, sxx, sxy, syy) as doubles. */
  private def moments(g: DataFrame): DataFrame =
    g.agg(count(lit(1)).cast("double").as("_n"),
      sum(d38(col("_x"))).cast("double").as("_sx"),
      sum(d38(col("_y"))).cast("double").as("_sy"),
      sum(d38(col("_x")) * d38(col("_x"))).cast("double").as("_sxx"),
      sum(d38(col("_x")) * d38(col("_y"))).cast("double").as("_sxy"),
      sum(d38(col("_y")) * d38(col("_y"))).cast("double").as("_syy"))

  /** Per-row OLS diagnostics frame over an integer grain: key, x, y
    * plus broadcast moments and the derived columns _a, _b (fit), _h
    * (hat leverage), _e (residual), _s2 (MSE, n−2 df). Internal — the
    * public ops select/filter from this shared trunk. */
  private def diag(grain: DataFrame, keyCol: String, xCol: String,
      yCol: String): DataFrame = {
    val g = grain.select(col(keyCol).as("_k"),
      col(xCol).cast("long").as("_x"), col(yCol).cast("long").as("_y"))
    val m = moments(g)
    val sxx = col("_sxx") - col("_sx") * col("_sx") / col("_n")
    val sxy = col("_sxy") - col("_sx") * col("_sy") / col("_n")
    val syy = col("_syy") - col("_sy") * col("_sy") / col("_n")
    g.crossJoin(broadcast(m))
      .withColumn("_b", sxy / nullif(sxx, lit(0.0)))
      .withColumn("_a", (col("_sy") - col("_b") * col("_sx")) / col("_n"))
      .withColumn("_h", lit(1.0) / col("_n")
        + (col("_x").cast("double") - col("_sx") / col("_n"))
          * (col("_x").cast("double") - col("_sx") / col("_n"))
          / nullif(sxx, lit(0.0)))
      .withColumn("_e", col("_y").cast("double") - col("_a")
        - col("_b") * col("_x").cast("double"))
      .withColumn("_s2",
        (syy - col("_b") * sxy) / nullif(col("_n") - lit(2.0), lit(0.0)))
  }

  /** Cook's distance top-k for the simple OLS y ~ x on a bounded
    * integer grain: D_i = e_i²/(p·s²) · h_i/(1−h_i)², p = 2. Returns
    * the k most influential rows (ties: smallest key):
    * (keyCol, yCol, leverage_r, resid_r, cooks_r). */
  def cooksTopK(grain: DataFrame, keyCol: String, xCol: String,
      yCol: String, k: Int): DataFrame = {
    val d = diag(grain, keyCol, xCol, yCol)
      .withColumn("_cook", col("_e") * col("_e")
        / (lit(2.0) * nullif(col("_s2"), lit(0.0)))
        * col("_h") / nullif((lit(1.0) - col("_h"))
          * (lit(1.0) - col("_h")), lit(0.0)))
    d.orderBy(col("_cook").desc, col("_k").asc).limit(k)
      .select(col("_k").as(keyCol), col("_y").as(yCol),
        round(col("_h"), 6).as("leverage_r"),
        round(col("_e"), 6).as("resid_r"),
        round(col("_cook"), 6).as("cooks_r"))
  }

  /** PRESS / leave-one-out cross-validation for the simple OLS y ~ x:
    * PRESS = Σ (e_i/(1−h_i))², R²_pred = 1 − PRESS/SST — the
    * overfitting readout next to the in-sample R². One row:
    * (n, r2_r, press_r, r2_pred_r, loocv_rmse_r). PRESS terms ride the
    * 12-dp DECIMAL grid so the sum is order-independent. */
  def pressLoocv(grain: DataFrame, keyCol: String, xCol: String,
      yCol: String, yScale: Double): DataFrame = {
    val press = diag(grain, keyCol, xCol, yCol)
      .withColumn("_pt", t12(
        (col("_e") / lit(yScale)) / nullif(lit(1.0) - col("_h"),
          lit(0.0))
        * (col("_e") / lit(yScale)) / nullif(lit(1.0) - col("_h"),
          lit(0.0))))
      .agg(count(lit(1)).cast("double").as("_nn"),
        sum(col("_pt")).cast("double").as("_press"),
        first(col("_s2")).as("_s2f"), first(col("_n")).as("_nf"),
        first(col("_syy") - col("_sy") * col("_sy") / col("_n"))
          .as("_sst"))
    press.select(col("_nf").cast("long").as("n"),
      round(lit(1.0) - col("_s2f") * (col("_nf") - lit(2.0))
        / nullif(col("_sst"), lit(0.0)), 6).as("r2_r"),
      round(col("_press"), 6).as("press_r"),
      round(lit(1.0) - col("_press")
        / nullif(col("_sst") / (lit(yScale) * lit(yScale)), lit(0.0)),
        6).as("r2_pred_r"),
      round(sqrt(col("_press") / col("_nn")), 6).as("loocv_rmse_r"))
  }

  /** Externally studentized residuals, top-k by |t| (ties: smallest
    * key): t_i = e_i / √(s²_(i)·(1−h_i)) with the deleted variance
    * s²_(i) = ((n−2)s² − e_i²/(1−h_i)) / (n−3) — the outlier test that
    * does not let the suspect point inflate its own denominator.
    * Returns (keyCol, yCol, resid_r, t_ext_r). */
  def studentizedTopK(grain: DataFrame, keyCol: String, xCol: String,
      yCol: String, k: Int): DataFrame = {
    // greatest(…, 0): the deleted SSE is ≥ 0 mathematically but can
    // land at −ε in floating point when removing the suspect leaves a
    // near-perfect fit — sqrt(−ε) would be NaN on both engines, and
    // NaN sorts as the LARGEST double in Spark but not in DuckDB, so
    // the clamp is also an ordering-consistency guard.
    val d = diag(grain, keyCol, xCol, yCol)
      .withColumn("_s2i", greatest(
        ((col("_n") - lit(2.0)) * col("_s2")
          - col("_e") * col("_e") / nullif(lit(1.0) - col("_h"),
            lit(0.0)))
        / nullif(col("_n") - lit(3.0), lit(0.0)), lit(0.0)))
      .withColumn("_t", col("_e")
        / nullif(sqrt(col("_s2i") * (lit(1.0) - col("_h"))), lit(0.0)))
    d.orderBy(abs(col("_t")).desc, col("_k").asc).limit(k)
      .select(col("_k").as(keyCol), col("_y").as(yCol),
        round(col("_e"), 6).as("resid_r"),
        round(col("_t"), 6).as("t_ext_r"))
  }

  /** Variance-inflation factors for a 3-regressor design, from the
    * pairwise-correlation closed form (p = 3):
    * R²_1 = (r12² + r13² − 2·r12·r13·r23)/(1 − r23²), VIF_1 =
    * 1/(1−R²_1), cyclically. Inputs must be exact integers — one
    * DECIMAL(38,0) moment pass is the only data-sized stage. Returns
    * one row: (n, r12_r, r13_r, r23_r, vif1_r, vif2_r, vif3_r). */
  def vif3(df: DataFrame, x1Col: String, x2Col: String,
      x3Col: String): DataFrame = {
    val g = df.select(col(x1Col).cast("long").as("_x1"),
      col(x2Col).cast("long").as("_x2"),
      col(x3Col).cast("long").as("_x3"))
    val m = g.agg(count(lit(1)).cast("double").as("_n"),
      sum(d38(col("_x1"))).cast("double").as("_s1"),
      sum(d38(col("_x2"))).cast("double").as("_s2"),
      sum(d38(col("_x3"))).cast("double").as("_s3"),
      sum(d38(col("_x1")) * d38(col("_x1"))).cast("double").as("_s11"),
      sum(d38(col("_x2")) * d38(col("_x2"))).cast("double").as("_s22"),
      sum(d38(col("_x3")) * d38(col("_x3"))).cast("double").as("_s33"),
      sum(d38(col("_x1")) * d38(col("_x2"))).cast("double").as("_s12"),
      sum(d38(col("_x1")) * d38(col("_x3"))).cast("double").as("_s13"),
      sum(d38(col("_x2")) * d38(col("_x3"))).cast("double").as("_s23"))
    def corr(sab: Column, sa: Column, sb: Column, saa: Column,
        sbb: Column): Column =
      ((col("_n") * sab - sa * sb)
        / nullif(sqrt((col("_n") * saa - sa * sa)
          * (col("_n") * sbb - sb * sb)), lit(0.0)))
    val r12 = corr(col("_s12"), col("_s1"), col("_s2"), col("_s11"),
      col("_s22"))
    val r13 = corr(col("_s13"), col("_s1"), col("_s3"), col("_s11"),
      col("_s33"))
    val r23 = corr(col("_s23"), col("_s2"), col("_s3"), col("_s22"),
      col("_s33"))
    def vif(rab: Column, rac: Column, rbc: Column): Column = {
      val r2 = ((rab * rab + rac * rac - lit(2.0) * rab * rac * rbc)
        / nullif(lit(1.0) - rbc * rbc, lit(0.0)))
      lit(1.0) / nullif(lit(1.0) - r2, lit(0.0))
    }
    m.select(col("_n").cast("long").as("n"),
      round(r12, 6).as("r12_r"), round(r13, 6).as("r13_r"),
      round(r23, 6).as("r23_r"),
      round(vif(r12, r13, r23), 6).as("vif1_r"),
      round(vif(r12, r23, r13), 6).as("vif2_r"),
      round(vif(r13, r23, r12), 6).as("vif3_r"))
  }

  /** Ridge coefficient path for the standardized two-regressor design:
    * with unit-variance regressors, b1(λ) = (r1y(1+λ) − r12·r2y) /
    * ((1+λ)² − r12²) and symmetrically b2(λ) — the closed form of
    * (R + λI)⁻¹ r. One exact-moment pass over integer inputs; the λ
    * grid is a broadcast literal frame (bounded). Returns one row per
    * λ: (lambda, b1_r, b2_r, l2_r) ordered by λ. */
  def ridgePath2(df: DataFrame, x1Col: String, x2Col: String,
      yCol: String, lambdas: Seq[Double]): DataFrame = {
    require(lambdas.nonEmpty)
    val g = df.select(col(x1Col).cast("long").as("_x1"),
      col(x2Col).cast("long").as("_x2"),
      col(yCol).cast("long").as("_y"))
    val m = g.agg(count(lit(1)).cast("double").as("_n"),
      sum(d38(col("_x1"))).cast("double").as("_s1"),
      sum(d38(col("_x2"))).cast("double").as("_s2"),
      sum(d38(col("_y"))).cast("double").as("_sy"),
      sum(d38(col("_x1")) * d38(col("_x1"))).cast("double").as("_s11"),
      sum(d38(col("_x2")) * d38(col("_x2"))).cast("double").as("_s22"),
      sum(d38(col("_x1")) * d38(col("_x2"))).cast("double").as("_s12"),
      sum(d38(col("_x1")) * d38(col("_y"))).cast("double").as("_s1y"),
      sum(d38(col("_x2")) * d38(col("_y"))).cast("double").as("_s2y"),
      sum(d38(col("_y")) * d38(col("_y"))).cast("double").as("_syy"))
    def corr(sab: Column, sa: Column, sb: Column, saa: Column,
        sbb: Column): Column =
      ((col("_n") * sab - sa * sb)
        / nullif(sqrt((col("_n") * saa - sa * sa)
          * (col("_n") * sbb - sb * sb)), lit(0.0)))
    val r12 = corr(col("_s12"), col("_s1"), col("_s2"), col("_s11"),
      col("_s22"))
    val r1y = corr(col("_s1y"), col("_s1"), col("_sy"), col("_s11"),
      col("_syy"))
    val r2y = corr(col("_s2y"), col("_s2"), col("_sy"), col("_s22"),
      col("_syy"))
    val lam = col("lambda")
    val den = nullif((lit(1.0) + lam) * (lit(1.0) + lam) - r12 * r12,
      lit(0.0))
    val b1 = (r1y * (lit(1.0) + lam) - r12 * r2y) / den
    val b2 = (r2y * (lit(1.0) + lam) - r12 * r1y) / den
    val grid = lambdas.map(l => Tuple1(l))
    import df.sparkSession.implicits._
    grid.toDF("lambda").crossJoin(broadcast(m))
      .select(col("lambda"), round(b1, 6).as("b1_r"),
        round(b2, 6).as("b2_r"),
        round(sqrt(b1 * b1 + b2 * b2), 6).as("l2_r"))
      .orderBy("lambda")
  }
  /** Learning-curve proxy: the simple OLS slope and R² refit on
    * calendar prefixes of the grain — frac f keeps rows with
    * x ≤ ⌊max(x)·f⌋. One ×|fracs| fan-out (broadcast literal spine)
    * into ONE bounded hash agg by frac; exact DECIMAL(38,0) moments
    * per prefix. Returns a row per frac ordered by frac:
    * (frac, n_rows, slope_r, r2_r) — a flattening R² gain says more
    * history stopped buying fit. */
  def olsPrefixCurve(grain: DataFrame, xCol: String, yCol: String,
      fracs: Seq[Double]): DataFrame = {
    require(fracs.nonEmpty)
    val s = grain.sparkSession
    import s.implicits._
    val g = grain.select(col(xCol).cast("long").as("_x"),
      col(yCol).cast("long").as("_y"))
    val mx = g.agg(max(col("_x")).as("_mx"))
    val spine = fracs.map(f => Tuple1(f)).toDF("frac")
    val m = g.crossJoin(broadcast(spine)).crossJoin(broadcast(mx))
      .where(col("_x") <= floor(col("_mx").cast("double") * col("frac"))
        .cast("long"))
      .groupBy(col("frac"))
      .agg(count(lit(1)).cast("double").as("_n"),
        sum(d38(col("_x"))).cast("double").as("_sx"),
        sum(d38(col("_y"))).cast("double").as("_sy"),
        sum(d38(col("_x")) * d38(col("_x"))).cast("double").as("_sxx"),
        sum(d38(col("_x")) * d38(col("_y"))).cast("double").as("_sxy"),
        sum(d38(col("_y")) * d38(col("_y"))).cast("double").as("_syy"))
    val sxx = col("_sxx") - col("_sx") * col("_sx") / col("_n")
    val sxy = col("_sxy") - col("_sx") * col("_sy") / col("_n")
    val syy = col("_syy") - col("_sy") * col("_sy") / col("_n")
    m.select(col("frac"), col("_n").cast("long").as("n_rows"),
      round(sxy / nullif(sxx, lit(0.0)), 6).as("slope_r"),
      round(sxy / nullif(sxx, lit(0.0)) * sxy / nullif(syy, lit(0.0)),
        6).as("r2_r"))
      .orderBy(col("frac"))
  }
}
