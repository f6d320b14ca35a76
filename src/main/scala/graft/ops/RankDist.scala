package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Distances between two RANKINGS of the same bounded item universe —
  * the leaderboard-comparison toolkit next to q276's top-k drift
  * (membership churn) and `Retrieval.rboAt` (top-weighted overlap of
  * retrieval runs): footrule/Kendall measure how far two full
  * permutations disagree, rank-turbulence divergence names WHICH items
  * drive the disagreement.
  *
  * Input: an (item, scoreA, scoreB) frame, items²-bounded (brands,
  * types, segments — universes that do not grow with rows). Rankings
  * are row_number over (score desc, item asc) — the deterministic
  * tiebreak convention; windows run on the bounded item grid, never on
  * data-sized frames.
  */
object RankDist {

  /** (item, ra, rb): the two rankings, 1-based, dense over items. */
  private def ranks(df: DataFrame, itemCol: String, aCol: String,
      bCol: String): DataFrame =
    df.select(col(itemCol), col(aCol), col(bCol))
      .withColumn("ra", row_number().over(
        Window.orderBy(col(aCol).desc, col(itemCol))).cast("long"))
      .withColumn("rb", row_number().over(
        Window.orderBy(col(bCol).desc, col(itemCol))).cast("long"))
      .select(col(itemCol), col("ra"), col("rb"))

  /** Spearman footrule panel: F = Σ|ra−rb| (exact integers), the max
    * single-item displacement, and F normalized by its permutation
    * maximum ⌊n²/2⌋. Returns one row: n_items, footrule, max_disp,
    * footrule_norm_r. */
  def footrule(df: DataFrame, itemCol: String, aCol: String,
      bCol: String): DataFrame =
    ranks(df, itemCol, aCol, bCol)
      .agg(count(lit(1)).as("n_items"),
        sum(abs(col("ra") - col("rb"))).as("footrule"),
        max(abs(col("ra") - col("rb"))).as("max_disp"))
      .select(col("n_items"), col("footrule"), col("max_disp"),
        round(col("footrule").cast("double")
          / expr("cast(n_items * n_items div 2 as double)"), 6)
          .as("footrule_norm_r"))

  /** Kendall distance between the two rankings: discordant pairs D
    * (exact integers from the bounded grid² self-join) plus
    * τ_a = (n_pairs − 2D)/n_pairs — permutations have no ties, so C =
    * n_pairs − D. Returns one row: n_items, n_pairs, discordant,
    * tau_a_r. */
  def kendallDistance(df: DataFrame, itemCol: String, aCol: String,
      bCol: String): DataFrame = {
    val r = ranks(df, itemCol, aCol, bCol)
    val a = r.select(col("ra").as("_ra1"), col("rb").as("_rb1"))
    val b = r.select(col("ra").as("_ra2"), col("rb").as("_rb2"))
    val disc = a.crossJoin(broadcast(b))
      .filter(col("_ra1") < col("_ra2") && col("_rb1") > col("_rb2"))
      .agg(coalesce(count(lit(1)), lit(0L)).as("discordant"))
    val n = r.agg(count(lit(1)).as("n_items"))
    broadcast(n).crossJoin(broadcast(disc))
      .select(col("n_items"),
        expr("n_items * (n_items - 1) div 2").as("n_pairs"),
        col("discordant"))
      .select(col("n_items"), col("n_pairs"), col("discordant"),
        round((col("n_pairs") - lit(2) * col("discordant")).cast("double")
          / col("n_pairs").cast("double"), 6).as("tau_a_r"))
  }

  /** Rank-turbulence divergence contributions (Dodds et al. 2023,
    * α = 1 element): per item |1/ra − 1/rb| — the decomposable "who
    * moved" view footrule's absolute displacements (which over-weight
    * tail items) do not give. Returns all items: item, ra, rb, rtd_r,
    * sorted by (rtd_r desc, item) upstream by the caller. */
  def rankTurbulence(df: DataFrame, itemCol: String, aCol: String,
      bCol: String): DataFrame =
    ranks(df, itemCol, aCol, bCol)
      .select(col(itemCol), col("ra"), col("rb"),
        round(abs(lit(1.0) / col("ra").cast("double")
          - lit(1.0) / col("rb").cast("double")), 6).as("rtd_r"))

  /** Oaxaca–Blinder twofold decomposition of the mean-outcome gap
    * between groups A and B with one covariate (reference = B):
    * gap = ȳA − ȳB = β_B·(x̄A − x̄B)  [explained / endowments]
    *               + (α_A − α_B) + x̄A·(β_A − β_B)  [unexplained].
    * Per-group OLS is closed-form from one moment pass (Σ1, Σx, Σy,
    * Σxx, Σxy as 12-dp decimal sums); every downstream ratio is the
    * one fixed-association double expression shared with the oracle.
    * Returns one row: n_a, n_b, gap_r, explained_r, unexplained_r. */
  def oaxacaBlinder(df: DataFrame, groupCol: String, groupA: String,
      groupB: String, xCol: String, yCol: String): DataFrame = {
    val m = df.filter(col(groupCol).isin(groupA, groupB))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("_n"),
        sum(t12(col(xCol))).cast("double").as("_sx"),
        sum(t12(col(yCol))).cast("double").as("_sy"),
        sum(t12(col(xCol) * col(xCol))).cast("double").as("_sxx"),
        sum(t12(col(xCol) * col(yCol))).cast("double").as("_sxy"))
    def side(g: String, tag: String) = m.filter(col(groupCol) === g)
      .select(col("_n").as(s"n_$tag"), col("_sx").as(s"_sx$tag"),
        col("_sy").as(s"_sy$tag"), col("_sxx").as(s"_sxx$tag"),
        col("_sxy").as(s"_sxy$tag"))
    val j = broadcast(side(groupA, "a")).crossJoin(broadcast(side(groupB, "b")))
    def beta(t: String): Column = {
      val nD = col(s"n_$t").cast("double")
      ((col(s"_sxy$t") - col(s"_sx$t") * col(s"_sy$t") / nD)
        / (col(s"_sxx$t") - col(s"_sx$t") * col(s"_sx$t") / nD))
    }
    def mean(c: String, t: String): Column =
      col(s"_s$c$t") / col(s"n_$t").cast("double")
    val gap = mean("y", "a") - mean("y", "b")
    val explained = beta("b") * (mean("x", "a") - mean("x", "b"))
    j.select(col("n_a"), col("n_b"),
      round(gap, 6).as("gap_r"),
      round(explained, 6).as("explained_r"),
      round(gap - explained, 6).as("unexplained_r"))
  }
}
