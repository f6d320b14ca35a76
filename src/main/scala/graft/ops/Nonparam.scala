package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Nonparametric / distribution-free statistics over pre-aggregated
  * grains — the round-9 depth batch: Kendall's τ-b + Somers' D,
  * Mann–Whitney U (tie- and continuity-corrected z, Cliff's δ),
  * Jarque–Bera normality, Durbin–Watson serial correlation, the
  * Friedman blocked rank test, Goodman–Kruskal λ + Theil's U
  * categorical association, and the Hodges–Lehmann pseudo-median.
  *
  * The reference (a linear pandas ETL, `fetch_youtube_data.py`) has no
  * statistics surface at all; these generalize its analytics intent
  * (SURVEY.md §2.12) the way q227/q293/q295–q300 did in earlier
  * rounds. Scale posture is uniform: ONE corpus-scale hash-agg reduces
  * the input to a bounded grain (per-day / per-distinct-value /
  * per-cell), and every O(n²) pairwise structure (Kendall pairs, Walsh
  * averages) lives on that bounded spec table — never on corpus rows.
  * Determinism posture: comparisons and counts are exact integers
  * (values pre-scaled to cents by callers); the only doubles are final
  * closed-form combinations with one shared parenthesization, rounded
  * to 6 dp.
  */
object Nonparam {

  /** Shared two-sample ECDF grain: one corpus hash-agg to per-distinct-
    * value class counts (_v, _na, _nb), then BOTH cumulative counts via
    * [[Ranks.bandedRunningSum]]'s two-level prefix sum (the
    * [[mannWhitney]] posture — the value table is data-sized for
    * continuous columns at 100 TB, so no global-orderBy window). */
  private def ecdfGrain(df: DataFrame, valueCol: String,
      groupCol: String, aVal: String, bVal: String,
      bandWidth: Double): DataFrame = {
    val per = df.where(col(groupCol).isin(aVal, bVal))
      .groupBy(col(valueCol).as("_v"))
      .agg(sum(when(col(groupCol) === aVal, 1L).otherwise(0L)).as("_na"),
        sum(when(col(groupCol) === bVal, 1L).otherwise(0L)).as("_nb"))
      .withColumn("_g", lit(0))
    val c1 = Ranks.bandedRunningSum(per, "_g", "_v", "_na", bandWidth)
      .withColumnRenamed("runsum", "_cuma")
    Ranks.bandedRunningSum(c1, "_g", "_v", "_nb", bandWidth)
      .withColumnRenamed("runsum", "_cumb")
  }

  /** 1-D Wasserstein (earth-mover) distance between the `aVal` and
    * `bVal` empirical distributions of an integer-valued column:
    * W₁ = ∫|F_A − F_B| dx = Σ over consecutive distinct values
    * |F_A(v) − F_B(v)|·(v_next − v) — the METRIC complement to a KS
    * test (KS reports the worst ECDF gap, W₁ reports how much mass
    * must MOVE how far, in the column's own units).
    *
    * Exactness: per-step mass |cumA·n_b − cumB·n_a| and the gap are
    * exact DECIMAL(38,0) integers (safe past 2⁶³ rows); the ONLY
    * division is the final /(n_a·n_b). Consecutive values pair by a
    * [[Ranks.bandedRank]] rank self-join — no data-sized window
    * anywhere. Returns one row: n_a, n_b, w1_r (in value units). */
  def wasserstein1d(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String,
      bandWidth: Double = 16.0): DataFrame = {
    val g = ecdfGrain(df, valueCol, groupCol, aVal, bVal, bandWidth)
      .localCheckpoint() // consumed by totals + rank join
    val tot = g.agg(sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"))
    val ranked = Ranks.bandedRank(g, "_g", "_v", "_v", bandWidth)
    val nxt = ranked.select((col("rnk") - 1).as("rnk"),
      col("_v").as("_vn"))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val s = ranked.join(nxt, Seq("rnk")).crossJoin(broadcast(tot))
      .agg(sum(abs(d38(col("_cuma")) * col("n_b")
        - d38(col("_cumb")) * col("n_a"))
        * d38(col("_vn") - col("_v"))).as("_s"))
    s.crossJoin(broadcast(tot))
      .select(col("n_a"), col("n_b"),
        round(col("_s").cast("double") /
          (col("n_a").cast("double") * col("n_b").cast("double")), 6)
          .as("w1_r"))
  }

  /** Two-sample Cramér–von Mises statistic in the ECDF form (Anderson
    * 1962): T = (n_a·n_b/(n_a+n_b)²) · Σ_z (F_A(z) − F_B(z))² summed
    * over the POOLED sample (each distinct value weighted by its
    * pooled multiplicity) — the whole-distribution sibling of
    * [[mannWhitney]] (location only) and the L² counterpart of the KS
    * sup-gap: sensitive to shape/variance differences a location test
    * misses.
    *
    * Per-value terms are one double expression of exact integers
    * ((cumA/n_a − cumB/n_b)² · pooled count), 12-dp-rounded before the
    * order-independent DECIMAL sum; the scale factor applies once.
    * Returns one row: n_a, n_b, t_r. */
  def cramerVonMises(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String,
      bandWidth: Double = 16.0): DataFrame = {
    val g = ecdfGrain(df, valueCol, groupCol, aVal, bVal, bandWidth)
      .localCheckpoint() // totals + term sum read it
    val tot = g.agg(sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val fdiff = col("_cuma").cast("double") / naD -
      col("_cumb").cast("double") / nbD
    val s = g.crossJoin(broadcast(tot))
      .agg(sum(t12(fdiff * fdiff * (col("_na") + col("_nb"))
        .cast("double"))).cast("double").as("_s"),
        first(col("n_a")).as("n_a"), first(col("n_b")).as("n_b"))
    s.select(col("n_a"), col("n_b"),
      round(naD * nbD / ((naD + nbD) * (naD + nbD)) * col("_s"), 6)
        .as("t_r"))
  }

  /** Kendall rank correlation τ-b between two integer series on a
    * bounded grain (one row per `idCol`), plus Somers' D of `yCol`
    * given `xCol` — the ordinal-association pair behind "do busier
    * days bring proportionally more revenue". Pairwise concordance is
    * counted over the grain's self-join (i < j by `idCol`):
    * τ-b = (C−D)/√((n₀−t_x)(n₀−t_y)) with n₀ = n(n−1)/2 and t the
    * within-ties pair counts; D_{y|x} = (C−D)/(n₀−t_x). All counts are
    * exact BIGINTs; two doubles at the end.
    *
    * Shape: the grain is |days|-sized, so the self-join is a bounded
    * spec-table pass (the theilSen class), broadcast on one side by
    * AQE. Returns one row: n, concordant, discordant, tau_b_r,
    * somers_d_r. */
  def kendallTau(grain: DataFrame, idCol: String, xCol: String,
      yCol: String): DataFrame = {
    val a = grain.select(col(idCol).as("_ia"), col(xCol).as("_xa"),
      col(yCol).as("_ya"))
    val b = grain.select(col(idCol).as("_ib"), col(xCol).as("_xb"),
      col(yCol).as("_yb"))
    val pairs = a.join(b, col("_ia") < col("_ib"))
      .select((signum(col("_xb") - col("_xa"))
        * signum(col("_yb") - col("_ya"))).cast("long").as("_s"))
      .agg(sum(when(col("_s") > 0, 1L).otherwise(0L)).as("concordant"),
        sum(when(col("_s") < 0, 1L).otherwise(0L)).as("discordant"))
    def tiePairs(c: String): DataFrame = grain.groupBy(col(c))
      .agg(count(lit(1)).as("_t"))
      .agg(coalesce(sum(col("_t") * (col("_t") - 1) / 2), lit(0L))
        .as(s"_tie$c"))
    val nRow = grain.agg(count(lit(1)).as("n"))
    val joined = pairs.crossJoin(broadcast(nRow))
      .crossJoin(broadcast(tiePairs(xCol)))
      .crossJoin(broadcast(tiePairs(yCol)))
    val n0 = (col("n") * (col("n") - 1) / 2).cast("double")
    val cd = (col("concordant") - col("discordant")).cast("double")
    val denX = n0 - col(s"_tie$xCol").cast("double")
    val denY = n0 - col(s"_tie$yCol").cast("double")
    joined.select(col("n"), col("concordant"), col("discordant"),
      round(when(denX * denY > 0, cd / sqrt(denX * denY)), 6)
        .as("tau_b_r"),
      round(when(denX > 0, cd / denX), 6).as("somers_d_r"))
  }

  /** Mann–Whitney U two-sample location test between the `aVal` and
    * `bVal` levels of `groupCol`, with midrank ties, the tie-corrected
    * variance, a ±0.5 continuity-corrected normal z, and Cliff's
    * δ = 2U/(n_a·n_b) − 1 (the effect size the test statistic hides).
    * Carries 2U so everything stays integer until the final division:
    * 2U_a = Σ_s n_a(s)·(2·N_b(<s) + n_b(s)) over distinct values s.
    *
    * Shape: one corpus hash-agg to per-(value) class counts, then the
    * cumulative N_b(<s) prefix via [[Ranks.bandedRunningSum]]'s
    * two-level prefix sum over that table, one rollup — the rankSumAuc
    * posture; no corpus sort, no quadratic pair join, and no
    * UNPARTITIONED window either: the distinct-value table is bounded
    * for integer metrics but DATA-SIZED for a continuous double column
    * at 100 TB, where a global-orderBy window would funnel it through
    * one task. `bandWidth` is the banding valve on the value scale
    * (default 16: metrics on an integer grid split one band per 16
    * units; pick ≫ #cores bands for continuous metrics).
    * Returns one row: n_a, n_b, u2 (= 2U_a), z_r, cliffs_r. */
  def mannWhitney(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String,
      bandWidth: Double = 16.0): DataFrame = {
    val per = df.where(col(groupCol).isin(aVal, bVal))
      .groupBy(col(valueCol))
      .agg(sum(when(col(groupCol) === aVal, 1L).otherwise(0L)).as("_na"),
        sum(when(col(groupCol) === bVal, 1L).otherwise(0L)).as("_nb"))
    val agg = Ranks.bandedRunningSum(per.withColumn("_g", lit(0)),
        "_g", valueCol, "_nb", bandWidth)
      .withColumn("_cumb", col("runsum") - col("_nb"))
      .agg(sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"),
        sum(col("_na") * (lit(2) * col("_cumb") + col("_nb"))).as("u2"),
        sum((col("_na") + col("_nb")) * (col("_na") + col("_nb"))
          * (col("_na") + col("_nb")) - (col("_na") + col("_nb")))
          .as("_tieterm"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = naD + nbD
    val mu2 = col("n_a") * col("n_b") // = 2·E[U]
    val diff = (col("u2") - mu2).cast("double")
    val sigma = sqrt(naD * nbD / 12.0
      * ((nD + 1) - col("_tieterm").cast("double") / (nD * (nD - 1))))
    agg.select(col("n_a"), col("n_b"), col("u2"),
      round(when(sigma > 0 && diff =!= 0,
        (diff - signum(diff)) / (lit(2.0) * sigma))
        .otherwise(when(sigma > 0, 0.0)), 6).as("z_r"),
      round(col("u2").cast("double") / (naD * nbD) - 1, 6)
        .as("cliffs_r"))
  }

  /** Jarque–Bera normality test per group over an exact-integer
    * measure (cents): skewness, excess kurtosis, and
    * JB = n/6·(S² + K²/4) from the raw power sums Σc..Σc⁴ carried as
    * DECIMAL(38,0) (c ≤ 1e7 ⇒ Σc⁴ ≤ ~1e34 at sf0.1 — inside both
    * engines' 38-digit exact range). Central moments come from the one
    * shared raw-sum parenthesization; no per-row doubles, so the
    * reduction order can't drift cross-engine. */
  def jarqueBera(df: DataFrame, groupCol: String,
      centsCol: String): DataFrame = {
    val c = col(centsCol).cast("decimal(38,0)")
    val agg = df.groupBy(col(groupCol)).agg(
      count(lit(1)).as("n"), sum(c).as("_s1"),
      sum(c * c).as("_s2"), sum(c * c * c).as("_s3"),
      sum(c * c * c * c).as("_s4"))
    val nD = col("n").cast("double")
    val mu = col("_s1").cast("double") / nD
    val r2 = col("_s2").cast("double") / nD
    val r3 = col("_s3").cast("double") / nD
    val r4 = col("_s4").cast("double") / nD
    val m2 = r2 - mu * mu
    val m3 = r3 - lit(3.0) * mu * r2 + lit(2.0) * mu * mu * mu
    val m4 = r4 - lit(4.0) * mu * r3 + lit(6.0) * mu * mu * r2 -
      lit(3.0) * mu * mu * mu * mu
    val skew = m3 / sqrt(m2 * m2 * m2)
    val exk = m4 / (m2 * m2) - 3.0
    agg.select(col(groupCol), col("n"),
      round(when(m2 > 0, skew), 6).as("skew_r"),
      round(when(m2 > 0, exk), 6).as("exkurt_r"),
      round(when(m2 > 0,
        nD / 6.0 * (skew * skew + exk * exk / 4.0)), 6).as("jb_r"))
  }

  /** Durbin–Watson serial-correlation statistic of the residuals from
    * the straight-line OLS fit of an integer daily series — "is the
    * trend model leaving autocorrelated errors" (DW→2 independent,
    * →0 positive serial correlation). The fit uses exact integer sums
    * (t as a 0-based day index, y in cents; Σty as DECIMAL); residuals
    * are doubles from ONE shared (a, b) pair, and both DW sums take
    * 6-dp-rounded DECIMAL terms so the final ratio is reduction-order
    * independent. Returns one row: n_days, slope_r, dw_r.
    *
    * Shape: one corpus hash-agg to the daily grain; the lag window and
    * both sums run on |days| rows. */
  def durbinWatson(daily: DataFrame, tCol: String,
      yCentsCol: String): DataFrame = {
    val t = col(tCol).cast("double")
    val y = col(yCentsCol).cast("double")
    val sums = daily.agg(count(lit(1)).as("n"),
      sum(col(tCol)).as("_st"),
      sum(col(tCol).cast("decimal(38,0)") * col(tCol)).as("_stt"),
      sum(col(yCentsCol).cast("decimal(38,0)")).as("_sy"),
      sum(col(tCol).cast("decimal(38,0)") * col(yCentsCol)).as("_sty"))
    val nD = col("n").cast("double")
    val stD = col("_st").cast("double")
    val sttD = col("_stt").cast("double")
    val syD = col("_sy").cast("double")
    val styD = col("_sty").cast("double")
    val b = (nD * styD - stD * syD) / (nD * sttD - stD * stD)
    val a = (syD - b * stD) / nD
    val fit = daily.crossJoin(broadcast(
      sums.select(b.as("_b"), a.as("_a"), col("n"))))
    val e = y - col("_a") - col("_b") * t
    val wl = Window.orderBy(tCol)
    val terms = fit.select(col("n"), col("_b"),
      round(e * e, 6).cast("decimal(38,6)").as("_e2"),
      round((e - lag(e, 1).over(wl)) * (e - lag(e, 1).over(wl)), 6)
        .cast("decimal(38,6)").as("_d2"))
    terms.groupBy(col("n"), col("_b"))
      .agg(sum(col("_e2")).as("_den"), sum(col("_d2")).as("_num"))
      .select(col("n").as("n_days"), round(col("_b"), 6).as("slope_r"),
        round(when(col("_den") > 0,
          col("_num").cast("double") / col("_den").cast("double")), 6)
          .as("dw_r"))
  }

  /** Friedman blocked rank test: do the `k` treatment levels differ
    * when values are ranked WITHIN each block (the repeated-measures
    * cousin of q297's Kruskal–Wallis — blocks absorb the level shift
    * between weeks that a pooled rank test would smear)? Midranks
    * within block; only blocks observing all k treatments count. The
    * tie-safe form χ² = (k−1)·Σ_j (R_j − b(k+1)/2)² / (A − b·k(k+1)²/4)
    * with A = Σ r²; ranks are .5-grid rationals, so every sum is exact
    * in doubles. Emits one row per treatment (rank_sum_r, mean_rank_r)
    * with the shared n_blocks and chi2_r repeated — the per-level view
    * plus the test in one relational result.
    *
    * Shape: one hash-agg to the (block, treatment, value) grain, rank
    * windows partitioned by block (bounded: k rows each), one k-row
    * rollup. */
  def friedman(cells: DataFrame, blockCol: String, treatCol: String,
      valueCol: String): DataFrame = {
    val k = cells.select(col(treatCol)).distinct().count()
    val complete = cells.groupBy(col(blockCol))
      .agg(count(lit(1)).as("_kb")).where(col("_kb") === k)
      .select(col(blockCol))
    val inBlocks = cells.join(complete, Seq(blockCol))
    val wr = Window.partitionBy(blockCol).orderBy(valueCol)
    val eq = Window.partitionBy(blockCol, valueCol)
    val ranked = inBlocks
      .withColumn("_r", rank().over(wr).cast("double")
        + (count(lit(1)).over(eq).cast("double") - 1) / 2)
    val perTreat = ranked.groupBy(col(treatCol))
      .agg(count(lit(1)).as("n_blocks"), sum(col("_r")).as("_rsum"),
        sum(col("_r") * col("_r")).as("_rsq"))
    val tot = perTreat.agg(max(col("n_blocks")).as("_b"),
      sum(col("_rsq")).as("_a"))
    val bD = col("_b").cast("double")
    val kD = lit(k.toDouble)
    val cf = bD * kD * (kD + 1) * (kD + 1) / 4.0
    val dev = col("_rsum") - bD * (kD + 1) / 2.0
    val joined = perTreat.crossJoin(broadcast(tot))
    val ssDev = joined.agg(sum(dev * dev).as("_ss")).select(col("_ss"))
    joined.crossJoin(broadcast(ssDev))
      .select(col(treatCol), col("n_blocks"),
        round(col("_rsum"), 2).as("rank_sum_r"),
        round(col("_rsum") / col("n_blocks"), 6).as("mean_rank_r"),
        round(when(col("_a") - cf > 0,
          (kD - 1) * col("_ss") / (col("_a") - cf)), 6).as("chi2_r"))
  }

  /** Goodman–Kruskal λ (proportional reduction in prediction error)
    * and Theil's uncertainty coefficient U, both directions, between
    * two categorical columns — the "how much does knowing X help
    * predict Y" pair: λ counts modal-prediction errors (exact integer
    * ratio), U measures entropy reduction (U(y|x) = I(X;Y)/H(Y)).
    * λ(y|x) = (Σ_x max_y n_xy − max_y n_y)/(n − max_y n_y), null when
    * Y is constant. One joint |X|·|Y| count table feeds everything
    * (the mutualInfo posture); log terms are double sums over that
    * bounded table, rounded 6. Returns one row: n, lambda_yx_r,
    * lambda_xy_r, u_yx_r, u_xy_r. */
  def assocMeasures(df: DataFrame, xCol: String,
      yCol: String): DataFrame = {
    // localCheckpoint, not cache: the joint table has SEVEN consumers
    // below and must be computed once, but a cache() here would leak a
    // pinned plan per invocation across a long session (the Markov.scala
    // multi-consumer convention — materialize eagerly, no unpersist
    // bookkeeping needed)
    val jd = df.groupBy(col(xCol), col(yCol))
      .agg(count(lit(1)).as("_nxy")).localCheckpoint()
    val nx = jd.groupBy(col(xCol)).agg(sum(col("_nxy")).as("_m"))
    val ny = jd.groupBy(col(yCol)).agg(sum(col("_nxy")).as("_m"))
    val tot = jd.agg(sum(col("_nxy")).as("_n"))
    val maxInX = jd.groupBy(col(xCol)).agg(max(col("_nxy")).as("_mx"))
      .agg(sum(col("_mx")).as("_sumMaxInX"))
    val maxInY = jd.groupBy(col(yCol)).agg(max(col("_nxy")).as("_my"))
      .agg(sum(col("_my")).as("_sumMaxInY"))
    val maxX = nx.agg(max(col("_m")).as("_maxX"))
    val maxY = ny.agg(max(col("_m")).as("_maxY"))
    val nD = col("_n").cast("double")
    def entropy(m: DataFrame, outName: String): DataFrame = m
      .crossJoin(broadcast(tot))
      .agg(sum(-(col("_m").cast("double") / nD)
        * log(col("_m").cast("double") / nD)).as(outName))
    val hxy = jd.join(nx.withColumnRenamed("_m", "_nx"), Seq(xCol))
      .crossJoin(broadcast(tot))
      .agg(sum(-(col("_nxy").cast("double") / nD)
        * log(col("_nxy").cast("double")
          / col("_nx").cast("double"))).as("_hyGx"))
    tot.crossJoin(broadcast(maxInX)).crossJoin(broadcast(maxInY))
      .crossJoin(broadcast(maxX)).crossJoin(broadcast(maxY))
      .crossJoin(broadcast(entropy(nx, "_hx")))
      .crossJoin(broadcast(entropy(ny, "_hy")))
      .crossJoin(broadcast(hxy))
      .select(col("_n").as("n"),
        round(when(col("_n") - col("_maxY") > 0,
          (col("_sumMaxInX") - col("_maxY")).cast("double")
            / (col("_n") - col("_maxY")).cast("double")), 6)
          .as("lambda_yx_r"),
        round(when(col("_n") - col("_maxX") > 0,
          (col("_sumMaxInY") - col("_maxX")).cast("double")
            / (col("_n") - col("_maxX")).cast("double")), 6)
          .as("lambda_xy_r"),
        round(when(col("_hy") > 0,
          (col("_hy") - col("_hyGx")) / col("_hy")), 6).as("u_yx_r"),
        round(when(col("_hx") > 0,
          (col("_hy") - col("_hyGx")) / col("_hx")), 6).as("u_xy_r"))
  }

  /** Hodges–Lehmann pseudo-median per group: the median of all Walsh
    * averages (x_i + x_j)/2, i ≤ j, over a bounded integer grain — the
    * rank-based location estimate that keeps 29% efficiency advantage
    * over the median under normality while staying outlier-robust.
    * Walsh averages sit on the .5 grid, and the median reuses
    * [[Ranks.exactQuantiles]] (quantile_cont parity, .25-grid
    * interpolation — exact binary doubles), so the estimate is
    * bit-reproducible cross-engine. Returns per group: n_pairs, hl_r.
    *
    * Shape: the pair join is grain × grain within group (the
    * kendallTau class — bounded spec table, never corpus rows). */
  def hodgesLehmann(grain: DataFrame, groupCol: String, idCol: String,
      valueCol: String): DataFrame = {
    val a = grain.select(col(groupCol), col(idCol).as("_ia"),
      col(valueCol).as("_xa"))
    val b = grain.select(col(groupCol), col(idCol).as("_ib"),
      col(valueCol).as("_xb"))
    val walsh = a.join(b, Seq(groupCol))
      .where(col("_ia") <= col("_ib"))
      .select(col(groupCol),
        ((col("_xa") + col("_xb")).cast("double") / 2).as("_w"),
        concat(col("_ia").cast("string"), lit("#"),
          col("_ib").cast("string")).as("_pid"))
    Ranks.exactQuantiles(walsh, groupCol, "_w", "_pid",
        bandWidth = 1.0, nums = Seq(1), den = 2)
      .select(col(groupCol), col("n").as("n_pairs"),
        round(col("q_val"), 6).as("hl_r"))
  }

  /** Kolmogorov–Smirnov distance of per-entity inter-event gaps from
    * the exponential(λ̂) null, λ̂ = 1/mean gap (Lilliefors-style
    * plug-in): D = sup_x |ECDF(x) − (1 − e^{−λx})| evaluated at both
    * step edges of every distinct gap value — "are arrivals Poisson,
    * or do they burst" (the distributional sharpening of the q292
    * dispersion index; burstiness shows up as excess small gaps).
    *
    * Shape: gaps come from a per-entity lag window (partitioned — the
    * corpus never single-tasks); the ECDF runs on the DISTINCT-GAP
    * grain through [[Ranks.bandedRunningSum]] (a continuous-valued
    * gap column at 100 TB makes that grain data-sized — the q302
    * lesson); D is a max over exact-count ratios and one exp() per
    * distinct value, rounded above the noise. Returns one row:
    * n_gaps, mean_gap_s_r, d_ks_r. */
  def exponentialityKs(events: DataFrame, entityCol: String,
      tsCol: String, idCol: String,
      bandWidth: Double = 1000.0): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(idCol))
    val gaps = events
      .withColumn("_prev", lag(unix_micros(col(tsCol)), 1).over(w))
      .where(col("_prev").isNotNull)
      .select((unix_micros(col(tsCol)) - col("_prev")).as("_gus"))
    val grain = gaps.groupBy(col("_gus")).agg(count(lit(1)).as("_c"))
    val cum = Ranks.bandedRunningSum(grain.withColumn("_g", lit(0)),
      "_g", "_gus", "_c", bandWidth * 1e6)
    val tot = gaps.agg(count(lit(1)).as("n_gaps"),
      sum(col("_gus")).as("_sg"))
    val lam = col("n_gaps").cast("double") /
      (col("_sg").cast("double") / 1e6) // per second
    val withT = cum.crossJoin(broadcast(tot))
    val nD = col("n_gaps").cast("double")
    val cdf = lit(1.0) - exp(-lam * (col("_gus").cast("double") / 1e6))
    val dAt = abs(col("runsum").cast("double") / nD - cdf)
    val dBefore = abs(cdf -
      (col("runsum") - col("_c")).cast("double") / nD)
    val d = withT.agg(max(greatest(dAt, dBefore)).as("_d"),
      first(col("n_gaps")).as("n_gaps"),
      first(col("_sg")).as("_sg"))
    d.select(col("n_gaps"),
      round(col("_sg").cast("double") / 1e6
        / col("n_gaps").cast("double"), 6).as("mean_gap_s_r"),
      round(col("_d"), 6).as("d_ks_r"))
  }

  /** Wilcoxon signed-rank test over one integer difference column —
    * the PAIRED location test ([[mannWhitney]]'s matched-samples
    * sibling): zero differences are excluded (the standard Wilcoxon
    * convention), |d| midranks are kept exactly integer by the ×2
    * doubling trick over the distinct-|d| count grain (the
    * mannWhitney shape — never a per-row rank), W⁺ accumulates as a
    * doubled BIGINT, and z uses the tie-corrected normal
    * approximation with the same ±0.5 continuity convention as
    * [[mannWhitney]]. Also emits the rank-biserial correlation
    * (W⁺ − E)/E — the effect size. The cumulative prefix over the
    * data-shaped distinct-|d| grain rides bandedRunningSum.
    * Returns one row: n, w2_plus, z_r, rank_biserial_r. */
  def wilcoxonSignedRank(pairs: DataFrame, diffCol: String,
      bandWidth: Double = 16.0): DataFrame = {
    val nz = pairs.select(col(diffCol).cast("long").as("_d"))
      .where(col("_d") =!= 0)
    val per = nz.groupBy(abs(col("_d")).as("_ad"))
      .agg(count(lit(1)).as("_t"),
        sum(when(col("_d") > 0, 1L).otherwise(0L)).as("_p"))
    val agg = Ranks.bandedRunningSum(per.withColumn("_g", lit(0)),
        "_g", "_ad", "_t", bandWidth)
      .withColumn("_cb", col("runsum") - col("_t"))
      // doubled midrank of the |d|-tied block: 2·cumBefore + t + 1
      .agg(sum(col("_t")).as("n"),
        sum(col("_p") * (lit(2) * col("_cb") + col("_t") + 1))
          .as("w2_plus"),
        sum(col("_t") * col("_t") * col("_t") - col("_t")).as("_tie"))
    val nL = col("n")
    val num = (col("w2_plus") - nL * (nL + 1) / 2).cast("double")
    // Var(W2⁺) = [2n(n+1)(2n+1) − Σ(t³−t)] / 12; σ(W⁺) = √(Var/4)
    val sigma = sqrt((lit(2L) * nL * (nL + 1) * (nL * 2 + 1)
      - col("_tie")).cast("double") / 48.0)
    agg.select(col("n"), col("w2_plus"),
      round(when(sigma > 0 && num =!= 0,
        (num - signum(num)) / (lit(2.0) * sigma))
        .otherwise(when(sigma > 0, 0.0)), 6).as("z_r"),
      round(num / (nL * (nL + 1) / 2).cast("double"), 6)
        .as("rank_biserial_r"))
  }

  /** Turning-point randomness test over one global day-grain series:
    * count STRICT interior local extrema (y_{t−1} < y_t > y_{t+1} or
    * the mirror — a tie with either neighbor is not a turn), compare
    * to the i.i.d. expectation E = 2(n−2)/3, Var = (16n−29)/90
    * (Kendall's classic result). Too few turns = trend/persistence,
    * too many = alternation faster than noise — the cheap "is this
    * series even random" pre-read before [[../TimeSeries]] modeling.
    * The lag/lead window is the calendar-bounded day-grain convention
    * (q294's runs-test shape). Returns one row: n_days, n_turns,
    * expected_r, z_r. */
  def turningPoints(daily: DataFrame, tCol: String,
      yCol: String): DataFrame = {
    val w = Window.orderBy(col(tCol))
    val turn = daily
      .withColumn("_pv", lag(col(yCol), 1).over(w))
      .withColumn("_nx", lead(col(yCol), 1).over(w))
      .withColumn("_turn",
        when(col("_pv").isNotNull && col("_nx").isNotNull &&
          ((col(yCol) > col("_pv") && col(yCol) > col("_nx")) ||
            (col(yCol) < col("_pv") && col(yCol) < col("_nx"))),
          1L).otherwise(0L))
    val nD = col("n_days").cast("double")
    val e = lit(2.0) * (nD - 2) / 3.0
    turn.agg(count(lit(1)).as("n_days"), sum(col("_turn")).as("n_turns"))
      .select(col("n_days"), col("n_turns"),
        round(e, 6).as("expected_r"),
        round(when(col("n_days") >= 3,
          (col("n_turns").cast("double") - e)
            / sqrt((lit(16.0) * nD - 29) / 90.0)), 6).as("z_r"))
  }

  /** Hellinger distance between every pair of per-group value
    * distributions, over fixed integer value bands: the
    * Bhattacharyya coefficient BC = Σ_bins √(p·q) and
    * H = √(1 − BC) — a PROPER bounded metric (unlike KL) for "how
    * differently do these segments spend", next to q160's
    * Jensen–Shannon (which compares token distributions; this is the
    * numeric-histogram form with a closed pair grid). Bins absent
    * from either side contribute 0 (√(p·0)) and drop from the inner
    * join. Per-bin √(p·q) terms are 12-dp DECIMAL-summed; BC is
    * clamped at 1 before the final √ (a last-ulp float excess would
    * NaN it). Groups × bins is bounded, so the pair join is a tiny
    * spec-frame product — the corpus is touched once by the binning
    * agg. Returns per pair (a < b): group_a, group_b, n_a, n_b,
    * bc_r, hellinger_r. */
  def hellingerPairs(df: DataFrame, groupCol: String, valueCol: String,
      bandCents: Long): DataFrame = {
    require(bandCents > 0, "bandCents must be > 0")
    val binned = df.select(col(groupCol).cast("string").as("_g"),
      expr(s"cast($valueCol as bigint) div $bandCents").as("_b"))
    val cnt = binned.groupBy(col("_g"), col("_b"))
      .agg(count(lit(1)).as("_c"))
    val tot = cnt.groupBy(col("_g")).agg(sum(col("_c")).as("_n"))
    val j = cnt.join(broadcast(tot), Seq("_g"))
    val a = j.select(col("_g").as("group_a"), col("_b"),
      col("_c").as("_ca"), col("_n").as("_na"))
    val b = j.select(col("_g").as("group_b"), col("_b"),
      col("_c").as("_cb"), col("_n").as("_nb"))
    val bc = a.join(b, Seq("_b")).where(col("group_a") < col("group_b"))
      .groupBy(col("group_a"), col("group_b"))
      .agg(sum(t12(sqrt((col("_ca").cast("double")
            / col("_na").cast("double"))
          * (col("_cb").cast("double") / col("_nb").cast("double")))))
          .cast("double").as("_bc"))
    // the pair GRID comes from the group totals, not the shared-bin
    // join: a fully disjoint pair shares no bin and must surface as
    // BC = 0 / H = 1, not as a missing row
    val grid = tot.select(col("_g").as("group_a"), col("_n").as("n_a"))
      .crossJoin(tot.select(col("_g").as("group_b"),
        col("_n").as("n_b")))
      .where(col("group_a") < col("group_b"))
    grid.join(bc, Seq("group_a", "group_b"), "left")
      .withColumn("_bc", coalesce(col("_bc"), lit(0.0)))
      .select(col("group_a"), col("group_b"), col("n_a"), col("n_b"),
        round(col("_bc"), 6).as("bc_r"),
        round(sqrt(lit(1.0) - least(col("_bc"), lit(1.0))), 6)
          .as("hellinger_r"))
  }

  /** Unbiased MMD² two-sample test statistic (Gretton et al. 2012)
    * with the RBF kernel k(x,y) = exp(−γ·‖x−y‖²) over embedding
    * columns: are two labeled sub-corpora drawn from the same
    * distribution in embedding space? Complements [[wasserstein1d]]/
    * [[cramerVonMises]] (scalar ECDFs) with the multivariate kernel
    * view.
    *
    *   MMD²_u = S_aa/(m(m−1)) + S_bb/(n(n−1)) − 2·S_ab/(mn),
    * S_xx summing k over ORDERED pairs i≠j. Squared distances come
    * from the codegen dot kernel (d² = x·x + y·y − 2·x·y — one
    * self-dot pass, then one kernel call per pair, never a per-pair
    * array fold); the exp ARGUMENT and value are 12-dp-rounded (the
    * plattScaling convention) and every kernel sum rides the DECIMAL
    * grid. Quadratic by definition — the audit-scale contract (pair
    * volume (m+n)²; at production, run on a stratified sample).
    * Returns one row: m, n, kaa_r, kbb_r, kab_r, mmd2_r. */
  def mmdRbf(emb: DataFrame, labelCol: String, labelA: Int,
      labelB: Int, gamma: Double): DataFrame = {
    import graft.expr.VectorKernels.dot_product
    val base = emb
      .filter(col(labelCol).isin(labelA, labelB))
      .select(col("vec_id").as("_id"), col(labelCol).as("_l"),
        col("embedding").as("_e"))
      .withColumn("_ss", dot_product(col("_e"), col("_e")))
      .localCheckpoint() // both sides of the pair fan-out
    val a = base.select(col("_id").as("_ia"), col("_l").as("_la"),
      col("_e").as("_ea"), col("_ss").as("_sa"))
    val b = base.select(col("_id").as("_ib"), col("_l").as("_lb"),
      col("_e").as("_eb"), col("_ss").as("_sb"))
    val pairs = a.join(b, col("_ia") =!= col("_ib"))
      .withColumn("_d2", col("_sa") + col("_sb")
        - lit(2.0) * dot_product(col("_ea"), col("_eb")))
      .withColumn("_k",
        round(exp(-lit(gamma) * round(col("_d2"), 12)), 12))
    val s = pairs.agg(
      sum(when(col("_la") === labelA && col("_lb") === labelA,
        t12(col("_k")))).cast("double").as("_saa"),
      sum(when(col("_la") === labelB && col("_lb") === labelB,
        t12(col("_k")))).cast("double").as("_sbb"),
      sum(when(col("_la") === labelA && col("_lb") === labelB,
        t12(col("_k")))).cast("double").as("_sab"))
    val cnt = base.agg(
      sum(when(col("_l") === labelA, 1L).otherwise(0L)).as("m"),
      sum(when(col("_l") === labelB, 1L).otherwise(0L)).as("n"))
    val mD = col("m").cast("double")
    val nD = col("n").cast("double")
    s.crossJoin(broadcast(cnt))
      .select(col("m"), col("n"),
        round(col("_saa") / (mD * (mD - 1)), 6).as("kaa_r"),
        round(col("_sbb") / (nD * (nD - 1)), 6).as("kbb_r"),
        round(col("_sab") / (mD * nD), 6).as("kab_r"),
        round(col("_saa") / (mD * (mD - 1))
          + col("_sbb") / (nD * (nD - 1))
          - lit(2.0) * col("_sab") / (mD * nD), 6).as("mmd2_r"))
  }

  /** Anderson–Darling statistic of per-entity inter-event gaps against
    * the exponential(λ̂) null — [[exponentialityKs]]'s tail-weighted
    * sibling (AD upweights exactly the small-gap burst region KS
    * underweights):
    *   A² = −n − (1/n) Σᵢ (2i−1)[ln F(x₍ᵢ₎) + ln(1−F(x₍ₙ₊₁₋ᵢ₎))].
    * On the DISTINCT-GAP grain a value v with count c and exclusive
    * cumulative count C owns ranks C+1…C+c, so its two rank-weight
    * sums are closed-form exact integers — c(2C+c) and c(2n−2C−c) —
    * and ln(1−F(v)) = −λv exactly, leaving ONE ln per distinct value
    * (12-dp-gridded before the sum). Ranks ride
    * [[Ranks.bandedRunningSum]] (the q302/q353 posture: never a
    * corpus-sized rank window). Zero gaps (simultaneous events) are
    * excluded — F(0) = 0 has no finite log and ties violate the
    * continuous null anyway (documented). Returns one row: n_gaps,
    * lambda_per_s_r, a2_r. */
  def adExponentiality(events: DataFrame, entityCol: String,
      tsCol: String, idCol: String,
      bandWidth: Double = 1000.0): DataFrame = {
    val w = Window.partitionBy(col(entityCol))
      .orderBy(col(tsCol), col(idCol))
    val gaps = events
      .withColumn("_prev", lag(unix_micros(col(tsCol)), 1).over(w))
      .where(col("_prev").isNotNull)
      .select((unix_micros(col(tsCol)) - col("_prev")).as("_gus"))
      .where(col("_gus") > 0)
    val grain = gaps.groupBy(col("_gus")).agg(count(lit(1)).as("_c"))
    val cum = Ranks.bandedRunningSum(grain.withColumn("_g", lit(0)),
      "_g", "_gus", "_c", bandWidth * 1e6)
    val tot = gaps.agg(count(lit(1)).as("n_gaps"),
      sum(col("_gus")).as("_sg"))
    val withT = cum.crossJoin(broadcast(tot))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val lam = col("n_gaps").cast("double") /
      (col("_sg").cast("double") / 1e6) // per second
    val xs = col("_gus").cast("double") / 1e6
    val cExcl = col("runsum") - col("_c") // exclusive cumulative C
    // w1 = c(2C+c), w2 = c(2n−2C−c): exact rank-weight run sums
    val w1 = (d38(col("_c")) * (cExcl * 2 + col("_c"))).cast("double")
    val w2 = (d38(col("_c"))
      * (col("n_gaps") * 2 - cExcl * 2 - col("_c"))).cast("double")
    // clamp the log argument (plattScaling discipline): a pathologically
    // small rate-times-gap rounds exp's argument to 0, 1-exp(0) = 0, and
    // Spark log(0) = NULL silently drops the term while DuckDB ln(0)
    // errors/-inf — clamping to 1e-12 on BOTH engines keeps degenerate
    // inputs convergent (no effect at any realistic rate-gap product)
    val lnF = log(greatest(lit(1.0) - exp(-round(lam * xs, 12)),
      lit(1e-12)))
    val s = withT.agg(
      sum(t12(w1 * lnF)).cast("double").as("_s1"),
      sum(t12(w2 * (-lam * xs))).cast("double").as("_s2"),
      first(col("n_gaps")).as("n_gaps"),
      first(col("_sg")).as("_sg"))
    val nD = col("n_gaps").cast("double")
    s.select(col("n_gaps"),
      round(nD / (col("_sg").cast("double") / 1e6), 6)
        .as("lambda_per_s_r"),
      round(-nD - (col("_s1") + col("_s2")) / nD, 6).as("a2_r"))
  }

  /** Shared two-sample RANK-SCORES core: one corpus hash-agg to the
    * distinct-value grid with per-group class counts, ONE banded
    * running sum (the [[mannWhitney]] posture — no unpartitioned
    * window), then every linear-rank-statistic this family needs from
    * closed-form positional score-range sums:
    *  - Wilcoxon: u2 (= 2U_a) and the cubic tie term,
    *  - Ansari–Bradley scores a_p = min(p, N+1−p) (doubled: g2 range
    *    sums, exact integers),
    *  - Mood scale scores (p − (N+1)/2)² (×12: 3·(2p−M)² range sums,
    *    exact integers).
    * Tie handling is the mid-score average per distinct value (exact
    * rational 2S/m and q3/(12m)). Score accumulation is NORMALIZED —
    * AB scores in units of N, Mood scores in units of N² — so the
    * 12-dp DECIMAL(28,12) term grid never overflows at any corpus
    * size (the sf0.1 stress gate caught the unnormalized Mood square
    * at 6.4e17 > the grid's 1e16 integer capacity); the z statistics
    * are scale-invariant and the display statistics multiply back.
    * The per-row integer range sums stay BIGINT like [[mannWhitney]]'s
    * u2 (envelope ~N ≤ 2e6 for the cubic Mood prefix; a 100 TB
    * deployment lifts them to DECIMAL(38,0), the Markov product
    * idiom). Returns ONE row of sufficient statistics: n_a, n_b, u2,
    * tieterm, wab (= W_AB/N), saab2 (Σa²_AB/N²), tmood (= T/N²),
    * samood2 (Σa²_Mood/N⁴), with Σa totals derivable from N
    * client-side. */
  private def twoSampleCore(df: DataFrame, valueCol: String,
      groupCol: String, aVal: String, bVal: String,
      bandWidth: Double): DataFrame = {
    val per = df.where(col(groupCol).isin(aVal, bVal))
      .groupBy(col(valueCol))
      .agg(sum(when(col(groupCol) === aVal, 1L).otherwise(0L)).as("_na"),
        sum(when(col(groupCol) === bVal, 1L).otherwise(0L)).as("_nb"))
      .withColumn("_m", col("_na") + col("_nb"))
    val cum = Ranks.bandedRunningSum(per.withColumn("_g", lit(0)),
      "_g", valueCol, "_m", bandWidth)
    val tot = cum.agg(sum(col("_m")).as("n"))
    val g = cum.crossJoin(broadcast(tot))
      .withColumn("_c", floor((col("n") + 1).cast("double") / 2.0)
        .cast("long")) // (N+1) div 2
      .withColumn("_r", col("runsum"))
      .withColumn("_l", col("runsum") - col("_m"))
    // doubled Ansari–Bradley prefix g2(x) = Σ 2·min(p, N+1−p), exact
    def g2(x: Column): Column =
      when(x <= col("_c"), x * (x + 1))
        .otherwise(lit(2) * col("_c") * (col("_c") + 1)
          + lit(2) * (x - col("_c")) * (col("n") + 1) - x * (x + 1))
    // tripled Mood-scale prefix 3F(x) = Σ 3·(2p−(N+1))², exact
    def f3(x: Column): Column =
      (lit(2) * x * (x + 1) * (lit(2) * x + 1)
        - lit(6) * (col("n") + 1) * x * (x + 1)
        + lit(3) * (col("n") + 1) * (col("n") + 1) * x)
    val scored = g
      .withColumn("_s2", g2(col("_r")) - g2(col("_l")))
      .withColumn("_q3", f3(col("_r")) - f3(col("_l")))
      .withColumn("_cumb",
        col("runsum") - col("_m")) // exclusive cum of BOTH classes
    // NOTE _cumb above is total-count prefix; Wilcoxon needs the
    // b-class prefix, recovered from na prefix: C_b(<v) = C(<v) − C_a(<v)
    val cumA = Ranks.bandedRunningSum(scored.withColumn("_g2", lit(0)),
      "_g2", valueCol, "_na", bandWidth)
      .withColumnRenamed("runsum", "_runa")
      .withColumn("_cb", col("_cumb") - (col("_runa") - col("_na")))
    cumA.agg(
        sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"),
        first(col("n")).as("n"),
        sum(col("_na") * (lit(2) * col("_cb") + col("_nb"))).as("u2"),
        sum(col("_m") * col("_m") * col("_m") - col("_m")).as("tieterm"),
        sum(t12(col("_na").cast("double")
          * (col("_s2").cast("double") / (col("_m").cast("double")
            * col("n").cast("double"))))).as("_w2"),
        sum(t12(col("_m").cast("double")
          * (col("_s2").cast("double") / (col("_m").cast("double")
            * col("n").cast("double")) / 2)
          * (col("_s2").cast("double") / (col("_m").cast("double")
            * col("n").cast("double")) / 2))).as("_saab2"),
        sum(t12(col("_na").cast("double")
          * (col("_q3").cast("double") / (lit(12.0)
            * col("_m").cast("double") * col("n").cast("double")
            * col("n").cast("double"))))).as("_tmood"),
        sum(t12(col("_m").cast("double")
          * (col("_q3").cast("double") / (lit(12.0)
            * col("_m").cast("double") * col("n").cast("double")
            * col("n").cast("double")))
          * (col("_q3").cast("double") / (lit(12.0)
            * col("_m").cast("double") * col("n").cast("double")
            * col("n").cast("double"))))).as("_samood2"))
      .select(col("n_a"), col("n_b"), col("n"), col("u2"),
        col("tieterm"),
        (col("_w2").cast("double") / 2).as("wab"),
        col("_saab2").cast("double").as("saab2"),
        col("_tmood").cast("double").as("tmood"),
        col("_samood2").cast("double").as("samood2"))
  }

  /** Sampling-without-replacement z for a linear rank statistic W =
    * Σ_{i∈A} a_i: E = n_a·ΣA/N, Var = n_a·n_b·(N·Σa² − (Σa)²) /
    * (N²·(N−1)) — the exact tie-adjusted permutation moments. */
  private def rankZ(w: Column, sa: Column, sa2: Column,
      naD: Column, nbD: Column, nD: Column): Column = {
    val e = naD * sa / nD
    val v = naD * nbD * (nD * sa2 - sa * sa) / (nD * nD * (nD - 1))
    when(v > 0, (w - e) / sqrt(v))
  }

  /** Ansari–Bradley two-sample SCALE test: scores run 1,2,…,⌈N/2⌉,…,2,1
    * from both ends, so a group whose values crowd the extremes scores
    * LOW — the classic dispersion alternative to [[mannWhitney]]'s
    * location shift. Tie-averaged scores; z from the exact
    * sampling-without-replacement moments (no continuity correction,
    * the Lepage convention). Returns one row: n_a, n_b, ab_w_r, z_r.
    *
    * Shape: the [[twoSampleCore]] grid — one corpus hash-agg + banded
    * prefix, closed-form positional sums; no corpus sort. */
  def ansariBradley(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String, bandWidth: Double = 16.0): DataFrame = {
    val core = twoSampleCore(df, valueCol, groupCol, aVal, bVal,
      bandWidth)
    val nD = col("n").cast("double")
    val c = floor((col("n") + 1).cast("double") / 2.0)
    // Σa over ALL obs = g2(N)/2 by the closed form (x = N > c
    // branch), in the core's N-normalized units
    val sa = ((lit(2.0) * c * (c + 1) + lit(2.0) * (nD - c) * (nD + 1)
      - nD * (nD + 1)) / 2 / nD)
    core.select(col("n_a"), col("n_b"),
      round(col("wab") * nD, 6).as("ab_w_r"),
      round(rankZ(col("wab"), sa, col("saab2"),
        col("n_a").cast("double"), col("n_b").cast("double"), nD), 6)
        .as("z_r"))
  }

  /** Mood two-sample SCALE test: scores (p − (N+1)/2)² — squared
    * distance from the middle rank, the variance-sensitive sibling of
    * [[ansariBradley]] (quadratic rather than triangular weighting).
    * Tie-averaged scores, permutation-moment z. Returns one row:
    * n_a, n_b, mood_t_r (= T/N², the normalized statistic — see the
    * in-body note on why the raw T cannot be emitted exactly), z_r. */
  def moodScale(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String, bandWidth: Double = 16.0): DataFrame = {
    val core = twoSampleCore(df, valueCol, groupCol, aVal, bVal,
      bandWidth)
    val nD = col("n").cast("double")
    // Σa over ALL obs = F(N)/4 = 3F(N)/12 by the closed form, in the
    // core's N²-normalized units
    val sa = ((lit(2.0) * nD * (nD + 1) * (lit(2.0) * nD + 1)
      - lit(6.0) * (nD + 1) * nD * (nD + 1)
      + lit(3.0) * (nD + 1) * (nD + 1) * nD) / 12 / (nD * nD))
    // the display statistic stays in the N²-normalized units: the raw
    // T at corpus scale (~1e12) sits ABOVE the double ulp at 6 dp, so
    // a de-normalized readout can never be cross-engine exact
    core.select(col("n_a"), col("n_b"),
      round(col("tmood"), 6).as("mood_t_r"),
      round(rankZ(col("tmood"), sa, col("samood2"),
        col("n_a").cast("double"), col("n_b").cast("double"), nD), 6)
        .as("z_r"))
  }

  /** Lepage two-sample LOCATION+SCALE portmanteau: L = z_W² + z_AB²,
    * the Wilcoxon z (tie-corrected σ, no continuity correction — the
    * Lepage convention) plus the Ansari–Bradley z, χ²₂ under H₀ —
    * rejects when the groups differ in EITHER center or spread.
    * Returns one row: n_a, n_b, zw_r, zab_r, lepage_r. */
  def lepage(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String, bandWidth: Double = 16.0): DataFrame = {
    val core = twoSampleCore(df, valueCol, groupCol, aVal, bVal,
      bandWidth)
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val nD = col("n").cast("double")
    val sigW = sqrt(naD * nbD / 12.0
      * ((nD + 1) - col("tieterm").cast("double") / (nD * (nD - 1))))
    // both z's pinned to the 12-dp grid BEFORE squaring (the
    // brownDouble discipline): an upstream ulp would otherwise flip
    // the 6-dp round of z² across engines
    val zw = round(when(sigW > 0,
      (col("u2") - col("n_a") * col("n_b")).cast("double")
        / (lit(2.0) * sigW)), 12)
    val c = floor((col("n") + 1).cast("double") / 2.0)
    val sa = ((lit(2.0) * c * (c + 1) + lit(2.0) * (nD - c) * (nD + 1)
      - nD * (nD + 1)) / 2 / nD)
    val zab = round(rankZ(col("wab"), sa, col("saab2"), naD, nbD, nD),
      12)
    core.select(col("n_a"), col("n_b"),
      round(zw, 6).as("zw_r"), round(zab, 6).as("zab_r"),
      round(zw * zw + zab * zab, 6).as("lepage_r"))
  }

  /** Mood MEDIAN test across k groups: classify each observation
    * against the pooled median — the ⌈(N+1)/2⌉-th order statistic,
    * i.e. the smallest value whose inclusive prefix count satisfies
    * 2·C ≥ N+1 (upper-middle for even N) — Pearson χ² on the k×2
    * above/not-above table. The crudest, most assumption-free k-sample
    * location test — and the one whose statistic is pure integer
    * counting until the final χ². Returns one row: n, k, median_r,
    * chi2_r, df.
    *
    * Shape: distinct-value grid + one banded prefix to find the
    * median, one broadcast of the 1-row median back onto the grouped
    * counts (never onto raw rows). */
  def moodMedian(df: DataFrame, valueCol: String, groupCol: String,
      bandWidth: Double = 16.0): DataFrame = {
    val per = df.groupBy(col(valueCol))
      .agg(count(lit(1)).as("_m"))
    val cum = Ranks.bandedRunningSum(per.withColumn("_g", lit(0)),
      "_g", valueCol, "_m", bandWidth)
    val tot = cum.agg(sum(col("_m")).as("n"))
    val med = cum.crossJoin(broadcast(tot))
      .where(lit(2) * col("runsum") >= col("n") + 1)
      .agg(min(col(valueCol)).as("_med"), first(col("n")).as("n"))
    val cls = df.crossJoin(broadcast(med))
      .groupBy(col(groupCol))
      .agg(sum(when(col(valueCol) > col("_med"), 1L).otherwise(0L))
          .as("_ab"),
        sum(when(col(valueCol) > col("_med"), 0L).otherwise(1L))
          .as("_nab"),
        first(col("_med")).as("_med"), first(col("n")).as("n"))
    val k = cls.agg(count(lit(1)).as("k"),
      sum(col("_ab")).as("_tab"), sum(col("_nab")).as("_tnab"),
      first(col("_med")).as("_med"), first(col("n")).as("n"))
    val cells = cls.select(col(groupCol), col("_ab"), col("_nab"))
      .crossJoin(broadcast(k))
    def chiTerm(o: Column, margin: Column): Column = {
      val e = (col("_ab") + col("_nab")).cast("double") *
        margin.cast("double") / col("n").cast("double")
      (o.cast("double") - e) * (o.cast("double") - e) / e
    }
    cells
      .select(col("k"), col("n"), col("_med"),
        t12(chiTerm(col("_ab"), col("_tab"))
          + chiTerm(col("_nab"), col("_tnab"))).as("_term"))
      .groupBy(col("k"), col("n"), col("_med"))
      .agg(sum(col("_term")).as("_chi2"))
      .select(col("n"), col("k"),
        col("_med").cast("double").as("median_r"),
        round(col("_chi2").cast("double"), 6).as("chi2_r"),
        (col("k") - 1).as("df"))
  }

  /** Jonckheere–Terpstra trend test for ORDERED groups (g₁ < … < g_k
    * by the group column's natural order): J = Σ_{i<j} U_ij rises when
    * values trend upward along the ordering — strictly more powerful
    * than Kruskal–Wallis when the alternative IS the ordering. Kept as
    * exact integers via 2J = Σ_v Σ_{i<j} n_j(v)·(2·C_i(<v) + n_i(v));
    * the tie-corrected variance is the three-term Hollander–Wolfe
    * form from global tie counts t_v and group sizes. Returns one
    * row: n, k, j2, z_r.
    *
    * Shape: per-(group, value) hash-agg, zero-filled (value × group)
    * grid from the distinct-value frame × the ≤k group list, banded
    * prefix PER GROUP (partitioned — the machinery's group column),
    * then a bounded k²-pair self-join ON THE GRID, never on rows. */
  def jonckheere(df: DataFrame, valueCol: String, groupCol: String,
      bandWidth: Double = 16.0): DataFrame = {
    val pg = df.groupBy(col(groupCol).as("_grp"), col(valueCol))
      .agg(count(lit(1)).as("_cnt"))
    val groups = pg.select(col("_grp")).distinct()
    val values = pg.select(col(valueCol)).distinct()
    val grid = values.crossJoin(broadcast(groups))
      .join(pg, Seq("_grp", valueCol), "left")
      .select(col("_grp"), col(valueCol),
        coalesce(col("_cnt"), lit(0L)).as("_cnt"))
    val cum = Ranks.bandedRunningSum(grid, "_grp", valueCol, "_cnt",
      bandWidth)
      .select(col("_grp"), col(valueCol), col("_cnt"),
        (col("runsum") - col("_cnt")).as("_clt"))
    val pairs = cum.select(col("_grp").as("_gi"),
        col(valueCol).as("_v"), col("_cnt").as("_ni"),
        col("_clt").as("_ci"))
      .join(cum.select(col("_grp").as("_gj"),
        col(valueCol).as("_v"), col("_cnt").as("_nj")), Seq("_v"))
      .where(col("_gi") < col("_gj"))
    val j2 = pairs.agg(
      sum(col("_nj") * (lit(2) * col("_ci") + col("_ni"))).as("j2"))
    val gs = pg.groupBy(col("_grp")).agg(sum(col("_cnt")).as("_ng"))
      .agg(count(lit(1)).as("k"), sum(col("_ng")).as("n"),
        sum(col("_ng") * col("_ng")).as("_sn2"),
        sum(col("_ng") * (col("_ng") - 1) * (lit(2) * col("_ng") + 5))
          .as("_g25"),
        sum(col("_ng") * (col("_ng") - 1) * (col("_ng") - 2))
          .as("_g3"),
        sum(col("_ng") * (col("_ng") - 1)).as("_g2"))
    val ties = pg.groupBy(col(valueCol)).agg(sum(col("_cnt")).as("_t"))
      .agg(sum(col("_t") * (col("_t") - 1) * (lit(2) * col("_t") + 5))
          .as("_t25"),
        sum(col("_t") * (col("_t") - 1) * (col("_t") - 2)).as("_t3"),
        sum(col("_t") * (col("_t") - 1)).as("_t2"))
    val all = j2.crossJoin(broadcast(gs)).crossJoin(broadcast(ties))
    val nD = col("n").cast("double")
    val varJ = ((nD * (nD - 1) * (lit(2.0) * nD + 5)
        - col("_g25").cast("double") - col("_t25").cast("double")) / 72
      + col("_g3").cast("double") * col("_t3").cast("double")
        / (lit(36.0) * nD * (nD - 1) * (nD - 2))
      + col("_g2").cast("double") * col("_t2").cast("double")
        / (lit(8.0) * nD * (nD - 1)))
    val e2 = (col("n") * col("n") - col("_sn2")).cast("double") / 2
    all.select(col("n"), col("k"), col("j2"),
      round(when(varJ > 0,
        (col("j2").cast("double") - e2) / (lit(2.0) * sqrt(varJ))), 6)
        .as("z_r"))
  }

  /** Two-sample ENERGY distance (Székely & Rizzo) on an integer value
    * grid: E = 2·E|X−Y| − E|X−X′| − E|Y−Y′| (V-statistic form, n²/m²
    * denominators) — zero iff the distributions coincide, sensitive
    * to EVERY moment (the all-purpose sibling of [[wasserstein1d]]
    * and [[mmdRbf]]). The double sums are computed EXACTLY without a
    * pair join: on the sorted distinct-value grid,
    * ΣΣ|x−y| = Σ_v a(v)·(v·C_B(<v) − S_B(<v)) + b(v)·(v·C_A(<v) −
    * S_A(<v)) — each unequal pair counted once at its larger
    * element — from four banded prefixes (counts and value-sums per
    * side). Everything integer until the final three divisions.
    * Returns one row: n_a, n_b, exy_r, exx_r, eyy_r, energy_r. */
  def energyDistance(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String, bandWidth: Double = 16.0): DataFrame = {
    val per = df.where(col(groupCol).isin(aVal, bVal))
      .groupBy(col(valueCol))
      .agg(sum(when(col(groupCol) === aVal, 1L).otherwise(0L)).as("_na"),
        sum(when(col(groupCol) === bVal, 1L).otherwise(0L)).as("_nb"))
      .withColumn("_sa", col("_na") * col(valueCol))
      .withColumn("_sb", col("_nb") * col(valueCol))
    def prefix(c: String) =
      Ranks.bandedRunningSum(per.withColumn("_g", lit(0)), "_g",
          valueCol, c, bandWidth)
        .select(col(valueCol), (col("runsum") - col(c)).as(s"_c$c"))
    val g = per
      .join(prefix("_na"), Seq(valueCol))
      .join(prefix("_nb"), Seq(valueCol))
      .join(prefix("_sa"), Seq(valueCol))
      .join(prefix("_sb"), Seq(valueCol))
    val agg = g.agg(sum(col("_na")).as("n_a"), sum(col("_nb")).as("n_b"),
      sum(col("_na") * (col(valueCol) * col("_c_nb") - col("_c_sb"))
        + col("_nb") * (col(valueCol) * col("_c_na") - col("_c_sa")))
        .as("_dxy"),
      sum(col("_na") * (col(valueCol) * col("_c_na") - col("_c_sa")))
        .as("_dxx2"),
      sum(col("_nb") * (col(valueCol) * col("_c_nb") - col("_c_sb")))
        .as("_dyy2"))
    val naD = col("n_a").cast("double")
    val nbD = col("n_b").cast("double")
    val exy = col("_dxy").cast("double") / (naD * nbD)
    val exx = lit(2.0) * col("_dxx2").cast("double") / (naD * naD)
    val eyy = lit(2.0) * col("_dyy2").cast("double") / (nbD * nbD)
    agg.select(col("n_a"), col("n_b"),
      round(exy, 6).as("exy_r"), round(exx, 6).as("exx_r"),
      round(eyy, 6).as("eyy_r"),
      round(lit(2.0) * exy - exx - eyy, 6).as("energy_r"))
  }

  /** Two-sample Anderson–Darling statistic in the tie-blocked Pettitt
    * form: A² = (1/(n·m))·Σ_v t_v·(N·C_A(≤v) − n_a·C(≤v))² /
    * (C(≤v)·(N − C(≤v))) over distinct values below the maximum —
    * the tail-weighted sibling of [[cramerVonMises]] (the 1/(F(1−F))
    * weight makes it the most powerful ECDF test against tail
    * alternatives). Exact integers until the per-block division.
    * Returns one row: n_a, n_b, a2_r.
    *
    * Shape: the two-sample value grid + one banded prefix (counts per
    * side recovered from the A-side prefix, the twoSampleCore
    * trick). */
  def adTwoSample(df: DataFrame, valueCol: String, groupCol: String,
      aVal: String, bVal: String, bandWidth: Double = 16.0): DataFrame = {
    val per = df.where(col(groupCol).isin(aVal, bVal))
      .groupBy(col(valueCol))
      .agg(sum(when(col(groupCol) === aVal, 1L).otherwise(0L)).as("_na"),
        sum(when(col(groupCol) === bVal, 1L).otherwise(0L)).as("_nb"))
      .withColumn("_m", col("_na") + col("_nb"))
    val cumT = Ranks.bandedRunningSum(per.withColumn("_g", lit(0)),
      "_g", valueCol, "_m", bandWidth)
      .withColumnRenamed("runsum", "_ct") // inclusive total prefix
    val cumA = Ranks.bandedRunningSum(cumT.withColumn("_g2", lit(0)),
      "_g2", valueCol, "_na", bandWidth)
      .withColumnRenamed("runsum", "_ca") // inclusive A prefix
    val tot = per.agg(sum(col("_na")).as("n_a"),
      sum(col("_nb")).as("n_b"))
    val g = cumA.crossJoin(broadcast(tot))
      .withColumn("_nn", col("n_a") + col("n_b"))
      .where(col("_ct") < col("_nn")) // exclude the top block
    val num = (col("_nn") * col("_ca") - col("n_a") * col("_ct"))
    val term = (col("_m").cast("double")
      * (num.cast("double") * num.cast("double"))
      / (col("_ct").cast("double")
        * (col("_nn") - col("_ct")).cast("double")))
    g.groupBy(col("n_a"), col("n_b"))
      .agg(sum(t12(term)).as("_s"))
      .select(col("n_a"), col("n_b"),
        round(col("_s").cast("double")
          / (col("n_a").cast("double") * col("n_b").cast("double")),
          6).as("a2_r"))
  }
}
