package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Round-12 sequence-analysis batch: z-normalized subsequence motif
  * discovery (the matrix-profile readout), SAX symbolization distance,
  * lag-1 transfer entropy, the Hoeffding-bound split detector
  * (ADWIN's cut test), and the Box–Cox transform grid.
  *
  * Scale shape: every op runs on the CALENDAR-BOUNDED day grain (or a
  * segment grid derived from it) — the one pair-quadratic op here
  * (motif) is quadratic in DAYS, not rows, so a 100× corpus leaves its
  * cost unchanged; the day-grain reduction itself is one
  * map-side-combinable hash agg. Cumulative scans follow the
  * pageHinkley k$-scaling lesson (6-dp DECIMAL grids at k$ magnitude,
  * never 12-dp at raw cents). Lag pairs come from equi-joins on the
  * day index, not per-lag windows. */
object Sequence {

  private def d38(c: Column) = c.cast("decimal(38,0)")

  /** Top-k closest z-normalized subsequence pairs of a day-grain
    * series (the matrix-profile motif): windows of `w` consecutive
    * days, z-normalized per window (population sd from exact integer
    * sums; zero-variance windows dropped), pair distance
    * d²(t1,t2) = Σ_j (z1j − z2j)² over non-overlapping pairs
    * (t2 ≥ t1 + w).
    *
    * Shape (the r12 rewrite — the first draft joined the (start, j, z)
    * LONG frame on j and hash-aggregated |days|²·w rows, 37 s at
    * sf0.1): each window PIVOTS to one row of w z-columns (the lloyd2d
    * centroid idiom), so the pair stage is a |days|² broadcast
    * nested-loop join whose distance is a CLOSED w-term chain — no
    * fan-out, no pair-grain aggregate at all, and the left-associated
    * term chain is FP-identical in any engine (no decimal grid
    * needed). |days| is calendar-bounded, so the quadratic is too.
    * Returns k rows: (t1, t2, dist_r) ordered by distance. */
  def motifTopK(daily: DataFrame, tCol: String, yCol: String, w: Int,
      k: Int): DataFrame = {
    require(w >= 2 && k >= 1)
    val s = daily.sparkSession
    val base = daily.select(col(tCol).cast("long").as("_t"),
      col(yCol).cast("long").as("_y"))
    val spine = s.range(0, w).select(col("id").as("_j"))
    val rows = base.crossJoin(broadcast(spine))
      .select((col("_t") - col("_j")).as("_start"), col("_j"),
        col("_y"))
    val wD = lit(w.toDouble)
    val ws = rows.groupBy(col("_start"))
      .agg(count(lit(1)).as("_cnt"),
        sum(d38(col("_y"))).cast("double").as("_s"),
        sum(d38(col("_y")) * d38(col("_y"))).cast("double").as("_s2"))
    val vr = (col("_s2") - col("_s") * col("_s") / wD) / wD
    val wok = ws.where(col("_cnt") === w && vr > 0)
      .select(col("_start"), (col("_s") / wD).as("_m"),
        sqrt(vr).as("_sd"))
    val zCols = (1 to w).map(i => max(when(col("_j") === (i - 1),
      (col("_y").cast("double") - col("_m")) / col("_sd")))
      .as(s"_z$i"))
    val zp = rows.join(wok, Seq("_start"))
      .groupBy(col("_start"))
      .agg(zCols.head, zCols.tail: _*)
      .localCheckpoint()
    val a = zp.toDF(("t1" +: (1 to w).map(i => s"_za$i")): _*)
    val b = zp.toDF(("t2" +: (1 to w).map(i => s"_zb$i")): _*)
    val d2 = (1 to w).map(i =>
      (col(s"_za$i") - col(s"_zb$i"))
        * (col(s"_za$i") - col(s"_zb$i"))).reduce(_ + _)
    val p = a.join(broadcast(b), col("t2") >= col("t1") + lit(w))
      .select(col("t1"), col("t2"), d2.as("_d2"))
    p.orderBy(col("_d2").asc, col("t1").asc, col("t2").asc).limit(k)
      .select(col("t1"), col("t2"),
        round(sqrt(col("_d2")), 6).as("dist_r"))
      .orderBy(col("dist_r").asc, col("t1").asc, col("t2").asc)
  }

  /** SAX distance between two day-grain count series: PAA over
    * `segLen`-day segments (complete segments only), per-series
    * standardization (12-dp-grid PAA sums), 4-symbol Gaussian
    * breakpoints (−0.6745, 0, 0.6745), then the symbol-gap MINDIST
    * over aligned segments: gap 0 for |Δ|≤1, β₁−β₀ for |Δ|=2,
    * β₂−β₀ for |Δ|=3; dist = √(segLen·Σ gap²). One row:
    * (n_segments, n_match, match_rate_r, sax_dist_r). */
  def saxDistance(seriesA: DataFrame, seriesB: DataFrame, tCol: String,
      yCol: String, segLen: Int): DataFrame = {
    require(segLen >= 1)
    def symbolize(series: DataFrame): DataFrame = {
      val seg = series.select(
          (col(tCol).cast("long") / segLen).cast("long").as("_seg"),
          col(yCol).cast("long").as("_y"))
        .groupBy(col("_seg"))
        .agg(count(lit(1)).as("_cnt"), sum(d38(col("_y")))
          .cast("double").as("_s"))
        .where(col("_cnt") === segLen)
        .select(col("_seg"),
          (col("_s") / lit(segLen.toDouble)).as("_paa"))
      val m = seg.agg(count(lit(1)).cast("double").as("_n"),
        sum(t12(col("_paa"))).cast("double").as("_p1"),
        sum(t12(col("_paa") * col("_paa"))).cast("double").as("_p2"))
      val vr = ((col("_p2") - col("_p1") * col("_p1") / col("_n"))
        / col("_n"))
      seg.crossJoin(broadcast(m))
        .withColumn("_z", (col("_paa") - col("_p1") / col("_n"))
          / nullif(sqrt(vr), lit(0.0)))
        .select(col("_seg"),
          when(col("_z") < -0.6745, lit(0))
            .when(col("_z") < 0.0, lit(1))
            .when(col("_z") < 0.6745, lit(2)).otherwise(lit(3))
            .as("_sym"))
    }
    val sa = symbolize(seriesA).withColumnRenamed("_sym", "_sa")
    val sb = symbolize(seriesB).withColumnRenamed("_sym", "_sb")
    val gap = when(abs(col("_sa") - col("_sb")) <= 1, lit(0.0))
      .when(abs(col("_sa") - col("_sb")) === 2, lit(0.6745))
      .otherwise(lit(1.349))
    sa.join(sb, Seq("_seg"))
      .agg(count(lit(1)).as("n_segments"),
        sum(when(col("_sa") === col("_sb"), 1L).otherwise(0L))
          .as("n_match"),
        sum(t12(gap * gap)).cast("double").as("_g2"),
        count(lit(1)).cast("double").as("_nn"))
      .select(col("n_segments"), col("n_match"),
        round(col("n_match").cast("double") / col("_nn"), 6)
          .as("match_rate_r"),
        round(sqrt(lit(segLen.toDouble) * col("_g2")), 6)
          .as("sax_dist_r"))
  }

  /** Lag-1 transfer entropy X→Y on mean-binarized day-grain series:
    * TE = Σ_{x,y,y'} p(x,y,y')·ln[ p(y'|y,x) / p(y'|y) ], computed
    * from the 8-cell transition grid as
    * (c_xyy'/n)·ln( c_xyy'·c_y / (c_xy·c_yy') ) — exact integer
    * counts, 12-dp-grid terms over the bounded grid. Inputs are
    * (t, x 0/1) and (t, y 0/1) frames on the same day index; the t+1
    * pair comes from an equi-join on t (the acfDaily shape, no
    * window). One row: (n_transitions, te_r). */
  def transferEntropy(xSeries: DataFrame, ySeries: DataFrame,
      tCol: String, xCol: String, yCol: String): DataFrame = {
    val cur = xSeries.select(col(tCol).as("_t"), col(xCol).as("_x"))
      .join(ySeries.select(col(tCol).as("_t"), col(yCol).as("_y")),
        Seq("_t"))
    val nxt = ySeries.select((col(tCol) - 1).as("_t"),
      col(yCol).as("_yn"))
    val trans = cur.join(nxt, Seq("_t"))
    val cell = trans.groupBy(col("_x"), col("_y"), col("_yn"))
      .agg(count(lit(1)).as("_c")).localCheckpoint()
    val cxy = cell.groupBy(col("_x"), col("_y"))
      .agg(sum(col("_c")).as("_cxy"))
    val cyy = cell.groupBy(col("_y"), col("_yn"))
      .agg(sum(col("_c")).as("_cyy"))
    val cy = cell.groupBy(col("_y")).agg(sum(col("_c")).as("_cy"))
    val n = cell.agg(sum(col("_c")).as("_n"))
    cell.join(cxy, Seq("_x", "_y")).join(cyy, Seq("_y", "_yn"))
      .join(cy, Seq("_y")).crossJoin(broadcast(n))
      .agg(first(col("_n")).as("n_transitions"),
        sum(t12(col("_c").cast("double") / col("_n").cast("double")
          * log(col("_c").cast("double") * col("_cy").cast("double")
            / (col("_cxy").cast("double")
              * col("_cyy").cast("double"))))).cast("double")
          .as("_te"))
      .select(col("n_transitions"), round(col("_te"), 6).as("te_r"))
  }

  /** Hoeffding-bound split detector (the ADWIN cut test) on a
    * day-grain cents series: for every split i, compare the two-side
    * mean gap (k$) against ε(i) = R·√((1/(2n₀) + 1/(2n₁))·ln(4n/δ))
    * with R the observed k$ range. Emits the k largest
    * excess = |Δmean| − ε splits (ties: earliest day) — positive
    * excess = drift the bound cannot explain. Returns
    * (t, n_left, mean_left_r, mean_right_r, eps_r, excess_r). */
  def hoeffdingSplit(daily: DataFrame, tCol: String, yCol: String,
      delta: Double, k: Int): DataFrame = {
    require(delta > 0 && delta < 1 && k >= 1)
    val wc = Window.orderBy("_t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val base = daily.select(col(tCol).cast("long").as("_t"),
        col(yCol).cast("long").as("_y"))
      .withColumn("_i", count(lit(1)).over(wc))
      .withColumn("_c", sum(d38(col("_y"))).over(wc))
      .localCheckpoint()
    val tot = base.agg(max(col("_i")).as("_n"),
      max_by(col("_c"), col("_i")).as("_sy"),
      min(col("_y")).as("_ymin"), max(col("_y")).as("_ymax"))
    val nD = col("_n").cast("double")
    val n0 = col("_i").cast("double")
    val n1 = nD - n0
    val m0 = col("_c").cast("double") / n0 / lit(1e5)
    val m1 = ((col("_sy").cast("double") - col("_c").cast("double"))
      / n1 / lit(1e5))
    val r = (col("_ymax").cast("double") - col("_ymin").cast("double")) /
      lit(1e5)
    val eps = r * sqrt((lit(1.0) / (lit(2.0) * n0)
      + lit(1.0) / (lit(2.0) * n1))
      * log(lit(4.0) * nD / lit(delta)))
    val excess = abs(m0 - m1) - eps
    val d = base.crossJoin(broadcast(tot))
      .where(col("_i") < col("_n"))
      .withColumn("_excess", excess)
    d.orderBy(col("_excess").desc, col("_t").asc).limit(k)
      .select(col("_t").as("t"), col("_i").as("n_left"),
        round(m0, 6).as("mean_left_r"), round(m1, 6).as("mean_right_r"),
        round(eps, 6).as("eps_r"), round(col("_excess"), 6)
          .as("excess_r"))
      .orderBy(col("excess_r").desc, col("t").asc)
  }

  /** Box–Cox transform grid on a positive series (caller-scaled to
    * O(1) units): for λ ∈ {−0.5, 0, 0.5, 1, 2} (closed forms — no
    * cross-engine pow), the profile log-likelihood
    * LL(λ) = −n/2·ln(σ̂²_z) + (λ−1)·Σ ln y with σ̂² floored at 1e-12.
    * ONE data pass computes all grids' 12-dp-grid sums; the λ rows
    * come from a broadcast literal spine. Returns 5 rows
    * (lambda, ll_r) ordered by λ. */
  def boxCoxGrid(df: DataFrame, yCol: String): DataFrame = {
    val yv = col(yCol).cast("double")
    val g = df.where(yv > 0).select(yv.as("_yv"))
    def zs(z: Column, tag: String): Seq[Column] = Seq(
      sum(t12(z)).cast("double").as(s"_s$tag"),
      sum(t12(z * z)).cast("double").as(s"_q$tag"))
    val zm05 = (lit(1.0) / sqrt(col("_yv")) - lit(1.0)) / lit(-0.5)
    val z0 = log(col("_yv"))
    val z05 = (sqrt(col("_yv")) - lit(1.0)) / lit(0.5)
    val z1 = col("_yv") - lit(1.0)
    val z2 = (col("_yv") * col("_yv") - lit(1.0)) / lit(2.0)
    val aggCols = Seq(sum(t12(log(col("_yv")))).cast("double")
      .as("_slny")) ++ zs(zm05, "a") ++ zs(z0, "b") ++ zs(z05, "c") ++
      zs(z1, "d") ++ zs(z2, "e")
    val agg = g.agg(count(lit(1)).cast("double").as("_n"),
      aggCols: _*)
    val s = df.sparkSession
    import s.implicits._
    val spine = Seq((-0.5, "a"), (0.0, "b"), (0.5, "c"), (1.0, "d"),
      (2.0, "e")).toDF("lambda", "_tag")
    val sz = when(col("_tag") === "a", col("_sa"))
      .when(col("_tag") === "b", col("_sb"))
      .when(col("_tag") === "c", col("_sc"))
      .when(col("_tag") === "d", col("_sd")).otherwise(col("_se"))
    val qz = when(col("_tag") === "a", col("_qa"))
      .when(col("_tag") === "b", col("_qb"))
      .when(col("_tag") === "c", col("_qc"))
      .when(col("_tag") === "d", col("_qd")).otherwise(col("_qe"))
    val vz = (qz - sz * sz / col("_n")) / col("_n")
    spine.crossJoin(broadcast(agg))
      .select(col("lambda"),
        round(lit(-0.5) * col("_n") * log(greatest(vz, lit(1e-12)))
          + (col("lambda") - lit(1.0)) * col("_slny"), 6).as("ll_r"))
      .orderBy(col("lambda"))
  }

  /** Permutation entropy of the daily count series (Bandt & Pompe
    * 2002), order 3: classify each consecutive triple by the ordinal
    * pattern of (value, position) -- position breaks ties, the stable
    * convention both engines reproduce with pure integer comparisons
    * -- and take the Shannon entropy of the 6-pattern distribution,
    * normalized by ln 6. Low H = the stream's LOCAL up-down shapes
    * repeat (structure [[graft.ops.Randomness]]'s global tests can
    * miss); H ~ 1 = ordinally white. Observed days only (the
    * Randomness convention). Pattern codes are
    * 4*[a<=b] + 2*[a<=c] + [b<=c] (6 of 8 combos are realizable).
    * Returns 6 rows: pattern, n_p, p_r, h_r, hnorm_r (last two
    * constant). */
  def permutationEntropy(events: DataFrame, tsCol: String)
      : DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("day"))
    val tri = daily
      .withColumn("_b", lead(col("x"), 1).over(w))
      .withColumn("_c", lead(col("x"), 2).over(w))
      .filter(col("_c").isNotNull)
      .select((when(col("x") <= col("_b"), 4).otherwise(0)
        + when(col("x") <= col("_c"), 2).otherwise(0)
        + when(col("_b") <= col("_c"), 1).otherwise(0)).as("pattern"))
      .groupBy(col("pattern")).agg(count(lit(1)).as("n_p"))
    val pats = Seq(1, 3, 4, 6, 7, 0).sorted.toDF("pattern")
    val grid = broadcast(pats).join(tri, Seq("pattern"), "left")
      .select(col("pattern"), coalesce(col("n_p"), lit(0L)).as("n_p"))
      .localCheckpoint()
    val tot = grid.agg(sum(col("n_p")).as("_n"))
    val g = grid.crossJoin(broadcast(tot))
    val p = col("n_p").cast("double") / col("_n").cast("double")
    val h = g.agg(sum(when(col("n_p") > 0,
        t12(-(col("n_p").cast("double") / col("_n").cast("double"))
          * log(col("n_p").cast("double") / col("_n").cast("double"))))
        .otherwise(lit(0).cast("decimal(28,12)"))).cast("double").as("_h"))
    g.crossJoin(broadcast(h))
      .select(col("pattern"), col("n_p"), round(p, 6).as("p_r"),
        round(col("_h"), 6).as("h_r"),
        round(col("_h") / log(lit(6.0)), 6).as("hnorm_r"))
      .orderBy(col("pattern"))
  }
}
