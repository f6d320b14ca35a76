package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Circular (directional) statistics on the time-of-day clock — the
  * family every diurnal-behavior question reduces to once "hour of
  * day" is recognized as an angle, not a line: midnight-adjacent
  * events are NEAR each other on the clock, and a linear mean/variance
  * (or a linear KS test) splits them across the wrap-around.
  *
  * Cross-engine discipline (the [[TimeSeries.spectralPower]] idiom):
  * no engine trig in any plan — cos/sin enter as SCALA-COMPUTED
  * literals over a bounded bin grid, shared verbatim with the DuckDB
  * oracle; float term sums accumulate as 12-dp DECIMAL. Time-of-day
  * is derived from `unix_micros(ts) % 86 400 000 000` (exact integer
  * arithmetic, identical to DuckDB's `epoch_us`).
  *
  * 100 TB posture: every op here is one hash-agg of the events onto a
  * bounded bin grid (≤1440 rows) followed by grid-sized work — the
  * single unpartitioned window in [[kuiperUniform]] runs over that
  * grid, never over rows.
  */
object Circular {

  private val MicrosPerDay = 86400000000L


  /** Scala-computed (bin, cos, sin) weight rows at bin CENTERS —
    * θ_b = 2π(b+0.5)/bins — as both a DataFrame-able seq and the
    * VALUES literal the oracle SQL embeds (Double.toString round-trips
    * bit-exactly through both parsers). */
  def clockWeights(bins: Int): Seq[(Int, Double, Double)] =
    Seq.tabulate(bins) { b =>
      val theta = 2 * math.Pi * (b + 0.5) / bins
      (b, math.cos(theta), math.sin(theta))
    }

  /** The [[clockWeights]] rows rendered for a SQL VALUES clause. */
  def clockWeightValues(bins: Int): String =
    clockWeights(bins)
      .map { case (b, c, s) => s"($b, ${c}::DOUBLE, ${s}::DOUBLE)" }
      .mkString(",\n    ")

  private def binCol(tsCol: String, bins: Int): Column = {
    require(MicrosPerDay % bins == 0,
      s"bins=$bins must divide the 86.4e9-µs day for exact binning")
    ((unix_micros(col(tsCol)) % MicrosPerDay)
      / lit(MicrosPerDay / bins)).cast("int")
  }

  /** Kuiper test of time-of-day uniformity on the `bins`-cell clock
    * grid (binned statistic, documented: the test compares the BINNED
    * empirical distribution to the discrete uniform — at minute bins
    * the discretization error is invisible next to any real diurnal
    * signal). Kuiper's V = D⁺ + D⁻ is the rotation-invariant KS
    * variant: unlike D = max|F−G|, V does not depend on where the
    * clock's zero is cut, which is the whole point on circular data.
    *
    * Shape: one hash-agg events→bins, a left join onto the full
    * generate_series grid (zero cells count), one cumulative sum over
    * the ≤`bins`-row grid (the keyGrid window class), then exact
    * rational max-deviations; only the final statistics are doubles.
    * Returns one row: n, dplus_r, dminus_r, v_r, vstar_r (V scaled by
    * √n + 0.155 + 0.24/√n, Stephens 1970). */
  def kuiperUniform(events: DataFrame, tsCol: String,
      bins: Int = 1440): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val cnt = events
      .select(binCol(tsCol, bins).as("b"))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
    val grid = s.range(0, bins).toDF("b")
      .join(cnt, Seq("b"), "left")
      .select(col("b"), coalesce(col("c"), lit(0L)).as("c"))
    val w = Window.orderBy(col("b"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.select(col("b"), sum(col("c")).over(w).as("cc"))
    // F_i = cc_i/n and G_i = (b_i+1)/bins compared exactly via the
    // cross-multiplied integers bins·cc − n·(b+1) (no float ordering)
    val dev = cum.crossJoin(
        broadcast(grid.agg(sum(col("c")).as("n"))))
      .select(col("n"),
        (lit(bins) * col("cc") - col("n") * (col("b") + 1)).as("_num"))
    dev.groupBy(col("n"))
      .agg(max(col("_num")).as("_dp"), max(-col("_num")).as("_dm"))
      .select(col("n"),
        round(greatest(col("_dp"), lit(0L)).cast("double")
          / (col("n") * bins).cast("double"), 6).as("dplus_r"),
        round(greatest(col("_dm"), lit(0L)).cast("double")
          / (col("n") * bins).cast("double"), 6).as("dminus_r"),
        round((greatest(col("_dp"), lit(0L))
          + greatest(col("_dm"), lit(0L))).cast("double")
          / (col("n") * bins).cast("double"), 6).as("v_r"),
        round((greatest(col("_dp"), lit(0L))
            + greatest(col("_dm"), lit(0L))).cast("double")
          / (col("n") * bins).cast("double")
          * (sqrt(col("n").cast("double")) + lit(0.155)
            + lit(0.24) / sqrt(col("n").cast("double"))), 6)
          .as("vstar_r"))
  }

  /** Per-key circular summary of the time-of-day distribution on a
    * `bins`-cell clock: resultant length R̄, circular mean direction
    * (radians in (−π, π], atan2 of the 12-dp DECIMAL sin/cos sums),
    * Rayleigh's uniformity test z = nR̄² with its small-sample
    * p-value, and the von-Mises concentration κ̂ by the
    * Best–Fisher three-piece approximation (Fisher 1993 §4.5.5). The
    * R̄→1 branch clamps its denominator at 1e-12 on BOTH engines (a
    * single-bin point mass would otherwise divide by zero), capping
    * κ̂ at 1e12.
    *
    * Shape: hash-agg events → (key, bin) counts, broadcast join to
    * the Scala-literal weight table, one (key) hash-agg of 12-dp
    * DECIMAL cos/sin term sums; per-key output is grid-free. Returns
    * per key: n, rbar_r, mean_dir_r, rayleigh_z_r, rayleigh_p_r,
    * kappa_r. */
  def clockStats(events: DataFrame, keyCol: String, tsCol: String,
      bins: Int = 96): DataFrame = {
    val s = events.sparkSession
    import s.implicits._
    val cnt = events
      .select(col(keyCol), binCol(tsCol, bins).as("b"))
      .groupBy(col(keyCol), col("b")).agg(count(lit(1)).as("x"))
    val wt = broadcast(clockWeights(bins).toDF("b", "c", "sn"))
    val agg = cnt.join(wt, Seq("b"))
      .groupBy(col(keyCol))
      .agg(sum(col("x")).as("n"),
        sum(t12(col("x") * col("c"))).as("_sc"),
        sum(t12(col("x") * col("sn"))).as("_ss"))
    val nD = col("n").cast("double")
    val rbar = sqrt(col("_sc").cast("double") * col("_sc").cast("double")
      + col("_ss").cast("double") * col("_ss").cast("double")) / nD
    val z = nD * col("_rb") * col("_rb")
    // explicit products (not pow()) in the SAME association as the
    // oracle SQL — pow() and repeated multiplication can differ by an
    // ulp, and the 6-dp round would expose a boundary value
    val rb = col("_rb")
    val kappa = when(rb < 0.53,
        lit(2.0) * rb + rb * rb * rb
          + lit(5.0) * (rb * rb * rb * rb * rb) / 6)
      .when(rb < 0.85,
        lit(-0.4) + lit(1.39) * rb + lit(0.43) / (lit(1.0) - rb))
      .otherwise(lit(1.0)
        / greatest(rb * rb * rb - lit(4.0) * (rb * rb) + lit(3.0) * rb,
          lit(1e-12)))
    agg
      .withColumn("_rb", round(rbar, 12))
      .select(col(keyCol), col("n"),
        round(col("_rb"), 6).as("rbar_r"),
        round(atan2(col("_ss").cast("double"),
          col("_sc").cast("double")), 6).as("mean_dir_r"),
        round(z, 6).as("rayleigh_z_r"),
        round(exp(-z) * (lit(1.0)
          + (lit(2.0) * z - z * z) / (lit(4.0) * nD)), 6)
          .as("rayleigh_p_r"),
        round(kappa, 6).as("kappa_r"))
  }
}
