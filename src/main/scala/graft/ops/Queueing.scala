package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Capacity planning on measured arrival streams: the Erlang-C
  * staffing table (the call-center/serving-fleet sizing formula) and
  * the newsvendor critical-fractile stock level — both reduce the
  * corpus to a tiny sufficient-statistic frame and run closed-form
  * grid arithmetic, the [[Behavior]] littlesLaw posture.
  */
object Queueing {


  /** Scala-computed ln(k!) literals (the spectralPower no-engine-trig
    * discipline — shared verbatim with oracle SQL). */
  def lnFactValues(maxC: Int): Seq[(Int, Double)] =
    (0 to maxC).map(k =>
      (k, (2 to k).map(j => math.log(j.toDouble)).sum))

  def lnFactSql(maxC: Int): String =
    lnFactValues(maxC).map { case (k, v) => s"($k, ${v}::DOUBLE)" }
      .mkString(",\n    ")

  /** Erlang-C staffing table from a measured arrival stream: offered
    * load a = λ·AHT with λ = arrivals per hour over the observed
    * hour-bucket count (exact rational) and AHT = `ahtSeconds`; for
    * each server count c in 1..`maxC` with c > a,
    *   P_wait = B / (B + Σ_{k<c} a^k/k!),  B = (a^c/c!)·c/(c−a)
    *   ASA    = P_wait·AHT/(c−a),  ρ = a/c.
    * Powers go through exp(k·ln a − ln k!) with ln k! a SCALA literal
    * table and every float pinned to the 12-dp grid. Returns per c:
    * c, a_r, p_wait_r, asa_s_r, occupancy_r.
    *
    * Shape: ONE corpus agg (arrival count + hour-bucket count) → a
    * ≤maxC²/2 (c, k) literal grid — the corpus never meets the
    * grid. */
  def erlangC(events: DataFrame, tsCol: String, filter: Column,
      ahtSeconds: Int, maxC: Int = 24): DataFrame = {
    require(maxC >= 1 && ahtSeconds >= 1)
    val s = events.sparkSession
    import s.implicits._
    val rates = events.where(filter)
      .agg(count(lit(1)).as("_n"),
        countDistinct((unix_micros(col(tsCol))
          / lit(3600000000L)).cast("long")).as("_hours"))
    val a = round(col("_n").cast("double") * ahtSeconds
      / (lit(3600.0) * col("_hours").cast("double")), 12)
    val lna = round(log(col("_a")), 12)
    val lf = lnFactValues(maxC).toDF("_k", "_lf")
    val grid = (1 to maxC).toDF("c")
    // Σ_{k<c} a^k/k! accumulated per c from the (c, k) literal grid
    val terms = broadcast(grid).crossJoin(broadcast(lf))
      .where(col("_k") < col("c"))
    val scored = rates.withColumn("_a", a)
      .withColumn("_lna", lna)
      .crossJoin(broadcast(terms))
      .withColumn("_term",
        exp(round(col("_k") * col("_lna") - col("_lf"), 12)))
      .groupBy(col("c"), col("_a"), col("_lna"))
      .agg(sum(t12(col("_term"))).as("_s"))
    val lfc = broadcast(lf.select(col("_k").as("c"),
      col("_lf").as("_lfc")))
    val cD = col("c").cast("double")
    val b = (exp(round(cD * col("_lna") - col("_lfc"), 12))
      * cD / (cD - col("_a")))
    val pw = round(col("_b")
      / (col("_b") + col("_s").cast("double")), 12)
    scored.join(lfc, Seq("c"))
      .where(cD > col("_a"))
      .withColumn("_b", b)
      .select(col("c"), round(col("_a"), 6).as("a_r"),
        round(pw, 6).as("p_wait_r"),
        round(pw * ahtSeconds / (cD - col("_a")), 6).as("asa_s_r"),
        round(col("_a") / cD, 6).as("occupancy_r"))
      .orderBy("c")
  }

  /** Newsvendor critical-fractile stock from the empirical daily
    * demand distribution: with underage cost cu and overage cost co,
    * the optimal stock q* is the cu/(cu+co) quantile — found EXACTLY
    * by integer cross-multiplication ((cu+co)·C(x) ≥ cu·n), never a
    * float quantile. Also reports the realized mean daily cost at q*.
    * Returns one row: n_days, q_star, crit_fractile_r, mean_cost_r.
    *
    * Shape: day-grain hash-agg → distinct-demand grid + banded
    * prefix → one broadcast of the 1-row q* back over the day
    * grain. */
  def newsvendor(events: DataFrame, tsCol: String, filter: Column,
      cu: Long, co: Long, bandWidth: Double = 16.0): DataFrame = {
    require(cu > 0 && co > 0)
    val daily = events.where(filter)
      .groupBy(to_date(col(tsCol)).as("_day"))
      .agg(count(lit(1)).as("_x"))
    val per = daily.groupBy(col("_x")).agg(count(lit(1)).as("_m"))
    val cum = Ranks.bandedRunningSum(per.withColumn("_g", lit(0)),
      "_g", "_x", "_m", bandWidth)
    val tot = cum.agg(sum(col("_m")).as("n_days"))
    val qstar = cum.crossJoin(broadcast(tot))
      .where(lit(cu + co) * col("runsum") >= lit(cu) * col("n_days"))
      .agg(min(col("_x")).as("q_star"),
        first(col("n_days")).as("n_days"))
    daily.crossJoin(broadcast(qstar))
      .select(col("n_days"), col("q_star"),
        (lit(co.toDouble) * greatest(col("q_star") - col("_x"), lit(0L))
          + lit(cu.toDouble) * greatest(col("_x") - col("q_star"),
            lit(0L))).as("_cost"))
      .groupBy(col("n_days"), col("q_star"))
      .agg(sum(t12(col("_cost"))).as("_sc"))
      .select(col("n_days"), col("q_star"),
        round(lit(cu.toDouble) / (cu + co), 6).as("crit_fractile_r"),
        round(col("_sc").cast("double") / col("n_days").cast("double"),
          6).as("mean_cost_r"))
  }
}
