package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Data-forensics audits — the "does this feed look fabricated or
  * degraded" battery an ingestion pipeline runs on monetary and event
  * streams: Benford first-digit conformity, last-digit uniformity,
  * round-amount excess, inter-event burstiness/memory, and the
  * running-record test. Complements [[Randomness]] (which audits one
  * day-grain count series for serial structure; these audit VALUE
  * distributions and arrival-process shape).
  *
  * Exactness: amounts enter as exact integer cents
  * (`cast(round(x·100) as bigint)`, the q505 idiom), digits come from
  * integer string/modulo ops, and every statistic is exact-integer
  * sums until a final shared double expression. The only
  * transcendentals are the 9 Benford log10 probabilities — SCALA
  * literals shared verbatim with the oracle (the spectralPower
  * weight-table idiom); sqrt of exact integers is one correctly-
  * rounded IEEE op in both engines.
  */
object Forensics {


  /** The 9 Benford probabilities p_d = log10(1 + 1/d), as Scala
    * literals (shared with oracle SQL). */
  val BenfordP: Seq[(Int, Double)] =
    (1 to 9).map(d => d -> math.log10(1.0 + 1.0 / d))

  /** Benford first-digit conformity of a positive monetary column:
    * observed first-significant-digit counts (from exact integer
    * cents — same leading digit as the amount) vs n·p_d, with the χ²
    * statistic and the mean-absolute-deviation (Nigrini's MAD) of the
    * digit shares. Returns 9 rows (digit 1–9, zero-filled): digit,
    * n_d, e_r, chi2_r, mad_r (the last two constant per row). */
  def benfordFirstDigit(df: DataFrame, amountCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val fd = df
      .select(expr(s"cast(round($amountCol * 100) as bigint)").as("_c"))
      .filter(col("_c") > 0)
      .select(substring(col("_c").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val probs = BenfordP.toDF("digit", "p")
    val grid = broadcast(probs).join(fd, Seq("digit"), "left")
      .select(col("digit"), col("p"),
        coalesce(col("n_d"), lit(0L)).as("n_d"))
      .localCheckpoint()
    val tot = grid.agg(sum(col("n_d")).as("_n"))
    val g = grid.crossJoin(broadcast(tot))
    val e = col("_n").cast("double") * col("p")
    val stats = g.agg(
      sum(t12((col("n_d").cast("double") - e)
        * (col("n_d").cast("double") - e) / e)).cast("double")
        .as("_chi2"),
      sum(t12(abs(col("n_d").cast("double")
        / col("_n").cast("double") - col("p")))).cast("double")
        .as("_sad"))
    g.crossJoin(broadcast(stats))
      .select(col("digit"), col("n_d"), round(e, 6).as("e_r"),
        round(col("_chi2"), 6).as("chi2_r"),
        round(col("_sad") / lit(9.0), 6).as("mad_r"))
      .orderBy(col("digit"))
  }

  /** Last-digit uniformity of a monetary column: terminal digits of
    * exact cents should be ~uniform on 0–9 for organic amounts;
    * fabricated figures over- or under-use certain endings. χ² vs
    * e = n/10 plus the max absolute count deviation. Returns 10 rows
    * (digit 0–9, zero-filled): digit, n_d, e_r, chi2_r, maxdev_r. */
  def lastDigitUniformity(df: DataFrame, amountCol: String): DataFrame = {
    val s = df.sparkSession
    import s.implicits._
    val ld = df
      .select(expr(s"cast(round($amountCol * 100) as bigint)").as("_c"))
      .filter(col("_c") > 0)
      .select((col("_c") % 10).cast("int").as("digit"))
      .groupBy(col("digit")).agg(count(lit(1)).as("n_d"))
    val digits = (0 to 9).toDF("digit")
    val grid = broadcast(digits).join(ld, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n_d"), lit(0L)).as("n_d"))
      .localCheckpoint()
    val tot = grid.agg(sum(col("n_d")).as("_n"))
    val g = grid.crossJoin(broadcast(tot))
    val e = col("_n").cast("double") / lit(10.0)
    val stats = g.agg(
      sum(t12((col("n_d").cast("double") - e)
        * (col("n_d").cast("double") - e) / e)).cast("double")
        .as("_chi2"),
      max(abs(col("n_d").cast("double") - e)).as("_mx"))
    g.crossJoin(broadcast(stats))
      .select(col("digit"), col("n_d"), round(e, 6).as("e_r"),
        round(col("_chi2"), 6).as("chi2_r"),
        round(col("_mx"), 6).as("maxdev_r"))
      .orderBy(col("digit"))
  }

  /** Round-amount excess: the share of amounts landing on whole
    * dollars (cents ≡ 0 mod 100), half dollars (mod 50) and quarters
    * (mod 25) vs the uniform-cents nulls p = 0.01/0.02/0.04, each
    * with its binomial z = (k − n·p)/√(n·p·(1−p)) — price-point
    * clustering beyond these bands flags psychological pricing or
    * hand-entered figures. Returns one row: n, n_whole, z_whole_r,
    * n_half, z_half_r, n_quarter, z_quarter_r. */
  def roundAmountExcess(df: DataFrame, amountCol: String): DataFrame = {
    val cents = df
      .select(expr(s"cast(round($amountCol * 100) as bigint)").as("_c"))
      .filter(col("_c") > 0)
    def z(k: Column, p: Double): Column = {
      val nD = col("n").cast("double")
      ((k.cast("double") - nD * lit(p))
        / sqrt(nD * lit(p) * (lit(1.0) - lit(p))))
    }
    cents.agg(count(lit(1)).as("n"),
        sum(when(col("_c") % 100 === 0, 1L).otherwise(0L)).as("n_whole"),
        sum(when(col("_c") % 50 === 0, 1L).otherwise(0L)).as("n_half"),
        sum(when(col("_c") % 25 === 0, 1L).otherwise(0L))
          .as("n_quarter"))
      .select(col("n"), col("n_whole"),
        round(z(col("n_whole"), 0.01), 6).as("z_whole_r"),
        col("n_half"), round(z(col("n_half"), 0.02), 6).as("z_half_r"),
        col("n_quarter"),
        round(z(col("n_quarter"), 0.04), 6).as("z_quarter_r"))
  }

  /** Burstiness and memory of the inter-event arrival process per key
    * (Goh & Barabási 2008). q168 reports the B coordinate per USER
    * (CV + B over high-cardinality partitions); this op completes the
    * (B, M) PHASE PLANE at the stream grain — M, the lag-1 gap
    * correlation, is what separates "bursty because heavy-tailed"
    * (B high, M ≈ 0) from "bursty because correlated" (M > 0), which
    * B alone cannot. With exact integer micro gaps g,
    * B = (σ−μ)/(σ+μ) — computed as
    * (√(n·Σg²−(Σg)²) − Σg)/(√(n·Σg²−(Σg)²) + Σg), the n factors
    * cancelling so the sqrt argument is one exact integer — and
    * M = the lag-1 Pearson correlation of consecutive gaps (exact
    * integer moments, one sqrt·sqrt division). B → −1 periodic,
    * 0 Poisson, → 1 bursty; M > 0 means long gaps follow long gaps.
    * Returns per key: key, n_gaps, burstiness_r, memory_r (null when
    * a variance is 0 or gaps < 2). */
  def burstinessMemory(events: DataFrame, keyCol: String, tsCol: String,
      idCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("_t"), col(idCol))
    def d38(c: Column) = c.cast("decimal(38,0)")
    val gaps = events
      .select(col(keyCol), unix_micros(col(tsCol)).as("_t"), col(idCol))
      .withColumn("_g", col("_t") - lag(col("_t"), 1).over(w))
      .withColumn("_g2", lead(col("_g"), 1).over(w))
      .filter(col("_g").isNotNull)
    val agg = gaps.groupBy(col(keyCol))
      .agg(count(lit(1)).as("n_gaps"),
        sum(d38(col("_g"))).as("_sg"),
        sum(d38(col("_g")) * col("_g")).as("_sg2"),
        count(col("_g2")).as("_n1"),
        sum(when(col("_g2").isNotNull, d38(col("_g"))))
          .as("_sa"),
        sum(when(col("_g2").isNotNull, d38(col("_g")) * col("_g")))
          .as("_sa2"),
        sum(d38(col("_g2"))).as("_sb"),
        sum(d38(col("_g2")) * col("_g2")).as("_sb2"),
        sum(d38(col("_g")) * col("_g2")).as("_sab"))
    val sq = sqrt((d38(col("n_gaps")) * col("_sg2")
      - col("_sg") * col("_sg")).cast("double"))
    val va = (d38(col("_n1")) * col("_sa2")
      - col("_sa") * col("_sa")).cast("double")
    val vb = (d38(col("_n1")) * col("_sb2")
      - col("_sb") * col("_sb")).cast("double")
    val mnum = (d38(col("_n1")) * col("_sab")
      - col("_sa") * col("_sb")).cast("double")
    agg.select(col(keyCol), col("n_gaps"),
        round((sq - col("_sg").cast("double"))
          / (sq + col("_sg").cast("double")), 6).as("burstiness_r"),
        round(when(va > 0 && vb > 0,
          mnum / (sqrt(va) * sqrt(vb))), 6).as("memory_r"))
      .orderBy(col(keyCol))
  }

  /** Running-record test on the daily count series (observed days,
    * the [[Randomness]] convention): the number of upper records
    * (days strictly exceeding every prior day) and lower records,
    * vs the i.i.d. null E[R] = H_n = Σ1/k and
    * Var[R] = H_n − H_n⁽²⁾ = Σ(1/k − 1/k²) — too many records =
    * trend, far too few = heavy initial regime. Day 1 is a record in
    * both directions by convention. Expected terms are 12-dp-rounded
    * decimal sums (shared with the oracle). Returns one row: n_days,
    * n_up, n_down, e_records_r, var_records_r. */
  def recordsTest(events: DataFrame, tsCol: String): DataFrame = {
    val daily = events.groupBy(to_date(col(tsCol)).as("day"))
      .agg(count(lit(1)).as("x"))
    val w = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val rec = daily
      .withColumn("_mx", max(col("x")).over(w))
      .withColumn("_mn", min(col("x")).over(w))
      .agg(count(lit(1)).as("n_days"),
        sum(when(col("_mx").isNull || col("x") > col("_mx"), 1L)
          .otherwise(0L)).as("n_up"),
        sum(when(col("_mn").isNull || col("x") < col("_mn"), 1L)
          .otherwise(0L)).as("n_down"))
      .localCheckpoint()
    val harmonics = rec
      .select(explode(sequence(lit(1L), col("n_days"))).as("k"))
      .agg(sum(t12(lit(1.0) / col("k").cast("double")))
          .cast("double").as("_h1"),
        sum(t12(lit(1.0) / col("k").cast("double")
          - lit(1.0) / (col("k").cast("double") * col("k")
            .cast("double")))).cast("double").as("_hv"))
    rec.crossJoin(broadcast(harmonics))
      .select(col("n_days"), col("n_up"), col("n_down"),
        round(col("_h1"), 6).as("e_records_r"),
        round(col("_hv"), 6).as("var_records_r"))
  }
}
