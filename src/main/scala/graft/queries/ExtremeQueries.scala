package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Tables._
import graft.util.Exact.t12

/** Extreme-value batch: Gumbel fit on monthly block maxima of daily
  * revenue (method of moments — the capacity-planning "how bad can a
  * peak month get" model) and record-day analysis (observed records vs
  * the iid harmonic expectation — more records than H_n means the
  * series is trending, fewer means it's capped). All moments exact
  * integer cents; the only floats are the closed-form tail formulas
  * with shared literals (√6/π, Euler γ).
  */
object ExtremeQueries {

  private val DailySql =
    """WITH grain AS (
      |  SELECT o_orderdate::DATE AS day,
      |    sum(CAST(round(o_totalprice * 100) AS BIGINT))::BIGINT AS y
      |  FROM orders GROUP BY 1)""".stripMargin

  private def daily(s: org.apache.spark.sql.SparkSession, d: String) =
    orders(s, d)
      .groupBy(to_date(col("o_orderdate")).as("day"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).as("y"))

  val all: Seq[Q] = Seq(

    // Gumbel(μ, β) on monthly maxima: β = sd·√6/π, μ = mean − γβ;
    // exceedance probability of the observed all-time peak and its
    // implied return period in months.
    Q("q336_gumbel_maxima",
      Some(s"""$DailySql,
              |blocks AS (
              |  SELECT date_trunc('month', day) AS mo,
              |    max(y)::BIGINT AS mx
              |  FROM grain GROUP BY 1),
              |s AS (
              |  SELECT count(*)::BIGINT AS n, sum(mx)::BIGINT AS s1,
              |    sum(mx::HUGEINT * mx) AS s2, max(mx)::BIGINT AS gmax
              |  FROM blocks),
              |f AS (
              |  SELECT n, gmax, s1::DOUBLE / n::DOUBLE AS m,
              |    sqrt((s2::DOUBLE - s1::DOUBLE * s1::DOUBLE
              |      / n::DOUBLE) / n::DOUBLE) AS sd
              |  FROM s),
              |g AS (SELECT n, gmax, m, sd, sd * sqrt(6) / pi() AS beta
              |      FROM f),
              |h AS (SELECT n, gmax, m, sd, beta,
              |      m - 0.5772156649015329 * beta AS mu FROM g)
              |SELECT n AS n_blocks, round(m, 6) AS mean_max_r,
              |  round(sd, 6) AS sd_max_r, round(mu, 6) AS mu_r,
              |  round(beta, 6) AS beta_r,
              |  CASE WHEN beta > 0 THEN
              |    round(1 - exp(-exp(-((gmax::DOUBLE - mu) / beta))),
              |      6) END AS p_exceed_max_r,
              |  CASE WHEN beta > 0
              |      AND 1 - exp(-exp(-((gmax::DOUBLE - mu) / beta)))
              |        > 0 THEN
              |    round(1 / (1 - exp(-exp(-((gmax::DOUBLE - mu)
              |      / beta)))), 6) END AS return_period_r
              |FROM h""".stripMargin),
      (s, d) => {
        val blocks = daily(s, d)
          .groupBy(trunc(col("day"), "month").as("mo"))
          .agg(max(col("y")).as("mx"))
        val a = blocks.agg(count(lit(1)).as("n"),
          sum(col("mx")).as("_s1"),
          sum(col("mx").cast("decimal(38,0)") * col("mx")).as("_s2"),
          max(col("mx")).as("_gmax"))
        val nD = col("n").cast("double")
        val m = col("_s1").cast("double") / nD
        val sd = sqrt((col("_s2").cast("double")
          - col("_s1").cast("double") * col("_s1").cast("double") / nD)
          / nD)
        val beta = sd * sqrt(lit(6.0)) / lit(math.Pi)
        val mu = m - lit(0.5772156649015329) * beta
        val p = lit(1.0) -
          exp(-exp(-((col("_gmax").cast("double") - mu) / beta)))
        a.select(col("n").as("n_blocks"), round(m, 6).as("mean_max_r"),
          round(sd, 6).as("sd_max_r"), round(mu, 6).as("mu_r"),
          round(beta, 6).as("beta_r"),
          round(when(beta > 0, p), 6).as("p_exceed_max_r"),
          round(when(beta > 0 && p > 0, lit(1.0) / p), 6)
            .as("return_period_r"))
      }),

    // Record days: how often does daily revenue set a new all-time
    // high, vs the iid expectation H_n = Σ1/k (records theory) —
    // observed ≫ H_n is a trend signature, observed ≪ H_n a ceiling.
    Q("q337_record_days",
      Some(s"""$DailySql,
              |r AS (
              |  SELECT day, y,
              |    row_number() OVER (ORDER BY day) AS rn,
              |    max(y) OVER (ORDER BY day
              |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
              |      AS prevmax
              |  FROM grain),
              |f AS (
              |  SELECT rn, day,
              |    CASE WHEN prevmax IS NULL OR y > prevmax THEN 1
              |      ELSE 0 END AS rec
              |  FROM r)
              |SELECT count(*)::BIGINT AS n_days,
              |  sum(rec)::BIGINT AS n_records,
              |  round(sum(round(1.0 / rn, 12)::DECIMAL(28,12))::DOUBLE,
              |    6) AS expected_records_r,
              |  max(CASE WHEN rec = 1 THEN day END) AS last_record_day
              |FROM f""".stripMargin),
      (s, d) => {
        val wOrd = Window.orderBy(col("day"))
        val wPrev = Window.orderBy(col("day"))
          .rowsBetween(Window.unboundedPreceding, -1)
        daily(s, d)
          .withColumn("rn", row_number().over(wOrd))
          .withColumn("_pm", max(col("y")).over(wPrev))
          .withColumn("rec",
            when(col("_pm").isNull || col("y") > col("_pm"), 1L)
              .otherwise(0L))
          .agg(count(lit(1)).as("n_days"), sum(col("rec")).as("n_records"),
            round(sum(t12(lit(1.0) / col("rn"))).cast("double"), 6)
              .as("expected_records_r"),
            max(when(col("rec") === 1, col("day")))
              .as("last_record_day"))
      }))
}
