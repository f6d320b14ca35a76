package graft.queries


import org.apache.spark.sql.functions._

import graft.util.Tables._
import graft.util.Exact.t12

/** Experimentation-depth batch: heterogeneous treatment effects by
  * activity decile (the uplift table behind "who does the treatment
  * actually move") and log-log price elasticity (classical demand
  * econometrics on the engine's exact-moment machinery).
  */
object UpliftQueries {

  val all: Seq[Q] = Seq(

    // HTE / uplift by activity decile: q198's md5 arms and conversion,
    // sliced by user-activity decile — the heterogeneity readout a
    // single pooled z hides. Per decile: arm sizes, rates, uplift and
    // the pooled two-proportion z (q198's exact parenthesization).
    Q("q274_hte_deciles",
      Some("""WITH u AS (
             |  SELECT user_id, count(*)::BIGINT AS n_events,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END) AS conv,
             |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
             |      % 100 >= 50 AS armb
             |  FROM events GROUP BY user_id),
             |dec AS (
             |  SELECT user_id, n_events, conv, armb,
             |    ntile(10) OVER (ORDER BY n_events, user_id) AS decile
             |  FROM u),
             |a AS (
             |  SELECT decile,
             |    sum(CASE WHEN NOT armb THEN 1 ELSE 0 END)::BIGINT
             |      AS n_c,
             |    sum(CASE WHEN NOT armb AND conv = 1 THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_c,
             |    sum(CASE WHEN armb THEN 1 ELSE 0 END)::BIGINT AS n_t,
             |    sum(CASE WHEN armb AND conv = 1 THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_t
             |  FROM dec GROUP BY 1)
             |SELECT decile, n_c, c_c, n_t, c_t,
             |  CASE WHEN n_c > 0 THEN round(c_c::DOUBLE / n_c, 6) END
             |    AS rate_c_r,
             |  CASE WHEN n_t > 0 THEN round(c_t::DOUBLE / n_t, 6) END
             |    AS rate_t_r,
             |  CASE WHEN n_c > 0 AND n_t > 0
             |    THEN round(c_t::DOUBLE / n_t - c_c::DOUBLE / n_c, 6)
             |    END AS uplift_r,
             |  CASE WHEN n_c > 0 AND n_t > 0
             |      AND (c_c + c_t)::DOUBLE / (n_c + n_t) > 0
             |      AND (c_c + c_t)::DOUBLE / (n_c + n_t) < 1
             |    THEN round((c_t::DOUBLE / n_t - c_c::DOUBLE / n_c)
             |      / sqrt((c_c + c_t)::DOUBLE / (n_c + n_t)
             |        * (1.0 - (c_c + c_t)::DOUBLE / (n_c + n_t))
             |        * (1.0 / n_c + 1.0 / n_t)), 6)
             |    END AS z_r
             |FROM a ORDER BY decile""".stripMargin),
      (s, d) => {
        val u = events(s, d).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            max(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("conv"))
          .withColumn("armb",
            conv(substring(md5(col("user_id").cast("string")), 1, 8),
              16, 10).cast("long") % 100 >= 50)
        // deciles via bandedRank + ntileFromRank (the liftTable shape):
        // a bare ntile window would funnel the whole per-user table into
        // ONE task; this ranks within (band of n_events) tasks and
        // reproduces SQL ntile exactly from the rank (RanksSpec property)
        val dec = graft.ops.Ranks.bandedRank(
            u.withColumn("_g", lit(0)), "_g", "n_events", "user_id", 8.0)
          .withColumn("decile",
            graft.ops.Ranks.ntileFromRank(col("rnk"), col("grp_n"), 10))
        val a = dec.groupBy(col("decile")).agg(
          sum(when(!col("armb"), 1L).otherwise(0L)).as("n_c"),
          sum(when(!col("armb") && col("conv") === 1, 1L)
            .otherwise(0L)).as("c_c"),
          sum(when(col("armb"), 1L).otherwise(0L)).as("n_t"),
          sum(when(col("armb") && col("conv") === 1, 1L)
            .otherwise(0L)).as("c_t"))
        def r(c: String, n: String) =
          col(c).cast("double") / nullif(col(n).cast("double"), lit(0.0))
        val pp = (col("c_c") + col("c_t")).cast("double") /
          nullif((col("n_c") + col("n_t")).cast("double"), lit(0.0))
        a.select(col("decile"), col("n_c"), col("c_c"), col("n_t"),
          col("c_t"),
          round(when(col("n_c") > 0, r("c_c", "n_c")), 6).as("rate_c_r"),
          round(when(col("n_t") > 0, r("c_t", "n_t")), 6).as("rate_t_r"),
          round(when(col("n_c") > 0 && col("n_t") > 0,
            r("c_t", "n_t") - r("c_c", "n_c")), 6).as("uplift_r"),
          round(when(col("n_c") > 0 && col("n_t") > 0 &&
              pp > 0 && pp < 1,
            (r("c_t", "n_t") - r("c_c", "n_c")) /
              sqrt(pp * (lit(1.0) - pp)
                * (lit(1.0) / col("n_c") + lit(1.0) / col("n_t")))),
            6).as("z_r"))
          .orderBy("decile")
      }),

    // Log-log price elasticity per return flag: OLS slope of
    // ln(quantity) on ln(unit price). ln terms are 12-dp-rounded
    // DECIMAL sums (1-ulp engine ln drift « the grid); the slope is
    // one shared double parenthesization over those exact aggregates.
    Q("q275_price_elasticity",
      Some("""WITH v AS (
             |  SELECT l_returnflag,
             |    ln(l_extendedprice / l_quantity) AS x,
             |    ln(l_quantity) AS y
             |  FROM lineitem WHERE l_quantity > 0),
             |a AS (
             |  SELECT l_returnflag, count(*)::BIGINT AS n,
             |    sum(round(x, 12)::DECIMAL(28,12))::DOUBLE AS sx,
             |    sum(round(y, 12)::DECIMAL(28,12))::DOUBLE AS sy,
             |    sum(round(x * y, 12)::DECIMAL(28,12))::DOUBLE AS sxy,
             |    sum(round(x * x, 12)::DECIMAL(28,12))::DOUBLE AS sxx
             |  FROM v GROUP BY 1)
             |SELECT l_returnflag, n,
             |  CASE WHEN n * sxx - sx * sx > 0
             |    THEN round((n * sxy - sx * sy)
             |      / (n * sxx - sx * sx), 6) END AS elasticity_r
             |FROM a ORDER BY l_returnflag""".stripMargin),
      (s, d) => {
        val v = lineitem(s, d)
          .where(col("l_quantity") > 0)
          .select(col("l_returnflag"),
            log(col("l_extendedprice") / col("l_quantity")).as("x"),
            log(col("l_quantity")).as("y"))
        val a = v.groupBy(col("l_returnflag")).agg(
          count(lit(1)).as("n"),
          sum(t12(col("x")))
            .cast("double").as("sx"),
          sum(t12(col("y")))
            .cast("double").as("sy"),
          sum(t12(col("x") * col("y")))
            .cast("double").as("sxy"),
          sum(t12(col("x") * col("x")))
            .cast("double").as("sxx"))
        a.select(col("l_returnflag"), col("n"),
          round(when(col("n") * col("sxx") - col("sx") * col("sx") > 0,
            (col("n") * col("sxy") - col("sx") * col("sy")) /
              nullif(col("n") * col("sxx") - col("sx") * col("sx"),
                lit(0.0))), 6).as("elasticity_r"))
          .orderBy("l_returnflag")
      }),

    // Qini curve + area over the q274 fixture (activity score, md5
    // arm): incremental conversions vs the control-scaled
    // counterfactual at each targeting depth, against the random
    // diagonal — did the score find persuadables, or just converters.
    Q("q318_qini",
      Some("""WITH u AS (
             |  SELECT user_id, count(*)::BIGINT AS n_events,
             |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END) AS conv,
             |    ('0x' || substr(md5(user_id::VARCHAR), 1, 8))::BIGINT
             |      % 100 >= 50 AS armb
             |  FROM events GROUP BY user_id),
             |dec AS (
             |  SELECT user_id, conv, armb,
             |    ntile(10) OVER (ORDER BY -n_events, user_id) AS bucket
             |  FROM u),
             |a AS (
             |  SELECT bucket,
             |    sum(CASE WHEN armb THEN 1 ELSE 0 END)::BIGINT AS n_t,
             |    sum(CASE WHEN armb AND conv = 1 THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_t,
             |    sum(CASE WHEN NOT armb THEN 1 ELSE 0 END)::BIGINT
             |      AS n_c,
             |    sum(CASE WHEN NOT armb AND conv = 1 THEN 1 ELSE 0 END)
             |      ::BIGINT AS c_c
             |  FROM dec GROUP BY 1),
             |cum AS (
             |  SELECT bucket,
             |    sum(n_t) OVER w AS nt_cum, sum(c_t) OVER w AS ct_cum,
             |    sum(n_c) OVER w AS nc_cum, sum(c_c) OVER w AS cc_cum,
             |    sum(n_t) OVER () AS tnt, sum(c_t) OVER () AS tct,
             |    sum(n_c) OVER () AS tnc, sum(c_c) OVER () AS tcc
             |  FROM a WINDOW w AS (ORDER BY bucket
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
             |qq AS (
             |  SELECT bucket, nt_cum::BIGINT AS nt_cum,
             |    ct_cum::BIGINT AS ct_cum, nc_cum::BIGINT AS nc_cum,
             |    cc_cum::BIGINT AS cc_cum,
             |    CASE WHEN nc_cum > 0 THEN ct_cum::DOUBLE
             |      - cc_cum::DOUBLE * (nt_cum::DOUBLE
             |        / nc_cum::DOUBLE) END AS qini,
             |    CASE WHEN tnt > 0 THEN nt_cum::DOUBLE / tnt::DOUBLE
             |      END AS x,
             |    CASE WHEN tnt > 0 AND tnc > 0 THEN
             |      (nt_cum::DOUBLE / tnt::DOUBLE) * (tct::DOUBLE
             |        - tcc::DOUBLE * (tnt::DOUBLE / tnc::DOUBLE)) END
             |      AS rand
             |  FROM cum),
             |tr AS (
             |  SELECT round(((qini + lag(qini, 1, 0)
             |      OVER (ORDER BY bucket)) / 2
             |    - (rand + lag(rand, 1, 0) OVER (ORDER BY bucket)) / 2)
             |    * (x - lag(x, 1, 0) OVER (ORDER BY bucket)), 12)
             |    ::DECIMAL(28,12) AS term
             |  FROM qq),
             |ar AS (SELECT sum(term)::DOUBLE AS auc,
             |  sum(CASE WHEN term IS NULL THEN 1 ELSE 0 END) AS nbad
             |  FROM tr)
             |SELECT bucket, nt_cum, ct_cum, nc_cum, cc_cum,
             |  round(qini, 6) AS qini_r, round(rand, 6) AS rand_r,
             |  round(CASE WHEN nbad = 0 THEN auc END, 6) AS qini_auc_r
             |FROM qq, ar ORDER BY bucket""".stripMargin),
      (s, d) => {
        val u = events(s, d).groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            max(when(col("event_type") === "purchase", 1L)
              .otherwise(0L)).as("conv"))
          .withColumn("armb",
            conv(substring(md5(col("user_id").cast("string")), 1, 8),
              16, 10).cast("long") % 100 >= 50)
        graft.ops.Ranks.qiniCurve(u, "n_events", "user_id", "armb",
            "conv", buckets = 10, bandWidth = 8.0)
          .orderBy("bucket")
      }))
}
