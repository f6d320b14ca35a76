package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.TimeSeries
import graft.util.Tables._
import graft.util.Exact.t12

/** Seasonality & robust monitoring over the daily event grid: weekday
  * seasonal indexes (plain and trend-adjusted) and rolling-MAD anomaly
  * flags — the profile a monitoring stack learns so weekly rhythm
  * doesn't page anyone. All windows run over the DAY-GRAIN table; the
  * event table is touched exactly once per query.
  */
object SeasonalQueries {

  val all: Seq[Q] = Seq(

    // Day-of-week index = weekday mean / overall mean daily count.
    Q("q221_dow_seasonal_index",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |pd AS (
             |  SELECT event_type, dayofweek(day) AS dow,
             |    count(*)::BIGINT AS n_days, sum(n)::BIGINT AS s
             |  FROM daily GROUP BY 1, 2),
             |t AS (
             |  SELECT event_type, count(*)::BIGINT AS td,
             |    sum(n)::BIGINT AS tn
             |  FROM daily GROUP BY 1)
             |SELECT pd.event_type, dow, n_days,
             |  round(s / n_days, 6) AS mean_count_r,
             |  round((s / n_days) / (tn / td), 6) AS seasonal_index_r
             |FROM pd JOIN t ON pd.event_type = t.event_type
             |ORDER BY pd.event_type, dow""".stripMargin),
      (s, d) => TimeSeries.dowSeasonalIndex(events(s, d), "event_type",
          "ts")
        .orderBy("event_type", "dow")),

    // Trend-adjusted weekday index: ratio to the centered 7-day MA,
    // averaged per weekday as a DECIMAL sum of rounded ratios.
    Q("q222_ratio_to_ma",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |f AS (
             |  SELECT event_type, day, n, count(*) OVER w AS wn,
             |    sum(n) OVER w AS ws
             |  FROM daily WINDOW w AS (PARTITION BY event_type
             |    ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |det AS (
             |  SELECT event_type, dayofweek(day) AS dow,
             |    floor(n / (ws / 7.0) * 1000000.0 + 0.5) / 1000000.0
             |      AS ratio
             |  FROM f WHERE wn = 7)
             |SELECT event_type, dow, count(*)::BIGINT AS n_obs,
             |  floor(sum(ratio::DECIMAL(18,6))::DOUBLE / count(*)
             |    * 1000000.0 + 0.5) / 1000000.0 AS seasonal_r
             |FROM det GROUP BY 1, 2
             |ORDER BY event_type, dow""".stripMargin),
      (s, d) => TimeSeries.ratioToMaSeasonal(events(s, d), "event_type",
          "ts")
        .orderBy("event_type", "dow")),

    // Rolling 14-day median/MAD anomaly flags per event type.
    Q("q223_rolling_mad_anomalies",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |a AS (
             |  SELECT event_type, day, n,
             |    list_sort(list(n::DOUBLE) OVER (
             |      PARTITION BY event_type ORDER BY day
             |      ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)) AS arr
             |  FROM daily),
             |m AS (
             |  SELECT event_type, day, n, arr,
             |    CASE WHEN len(arr) % 2 = 1
             |      THEN arr[(len(arr) + 1) // 2]
             |      ELSE (arr[len(arr) // 2] + arr[len(arr) // 2 + 1])
             |        / 2.0 END AS med
             |  FROM a),
             |d AS (
             |  SELECT event_type, day, n, med,
             |    list_sort(list_transform(arr, x -> abs(x - med)))
             |      AS devs
             |  FROM m),
             |x AS (
             |  SELECT event_type, day, n, med,
             |    CASE WHEN len(devs) % 2 = 1
             |      THEN devs[(len(devs) + 1) // 2]
             |      ELSE (devs[len(devs) // 2] + devs[len(devs) // 2 + 1])
             |        / 2.0 END AS mad
             |  FROM d)
             |SELECT event_type, day, n::BIGINT AS n,
             |  round(med, 6) AS med_r, round(mad, 6) AS mad_r,
             |  abs(n - med) > 3.0 * 1.4826 * mad AS is_anomaly
             |FROM x ORDER BY event_type, day""".stripMargin),
      (s, d) => TimeSeries.rollingMadAnomalies(events(s, d),
          "event_type", "ts", windowDays = 14)
        .orderBy("event_type", "day")),

    // Wald–Wolfowitz runs test on daily counts vs their exact median:
    // too FEW runs = trending/clustered days, too MANY = oscillating —
    // the randomness gate under q221's seasonal indices. Median-equal
    // days are excluded (standard); R, n1, n0 exact integers, E[R] and
    // Var[R] one shared double parenthesization.
    Q("q294_runs_test",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |med AS (
             |  SELECT event_type, quantile_cont(x, 0.5) AS m FROM daily
             |  GROUP BY 1),
             |f AS (
             |  SELECT d.event_type, d.day,
             |    CASE WHEN d.x > m THEN 1 ELSE 0 END AS above
             |  FROM daily d JOIN med USING (event_type)
             |  WHERE d.x <> m),
             |r AS (
             |  SELECT event_type, above,
             |    CASE WHEN lag(above) OVER (PARTITION BY event_type
             |        ORDER BY day) IS DISTINCT FROM above
             |      THEN 1 ELSE 0 END AS newrun
             |  FROM f),
             |a AS (
             |  SELECT event_type, count(*)::BIGINT AS n,
             |    sum(above)::BIGINT AS n1,
             |    (count(*) - sum(above))::BIGINT AS n0,
             |    sum(newrun)::BIGINT AS runs
             |  FROM r GROUP BY 1)
             |SELECT event_type, n, n1, n0, runs,
             |  round(2.0 * n1::DOUBLE * n0::DOUBLE / n::DOUBLE + 1.0, 6)
             |    AS e_runs_r,
             |  CASE WHEN n > 1 AND 2.0 * n1::DOUBLE * n0::DOUBLE
             |      * (2.0 * n1::DOUBLE * n0::DOUBLE - n::DOUBLE) > 0
             |    THEN round((runs::DOUBLE
             |      - (2.0 * n1::DOUBLE * n0::DOUBLE / n::DOUBLE + 1.0))
             |      / sqrt(2.0 * n1::DOUBLE * n0::DOUBLE
             |        * (2.0 * n1::DOUBLE * n0::DOUBLE - n::DOUBLE)
             |        / (n::DOUBLE * n::DOUBLE * (n - 1)::DOUBLE)), 6)
             |    END AS z_r
             |FROM a ORDER BY event_type""".stripMargin),
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        val med = graft.ops.Ranks.exactQuantiles(
            daily.withColumn("_id", col("day").cast("string")),
            "event_type", "x", "_id", bandWidth = 64.0,
            nums = Seq(1), den = 2)
          .select(col("event_type"), col("q_val").as("_m"))
        val f = daily.join(broadcast(med), Seq("event_type"))
          .where(col("x") =!= col("_m"))
          .select(col("event_type"), col("day"),
            when(col("x") > col("_m"), 1L).otherwise(0L).as("above"))
        val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
        val r = f.withColumn("newrun",
          when(lag(col("above"), 1).over(w).isNull
            || lag(col("above"), 1).over(w) =!= col("above"), 1L)
            .otherwise(0L))
        val a = r.groupBy(col("event_type")).agg(
          count(lit(1)).as("n"), sum(col("above")).as("n1"),
          (count(lit(1)) - sum(col("above"))).as("n0"),
          sum(col("newrun")).as("runs"))
        val nD = col("n").cast("double")
        val n1D = col("n1").cast("double")
        val n0D = col("n0").cast("double")
        val e = lit(2.0) * n1D * n0D / nD + lit(1.0)
        val varNum = lit(2.0) * n1D * n0D *
          (lit(2.0) * n1D * n0D - nD)
        a.select(col("event_type"), col("n"), col("n1"), col("n0"),
          col("runs"),
          round(e, 6).as("e_runs_r"),
          round(when(col("n") > 1 && varNum > 0,
            (col("runs").cast("double") - e)
              / sqrt(varNum
                / (nD * nD * (col("n") - 1).cast("double")))), 6)
            .as("z_r"))
          .orderBy("event_type")
      }),

    // One-way ANOVA of daily counts across day-of-week cells per type
    // (Infer.oneWayAnova): η² = share of daily-count variance explained
    // by weekday, F against the k−1 / n−k split — "is the weekly
    // seasonality real" as a test, where q221 only reports indices.
    Q("q295_dow_anova",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |u AS (SELECT event_type, dayofweek(day) AS dow, x
             |      FROM daily),
             |cell AS (
             |  SELECT event_type, dow, count(*)::BIGINT AS nc,
             |    sum(x)::BIGINT AS sc, sum(x::HUGEINT * x) AS ssc
             |  FROM u GROUP BY 1, 2),
             |a AS (
             |  SELECT event_type, sum(nc)::BIGINT AS n,
             |    count(*)::BIGINT AS k, sum(sc)::BIGINT AS s,
             |    sum(ssc) AS ss,
             |    sum(round(sc::DOUBLE * sc::DOUBLE / nc::DOUBLE, 12)
             |      ::DECIMAL(28,12)) AS t12
             |  FROM cell GROUP BY 1)
             |SELECT event_type, n, k,
             |  CASE WHEN ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE
             |      > 0 THEN
             |    round((t12::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
             |      / (ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE),
             |      6) END AS eta2_r,
             |  CASE WHEN k > 1 AND n > k
             |      AND ss::DOUBLE - t12::DOUBLE > 0 THEN
             |    round(((t12::DOUBLE - s::DOUBLE * s::DOUBLE
             |        / n::DOUBLE) / (k - 1)::DOUBLE)
             |      / ((ss::DOUBLE - t12::DOUBLE) / (n - k)::DOUBLE), 6)
             |    END AS f_r
             |FROM a ORDER BY event_type""".stripMargin),
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        graft.ops.Infer.oneWayAnova(
            daily.select(col("event_type"),
              (dayofweek(col("day")) - 1).as("dow"), col("x")),
            "event_type", "dow", "x")
          .orderBy("event_type")
      }),

    // Brown–Forsythe (median-Levene) variance-homogeneity test: the
    // ANOVA machinery applied to DEVIATIONS |x − cell median| — "do
    // weekdays differ in VOLATILITY, not just level", the check q295's
    // equal-variance assumption rests on. Deviations stay exactly
    // integer by scaling ×2 (an interpolated median of integers ends
    // in .0 or .5; F is scale-invariant), so the whole pipeline rides
    // Infer.oneWayAnova's exact-moment path unchanged.
    Q("q296_levene_dow",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |u AS (SELECT event_type, dayofweek(day) AS dow, x
             |      FROM daily),
             |med AS (
             |  SELECT event_type, dow, quantile_cont(x, 0.5) AS m
             |  FROM u GROUP BY 1, 2),
             |v AS (
             |  SELECT u.event_type, u.dow,
             |    abs(2 * u.x - CAST(2 * m AS BIGINT))::BIGINT AS y
             |  FROM u JOIN med USING (event_type, dow)),
             |cell AS (
             |  SELECT event_type, dow, count(*)::BIGINT AS nc,
             |    sum(y)::BIGINT AS sc, sum(y::HUGEINT * y) AS ssc
             |  FROM v GROUP BY 1, 2),
             |a AS (
             |  SELECT event_type, sum(nc)::BIGINT AS n,
             |    count(*)::BIGINT AS k, sum(sc)::BIGINT AS s,
             |    sum(ssc) AS ss,
             |    sum(round(sc::DOUBLE * sc::DOUBLE / nc::DOUBLE, 12)
             |      ::DECIMAL(28,12)) AS t12
             |  FROM cell GROUP BY 1)
             |SELECT event_type, n, k,
             |  CASE WHEN ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE
             |      > 0 THEN
             |    round((t12::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
             |      / (ss::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE),
             |      6) END AS eta2_r,
             |  CASE WHEN k > 1 AND n > k
             |      AND ss::DOUBLE - t12::DOUBLE > 0 THEN
             |    round(((t12::DOUBLE - s::DOUBLE * s::DOUBLE
             |        / n::DOUBLE) / (k - 1)::DOUBLE)
             |      / ((ss::DOUBLE - t12::DOUBLE) / (n - k)::DOUBLE), 6)
             |    END AS f_r
             |FROM a ORDER BY event_type""".stripMargin),
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        val u = daily.select(col("event_type"),
            (dayofweek(col("day")) - 1).as("dow"), col("day"), col("x"))
          .withColumn("_g",
            concat_ws("#", col("event_type"), col("dow")))
        val med = graft.ops.Ranks.exactQuantiles(
            u.withColumn("_id", col("day").cast("string")),
            "_g", "x", "_id", bandWidth = 64.0, nums = Seq(1), den = 2)
          .select(col("_g"), col("q_val").as("_m"))
        val v = u.join(broadcast(med), Seq("_g"))
          .select(col("event_type"), col("dow"),
            abs(lit(2) * col("x")
              - (lit(2.0) * col("_m")).cast("long")).as("y"))
        graft.ops.Infer.oneWayAnova(v, "event_type", "dow", "y")
          .orderBy("event_type")
      }),

    // Kruskal–Wallis rank test on the same weekday cells: q295's
    // question without the normality assumption — H from exact ×2
    // midranks with the tie-correction divisor (Infer.kruskalWallis).
    Q("q297_kruskal_wallis_dow",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |u AS (SELECT event_type, dayofweek(day) AS dow, x
             |      FROM daily),
             |vg AS (SELECT event_type, x, count(*)::BIGINT AS t
             |       FROM u GROUP BY 1, 2),
             |rk AS (
             |  SELECT event_type, x, t,
             |    (2 * (sum(t) OVER (PARTITION BY event_type ORDER BY x
             |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |       - t) + t + 1)::BIGINT AS r2
             |  FROM vg),
             |cells AS (
             |  SELECT u.event_type, u.dow, count(*)::BIGINT AS nc,
             |    sum(rk.r2)::BIGINT AS s2
             |  FROM u JOIN rk
             |    ON u.event_type = rk.event_type AND u.x = rk.x
             |  GROUP BY 1, 2),
             |ties AS (SELECT event_type,
             |    sum(t * t * t - t)::BIGINT AS tie
             |  FROM vg GROUP BY 1),
             |a AS (
             |  SELECT event_type, sum(nc)::BIGINT AS n,
             |    count(*)::BIGINT AS k,
             |    sum(round(s2::DOUBLE * s2::DOUBLE
             |      / (4.0 * nc::DOUBLE), 12)::DECIMAL(28,12)) AS t12
             |  FROM cells GROUP BY 1)
             |SELECT a.event_type, n, k,
             |  CASE WHEN n >= 2 AND k >= 2
             |      AND 1.0 - tie::DOUBLE / (n::DOUBLE * n::DOUBLE
             |        * n::DOUBLE - n::DOUBLE) > 0
             |    THEN round((12.0 / (n::DOUBLE * (n::DOUBLE + 1.0))
             |        * t12::DOUBLE - 3.0 * (n::DOUBLE + 1.0))
             |      / (1.0 - tie::DOUBLE / (n::DOUBLE * n::DOUBLE
             |        * n::DOUBLE - n::DOUBLE)), 6)
             |    END AS h_r
             |FROM a JOIN ties USING (event_type)
             |ORDER BY event_type""".stripMargin),
      (s, d) => {
        val daily = events(s, d)
          .groupBy(col("event_type"), to_date(col("ts")).as("day"))
          .agg(count(lit(1)).as("x"))
        graft.ops.Infer.kruskalWallis(
            daily.select(col("event_type"),
              (dayofweek(col("day")) - 1).as("dow"), col("x")),
            "event_type", "dow", "x")
          .orderBy("event_type")
      }),

    // Pearson χ² of independence + Cramér's V for the event_type ×
    // day-of-week contingency table — is WHAT happens associated with
    // WHEN, and how strongly (V ∈ [0,1] comparable across tables).
    // The full margin grid (zero cells included) is rows×cols tiny;
    // each (O−E)²/E term 12-dp-rounded + DECIMAL-summed, V one sqrt.
    Q("q298_dow_association",
      Some("""WITH u AS (
             |  SELECT event_type AS t, dayofweek(ts::DATE) AS d
             |  FROM events),
             |o AS (SELECT t, d, count(*)::BIGINT AS o FROM u
             |      GROUP BY 1, 2),
             |rm AS (SELECT t, sum(o)::BIGINT AS r FROM o GROUP BY 1),
             |cm AS (SELECT d, sum(o)::BIGINT AS c FROM o GROUP BY 1),
             |nn AS (SELECT sum(o)::BIGINT AS n FROM o),
             |rc AS (SELECT count(*)::BIGINT AS n_rows FROM rm),
             |cc AS (SELECT count(*)::BIGINT AS n_cols FROM cm),
             |grid AS (
             |  SELECT rm.t, cm.d, rm.r, cm.c, coalesce(o.o, 0)::BIGINT
             |    AS o
             |  FROM rm CROSS JOIN cm
             |  LEFT JOIN o ON o.t = rm.t AND o.d = cm.d),
             |x AS (
             |  SELECT sum(round(
             |    (o::DOUBLE - r::DOUBLE * c::DOUBLE / n::DOUBLE)
             |    * (o::DOUBLE - r::DOUBLE * c::DOUBLE / n::DOUBLE)
             |    / (r::DOUBLE * c::DOUBLE / n::DOUBLE), 12)
             |    ::DECIMAL(28,12)) AS chi12,
             |    count(*)::BIGINT AS n_cells
             |  FROM grid CROSS JOIN nn)
             |SELECT nn.n, rc.n_rows, cc.n_cols, x.n_cells,
             |  round(x.chi12::DOUBLE, 6) AS chi2_r,
             |  round(sqrt(x.chi12::DOUBLE / (nn.n::DOUBLE
             |    * (least(rc.n_rows, cc.n_cols) - 1)::DOUBLE)), 6)
             |    AS cramers_v_r
             |FROM x CROSS JOIN nn CROSS JOIN rc CROSS JOIN cc""".stripMargin),
      (s, d) => {
        val u = events(s, d).select(col("event_type").as("t"),
          (dayofweek(to_date(col("ts"))) - 1).as("d"))
        val o = u.groupBy(col("t"), col("d"))
          .agg(count(lit(1)).as("o"))
        val rm = o.groupBy(col("t")).agg(sum(col("o")).as("r"))
        val cm = o.groupBy(col("d")).agg(sum(col("o")).as("c"))
        val nn = o.agg(sum(col("o")).as("n"))
        val rc = rm.agg(count(lit(1)).as("n_rows"))
        val cc = cm.agg(count(lit(1)).as("n_cols"))
        val grid = rm.crossJoin(broadcast(cm))
          .join(o, Seq("t", "d"), "left")
          .select(col("r"), col("c"),
            coalesce(col("o"), lit(0L)).as("o"))
        val rD = col("r").cast("double")
        val cD = col("c").cast("double")
        val e = rD * cD / col("n").cast("double")
        val x = grid.crossJoin(broadcast(nn))
          .agg(sum(t12((col("o").cast("double") - e)
            * (col("o").cast("double") - e) / e)).as("chi12"),
            count(lit(1)).as("n_cells"))
        x.crossJoin(broadcast(nn)).crossJoin(broadcast(rc))
          .crossJoin(broadcast(cc))
          .select(col("n"), col("n_rows"), col("n_cols"),
            col("n_cells"),
            round(col("chi12").cast("double"), 6).as("chi2_r"),
            round(sqrt(col("chi12").cast("double")
              / (col("n").cast("double")
                * (least(col("n_rows"), col("n_cols")) - 1)
                  .cast("double"))), 6).as("cramers_v_r"))
      }))
}
