package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Distributed EXACT per-group ranking without a per-group single-task
  * sort — the scale-safe replacement for `row_number() OVER (PARTITION BY
  * group ORDER BY value)` when one group can hold billions of rows (a
  * window partition is one task in Spark, so the naive form is a
  * scale-killer for low-cardinality groups like `lang`).
  *
  * Same two-level prefix-sum shape as [[Pack.packByBudget]] /
  * [[Pack.lengthBucketBatches]], generalized from id-buckets to VALUE
  * bands: rows band by `floor(value / bandWidth)`; per-(group, band)
  * counts give exclusive band offsets via a window over the tiny
  * (groups × bands) table; the per-row `row_number` window partitions by
  * (group, band), so no task ever sorts more than one band of one group.
  * rank = band offset + intra-band row_number − 1. Exact, deterministic
  * (total order `(value, id)`), and the fact table is shuffled once, by
  * (group, band).
  *
  * Valve: `bandWidth` bounds the largest sort task — a value
  * distribution that concentrates in one band (e.g. heavy ties) degrades
  * toward the naive window; pick a width that splits the observed range
  * into ≫ #cores bands (the caller knows the value's scale; see
  * SkewValveSpec's q134 pattern for the measurement posture).
  */
object Ranks {

  /** Adds `rnk` (0-based exact rank of `(valueCol, idCol)` within
    * `groupCol`) and `grp_n` (group size). `valueCol` numeric; `idCol`
    * must make `(value, id)` a total order within each group. */
  def bandedRank(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, bandWidth: Double): DataFrame = {
    require(bandWidth > 0, "bandWidth must be > 0")
    val banded = df.withColumn("_band",
      floor(col(valueCol) / bandWidth).cast("long"))
    // level 1: per-(group, band) counts → exclusive offsets + group size.
    // The window runs over the (groups × bands) TABLE, not the data.
    val bandCounts = banded.groupBy(col(groupCol), col("_band"))
      .agg(count(lit(1)).as("_bc"))
    val wB = Window.partitionBy(groupCol).orderBy("_band")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wG = Window.partitionBy(groupCol)
    val offsets = bandCounts
      .withColumn("_boff", sum(col("_bc")).over(wB) - col("_bc"))
      .withColumn("grp_n", sum(col("_bc")).over(wG))
      .drop("_bc")
    // level 2: tasks sort only their own (group, band); offsets come in
    // broadcast.
    val wIn = Window.partitionBy(col(groupCol), col("_band"))
      .orderBy(col(valueCol), col(idCol))
    banded.join(broadcast(offsets), Seq(groupCol, "_band"))
      .withColumn("rnk",
        (col("_boff") + row_number().over(wIn) - 1).cast("long"))
      .drop("_band", "_boff")
  }

  /** SQL `ntile(k)` reproduced from an exact 0-based rank and the group
    * size (so CCNet-style adaptive bucketing composes with [[bandedRank]]
    * instead of a single-task window): the first `n mod k` tiles get
    * `⌈n/k⌉` rows, the rest `⌊n/k⌋` — byte-identical to the SQL
    * function, property-tested against Spark's own `ntile` in RanksSpec.
    * Long-safe: the double divisions floor exactly below 2^52 rows per
    * group. */
  def ntileFromRank(rank: Column, n: Column, k: Int): Column = {
    require(k > 0, "k must be > 0")
    val q = floor(n / k)        // ⌊n/k⌋
    val m = n % k               // first m tiles are one larger
    val big = q + 1
    (when(rank < m * big, floor(rank / big))
      .otherwise(m + floor((rank - m * big) / q)) + 1).cast("int")
  }

  /** Exact per-group RUNNING MAX with no single-task scan — the
    * [[bandedRank]] two-level trick generalized from counting to any
    * associative-idempotent fold: rows band by floor(ord/bandWidth);
    * per-(group, band) maxes give each band its EXCLUSIVE prefix max via
    * a window over the tiny (groups × bands) table; within a band the
    * running max window sorts only that band. runmax = greatest(band
    * prefix, intra-band running max). The naive
    * `max(v) OVER (PARTITION BY grp ORDER BY ord)` puts a whole group in
    * one task — the low-cardinality-group scale-killer this avoids.
    * `ordCol` must be unique within its group (a sequence/arrival id).
    * Adds `runmax`. */
  def bandedRunningMax(df: DataFrame, groupCol: String, ordCol: String,
      valCol: String, bandWidth: Double): DataFrame = {
    require(bandWidth > 0, "bandWidth must be > 0")
    val banded = df.withColumn("_band",
      floor(col(ordCol) / bandWidth).cast("long"))
    val bandMax = banded.groupBy(col(groupCol), col("_band"))
      .agg(max(col(valCol)).as("_bm"))
    val wB = Window.partitionBy(groupCol).orderBy("_band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bandMax
      .withColumn("_pmax", max(col("_bm")).over(wB)).drop("_bm")
    val wIn = Window.partitionBy(col(groupCol), col("_band"))
      .orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(prefixes), Seq(groupCol, "_band"))
      .withColumn("runmax",
        greatest(max(col(valCol)).over(wIn),
          coalesce(col("_pmax"), max(col(valCol)).over(wIn))))
      .drop("_band", "_pmax")
  }

  /** Exact per-group RUNNING SUM with no single-task scan — the
    * additive sibling of [[bandedRunningMax]] (and the generalization
    * of Pack's two-level prefix sum to arbitrary order keys): per-band
    * sums give each band an exclusive prefix via a window over the tiny
    * band table; within a band the running sum sorts only that band.
    * `ordCol` must be unique within its group. Adds `runsum`
    * (inclusive). */
  def bandedRunningSum(df: DataFrame, groupCol: String, ordCol: String,
      valCol: String, bandWidth: Double): DataFrame = {
    require(bandWidth > 0, "bandWidth must be > 0")
    val banded = df.withColumn("_band",
      floor(col(ordCol) / bandWidth).cast("long"))
    val bandSums = banded.groupBy(col(groupCol), col("_band"))
      .agg(sum(col(valCol)).as("_bs"))
    val wB = Window.partitionBy(groupCol).orderBy("_band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefixes = bandSums
      .withColumn("_psum", sum(col("_bs")).over(wB)).drop("_bs")
    val wIn = Window.partitionBy(col(groupCol), col("_band"))
      .orderBy(col(ordCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(prefixes), Seq(groupCol, "_band"))
      .withColumn("runsum",
        coalesce(col("_psum"), lit(0L)) + sum(col(valCol)).over(wIn))
      .drop("_band", "_psum")
  }

  /** Exact per-group linear-interpolated quantiles (SQL
    * `percentile_cont` semantics) computed from [[bandedRank]] — the
    * distributed-exact alternative to both a per-group single-task sort
    * (the naive window) and `approx_percentile` (a sketch, wrong for
    * contractual cutoffs like "trim the top quartile"). Quantile
    * positions use the standard h = (n−1)·q rule with linear
    * interpolation between ranks ⌊h⌋ and ⌈h⌉.
    *
    * `nums`/`den` give the quantile set {k/den : k ∈ nums} as exact
    * rationals — position arithmetic stays in BIGINT div/mod, and the
    * interpolation weights are den-ths (exact binary doubles for
    * den = 2/4/8), so results are bit-reproducible cross-engine.
    *
    * Shape: bandedRank's two-level prefix sum (no single-task sort), a
    * broadcast nested-loop against the |nums|-row quantile spec, then a
    * filter keeping ≤ 2·|nums| rows per group — the final agg is tiny. */
  def exactQuantiles(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, bandWidth: Double, nums: Seq[Int],
      den: Int): DataFrame = {
    require(den > 0 && nums.nonEmpty && nums.forall(k => k >= 0 && k <= den))
    val s = df.sparkSession
    import s.implicits._
    val spec = nums.toDF("k")
    val ranked = bandedRank(df, groupCol, valueCol, idCol, bandWidth)
    ranked.crossJoin(broadcast(spec))
      .withColumn("_lo", expr(s"((grp_n - 1) * k) div $den"))
      .withColumn("_rem", expr(s"((grp_n - 1) * k) % $den"))
      .where(col("rnk") === col("_lo") ||
        (col("rnk") === col("_lo") + 1 && col("_rem") > 0))
      .withColumn("_wt",
        when(col("rnk") === col("_lo"), (lit(den) - col("_rem")) / den)
          .otherwise(col("_rem") / den))
      .groupBy(col(groupCol), col("k"))
      .agg(first(col("grp_n")).as("n"),
        sum(col(valueCol) * col("_wt")).as("q_val"))
      .select(col(groupCol), col("n"), (col("k") / den).as("q"),
        col("q_val"))
  }

  /** Per-group AUC of a numeric score against a boolean label, via the
    * Mann–Whitney rank-sum with midrank tie handling — "does this
    * quality score actually separate the labeled-good docs, per
    * language?", the slice-level discrimination audit run on heuristic
    * classifiers before their thresholds gate a corpus.
    * AUC = U/(n₁·n₀) with U = Σ_scores n₁(s)·(N₀(<s) + n₀(s)/2); the
    * implementation carries 2U so everything stays integer until the
    * final division. AUC is null when a group lacks one class.
    *
    * Shape: one hash-agg from the corpus to the per-(group, score)
    * label counts, then a cumulative window over THAT table — its
    * partitions hold |distinct scores in group| rows, not corpus rows —
    * and a per-group rollup. One corpus shuffle total; a group with
    * billions of rows but bounded score cardinality (the common case:
    * scores are bucketed or low-precision) never concentrates in one
    * task. */
  def rankSumAuc(df: DataFrame, groupCol: String, scoreCol: String,
      labelCol: String): DataFrame = {
    val per = df.groupBy(col(groupCol), col(scoreCol))
      .agg(sum(when(col(labelCol), 1L).otherwise(0L)).as("_p"),
        sum(when(col(labelCol), 0L).otherwise(1L)).as("_n"))
    val w = Window.partitionBy(groupCol).orderBy(scoreCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    per.withColumn("_cumn", coalesce(sum(col("_n")).over(w), lit(0L)))
      .groupBy(col(groupCol))
      .agg(sum(col("_p")).as("n_pos"), sum(col("_n")).as("n_neg"),
        sum(col("_p") * (lit(2) * col("_cumn") + col("_n"))).as("_u2"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        when(col("n_pos") > 0 && col("n_neg") > 0,
          round(col("_u2") / (lit(2.0) * col("n_pos") * col("n_neg")), 6))
          .as("auc"))
  }

  /** Exact per-group LOWER WEIGHTED MEDIAN: the smallest value v whose
    * cumulative weight (in (value, tie) order) reaches half the group's
    * total — the discrete definition (no interpolation), so with
    * integer weights every comparison is integer-exact and no float
    * boundary can disagree across engines. The weighted generalization
    * robust aggregation needs when rows carry multiplicities (token
    * counts, sampling weights): the plain median of a weight-exploded
    * table, without exploding it.
    *
    * Shape: [[bandedRunningMax]]'s two-level pattern applied to weight
    * sums — per-(group, value-band) weight totals give each band an
    * exclusive prefix via a window over the tiny band table (which also
    * carries the group total: no second scan); within a band the
    * running weight sorts only that band. The threshold test
    * 2·cumw ≥ totw stays in integers; the group rollup keeps the
    * minimum qualifying value. Weight ties inside one value are
    * order-insensitive by construction (the first qualifying VALUE is
    * unique even when the qualifying ROW is not). */
  def weightedMedian(df: DataFrame, groupCol: String, valueCol: String,
      weightCol: String, idCol: String, bandWidth: Double): DataFrame = {
    require(bandWidth > 0, "bandWidth must be > 0")
    val banded = df.withColumn("_band",
      floor(col(valueCol) / bandWidth).cast("long"))
    val bandSums = banded.groupBy(col(groupCol), col("_band"))
      .agg(sum(col(weightCol)).as("_bs"))
    val wB = Window.partitionBy(groupCol).orderBy("_band")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wG = Window.partitionBy(groupCol)
    val prefixes = bandSums
      .withColumn("_psum", sum(col("_bs")).over(wB))
      .withColumn("_totw", sum(col("_bs")).over(wG))
      .drop("_bs")
    val wIn = Window.partitionBy(col(groupCol), col("_band"))
      .orderBy(col(valueCol), col(idCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    banded.join(broadcast(prefixes), Seq(groupCol, "_band"))
      .withColumn("_runw",
        coalesce(col("_psum"), lit(0L)) + sum(col(weightCol)).over(wIn))
      .groupBy(col(groupCol))
      .agg(first(col("_totw")).as("total_w"),
        min(when(col("_runw") * 2 >= col("_totw"), col(valueCol)))
          .as("wmedian"))
  }

  /** Per-group SPEARMAN rank correlation (tie-corrected, average
    * ranks) between two numeric columns — the monotone-association
    * reading Pearson (q94) misses when a relationship is nonlinear or
    * outlier-laden. Average ranks come from the same value-rollup shape
    * as [[rankSumAuc]]: cumulative counts over the per-(group, value)
    * TABLE (distinct values per partition, never corpus rows), so heavy
    * ties cost nothing and no group ever sorts in one task.
    *
    * Exactness: DOUBLED average ranks 2r = 2·cum_before + cnt + 1 are
    * integers; Spearman's r is scale-invariant, so it is computed from
    * the doubled ranks directly — every aggregate is an exact integer
    * (products summed as DECIMAL(38,0): Σ(2rx·2ry) ≤ 4n³ needs >64 bits
    * long before n does) and the only float is the final one-expression
    * ratio, rounded to 6. Rows where either value is null are dropped
    * (rank semantics need both coordinates). */
  def spearman(df: DataFrame, groupCol: String, xCol: String,
      yCol: String): DataFrame = {
    val base = df.select(col(groupCol), col(xCol), col(yCol))
      .where(col(xCol).isNotNull && col(yCol).isNotNull)
    def doubledRanks(c: String, out: String): DataFrame = {
      val per = base.groupBy(col(groupCol), col(c))
        .agg(count(lit(1)).as("_cnt"))
      val w = Window.partitionBy(groupCol).orderBy(c)
        .rowsBetween(Window.unboundedPreceding, -1)
      per.withColumn("_cum", coalesce(sum(col("_cnt")).over(w), lit(0L)))
        .select(col(groupCol), col(c),
          (lit(2) * col("_cum") + col("_cnt") + 1).as(out))
    }
    val dec = (c: Column) => c.cast("decimal(38,0)")
    base
      .join(doubledRanks(xCol, "_rx"), Seq(groupCol, xCol))
      .join(doubledRanks(yCol, "_ry"), Seq(groupCol, yCol))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n"),
        sum(dec(col("_rx"))).as("_sx"), sum(dec(col("_ry"))).as("_sy"),
        sum(dec(col("_rx")) * dec(col("_ry"))).as("_sxy"),
        sum(dec(col("_rx")) * dec(col("_rx"))).as("_sxx"),
        sum(dec(col("_ry")) * dec(col("_ry"))).as("_syy"))
      .select(col(groupCol), col("n"),
        when((col("n") * col("_sxx") - col("_sx") * col("_sx") > 0) &&
            (col("n") * col("_syy") - col("_sy") * col("_sy") > 0),
          round(
            (col("n") * col("_sxy") - col("_sx") * col("_sy"))
              .cast("double") /
            sqrt((col("n") * col("_sxx") - col("_sx") * col("_sx"))
              .cast("double") *
              (col("n") * col("_syy") - col("_sy") * col("_sy"))
                .cast("double")),
            6)).as("spearman_r"))
  }

  /** Cumulative-gains / LIFT table: rank the population by a model
    * score (descending, id tiebreak), cut it into `buckets` equal-width
    * rank slices, and report per-slice positives, response rate,
    * cumulative capture of all positives, and lift vs the base rate —
    * the campaign-targeting readout ("the top decile holds 4× its share
    * of converters") that decides how deep to act on a ranking.
    *
    * Shape: one [[bandedRank]] pass (global total order, no single-task
    * sort), slice assignment as pure integer arithmetic
    * ⌊rank·buckets/n⌋, one hash-agg to the `buckets`-row table, and
    * cumulative windows over that table. Every statistic derives from
    * integer counts; ratios are evaluated once and rounded to 6. */
  def liftTable(df: DataFrame, scoreCol: String, idCol: String,
      labelCol: String, buckets: Int, bandWidth: Double): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val ranked = bandedRank(
      df.select(lit(0).as("_g"), col(idCol), col(labelCol),
        (-col(scoreCol)).as("_neg")),
      "_g", "_neg", idCol, bandWidth)
    val sliced = ranked.withColumn("bucket",
      ntileFromRank(col("rnk"), col("grp_n"), buckets).cast("long"))
    val per = sliced.groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col(labelCol), 1L).otherwise(0L)).as("n_pos"))
    // cumulative + totals over the `buckets`-row table (spec-frame
    // windows, not data windows)
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    per
      .withColumn("cum_pos", sum(col("n_pos")).over(wCum))
      .withColumn("_tp", sum(col("n_pos")).over(wAll))
      .withColumn("_tr", sum(col("n_rows")).over(wAll))
      .select(col("bucket"), col("n_rows"), col("n_pos"),
        round(col("n_pos") / col("n_rows"), 6).as("rate_r"),
        when(col("_tp") > 0, round(col("cum_pos") / col("_tp"), 6))
          .as("capture_r"),
        when(col("_tp") > 0,
          round((col("n_pos") / col("n_rows")) /
            (col("_tp") / col("_tr")), 6)).as("lift_r"))
  }

  /** Discrete percentiles (SQL `percentile_disc` semantics): for each
    * q = k/den the SMALLEST group value whose cumulative row fraction
    * reaches q — i.e. the value at 1-based rank ⌈q·n⌉, an actual data
    * point (where [[exactQuantiles]] interpolates). The pair completes
    * the percentile surface: disc for "a real observed value" (P99
    * latency SLOs), cont for the mathematical quantile. Same
    * [[bandedRank]] two-level shape — no single-task sort; position
    * arithmetic stays in BIGINT. Requires every k ≥ 1 (q = 0 has no
    * ⌈0·n⌉-th element). */
  def percentileDisc(df: DataFrame, groupCol: String, valueCol: String,
      idCol: String, bandWidth: Double, nums: Seq[Int],
      den: Int): DataFrame = {
    require(den > 0 && nums.nonEmpty &&
      nums.forall(k => k >= 1 && k <= den))
    val s = df.sparkSession
    import s.implicits._
    val spec = nums.toDF("k")
    val ranked = bandedRank(df, groupCol, valueCol, idCol, bandWidth)
    ranked.crossJoin(broadcast(spec))
      .withColumn("_target",
        expr(s"(grp_n * k + $den - 1) div $den")) // 1-based ⌈q·n⌉
      .where(col("rnk") === col("_target") - 1)
      .select(col(groupCol), col("grp_n").as("n"),
        (col("k") / den).as("q"), col(valueCol).as("q_val"))
  }

  /** Qini curve + area: the uplift-model analogue of [[liftTable]] —
    * rank by the targeting score (descending, id tiebreak), cut into
    * `buckets` slices, and at each cumulative depth report
    * Q(k) = C_T(k) − C_C(k)·N_T(k)/N_C(k) (incremental conversions vs
    * the control-scaled counterfactual) against the random-targeting
    * diagonal R(k) = x_k·Q(total), x_k = treated fraction targeted.
    * The Qini area (trapezoid of Q−R over x, the AUQC) rides every
    * row — the single number that says whether the model targets
    * persuadables or just the already-converting.
    *
    * Every curve point is a pure function of cumulative integer counts
    * (one shared parenthesization); only the trapezoid area crosses
    * rows — its terms are 12-dp-rounded and DECIMAL-summed over the
    * `buckets`-row frame. `armCol` boolean (true = treated), `convCol`
    * 0/1. Same bandedRank shape as liftTable — no single-task sort. */
  def qiniCurve(df: DataFrame, scoreCol: String, idCol: String,
      armCol: String, convCol: String, buckets: Int,
      bandWidth: Double): DataFrame = {
    require(buckets >= 1, "buckets must be >= 1")
    val ranked = bandedRank(
      df.select(lit(0).as("_g"), col(idCol), col(armCol), col(convCol),
        (-col(scoreCol)).as("_neg")),
      "_g", "_neg", idCol, bandWidth)
    val per = ranked.withColumn("bucket",
        ntileFromRank(col("rnk"), col("grp_n"), buckets).cast("long"))
      .groupBy(col("bucket"))
      .agg(sum(when(col(armCol), 1L).otherwise(0L)).as("n_t"),
        sum(when(col(armCol) && col(convCol) === 1, 1L).otherwise(0L))
          .as("c_t"),
        sum(when(!col(armCol), 1L).otherwise(0L)).as("n_c"),
        sum(when(!col(armCol) && col(convCol) === 1, 1L).otherwise(0L))
          .as("c_c"))
    val wCum = Window.orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.rowsBetween(Window.unboundedPreceding,
      Window.unboundedFollowing)
    val cum = per
      .withColumn("nt_cum", sum(col("n_t")).over(wCum))
      .withColumn("ct_cum", sum(col("c_t")).over(wCum))
      .withColumn("nc_cum", sum(col("n_c")).over(wCum))
      .withColumn("cc_cum", sum(col("c_c")).over(wCum))
      .withColumn("_NT", sum(col("n_t")).over(wAll))
      .withColumn("_CT", sum(col("c_t")).over(wAll))
      .withColumn("_NC", sum(col("n_c")).over(wAll))
      .withColumn("_CC", sum(col("c_c")).over(wAll))
    def d(c: String) = col(c).cast("double")
    val qq = cum.select(col("bucket"), col("nt_cum"), col("ct_cum"),
      col("nc_cum"), col("cc_cum"),
      when(col("nc_cum") > 0,
        d("ct_cum") - d("cc_cum") * (d("nt_cum") / d("nc_cum")))
        .as("_qini"),
      when(col("_NT") > 0, d("nt_cum") / d("_NT")).as("_x"),
      when(col("_NT") > 0 && col("_NC") > 0,
        (d("nt_cum") / d("_NT"))
          * (d("_CT") - d("_CC") * (d("_NT") / d("_NC")))).as("_rand"))
    val wl = Window.orderBy("bucket")
    val tr = qq.select(col("bucket"),
      t12(((col("_qini") + lag(col("_qini"), 1, 0.0).over(wl)) / 2
        - (col("_rand") + lag(col("_rand"), 1, 0.0).over(wl)) / 2)
        * (col("_x") - lag(col("_x"), 1, 0.0).over(wl))).as("_term"))
    // a NULL trapezoid term (an early bucket with nc_cum = 0 makes its
    // _qini undefined) would be silently SKIPPED by the DECIMAL sum,
    // understating the area over a partial curve — so the AUC is
    // reported as NULL (undefined) whenever any term is NULL, never as
    // a quietly-partial number
    val auc = tr.agg(sum(col("_term")).cast("double").as("_auc"),
      sum(when(col("_term").isNull, 1L).otherwise(0L)).as("_nbad"))
    qq.crossJoin(broadcast(auc))
      .select(col("bucket"), col("nt_cum"), col("ct_cum"),
        col("nc_cum"), col("cc_cum"),
        round(col("_qini"), 6).as("qini_r"),
        round(col("_rand"), 6).as("rand_r"),
        round(when(col("_nbad") === 0, col("_auc")), 6)
          .as("qini_auc_r"))
  }
}
