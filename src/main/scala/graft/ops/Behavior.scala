package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** User-behavior analytics over event streams: ordered funnels, retention
  * cohorts, event-transition matrices, rolling distinct reach. The
  * reference stores raw per-video rows and leaves analysis to SQL
  * consumers (/root/reference/fetch_youtube_data.py:143-200); these are
  * the canonical product-analytics reductions a warehouse engine is
  * expected to own.
  *
  * Scale posture (100 TB): every operator here reduces events to an
  * entity- or day-grain intermediate in ONE hash shuffle on the entity
  * key before anything widens. Funnel stage times are whole-partition
  * window aggregates over the same `hashpartitioning(entity)` exchange
  * (Catalyst reuses it across the chained selects), retention collapses
  * to (user → cohort, active-week set) in a single agg, and rolling
  * reach expands day-grain rows by a bounded factor (window length)
  * map-side — never a range self-join over raw events.
  */
object Behavior {

  /** Ordered funnel: the highest stage each entity reached, where stage
    * k+1 must occur STRICTLY AFTER the entity's earliest qualifying
    * stage-k event (the classic "did they view, then click, then buy"
    * question — order matters, a purchase before the first view does not
    * count).
    *
    * One shuffle: all stage times are whole-partition window mins over
    * the same entity partitioning; the final per-entity collapse reuses
    * the exchange.
    */
  def funnel(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, stages: Seq[String]): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    val w = Window.partitionBy(entityCol)
    // t0 = earliest stage-0 event; t_k = earliest stage-k event after
    // t_{k-1}. Nulls propagate: a missing stage nulls all later stages.
    val withTimes = stages.zipWithIndex.foldLeft(events) {
      case (df, (stage, i)) =>
        val cond =
          if (i == 0) col(typeCol) === stage
          else col(typeCol) === stage && col(tsCol) > col(s"_t${i - 1}")
        df.withColumn(s"_t$i", min(when(cond, col(tsCol))).over(w))
    }
    // fold ascending so the OUTERMOST when() tests the deepest stage —
    // the highest non-null stage must win
    val stageExpr = stages.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"_t$i").isNotNull, lit(i + 1)).otherwise(acc)
    }
    withTimes
      .groupBy(entityCol)
      .agg(max(stageExpr).as("funnel_stage"))
  }

  /** Weekly retention cohorts: entities grouped by first-seen ISO week,
    * counted in each later week they were active. Two shuffles total —
    * one per-entity agg that yields BOTH the cohort week and the distinct
    * active-week set (no join back to raw events), then the
    * (cohort, offset) rollup over the exploded set, whose cardinality is
    * entities × weeks-active, a tiny fraction of the input.
    */
  def weeklyRetention(events: DataFrame, entityCol: String,
      tsCol: String): DataFrame = {
    val week = to_date(date_trunc("week", col(tsCol)))
    events
      .select(col(entityCol), week.as("_week"))
      .groupBy(entityCol)
      .agg(min(col("_week")).as("cohort_week"),
        collect_set(col("_week")).as("_weeks"))
      .select(col("cohort_week"), explode(col("_weeks")).as("_active"))
      .groupBy(col("cohort_week"),
        floor(datediff(col("_active"), col("cohort_week")) / 7)
          .as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** First-order transition matrix: counts of consecutive event-type
    * pairs per entity, ordered by (ts, tiebreak). One shuffle + one
    * per-partition sort for the lag window; the (from, to) rollup is a
    * k² -row aggregate.
    */
  def transitions(events: DataFrame, entityCol: String, typeCol: String,
      orderBy: Seq[Column]): DataFrame = {
    val w = Window.partitionBy(entityCol).orderBy(orderBy: _*)
    events
      .withColumn("_prev", lag(col(typeCol), 1).over(w))
      .where(col("_prev").isNotNull)
      .groupBy(col("_prev").as("from_type"), col(typeCol).as("to_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** Conversion-window funnel: [[funnel]] with a DEADLINE — stage k+1
    * counts only if it happens within `withinUs` microseconds of the
    * entity's (earliest-qualifying) stage-k time. The business form of
    * the question: "did they buy within an hour of clicking", where an
    * unbounded funnel would credit conversions weeks later. Same
    * single-shuffle shape as [[funnel]]: all stage times are
    * whole-partition window mins over one entity partitioning. */
  def funnelWithin(events: DataFrame, entityCol: String,
      typeCol: String, tsCol: String, stages: Seq[String],
      withinUs: Long): DataFrame = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    require(withinUs > 0, "withinUs must be positive")
    val w = Window.partitionBy(entityCol)
    val withTimes = stages.zipWithIndex.foldLeft(
      events.withColumn("_us", unix_micros(col(tsCol)))) {
      case (df, (stage, i)) =>
        val cond =
          if (i == 0) col(typeCol) === stage
          else col(typeCol) === stage &&
            col("_us") > col(s"_t${i - 1}") &&
            col("_us") <= col(s"_t${i - 1}") + lit(withinUs)
        df.withColumn(s"_t$i", min(when(cond, col("_us"))).over(w))
    }
    val stageExpr = stages.indices.foldLeft(lit(0)) { (acc, i) =>
      when(col(s"_t$i").isNotNull, lit(i + 1)).otherwise(acc)
    }
    withTimes
      .groupBy(entityCol)
      .agg(max(stageExpr).as("funnel_stage"))
  }

  /** Per-entity stage-transition durations from the ordered funnel:
    * for each consecutive stage pair the entity completed, the
    * microseconds between its earliest-qualifying stage times
    * ([[funnel]]'s exact chain semantics — stage k+1 strictly after
    * stage k). LONG format (stage_pair, entity, dt_us) so a caller can
    * feed [[Ranks.exactQuantiles]] for "median time to convert" per
    * step — the funnel readout that tells you WHERE users stall, not
    * just where they stop. Single shuffle, same whole-partition window
    * chain as [[funnel]]. */
  def stageDurations(events: DataFrame, entityCol: String,
      typeCol: String, tsCol: String,
      stages: Seq[String]): DataFrame = {
    require(stages.size >= 2, "need at least two stages")
    val w = Window.partitionBy(entityCol)
    val withTimes = stages.zipWithIndex.foldLeft(
      events.withColumn("_us", unix_micros(col(tsCol)))) {
      case (df, (stage, i)) =>
        val cond =
          if (i == 0) col(typeCol) === stage
          else col(typeCol) === stage && col("_us") > col(s"_t${i - 1}")
        df.withColumn(s"_t$i", min(when(cond, col("_us"))).over(w))
    }
    val aggs = stages.indices.map(i => max(col(s"_t$i")).as(s"_t$i"))
    val perEntity = withTimes.groupBy(col(entityCol))
      .agg(aggs.head, aggs.tail: _*)
    stages.zip(stages.tail).zipWithIndex.map { case ((from, to), i) =>
      perEntity.where(col(s"_t${i + 1}").isNotNull)
        .select(lit(s"$from->$to").as("stage_pair"),
          col(entityCol),
          (col(s"_t${i + 1}") - col(s"_t$i")).as("dt_us"))
    }.reduce(_ unionByName _)
  }

  /** Time-decay multi-touch attribution: each conversion distributes
    * one unit of credit over its preceding touches within `lookbackUs`,
    * weighted exp(−Δt/τ) — recent touches earn more, the standard
    * middle ground between last-touch (all credit to the final click)
    * and linear (flat split). Emits per touch channel: touch count and
    * total credit (6 dp).
    *
    * Determinism: weights are one shared exp() parenthesization,
    * 12-dp-rounded and summed as DECIMAL per conversion (order-
    * independent), and each credit ratio divides those exact decimals
    * cast to double; the final per-channel reduction sums 12-dp-rounded
    * credits as DECIMAL again. Shape: conversions ⋈ touches equi-join
    * on the entity bounded by the lookback window (per-entity work ∝
    * touches in the window, never cross-entity), then two hash-aggs. */
  def decayAttribution(events: DataFrame, entityCol: String,
      typeCol: String, tsCol: String, idCol: String,
      convType: String, touchTypes: Seq[String], lookbackUs: Long,
      tauUs: Long): DataFrame = {
    require(lookbackUs > 0 && tauUs > 0)
    val e = events.select(col(entityCol).as("_ent"),
      col(typeCol).as("_ty"), unix_micros(col(tsCol)).as("_us"),
      col(idCol).as("_id"))
    val convs = e.where(col("_ty") === convType)
      .select(col("_ent"), col("_us").as("_cus"), col("_id").as("_cid"))
    val touches = e.where(col("_ty").isInCollection(touchTypes))
      .select(col("_ent"), col("_ty").as("channel"),
        col("_us").as("_tus"))
    val joined = convs.join(touches, Seq("_ent"))
      .where(col("_tus") < col("_cus") &&
        col("_cus") - col("_tus") <= lookbackUs)
      .withColumn("_wr",
        t12(exp((col("_tus") - col("_cus")).cast("double")
          / lit(tauUs.toDouble))))
    val perConv = Window.partitionBy(col("_ent"), col("_cid"))
    joined
      .withColumn("_sw", sum(col("_wr")).over(perConv))
      .withColumn("_credit", col("_wr").cast("double")
        / col("_sw").cast("double"))
      .groupBy(col("channel"))
      .agg(count(lit(1)).as("n_touches"),
        sum(t12(col("_credit")))
          .as("_c"))
      .select(col("channel"), col("n_touches"),
        round(col("_c").cast("double"), 6).as("credit_r"))
  }

  /** Cohort LTV curve: entities bucketed by first-seen ISO week, and
    * per (cohort, weeks-since-cohort) the active-entity count, the
    * week's metric total (exact integer — scale currency to cents
    * upstream) and the cohort's RUNNING total — the retention-revenue
    * surface every growth dashboard draws. Week arithmetic is
    * date_trunc('week')-based on both engines (q83's cohort
    * convention).
    *
    * Shape: one shuffle to the (entity, week) grain, a broadcast-size
    * cohort join, a (cohort, week) hash-agg, then a cumulative window
    * over the tiny cohort×weeks frame. */
  def cohortLtv(events: DataFrame, entityCol: String, tsCol: String,
      metricInt: Column): DataFrame = {
    val wk = events.select(col(entityCol).as("_ent"),
      date_trunc("week", col(tsCol)).cast("date").as("_week"),
      metricInt.as("_m"))
    val coh = wk.groupBy(col("_ent"))
      .agg(min(col("_week")).as("cohort_week"))
    val grain = wk.join(coh, Seq("_ent"))
      .groupBy(col("cohort_week"),
        (datediff(col("_week"), col("cohort_week")) / 7)
          .cast("long").as("week_n"))
      .agg(countDistinct(col("_ent")).as("n_active"),
        sum(col("_m")).as("rev"))
    val wCum = Window.partitionBy(col("cohort_week")).orderBy("week_n")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grain.withColumn("cum_rev", sum(col("rev")).over(wCum))
  }

  /** DAU/MAU stickiness: per observed day, the distinct-entity count
    * that day (DAU), over the trailing `windowDays` window (MAU), and
    * their ratio — the standard "how much of the monthly audience shows
    * up daily" engagement readout.
    *
    * Scale path ([[rollingDistinct]]'s): one shuffle to the distinct
    * (entity, day) grain, a bounded ×windowDays map-side fan-out for
    * the trailing window, and a semi-join against observed days — no
    * range self-join over raw events. The ratio divides exact BIGINTs,
    * 6-dp rounded. */
  def stickiness(events: DataFrame, entityCol: String, tsCol: String,
      windowDays: Int): DataFrame = {
    require(windowDays >= 1)
    val dayGrain = events
      .select(to_date(col(tsCol)).as("day"), col(entityCol))
      .distinct()
    val dau = dayGrain.groupBy(col("day").as("window_day"))
      .agg(count(lit(1)).as("dau"))
    val mau = dayGrain
      .withColumn("window_day",
        explode(sequence(col("day"),
          date_add(col("day"), windowDays - 1))))
      .select(col("window_day"), col(entityCol)).distinct()
      .groupBy("window_day").agg(count(lit(1)).as("mau"))
    dau.join(mau, "window_day")
      .select(col("window_day"), col("dau"), col("mau"),
        round(col("dau").cast("double") / col("mau"), 6)
          .as("stickiness_r"))
  }

  /** Two-step transition probabilities: the Markov chain's P² — where
    * does an entity land two events from now? Composes [[transitions]]:
    * first-order probabilities p(to|from) = n/Σn per from-state, then
    * one equi-join on the middle state sums p(a→m)·p(m→b) over m.
    * The standard "what follows what, two hops out" readout that
    * exposes indirect funnels a first-order matrix hides.
    *
    * Shape: the corpus collapses to the |states|² transition matrix in
    * [[transitions]]' single shuffle; everything after runs on that
    * tiny matrix. Each p·p term is 12-dp-rounded and summed as DECIMAL,
    * so the middle-state reduction is order-independent cross-engine
    * (the q226 posture); the final 6-dp probability divides exact
    * integer counts first — BIGINT/BIGINT division is double on both
    * engines. */
  def twoStepTransitions(events: DataFrame, entityCol: String,
      typeCol: String, orderBy: Seq[Column]): DataFrame = {
    val t = transitions(events, entityCol, typeCol, orderBy)
    val tot = t.groupBy(col("from_type")).agg(sum(col("n")).as("ntot"))
    val p1 = t.join(tot, "from_type")
      .select(col("from_type"), col("to_type"),
        (col("n").cast("double") / col("ntot")).as("p"))
    val a = p1.select(col("from_type"), col("to_type").as("_mid"),
      col("p").as("_pa"))
    val b = p1.select(col("from_type").as("_mid"),
      col("to_type"), col("p").as("_pb"))
    a.join(b, "_mid")
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(t12(col("_pa") * col("_pb"))).as("_p2"))
      .select(col("from_type"), col("to_type"),
        round(col("_p2").cast("double"), 6).as("p2_r"))
  }

  /** Activity streaks (gaps-and-islands): per entity, the count of
    * active days, the number of maximal consecutive-day runs, and the
    * longest run — the classic engagement/habit metric. The island key
    * is the textbook day − row_number() constant: consecutive days
    * share it, any gap breaks it.
    *
    * Shape: one shuffle to the distinct (entity, day) grain; the
    * row_number window and both rollups ride the same entity
    * partitioning; everything is exact integer arithmetic. */
  def activityStreaks(events: DataFrame, entityCol: String,
      tsCol: String): DataFrame = {
    val days = events
      .select(col(entityCol), to_date(col(tsCol)).as("day"))
      .distinct()
    val w = Window.partitionBy(entityCol).orderBy("day")
    days
      .withColumn("_isl", date_sub(col("day"), row_number().over(w)))
      .groupBy(col(entityCol), col("_isl"))
      .agg(count(lit(1)).as("_len"))
      .groupBy(col(entityCol))
      .agg(sum(col("_len")).as("n_active_days"),
        count(lit(1)).as("n_streaks"),
        max(col("_len")).as("longest_streak"))
  }

  /** Markov entropy rate of the event process: the conditional entropy
    * H(next | current) = Σ_c P(c)·H_c over the [[transitions]] matrix,
    * with per-state conditional entropies H_c = −Σ_n p(n|c)·ln p(n|c)
    * — how PREDICTABLE the next event is given the current one. 0 =
    * deterministic flows, ln(|states|) = uniform chaos; the drop from
    * the marginal entropy is exactly what first-order structure buys a
    * sequence model. Emits one row per current state (its out-degree,
    * transition count, 6-dp H_c) with the global rate on every row.
    *
    * Everything runs on the |states|² matrix after [[transitions]]'
    * single shuffle; −p·ln p and P(c)·H_c terms are 12-dp DECIMAL sums
    * (order-independent), probabilities divide exact BIGINTs. */
  def entropyRate(events: DataFrame, entityCol: String,
      typeCol: String, orderBy: Seq[Column]): DataFrame = {
    val t = transitions(events, entityCol, typeCol, orderBy)
    val wFrom = Window.partitionBy("from_type")
    val rows = t.withColumn("_rt", sum(col("n")).over(wFrom))
    val p = col("n").cast("double") / col("_rt")
    val perFrom = rows.groupBy(col("from_type"))
      .agg(max(col("_rt")).as("n_trans"), count(lit(1)).as("n_next"),
        sum(t12(-p * log(p))).as("_h"))
    val wAll = Window.orderBy(lit(1))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perFrom
      .withColumn("_N", sum(col("n_trans")).over(wAll))
      .withColumn("_rate",
        sum(t12(col("n_trans").cast("double") / col("_N") *
          col("_h").cast("double")))
          .over(wAll))
      .select(col("from_type"), col("n_trans"), col("n_next"),
        round(col("_h").cast("double"), 6).as("h_cond_r"),
        round(col("_rate").cast("double"), 6).as("entropy_rate_r"))
  }

  /** Per-entity behavioral entropy: H = −Σ_type p·ln p over the
    * entity's event-type distribution, plus the ln(k)-normalized form —
    * the "how varied is this user/source's behavior" feature that
    * separates single-purpose accounts (H = 0) from diverse ones, and a
    * standard bot/spam signal. Normalized entropy is null for
    * single-type entities (ln 1 = 0 — undefined, not 0/0 = noise).
    *
    * Shape: (entity, type) hash-agg, then an entity-grain rollup —
    * two stacked aggs, nothing wider than the entity×type grain. The
    * −p·ln p terms are 12-dp-rounded DECIMAL sums (order-independent);
    * p divides exact integer counts. */
  def entityEntropy(events: DataFrame, entityCol: String,
      typeCol: String): DataFrame = {
    val grain = events.groupBy(col(entityCol), col(typeCol))
      .agg(count(lit(1)).as("_c"))
    val wEnt = Window.partitionBy(entityCol)
    val terms = grain
      .withColumn("_n", sum(col("_c")).over(wEnt))
      .withColumn("_p", col("_c").cast("double") / col("_n"))
    terms.groupBy(col(entityCol))
      .agg(max(col("_n")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(t12(-col("_p") * log(col("_p")))).as("_h"))
      .select(col(entityCol), col("n_events"), col("n_types"),
        round(col("_h").cast("double"), 6).as("entropy_r"),
        when(col("n_types") > 1,
          round(col("_h").cast("double") /
            nullif(log(col("n_types").cast("double")), lit(0.0)), 6))
          .as("entropy_norm_r"))
  }

  /** Rolling `windowDays`-day distinct reach per (day, group): how many
    * distinct entities were active in the trailing window ending on each
    * observed day.
    *
    * Scale path: reduce to day-grain distinct (entity, group, day) rows
    * first (one shuffle, output ≤ entities × days), then each row
    * contributes map-side to the ≤ `windowDays` window-end days it can
    * reach — a bounded fan-out — and a semi-join against the observed-day
    * dimension (broadcast; |days| is tiny) drops phantom trailing days.
    * This is O(n·w) with no range self-join over the raw events, the
    * shape that survives 100×: a day-range join against raw events would
    * re-scan the fact table per window.
    */
  def rollingDistinct(events: DataFrame, entityCol: String,
      groupCol: String, tsCol: String, windowDays: Int): DataFrame = {
    val dayGrain = events
      .select(to_date(col(tsCol)).as("day"), col(entityCol), col(groupCol))
      .distinct()
    val days = dayGrain.select(col("day").as("window_day")).distinct()
    dayGrain
      .withColumn("window_day",
        explode(sequence(col("day"), date_add(col("day"), windowDays - 1))))
      .join(broadcast(days), Seq("window_day"), "left_semi")
      .groupBy("window_day", groupCol)
      .agg(countDistinct(col(entityCol)).as("n_entities"))
  }

  /** Kaplan–Meier survival estimator over (duration, observed) rows —
    * time-to-event analytics with CENSORING done right (the naive
    * "average time to convert" silently drops users who never converted;
    * KM keeps them at risk until their censoring time). Input: one row
    * per subject, `tCol` = duration (integer grain, e.g. days),
    * `observedCol` = whether the event happened (false = censored at t).
    * Output: one row per observed event time with the at-risk count,
    * event count, and S(t) = Π_{t_j ≤ t} (1 − d_j / n_j).
    *
    * Shape: the corpus collapses to ≤ |distinct t| rows in ONE hash-agg;
    * the running product (via exp∘Σln, with an explicit zero-factor
    * cascade — Spark's ln(0) is null and nulls don't propagate through
    * window sums, so S hits exact 0 through a flag, not through −∞)
    * runs on that bounded time axis. The single-partition window is over
    * |distinct t| rows, not the corpus — the same rolled-up-axis posture
    * as Profile.histogram. */
  def kaplanMeier(subjects: DataFrame, tCol: String,
      observedCol: String): DataFrame = {
    val perT = subjects
      .groupBy(col(tCol).cast("long").as("t"))
      .agg(sum(when(col(observedCol), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("_all"))
    val wOrd = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = perT.agg(sum(col("_all")).as("_n")).select(col("_n"))
    perT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("_n") - coalesce(sum(col("_all")).over(wOrd), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("_factor",
        (col("n_risk") - col("d")).cast("double") / col("n_risk"))
      .withColumn("_lnf",
        when(col("_factor") > 0, log(col("_factor"))).otherwise(lit(0.0)))
      .withColumn("_hitZero",
        max(when(col("_factor") === 0, 1).otherwise(0)).over(wRun))
      .withColumn("survival_r",
        when(col("_hitZero") === 1, lit(0.0))
          .otherwise(round(exp(sum(col("_lnf")).over(wRun)), 6)))
      .select(col("t"), col("n_risk"), col("d"), col("survival_r"))
  }

  /** Nelson–Aalen cumulative hazard over the same (duration, observed)
    * input as [[kaplanMeier]]: H(t) = Σ_{t_j ≤ t} d_j/n_j, plus the
    * Fleming–Harrington survival S̃ = e^{−H} — the estimator of choice
    * when n_risk gets small (KM's product form loses precision there)
    * and the additive decomposition capacity models want ("hazard
    * contributed per day"). Hazard increments are 12-dp-rounded and
    * DECIMAL-cumulated on the bounded time axis, so the running sum is
    * reduction-order independent. Same rolled-up-axis shape as KM. */
  def nelsonAalen(subjects: DataFrame, tCol: String,
      observedCol: String): DataFrame = {
    val perT = subjects
      .groupBy(col(tCol).cast("long").as("t"))
      .agg(sum(when(col(observedCol), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("_all"))
    val wOrd = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = perT.agg(sum(col("_all")).as("_n")).select(col("_n"))
    perT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("_n") - coalesce(sum(col("_all")).over(wOrd), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("_ch",
        sum(t12(col("d").cast("double") / col("n_risk").cast("double")))
          .over(wRun).cast("double"))
      .select(col("t"), col("n_risk"), col("d"),
        round(col("_ch"), 6).as("cumhaz_r"),
        round(exp(-col("_ch")), 6).as("fh_survival_r"))
  }

  /** Log-rank (Mantel–Cox) test: do two survival curves differ?
    * At each event time the group-1 event count is compared to its
    * hypergeometric expectation E₁ = d·n₁/n with variance
    * V = d·(n₁/n)·((n−n₁)/n)·((n−d)/(n−1)); z = (O₁−ΣE₁)/√ΣV and
    * χ² = z² — the censoring-correct significance companion to the
    * q132/q316 curves (a mean-time t-test would be biased by
    * censoring). `group1` is a boolean Column over `subjects`. Every
    * count is integer; E/V terms are 12-dp DECIMAL sums on the bounded
    * time axis; one row out: n_g1, n_g0, o1, e1_r, z_r, chi2_r. */
  def logRank(subjects: DataFrame, tCol: String, observedCol: String,
      group1: Column): DataFrame = {
    val perT = subjects
      .groupBy(col(tCol).cast("long").as("t"))
      .agg(sum(when(col(observedCol) && group1, 1L).otherwise(0L))
        .as("d1"),
        sum(when(col(observedCol), 1L).otherwise(0L)).as("d"),
        sum(when(group1, 1L).otherwise(0L)).as("_a1"),
        count(lit(1)).as("_all"))
    val wOrd = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val total = perT.agg(sum(col("_a1")).as("_t1"),
      sum(col("_all")).as("_tn"))
    val r = perT.crossJoin(broadcast(total))
      .withColumn("n1",
        col("_t1") - coalesce(sum(col("_a1")).over(wOrd), lit(0L)))
      .withColumn("n",
        col("_tn") - coalesce(sum(col("_all")).over(wOrd), lit(0L)))
      .filter(col("d") > 0)
    val dD = col("d").cast("double")
    val n1D = col("n1").cast("double")
    val nD = col("n").cast("double")
    val a = r.groupBy(col("_t1"), col("_tn"))
      .agg(sum(col("d1")).as("o1"),
        sum(t12(dD * n1D / nD)).as("_e1"),
        sum(when(col("n") > 1,
          round(dD * (n1D / nD) * ((nD - n1D) / nD)
            * ((nD - dD) / (nD - 1)), 12))
          .otherwise(lit(0.0)).cast("decimal(28,12)")).as("_v"))
    val diff = col("o1").cast("double") - col("_e1").cast("double")
    a.select(col("_t1").as("n_g1"),
      (col("_tn") - col("_t1")).as("n_g0"), col("o1"),
      round(col("_e1").cast("double"), 6).as("e1_r"),
      round(when(col("_v") > 0, diff / sqrt(col("_v").cast("double"))),
        6).as("z_r"),
      round(when(col("_v") > 0,
        diff * diff / col("_v").cast("double")), 6).as("chi2_r"))
  }

  /** Two-proportion z-test between experiment arms: per arm the unit
    * count and converted count, then lift and the pooled z statistic
    * z = (p_b − p_a) / √(p̂(1−p̂)(1/n_a + 1/n_b)) — the A/B readout
    * every experimentation pipeline ends in; |z| > 1.96 ≈ p < .05
    * two-sided. `unit` rows must be one per experimental unit with a
    * boolean `armB` and boolean `converted`.
    *
    * Every input to the statistic is an integer count (one hash-agg),
    * the arithmetic is one shared parenthesization, and round 6 caps
    * the output — deterministic cross-engine. z is null when either
    * arm is empty or p̂ ∈ {0, 1} (degenerate variance); rates and lift
    * are likewise null for an empty arm (Spark's long/long 0/0 is NaN
    * where SQL engines yield NULL — the guards pin the SQL semantics
    * so an empty arm can never produce a cross-engine mismatch). */
  def twoProportionTest(units: DataFrame, armB: Column,
      converted: Column): DataFrame = {
    val agg = units.agg(
      sum(when(!armB, 1L).otherwise(0L)).as("n_a"),
      sum(when(!armB && converted, 1L).otherwise(0L)).as("c_a"),
      sum(when(armB, 1L).otherwise(0L)).as("n_b"),
      sum(when(armB && converted, 1L).otherwise(0L)).as("c_b"))
    val pa = when(col("n_a") > 0, col("c_a") / col("n_a"))
    val pb = when(col("n_b") > 0, col("c_b") / col("n_b"))
    val pp = (col("c_a") + col("c_b")) / (col("n_a") + col("n_b"))
    agg.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      round(pa, 6).as("rate_a_r"), round(pb, 6).as("rate_b_r"),
      round(pb - pa, 6).as("lift_r"),
      when(col("n_a") > 0 && col("n_b") > 0 && pp > 0 && pp < 1,
        round((pb - pa) / sqrt(pp * (lit(1.0) - pp)
          * (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6))
        .as("z_r"))
  }

  /** CUPED variance reduction (Deng et al., WSDM'13): adjust the
    * experiment metric Y by the pre-period covariate X,
    * Y' = Y − θ(X − X̄) with θ = cov(X,Y)/var(X), and report per-arm
    * adjusted means plus the variance ratio 1 − ρ² the adjustment buys.
    * The workhorse of online experimentation: same point estimate in
    * expectation (randomization makes E[X|arm] equal), tighter CI.
    *
    * `units` must be one row per experimental unit with INTEGER pre/post
    * metric columns (scale currency to cents upstream) — every moment
    * (Σx, Σy, Σxy, Σx², per-arm Σ) is then an exact integer from ONE
    * hash-agg, and θ, the adjusted means
    * ȳ_arm − θ(x̄_arm − x̄) and the ratio
    * 1 − cov²/(var_x·var_y) are computed from those integers with one
    * shared parenthesization — bit-identical cross-engine, no
    * order-dependent double accumulation. Moments are summed as
    * DECIMAL(38,0): Σx² at 10¹¹ units × (10⁹ cents)² overflows long;
    * decimal sums stay exact and order-independent at any scale.
    *
    * Shape: two aggs over the unit-grain frame (global moments + per-arm
    * sums) joined by a broadcast of the 1-row moment frame. Nothing
    * wider than the unit table is ever materialized. `scaleDiv` divides
    * the reported means back to source units (100 for cents). */
  def cuped(units: DataFrame, armB: Column, preCol: String,
      postCol: String, scaleDiv: Double = 100.0): DataFrame = {
    val u = units.select(armB.as("_arm_b"),
      col(preCol).cast("decimal(38,0)").as("_x"),
      col(postCol).cast("decimal(38,0)").as("_y"))
    // exact decimal sums, then ONE explicit cast of each moment to
    // double: every later op is plain IEEE arithmetic on identical
    // inputs in any engine (never Spark decimal division, whose exact
    // result scale would diverge from an oracle's double division)
    val g = u.agg(count(lit(1)).cast("double").as("_n"),
      sum(col("_x")).cast("double").as("_sx"),
      sum(col("_y")).cast("double").as("_sy"),
      sum(col("_x") * col("_y")).cast("double").as("_sxy"),
      sum(col("_x") * col("_x")).cast("double").as("_sxx"),
      sum(col("_y") * col("_y")).cast("double").as("_syy"))
    val n = col("_n")
    val vx = n * col("_sxx") - col("_sx") * col("_sx")
    val vy = n * col("_syy") - col("_sy") * col("_sy")
    val cxy = n * col("_sxy") - col("_sx") * col("_sy")
    val theta = when(vx > 0, cxy / vx).otherwise(lit(0.0))
    val perArm = u.groupBy(col("_arm_b"))
      .agg(count(lit(1)).as("n_units"),
        sum(col("_x")).cast("double").as("_ax"),
        sum(col("_y")).cast("double").as("_ay"))
    perArm.crossJoin(broadcast(g))
      .select(col("_arm_b").as("arm_b"), col("n_units"),
        round((col("_ay") / col("n_units")) / scaleDiv, 6).as("mean_y_r"),
        round((col("_ay") / col("n_units")
          - theta * (col("_ax") / col("n_units") - col("_sx") / n))
          / scaleDiv, 6).as("mean_yadj_r"),
        round(theta, 6).as("theta_r"),
        when(vx > 0 && vy > 0,
          round(lit(1.0) - (cxy / vx) * (cxy / vy), 6))
          .otherwise(lit(1.0)).as("var_ratio_r"))
  }

  /** Multi-touch attribution over pre-conversion touchpoints: for each
    * converting entity, the touch events STRICTLY BEFORE its first
    * conversion earn credit under three models — first-touch (1.0 to the
    * earliest touch), last-touch (1.0 to the latest), linear (1/n to
    * each). Output: (model, channel, credit, n_touches).
    *
    * One shuffle on the entity key: the first-conversion time is a
    * whole-partition window min, the touch ordering a window over the
    * SAME exchange (Catalyst reuses it). Credit is summed as
    * DECIMAL(18,6) — the per-row linear share is rounded to 6 dp first,
    * so the sum is exact and order-independent (a double Σ(1/n) would
    * drift with aggregation order across engines) — then cast back to
    * double for the report. */
  def attribution(events: DataFrame, entityCol: String, typeCol: String,
      tsCol: String, convType: String,
      tieCol: String = "event_id"): DataFrame = {
    val w = Window.partitionBy(entityCol)
    val touches = events
      .withColumn("_us", unix_micros(col(tsCol)))
      .withColumn("_conv_us",
        min(when(col(typeCol) === convType, col("_us"))).over(w))
      .where(col("_conv_us").isNotNull && col("_us") < col("_conv_us")
        && col(typeCol) =!= convType)
    val wOrd = Window.partitionBy(entityCol)
      .orderBy(col("_us"), col(tieCol))
    val marked = touches
      .withColumn("_rn", row_number().over(wOrd))
      .withColumn("_nt", count(lit(1)).over(w))
    val credit = marked.select(col(typeCol).as("channel"),
      when(col("_rn") === 1, lit(1.0)).otherwise(lit(0.0))
        .as("first_touch"),
      when(col("_rn") === col("_nt"), lit(1.0)).otherwise(lit(0.0))
        .as("last_touch"),
      round(lit(1.0) / col("_nt"), 6).cast("decimal(18,6)").as("linear"))
    credit
      .groupBy(col("channel"))
      .agg(sum(col("first_touch")).as("first"),
        sum(col("last_touch")).as("last"),
        sum(col("linear")).cast("double").as("linear"),
        count(lit(1)).as("n_touches"))
      .select(col("channel"), explode(map(
        lit("1_first"), col("first"), lit("2_last"), col("last"),
        lit("3_linear"), col("linear"))).as(Seq("model", "credit_r")),
        col("n_touches"))
      .select(col("model"), col("channel"),
        round(col("credit_r"), 6).as("credit_r"), col("n_touches"))
  }

  /** Difference-in-differences over a randomized cutover: units hashed
    * into arms, time split at `cutoverUs`, per-(arm, period) means of
    * per-unit INTEGER metric sums, and the DiD estimate
    * (B_post − B_pre) − (A_post − A_pre). The quasi-experimental readout
    * for staged rollouts where a plain post-period diff would absorb the
    * time trend.
    *
    * One hash-agg to (unit, period) grain, one 4-row rollup; every mean
    * comes from exact integer sums (cents), the estimate from one shared
    * parenthesization. A unit contributes to a period's mean only if it
    * has events there (activity-grain means, stated contract). */
  def diffInDiff(events: DataFrame, entityCol: String, armB: Column,
      tsCol: String, valueCentsCol: Column, cutoverUs: Long,
      scaleDiv: Double = 100.0): DataFrame = {
    val unitPeriod = events
      .select(col(entityCol).as("_u"), armB.as("_arm_b"),
        (unix_micros(col(tsCol)) >= cutoverUs).as("_post"),
        valueCentsCol.cast("long").as("_v"))
      .groupBy(col("_u"), col("_arm_b"), col("_post"))
      .agg(sum(col("_v")).as("_uv"))
    val cells = unitPeriod
      .groupBy(col("_arm_b"), col("_post"))
      .agg(count(lit(1)).as("_n"), sum(col("_uv")).as("_s"))
    def cell(arm: Boolean, post: Boolean, c: String) =
      max(when(col("_arm_b") === arm && col("_post") === post, col(c)))
    val one = cells.agg(
      cell(arm = false, post = false, "_n").as("n_a_pre"),
      cell(arm = false, post = true, "_n").as("n_a_post"),
      cell(arm = true, post = false, "_n").as("n_b_pre"),
      cell(arm = true, post = true, "_n").as("n_b_post"),
      cell(arm = false, post = false, "_s").as("_s_a_pre"),
      cell(arm = false, post = true, "_s").as("_s_a_post"),
      cell(arm = true, post = false, "_s").as("_s_b_pre"),
      cell(arm = true, post = true, "_s").as("_s_b_post"))
    def m(s: String, nn: String) = col(s) / col(nn) / scaleDiv
    one.select(col("n_a_pre"), col("n_a_post"), col("n_b_pre"),
      col("n_b_post"),
      round(m("_s_a_pre", "n_a_pre"), 6).as("mean_a_pre_r"),
      round(m("_s_a_post", "n_a_post"), 6).as("mean_a_post_r"),
      round(m("_s_b_pre", "n_b_pre"), 6).as("mean_b_pre_r"),
      round(m("_s_b_post", "n_b_post"), 6).as("mean_b_post_r"),
      round((m("_s_b_post", "n_b_post") - m("_s_b_pre", "n_b_pre"))
        - (m("_s_a_post", "n_a_post") - m("_s_a_pre", "n_a_pre")), 6)
        .as("did_r"))
  }

  /** Top user journeys: each entity's first `pathLen` events (by the
    * caller's total order) concatenated into a path string, counted
    * across entities, top `topN` by frequency — the "what do users
    * actually do first" readout behind funnel design. One per-entity
    * window (partitioned — no global sort), the path assembled
    * row-locally from a rank-sorted struct array, one hash-agg on the
    * path string, TakeOrdered for the top slice. */
  def topPaths(events: DataFrame, entityCol: String, typeCol: String,
      orderBy: Seq[Column], pathLen: Int, topN: Int): DataFrame = {
    require(pathLen >= 1 && topN >= 1, "pathLen and topN must be >= 1")
    val w = Window.partitionBy(entityCol).orderBy(orderBy: _*)
    events
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") <= pathLen)
      .groupBy(col(entityCol))
      .agg(concat_ws(">", transform(
        array_sort(collect_list(struct(col("_rn").as("r"),
          col(typeCol).as("t")))),
        x => x.getField("t"))).as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path")).limit(topN)
  }

  /** Stationary distribution of the [[transitions]] Markov chain by
    * `iters` fixed power-iteration steps from the uniform start — the
    * long-run "where does a user's session settle" vector that the
    * per-state [[entropyRate]] conditions on. Fixed iteration count →
    * deterministic function of the chain (no convergence test), and
    * every matrix-vector term is 12-dp-rounded and DECIMAL-summed so
    * the float reduction is order-independent across engines.
    * Everything after the one transitions agg lives on the |S|²
    * matrix frame. States with no incoming transitions drop out after
    * the first step (their long-run mass is 0). Conversely SINK states
    * (no outgoing transitions — possible only for a type that is
    * always last in its entity's sequence) have no row in P, so mass
    * flowing into them vanishes at the next step and Σpi drifts below
    * 1: the result is the distribution over the chain restricted to
    * states with outgoing edges, not a renormalized one. The events
    * fixture has no such state (every type appears mid-sequence), so
    * the oracle agrees. `sinkSelfLoops = true` closes the caveat for
    * sink-bearing chains: every sink state gets a probability-1
    * self-loop, making P row-stochastic over ALL states so Σπ = 1
    * holds at every iteration (sinks become absorbing — their mass
    * accumulates instead of vanishing). Default false: the registered
    * oracle encodes the restricted-chain semantics. */
  def stationaryDistribution(events: DataFrame, entityCol: String,
      typeCol: String, orderBy: Seq[Column], iters: Int,
      sinkSelfLoops: Boolean = false): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    val t = transitions(events, entityCol, typeCol, orderBy)
    val rowTot = t.groupBy(col("from_type")).agg(sum(col("n")).as("_rt"))
    val p0 = t.join(rowTot, "from_type")
      .select(col("from_type"), col("to_type"),
        round(col("n").cast("double") / col("_rt").cast("double"), 12)
          .as("p"))
      .localCheckpoint() // consumed every iteration: materialize once
    val states = p0.select(col("from_type").as("state"))
      .union(p0.select(col("to_type").as("state"))).distinct()
    val p =
      if (!sinkSelfLoops) p0
      else p0.unionByName(
        // sinks = states never seen as a source; |sinks| ≤ |S| rows
        states.join(p0.select(col("from_type").as("state")).distinct(),
            Seq("state"), "left_anti")
          .select(col("state").as("from_type"),
            col("state").as("to_type"), lit(1.0).as("p")))
        .localCheckpoint()
    var pi = states
      .crossJoin(broadcast(states.agg(count(lit(1)).as("_k"))))
      .select(col("state"),
        round(lit(1.0) / col("_k").cast("double"), 12).as("pi"))
    for (_ <- 1 to iters) {
      pi = p.join(pi, p("from_type") === pi("state"))
        .groupBy(col("to_type").as("state"))
        .agg(sum(t12(col("pi") * col("p"))).cast("double").as("pi"))
    }
    pi.select(col("state"), round(col("pi"), 6).as("pi_r"))
  }

  /** Cohort LTV curve: entities bucketed by first-seen week (the
    * [[weeklyRetention]] cohorts), cumulative value per cohort by week
    * offset, divided by the cohort's size — "how much is a week-W
    * signup worth after k weeks", the payback readout acquisition
    * spend is judged against. Value accumulates in exact cents; the
    * cumulative window runs over the small (cohorts × offsets) grid,
    * partitioned by cohort. */
  def ltvCurve(events: DataFrame, entityCol: String, tsCol: String,
      valueCol: String): DataFrame = {
    val week = to_date(date_trunc("week", col(tsCol)))
    val ev = events.select(col(entityCol).as("_u"), week.as("_week"),
      round(col(valueCol) * 100).cast("long").as("_cents"))
    val coh = ev.groupBy(col("_u")).agg(min(col("_week")).as("cohort_week"))
    val sized = coh.groupBy(col("cohort_week"))
      .agg(count(lit(1)).as("n_users"))
    val aged = ev.join(coh, "_u")
      .groupBy(col("cohort_week"),
        floor(datediff(col("_week"), col("cohort_week")) / 7)
          .as("week_offset"))
      .agg(sum(col("_cents")).as("rev_cents"))
    val w = Window.partitionBy(col("cohort_week")).orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    aged.withColumn("cum_cents", sum(col("rev_cents")).over(w))
      .join(broadcast(sized), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("rev_cents"), col("cum_cents"),
        round(col("cum_cents").cast("double")
          / col("n_users").cast("double"), 6).as("ltv_cents_r"))
  }

  /** Monthly Little's-law audit over [start, end] day intervals
    * (arrival → completion): per calendar month, the time-average
    * in-system count L (Σ per-interval overlap days / month days), the
    * arrival rate λ (arrivals that month / month days), the mean
    * duration W of that month's arrivals, and the ratio L/(λW). On an
    * infinite horizon L = λW exactly; per finite month the ratio's
    * drift from 1 is the backlog carried across month boundaries — the
    * queueing-health readout (ratio > 1: the month is working off old
    * arrivals; < 1: its own arrivals spill into the future).
    *
    * Shape: each interval explodes into the months it touches via
    * `sequence` (span-bounded fan-out, the month-grain twin of
    * [[ltvCurve]]'s weeks); overlap days are exact integers; three
    * bounded month-grain aggs meet in one join. Durations and
    * overlaps count BOTH endpoints (an order opened and shipped the
    * same day is 1 in-system day). */
  def littlesLawMonthly(intervals: DataFrame, startCol: String,
      endCol: String): DataFrame = {
    val iv = intervals.select(to_date(col(startCol)).as("_s"),
        to_date(col(endCol)).as("_e"))
      .where(col("_e") >= col("_s"))
    val byMonth = iv.select(col("_s"), col("_e"),
        explode(expr("sequence(date_trunc('month', _s), " +
          "date_trunc('month', _e), interval 1 month)")).as("_m0"))
      .withColumn("_m1", last_day(col("_m0")))
      .withColumn("_ov",
        (datediff(least(col("_e"), col("_m1")),
          greatest(col("_s"), col("_m0"))) + 1).cast("long"))
    val l = byMonth.groupBy(to_date(col("_m0")).as("month"))
      .agg(sum(col("_ov")).as("_ovdays"),
        (datediff(max(col("_m1")), min(col("_m0"))) + 1)
          .cast("long").as("_mdays"))
    val arr = iv.groupBy(date_trunc("month", col("_s")).cast("date")
        .as("month"))
      .agg(count(lit(1)).as("n_arrivals"),
        sum(datediff(col("_e"), col("_s")) + 1).as("_durdays"))
    val md = col("_mdays").cast("double")
    val lAvg = col("_ovdays").cast("double") / md
    val lam = col("n_arrivals").cast("double") / md
    val wMean = col("_durdays").cast("double") /
      col("n_arrivals").cast("double")
    l.join(arr, Seq("month"), "left")
      .withColumn("n_arrivals", coalesce(col("n_arrivals"), lit(0L)))
      .select(col("month"), col("n_arrivals"),
        round(lAvg, 6).as("l_avg_r"),
        round(when(col("n_arrivals") > 0, lam), 6).as("lambda_r"),
        round(when(col("n_arrivals") > 0, wMean), 6).as("w_days_r"),
        round(when(col("n_arrivals") > 0,
          lAvg / (lam * wMean)), 6).as("littles_ratio_r"))
  }

  /** Eventual-follow support matrix: for each ordered type pair
    * (a, b), among entities observing BOTH types, the share whose
    * first a precedes their last b — "does a ever lead to b, however
    * indirectly", the transitive complement of [[transitions]]'
    * adjacent-step matrix (a funnel where intermediate steps don't
    * break the scent). Strict timestamp inequality; exact integer
    * micros.
    *
    * Shape: one hash-agg to the (entity, type, min ts, max ts) grain
    * (≤ |types| rows per entity), a per-entity type×type self-join
    * (|types|²-bounded fan-out per entity — linear in entities), one
    * pair-grain rollup. */
  def eventualFollow(events: DataFrame, entityCol: String,
      typeCol: String, tsCol: String): DataFrame = {
    val g = events.groupBy(col(entityCol).as("_u"),
        col(typeCol).as("_ty"))
      .agg(min(col(tsCol)).as("_first"), max(col(tsCol)).as("_last"))
    val a = g.select(col("_u"), col("_ty").as("type_a"),
      col("_first").as("_fa"))
    val b = g.select(col("_u"), col("_ty").as("type_b"),
      col("_last").as("_lb"))
    a.join(b, Seq("_u"))
      .where(col("type_a") =!= col("type_b"))
      .groupBy(col("type_a"), col("type_b"))
      .agg(count(lit(1)).as("n_both"),
        sum(when(col("_fa") < col("_lb"), 1L).otherwise(0L))
          .as("n_follow"))
      .select(col("type_a"), col("type_b"), col("n_both"),
        col("n_follow"),
        round(col("n_follow").cast("double")
          / col("n_both").cast("double"), 6).as("follow_r"))
  }

  /** Per-entity Shannon entropy of the event-type mix: H_u =
    * −Σ_t (c_ut/c_u)·ln(c_ut/c_u) — the behavioral-diversity score
    * (0 = the user does one thing; ln m = uniform over m types) whose
    * DISTRIBUTION across users is what product analytics reads: a
    * bimodal entropy histogram means two populations, a collapsing
    * mean means the product funnels everyone into one action.
    *
    * Determinism: per-entity term sums are the hazard (Σ over a
    * user's ≤ m types in engine-dependent order), so each term is
    * 12-dp-rounded and DECIMAL-summed — H_u lands exactly on the
    * 1e-12 grid in both engines. The per-entity total count comes
    * from an entity-PARTITIONED window over the (entity, type) count
    * grain (never the corpus grain, never unpartitioned). Returns
    * per entity: entityCol, n_events, n_types, h (DECIMAL 1e-12). */
  def typeEntropy(events: DataFrame, entityCol: String,
      typeCol: String): DataFrame = {
    val cnt = events.groupBy(col(entityCol), col(typeCol))
      .agg(count(lit(1)).as("_c"))
    val wu = Window.partitionBy(col(entityCol))
    val p = col("_c").cast("double") / col("_n").cast("double")
    cnt.withColumn("_n", sum(col("_c")).over(wu))
      .groupBy(col(entityCol))
      .agg(first(col("_n")).as("n_events"),
        count(lit(1)).as("n_types"),
        sum(t12(-p * log(p))).as("h"))
  }

  /** Experiment-assignment health in one readout: the sample-ratio-
    * mismatch z/χ² (a 50/50 split whose counts are NOT binomially
    * plausible means broken bucketing — the first thing to check
    * before reading ANY lift number) plus the standardized mean
    * difference |SMD| of each pre-exposure covariate between arms
    * (imbalance > ~0.1 says randomization didn't balance what it was
    * supposed to). One row per covariate; the SRM columns repeat on
    * each row (same unit population).
    *
    * Shape: the unit frame is melted covariate-wise with `stack`
    * (|covs|× fan-out of the already-aggregated unit grain, never the
    * event corpus), one hash-agg to per-(covariate, arm) exact
    * DECIMAL(38,0) moments, then the diffInDiff conditional-max pivot
    * on the tiny (covariate) grain. Every mean/variance is assembled
    * from exact integer sums cast ONCE to double (the cuped
    * convention); SMD uses the pooled-SD form √((s²_a+s²_b)/2) with
    * sample (n−1) variances. */
  def armBalanceAudit(units: DataFrame, armB: org.apache.spark.sql.Column,
      covs: Seq[String]): DataFrame = {
    require(covs.nonEmpty, "need at least one covariate")
    val stackArgs = covs.map(c => s"'$c', cast($c as decimal(38,0))")
      .mkString(", ")
    val melted = units.select(armB.as("_arm_b"),
        expr(s"stack(${covs.size}, $stackArgs) as (cov, _x)"))
      // drop null covariate values: counts and moment sums must see the
      // SAME rows, or the mean divides a null-skipping sum by a
      // null-including count (per-covariate n may then differ — the SRM
      // columns are per-covariate over its non-null units)
      .where(col("_x").isNotNull)
    val g = melted.groupBy(col("cov"), col("_arm_b"))
      .agg(count(lit(1)).as("_n"),
        sum(col("_x")).cast("double").as("_sx"),
        sum(col("_x") * col("_x")).cast("double").as("_sxx"))
    def side(arm: Boolean, c: String) =
      max(when(col("_arm_b") === arm, col(c)))
    val piv = g.groupBy(col("cov"))
      .agg(side(false, "_n").as("n_a"), side(false, "_sx").as("_sxa"),
        side(false, "_sxx").as("_sxxa"),
        side(true, "_n").as("n_b"), side(true, "_sx").as("_sxb"),
        side(true, "_sxx").as("_sxxb"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ma = col("_sxa") / na
    val mb = col("_sxb") / nb
    val va = (col("_sxxa") - col("_sxa") * col("_sxa") / na) / (na - 1)
    val vb = (col("_sxxb") - col("_sxb") * col("_sxb") / nb) / (nb - 1)
    val srmZ = (nb - na) / sqrt(na + nb)
    piv.select(col("cov").as("covariate"), col("n_a"), col("n_b"),
      round(ma, 6).as("mean_a_r"), round(mb, 6).as("mean_b_r"),
      round(when(col("n_a") > 1 && col("n_b") > 1 &&
        (va + vb) > 0, (mb - ma) / sqrt((va + vb) / 2)), 6)
        .as("smd_r"),
      round(srmZ, 6).as("srm_z_r"),
      round(srmZ * srmZ, 6).as("srm_chi2_r"))
  }

  /** Positivity / overlap audit (the precondition every IPW/matching
    * estimator assumes and rarely checks): per covariate stratum, the
    * propensity p̂ = share treated, flagged when it leaves
    * [`loPct`, 100−`loPct`]% — strata where one arm is (nearly) absent
    * make reweighting estimates arbitrarily fragile. Also reports each
    * stratum's IPW effective sample size
    *   ESS = (Σw)² / Σw²,  w = 1/p̂ (treated) or 1/(1−p̂) (control)
    * — the "how many units is this stratum really worth after
    * weighting" number (ESS ≪ n is the overlap failure made scalar).
    * One hash-agg to the bounded stratum grid; exact integer counts,
    * one division per output cell. Returns one row per stratum: bin,
    * n, n_treated, p_r, ess_r, low_overlap. */
  def positivityAudit(units: DataFrame, binCol: String, treated: Column,
      loPct: Int = 5): DataFrame = {
    val g = units.groupBy(col(binCol).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(treated, 1L).otherwise(0L)).as("n_treated"))
    val nD = col("n").cast("double")
    val nT = col("n_treated").cast("double")
    val nC = nD - nT
    val p = nT / nD
    // Σw = n_t/p + n_c/(1-p); Σw² = n_t/p² + n_c/(1-p)²; both arms
    // must exist for weights to be finite — else ESS is NULL and the
    // stratum is flagged regardless
    val sw = nT / p + nC / (lit(1.0) - p)
    val sw2 = nT / (p * p) + nC / ((lit(1.0) - p) * (lit(1.0) - p))
    val lo = lit(loPct.toDouble / 100.0)
    g.select(col("bin"), col("n"), col("n_treated"),
        round(p, 6).as("p_r"),
        round(when(col("n_treated") > 0 && col("n_treated") < col("n"),
          sw * sw / sw2), 6).as("ess_r"),
        (p < lo || p > lit(1.0) - lo).as("low_overlap"))
      .orderBy(col("bin"))
  }

  /** Aalen–Johansen cumulative incidence under COMPETING risks: with
    * two absorbing causes, 1 − KM(all-cause) is NOT "probability of
    * cause 1 by t" — each cause's incidence only accrues while the
    * subject is still free of BOTH:
    *   CIF_k(t) = Σ_{s ≤ t} S(s−) · d_k(s) / n(s),
    * S = all-cause Kaplan–Meier. `causeCol` is 0 (censored), 1, or 2.
    * Same machinery as [[kaplanMeier]]: one hash-agg to the bounded
    * time grain, prefix windows for n_risk and the product-limit
    * (exp–sum–ln convention), each CIF increment 12-dp-gridded before
    * its running sum so both engines accumulate identically. Returns
    * one row per event time: t, n_risk, d1, d2, s_minus_r, cif1_r,
    * cif2_r (CIF₁ + CIF₂ = 1 − KM by construction — the identity the
    * spec pins). */
  def aalenJohansen(subjects: DataFrame, tCol: String,
      causeCol: String): DataFrame = {
    val perT = subjects
      .groupBy(col(tCol).cast("long").as("t"))
      .agg(sum(when(col(causeCol) === 1, 1L).otherwise(0L)).as("d1"),
        sum(when(col(causeCol) === 2, 1L).otherwise(0L)).as("d2"),
        count(lit(1)).as("_all"))
    val wPrior = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = perT.agg(sum(col("_all")).as("_n")).select(col("_n"))
    perT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("_n") - coalesce(sum(col("_all")).over(wPrior), lit(0L)))
      .withColumn("_d", col("d1") + col("d2"))
      .withColumn("_factor",
        (col("n_risk") - col("_d")).cast("double") / col("n_risk"))
      .withColumn("_lnf",
        when(col("_factor") > 0, log(col("_factor"))).otherwise(lit(0.0)))
      // S(s−): the product limit STRICTLY BEFORE s (prior-frame sum of
      // ln factors; 1.0 at the first event time)
      .withColumn("_sMinus",
        exp(coalesce(sum(col("_lnf")).over(wPrior), lit(0.0))))
      .withColumn("_cif1", sum(t12(col("_sMinus")
        * col("d1").cast("double") / col("n_risk").cast("double")))
        .over(wRun).cast("double"))
      .withColumn("_cif2", sum(t12(col("_sMinus")
        * col("d2").cast("double") / col("n_risk").cast("double")))
        .over(wRun).cast("double"))
      .filter(col("_d") > 0)
      .select(col("t"), col("n_risk"), col("d1"), col("d2"),
        round(col("_sMinus"), 6).as("s_minus_r"),
        round(col("_cif1"), 6).as("cif1_r"),
        round(col("_cif2"), 6).as("cif2_r"))
  }

  /** Simpson's-paradox audit: the pooled OLS slope of y on x next to
    * every per-segment slope — when the pooled sign contradicts EVERY
    * segment's sign, the aggregate trend is a composition artifact
    * (segment mix shifting over x), not a real effect, and any
    * "overall" number hides it. Slopes are the exact-moment form
    * b = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²) with each product
    * 12-dp-gridded (the ols2 convention); the pooled row carries
    * segment = '(pooled)' and the paradox flag (pooled sign ≠ 0,
    * every segment sign ≠ 0, and all segments oppose the pooled
    * sign). Two hash-aggs (segment grain + global), one broadcast of
    * the tiny slope table. Returns one row per segment plus the
    * pooled row: segment, n, slope_r, paradox. */
  def simpsonAudit(df: DataFrame, segCol: String, xCol: String,
      yCol: String): DataFrame = {
    // r15: ONE corpus pass. The pooled moments are the exact sums of
    // the per-segment DECIMAL moments (decimal addition is exact and
    // associative — guide §2.3 partial aggregation), so the second
    // full-table agg the pooled row used to run folds into a
    // |segments|-row re-aggregation of the segment grid. The double
    // casts happen only at slope time, on identical decimal values.
    val base = df.select(col(segCol).as("_seg"),
      col(xCol).cast("double").as("_x"), col(yCol).cast("double").as("_y"))
    val perSegM = base.groupBy(col("_seg"))
      .agg(count(lit(1)).as("_n"),
        sum(t12(col("_x"))).as("_dsx"),
        sum(t12(col("_y"))).as("_dsy"),
        sum(t12(col("_x") * col("_y"))).as("_dsxy"),
        sum(t12(col("_x") * col("_x"))).as("_dsxx"))
      .localCheckpoint() // tiny; read by the segment rows AND the pooled row
    def slope = (col("_n") * col("_dsxy").cast("double")
        - col("_dsx").cast("double") * col("_dsy").cast("double")) /
      nullif(col("_n") * col("_dsxx").cast("double")
        - col("_dsx").cast("double") * col("_dsx").cast("double"),
        lit(0.0))
    val perSeg = perSegM
      .select(col("_seg").cast("string").as("segment"),
        col("_n").as("n"), round(slope, 6).as("slope_r"))
      .localCheckpoint() // consumed by the flag agg AND the union
    val pooled = perSegM
      .agg(sum(col("_n")).as("_n"),
        sum(col("_dsx")).as("_dsx"), sum(col("_dsy")).as("_dsy"),
        sum(col("_dsxy")).as("_dsxy"), sum(col("_dsxx")).as("_dsxx"))
      .select(lit("(pooled)").as("segment"), col("_n").as("n"),
        round(slope, 6).as("slope_r"))
      .localCheckpoint()
    val flag = perSeg.crossJoin(broadcast(
        pooled.select(col("slope_r").as("_ps"))))
      .agg((count(lit(1)) === sum(when(col("slope_r") =!= 0.0 &&
          col("_ps") =!= 0.0 &&
          signum(col("slope_r")) =!= signum(col("_ps")), 1L)
          .otherwise(0L))).as("paradox"))
    perSeg.unionByName(pooled).crossJoin(broadcast(flag))
      .orderBy(col("segment"))
  }

  /** Restricted mean survival time (RMST) to horizon τ: the area
    * under the Kaplan–Meier curve on [0, τ] — "expected event-free
    * days in the first τ", the effect measure that stays defined when
    * median survival never crosses 0.5 and hazards cross (where a
    * hazard ratio is uninterpretable). Same machinery as
    * [[kaplanMeier]] (bounded time grain, exp–sum–ln product limit);
    * the area adds one more prefix pass: each event time ≤ τ
    * contributes S(t_i)·(min(t_{i+1}, τ) − t_i), plus the leading
    * 1·t_1 segment, every term 12-dp-gridded before the sum.
    * Returns one row: tau, n, n_events_le_tau, rmst_r. */
  def rmst(subjects: DataFrame, tCol: String, observedCol: String,
      tau: Long): DataFrame = {
    require(tau > 0, "tau must be positive")
    val perT = subjects
      .groupBy(col(tCol).cast("long").as("t"))
      .agg(sum(when(col(observedCol), 1L).otherwise(0L)).as("d"),
        count(lit(1)).as("_all"))
    val wOrd = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = perT.agg(sum(col("_all")).as("_n")).select(col("_n"))
    val curve = perT.crossJoin(broadcast(total))
      .withColumn("n_risk",
        col("_n") - coalesce(sum(col("_all")).over(wOrd), lit(0L)))
      .filter(col("d") > 0)
      .withColumn("_factor",
        (col("n_risk") - col("d")).cast("double") / col("n_risk"))
      .withColumn("_lnf",
        when(col("_factor") > 0, log(col("_factor"))).otherwise(lit(0.0)))
      .withColumn("_s", exp(sum(col("_lnf")).over(wRun)))
      .withColumn("_sPrev",
        exp(coalesce(sum(col("_lnf")).over(wOrd), lit(0.0))))
      .where(col("t") <= tau)
    // segment [t_i, next event or tau) carries S(t_i); the segment
    // BEFORE the first event carries S = 1
    val wNext = Window.orderBy(col("t"))
    val segs = curve
      .withColumn("_tNext",
        coalesce(lead(col("t"), 1).over(wNext), lit(tau)))
      .withColumn("_seg", t12(col("_s")
        * (least(col("_tNext"), lit(tau)) - col("t")).cast("double")))
    segs.agg(
        min(col("t")).as("_t1"),
        sum(col("d")).as("n_events_le_tau"),
        first(col("_n")).as("n"),
        sum(col("_seg")).cast("double").as("_area"))
      .select(lit(tau).as("tau"), col("n"), col("n_events_le_tau"),
        round(least(col("_t1").cast("double"), lit(tau.toDouble))
          + col("_area"), 6).as("rmst_r"))
  }
}
