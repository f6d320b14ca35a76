package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Corpus-level audit operators: slice-vs-slice overlap and divergence
  * reports a curation pipeline runs BEFORE mixing sources into a
  * training set (reference behavior generalized: the ETL's per-slice
  * summaries — `fetch_youtube_data.py` count/log seams — extended to the
  * corpus-health reports a 100 TB ingest actually needs).
  *
  * Scale doctrine shared by every operator here: per-row work is
  * map-side (tokenize/shingle/explode), corpus-proportional state is
  * reduced by hash-aggregate onto a (slice, term) keyed table, and ALL
  * pairwise math happens on slice-keyed aggregates — |slices| is
  * sources/languages/datasets (10–10⁴), so the pair fan-out is bounded
  * by |slices|² per term, never |docs|². The md5-derived hashing
  * ([[TextOps.hash60]]) keeps every number reproducible in the DuckDB
  * oracle.
  */
object CorpusAudit {

  /** Distinct word-k-shingle hashes per slice: (key, h). The per-doc
    * distinct is row-local (inside [[Dedup.kGramExpr]]); the cross-doc
    * distinct within a slice is one partial-aggregated hash-agg. */
  def keyShingleSets(df: DataFrame, keyCol: String, textCol: String,
      k: Int = 3): DataFrame =
    df.select(col(keyCol),
        TextOps.tokens(TextOps.normalize(col(textCol))).as("_toks"))
      .select(col(keyCol),
        explode(expr(Dedup.kGramExpr("_toks", k, distinct = true)))
          .as("shingle"))
      .select(col(keyCol), TextOps.hash60(col("shingle")).as("h"))
      .distinct()

  /** Pairwise shingle-set Jaccard between slices — the "how much does
    * source A repeat source B" matrix (the corpus-level complement of
    * doc-level near-dup: q29/q30 find WHICH docs collide, this reports
    * how much the slices overlap at all). Emits the full upper triangle
    * including zero-overlap pairs.
    *
    * Scale shape: the only corpus-proportional stages are the shingle
    * explode and the (key, h) hash-agg; the self-join fans out at most
    * |keys| rows per shingle hash (a shingle present in every slice
    * contributes C(|keys|, 2) pairs — bounded by construction, the
    * reason no hot-bucket valve is needed here), and the matrix itself
    * is |keys|² rows assembled from broadcast-size inputs. */
  def sourceOverlapMatrix(df: DataFrame, keyCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    // cached: feeds the size agg and BOTH sides of the intersection join
    val sets = keyShingleSets(df, keyCol, textCol, k).cache()
    val sizes = sets.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val inter = sets.select(col(keyCol).as("key_a"), col("h"))
      .join(sets.select(col(keyCol).as("key_b"), col("h")), Seq("h"))
      .where(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = sizes.select(col(keyCol).as("key_a"), col("n").as("n_a"))
      .crossJoin(broadcast(
        sizes.select(col(keyCol).as("key_b"), col("n").as("n_b"))))
      .where(col("key_a") < col("key_b"))
    pairs.join(inter, Seq("key_a", "key_b"), "left")
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        round(coalesce(col("n_inter"), lit(0L)) /
          (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L))), 6)
          .as("jaccard_r"))
  }

  private def fEnt(c: Column): Column = -c * log(c)

  /** Pairwise Jensen–Shannon divergence (nats) between slice unigram
    * distributions (Lin 1991, "Divergence measures based on the Shannon
    * entropy") — the standard "how different is source A's language from
    * source B's" report driving mixture design.
    *
    * Decomposition that avoids materializing the union vocabulary per
    * pair: with f(x) = −x·ln x,
    *   JS(a,b) = H(m) − (H_a + H_b)/2, and
    *   H(m) = Σ_{w∈a∩b}[f((p+q)/2) − f(p/2) − f(q/2)] + F_a + F_b
    * where F_s = Σ_w f(p_w/2). Only the INTERSECTION needs a join; the
    * tails live in the per-slice scalars F_s — so zero-overlap pairs
    * cost nothing and the join output is bounded by |vocab|·|keys|².
    *
    * Scale shape: one tokenize-explode pass, a (key, word) hash-agg, a
    * |keys|-row broadcast of totals, the word-keyed intersection join,
    * and a |keys|²-row assembly — the corpus is scanned once. */
  def jsDivergenceMatrix(df: DataFrame, keyCol: String,
      textCol: String): DataFrame = {
    // cached: the ONLY corpus-proportional stage — tokenize-explode +
    // hash-agg down to |keys|·|vocab| rows; totals, the probability
    // table, the scalar agg, and both intersection-join sides all
    // re-derive from this cache (each re-derivation is vocab-scale, so
    // caching the downstream p table instead would still re-scan the
    // corpus once for totals)
    val counts = df.select(col(keyCol),
        explode(TextOps.tokens(TextOps.normalize(col(textCol)))).as("tok"))
      .groupBy(col(keyCol), col("tok"))
      .agg(count(lit(1)).cast("double").as("c"))
      .cache()
    val totals = counts.groupBy(col(keyCol)).agg(sum(col("c")).as("tot"))
    val p = counts.join(broadcast(totals), Seq(keyCol))
      .select(col(keyCol), col("tok"), (col("c") / col("tot")).as("p"))
    val scal = p.groupBy(col(keyCol))
      .agg(sum(fEnt(col("p"))).as("hh"), sum(fEnt(col("p") / 2)).as("fh"))
    val inter = p.select(col(keyCol).as("key_a"), col("tok"),
        col("p").as("pa"))
      .join(p.select(col(keyCol).as("key_b"), col("tok"),
        col("p").as("pb")), Seq("tok"))
      .where(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(sum(fEnt((col("pa") + col("pb")) / 2)
        - fEnt(col("pa") / 2) - fEnt(col("pb") / 2)).as("t"))
    scal.select(col(keyCol).as("key_a"), col("hh").as("ha"),
        col("fh").as("fa"))
      .crossJoin(broadcast(scal.select(col(keyCol).as("key_b"),
        col("hh").as("hb"), col("fh").as("fb"))))
      .where(col("key_a") < col("key_b"))
      .join(inter, Seq("key_a", "key_b"), "left")
      .select(col("key_a"), col("key_b"),
        round(coalesce(col("t"), lit(0.0)) + col("fa") + col("fb")
          - (col("ha") + col("hb")) / 2, 6).as("js_r"))
  }

  /** Near-dup LEAKAGE matrix: verified near-dup pairs (Jaccard ≥
    * threshold) attributed to the (slice, slice) combinations they span
    * — the cross-source contamination report (a pair inside one source
    * is routine dedup; a pair ACROSS train-relevant sources is leakage).
    * Pure composition over the q29/q30 pipeline: `scored` is
    * [[Dedup.jaccardForPairs]] output; this joins the two doc sides to
    * their slice keys and counts per unordered key pair.
    *
    * Scale shape: |pairs| is post-LSH (candidate-bounded); the two key
    * lookups are equi-joins against the (id, key) projection; the final
    * agg is |keys|² rows. */
  def nearDupLeakage(scored: DataFrame, docs: DataFrame, idCol: String,
      keyCol: String, threshold: Double): DataFrame = {
    val keys = docs.select(col(idCol), col(keyCol))
    val withKeys = scored.where(col("jaccard") >= threshold)
      .join(keys.select(col(idCol).as("doc_a"), col(keyCol).as("_ka")),
        Seq("doc_a"))
      .join(keys.select(col(idCol).as("doc_b"), col(keyCol).as("_kb")),
        Seq("doc_b"))
    withKeys
      .groupBy(least(col("_ka"), col("_kb")).as("key_lo"),
        greatest(col("_ka"), col("_kb")).as("key_hi"))
      .agg(count(lit(1)).as("n_pairs"),
        round(avg(col("jaccard")), 6).as("avg_jaccard_r"))
  }

  /** Order-independent corpus fingerprint: per slice (and, via ROLLUP,
    * for the whole corpus — the '*' row) the doc count and a 60-bit
    * content version hash = Σ hash60(md5(normalized text)) mod 2⁶⁰ —
    * dataset versioning for reproducible training runs ("is the corpus
    * byte-identical to the one that trained checkpoint X?") without
    * sorting anything: summation is commutative, so the fingerprint is
    * invariant to row order, partitioning, and retry replay, unlike a
    * hash-of-concatenation.
    *
    * The sum runs in DECIMAL(38,0) (10¹² docs × 2⁶⁰ ≈ 2¹⁰⁰ would
    * overflow BIGINT) and reduces mod 2⁶⁰ at the end. Shape: one scan,
    * one rollup hash-agg keyed by slice — nothing else. */
  def corpusFingerprint(df: DataFrame, keyCol: String,
      textCol: String): DataFrame = {
    val h = TextOps.hash60(md5(TextOps.normalize(col(textCol))))
      .cast("decimal(38,0)")
    df.select(col(keyCol), h.as("_h"))
      .rollup(col(keyCol))
      .agg(count(lit(1)).as("n_docs"),
        (sum(col("_h")) % lit(1152921504606846976L))
          .cast("long").as("fingerprint"))
      .select(coalesce(col(keyCol), lit("*")).as(keyCol),
        col("n_docs"), col("fingerprint"))
  }

  /** Marginal-coverage curve: deal docs into `shards` deterministic
    * md5 buckets (the [[Curation.hashSplit]] family, so the deal is
    * stable under growth/retries), then report how many NEW distinct
    * token n-grams each successive shard contributes and the cumulative
    * total — the diminishing-returns curve that answers "does ingesting
    * the next 10% of this source still buy novel content, or is it
    * near-duplicate mass?" (the data-scaling companion to q154's
    * per-doc novelty).
    *
    * Shape: per-doc distinct shingles map-side (kGramExpr), one
    * (gram → min shard) hash-agg — first-occurrence attribution without
    * any ordering dependence — one |shards|-row count agg, and the
    * cumulative window runs over that |shards|-row table. */
  def coverageCurve(df: DataFrame, idCol: String, textCol: String,
      n: Int, shards: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(n > 0 && shards > 0)
    val shard = (conv(substring(md5(col(idCol).cast("string")), 1, 8),
      16, 10) % shards).cast("int")
    val grams = df
      .select(col(idCol), shard.as("shard"),
        TextOps.tokens(TextOps.normalize(col(textCol))).as("_toks"))
      .select(col("shard"),
        explode(expr(Dedup.kGramExpr("_toks", n, distinct = true)))
          .as("gram"))
    val firstShard = grams.groupBy(col("gram"))
      .agg(min(col("shard")).as("shard"))
    val wCum = Window.orderBy("shard")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstShard.groupBy(col("shard")).agg(count(lit(1)).as("new_grams"))
      .withColumn("cum_grams", sum(col("new_grams")).over(wCum))
  }

  /** Differentially-private group release: per-group count and clamped
    * sum with Laplace(Δ/ε) noise, plus small-group suppression — the
    * governance gate for publishing per-slice corpus statistics.
    * Sensitivities are the textbook ones (count Δ = 1; sum Δ = the
    * per-row clamp C applied BEFORE aggregation — without the clamp a
    * single outlier row makes the release non-private).
    *
    * Determinism (the testability requirement): the Laplace draw uses
    * the md5-derived uniform u = (h mod 10⁶ + 0.5)/10⁶ from the group
    * key + a per-statistic salt, inverted through
    * noise = −b·sign(u−½)·ln(1−2|u−½|) — reproducible in any engine
    * with md5, so the oracle checks the released values exactly. A
    * production deployment swaps ONLY the uniform for a secret-seeded
    * RNG; shape and scale are already correct. One hash-agg + per-group
    * scalar arithmetic; the suppression threshold composes the
    * k-anonymity gate (q163 family). `n_true` stays in this
    * engine-internal frame for auditability; the PUBLISHABLE projection
    * is (group, n_released_r, sum_released_r) only. */
  def dpNoisedRelease(df: DataFrame, groupCol: String,
      contribCol: String, eps: Double, clamp: Long,
      minGroup: Long): DataFrame = {
    def u(salt: String) =
      ((conv(substring(md5(concat(col(groupCol), lit(salt))), 1, 15),
        16, 10).cast("long") % 1000000).cast("double") + 0.5) / 1000000.0
    def lap(uu: Column, b: Column) =
      -b * signum(uu - 0.5) * log(lit(1.0) - lit(2.0) * abs(uu - 0.5))
    val agg = df
      .select(col(groupCol),
        least(col(contribCol).cast("long"), lit(clamp)).as("_v"))
      .groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_true"), sum(col("_v")).as("_s"))
      .where(col("n_true") >= minGroup)
    agg.select(col(groupCol), col("n_true"),
      round(col("n_true") + lap(u("#count"), lit(1.0 / eps)), 6)
        .as("n_released_r"),
      round(col("_s") + lap(u("#sum"), lit(clamp / eps)), 6)
        .as("sum_released_r"))
  }

  /** Capture–recapture corpus-size estimate (Chapman's bias-corrected
    * Lincoln–Petersen): two independent deterministic "crawls" (md5
    * draws with distinct salts over the DISTINCT-content universe)
    * yield sample sizes n1, n2 and overlap m, and
    *   N̂ = (n1+1)(n2+1)/(m+1) − 1
    * estimates the universe size — the "how big is the corpus we have
    * NOT finished crawling" number, audited here against the exact
    * distinct count the test corpus still affords. The dedup-first
    * step matters: duplicates would inflate both captures in a
    * correlated way and bias N̂ down. One hash-agg to the distinct
    * grain, two salted-u columns, one roll-up; SE is Chapman's
    * closed form. Returns one row: n_true, n1, n2, m, chapman_r,
    * se_r, rel_err_r. */
  def captureRecapture(df: DataFrame, textCol: String,
      p1: Double, p2: Double): DataFrame = {
    def u(salt: String) =
      (conv(substring(md5(concat(lit(salt), col("_h"))), 1, 15),
        16, 10).cast("long").cast("double") + 1.0) /
        lit(1152921504606846976.0) // 2^60
    val dist = df.select(md5(col(textCol)).as("_h")).distinct()
      .select(col("_h"), (u("cap1:") < p1).as("_a"),
        (u("cap2:") < p2).as("_b"))
    val m = dist.agg(count(lit(1)).as("n_true"),
      sum(when(col("_a"), 1L).otherwise(0L)).as("n1"),
      sum(when(col("_b"), 1L).otherwise(0L)).as("n2"),
      sum(when(col("_a") && col("_b"), 1L).otherwise(0L)).as("m"))
    val n1D = col("n1").cast("double")
    val n2D = col("n2").cast("double")
    val mD = col("m").cast("double")
    val chap = (n1D + 1) * (n2D + 1) / (mD + 1) - 1
    val se = sqrt((n1D + 1) * (n2D + 1) * (n1D - mD) * (n2D - mD) /
      ((mD + 1) * (mD + 1) * (mD + 2)))
    m.select(col("n_true"), col("n1"), col("n2"), col("m"),
      round(chap, 6).as("chapman_r"), round(se, 6).as("se_r"),
      round((chap - col("n_true").cast("double"))
        / col("n_true").cast("double"), 6).as("rel_err_r"))
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): for
    * each quasi-identifier group, the TOTAL VARIATION distance between
    * its sensitive-attribute distribution and the global one —
    * TV = ½ Σ_s |p_g(s) − p(s)|. The release gate one step past q163's
    * k-anonymity/l-diversity: a group can be large and diverse yet
    * still LEAK because its sensitive mix differs sharply from the
    * population. Shape: two hash-aggs to the (group × sensitive) grid,
    * then all math on grids — the group grid crossed with the
    * |sensitive| vocabulary (bounded²) so absent combinations
    * contribute their full |0 − p(s)| mass. Returns per group:
    * (qi..., n, tv_r, breached at `threshold`). */
  def tCloseness(df: DataFrame, qiCols: Seq[String], sensCol: String,
      threshold: Double): DataFrame = {
    val qi = qiCols.map(col)
    val gs = df.groupBy(qi :+ col(sensCol): _*)
      .agg(count(lit(1)).as("_ngs"))
    val g = gs.groupBy(qi: _*).agg(sum(col("_ngs")).as("n"))
    val sTot = df.groupBy(col(sensCol)).agg(count(lit(1)).as("_ns"))
    val nTot = df.agg(count(lit(1)).as("_nt"))
    g.crossJoin(broadcast(sTot.crossJoin(nTot)))
      .join(gs, qiCols :+ sensCol, "left")
      .withColumn("_pgs", coalesce(col("_ngs"), lit(0L)).cast("double")
        / col("n").cast("double"))
      .withColumn("_ps", col("_ns").cast("double")
        / col("_nt").cast("double"))
      .groupBy(qi :+ col("n"): _*)
      .agg((sum(t12(abs(col("_pgs") - col("_ps")))).cast("double")
        / 2.0).as("_tv"))
      .select(qi ++ Seq(col("n"), round(col("_tv"), 6).as("tv_r"),
        (round(col("_tv"), 6) > threshold).as("breached")): _*)
  }

  /** Equalized-odds audit (Hardt, Price & Srebro, NeurIPS 2016): per
    * group, the true-positive and false-positive rates of a binary
    * predictor against a binary ground truth, plus the corpus-wide
    * MAX GAPS — the two numbers equalized odds requires to be ~0
    * across groups. Groups with no positives (or no negatives) carry
    * NULL for the undefined rate and are excluded from that gap.
    * Shape: one hash-agg to the group grid; gaps re-enter by broadcast.
    * Returns per group: (group, n, n_pos, tpr_r, fpr_r,
    * tpr_gap_r, fpr_gap_r — the gaps repeated on every row). */
  def equalizedOdds(df: DataFrame, groupCol: String, pred: Column,
      truth: Column): DataFrame = {
    val g = df.groupBy(col(groupCol)).agg(
        count(lit(1)).as("n"),
        sum(when(truth, 1L).otherwise(0L)).as("n_pos"),
        sum(when(truth && pred, 1L).otherwise(0L)).as("_tp"),
        sum(when(!truth && pred, 1L).otherwise(0L)).as("_fp"))
      .withColumn("tpr_r", round(when(col("n_pos") > 0,
        col("_tp").cast("double") / col("n_pos").cast("double")), 6))
      .withColumn("fpr_r", round(when(col("n") > col("n_pos"),
        col("_fp").cast("double")
          / (col("n") - col("n_pos")).cast("double")), 6))
    val gaps = g.agg(
      (max(col("tpr_r")) - min(col("tpr_r"))).as("_tg"),
      (max(col("fpr_r")) - min(col("fpr_r"))).as("_fg"))
    g.crossJoin(broadcast(gaps))
      .select(col(groupCol), col("n"), col("n_pos"), col("tpr_r"),
        col("fpr_r"), round(col("_tg"), 6).as("tpr_gap_r"),
        round(col("_fg"), 6).as("fpr_gap_r"))
  }

  /** Randomized-response debiasing audit (Warner 1965, the local-DP
    * primitive): each row reports its sensitive bit TRUTHFULLY with
    * probability `p` and a fair md5 coin otherwise (both coins
    * md5-derived from the id — deterministic, so the oracle replays
    * them); the estimator π̂ = (observed − (1−p)/2) / p unbiases the
    * reported rate. The audit compares π̂ to the true rate the
    * mechanism hides — the "does our local-DP telemetry pipeline
    * actually reconstruct the population rate" check. One scan, one
    * row out: (n, true_rate_r, observed_rate_r, estimated_r,
    * abs_err_r). `p` enters ×100 against a mod-100 hash bucket, so
    * keep it a two-decimal probability. */
  def randomizedResponse(df: DataFrame, idCol: String, truth: Column,
      p: Double): DataFrame = {
    require(p > 0 && p < 1 && (p * 100) == math.floor(p * 100))
    val keep = TextOps.hash60(concat(col(idCol).cast("string"),
      lit(":rr-keep"))) % 100 < lit((p * 100).toLong)
    val coin = TextOps.hash60(concat(col(idCol).cast("string"),
      lit(":rr-coin"))) % 2 === 0
    df.select(truth.as("_t"),
        when(keep, truth).otherwise(coin).as("_rep"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("_t"), 1L).otherwise(0L)).as("_nt"),
        sum(when(col("_rep"), 1L).otherwise(0L)).as("_nr"))
      .select(col("n"),
        round(col("_nt").cast("double") / col("n").cast("double"), 6)
          .as("true_rate_r"),
        round(col("_nr").cast("double") / col("n").cast("double"), 6)
          .as("observed_rate_r"),
        round((col("_nr").cast("double") / col("n").cast("double")
          - lit((1.0 - p) / 2)) / lit(p), 6).as("estimated_r"),
        round(abs((col("_nr").cast("double") / col("n").cast("double")
          - lit((1.0 - p) / 2)) / lit(p)
          - col("_nt").cast("double") / col("n").cast("double")), 6)
          .as("abs_err_r"))
  }
}
