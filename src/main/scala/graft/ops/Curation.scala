package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Corpus-curation operators for training-data pipelines: deterministic
  * splits, per-key quota capping, and benchmark decontamination. All are
  * shuffle-partitioned relational plans keyed on uniform md5-derived
  * values — no driver state, no sampling nondeterminism (a `rand()` split
  * would re-deal on every task retry; a content/id HASH split is stable
  * across engines, runs, and cluster sizes, which is what makes dataset
  * versioning reproducible).
  */
object Curation {

  /** Deterministic train/val/test assignment: md5 of the id's string form
    * → bucket 0–99 → split by percentile boundaries. Adding data never
    * reshuffles existing assignments (each row's split depends only on its
    * own id) — the property that keeps eval sets stable as a 100 TB corpus
    * grows. Pure projection: no shuffle at all. */
  def hashSplit(df: DataFrame, idCol: String, trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct < 100)
    val bucket = (conv(substring(md5(col(idCol).cast("string")), 1, 8), 16, 10)
      .cast("long") % 100).as("bucket")
    df.withColumn("bucket", bucket)
      .withColumn("split",
        when(col("bucket") < trainPct, "train")
          .when(col("bucket") < trainPct + valPct, "val")
          .otherwise("test"))
  }

  /** Per-key quota: keep at most `k` rows per key, preferring by
    * `orderCols` (callers pass a deterministic total order). One shuffle
    * by key; per-partition heap via the rank window — the standard
    * "cap documents per domain" curation step. */
  def capPerKey(df: DataFrame, keyCol: String, k: Int,
      orderCols: Column*): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= k)
      .drop("_rn")
  }

  /** Deterministic STRATIFIED sampling: per-stratum keep-percentages
    * applied through md5-bucket arithmetic (60-bit hash60 prefix % 100,
    * same family as [[hashSplit]]) — every row's fate depends only on its
    * own id, so the sample is
    * reproducible across engines, runs, task retries, and corpus growth
    * (none of which is true of `df.sample`/`sampleBy`, whose RNG re-deals
    * per task attempt). Pure projection + filter: no shuffle, fully
    * codegen'd, and the filter pushes to the scan where the format
    * allows. The classic "rebalance sources/languages" curation step. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      pctByStratum: Map[String, Int], defaultPct: Int): DataFrame = {
    require((pctByStratum.values ++ Seq(defaultPct)).forall(p =>
      p >= 0 && p <= 100), "percentages must be 0-100")
    val bucket = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long") % 100
    val pct = pctByStratum.foldLeft(when(lit(false), lit(defaultPct))) {
      case (c, (stratum, p)) => c.when(col(strataCol) === stratum, lit(p))
    }.otherwise(lit(defaultPct))
    df.filter(bucket < pct)
  }

  /** Deterministic resampling to TARGET MIXTURE WEIGHTS: the "30% code,
    * 20% web, …" knob of training-data assembly. Unlike
    * [[stratifiedSample]] (fixed per-stratum keep rates), the keep rate
    * here is DERIVED from the data: the largest feasible output size is
    * T = min_d(n_d / w_d) (the scarcest domain relative to its weight
    * saturates first), then domain d keeps fraction T·w_d / n_d of its
    * rows through the same md5-hash60 uniform as [[hashSplit]]. Domains
    * without a weight are dropped; weighted domains absent from the data
    * are ignored (the remaining mixture is renormalized implicitly by
    * feasibility — callers wanting hard failure should validate counts).
    *
    * Scale posture: one small groupBy(domain) count (|domains| rows), a
    * broadcast join of those per-domain fractions back onto the corpus,
    * and a codegen'd hash-threshold filter — the corpus itself is never
    * shuffled. Keep decisions depend only on (id, domain counts), so
    * the sample is reproducible across runs, engines, and retries. */
  def mixtureResample(df: DataFrame, idCol: String, domainCol: String,
      weights: Map[String, Double]): DataFrame = {
    require(weights.nonEmpty && weights.values.forall(_ > 0),
      "weights must be positive")
    val in = df.where(col(domainCol).isin(weights.keys.toSeq: _*))
    val wCol = weights.foldLeft(when(lit(false), lit(0.0))) {
      case (c, (d, w)) => c.when(col(domainCol) === d, lit(w))
    }.otherwise(lit(0.0))
    val counts = in.groupBy(domainCol).agg(count(lit(1)).as("_n"))
      .withColumn("_w", wCol)
    val t = counts.agg(min(col("_n") / col("_w")).as("_t"))
    val frac = counts.crossJoin(broadcast(t))
      .select(col(domainCol), (col("_t") * col("_w") / col("_n")).as("_frac"))
    // uniform in [0,1): 60-bit md5 prefix / 2^60 — exact in the oracle
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0) // 2^60
    in.join(broadcast(frac), domainCol)
      .where(u < col("_frac"))
      .drop("_frac")
  }

  /** SOFT deduplication: instead of collapsing an exact-duplicate
    * cluster to one survivor (q24's hard rule), each copy keeps with
    * probability 1/√(cluster size) — word2vec's frequency-subsampling
    * rule (Mikolov et al. 2013) applied at document level, so frequent
    * boilerplate is DOWN-WEIGHTED toward √s copies rather than erased
    * (the middle ground between no-dedup and hard-dedup that
    * data-mixture work reaches for when duplication count carries
    * signal). The coin is the md5-hash60 uniform of the row id — the
    * [[hashSplit]] family — so the decision is reproducible across
    * runs, engines, retries, and corpus growth.
    *
    * Shape: one hash-agg for cluster sizes (keyed by content md5) + one
    * key join back + a codegen'd threshold filter; no window, no skew
    * risk (a giant cluster is still one size row). */
  def softDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keyed = df.select(col(idCol),
      md5(TextOps.normalize(col(textCol))).as("_ck"))
    val sizes = keyed.groupBy(col("_ck"))
      .agg(count(lit(1)).as("cluster_size"))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0) // 2^60
    keyed.join(sizes, "_ck")
      .select(col(idCol), col("cluster_size"),
        (u < lit(1.0) / sqrt(col("cluster_size").cast("double")))
          .as("keep"))
  }

  /** Latest-version-per-key compaction: keep each key's single newest row
    * by the given DESCENDING order columns (callers pass a deterministic
    * total order, e.g. ts DESC then id DESC) — the snapshot/CDC-compaction
    * step every incremental training-data pipeline runs before exporting.
    * One shuffle by key via [[capPerKey]] with k = 1; no global sort. */
  def latestPerKey(df: DataFrame, keyCol: String,
      orderCols: Column*): DataFrame =
    capPerKey(df, keyCol, 1, orderCols: _*)

  /** MERGE/upsert over immutable-file storage (the Delta-style MERGE INTO
    * re-expressed relationally): rows in `updates` replace same-key rows
    * in `current`; new keys are inserted. Implemented as priority-tagged
    * union + [[latestPerKey]] — one shuffle by key, no driver state, and
    * (unlike row-level mutation) safe on plain parquet: write the result
    * as the next snapshot version. Both inputs must carry the same
    * columns (unionByName). Each input is assumed key-unique (a snapshot
    * invariant); callers with multi-version updates should pre-compact
    * via [[latestPerKey]]. */
  def upsert(current: DataFrame, updates: DataFrame,
      keyCol: String): DataFrame =
    latestPerKey(
      current.withColumn("_src", lit(0))
        .unionByName(updates.withColumn("_src", lit(1))),
      keyCol, col("_src").desc)
      .drop("_src")

  /** Benchmark decontamination: for every doc in the eval set (selected by
    * `evalPred`), the number of its word-3-shingle hashes that appear
    * ANYWHERE in the train remainder, plus the contamination ratio
    * n_shared / n_shingles. Join is keyed on the uniform 60-bit shingle
    * hash (never text), the train side is reduced to DISTINCT hashes
    * before the join, and the eval side is typically tiny relative to the
    * corpus — Catalyst broadcasts it; at 100 TB the train-hash distinct
    * is the dominant (and inherent) shuffle, uniform by construction. */
  def contaminationOverlap(docs: DataFrame, idCol: String, textCol: String,
      evalPred: Column): DataFrame = {
    // the shingle table feeds three branches (eval side twice, train
    // distinct once) — cache it so the corpus tokenize/shingle/hash pass
    // runs once, not three times (callers/harnesses clearCache after)
    val sh = Dedup.shingleTable(docs, idCol, textCol).cache()
    val evalIds = docs.filter(evalPred).select(idCol)
    val evalSh = sh.join(evalIds, Seq(idCol), "left_semi")
    val trainH = sh.join(evalIds, Seq(idCol), "left_anti")
      .select("h").distinct()
    // shingle hashes are already distinct per doc (Dedup.shingleTable), so
    // a plain count after the semi-join is the distinct shared count
    val nShingles = evalSh.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"))
    val nShared = evalSh.join(trainH, Seq("h"), "left_semi")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    evalIds
      .join(nShingles, Seq(idCol), "left")
      .join(nShared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"))
      .withColumn("contamination",
        when(col("n_shingles") === 0, lit(0.0))
          .otherwise(round(col("n_shared") / col("n_shingles"), 6)))
  }

  /** Deterministic IN-BATCH negative sampling — the contrastive-training
    * dataset construction step: every anchor needs k "negatives" drawn
    * from the rest of the corpus, reproducibly. Rows are hash-assigned
    * to batches of ~`batchSize` (batch = hash60(id) mod nBatches, the
    * same uniform every other curation op uses), and each anchor's
    * negatives are the k other members of ITS batch ranked by a
    * pair-derived hash — so the choice of negatives is a pure function
    * of the corpus content, stable across runs, engines, retries, and
    * cluster sizes.
    *
    * Scale shape: ONE count (the broadcast 1-row frame sizing
    * nBatches), one shuffle on the batch key, and a self-join that is
    * quadratic only WITHIN a batch — O(n · batchSize) total pairs, the
    * standard in-batch-negatives trade (never an unbounded self-join).
    * The rank window shares the batch exchange. */
  def negativeSample(df: DataFrame, idCol: String, k: Int,
      batchSize: Int = 32): DataFrame = {
    require(k < batchSize, s"k=$k must be < batchSize=$batchSize")
    val h = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long")
    val n = df.agg(
      greatest(lit(1L), ceil(count(lit(1)) / batchSize).cast("long"))
        .as("_nb"))
    val withBatch = df.select(col(idCol))
      .crossJoin(broadcast(n))
      .select(col(idCol), pmod(h, col("_nb")).as("_batch"))
    val a = withBatch.select(col(idCol).as("anchor_id"), col("_batch"))
    val b = withBatch.select(col(idCol).as("neg_id"), col("_batch"))
    val pairH = conv(substring(md5(
      concat_ws("#", col("anchor_id").cast("string"),
        col("neg_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("_ph").asc, col("neg_id").asc)
    a.join(b, "_batch")
      .filter(col("anchor_id") =!= col("neg_id"))
      .withColumn("_ph", pairH)
      .withColumn("neg_rank", row_number().over(w))
      .filter(col("neg_rank") <= k)
      .select(col("anchor_id"), col("neg_rank"), col("neg_id"))
  }

  /** WEIGHTED sampling without replacement, top-k per stratum — the
    * Efraimidis–Spirakis A-ES scheme made deterministic: each row draws
    * u ∈ (0,1] from the md5-hash60 uniform (same family as [[hashSplit]];
    * +1 so ln is never applied to 0) and is ranked by key = ln(u)/w,
    * descending — the same order as u^(1/w), the classic A-ES key, without
    * the pow. The top k rows per stratum are EXACTLY a weighted sample
    * without replacement: heavier rows draw stochastically larger keys in
    * proportion to weight.
    *
    * Distributed shape: one row_number window = one shuffle by stratum;
    * at scale the window's sort is per-partition top-k via the rank filter
    * (no global sort). Hash-determinism keeps the sample stable across
    * engines, retries, and corpus growth — and lets the DuckDB oracle
    * reproduce it exactly. The float key is COMPUTED but never emitted:
    * output columns are all integers/strings, so cross-engine float
    * parity only matters if two keys tie within 1 ulp (measure-zero on
    * hashed input; id tie-break pins even that). */
  def weightedSampleTopK(df: DataFrame, idCol: String, weightCol: String,
      strataCol: String, k: Int): DataFrame = {
    val u = (conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") + 1.0) / lit(1152921504606846976.0) // 2^60
    val key = log(u) / col(weightCol).cast("double")
    val w = Window.partitionBy(col(strataCol))
      .orderBy(col("_key").desc, col(idCol).asc)
    df.filter(col(weightCol) > 0)
      .withColumn("_key", key)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(strataCol), col("rank"), col(idCol),
        col(weightCol).cast("long").as("weight"))
  }

  /** Golden-record SURVIVORSHIP over near-dup clusters — the
    * record-linkage merge step that follows matching (Hernández &
    * Stolfo's merge/purge "merge"; also the Fellegi–Sunter pipeline's
    * final stage): each cluster of matched records collapses to ONE
    * canonical row built attribute-by-attribute under deterministic
    * rules — here, canonical member = longest `textCol` (ties → lowest
    * id, via one struct-max agg: no per-cluster sort), and each listed
    * categorical attribute takes its cluster MODE (ties → smallest
    * value — a row_number over (count desc, value)). Every rule is a
    * pure function of cluster content: re-runs, retries, and engine
    * ports produce byte-identical gold records.
    *
    * `components` is (node, label) from [[Dedup.nearDupComponentsOf]]
    * (label = cluster min id — reused as the cluster id here); only
    * clustered docs appear (singletons need no merge and pass through
    * unchanged upstream). Scale shape: one join docs⋈components
    * (cached — it feeds the canon agg plus one count-agg + window pair
    * per mode attribute), everything after keyed by cluster label; no
    * operation touches unclustered corpus mass. */
  def goldenRecord(docs: DataFrame, components: DataFrame, idCol: String,
      textCol: String, modeCols: Seq[String]): DataFrame = {
    require(modeCols.nonEmpty, "need at least one mode attribute")
    val member = components
      .join(docs, col("node") === col(idCol))
      .cache()
    val canon = member.groupBy("label").agg(
      count(lit(1)).as("n_members"),
      max(struct(length(col(textCol)).as("l"), (-col(idCol)).as("ni")))
        .as("_c"))
    val modes = modeCols.map { c =>
      val w = Window.partitionBy(col("label"))
        .orderBy(col("_n").desc, col(c).asc)
      member.groupBy(col("label"), col(c)).agg(count(lit(1)).as("_n"))
        .withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1)
        .select(col("label"), col(c))
    }
    modes.foldLeft(canon)((acc, m) => acc.join(m, Seq("label")))
      .select(Seq(col("label").as("cluster_id"), col("n_members"),
        (-col("_c.ni")).as("canonical_id"),
        col("_c.l").cast("long").as("canonical_len")) ++
        modeCols.map(col): _*)
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", arXiv:2302.03169):
    * score every document by how target-like its HASHED unigram
    * distribution is. Features are md5-hashed token buckets (the paper's
    * hashed n-grams, n = 1 here); bucket b gets
    * log p̂_target(b) − log p̂_raw(b) under add-half smoothing, and a
    * document's log-weight is the mean over its token INSTANCES — the
    * bag-of-buckets log-likelihood ratio, length-normalized. Downstream
    * resampling is [[weightedSampleTopK]] / [[mixtureResample]] on the
    * emitted weight.
    *
    * `targetCol` is a boolean column marking the target exemplars (e.g.
    * a trusted-source flag); both distributions come out of ONE pass.
    *
    * Scale shape: token explode → one groupBy(bucket) with map-side
    * partials; the bucket table (`buckets` rows, fixed) re-enters by
    * broadcast, so the per-doc mean is a second narrow hash-agg. No
    * window, no join wider than the broadcast. */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      targetCol: String, buckets: Int): DataFrame = {
    require(buckets > 0, "buckets must be > 0")
    // the token-bucket frame feeds TWO consumers (the bucket-count agg
    // and the per-doc re-join) — cache it so the tokenize+hash pass
    // runs once, not once per consumer (harness-clearCache lifecycle,
    // the jaccardForPairs convention)
    val tok = df.select(col(idCol), col(targetCol).as("_tgt"),
      explode(TextOps.tokens(TextOps.normalize(col(textCol)))).as("_w"))
      .withColumn("_bk", TextOps.hash60(col("_w")) % buckets)
      .drop("_w")
      .cache()
    val counts = tok.groupBy(col("_bk"))
      .agg(sum(when(col("_tgt"), 1L).otherwise(0L)).as("_ct"),
        count(lit(1)).as("_cr"))
    val totals = counts.agg(sum(col("_ct")).as("_tt"),
      sum(col("_cr")).as("_tr"))
    val lw = counts.crossJoin(broadcast(totals))
      .select(col("_bk"),
        (log((col("_ct") + 0.5) / (col("_tt") + 0.5 * buckets)) -
          log((col("_cr") + 0.5) / (col("_tr") + 0.5 * buckets)))
          .as("_lw"))
    tok.join(broadcast(lw), Seq("_bk"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("_lw")), 6).as("logw_r"))
  }

  /** WATER-FILLING budget allocation (the max-min-fair allocation of
    * classic congestion control — Bertsekas & Gallager, "Data Networks"
    * §6.5.2 — applied to token budgets): given per-key totals n_k and a
    * global budget = `budgetFrac` × Σn, find the water level L with
    * Σ min(n_k, L) = budget; keys below L keep everything ("saturated"),
    * keys above are capped at L. The data-mixing answer to "small
    * sources keep all their tokens, big sources split the remainder
    * equally".
    *
    * Level search is closed-form over the SORTED key table: with
    * n₁ ≤ … ≤ n_S and cum_k = Σ_{j≤k} n_j, the level after saturating k
    * keys is L_k = (budget − cum_k)/(S − k), and the valid k is the
    * largest with n_k ≤ L_k (none ⇒ L = budget/S; budget ≥ Σn ⇒
    * k = S−1 yields L ≥ n_S, every key saturated — no special case).
    *
    * Scale shape: one hash-agg to per-key totals, then EVERYTHING runs
    * on the |keys|-row table — the global window is over keys, not
    * rows, the same tiny-by-construction posture as Pack's bucket
    * table; the chosen level re-enters by broadcast. */
  def waterFillAlloc(df: DataFrame, keyCol: String, weightCol: String,
      budgetFrac: Double): DataFrame = {
    require(budgetFrac > 0, "budgetFrac must be > 0")
    // cached: the |keys|-row table feeds the scalar agg, the ranked
    // level search, AND the final allocation — without it each consumer
    // re-scans the corpus for the same aggregate
    val counts = df.groupBy(col(keyCol))
      .agg(sum(col(weightCol)).cast("double").as("_n")).cache()
    val scal = counts.agg(count(lit(1)).cast("double").as("_S"),
      sum(col("_n")).as("_total"))
    val w = Window.orderBy(col("_n"), col(keyCol))
    val ranked = counts
      .withColumn("_i", row_number().over(w).cast("double"))
      .withColumn("_cum", sum(col("_n")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(scal))
      .withColumn("_budget", lit(budgetFrac) * col("_total"))
    val cand = ranked
      .filter(col("_i") < col("_S") &&
        col("_n") <= (col("_budget") - col("_cum"))
          / (col("_S") - col("_i")))
      .agg(max(struct(col("_i"),
        ((col("_budget") - col("_cum")) / (col("_S") - col("_i")))
          .as("_lvl"))).as("_k"))
      .select(col("_k._lvl").as("_cl"))
    val level = scal.crossJoin(broadcast(cand))
      .select(coalesce(col("_cl"),
        lit(budgetFrac) * col("_total") / col("_S")).as("_level"))
    counts.crossJoin(broadcast(level))
      .select(col(keyCol), col("_n").cast("long").as("n_tokens"),
        round(least(col("_n"), col("_level")), 6).as("alloc_r"),
        (col("_n") <= col("_level")).as("saturated"))
  }

  /** Temperature-scaled mixture sampling (the multilingual rebalancing
    * rule of Conneau et al., "Unsupervised Cross-lingual Representation
    * Learning at Scale", arXiv:1911.02116 §5: sample domains ∝ n^α,
    * α < 1 up-weighting the tail): per-domain keep fraction
    * f_d = min(1, target · n_d^α / Σ_t n_t^α / n_d), rows kept by the
    * engine-portable md5-uniform (same family as [[mixtureResample]],
    * which this generalizes — α = 1 recovers proportional sampling with
    * uniform weights).
    *
    * Scale shape: one hash-agg to domain counts (|domains| rows), the
    * α-powered fraction table re-enters by broadcast, the keep decision
    * is a codegen'd per-row filter — the corpus is scanned once and
    * never shuffled. */
  def temperatureResample(df: DataFrame, idCol: String, domainCol: String,
      alpha: Double, target: Long): DataFrame = {
    require(alpha > 0 && target > 0, "alpha and target must be > 0")
    // cached: |domains| rows feeding both the Σw scalar and the
    // fraction table — one corpus scan for the counts, not two
    val counts = df.groupBy(col(domainCol))
      .agg(count(lit(1)).cast("double").as("_n"))
      .withColumn("_w", pow(col("_n"), alpha)).cache()
    val tot = counts.agg(sum(col("_w")).as("_tw"))
    val frac = counts.crossJoin(broadcast(tot))
      .select(col(domainCol),
        least(lit(1.0), lit(target.toDouble) * col("_w") / col("_tw")
          / col("_n")).as("_frac"))
    val u = conv(substring(md5(col(idCol).cast("string")), 1, 15), 16, 10)
      .cast("long").cast("double") / lit(1152921504606846976.0) // 2^60
    df.join(broadcast(frac), Seq(domainCol))
      .where(u < col("_frac"))
      .drop("_frac")
  }

  /** k-anonymity / l-diversity profile (Sweeney 2002; Machanavajjhala
    * et al. 2007): per quasi-identifier group, the group size and the
    * number of distinct sensitive values, flagged `suppressed` when
    * either n < k (re-identifiable) or n_sensitive < l (attribute
    * disclosure) — the governance gate a corpus release runs before
    * publishing grouped data.
    *
    * Scale shape: two STACKED hash-aggs — (qi…, sensitive) then (qi…) —
    * the same no-Expand distinct-count pattern as q110; everything is
    * keyed, partial-aggregated, and output-bounded by |QI groups|. */
  def privacyProfile(df: DataFrame, qiCols: Seq[String],
      sensitiveCol: String, k: Long, l: Long): DataFrame = {
    require(qiCols.nonEmpty && k > 0 && l > 0)
    val qi = qiCols.map(col)
    df.groupBy(qi :+ col(sensitiveCol): _*)
      .agg(count(lit(1)).as("_n"))
      .groupBy(qi: _*)
      .agg(sum(col("_n")).as("n"),
        count(lit(1)).as("n_sensitive"))
      .select(qi ++ Seq(col("n"), col("n_sensitive"),
        (col("n") < k || col("n_sensitive") < l).as("suppressed")): _*)
  }

  /** Largest-remainder (Hamilton) apportionment of an integer sample
    * budget across groups, proportional to their row counts — the exact
    * quota allocator behind "draw B docs following the source mixture":
    * fractional quotas can't be drawn and plain flooring under-spends,
    * so the leftover seats go to the largest remainders, ties broken by
    * key (Hamilton's method; the apportionment literature's baseline).
    * Emits (key, n, alloc) with Σ alloc = budget exactly.
    *
    * All-integer arithmetic — base = (B·n) div total, remainder =
    * (B·n) mod total — so the allocation is engine-exact, no float
    * quotas. Shape: one count agg over the corpus; every later step
    * (scalar totals by broadcast crossJoin, the remainder-rank window)
    * runs on the |groups|-row table, the Pack bucket-table posture. */
  def largestRemainderAlloc(df: DataFrame, keyCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0)
    val counts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("_tot"))
    val based = counts.crossJoin(broadcast(tot))
      .withColumn("_base", expr(s"($budget * n) div _tot"))
      .withColumn("_rem", expr(s"($budget * n) % _tot"))
    val spent = based.agg(sum(col("_base")).as("_spent"))
    val wR = Window.orderBy(col("_rem").desc, col(keyCol))
    based.crossJoin(broadcast(spent))
      .withColumn("_rk", row_number().over(wR))
      .select(col(keyCol), col("n"),
        (col("_base") + when(col("_rk") <= lit(budget) - col("_spent"), 1L)
          .otherwise(0L)).as("alloc"))
  }

  /** Neyman (optimal) allocation of an integer sample budget across
    * strata — n_h ∝ N_h·S_h (Neyman 1934): where [[largestRemainderAlloc]]
    * splits a budget by row counts alone, this weights each stratum by
    * its internal variability, the allocation that minimizes the
    * variance of the stratified mean estimator. S_h is the sample sd of
    * `yCol` (an exact integer column — counts/cents), computed from
    * DECIMAL(38,0) sums so the weights are engine-exact doubles; the
    * fractional quotas are settled by the same largest-remainder rule
    * (floor + remainder rank, ties by key), with both the quota and
    * the remainder pinned to the 9-dp grid before floor/rank so no
    * float boundary can flip an allocation between engines. Shape: one
    * stats agg over the corpus, then the |strata| grid. Returns
    * (key, n, sd_y_r, alloc) with Σ alloc = budget (strata with
    * undefined sd — n < 2 — get weight 0). */
  def neymanAlloc(df: DataFrame, keyCol: String, yCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0)
    def d38(c: Column) = c.cast("decimal(38,0)")
    val stats = df.groupBy(col(keyCol)).agg(
        count(lit(1)).as("n"),
        sum(d38(col(yCol))).as("_s"),
        sum(d38(col(yCol)) * d38(col(yCol))).as("_s2"))
      .withColumn("_sd", when(col("n") >= 2, sqrt(
        (col("_s2").cast("double") - col("_s").cast("double")
          * col("_s").cast("double") / col("n").cast("double"))
        / (col("n").cast("double") - 1.0))).otherwise(lit(0.0)))
      .withColumn("_w", round(col("n").cast("double") * col("_sd"), 6))
    val tot = stats.agg(sum(t12(col("_w"))).cast("double").as("_tw"))
    val quota = stats.crossJoin(broadcast(tot))
      .withColumn("_q", round(lit(budget.toDouble) * col("_w")
        / col("_tw"), 9))
      .withColumn("_base", floor(col("_q")).cast("long"))
      .withColumn("_rem", round(col("_q") - col("_base"), 9))
    val spent = quota.agg(sum(col("_base")).as("_spent"))
    val wR = Window.orderBy(col("_rem").desc, col(keyCol))
    quota.crossJoin(broadcast(spent))
      .withColumn("_rk", row_number().over(wR))
      .select(col(keyCol), col("n"), round(col("_sd"), 6).as("sd_y_r"),
        (col("_base") + when(col("_rk") <= lit(budget) - col("_spent"),
          1L).otherwise(0L)).as("alloc"))
  }


  /** Budget-constrained quality selection: per key, keep the
    * highest-`scoreCol` rows while their cumulative `tokenCol` stays
    * within `budget` — "spend each source's token allocation on its
    * best documents", the selection step that turns q157-style budgets
    * into an actual corpus. Emits the kept rows with their inclusive
    * `cum_tokens`.
    *
    * Both the quality rank and the cumulative token sum are banded
    * two-level passes ([[Ranks.bandedRank]] on −score,
    * [[Ranks.bandedRunningSum]] over that rank) — a naive
    * ORDER BY score window would put a whole source in one task. The
    * order (score desc, id) is total, so the kept set is reproducible
    * under retries and engine changes. */
  def budgetTrim(df: DataFrame, keyCol: String, idCol: String,
      tokenCol: String, scoreCol: String, budget: Long,
      scoreBandWidth: Double): DataFrame = {
    require(budget > 0)
    val ranked = Ranks.bandedRank(
        df.select(col(keyCol), col(idCol), col(tokenCol),
          (-col(scoreCol)).as("_neg")),
        keyCol, "_neg", idCol, scoreBandWidth)
      .drop("grp_n")
    Ranks.bandedRunningSum(ranked, keyCol, "rnk", tokenCol,
        bandWidth = 4096.0)
      .where(col("runsum") <= budget)
      .select(col(keyCol), col(idCol), col(tokenCol),
        col("runsum").as("cum_tokens"))
  }

  /** Deterministic weighted interleave ("stride scheduling", Waldspurger
    * & Weihl, OSDI'94, applied to corpus mixing): source s's i-th row is
    * placed at virtual time (i+1)/weight(s), and the epoch order is the
    * merge of those per-source streams — each source appears with
    * frequency ∝ its weight and is spread EVENLY through the epoch,
    * which a fixed-seed shuffle only delivers in expectation. This is
    * the curriculum/mixture scheduler that turns per-source weights into
    * one reproducible global training order.
    *
    * Emits (pos, domain, id, vt): 1-based global position, the source,
    * the row id, and the virtual time. Both ranking passes are
    * [[Ranks.bandedRank]] — exact rank with NO per-source or global
    * single-task sort; the merge key (vt, (domain, id)) is a total
    * order (struct comparison = lexicographic, exactly ORDER BY domain,
    * id — no string-encoding caveats), so the schedule is stable across
    * runs, retries, and cluster sizes. `weight` must be a positive
    * numeric column (deterministic per row, constant per domain for the
    * stride semantics to hold).
    *
    * `vtBandWidth` sizes the bands of the global vt merge pass. One
    * unit of virtual time holds ~Σ_d weight(d) rows (each source d
    * emits weight(d) rows per vt unit), so the default — derived as
    * idBandWidth / Σ_d weight(d) — keeps ~idBandWidth rows per band and
    * the broadcast (group × band) offsets table at ~N/idBandWidth rows
    * REGARDLESS of the weight scale. A fixed width (the old hardcoded
    * 1.0) would make the offsets table O(N/Σweights): fine when weights
    * are O(k), a driver-side OOM when they are fractions. Band width
    * only affects band sizing, never rank values, so any positive
    * override is safe. */
  def strideInterleave(df: DataFrame, idCol: String, domainCol: String,
      weight: Column, idBandWidth: Double = 1024.0,
      vtBandWidth: Double = Double.NaN): DataFrame = {
    val in = df.select(col(idCol), col(domainCol), weight.as("_w"))
    val rn = Ranks.bandedRank(in, domainCol, idCol, idCol, idBandWidth)
      .withColumnRenamed("rnk", "_rn").drop("grp_n")
    val vtBw = if (vtBandWidth.isNaN) {
      // tiny agg over |domains| rows (one per-domain weight each);
      // runs before the plan is built, not per row
      val sumW = in.groupBy(col(domainCol))
        .agg(max(col("_w").cast("double")).as("_wd"))
        .agg(sum(col("_wd")).cast("double").as("_sw"))
        .collect().headOption.flatMap(r => Option(r.get(0)))
        .map(_.asInstanceOf[Double]).getOrElse(1.0)
      math.max(idBandWidth / math.max(sumW, 1e-9), 1e-9)
    } else vtBandWidth
    require(vtBw > 0, "vtBandWidth must be > 0")
    val vt = rn
      .withColumn("vt", (col("_rn") + 1) / col("_w"))
      .withColumn("_one", lit(0))
      // total-order tiebreak: struct comparison is lexicographic by
      // field — exactly ORDER BY domain, id, for any domain charset
      // and the full id range
      .withColumn("_tid", struct(col(domainCol), col(idCol)))
    Ranks.bandedRank(vt, "_one", "vt", "_tid", vtBw)
      .select((col("rnk") + 1).cast("long").as("pos"),
        col(domainCol), col(idCol), col("vt"))
  }

  /** Horvitz–Thompson total-estimation audit for size-proportional
    * Poisson sampling: every unit is included independently with a
    * KNOWN probability pi_i = min(1, y_i / scale) (big records almost
    * surely kept, small ones downsampled), the estimate weights each
    * sampled y by 1/pi_i — unbiased BY CONSTRUCTION whatever the
    * distribution — and the audit puts the estimate next to the exact
    * total it can only have because the test corpus is small enough to
    * know it. At 100 TB only the estimate exists; this op is how you
    * earn trust in it at audit scale. Inclusion is the md5-uniform
    * draw of [[weightedSampleTopK]] (deterministic, retry-stable);
    * the HT sum and the Poisson variance estimator
    * sum((1-pi)/pi^2 * y^2) ride the 12-dp DECIMAL grid. Returns one
    * row: n_pop, n_sample, total (exact), ht_total_r, rel_err_r,
    * ht_se_r. */
  def htTotalAudit(df: DataFrame, idCol: String, yCol: String,
      scale: Double): DataFrame = {
    val u = (conv(substring(md5(col("_id").cast("string")), 1, 15),
      16, 10).cast("long").cast("double") + 1.0) /
      lit(1152921504606846976.0) // 2^60
    val base = df.select(col(idCol).as("_id"),
        col(yCol).cast("long").as("_y"))
      .withColumn("_pi", least(lit(1.0),
        col("_y").cast("double") / lit(scale)))
      .withColumn("_in", u < col("_pi"))
    val m = base.agg(count(lit(1)).as("n_pop"),
      sum(col("_y")).as("total"),
      sum(when(col("_in"), 1L).otherwise(0L)).as("n_sample"),
      sum(when(col("_in"),
        t12(col("_y").cast("double") / col("_pi")))).cast("double")
        .as("_ht"),
      sum(when(col("_in"),
        t12((lit(1.0) - col("_pi")) / (col("_pi") * col("_pi"))
          * col("_y").cast("double") * col("_y").cast("double"))))
        .cast("double").as("_v"))
    m.select(col("n_pop"), col("n_sample"), col("total"),
      round(col("_ht"), 6).as("ht_total_r"),
      round((col("_ht") - col("total").cast("double"))
        / col("total").cast("double"), 6).as("rel_err_r"),
      round(sqrt(col("_v")), 6).as("ht_se_r"))
  }
}
