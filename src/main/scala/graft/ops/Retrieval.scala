package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.util.Exact.t12

/** Lexical retrieval scoring: Okapi BM25 over the corpus, the standard
  * first-stage ranker for retrieval-augmented pipelines and the lexical
  * complement to the embedding ANN surface ([[Similarity]],
  * [[EmbeddingLsh]]). Uses the same normalize/tokenize convention as
  * every other text operator ([[TextOps.normalize]]/[[TextOps.tokens]])
  * so document statistics agree across the engine.
  *
  * Scale posture (100 TB): one explode + two hash aggregations. Document
  * length and per-(doc, term) term frequency come out of the same token
  * table; the per-term document frequency is an aggregate over only the
  * query's terms (the token table is filtered to the query vocabulary
  * BEFORE the tf rollup, so the wide corpus never flows past the first
  * filter). Corpus constants (N, avgdl) are a 1-row frame joined by
  * broadcast. Scoring is a per-row expression; top-k is
  * `TakeOrderedAndProject` — no global sort materializes.
  */
object Retrieval {

  /** BM25 top-k: scores every document containing ≥1 query term and
    * returns the `k` best as (id, n_terms_hit, bm25). Standard Okapi
    * parameters k1=1.2, b=0.75; idf = ln(1 + (N−df+0.5)/(df+0.5)) —
    * always positive. Score rounded to 6 before ranking so equal scores
    * tie-break on id deterministically (same convention as TF-IDF). */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "bm25 needs at least one query term")
    val tok = docs.select(col(idCol),
      explode(TextOps.tokens(TextOps.normalize(col(textCol)))).as("term"))
    // per-doc length over ALL tokens (BM25's dl), before the query filter
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    // corpus constants: N and avgdl. Sum of longs is exact, so avgdl is
    // the same double in any engine — no rounding needed.
    val consts = dl.agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    // from here on only query-term rows survive — the corpus-wide token
    // table never reaches a join
    val tf = tok.where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val tfNorm = (col("tf") * lit(k1 + 1.0)) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("avgdl")))
    tf
      .join(dl, idCol)
      .join(broadcast(df_), "term")
      .join(broadcast(consts))
      .withColumn("term_score", idf * tfNorm)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_terms_hit"),
        round(sum(col("term_score")), 6).as("bm25"))
      .orderBy(col("bm25").desc, col(idCol))
      .limit(k)
  }

  /** Reciprocal Rank Fusion (Cormack, Clarke & Buettcher, "Reciprocal
    * rank fusion outperforms Condorcet and individual rank learning
    * methods", SIGIR 2009) — the standard hybrid-retrieval combiner:
    * given N ranked candidate lists (each (id, rank), rank 1-based),
    * score(d) = Σ_lists 1/(kRrf + rank_list(d)) over the lists that
    * contain d, and return the `topN` best. kRrf (60 in the paper)
    * damps the head so no single list dominates; items on several
    * lists accumulate — the reason RRF beats score-interpolation
    * without ANY score normalization across heterogeneous rankers
    * (BM25 scores and cosine similarities never share a scale).
    *
    * Scale shape: a union of top-k lists is k·N rows REGARDLESS of
    * corpus size — one hash agg on id, then TakeOrderedAndProject for
    * the final cut. Score rounded to 9 before ranking (sum order
    * varies across engines by ulps); ties break on id. */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String, kRrf: Int,
      topN: Int): DataFrame = {
    require(rankings.nonEmpty, "rrf needs at least one ranking")
    require(kRrf >= 0, "kRrf must be >= 0")
    rankings.map(_.select(col(idCol), col("rank")))
      .reduce(_ unionAll _)
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_lists"),
        round(sum(lit(1.0) / (lit(kRrf) + col("rank"))), 9).as("rrf"))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(topN)
  }

  /** Offline ranking-quality metrics for a retrieval system: given a
    * ranked candidate list (q_id, rn, neighbor_id — e.g.
    * [[Similarity.cosineTopK]] or [[bm25TopK]] output) and a relevance
    * set (q_id, neighbor_id), the standard eval readout per query:
    * hits@k, precision@k, recall@k, MRR and nDCG@k (binary gains) —
    * the numbers that gate an ANN index or retriever change before it
    * ships.
    *
    * Scale shape: the ranked list is ≤ k rows/query regardless of
    * corpus size; one equi-join flags relevance, one hash-agg folds the
    * metrics, and the ideal-DCG lookup is a broadcast k-row spec frame.
    * Nothing corpus-sized appears anywhere. Float determinism: MRR is
    * max(1/rn) over relevant rows (order-free); DCG sums 9-dp-rounded
    * 1/log2(rn+1) terms as DECIMAL(18,9); the ideal-DCG cumulative is
    * built from the SAME rounded terms, so nDCG is a ratio of two
    * order-independent decimals. Queries with no relevant document get
    * null recall/nDCG (0/0 pinned to null, SQL semantics). */
  def rankingMetrics(ranked: DataFrame, rel: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val s = ranked.sparkSession
    val totals = rel.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val flagged = ranked.where(col("rn") <= k)
      .join(rel.withColumn("_rel", lit(1)), Seq("q_id", "neighbor_id"),
        "left")
      .withColumn("_rel", coalesce(col("_rel"), lit(0)))
    val zero = lit(BigDecimal(0).setScale(9)).cast("decimal(18,9)")
    val perQ = flagged.groupBy("q_id").agg(
      sum(col("_rel")).cast("long").as("hits"),
      max(when(col("_rel") === 1,
        round(lit(1.0) / col("rn"), 9)).otherwise(lit(0.0))).as("_mrr"),
      sum(when(col("_rel") === 1,
        round(lit(1.0) / log2(col("rn") + 1), 9).cast("decimal(18,9)"))
        .otherwise(zero)).as("_dcg"))
    // ideal DCG after i hits, i = 1..k: cumulative sum of the SAME
    // 9-dp-rounded gain terms (k rows — the single-partition window is
    // a spec-frame fold, not a data window)
    val gains = s.range(1, k + 1L).select(col("id").cast("int").as("_i"),
      round(lit(1.0) / log2(col("id") + 1), 9).cast("decimal(18,9)")
        .as("_g"))
    val idcg = gains.select(col("_i"), sum(col("_g")).over(
        org.apache.spark.sql.expressions.Window.orderBy("_i")
          .rowsBetween(Long.MinValue, 0)).as("_idcg"))
    perQ
      .join(totals, Seq("q_id"), "left")
      .withColumn("n_rel", coalesce(col("n_rel"), lit(0L)))
      .join(broadcast(idcg), least(col("n_rel"), lit(k)) === col("_i"),
        "left")
      .select(col("q_id"), col("n_rel"), col("hits"),
        round(col("hits") / lit(k.toDouble), 6).as("precision_r"),
        when(col("n_rel") > 0, round(col("hits") / col("n_rel"), 6))
          .as("recall_r"),
        round(col("_mrr"), 6).as("mrr_r"),
        when(col("n_rel") > 0,
          round(col("_dcg").cast("double") / col("_idcg").cast("double"),
            6)).as("ndcg_r"))
  }

  /** Average precision @k per query plus the corpus MAP — the
    * rank-position-weighted companion to [[rankingMetrics]]'s set
    * metrics: AP@k = Σ_{rel hits at rank i} P@i / min(n_rel, k), the
    * area under the precision–recall steps a single precision@k
    * number flattens. Each P@i term is 9-dp-rounded and
    * DECIMAL-summed (the DCG posture) so the per-query AP and the MAP
    * over queries are reduction-order independent. Queries with no
    * relevant documents carry null AP and are excluded from MAP.
    * Emits per query: n_rel, hits, ap_r, map_r (MAP repeated — the
    * headline rides every row).
    *
    * Shape: same as rankingMetrics — the ≤k-row/query ranked list is
    * the only input grain; one window over it, two rollups. */
  def averagePrecision(ranked: DataFrame, rel: DataFrame,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val totals = rel.groupBy("q_id").agg(count(lit(1)).as("n_rel"))
    val flagged = ranked.where(col("rn") <= k)
      .join(rel.withColumn("_rel", lit(1)), Seq("q_id", "neighbor_id"),
        "left")
      .withColumn("_rel", coalesce(col("_rel"), lit(0)))
    val w = Window.partitionBy(col("q_id")).orderBy(col("rn"))
    val zero = lit(BigDecimal(0).setScale(9)).cast("decimal(18,9)")
    val perQ = flagged
      .withColumn("_cum", sum(col("_rel")).over(w))
      .groupBy("q_id")
      .agg(sum(col("_rel")).cast("long").as("hits"),
        sum(when(col("_rel") === 1,
          round(col("_cum").cast("double") / col("rn"), 9)
            .cast("decimal(18,9)")).otherwise(zero)).as("_apsum"))
      .join(broadcast(totals), Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_rel"), lit(0L)).as("n_rel"),
        col("hits"),
        when(coalesce(col("n_rel"), lit(0L)) > 0,
          round(col("_apsum").cast("double")
            / least(col("n_rel"), lit(k.toLong)).cast("double"), 9))
          .as("_ap"))
    val map = perQ.agg(
      (sum(round(col("_ap"), 9).cast("decimal(18,9)")).cast("double")
        / count(col("_ap"))).as("_map"))
    perQ.crossJoin(broadcast(map))
      .select(col("q_id"), col("n_rel"), col("hits"),
        round(col("_ap"), 6).as("ap_r"),
        round(col("_map"), 6).as("map_r"))
  }

  /** BM25 with PSEUDO-RELEVANCE FEEDBACK (Rocchio-lite two-pass
    * retrieval): score the seed query, take the top `fbDocs` docs as
    * assumed-relevant, expand the query with the `fbTerms` terms most
    * document-frequent WITHIN that feedback set (length >= minLen, seed
    * terms excluded, ties lexicographic), and re-score with the
    * expanded query — recall the one-shot query cannot reach.
    *
    * Fully declarative: the expansion terms stay a (broadcast) FRAME —
    * never a collected list — so both passes are the same join shape
    * as [[bm25TopK]] and the corpus-wide token table is computed once
    * and cached for the two passes + dl. Selection determinism: both
    * the feedback cut and the final rank order by (6-dp-rounded score,
    * id) — raw-double ordering across engines is the trap the rounding
    * avoids. Returns `k` rows: rnk, id, n_terms_hit, bm25. */
  def bm25Prf(docs: DataFrame, idCol: String, textCol: String,
      seedTerms: Seq[String], fbDocs: Int, fbTerms: Int, k: Int,
      minLen: Int = 4, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(seedTerms.nonEmpty && fbDocs > 0 && fbTerms > 0 && k > 0,
      "bm25Prf needs seeds and positive cuts")
    val tok = docs.select(col(idCol),
        explode(TextOps.tokens(TextOps.normalize(col(textCol))))
          .as("term"))
      .cache() // three consumers: dl, both tf passes, expansion
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val consts = dl.agg(count(lit(1)).as("n_docs"),
      avg(col("dl")).as("avgdl"))
    def score(termFrame: DataFrame): DataFrame = {
      val tf = tok.join(broadcast(termFrame), Seq("term"))
        .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
      val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val idf = log(lit(1.0) +
        (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
      val tfNorm = (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0 - b)
          + lit(b) * col("dl") / col("avgdl")))
      tf.join(dl, idCol)
        .join(broadcast(df_), "term")
        .join(broadcast(consts))
        .withColumn("term_score", idf * tfNorm)
        .groupBy(idCol)
        .agg(count(lit(1)).as("n_terms_hit"),
          round(sum(col("term_score")), 6).as("bm25"))
    }
    val seeds = docs.sparkSession
      .createDataFrame(seedTerms.map(Tuple1(_)))
      .toDF("term")
    val fb = score(seeds)
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(fbDocs)
      .select(col(idCol))
      .localCheckpoint() // the feedback cut feeds the expansion join
    val expansion = tok.join(broadcast(fb), Seq(idCol), "left_semi")
      .where(length(col("term")) >= minLen &&
        !col("term").isin(seedTerms: _*))
      .groupBy(col("term"))
      .agg(count_distinct(col(idCol)).as("_dffb"))
      .orderBy(col("_dffb").desc, col("term").asc)
      .limit(fbTerms)
      .select(col("term"))
    val expanded = seeds.unionByName(expansion).localCheckpoint()
    score(expanded)
      .orderBy(col("bm25").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rnk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("bm25").desc, col(idCol).asc)))
      .select(col("rnk"), col(idCol), col("n_terms_hit"), col("bm25"))
  }

  /** Query-likelihood retrieval with DIRICHLET smoothing (Zhai &
    * Lafferty, SIGIR 2001) — the language-model ranker next to BM25:
    *   score(d) = Σ_q ln((tf_{q,d} + μ·p_c(q)) / (dl_d + μ)),
    * p_c(q) = corpus frequency / corpus tokens. Decomposed so only
    * HIT (doc, term) cells join: the zero-tf base Σ_q ln(μ·p_q/(dl+μ))
    * is a |terms|-grid broadcast against the per-doc dl frame, and
    * each hit adds ln((tf + μp_q)/(dl+μ)) − ln(μp_q/(dl+μ)). Restricted
    * to docs with ≥1 hit (the standard candidate set — a no-hit doc
    * ranks below every hit doc at these μ, documented). Log terms ride
    * the 12-dp grid. Returns top-k (rnk, id, n_terms_hit, ql_r). */
  def lmDirichletTopK(docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int, mu: Double): DataFrame = {
    require(queryTerms.nonEmpty && mu > 0)
    val tok = docs.select(col(idCol),
      explode(TextOps.tokens(TextOps.normalize(col(textCol))))
        .as("term"))
    val dl = tok.groupBy(idCol).agg(count(lit(1)).as("dl"))
    val cTot = tok.agg(count(lit(1)).as("_ct"))
    val cf = tok.where(col("term").isin(queryTerms: _*))
      .groupBy(col("term")).agg(count(lit(1)).as("_cf"))
      .crossJoin(broadcast(cTot))
      .select(col("term"),
        (lit(mu) * col("_cf").cast("double")
          / col("_ct").cast("double")).as("_mp"))
    val base = dl.crossJoin(broadcast(cf))
      .withColumn("_bt", round(log(col("_mp")
        / (col("dl").cast("double") + mu)), 12))
      .groupBy(col(idCol), col("dl"))
      .agg(sum(t12(col("_bt"))).cast("double").as("_base"))
    val tf = tok.where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val corr = tf.join(dl, Seq(idCol)).join(broadcast(cf), Seq("term"))
      .withColumn("_c", round(log((col("tf").cast("double")
          + col("_mp")) / (col("dl").cast("double") + mu)), 12)
        - round(log(col("_mp")
          / (col("dl").cast("double") + mu)), 12))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_terms_hit"),
        sum(t12(col("_c"))).cast("double").as("_corr"))
    corr.join(base, Seq(idCol))
      .select(col(idCol), col("n_terms_hit"),
        round(col("_base") + col("_corr"), 6).as("ql_r"))
      .orderBy(col("ql_r").desc, col(idCol).asc)
      .limit(k)
      .withColumn("rnk", row_number().over(org.apache.spark.sql
        .expressions.Window.orderBy(col("ql_r").desc, col(idCol).asc)))
      .select(col("rnk"), col(idCol), col("n_terms_hit"), col("ql_r"))
      // explicit global sort on the k-row frame: the Verify dump order
      // contract (multi-row ⇒ top-level Sort) must be plan-visible
      .orderBy(col("rnk"))
  }

  /** Rank-Biased Overlap at depth k with extrapolation (Webber, Moffat
    * & Zobel, TOIS 2010): the top-weighted similarity of two rankings,
    *   RBO_ext = (1−p)/p · Σ_{d=1..k} (X_d/d)·p^d + (X_k/k)·p^k,
    * where X_d = |prefix_d(A) ∩ prefix_d(B)|. The ranking-drift number
    * a retrieval deployment publishes when it swaps scorers — unlike
    * Kendall/Spearman it tolerates non-conjoint lists and weights the
    * head (persistence p ≈ 0.9 puts ~86% of the mass in the top 10).
    *
    * Inputs are two ≤k rank lists (idCol, rankCol 1-based). Shape:
    * everything lives on bounded ≤k frames — the intersection is one
    * equi-join on id, X_d comes from a broadcast depth-grid join on
    * max(rank_a, rank_b) ≤ d (k² grid rows, never data), one scalar
    * out: (k, n_common, rbo_ext_r). */
  def rboExt(a: DataFrame, b: DataFrame, idCol: String,
      rankCol: String, k: Int, p: Double): DataFrame = {
    val ma = a.select(col(idCol).as("_id"), col(rankCol).as("_ra"))
      .where(col("_ra") <= k)
    val mb = b.select(col(idCol).as("_id"), col(rankCol).as("_rb"))
      .where(col("_rb") <= k)
    val both = ma.join(mb, Seq("_id"))
      .select(greatest(col("_ra"), col("_rb")).as("_dmin"))
    val depths = a.sparkSession.range(1, k + 1).toDF("_d")
    val xd = broadcast(depths).crossJoin(both)
      .groupBy(col("_d"))
      .agg(sum(when(col("_dmin") <= col("_d"), 1L).otherwise(0L))
        .as("_xd"))
    xd.agg(
        sum(t12(col("_xd").cast("double") / col("_d")
          * pow(lit(p), col("_d")))).cast("double").as("_s"),
        max(when(col("_d") === k, col("_xd"))).as("_xk"))
      .select(lit(k).as("k"), col("_xk").as("n_common"),
        round(lit((1.0 - p) / p) * col("_s")
          + col("_xk").cast("double") / k * math.pow(p, k), 6)
          .as("rbo_ext_r"))
  }

  /** Expected Reciprocal Rank at k (Chapelle et al., CIKM 2009): the
    * cascade-model metric — a user scans down the ranking and stops at
    * rank r with probability R_r·Π_{i<r}(1−R_i), where
    * R = (2^grade − 1)/2^maxGrade;
    *   ERR@k = Σ_{r≤k} (1/r)·R_r·Π_{i<r}(1−R_i).
    * Complements MAP/NDCG (q226): ERR is the metric under which a
    * highly relevant hit at rank 1 makes later hits nearly worthless —
    * the dedup-sensitive view of ranking quality.
    *
    * Input: a ≤k ranked list (rankCol 1-based, gradeCol integer
    * grades 0..maxGrade). Shape: one ≤k frame; the stop-probability
    * prefix product is exp(Σ ln(1−R)) over the ranked prefix — always
    * finite because R = (2^g − 1)/2^gmax < 1 for every grade, so
    * 1−R ≥ 2^−gmax > 0 by construction. The ln terms are
    * 12-dp-gridded so the DuckDB oracle sums the identical decimals.
    * The prefix window orders a ≤k post-limit frame (WindowGrainSpec:
    * post-limit grain). */
  def errAtK(ranked: DataFrame, rankCol: String, gradeCol: String,
      k: Int, maxGrade: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rr = ranked.where(col(rankCol) <= k)
      .select(col(rankCol).as("_r"),
        ((pow(lit(2.0), col(gradeCol).cast("double")) - 1.0)
          / math.pow(2.0, maxGrade)).as("_rel"))
    val wPrev = Window.orderBy(col("_r"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val terms = rr
      .withColumn("_lnSum", coalesce(
        sum(t12(log(lit(1.0) - col("_rel")))).over(wPrev)
          .cast("double"), lit(0.0)))
      .select((exp(col("_lnSum")) * col("_rel") / col("_r"))
        .as("_term"))
    terms.agg(lit(k).as("k"),
      round(sum(t12(col("_term"))).cast("double"), 6).as("err_r"))
  }
}
