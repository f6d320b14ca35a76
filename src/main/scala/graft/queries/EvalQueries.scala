package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Profile, Ranks, Retrieval, Similarity, TimeSeries}
import graft.util.Tables._
import graft.util.Exact.t12

/** Evaluation-metrics batch: the offline readouts that gate a model,
  * index, or heuristic change — retrieval quality (hits/MRR/nDCG),
  * monotone association (Spearman), temporal self-similarity (ACF),
  * inter-rater agreement (Cohen's κ), and campaign-targeting lift.
  */
object EvalQueries {

  val all: Seq[Q] = Seq(

    // Retrieval eval of the exact cosine top-10 (q32's ranking) against
    // label-match relevance: hits/precision/recall/MRR/nDCG@10 per
    // query. DCG sums 9-dp-rounded 1/log2(rn+1) terms as DECIMAL and
    // the ideal-DCG cumulative is built from the SAME terms, so nDCG is
    // a ratio of order-independent decimals.
    Q("q226_retrieval_eval",
      Some("""WITH q AS (
             |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, label
             |  FROM embeddings WHERE vec_id < 5),
             |sims AS (
             |  SELECT q.q_id, e.vec_id AS neighbor_id,
             |    list_cosine_similarity(e.embedding::DOUBLE[], q.qe) AS sim
             |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
             |ranked AS (
             |  SELECT q_id, neighbor_id,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY sim DESC, neighbor_id) AS rn
             |  FROM sims WHERE sim IS NOT NULL),
             |rel AS (
             |  SELECT q.q_id, e.vec_id AS neighbor_id
             |  FROM embeddings e, q
             |  WHERE e.vec_id <> q.q_id AND e.label = q.label),
             |tot AS (
             |  SELECT q_id, count(*)::BIGINT AS n_rel FROM rel GROUP BY 1),
             |fl AS (
             |  SELECT r.q_id, r.rn,
             |    CASE WHEN rel.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
             |      AS is_rel
             |  FROM ranked r LEFT JOIN rel
             |    ON r.q_id = rel.q_id AND r.neighbor_id = rel.neighbor_id
             |  WHERE r.rn <= 10),
             |perq AS (
             |  SELECT q_id, sum(is_rel)::BIGINT AS hits,
             |    max(CASE WHEN is_rel = 1 THEN round(1.0 / rn, 9)
             |        ELSE 0.0 END) AS mrr0,
             |    sum(CASE WHEN is_rel = 1
             |        THEN round(1.0 / log2(rn + 1), 9)::DECIMAL(18,9)
             |        ELSE 0::DECIMAL(18,9) END) AS dcg
             |  FROM fl GROUP BY 1),
             |g AS (
             |  SELECT i, sum(round(1.0 / log2(i + 1), 9)::DECIMAL(18,9))
             |      OVER (ORDER BY i) AS idcg
             |  FROM generate_series(1, 10) AS t(i))
             |SELECT p.q_id, coalesce(tot.n_rel, 0)::BIGINT AS n_rel,
             |  p.hits,
             |  round(p.hits / 10.0, 6) AS precision_r,
             |  CASE WHEN tot.n_rel > 0
             |    THEN round(p.hits / tot.n_rel, 6) END AS recall_r,
             |  round(p.mrr0, 6) AS mrr_r,
             |  CASE WHEN tot.n_rel > 0
             |    THEN round(p.dcg::DOUBLE / g.idcg::DOUBLE, 6)
             |  END AS ndcg_r
             |FROM perq p LEFT JOIN tot USING (q_id)
             |LEFT JOIN g ON g.i = least(coalesce(tot.n_rel, 0), 10)
             |ORDER BY q_id""".stripMargin),
      (s, d) => {
        val emb = embeddings(s, d)
        val q = emb.filter(col("vec_id") < 5)
        val rel = broadcast(
            q.select(col("vec_id").as("q_id"), col("label").as("_l")))
          .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
            col("label") === col("_l") && col("neighbor_id") =!= col("q_id"))
          .select("q_id", "neighbor_id")
        Retrieval.rankingMetrics(Similarity.cosineTopK(emb, q, 10), rel, 10)
          .orderBy("q_id")
      }),

    // Spearman rank correlation (tie-corrected) of document length vs
    // whitespace token count per language — computed entirely on
    // integer doubled ranks; see Ranks.spearman.
    Q("q227_spearman",
      Some("""WITH base AS (
             |  SELECT lang, n_chars AS x,
             |    len(string_split(text, ' '))::BIGINT AS y
             |  FROM documents),
             |rx AS (
             |  SELECT lang, x,
             |    2 * coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY x
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + cnt + 1 AS r2
             |  FROM (SELECT lang, x, count(*)::BIGINT AS cnt
             |        FROM base GROUP BY 1, 2) t),
             |ry AS (
             |  SELECT lang, y,
             |    2 * coalesce(sum(cnt) OVER (PARTITION BY lang ORDER BY y
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      + cnt + 1 AS r2
             |  FROM (SELECT lang, y, count(*)::BIGINT AS cnt
             |        FROM base GROUP BY 1, 2) t),
             |j AS (
             |  SELECT b.lang, rx.r2 AS rx, ry.r2 AS ry
             |  FROM base b
             |  JOIN rx ON b.lang = rx.lang AND b.x = rx.x
             |  JOIN ry ON b.lang = ry.lang AND b.y = ry.y),
             |m AS (
             |  SELECT lang, count(*)::BIGINT AS n,
             |    sum(rx::HUGEINT) AS sx, sum(ry::HUGEINT) AS sy,
             |    sum(rx::HUGEINT * ry::HUGEINT) AS sxy,
             |    sum(rx::HUGEINT * rx::HUGEINT) AS sxx,
             |    sum(ry::HUGEINT * ry::HUGEINT) AS syy
             |  FROM j GROUP BY 1)
             |SELECT lang, n,
             |  CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
             |    THEN round((n * sxy - sx * sy)::DOUBLE
             |      / sqrt((n * sxx - sx * sx)::DOUBLE
             |        * (n * syy - sy * sy)::DOUBLE), 6)
             |  END AS spearman_r
             |FROM m ORDER BY lang""".stripMargin),
      (s, d) => Ranks.spearman(
          documents(s, d).select(col("lang"), col("n_chars").as("x"),
            size(split(col("text"), " ")).cast("long").as("y")),
          "lang", "x", "y")
        .orderBy("lang")),

    // Daily-count autocorrelation per event type at lags 1..7 on the
    // zero-filled day spine — integer aggregates, one final float
    // expression (see TimeSeries.acfDaily).
    Q("q228_acf",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |bounds AS (
             |  SELECT event_type, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |spine AS (
             |  SELECT event_type,
             |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
             |  FROM bounds),
             |filled AS (
             |  SELECT s.event_type, s.day, coalesce(d.x, 0)::BIGINT AS x
             |  FROM spine s LEFT JOIN daily d USING (event_type, day)),
             |stats AS (
             |  SELECT event_type, count(*)::BIGINT AS n,
             |    sum(x)::BIGINT AS s, sum(x * x)::BIGINT AS ss
             |  FROM filled GROUP BY 1),
             |pairs AS (
             |  SELECT f1.event_type, l.lag, count(*)::BIGINT AS m,
             |    sum(f1.x * f2.x)::BIGINT AS p,
             |    sum(f1.x)::BIGINT AS a, sum(f2.x)::BIGINT AS b
             |  FROM filled f1
             |  CROSS JOIN (SELECT unnest(generate_series(1, 7))::INTEGER
             |              AS lag) l
             |  JOIN filled f2 ON f2.event_type = f1.event_type
             |    AND f2.day = f1.day + l.lag
             |  GROUP BY 1, 2)
             |SELECT p.event_type, p.lag, p.m AS n_pairs,
             |  CASE WHEN ss > (s::DOUBLE / n) * s THEN
             |    round((p.p - (s::DOUBLE / n) * (p.a + p.b)
             |      + p.m * (s::DOUBLE / n) * (s::DOUBLE / n))
             |      / (ss - (s::DOUBLE / n) * s), 6)
             |  END AS acf_r
             |FROM pairs p JOIN stats USING (event_type)
             |ORDER BY event_type, lag""".stripMargin),
      (s, d) => TimeSeries.acfDaily(events(s, d), "event_type", "ts", 7)
        .orderBy("event_type", "lag")),

    // Ljung–Box portmanteau test over q228's ACF at lags 1..7:
    // Q = n(n+2)·Σ r_k²/(n−k) — "is the daily series white noise at
    // all" in one number, the go/no-go before any forecasting model.
    // Built from the 6-dp ACF values both engines already agree on;
    // the 7-term float sum is 12-dp-rounded + DECIMAL-summed.
    Q("q299_ljung_box",
      Some("""WITH daily AS (
             |  SELECT event_type, ts::DATE AS day, count(*)::BIGINT AS x
             |  FROM events GROUP BY 1, 2),
             |bounds AS (
             |  SELECT event_type, min(day) AS d0, max(day) AS d1
             |  FROM daily GROUP BY 1),
             |spine AS (
             |  SELECT event_type,
             |    unnest(generate_series(d0, d1, INTERVAL 1 DAY))::DATE AS day
             |  FROM bounds),
             |filled AS (
             |  SELECT s.event_type, s.day, coalesce(d.x, 0)::BIGINT AS x
             |  FROM spine s LEFT JOIN daily d USING (event_type, day)),
             |stats AS (
             |  SELECT event_type, count(*)::BIGINT AS n,
             |    sum(x)::BIGINT AS s, sum(x * x)::BIGINT AS ss
             |  FROM filled GROUP BY 1),
             |pairs AS (
             |  SELECT f1.event_type, l.lag, count(*)::BIGINT AS m,
             |    sum(f1.x * f2.x)::BIGINT AS p,
             |    sum(f1.x)::BIGINT AS a, sum(f2.x)::BIGINT AS b
             |  FROM filled f1
             |  CROSS JOIN (SELECT unnest(generate_series(1, 7))::INTEGER
             |              AS lag) l
             |  JOIN filled f2 ON f2.event_type = f1.event_type
             |    AND f2.day = f1.day + l.lag
             |  GROUP BY 1, 2),
             |acf AS (
             |  SELECT p.event_type, p.lag, p.m, stats.n,
             |    CASE WHEN ss > (s::DOUBLE / n) * s THEN
             |      round((p.p - (s::DOUBLE / n) * (p.a + p.b)
             |        + p.m * (s::DOUBLE / n) * (s::DOUBLE / n))
             |        / (ss - (s::DOUBLE / n) * s), 6)
             |    END AS r
             |  FROM pairs p JOIN stats USING (event_type)),
             |q AS (
             |  SELECT event_type, max(n)::BIGINT AS n,
             |    count(*)::BIGINT AS m_lags,
             |    sum(round(r * r / m::DOUBLE, 12)::DECIMAL(28,12))
             |      AS t12
             |  FROM acf GROUP BY 1)
             |SELECT event_type, n, m_lags,
             |  round(n::DOUBLE * (n::DOUBLE + 2.0) * t12::DOUBLE, 6)
             |    AS q_r
             |FROM q ORDER BY event_type""".stripMargin),
      (s, d) => {
        val acf = TimeSeries.acfDaily(events(s, d), "event_type", "ts", 7)
        acf.withColumn("_n", col("n_pairs") + col("lag"))
          .groupBy(col("event_type"))
          .agg(max(col("_n")).as("n"), count(lit(1)).as("m_lags"),
            sum(t12(col("acf_r") * col("acf_r")
              / col("n_pairs").cast("double"))).as("_t12"))
          .select(col("event_type"), col("n"), col("m_lags"),
            round(col("n").cast("double")
              * (col("n").cast("double") + lit(2.0))
              * col("_t12").cast("double"), 6).as("q_r"))
          .orderBy("event_type")
      }),

    // Cohen's κ between two document-quality gates (char-length vs
    // token-count thresholds) per language: chance-corrected agreement
    // from one 2x2 confusion-matrix hash-agg.
    Q("q229_kappa",
      Some("""WITH r AS (
             |  SELECT lang, (n_chars >= 300) AS a,
             |    (len(string_split(text, ' ')) >= 50) AS b
             |  FROM documents),
             |m AS (
             |  SELECT lang, count(*)::BIGINT AS n,
             |    sum(CASE WHEN a AND b THEN 1 ELSE 0 END)::BIGINT AS n11,
             |    sum(CASE WHEN a AND NOT b THEN 1 ELSE 0 END)::BIGINT AS n10,
             |    sum(CASE WHEN NOT a AND b THEN 1 ELSE 0 END)::BIGINT AS n01,
             |    sum(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END)::BIGINT
             |      AS n00
             |  FROM r GROUP BY 1)
             |SELECT lang, n, n11, n10, n01, n00,
             |  round(((n11 + n00) * n)::DOUBLE / (n * n)::DOUBLE, 6) AS po_r,
             |  CASE WHEN n * n - ((n11 + n10) * (n11 + n01)
             |      + (n00 + n01) * (n00 + n10)) <> 0 THEN
             |    round(((n11 + n00) * n - ((n11 + n10) * (n11 + n01)
             |        + (n00 + n01) * (n00 + n10)))::DOUBLE
             |      / (n * n - ((n11 + n10) * (n11 + n01)
             |        + (n00 + n01) * (n00 + n10)))::DOUBLE, 6)
             |  END AS kappa_r
             |FROM m ORDER BY lang""".stripMargin),
      (s, d) => Profile.cohenKappa(
          documents(s, d),
          "lang",
          col("n_chars") >= 300,
          size(split(col("text"), " ")) >= 50)
        .orderBy("lang")),

    // Cumulative-gains / lift table: customers ranked by order count
    // (banded rank, no single-task sort), deciled with the exact SQL
    // ntile law, positives = placed >=1 URGENT order.
    Q("q230_lift_table",
      Some("""WITH score AS (
             |  SELECT o_custkey, count(*)::BIGINT AS sc,
             |    max(CASE WHEN o_orderpriority = '1-URGENT'
             |        THEN 1 ELSE 0 END) AS pos
             |  FROM orders GROUP BY 1),
             |t AS (
             |  SELECT pos,
             |    ntile(10) OVER (ORDER BY -sc, o_custkey) AS bucket
             |  FROM score),
             |per AS (
             |  SELECT bucket::BIGINT AS bucket, count(*)::BIGINT AS n_rows,
             |    sum(pos)::BIGINT AS n_pos
             |  FROM t GROUP BY 1),
             |c AS (
             |  SELECT bucket, n_rows, n_pos,
             |    sum(n_pos) OVER (ORDER BY bucket) AS cum_pos,
             |    sum(n_pos) OVER () AS tp, sum(n_rows) OVER () AS tr
             |  FROM per)
             |SELECT bucket, n_rows, n_pos,
             |  round(n_pos / n_rows, 6) AS rate_r,
             |  CASE WHEN tp > 0 THEN round(cum_pos / tp, 6) END
             |    AS capture_r,
             |  CASE WHEN tp > 0
             |    THEN round((n_pos / n_rows) / (tp / tr), 6) END AS lift_r
             |FROM c ORDER BY bucket""".stripMargin),
      (s, d) => Ranks.liftTable(
          orders(s, d).groupBy(col("o_custkey"))
            .agg(count(lit(1)).as("sc"),
              (max(when(col("o_orderpriority") === "1-URGENT", 1)
                .otherwise(0)) === 1).as("pos")),
          "sc", "o_custkey", "pos", buckets = 10, bandWidth = 4.0)
        .orderBy("bucket")),

    // Average precision @10 + MAP on the q226 fixture (cosine top-10,
    // label relevance): the rank-position-weighted retrieval readout —
    // P@i terms 9-dp DECIMAL-summed, MAP over answerable queries.
    Q("q314_average_precision",
      Some("""WITH q AS (
             |  SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe, label
             |  FROM embeddings WHERE vec_id < 5),
             |sims AS (
             |  SELECT q.q_id, e.vec_id AS neighbor_id,
             |    list_cosine_similarity(e.embedding::DOUBLE[], q.qe)
             |      AS sim
             |  FROM embeddings e, q WHERE e.vec_id <> q.q_id),
             |ranked AS (
             |  SELECT q_id, neighbor_id,
             |    row_number() OVER (PARTITION BY q_id
             |      ORDER BY sim DESC, neighbor_id) AS rn
             |  FROM sims WHERE sim IS NOT NULL),
             |rel AS (
             |  SELECT q.q_id, e.vec_id AS neighbor_id
             |  FROM embeddings e, q
             |  WHERE e.vec_id <> q.q_id AND e.label = q.label),
             |tot AS (
             |  SELECT q_id, count(*)::BIGINT AS n_rel FROM rel
             |  GROUP BY 1),
             |fl AS (
             |  SELECT r.q_id, r.rn,
             |    CASE WHEN rel.neighbor_id IS NOT NULL THEN 1 ELSE 0
             |      END AS is_rel
             |  FROM ranked r LEFT JOIN rel
             |    ON r.q_id = rel.q_id AND r.neighbor_id = rel.neighbor_id
             |  WHERE r.rn <= 10),
             |cum AS (
             |  SELECT q_id, rn, is_rel,
             |    sum(is_rel) OVER (PARTITION BY q_id ORDER BY rn) AS c
             |  FROM fl),
             |perq AS (
             |  SELECT q_id, sum(is_rel)::BIGINT AS hits,
             |    sum(CASE WHEN is_rel = 1
             |      THEN round(c::DOUBLE / rn, 9)::DECIMAL(18,9)
             |      ELSE 0::DECIMAL(18,9) END) AS apsum
             |  FROM cum GROUP BY 1),
             |pq AS (
             |  SELECT p.q_id, coalesce(tot.n_rel, 0)::BIGINT AS n_rel,
             |    p.hits,
             |    CASE WHEN tot.n_rel > 0 THEN
             |      round(p.apsum::DOUBLE
             |        / least(tot.n_rel, 10)::DOUBLE, 9) END AS ap
             |  FROM perq p LEFT JOIN tot USING (q_id)),
             |m AS (SELECT sum(round(ap, 9)::DECIMAL(18,9))::DOUBLE
             |    / count(ap) AS map FROM pq)
             |SELECT q_id, n_rel, hits, round(ap, 6) AS ap_r,
             |  round(map, 6) AS map_r
             |FROM pq, m ORDER BY q_id""".stripMargin),
      (s, d) => {
        val emb = embeddings(s, d)
        val q = emb.filter(col("vec_id") < 5)
        val rel = broadcast(
            q.select(col("vec_id").as("q_id"), col("label").as("_l")))
          .join(emb.select(col("vec_id").as("neighbor_id"),
            col("label")),
            col("label") === col("_l") &&
              col("neighbor_id") =!= col("q_id"))
          .select("q_id", "neighbor_id")
        Retrieval.averagePrecision(
            graft.ops.Similarity.cosineTopK(emb, q, 10), rel, 10)
          .orderBy("q_id")
      }),

    // Clipped-count ROUGE-2 between each source's two lowest-id
    // documents: the asymmetric n-gram containment readout (recall
    // against the reference, precision against the candidate, F1) —
    // all counts exact integers on the shared tokenization.
    Q("q315_rouge_pairs", {
      val norm = TextQueries.normSql
      Some(s"""WITH pr AS (
              |  SELECT source,
              |    max(CASE WHEN rn = 1 THEN doc_id END) AS doc_a,
              |    max(CASE WHEN rn = 2 THEN doc_id END) AS doc_b
              |  FROM (SELECT source, doc_id, row_number() OVER (
              |      PARTITION BY source ORDER BY doc_id) AS rn
              |    FROM documents) t
              |  WHERE rn <= 2 GROUP BY 1
              |  HAVING max(CASE WHEN rn = 2 THEN doc_id END)
              |    IS NOT NULL),
              |toks AS (
              |  SELECT doc_id, string_split($norm, ' ') AS t
              |  FROM documents
              |  WHERE doc_id IN (SELECT doc_a FROM pr
              |    UNION SELECT doc_b FROM pr)),
              |bi AS (
              |  SELECT doc_id, t[g.i] AS w1, t[g.i + 1] AS w2
              |  FROM toks, unnest(generate_series(1, len(t) - 1))
              |    AS g(i)),
              |bc AS (SELECT doc_id, w1, w2, count(*)::BIGINT AS cnt
              |       FROM bi GROUP BY 1, 2, 3),
              |tt AS (SELECT doc_id, sum(cnt)::BIGINT AS nbi FROM bc
              |       GROUP BY 1),
              |ov AS (
              |  SELECT pr.source,
              |    sum(least(a.cnt, b.cnt))::BIGINT AS overlap
              |  FROM pr JOIN bc a ON a.doc_id = pr.doc_a
              |  JOIN bc b ON b.doc_id = pr.doc_b
              |    AND a.w1 = b.w1 AND a.w2 = b.w2
              |  GROUP BY 1)
              |SELECT pr.source, pr.doc_a, pr.doc_b,
              |  ta.nbi AS n_bi_a, tb.nbi AS n_bi_b,
              |  coalesce(ov.overlap, 0)::BIGINT AS overlap,
              |  CASE WHEN tb.nbi > 0 THEN
              |    round(coalesce(ov.overlap, 0)::DOUBLE
              |      / tb.nbi::DOUBLE, 6) END AS rouge2_recall_r,
              |  CASE WHEN ta.nbi > 0 THEN
              |    round(coalesce(ov.overlap, 0)::DOUBLE
              |      / ta.nbi::DOUBLE, 6) END AS rouge2_precision_r,
              |  CASE WHEN ta.nbi > 0 AND tb.nbi > 0
              |      AND coalesce(ov.overlap, 0)::DOUBLE / ta.nbi::DOUBLE
              |        + coalesce(ov.overlap, 0)::DOUBLE / tb.nbi::DOUBLE
              |        > 0 THEN
              |    round(2.0 * (coalesce(ov.overlap, 0)::DOUBLE
              |        / ta.nbi::DOUBLE)
              |      * (coalesce(ov.overlap, 0)::DOUBLE / tb.nbi::DOUBLE)
              |      / ((coalesce(ov.overlap, 0)::DOUBLE
              |          / ta.nbi::DOUBLE)
              |        + (coalesce(ov.overlap, 0)::DOUBLE
              |          / tb.nbi::DOUBLE)), 6) END AS rouge2_f1_r
              |FROM pr JOIN tt ta ON ta.doc_id = pr.doc_a
              |JOIN tt tb ON tb.doc_id = pr.doc_b
              |LEFT JOIN ov ON ov.source = pr.source
              |ORDER BY pr.source""".stripMargin)
    },
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        val pr = documents(s, d).select(col("source"), col("doc_id"))
          .withColumn("rn", row_number().over(w))
          .where(col("rn") <= 2)
          .groupBy(col("source"))
          .agg(max(when(col("rn") === 1, col("doc_id"))).as("doc_a"),
            max(when(col("rn") === 2, col("doc_id"))).as("doc_b"))
          .where(col("doc_b").isNotNull)
        graft.ops.TextOps.rouge2Pairs(documents(s, d), "doc_id", "text",
            pr, "source", "doc_a", "doc_b")
          .orderBy("source")
      }))
}
