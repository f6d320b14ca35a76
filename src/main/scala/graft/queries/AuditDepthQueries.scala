package graft.queries

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, TextOps}
import graft.util.Tables._
import graft.util.Exact.t12

/** Round-9 pipeline-audit depth: is the dedup deleting the good stuff
  * (kept-vs-removed quality audit over the q61 LSH chain), tokenizer
  * vocabulary coverage (OOV rate per source), term burstiness (cf/df),
  * and embedding-norm health per label — the checks a curation
  * pipeline publishes alongside its outputs.
  */
object AuditDepthQueries {

  val all: Seq[Q] = Seq(

    // Survivor-bias audit of near-dup removal: do the docs q61 removes
    // differ systematically (length, token count, source spread) from
    // the kept set? Rides the verified q61 LSH chain; all means from
    // exact integer sums.
    Q("q328_dedup_quality_audit", {
      val norm = TextQueries.normSql
      Some(s"""${TextQueries.neardupReachCte},
              |rem AS (
              |  SELECT node AS doc_id FROM (
              |    SELECT node, min(r) AS label FROM reach GROUP BY node)
              |  WHERE label < node),
              |j AS (
              |  SELECT d.doc_id, d.n_chars,
              |    len(string_split($norm, ' '))::BIGINT AS n_tok,
              |    d.source,
              |    d.doc_id IN (SELECT doc_id FROM rem) AS removed
              |  FROM documents d)
              |SELECT removed, count(*)::BIGINT AS n_docs,
              |  round(sum(n_chars)::DOUBLE / count(*), 6)
              |    AS mean_chars_r,
              |  round(sum(n_tok)::DOUBLE / count(*), 6)
              |    AS mean_tokens_r,
              |  count(DISTINCT source)::BIGINT AS n_sources
              |FROM j GROUP BY 1 ORDER BY removed""".stripMargin)
    },
      (s, d) => {
        val removals = Dedup
          .nearDupRemovalsOnIndex(docShingleTable(s, d),
            docBandTable(s, d), "doc_id", 0.5)
          .select(col("doc_id").as("_rid"))
        documents(s, d)
          .join(broadcast(removals), col("doc_id") === col("_rid"),
            "left")
          .select(col("n_chars"),
            size(TextOps.tokens(TextOps.normalize(col("text"))))
              .cast("long").as("_ntok"),
            col("source"), col("_rid").isNotNull.as("removed"))
          .groupBy(col("removed"))
          .agg(count(lit(1)).as("n_docs"),
            round(sum(col("n_chars")).cast("double") / count(lit(1)), 6)
              .as("mean_chars_r"),
            round(sum(col("_ntok")).cast("double") / count(lit(1)), 6)
              .as("mean_tokens_r"),
            countDistinct(col("source")).as("n_sources"))
          .orderBy("removed")
      }),

    // Tokenizer-vocabulary coverage: with the top-16 corpus tokens as
    // the vocab (count-desc, token-asc ties), what fraction of each
    // source's token stream is out-of-vocabulary — the coverage audit
    // run before freezing a tokenizer.
    Q("q329_oov_rate", {
      val norm = TextQueries.normSql
      Some(s"""WITH toks AS (
              |  SELECT source, unnest(string_split($norm, ' ')) AS w
              |  FROM documents),
              |vocab AS (
              |  SELECT w FROM (
              |    SELECT w, count(*) AS n FROM toks GROUP BY 1)
              |  ORDER BY n DESC, w LIMIT 16)
              |SELECT source, count(*)::BIGINT AS n_tokens,
              |  sum(CASE WHEN w NOT IN (SELECT w FROM vocab) THEN 1
              |    ELSE 0 END)::BIGINT AS n_oov,
              |  round(sum(CASE WHEN w NOT IN (SELECT w FROM vocab)
              |    THEN 1 ELSE 0 END)::DOUBLE / count(*), 6)
              |    AS oov_rate_r
              |FROM toks GROUP BY 1 ORDER BY source""".stripMargin)
    },
      (s, d) => {
        val toks = documents(s, d).select(col("source"),
          explode(TextOps.tokens(TextOps.normalize(col("text"))))
            .as("w"))
        val vocab = toks.groupBy(col("w"))
          .agg(count(lit(1)).as("_n"))
          .orderBy(col("_n").desc, col("w").asc).limit(16)
          .select(col("w").as("_vw"))
        toks.join(broadcast(vocab), col("w") === col("_vw"), "left")
          .groupBy(col("source"))
          .agg(count(lit(1)).as("n_tokens"),
            sum(when(col("_vw").isNull, 1L).otherwise(0L)).as("n_oov"))
          .select(col("source"), col("n_tokens"), col("n_oov"),
            round(col("n_oov").cast("double") / col("n_tokens"), 6)
              .as("oov_rate_r"))
          .orderBy("source")
      }),

    // Term burstiness: collection frequency over document frequency —
    // cf/df ≫ 1 marks terms that clump inside few documents (content
    // words) vs spread evenly (function words); top 15 by the rounded
    // ratio with term tiebreak.
    Q("q330_term_burstiness", {
      val norm = TextQueries.normSql
      Some(s"""WITH toks AS (
              |  SELECT doc_id, unnest(string_split($norm, ' ')) AS w
              |  FROM documents)
              |SELECT w AS term, count(*)::BIGINT AS cf,
              |  count(DISTINCT doc_id)::BIGINT AS df,
              |  round(count(*)::DOUBLE / count(DISTINCT doc_id), 6)
              |    AS burst_r
              |FROM toks GROUP BY 1
              |ORDER BY burst_r DESC, term LIMIT 15""".stripMargin)
    },
      (s, d) => documents(s, d)
        .select(col("doc_id"),
          explode(TextOps.tokens(TextOps.normalize(col("text"))))
            .as("w"))
        .groupBy(col("w").as("term"))
        .agg(count(lit(1)).as("cf"),
          countDistinct(col("doc_id")).as("df"))
        .select(col("term"), col("cf"), col("df"),
          round(col("cf").cast("double") / col("df"), 6).as("burst_r"))
        .orderBy(col("burst_r").desc, col("term").asc).limit(15)),

    // Embedding-norm health per label: n, 12-dp-DECIMAL mean and the
    // min/max of the L2 norm — collapsed or exploding norms are the
    // first sign of a bad embedding batch (and they silently distort
    // any non-normalized distance op). Left-fold norm chains are
    // bit-identical cross-engine (the q34 convention).
    Q("q331_embedding_norms",
      Some("""WITH pre AS (
             |  SELECT label,
             |    sqrt(list_reduce(list_transform(embedding::DOUBLE[],
             |      y -> y * y), (a, b) -> a + b)) AS nrm
             |  FROM embeddings)
             |SELECT label, count(*)::BIGINT AS n,
             |  round(sum(round(nrm, 12)::DECIMAL(28,12))::DOUBLE
             |    / count(*), 6) AS mean_norm_r,
             |  round(min(nrm), 6) AS min_norm_r,
             |  round(max(nrm), 6) AS max_norm_r
             |FROM pre GROUP BY 1 ORDER BY label""".stripMargin),
      (s, d) => embeddings(s, d)
        .select(col("label"),
          expr("sqrt(aggregate(cast(embedding as array<double>), 0D," +
            " (a, y) -> a + y * y))").as("nrm"))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(sum(t12(col("nrm")))
            .cast("double") / count(lit(1)), 6).as("mean_norm_r"),
          round(min(col("nrm")), 6).as("min_norm_r"),
          round(max(col("nrm")), 6).as("max_norm_r"))
        .orderBy("label")))
}
