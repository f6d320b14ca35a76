package graft.tools

import org.apache.spark.sql.functions._

import graft.util.LocalSession

/** Scratch stage timing for the round-14 hot list (q430/q424/q215/q534/
  * q379/q81): times each pipeline stage twice in one JVM so the steady
  * (second) pass isolates which stage carries the cost. Not part of the
  * API. */
object HotProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(32, logLevel = "ERROR")
    import graft.ops.{Curation, Dedup, Fit, TextOps}
    import graft.util.Tables._
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[hot] $label%-36s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val docs = documents(spark, sfDir)
    for (pass <- 1 to 2) {
      println(s"=== pass $pass ===")
      // ---- q430 naive bayes lang id ----
      val grams = docs
        .select(col("doc_id"), col("lang").as("_true"),
          TextOps.normalize(col("text")).as("_t"))
        .select(col("doc_id"), col("_true"),
          explode(expr("CASE WHEN length(_t) >= 3 THEN " +
            "transform(sequence(1, length(_t) - 2), " +
            "i -> substring(_t, i, 3)) ELSE array() END")).as("_g"))
      time("q430 gram explode (noop)")(noop(grams))
      val hashed = grams.withColumn("_b", TextOps.hash60(col("_g")) % 4096)
        .drop("_g")
      time("q430 gram+md5hash (noop)")(noop(hashed))
      val docBuckets = hashed
        .groupBy(col("doc_id"), col("_true"), col("_b"))
        .agg(count(lit(1)).as("_n"))
      time("q430 docBuckets agg (noop)")(noop(docBuckets))
      time("q430 full")(noop(TextOps.naiveBayesLangConfusion(
        docs, "doc_id", "text", "lang", 4096)))
      // ---- q424 psis khat ----
      val w = Curation.importanceWeights(
          docs.withColumn("is_tgt", col("lang") === "en"),
          "doc_id", "text", "is_tgt", 4096)
      time("q424 importanceWeights (noop)")(noop(w))
      val wm = w.select(col("doc_id"),
        round(round(exp(round(col("logw_r"), 12)), 12) * 1e6)
          .cast("long").as("w_micro"))
      time("q424 psisKhat full")(noop(
        Fit.psisKhat(wm, "w_micro", "doc_id", 5, bandWidth = 100000.0)))
      // ---- q81 simhash removals ----
      val sh = docSimhashTable(spark, sfDir)
      time("q81 simhash table read")(noop(sh))
      val pairs = Dedup.simhashNearDupsOnTable(sh, "doc_id", 3)
      time("q81 bandjoin+verify (noop)")(noop(pairs))
      time("q81 full removals")(noop(
        Dedup.simhashRemovalsOnTable(sh, "doc_id", 3)))
      // ---- q215 hits ----
      val edges = suppEdgeTable(spark, sfDir)
      time("q215 edge table read")(noop(edges))
      time("q215 hits full")(noop(
        graft.ops.Graphs.hits(edges, 8)))
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
