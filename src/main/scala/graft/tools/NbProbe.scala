package graft.tools

import org.apache.spark.sql.functions._

import graft.util.Exact.t12
import graft.util.LocalSession

/** Stage timing for the r15 q430 pipeline (row-local bucket counts):
  * isolates the gram-hash kernel, the bucket-count explode, the
  * checkpoint, the wide-grid scoring agg, and the argmax window. Not
  * part of the API. */
object NbProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(32, logLevel = "ERROR")
    import graft.ops.TextOps
    import graft.util.Tables._
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[nb] $label%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val docs = documents(spark, sfDir)
    val buckets = 4096
    for (pass <- 1 to 2) {
      println(s"=== pass $pass ===")
      val gramArrs = docs
        .select(col("doc_id"), col("lang").as("_true"),
          TextOps.normalize(col("text")).as("_t"))
        .select(col("doc_id"), col("_true"),
          graft.expr.Hash60Kernel.gramHashesCol(col("_t"), 3).as("_hs"))
      time("gram hash arrays (noop)")(noop(gramArrs))
      val bc = gramArrs.select(col("doc_id"), col("_true"),
          explode(graft.expr.BucketCounts.bucket_counts(col("_hs"),
            buckets)).as("_bc"))
        .select(col("doc_id"), col("_true"),
          col("_bc.b").as("_b"), col("_bc.n").as("_n"))
      time("bucket_counts explode (noop)")(noop(bc))
      val cp = bc.localCheckpoint()
      time("localCheckpoint materialize")(cp.count())
      val counts = cp.groupBy(col("_true").as("_lang"), col("_b"))
        .agg(sum(col("_n")).as("_c"))
      time("class counts agg (noop)")(noop(counts))
      // scoring sub-stages on the checkpointed docBuckets
      val tot = counts.groupBy(col("_lang")).agg(sum(col("_c")).as("_tot"))
      val prior = docs.groupBy(col("lang").as("_lang"))
        .agg(count(lit(1)).as("_ndl"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("_nd"))))
        .select(col("_lang"),
          round(log(col("_ndl").cast("double")
            / col("_nd").cast("double")), 12).as("_lnprior"))
      val lpGrid = spark.range(0, buckets).toDF("_b")
        .crossJoin(tot.join(prior, Seq("_lang")))
        .join(counts, Seq("_lang", "_b"), "left")
        .select(col("_lang"), col("_b"), col("_lnprior"),
          round(log((coalesce(col("_c"), lit(0L)).cast("double") + 1.0)
            / (col("_tot").cast("double") + buckets)), 12).as("_lp"))
      val lpWide0 = lpGrid.groupBy(col("_b"))
        .pivot("_lang").agg(first(col("_lp")))
      time("lpWide pivot build (noop)")(noop(lpWide0))
      val langs = lpWide0.columns.filter(_ != "_b")
      println("[nb] langs = " + langs.length)
      val lpWide = lpWide0.toDF("_b" +: langs.map(l => s"_lp_$l"): _*)
      val llCols = langs.map(l =>
        sum(t12(col(s"`_lp_$l`") * col("_n"))).cast("double")
          .as(s"_ll_$l"))
      val scoredWide = cp
        .join(broadcast(lpWide), Seq("_b"))
        .groupBy(col("doc_id"), col("_true"))
        .agg(llCols.head, llCols.tail: _*)
      time("scoredWide agg (noop)")(noop(scoredWide))
      time("scoredWide agg 2nd (noop)")(noop(scoredWide))
      time("full naiveBayesLangConfusion (noop)")(noop(
        TextOps.naiveBayesLangConfusion(docs, "doc_id", "text", "lang",
          buckets)))
      println("[nb] docBuckets rows = " + cp.count())
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
