package graft.tools

import org.apache.spark.sql.functions._

import graft.util.LocalSession

/** Scratch per-stage timing for the r13→r14 mover adjudication
  * (q262/q338/q133/q148): times each pipeline stage of q262 twice in
  * one JVM so the steady (second) pass isolates WHICH stage carries
  * the elevation. Not part of the API. */
object MoverProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(32, logLevel = "ERROR")
    import graft.ops.Dedup
    import graft.util.Tables._
    def time(label: String)(body: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = body
      println(f"[probe] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.3f s  (n=$n)")
    }
    for (pass <- 1 to 2) {
      println(s"=== pass $pass ===")
      time("shingleTable.count")(docShingleTable(spark, sfDir).count())
      val sh = docShingleTable(spark, sfDir)
      val cand = withSubsetCoPartition(spark)(
        Dedup.bandJoin(docBandTable(spark, sfDir), "doc_id", "doc_a",
          "doc_b").localCheckpoint())
      time("bandJoin+checkpoint")(cand.count())
      time("jaccardForPairs")(
        Dedup.jaccardForPairs(sh, cand, "doc_id")
          .where(col("jaccard") >= 0.5).count())
      time("prefixFilterExact")(
        Dedup.prefixFilterPairsOnShingles(sh, "doc_id", 0.5).count())
      spark.sqlContext.clearCache()
      // sub-stages of the AllPairs pipeline
      val dfreq = sh.groupBy(col("h"))
        .agg(count(lit(1)).as("_df"))
      time("  allpairs:dfreq")(dfreq.count())
      val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("_n"))
      time("  allpairs:sizes")(sizes.count())
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id")).orderBy(col("_df"), col("h"))
      val prefix = sh.join(dfreq, "h")
        .withColumn("_rn", row_number().over(w))
        .join(sizes, "doc_id")
        .where(col("_rn") <=
          col("_n") - ceil(lit(0.5) * col("_n")) + 1)
        .select(col("doc_id"), lit(0).as("band"), col("h").as("bk"))
      time("  allpairs:prefix")(prefix.count())
      val cand2 = Dedup.bandJoin(prefix, "doc_id", "doc_a", "doc_b")
      time("  allpairs:bandJoin")(cand2.count())
      val cand3 = cand2.cache()
      cand3.count()
      time("  allpairs:verify(cached cand)")(
        Dedup.jaccardForPairs(sh, cand3, "doc_id")
          .filter(col("jaccard") >= 0.5).count())
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
