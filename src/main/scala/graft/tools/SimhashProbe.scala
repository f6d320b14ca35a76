package graft.tools

import org.apache.spark.sql.functions._

import graft.util.LocalSession

/** Stage decomposition of the simhash near-dup pipeline (q80/q81):
  * banding, valve, self-join, verify, components. Not part of the
  * API. */
object SimhashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = LocalSession(32, logLevel = "ERROR")
    import graft.ops.Dedup
    import graft.util.Tables._
    def time(label: String)(body: => Unit): Unit = {
      val t0 = System.nanoTime()
      body
      println(f"[sim] $label%-34s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    val sh = docSimhashTable(spark, sfDir)
    for (pass <- 1 to 2) {
      println(s"=== pass $pass ===")
      val bits = 15; val mask = (1L << bits) - 1
      val bandStructs = (0 until 4).map { b =>
        s"struct($b AS band, CAST(shiftright(simhash, ${b * bits}) & ${mask}L AS STRING) AS bk)"
      }
      val bands = sh.select(col("doc_id"),
          explode(expr(s"array(${bandStructs.mkString(", ")})")).as("b"))
        .select(col("doc_id"), col("b.band").as("band"), col("b.bk").as("bk"))
      time("bands explode")(noop(bands))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("band"), col("bk"))
      val pruned = bands.withColumn("_n", count(lit(1)).over(w))
        .filter(col("_n") <= 100000L)
        .select(col("doc_id"), col("band"), col("bk"))
      time("valve window")(noop(pruned))
      val a = pruned.select(col("doc_id").as("doc_a"), col("band"), col("bk"))
      val b = pruned.select(col("doc_id").as("doc_b"), col("band"), col("bk"))
      val cand = a.join(b, Seq("band", "bk"))
        .filter(col("doc_a") < col("doc_b"))
        .select("doc_a", "doc_b").distinct()
      time("cand selfjoin+distinct")(noop(cand))
      val verified = cand
        .join(sh.select(col("doc_id").as("doc_a"), col("simhash").as("ha")), Seq("doc_a"))
        .join(sh.select(col("doc_id").as("doc_b"), col("simhash").as("hb")), Seq("doc_b"))
        .withColumn("hamming", Dedup.hammingDist(col("ha"), col("hb")).cast("int"))
        .filter(col("hamming") <= 3)
      time("verify joins")(noop(verified))
      time("full q80 pairs")(noop(
        Dedup.simhashNearDupsOnTable(sh, "doc_id", 3)))
      time("full q81 removals")(noop(
        Dedup.simhashRemovalsOnTable(sh, "doc_id", 3)))
      spark.sqlContext.clearCache()
    }
    spark.stop()
  }
}
