package graft.tools

import graft.util.LocalSession

/** Measures the dedup connected-components step on BOTH physical paths
  * — the single-task union-find fast path and the distributed min-label
  * fixpoint fallback (the actual 100 TB path) — over the same queries,
  * reporting per-query seconds AND the fallback's rounds-to-fixpoint
  * (read back from `spark.graft.dedup.lastComponentsRounds`, which
  * [[graft.ops.Dedup.nearDupComponents]] sets after converging).
  *
  * The VERDICT r9 gap this closes: every prior scale probe ran the
  * config-gated union-find fast path, so the fallback — the path a
  * 1000-executor cluster would take on a billion-edge dup graph — had
  * no measured curve. Usage:
  *
  *   sbt "runMain graft.tools.ComponentsProbe <sfDir> <q1,q2,...>"
  *
  * env: SPARK_GRAFT_CPUS (default 32); the probe itself runs each query
  * twice per mode (min) with `spark.graft.dedup.unionFindMaxEdges`
  * 2^20 (default gate) then 0 (fallback forced), printing one JSON
  * line per mode. Timing protocol matches graft.Bench (count() action,
  * clearCache between queries, warmup scan first).
  */
object ComponentsProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1)
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq("q61_neardup_removals", "q81_simhash_removals",
        "q108_cluster_histogram", "q328_dedup_quality_audit"))
    val spark = LocalSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.read.parquet(s"$sfDir/documents.parquet").count() // warmup
    for (gate <- Seq((1L << 20).toString, "0")) {
      spark.conf.set("spark.graft.dedup.unionFindMaxEdges", gate)
      val mode = if (gate == "0") "fallback" else "unionfind"
      val out = names.map { name =>
        var bestT = Double.MaxValue
        var rounds = "-"
        for (_ <- 1 to 2) {
          spark.conf.set("spark.graft.dedup.lastComponentsRounds", "-")
          val t0 = System.nanoTime()
          graft.SparkEntry.queries(name)(spark, sfDir).count()
          val dt = (System.nanoTime() - t0) / 1e9
          spark.sqlContext.clearCache()
          if (dt < bestT) bestT = dt
          rounds = spark.conf
            .get("spark.graft.dedup.lastComponentsRounds", "-")
        }
        f""""$name":{"sec":$bestT%.3f,"rounds":"$rounds"}"""
      }
      println(s"""{"mode":"$mode","sf":"$sfDir","queries":{${out.mkString(",")}}}""")
    }
    spark.stop()
  }
}
