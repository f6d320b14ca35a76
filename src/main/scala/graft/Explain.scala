package graft

import graft.util.LocalSession

/** Plan-inspection utility: dumps the formatted physical plan of selected
  * queries so scan pushdown, join strategies, and codegen spans can be
  * reviewed (the SURVEY.md §4 posture check). Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else queries.Registry.all.map(_.name)
    val spark = LocalSession(4, logLevel = "ERROR")
    names.foreach { n =>
      println(s"\n########## $n ##########")
      try println(queries.Registry.byName(n).fn(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      catch { case e: Throwable => println(s"explain failed: $e") }
    }
    spark.stop()
  }
}
