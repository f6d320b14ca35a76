package graft.tools

import org.apache.spark.sql.catalyst.plans.logical._

import graft.util.LocalSession

/** Scratch audit of the Verify row-order invariant: every query whose
  * result can exceed one row must end in a global Sort (check_oracle's
  * compare is row-order-sensitive and the un-coalesced dump gives no
  * order otherwise). Prints queries that neither end in a top-level
  * global Sort (through order-preserving Project/Limit wrappers) nor
  * have analyzed.maxRows <= 1. Not part of the API. */
object SortAudit {
  def topGlobalSort(p: LogicalPlan): Boolean = p match {
    case s: Sort => s.global
    case pr: Project => topGlobalSort(pr.child)
    case l: GlobalLimit => topGlobalSort(l.child)
    case l: LocalLimit => topGlobalSort(l.child)
    case s: SubqueryAlias => topGlobalSort(s.child)
    case _ => false
  }
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4, logLevel = "ERROR")
    graft.queries.Registry.all.foreach { q =>
      try {
        val df = q.fn(spark, "/root/testdata/sf0.001")
        val an = df.queryExecution.analyzed
        val sorted = topGlobalSort(an)
        val oneRow = an.maxRows.exists(_ <= 1)
        if (!sorted && !oneRow) {
          val n = df.count()
          if (n > 1) {
            def chain(p: LogicalPlan, d: Int): String =
              if (d > 6 || p.children.isEmpty) p.getClass.getSimpleName
              else p.getClass.getSimpleName + ">" + chain(p.children.head,
                d + 1)
            val ord = an match {
              case l: org.apache.spark.sql.execution.LogicalRDD =>
                s" ordering=${l.outputOrdering.nonEmpty}"
              case _ => ""
            }
            println(s"MULTIROW ${q.name} rows=$n chain=${chain(an, 0)}$ord")
          } else println(s"ONEROW ${q.name} rows=$n")
        }
      } catch { case e: Throwable =>
        println(s"ERROR ${q.name}: ${e.getMessage.take(100)}")
      }
    }
    spark.stop()
  }
}
