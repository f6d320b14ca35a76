package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Counters fed by Spark's public listeners, registered only in the
  * traced run. Every count lands under its name and under
  * `<scope>/<name>`, so an ETL phase's share can be read apart from the
  * pass total. Counting happens only while `active`; callers drain the
  * listener bus (org.apache.spark.PerfBenchBus) before they read. */
final class Probe {
  @volatile var active = false
  @volatile var scope = ""
  private val counts = new ConcurrentHashMap[String, java.lang.Double]()
  private val batchMs = mutable.ArrayBuffer.empty[Double]
  private val stateRows = mutable.Map.empty[String, Long]

  def add(key: String, v: Double): Unit = if (active) {
    counts.merge(key, v, (a, b) => a + b)
    counts.merge(s"$scope/$key", v, (a, b) => a + b)
  }
  def get(key: String): Double = Option(counts.get(key)).fold(0.0)(_.doubleValue)
  def batchDurationsMs: Seq[Double] = batchMs.synchronized(batchMs.toSeq)

  /** Sum of the state rows each streaming query held at its last
    * progress report since the previous call. */
  def takeStateRows(): Long = stateRows.synchronized {
    val n = stateRows.values.sum
    stateRows.clear()
    n
  }

  def register(spark: SparkSession): Unit = {
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        onExecution(f, qe, ns)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        onExecution(f, qe, 0L)
    })
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = add("spark.jobs", 1)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        add("spark.stages", 1)
        // one task of a stage over the DSv2 page source reads one page file
        if (e.stageInfo.rddInfos.exists(_.name == "DataSourceRDD"))
          add("source.page_reads", e.stageInfo.numTasks)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          val wallMs = e.taskInfo.finishTime - e.taskInfo.launchTime
          add("spark.task_run_s", m.executorRunTime / 1e3)
          add("spark.task_cpu_s", m.executorCpuTime / 1e9)
          add("spark.task_overhead_s", (wallMs - m.executorRunTime).max(0L) / 1e3)
          add("spark.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
          add("spark.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
          add("spark.spill_mb", m.diskBytesSpilled / 1e6)
          add("spark.driver_result_mb", m.resultSize / 1e6)
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        if (active) {
          val p = e.progress
          add("stream.batches", 1)
          add("stream.input_rows", p.numInputRows.toDouble)
          batchMs.synchronized(batchMs += p.batchDuration.toDouble)
          stateRows.synchronized(
            stateRows(p.id.toString) = p.stateOperators.map(_.numRowsTotal).sum)
        }
    })
  }

  private def onExecution(funcName: String, qe: QueryExecution, ns: Long): Unit = {
    add("spark.sql_executions", 1)
    add("spark.plan_s", qe.tracker.phases.values.map(_.durationMs).sum / 1e3)
    // Incremental.isEmpty is Dataset.isEmpty: the pipeline's only probe
    if (funcName == "isEmpty") add("etl.probe_s", ns / 1e9)
    if (qe.logical.toString.contains("InsertIntoHadoopFsRelationCommand"))
      add("sink.write_s", ns / 1e9)
  }
}

/** Spans recorded around the benchmark's calls into each layer: name,
  * parent, start and end, kept in memory and written out at the end. */
final class Spans(val on: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var next = 1

  def apply[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = next
      next += 1
      val parent = stack.headOption.getOrElse(0)
      stack.push(id)
      val t0 = System.nanoTime()
      try body
      finally {
        stack.pop()
        done += Span(id, parent, name, t0, System.nanoTime())
      }
    }

  def size: Int = done.size

  def toJson: String = done.sortBy(_.id).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}
