package graft.util

import org.apache.spark.sql.SparkSession

/** Local sessions for the mains and the tests: one place for the
  * engine's session posture. */
object LocalSession {

  /** `local[cpus]` with a pinned UTC session time zone and no UI. */
  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")

  /** The engine posture: [[builder]] plus one shuffle partition per core
    * and `events.ts` parquet nanos read as long (converted in
    * [[Tables.events]], matching DuckDB's truncating read). `conf` adds
    * caller keys. */
  def apply(cpus: Int, logLevel: String = "WARN",
      conf: Map[String, String] = Map.empty): SparkSession = {
    val s = builder(cpus)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config(conf)
      .getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Sets the `SPARK_GRAFT_SPARK_CONF="k=v,k=v"` runtime-conf
    * overrides, if any, on `spark`: they force alternate physical paths
    * (e.g. a valve's distributed fallback) through an unchanged harness,
    * with no code edits. */
  def applyConfOverrides(spark: SparkSession): Unit =
    sys.env.get("SPARK_GRAFT_SPARK_CONF").foreach(_.split(',')
      .map(_.trim).filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
}
