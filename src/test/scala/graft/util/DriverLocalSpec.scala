package graft.util

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** The driver-local valve collects at most cap + 1 rows: over the cap it
  * reports (or raises) without ever pulling the rest of the frame. The
  * frame here is one partition whose rows past cap + 1 call
  * `raise_error`, so any unbounded collect fails the test. */
class DriverLocalSpec extends SparkTestBase {
  private val valve = DriverLocal.Grid
  private val cap = 5

  /** `n` rows with ids 0..n-1; evaluating any id past cap + 1 raises. */
  private def guarded(n: Long) = spark.range(0, n, 1, 1)
    .select(when(col("id") > cap,
      raise_error(lit("row past cap + 1 evaluated")))
      .otherwise(col("id")).as("id"))

  private def withCap[A](body: => A): A = {
    spark.conf.set(valve.key, cap.toString)
    try body finally spark.conf.unset(valve.key)
  }

  test("the cap reads the valve's key, its default when unset") {
    assert(valve.cap(spark) == valve.default)
    withCap(assert(valve.cap(spark) == cap))
  }

  test("at or under the cap, the rows come back") {
    withCap {
      assert(DriverLocal.collect(guarded(3), valve).get.map(_.getLong(0))
        .toSeq == Seq(0L, 1L, 2L))
      assert(DriverLocal.collect(guarded(cap), valve).get.length == cap)
    }
  }

  test("over the cap, the valve reports over-cap without collecting " +
      "the frame; a plain collect of the same frame raises") {
    withCap {
      assert(DriverLocal.collect(guarded(cap + 1), valve).isEmpty)
      assert(DriverLocal.collect(guarded(1000), valve).isEmpty)
      val e = intercept[Exception](guarded(1000).collect())
      assert(e.getMessage.contains("row past cap + 1 evaluated"),
        e.getMessage)
    }
  }

  test("collectOrFail raises the driver-local error, not the frame's") {
    withCap {
      val e = intercept[IllegalArgumentException] {
        DriverLocal.collectOrFail(guarded(1000), valve, "the test frame")
      }
      assert(e.getMessage.contains("driver-local") &&
        e.getMessage.contains(valve.key), e.getMessage)
      assert(DriverLocal.collectOrFail(guarded(2), valve, "x").length == 2)
    }
  }
}
