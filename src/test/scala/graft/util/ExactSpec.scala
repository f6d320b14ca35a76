package graft.util

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, rng}

import graft.SparkTestBase

/** Pins the driver replays of [[Exact]] against the column form Spark
  * evaluates: `dec12` against `round(x, 12).cast("decimal(28,12)")`,
  * `round12` / `round6` against `round(x, 12)` / `round(x, 6)`, on a
  * fixed-seed ScalaCheck sample plus the edge values — NaN, ±Infinity,
  * ±0.0, HALF_UP ties at the 12th and 6th places, and values on both
  * sides of 1e16, where decimal(28,12) runs out of integer digits.
  * Both the folded local-relation path and the codegen path of a real
  * shuffle are checked. */
class ExactSpec extends SparkTestBase {
  import spark.implicits._

  private val seed = rng.Seed(20261017L)

  private def sample[A](g: Gen[A], n: Int): List[A] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, seed)

  /** The largest double below 1e16: the last one decimal(28,12) holds. */
  private val Top = math.nextDown(1e16)

  /** `<int>.<digits>5`: an exact HALF_UP tie one place past `places`. */
  private def tie(places: Int): Gen[Double] = for {
    i <- Gen.choose(-1000000L, 1000000L)
    f <- Gen.choose(0L, math.pow(10, places).toLong - 1)
  } yield s"$i.${s"%0${places}d".format(f)}5".toDouble

  private val inRange: Gen[Double] = Gen.oneOf(
    Gen.choose(-1.0, 1.0),
    Gen.choose(-1e6, 1e6),
    Gen.choose(-Top, Top),
    tie(12),
    tie(6),
    Gen.choose(Long.MinValue, Long.MaxValue)
      .map(java.lang.Double.longBitsToDouble)
      .suchThat(x => !x.isNaN && math.abs(x) <= Top))

  private val edges: Seq[Double] = Seq(Double.NaN,
    Double.PositiveInfinity, Double.NegativeInfinity, 0.0, -0.0,
    Top, -Top, 5e15 + 0.5, 0.0000000000005, -0.0000000000005,
    0.0000005, 1.0000000000005, Double.MinPositiveValue,
    java.lang.Double.MIN_NORMAL)

  private val outOfRange: Seq[Double] = Seq(1e16, -1e16, 1e20,
    Double.MaxValue, -Double.MaxValue, 1e16 + 2) ++
    sample(Gen.choose(1e16, 1e300).flatMap(x => Gen.oneOf(x, -x)), 6)

  private def spark12(df: DataFrame): Map[Long, (java.math.BigDecimal,
      Double, Double)] =
    df.select(col("i"), Exact.t12(col("x")), round(col("x"), 12),
      round(col("x"), 6)).collect()
      .map(r => r.getLong(0) -> ((r.getDecimal(1), r.getDouble(2),
        r.getDouble(3)))).toMap

  private def bits(x: Double) = java.lang.Double.doubleToRawLongBits(x)

  test("dec12 / round12 / round6 match Spark's column form on random " +
      "and edge doubles, bit for bit") {
    val xs = (sample(inRange, 2000) ++ edges).toVector
    val df = xs.zipWithIndex.map { case (x, i) => (i.toLong, x) }
      .toDF("i", "x")
    for (frame <- Seq(df, df.repartition(3))) {
      val got = spark12(frame)
      assert(got.size == xs.size)
      xs.zipWithIndex.foreach { case (x, i) =>
        val (d, r12, r6) = got(i.toLong)
        assert(Exact.dec12(x) == d, s"dec12($x)")
        assert(bits(Exact.round12(x)) == bits(r12), s"round12($x)")
        assert(bits(Exact.round6(x)) == bits(r6), s"round6($x)")
      }
    }
    assert(Exact.dec12(Double.NaN) == null &&
      Exact.dec12(Double.NegativeInfinity) == null)
  }

  test("dec12 re-cast of an already rounded double is the identity " +
      "(the driver replays cast rounded values without re-rounding)") {
    sample(inRange, 2000).foreach { x =>
      assert(Exact.dec12(Exact.round12(x)) == Exact.dec12(x), s"x = $x")
    }
  }

  test("dec12 raises NUMERIC_VALUE_OUT_OF_RANGE where Spark's ANSI cast " +
      "does") {
    def rootMessages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .map(e => s"${e.getClass.getName}: ${e.getMessage}").toSeq
    outOfRange.foreach { x =>
      val s = intercept[Exception] {
        Seq(x).toDF("x").repartition(1).select(Exact.t12(col("x")))
          .collect()
      }
      assert(rootMessages(s).exists(_.contains("NUMERIC_VALUE_OUT_OF_RANGE")),
        s"Spark on $x: ${rootMessages(s)}")
      val e = intercept[ArithmeticException](Exact.dec12(x))
      assert(e.getMessage.contains("NUMERIC_VALUE_OUT_OF_RANGE"), s"x = $x")
    }
  }
}
