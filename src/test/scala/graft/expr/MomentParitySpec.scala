package graft.expr

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Pins [[MomentMatrix]] (the r15 row-local triangle kernel) against
  * the posexplode×posexplode + `sum(round(p,12)::decimal(28,12))` form
  * it replaced: every (j, k) cell must be BIT-identical (the eigen
  * family's driver-local trajectory consumes these doubles raw), and
  * the null/ragged-dimension surface must match the generator's
  * semantics exactly. */
class MomentParitySpec extends SparkTestBase {

  private def referenceMoment(df: org.apache.spark.sql.DataFrame) = {
    def t12(c: org.apache.spark.sql.Column) =
      round(c, 12).cast("decimal(28,12)")
    df.select(expr("cast(embedding as array<double>)").as("e"))
      .select(posexplode(col("e")).as(Seq("j", "x")), col("e"))
      .select(col("j"), posexplode(col("e")).as(Seq("k", "y")), col("x"))
      .select(col("j"), col("k"), (col("x") * col("y")).as("p"))
      .groupBy(col("j"), col("k"))
      .agg(sum(t12(col("p"))).cast("double").as("_m"))
  }

  private def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => ((r.getInt(0), r.getInt(1)),
      if (r.isNullAt(2)) None
      else Some(java.lang.Double.doubleToRawLongBits(r.getDouble(2)))))
    .toMap

  test("kernel matches the fan-out form bit-for-bit on random floats") {
    val emb = graft.util.Tables.embeddings(spark, sf())
    val got = cells(graft.ops.Similarity.secondMomentMatrix(emb))
    val want = cells(referenceMoment(emb))
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) =>
      assert(got(k) == v, s"cell $k: ${got(k)} vs $v")
    }
    assert(got.size == 64 * 64)
  }

  test("ragged dims, null arrays, null elements and huge values " +
      "reproduce the generator semantics (cell universe, null sums, " +
      "decimal-38 behavior)") {
    import spark.implicits._
    val df = Seq(
      Seq[java.lang.Float](1.5f, -2.25f, 3f),
      null,
      Seq[java.lang.Float](0.5f, null, 4f),  // null element: its cells null out
      Seq[java.lang.Float](2f),              // ragged: smaller dim
      // NaN / infinite products cast to null terms, which sum skips
      Seq[java.lang.Float](Float.NaN, 1f, Float.PositiveInfinity),
      // big in-contract products (1e12 — inside decimal(28,12)'s 16
      // integer digits; the t12 cast contract assumes this, and the
      // kernel's long accumulator must spill to BigInteger here)
      Seq[java.lang.Float](1e6f, -1e6f, 1e6f, 1e6f)
    ).toDF("embedding")
    val got = cells(graft.ops.Similarity.secondMomentMatrix(df))
    val want = cells(referenceMoment(df))
    assert(got.keySet == want.keySet, s"${got.keySet} vs ${want.keySet}")
    want.foreach { case (k, v) =>
      assert(got(k) == v, s"cell $k: ${got(k)} vs $v")
    }
    // the ragged row widens nothing; dim-4 row defines the universe
    assert(got.keySet.map(_._1).max == 3)
  }

  test("all-null-element cell yields a null sum row, like sum() over " +
      "an all-null group") {
    import spark.implicits._
    val df = Seq(
      Seq[java.lang.Float](1f, null),
      Seq[java.lang.Float](2f, null)
    ).toDF("embedding")
    val got = cells(graft.ops.Similarity.secondMomentMatrix(df))
    val want = cells(referenceMoment(df))
    assert(got == want)
    assert(got((1, 1)).isEmpty && got((0, 1)).isEmpty)
    assert(got((0, 0)).nonEmpty)
  }
}
