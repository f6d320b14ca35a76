package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session per suite; config mirrors Verify.scala so test
  * and oracle semantics agree (UTC, nanos-as-long, small shuffle counts). */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
}

object SparkTestBase {
  lazy val session: SparkSession = graft.util.LocalSession(4, conf = Map(
    "spark.app.name" -> "graft-test",
    "spark.sql.warehouse.dir" ->
      new java.io.File("target/spark-warehouse").getAbsolutePath))
}
