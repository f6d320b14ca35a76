package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: the exact-decimal grid lives in
  * [[graft.util.Exact]] and the driver-local valve in
  * [[graft.util.DriverLocal]], nowhere else.
  *
  * A re-spelled `round(x, 12).cast("decimal(28,12)")`, a local `def
  * t12`, a hand-rolled `setScale(12|6, HALF_UP)` replay or a direct read
  * of a `spark.graft.driverLocal.*` cap anywhere else under `src/main`
  * fails this test: use `Exact.t12` / `dec12` / `round12` / `round6`
  * and `DriverLocal.collect` instead, so each decision stays a one-site
  * edit. Comment lines are skipped; oracle SQL (`::DECIMAL(28,12)`,
  * `CAST(… AS DECIMAL(28,12))`) does not match the patterns. */
class SingleSiteSpec extends AnyFunSuite {

  private val Owners = Set("util/Exact.scala", "util/DriverLocal.scala")

  private val Patterns: Seq[(String, scala.util.matching.Regex)] = Seq(
    "round(…, 12).cast(\"decimal(28,12)\")" ->
      """,\s*12\s*\)\s*\.cast\(\s*"decimal\(28,\s*12\)"\s*\)""".r,
    "def t12" -> """\bdef\s+t12""".r,
    "setScale(12|6, …HALF_UP) replay" ->
      """setScale\(\s*(12|6)\s*,[^)]*HALF_UP""".r,
    "conf.get(\"spark.graft.driverLocal." ->
      """conf\s*\.get\(\s*"spark\.graft\.driverLocal\.""".r)

  /** file (relative to src/main/scala/graft) → code text, comment lines
    * dropped (joined, so a pattern may span lines). */
  private def sources(): Map[String, String] = {
    val root = Paths.get("src/main/scala/graft")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map { p =>
        root.relativize(p).toString -> Files.readAllLines(p).asScala
          .filterNot { l =>
            val t = l.trim
            t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
          }.mkString("\n")
      }.toMap
  }

  test("the decimal grid and the driver-local valve each live in one " +
      "module") {
    val srcs = sources()
    assert(Owners.forall(srcs.contains), srcs.keySet)
    val hits = for {
      (file, text) <- srcs.toSeq.sortBy(_._1) if !Owners(file)
      (name, re) <- Patterns if re.findFirstIn(text).nonEmpty
    } yield s"$file: $name"
    assert(hits.isEmpty, "re-spelled outside Exact / DriverLocal:\n" +
      hits.mkString("\n"))
  }

  test("the guard patterns catch each spelling they name") {
    val samples = Seq(
      """t = round(col("x") * y, 12).cast("decimal(28,12)")""",
      "def t12(c: Column) = c",
      "x.setScale(6, java.math.RoundingMode.HALF_UP)",
      """sp.conf.get("spark.graft.driverLocal.gridCap", "1")""")
    Patterns.zip(samples).foreach { case ((name, re), s) =>
      assert(re.findFirstIn(s).nonEmpty, name)
    }
  }
}
