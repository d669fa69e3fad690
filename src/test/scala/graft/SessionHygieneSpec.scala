package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source ratchet for the session design: a graft session is built in one
  * place (`GraftSession.local`) and its functions, rule and strategy are
  * installed in one place (`GraftFunctions.table`, applied by
  * `GraftExtensions` or by `GraftSession.ensure`). A main that grows its
  * own `SparkSession.builder()` block, or an operator that registers a
  * function or strategy on the session it is handed, fails here, so the
  * per-query install calls cannot grow back.
  */
class SessionHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val session = "graft/GraftSession.scala"
  private val table = "graft/functions/GraftFunctions.scala"
  private val extension = "graft/GraftExtensions.scala"

  /** (pattern, files allowed to match it). */
  private val rules: Seq[(String, Set[String])] = {
    val installers = Set(session, table, extension)
    Seq(
      """SparkSession\s*\.\s*builder""" -> Set(session),
      """\bregisterFunction\b""" -> installers,
      """\binjectFunction\b""" -> installers,
      """\bFunctionIdentifier\s*\(""" -> installers,
      """\bextraStrategies\s*(:\+)?=(?!=)""" -> installers,
      """\bextraOptimizations\s*(:\+)?=(?!=)""" -> installers)
  }

  /** "file: pattern" for every (file, text) that breaks a rule. */
  private def offenders(sources: Seq[(String, String)]): Seq[String] =
    for {
      (pattern, allowed) <- rules
      (file, text) <- sources
      if !allowed(file) && pattern.r.findFirstIn(text).isDefined
    } yield s"$file: $pattern"

  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))

  test("seeded repro: a private session builder and a per-query register call are caught") {
    val seeded = Seq(
      "graft/Tool.scala" -> "val spark = SparkSession.builder().getOrCreate()",
      "graft/operators/Ops.scala" ->
        "spark.sessionState.functionRegistry.registerFunction(id, info, b)",
      "graft/plans/Join.scala" ->
        "spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ S",
      session -> "SparkSession.builder(); extraStrategies = Nil")
    assert(offenders(seeded).map(_.takeWhile(_ != ':')).toSet ==
      Set("graft/Tool.scala", "graft/operators/Ops.scala", "graft/plans/Join.scala"))
  }

  test("sessions are built and functions installed only by GraftSession, the table and the extension") {
    assert(sources.map(_._1).contains(session), s"no $session under $root")
    val found = offenders(sources)
    assert(found.isEmpty,
      "build sessions with GraftSession.local; add functions to " +
        "GraftFunctions.table and let GraftExtensions / GraftSession.ensure " +
        s"install them:\n  ${found.mkString("\n  ")}")
  }
}
