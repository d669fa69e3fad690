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
  * per-query install calls cannot grow back. Likewise concurrent jobs are
  * started only by `Overlap` (a bare `Future` carries another thread's
  * job properties and can outlive its caller), and temp directories are
  * made only by `Scratch` (which deletes them at exit).
  */
class SessionHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val session = "graft/GraftSession.scala"
  private val table = "graft/functions/GraftFunctions.scala"
  private val extension = "graft/GraftExtensions.scala"
  private val overlap = "graft/util/Overlap.scala"
  private val scratch = "graft/util/Scratch.scala"

  /** (pattern, files allowed to match it). */
  private val rules: Seq[(String, Set[String])] = {
    val installers = Set(session, table, extension)
    Seq(
      """SparkSession\s*\.\s*builder""" -> Set(session),
      """\bregisterFunction\b""" -> installers,
      """\binjectFunction\b""" -> installers,
      """\bFunctionIdentifier\s*\(""" -> installers,
      """\bextraStrategies\s*(:\+)?=(?!=)""" -> installers,
      """\bextraOptimizations\s*(:\+)?=(?!=)""" -> installers,
      """\bscala\.concurrent\b.*\bFuture\b|\bAwait\s*\.|\bExecutionContext\b""" -> Set(overlap),
      """\bcreateTempDirectory\b""" -> Set(scratch))
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
      session -> "SparkSession.builder(); extraStrategies = Nil",
      "graft/operators/Writes.scala" ->
        "val w = scala.concurrent.Future(df.write.parquet(p)); Await.result(w, Duration.Inf)",
      "graft/streaming/Stage.scala" -> """val d = Files.createTempDirectory("graft_x_")""",
      overlap -> "implicit val ec = scala.concurrent.ExecutionContext.global",
      scratch -> """java.nio.file.Files.createTempDirectory(prefix)""")
    assert(offenders(seeded).map(_.takeWhile(_ != ':')).toSet ==
      Set("graft/Tool.scala", "graft/operators/Ops.scala", "graft/plans/Join.scala",
        "graft/operators/Writes.scala", "graft/streaming/Stage.scala"))
  }

  test("sessions are built and functions installed only by GraftSession, the table and the extension") {
    assert(Seq(session, overlap, scratch).forall(sources.map(_._1).contains),
      s"a ratchet's allowed file is missing under $root")
    val found = offenders(sources)
    assert(found.isEmpty,
      "build sessions with GraftSession.local; add functions to " +
        "GraftFunctions.table and let GraftExtensions / GraftSession.ensure " +
        "install them; run concurrent jobs with graft.util.Overlap; make " +
        s"temp dirs with graft.util.Scratch.dir:\n  ${found.mkString("\n  ")}")
  }
}
