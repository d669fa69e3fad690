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
  * job properties and can outlive its caller), temp directories are made
  * only by `Scratch` (which deletes them at exit), in the tests too, and
  * listeners are attached only by `QueryMetrics` (which drains the bus
  * around its body, so no cost is charged to the wrong call).
  */
class SessionHygieneSpec extends AnyFunSuite {

  private val root = Paths.get("src")
  private def inMain(file: String) = s"main/scala/graft/$file"
  private def inTest(file: String) = s"test/scala/graft/$file"
  private val session = inMain("GraftSession.scala")
  private val table = inMain("functions/GraftFunctions.scala")
  private val extension = inMain("GraftExtensions.scala")
  private val overlap = inMain("util/Overlap.scala")
  private val scratch = inMain("util/Scratch.scala")
  private val metrics = inMain("QueryMetrics.scala")
  private val lake = inMain("util/Lake.scala")
  private val mainTree = "main/"

  /** (pattern, the part of `src` it covers, files there allowed to match it). */
  private val rules: Seq[(String, String, Set[String])] = {
    val installers = Set(session, table, extension)
    Seq(
      ("""SparkSession\s*\.\s*builder""", mainTree, Set(session)),
      ("""\bregisterFunction\b""", mainTree, installers),
      ("""\binjectFunction\b""", mainTree, installers),
      ("""\bFunctionIdentifier\s*\(""", mainTree, installers),
      ("""\bextraStrategies\s*(:\+)?=(?!=)""", mainTree, installers),
      ("""\bextraOptimizations\s*(:\+)?=(?!=)""", mainTree, installers),
      ("""\bscala\.concurrent\b.*\bFuture\b|\bAwait\s*\.|\bExecutionContext\b""", mainTree, Set(overlap)),
      ("""SparkListener""", mainTree, Set(metrics)),
      // the lake protocol: manifest naming and the atomic flip, the
      // stream drain, and which files of a directory are a table's
      ("""manifest-v(\$|"\s*\+)|\bATOMIC_MOVE\b""", mainTree, Set(lake)),
      ("""\bTrigger\s*\.\s*AvailableNow\s*\(""", mainTree, Set(lake)),
      ("""endsWith\s*\(\s*"\.parquet"\s*\)""", mainTree, Set(lake)),
      // ScratchSpec makes a link target that Scratch must not delete
      ("""\bcreateTempDirectory\b""", "",
        Set(scratch, inTest("ScratchSpec.scala"), inTest("SessionHygieneSpec.scala"))))
  }

  /** "file: pattern" for every (file, text) that breaks a rule. */
  private def offenders(sources: Seq[(String, String)]): Seq[String] =
    for {
      (pattern, tree, allowed) <- rules
      (file, text) <- sources
      if file.startsWith(tree) && !allowed(file) && pattern.r.findFirstIn(text).isDefined
    } yield s"$file: $pattern"

  private lazy val sources: Seq[(String, String)] =
    Files.walk(root).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toList
      .map((p: Path) => root.relativize(p).toString -> Files.readString(p))

  test("seeded repro: a private session builder and a per-query register call are caught") {
    val seeded = Seq(
      inMain("Tool.scala") -> "val spark = SparkSession.builder().getOrCreate()",
      inMain("operators/Ops.scala") ->
        "spark.sessionState.functionRegistry.registerFunction(id, info, b)",
      inMain("plans/Join.scala") ->
        "spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ S",
      session -> "SparkSession.builder(); extraStrategies = Nil",
      inMain("operators/Writes.scala") ->
        "val w = scala.concurrent.Future(df.write.parquet(p)); Await.result(w, Duration.Inf)",
      inMain("streaming/Stage.scala") -> """val d = Files.createTempDirectory("graft_x_")""",
      inTest("StreamSpec.scala") -> """val ck = Files.createTempDirectory("graft_ck_").toString""",
      inMain("Probe.scala") -> "spark.sparkContext.addSparkListener(new SparkListener {})",
      inTest("ListenerSpec.scala") -> "sc.addSparkListener(new SparkListener {})",
      inTest("BuilderSpec.scala") -> "SparkSession.builder().getOrCreate()",
      overlap -> "implicit val ec = scala.concurrent.ExecutionContext.global",
      scratch -> """java.nio.file.Files.createTempDirectory(prefix)""",
      metrics -> "sc.addSparkListener(ledger)",
      inMain("operators/Snapshots.scala") ->
        "Files.write(Paths.get(s\"$dir/manifest-v$v.txt\"), lines.mkString(\"\\n\").getBytes)",
      inMain("operators/Commit.scala") -> "Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)",
      inMain("streaming/Sink.scala") ->
        "df.writeStream.format(\"memory\").trigger(Trigger.AvailableNow()).start()",
      inMain("operators/Vacuum.scala") ->
        "new File(d).listFiles().filter(_.getName.endsWith(\".parquet\"))",
      inTest("LakeSpec.scala") -> "w.trigger(Trigger.AvailableNow()).start()",
      inMain("streaming/Docs.scala") ->
        "/** replayed with Trigger.AvailableNow; publishes `manifest-v<batchId>` */",
      lake -> "Files.move(tmp, manifest(table, v), ATOMIC_MOVE); Trigger.AvailableNow()")
    assert(offenders(seeded).map(_.takeWhile(_ != ':')).toSet ==
      Set(inMain("Tool.scala"), inMain("operators/Ops.scala"), inMain("plans/Join.scala"),
        inMain("operators/Writes.scala"), inMain("streaming/Stage.scala"),
        inTest("StreamSpec.scala"), inMain("Probe.scala"), inMain("operators/Snapshots.scala"),
        inMain("operators/Commit.scala"), inMain("streaming/Sink.scala"),
        inMain("operators/Vacuum.scala")))
  }

  test("sessions are built and functions installed only by GraftSession, the table and the extension") {
    assert(Seq(session, overlap, scratch, metrics, lake).forall(sources.map(_._1).contains),
      s"a ratchet's allowed file is missing under $root")
    val found = offenders(sources)
    assert(found.isEmpty,
      "build sessions with GraftSession.local; add functions to " +
        "GraftFunctions.table and let GraftExtensions / GraftSession.ensure " +
        "install them; run concurrent jobs with graft.util.Overlap; make " +
        "temp dirs with graft.util.Scratch.dir; measure jobs with " +
        "graft.QueryMetrics; list, publish and drain lake tables with " +
        s"graft.util.Lake:\n  ${found.mkString("\n  ")}")
  }
}
