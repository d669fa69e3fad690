package graft.health

import org.apache.spark.sql.SparkSession

/** The COMMITTED cleaned-health fixture: the Spark ETL's output over the
  * reference CSV, written once as a single deterministic parquet file and
  * checked into the repo (tools/fixtures/). It is what the EP2 SQL-path
  * contract queries (HealthQueries.defs) and their DuckDB oracles both
  * read — the same artifact on both sides, so the dual-engine check
  * isolates the SQL semantics. It is also the input of the post-ETL
  * health tests (the A1-A13 query goldens, the model's R² band and ML
  * expectations, the sinks, the weekly report and the dashboard), which
  * therefore run without the raw CSV. Wherever that CSV exists, a
  * HealthSpec test keeps the artifact in sync with the live ETL
  * (bit-exact), and the ETL itself is separately golden-tested against
  * the reference's own pandas pipeline.
  *
  * Regenerate after an INTENTIONAL ETL change with:
  *   sbt "runMain graft.health.HealthFixture"
  * and review the diff like any golden change.
  */
object HealthFixture {

  /** Repo-relative location of the committed fixture. */
  private val rel = "tools/fixtures/health_cleaned.parquet"

  /** Absolute fixture path, resolved at class-load so the SAME string is
    * baked into the DuckDB oracle SQL (duckView) and read by the Spark
    * side. Resolution order: `-Dgraft.repo.root`, then a walk UP from the
    * process cwd until the fixture is found (so sbt/driver runs work from
    * any subdirectory of any checkout), then cwd-relative as a last
    * resort. No absolute literal — a checkout at any location works.
    */
  val path: String = {
    def candidate(root: java.io.File) = new java.io.File(root, rel)
    @annotation.tailrec
    def walkUp(d: java.io.File): Option[java.io.File] =
      if (d == null) None
      else if (candidate(d).isFile) Some(candidate(d))
      else walkUp(d.getParentFile)
    val cwd = new java.io.File(sys.props("user.dir")).getCanonicalFile
    sys.props.get("graft.repo.root").map(r => candidate(new java.io.File(r)))
      .orElse(walkUp(cwd))
      .getOrElse(candidate(cwd))
      .getAbsolutePath
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.local(8)
    write(spark, path)
    spark.stop()
  }

  /** One file, rows in Record_ID order — byte-stable across runs. */
  def write(spark: SparkSession, outFile: String): Unit = {
    val tmp = graft.util.Scratch.dir("health_fixture_")
    HealthEtl.clean(spark)
      .coalesce(1)
      .sortWithinPartitions("Record_ID")
      .write.mode("overwrite").parquet(tmp)
    val part = java.nio.file.Paths.get(tmp, graft.util.Lake.files(tmp).head)
    val dest = java.nio.file.Paths.get(outFile)
    java.nio.file.Files.createDirectories(dest.getParent)
    java.nio.file.Files.copy(part, dest,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
