package graft.util

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}

/** The table-directory and stream-commit protocol of the engine's lake
  * queries (l04–l12, d20) and streaming sinks (st14, st16), and the one
  * place that spells it out.
  *
  * A table is a directory. Data files are parquet files under it, and
  * writers only ever add them: a rewrite appends new files and leaves
  * the old ones for a vacuum. Version `v` of the table is the manifest
  * `manifest-v<v>.txt` in the table directory, one line per live file,
  * the path relative to the table. A line may carry a section tag,
  * `tag|path`; a commit that spans two tables (l12's fact and summary,
  * st16's raw and sum) lists both in one manifest, one section each.
  * (d20's index manifest holds its live layout, `r=` and `path=`,
  * instead of files.)
  *
  *  - The manifest flip is the commit point. [[publish]] writes the
  *    lines to a temp file and moves it over the manifest atomically,
  *    so a reader sees the previous version or the new one, never part
  *    of one. Files written but not yet published are invisible;
  *    after a crash they stay behind as orphans.
  *  - A commit builds on the version before it. Version `v` lists
  *    [[prior]]`(table, v)` (the highest published version below `v`)
  *    plus its own files, never its own earlier attempt, so replaying
  *    the commit of `v` publishes the same snapshot again: a replayed
  *    micro-batch is idempotent.
  *  - A replay must not delete files that a published manifest still
  *    names, since a reader may be scanning them. A commit that writes
  *    its files to a fresh attempt-numbered directory ([[attempt]]:
  *    `<dir>-a0`, then `-a1`, …) leaves the superseded attempt's files
  *    in place as orphans for the vacuum.
  *
  * A stream feeding such a table is drained with [[drain]]: each
  * micro-batch commits through `foreachBatch`, and the batch id is the
  * version.
  */
object Lake {

  /** The sorted names of the parquet files directly in `dir`; empty when
    * `dir` does not exist. */
  def files(dir: String): Seq[String] =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.endsWith(".parquet")).sorted.toSeq

  /** [[files]] on a Hadoop file system: the statuses of the parquet
    * files directly in `dir`. */
  def statuses(fs: FileSystem, dir: HPath): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))

  /** Appends `df` to `table/dir` and returns the files this write added,
    * as sorted paths relative to `table`. */
  def append(df: DataFrame, table: String, dir: String): Seq[String] = {
    val before = files(s"$table/$dir").toSet
    df.write.mode("append").parquet(s"$table/$dir")
    files(s"$table/$dir").filterNot(before).map(f => s"$dir/$f")
  }

  /** The first attempt directory `<dir>-a<n>` under `table` that does not
    * exist yet. */
  def attempt(table: String, dir: String): String =
    Iterator.from(0).map(n => s"$dir-a$n").find(d => !Files.exists(Paths.get(table, d))).get

  private def manifest(table: String, v: Long): Path = Paths.get(table, s"manifest-v$v.txt")

  /** Publishes `lines` as version `v` of `table`: a temp file, moved over
    * the manifest atomically. */
  def publish(table: String, v: Long, lines: Seq[String]): Unit = {
    val tmp = Paths.get(table, s".manifest-v$v.tmp")
    Files.write(tmp, lines.mkString("\n").getBytes(UTF_8))
    Files.move(tmp, manifest(table, v), REPLACE_EXISTING, ATOMIC_MOVE)
  }

  /** The published versions of `table`, ascending. */
  def versions(table: String): Seq[Long] =
    Option(new java.io.File(table).list()).getOrElse(Array.empty).toSeq
      .filter(n => n.startsWith("manifest-v") && n.endsWith(".txt"))
      .map(_.stripPrefix("manifest-v").stripSuffix(".txt").toLong).sorted

  /** The lines of version `v`; an empty manifest has none. */
  def read(table: String, v: Long): Seq[String] = {
    val s = new String(Files.readAllBytes(manifest(table, v)), UTF_8)
    if (s.isEmpty) Seq.empty else s.split("\n").toSeq
  }

  /** The lines of the highest version below `v`, the snapshot a commit of
    * `v` builds on; empty when there is none. */
  def prior(table: String, v: Long): Seq[String] =
    versions(table).filter(_ < v).lastOption.map(read(table, _)).getOrElse(Seq.empty)

  /** The files that `lines` list in section `tag` (the untagged lines
    * when `tag` is empty), as paths `spark.read` can open. */
  def paths(table: String, lines: Seq[String], tag: String = ""): Seq[String] = {
    val p = s"$tag|"
    lines.collect {
      case l if tag.isEmpty && !l.contains('|') => s"$table/$l"
      case l if tag.nonEmpty && l.startsWith(p) => s"$table/${l.stripPrefix(p)}"
    }
  }

  /** Runs the stream `writer` describes until it has processed all input
    * available at its start. */
  def drain(writer: DataStreamWriter[_]): Unit =
    writer.trigger(Trigger.AvailableNow()).start().awaitTermination()
}
