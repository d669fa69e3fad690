package graft.util

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import java.util.Comparator

import org.apache.spark.sql.DataFrame

/** Temp directories for queries that exercise sink+source lifecycles.
  * Every directory is deleted recursively at JVM exit by one shutdown
  * hook — each invocation writes a serialized table copy, and a long
  * bench session would otherwise accumulate gigabytes in the system temp
  * dir.
  */
object Scratch {
  private val dirs = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  Runtime.getRuntime.addShutdownHook(new Thread(() => dirs.forEach(delete(_))))

  /** Deletes `d` and all under it. `Files.walk` does not follow links, so
    * a link (see [[linked]]) is removed and its target is not. */
  private[graft] def delete(d: Path): Unit =
    try Files.walk(d).sorted(Comparator.reverseOrder[Path]).forEach(Files.deleteIfExists(_))
    catch { case _: Exception => () }

  def dir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    dirs.add(d)
    d.toString
  }

  /** A scratch directory holding only a link to `from/file`, for a file
    * source that must read one table of `from` (no data copy). */
  def linked(prefix: String, from: String, file: String): String = {
    val d = dir(prefix)
    Files.createSymbolicLink(Paths.get(d, file), Paths.get(from, file))
    d
  }

  /** Writes `df` as the single parquet file `target` with modification
    * time `mtimeMs` (a file stream source delivers files in mtime order). */
  def oneFile(df: DataFrame, target: String, mtimeMs: Long): Unit = {
    val tmp = dir("graft_onefile_")
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    Files.move(Paths.get(tmp, Lake.files(tmp).head), Paths.get(target))
    Files.setLastModifiedTime(Paths.get(target), FileTime.fromMillis(mtimeMs))
  }
}
