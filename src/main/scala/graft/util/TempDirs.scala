package graft.util

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Scratch directories for queries that round-trip through a filesystem
  * store (CSV/ORC/XML round trips, q227's slice files, graft
  * warehouses, which hold the streaming family's tables) and for
  * throwaway streaming checkpoints. A directory is removed by [[delete]]
  * or, failing that, by a JVM shutdown hook, so repeated bench/verify
  * runs don't accumulate disk.
  */
object TempDirs {
  private val registered = mutable.LinkedHashSet.empty[Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    registered.synchronized(registered.foreach { p =>
      try deleteRecursively(p)
      catch { case e: java.io.IOException => System.err.println(s"TempDirs: could not delete $p: ${e.getMessage}") }
    })))

  /** Create a registered temp directory; returns its absolute path.
    *
    * Prefers tmpfs (/dev/shm) when present (r16 optimization): these
    * directories are throwaway scratch whose durability is irrelevant (a
    * production deployment points stores and checkpointLocation at
    * HDFS/S3), but their write paths are rename/sync-heavy (checkpoint
    * commit logs, per-partition renames, marker files, store-version
    * manifests), so host disk-latency spikes otherwise dominate the
    * queries that write them. Everything still goes through the real
    * FileSystem API and the real committers; only the medium changes.
    * Falls back to java.io.tmpdir where /dev/shm does not exist.
    */
  def create(prefix: String): String = {
    val shm = Paths.get("/dev/shm")
    val p = if (Files.isDirectory(shm)) Files.createTempDirectory(shm, prefix)
            else Files.createTempDirectory(prefix)
    registered.synchronized { registered += p }
    p.toString
  }

  /** Remove `path` and everything under it now (tmpfs is RAM: a streaming
    * checkpoint is dropped as soon as its query stops).
    */
  def delete(path: String): Unit = {
    val p = Paths.get(path)
    deleteRecursively(p)
    registered.synchronized { registered -= p }
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p)) { walk =>
        walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
      }
    }
}
