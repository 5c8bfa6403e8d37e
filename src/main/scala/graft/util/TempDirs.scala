package graft.util

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Session-scoped scratch directories for queries that round-trip through
  * a filesystem store (CSV/ORC/XML round trips, streaming upsert stores,
  * the q129 fingerprint store). Every dir allocated here is removed by a
  * JVM shutdown hook, so repeated bench/verify runs don't accumulate
  * disk — the same hygiene Pipeline.dropCheckpoint applies to streaming
  * checkpoints, centralized for batch stores.
  */
object TempDirs {
  private val registered = mutable.ArrayBuffer.empty[Path]

  Runtime.getRuntime.addShutdownHook(new Thread(() =>
    registered.synchronized(registered.foreach { p =>
      try deleteRecursively(p)
      catch { case e: java.io.IOException => System.err.println(s"TempDirs: could not delete $p: ${e.getMessage}") }
    })))

  /** Create a registered temp directory; returns its absolute path.
    *
    * Prefers tmpfs (/dev/shm) when present — the same policy, for the
    * same reason, as `Pipeline.checkpointDir` (r16 optimization): these
    * stores are throwaway round-trip scratch whose durability is
    * irrelevant (a production deployment points the store at HDFS/S3),
    * but their write path is commit-protocol-heavy (per-partition
    * renames, marker files, store-version manifests), so host disk
    * latency spikes otherwise dominate the queries that write them.
    * Everything still goes through the real FileSystem API and the real
    * committers; only the medium changes. Falls back to java.io.tmpdir
    * where /dev/shm does not exist.
    */
  def create(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    val p = if (Files.isDirectory(shm)) Files.createTempDirectory(shm, prefix)
            else Files.createTempDirectory(prefix)
    registered.synchronized { registered += p }
    p.toString
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      scala.util.Using.resource(Files.walk(p)) { walk =>
        walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(f => { Files.deleteIfExists(f); () })
      }
    }
}
