package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Every graft-store write commits through [[GraftCommit.commit]], and its
  * `_MANIFEST` swap is the only commit point: the `_SUCCESS` marker that
  * follows it is informational, so no reader may depend on it.
  */
class StoreCommitSpec extends AnyFunSuite {
  import graft.TestSpark.spark

  private def read(dir: String, opts: (String, String)*) =
    spark.read.format("graft.sources.GraftStoreProvider")
      .options(opts.toMap).option("path", dir).load()

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
    df.select("id", "v").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted

  test("a crash between the manifest swap and the _SUCCESS write leaves a readable table") {
    val dir = graft.util.TempDirs.create("graft_commit_point_") + "/t"
    spark.range(0, 10, 1, 2).select(col("id"), (col("id") * 7).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    val expected = (0L until 10L).map(i => (i, i * 7))
    assert(Files.deleteIfExists(Paths.get(dir, GraftCommit.SuccessFile)))
    assert(GraftCommit.committedVersion(new File(dir)) == 1L)

    assert(rows(read(dir)) == expected, "the scan disagrees with the committed manifest")
    assert(rows(read(dir, "versionAsOf" -> "1")) == expected)
    val changes = GraftCDC.changes(spark, dir, 0L)
    assert(changes.select(GraftChanges.ChangeTypeColumn).distinct().collect()
      .map(_.getString(0)).toSeq == Seq("insert"))
    assert(rows(changes) == expected)

    val c = GraftMaintenance.compact(dir)
    assert(c.filesBefore == 2 && c.filesAfter == 1, c)
    assert(GraftMaintenance.expireSnapshots(dir, olderThanMs = 0L).expiredFiles == 2)
    assert(rows(read(dir)) == expected)
    assert(GraftCommit.committedVersion(new File(dir)) == 2L)

    // every commit writes the `#version=`/`#ts=`/`#op=` headers and the
    // `#graft-stats-v2` header, so a sidecar without them is not one this
    // format wrote: it fails loudly instead of reading as a default
    def loud(what: String)(body: => Any): Unit = {
      val e = intercept[Throwable](body)
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains(what)),
        s"expected a loud '$what' failure, got: $e")
    }
    val manifest = Paths.get(dir, GraftStore.ManifestFile)
    val committed = Files.readAllBytes(manifest)
    val listed = new String(committed, StandardCharsets.UTF_8).linesIterator
      .filterNot(_.startsWith("#")).mkString("", "\n", "\n")
    Files.writeString(manifest, listed)
    loud("#version=")(GraftCommit.current(new File(dir)))
    loud("#version=")(GraftCommit.committedVersion(new File(dir)))
    loud("#version=")(read(dir).collect())
    Files.write(manifest, committed)
    val stats = Paths.get(dir, GraftStore.StatsFile)
    val statsBody = Files.readAllBytes(stats)
    Files.writeString(stats, new String(statsBody, StandardCharsets.UTF_8)
      .linesIterator.filterNot(_.startsWith("#")).mkString("", "\n", "\n"))
    loud("#graft-stats-v2")(read(dir).collect())
    Files.write(stats, statsBody)
    assert(rows(read(dir)) == expected)

    // a location no commit has reached is the empty version 0, and a
    // partition DELETE on it commits nothing
    val schema = StructType.fromDDL("id BIGINT, v BIGINT, day STRING")
    val dayA: Array[Filter] = Array(EqualTo("day", "a"))
    def readAs(loc: File) = spark.read.format("graft.sources.GraftStoreProvider")
      .schema(schema).option("path", loc.getPath).load()
    val fresh = new File(graft.util.TempDirs.create("graft_commit_point_"), "never")
    assert(fresh.mkdirs())
    assert(readAs(fresh).count() == 0L)
    new GraftStoreTable(fresh.getPath, schema, Seq("day")).deleteWhere(dayA)
    assert(fresh.list().isEmpty, s"a DELETE committed on an empty location: ${fresh.list().toSeq}")
    val missing = new File(fresh.getParentFile, "missing")
    new GraftStoreTable(missing.getPath, schema, Seq("day")).deleteWhere(dayA)
    assert(!missing.exists())
    assert(readAs(missing).count() == 0L)
  }

  test("only GraftCommit commits a manifest or names the _SUCCESS marker") {
    // removed settings: a test or query that still sets one would pass
    // while pinning nothing, because Spark ignores unknown confs and
    // reader options
    val removed = Seq(
      "spark\\.graft\\.store\\.(delete|update|merge)\\.mode".r,
      """option\(\s*"columnar"""".r,
      """"columnar"\s*->""".r)
    val stale = Files.walk(Paths.get("src")).iterator.asScala
      .filter(Files.isRegularFile(_)).toSeq
      .filter(p => removed.exists(_.findFirstIn(
        new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).isDefined))
    assert(stale.isEmpty, stale.mkString(
      "files that name a removed DML mode conf or the removed columnar " +
        "reader option:\n", "\n", ""))

    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"$root not found; run from the repository root")
    val store = root.resolve("graft/sources/GraftStore.scala")
    def text(p: java.nio.file.Path) =
      new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    // GraftCommit's body: from its header to the first top-level `}`
    val storeLines = text(store).split("\n", -1).toSeq
    val start = storeLines.indexWhere(_.startsWith("private[sources] object GraftCommit {"))
    assert(start >= 0, "object GraftCommit not found in GraftStore.scala")
    val end = storeLines.indexWhere(_ == "}", start)
    val inside = storeLines.slice(start, end + 1).mkString("\n")
    val outside = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
      .map { p =>
        p -> (if (p == store) (storeLines.take(start) ++ storeLines.drop(end + 1)).mkString("\n")
              else text(p))
      }
    val committers = outside.collect {
      case (p, t) if t.contains("commitManifest") || t.contains("retryingCommit") => p
    }
    assert(committers.isEmpty, committers.mkString(
      "files outside GraftCommit that commit a manifest by hand:\n", "\n", ""))
    val calls = "(?<!def )\\b(commitManifest|retryingCommit)\\(".r
      .findAllMatchIn(inside).map(_.group(1)).toSeq
    assert(calls.sorted == Seq("commitManifest", "retryingCommit"),
      s"GraftCommit must swap a manifest at exactly one call site: $calls")
    val markers = outside.collect {
      case (p, t) if t.contains("SuccessFile") || t.contains("\"_SUCCESS\"") => p
    }
    assert(markers.isEmpty, markers.mkString(
      "src/main/scala files outside GraftCommit that name the _SUCCESS marker:\n", "\n", ""))
  }

  test("no table outside the store swaps itself or builds its own bucket paths") {
    // a delete + rename swap leaves a window where the table does not
    // exist, and a hand-built bucket directory path bypasses the manifest
    // that decides which files are visible
    val removed = "swap" + "Table"
    val swaps = Files.walk(Paths.get("src")).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
      .filter(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).contains(removed))
    assert(swaps.isEmpty, swaps.mkString(s"files that name the removed $removed:\n", "\n", ""))
    val root = Paths.get("src/main/scala")
    val sources = root.resolve("graft/sources")
    val bucketPaths = Files.walk(root).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala") && !p.startsWith(sources))
      .filter(p => new String(Files.readAllBytes(p), StandardCharsets.UTF_8).contains("bkt="))
      .toSeq
    assert(bucketPaths.isEmpty, bucketPaths.mkString(
      "files outside graft/sources that build a bkt= bucket path by hand:\n", "\n", ""))
  }
}
