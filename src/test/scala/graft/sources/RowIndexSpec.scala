package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r15 task 2: the ROW-INDEX sidecar (`ridx-*`) that makes
  * DV-delta changelog reads O(changed rows). These tests pin the three
  * contracts that matter:
  *
  *  1. LIFECYCLE — the sidecar is written with its data file (provider
  *     write AND row-level DML's kept-row rewrite), moves through publish in the same
  *     rename step, and dies with the file (paired delete + GC sweep);
  *  2. SEEK — an indexed delta read never touches blocks holding no
  *     changed ordinals (proved by POISONING block 0's bytes: a
  *     full-scan read would mis-frame every later record, the seek
  *     read is exact);
  *  3. EQUALITY — with the sidecar deleted, the full-scan fallback
  *     enumerates the identical change set (the index is an
  *     accelerator, never a correctness dependency).
  */
class RowIndexSpec extends AnyFunSuite {
  import graft.TestSpark.{spark, withRewriteFraction, RewriteAll, DvOnly}

  private def ensureCatalog(): Unit =
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_ridx_wh_"))
    }

  test("row index: written with the file, drives seeking delta reads, falls back byte-equal, dies with the file") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ridxdb")
    spark.sql("DROP TABLE IF EXISTS graft.ridxdb.t")
    spark.sql("CREATE TABLE graft.ridxdb.t (id BIGINT, v BIGINT)")
    // ONE ordered file of 12000 rows -> 3 blocks of 4096 (ordinal == id)
    spark.range(0, 12000, 1, 1).selectExpr("id", "id * 2 AS v")
      .writeTo("graft.ridxdb.t").append()
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = new File(s"$wh/ridxdb/t")
    val dataFile = tdir.listFiles().filter(_.getName.startsWith("part-")) match {
      case Array(f) => f
      case other    => fail(s"expected one data file, got ${other.toSeq}")
    }
    // 1. lifecycle: the sidecar landed next to its published file
    val ridx = GraftRidx.fileFor(dataFile)
    assert(ridx.isFile, "provider write must publish the row index")
    val Some((blockRows, offs)) = GraftRidx.read(dataFile)
    assert(blockRows == GraftRidx.BlockRows && offs.length == 3 &&
      offs(0) == 0L && offs(1) > 0L && offs(2) > offs(1))

    // a deletion-vector delete in blocks 1 and 2 only (block 0 stays
    // untouched)
    val expected = Set(5000L, 5001L, 5002L, 5003L, 5004L, 9000L, 9001L)
    withRewriteFraction(DvOnly)(spark.sql(
      "DELETE FROM graft.ridxdb.t WHERE (id >= 5000 AND id < 5005) OR id = 9000 OR id = 9001"))
    val vDel = GraftMaintenance.currentVersion(tdir.getAbsolutePath).get

    def deltaIds(): Set[Long] =
      GraftCDC.changes(spark, tdir.getAbsolutePath, vDel - 1, Some(vDel))
        .filter(col("_change_type") === "delete")
        .collect().map(_.getAs[Long]("id")).toSet

    // 2. the indexed read takes the SEEK path and is exact
    val seeksBefore = GraftStore.DeltaSeekReads.get()
    assert(deltaIds() == expected)
    assert(GraftStore.DeltaSeekReads.get() > seeksBefore,
      "an indexed delta read must take the seek path")

    // POISON block 0: same byte length, no record boundaries — a
    // full-scan read would mis-frame every later record; the seek read
    // starts at offs(1)/offs(2) and never sees the poison
    val original = Files.readAllBytes(dataFile.toPath)
    val poisoned = original.clone()
    java.util.Arrays.fill(poisoned, 0, offs(1).toInt, 'z'.toByte)
    Files.write(dataFile.toPath, poisoned)
    try assert(deltaIds() == expected,
      "the seek read must never touch unchanged blocks")
    finally Files.write(dataFile.toPath, original)

    // 3. fallback equality: with the sidecar gone, the full-scan path
    // enumerates the identical set (and does NOT bump the seek counter)
    Files.delete(ridx.toPath)
    val seeksBefore2 = GraftStore.DeltaSeekReads.get()
    assert(deltaIds() == expected)
    assert(GraftStore.DeltaSeekReads.get() == seeksBefore2)

    // 4. rewrites re-index: a delete pinned to rewrite materializes the
    // kept rows (> one block) — the rewrite file carries a fresh
    // sidecar, and GC unlinks the retired original together with any
    // sidecar
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.ridxdb.t WHERE id >= 11000"))
    val rewrite = tdir.listFiles()
      .filter(f => f.getName.startsWith("rewrite-") && f.getName.endsWith(".csv")) match {
      case Array(f) => f
      case other    => fail(s"expected one rewrite file, got ${other.toSeq}")
    }
    assert(GraftRidx.fileFor(rewrite).isFile,
      "a kept-row rewrite must publish a fresh row index")
    GraftMaintenance.expireSnapshots(tdir.getAbsolutePath, olderThanMs = 0L,
      strayGraceMs = 0L)
    assert(!dataFile.isFile, "the retired original must be GC'd")
    assert(!GraftRidx.fileFor(dataFile).isFile,
      "a data file's sidecar must never outlive it")
    // the live read is intact through all of it
    assert(spark.sql("SELECT count(*), sum(v) FROM graft.ridxdb.t").head()
      match { case r =>
        val ids = (0L until 11000L).filterNot(expected)
        r.getLong(0) == ids.length.toLong && r.getLong(1) == ids.map(_ * 2).sum
      })
    spark.sql("DROP TABLE graft.ridxdb.t")
  }

  test("row index: auto-mode executor rewrite writes a sidecar; orphaned sidecars are GC-swept") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.ridxdb")
    spark.sql("DROP TABLE IF EXISTS graft.ridxdb.u")
    spark.sql("CREATE TABLE graft.ridxdb.u (id BIGINT, v BIGINT)")
    spark.range(0, 10000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.ridxdb.u").append()
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = new File(s"$wh/ridxdb/u")
    // DELETE of 60% at the 0.5 default -> the executor-side materializeKept path;
    // 4000 kept rows = 1 block boundary crossed -> a sidecar
    spark.sql("DELETE FROM graft.ridxdb.u WHERE id < 6000")
    val rewrite = tdir.listFiles()
      .filter(f => f.getName.endsWith(".csv") && f.getName.contains("-m")) match {
      case Array(f) => f
      case other    => fail(s"expected one materialized file, got ${other.toSeq}")
    }
    assert(!GraftRidx.fileFor(rewrite).isFile == (4000 <= GraftRidx.BlockRows),
      "kept rows under one block need no index; above one block they get one")

    // orphan sweep: a sidecar whose data file vanished out-of-band is
    // removed by expireSnapshots (the crash-window backstop)
    val orphan = new File(tdir, GraftRidx.Prefix + "part-gone.csv")
    Files.write(orphan.toPath, Array[Byte](1, 2, 3))
    GraftMaintenance.expireSnapshots(tdir.getAbsolutePath, olderThanMs = 0L,
      strayGraceMs = 0L)
    assert(!orphan.isFile, "orphaned sidecars must be GC-swept")
    assert(spark.sql("SELECT count(*) FROM graft.ridxdb.u").head().getLong(0)
      == 4000L)
    spark.sql("DROP TABLE graft.ridxdb.u")
  }
}
