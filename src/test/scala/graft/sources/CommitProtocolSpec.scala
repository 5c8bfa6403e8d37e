package graft.sources

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, Filter, GreaterThan}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r12 task 1: OPTIMISTIC-CONCURRENCY validate-and-swap commits.
  * The `_META_LOCK` staleness breaker can hand a second writer the table
  * while a paused first writer is still mid-commit; these tests prove
  * that a stale survivor can no longer produce a lost update in ANY
  * schedule — the commit's linearization point is the O_EXCL hard-link
  * of the `_MANIFEST.v<N+1>` history file, validated against the version
  * the committer read (`base`).
  */
class CommitProtocolSpec extends AnyFunSuite {
  import graft.TestSpark.spark

  private def mkVersioned(files: Seq[String]): File = {
    val root = new File(graft.util.TempDirs.create("graft_occ_"), "t")
    root.mkdirs()
    files.foreach(f => Files.writeString(new File(root, f).toPath, "1\n"))
    GraftCommit.withMetaLock(root) {
      GraftCommit.commitManifest(root, files, op = "create")
    }
    Files.write(new File(root, GraftCommit.SuccessFile).toPath, Array.empty[Byte])
    root
  }

  test("stale-lock survivor: a commit staged against a superseded version conflicts, never clobbers") {
    val root = mkVersioned(Seq("a.csv"))
    // writer A reads the table (simulating its in-lock read), then its
    // lock is broken and writer B commits first
    val aRead = GraftCommit.current(root)
    assert(aRead.version == 1L)
    Files.writeString(new File(root, "b.csv").toPath, "2\n")
    GraftCommit.withMetaLock(root) {
      GraftCommit.commitManifest(root, aRead.files :+ "b.csv",
        op = "append", base = Some(aRead.version))
    }
    // A resumes with its stale read: the validate step must refuse —
    // committing A's file set would silently drop b.csv (lost update)
    Files.writeString(new File(root, "a2.csv").toPath, "3\n")
    intercept[GraftCommitConflictException] {
      GraftCommit.commitManifest(root, aRead.files :+ "a2.csv",
        op = "append", base = Some(aRead.version))
    }
    // nothing moved: b.csv is still visible
    assert(GraftCommit.current(root).files.toSet == Set("a.csv", "b.csv"))
    // the REBASE path (what commitAppend's retry loop does): re-read,
    // recompute, commit — all three files survive
    val fresh = GraftCommit.current(root)
    GraftCommit.commitManifest(root, fresh.files :+ "a2.csv",
      op = "append", base = Some(fresh.version))
    assert(GraftCommit.current(root).files.toSet ==
      Set("a.csv", "b.csv", "a2.csv"))
  }

  test("CAS backstop: two writers inside the critical section cannot both claim a version") {
    val root = mkVersioned(Seq("a.csv"))
    // Both writers validated against v1 (base passes for both); the
    // hard-link CAS must let exactly one win. Simulate the loser by
    // pre-claiming v2 with a COMPLETE body (the winner's files exist).
    Files.writeString(new File(root, "w.csv").toPath, "w\n")
    val winnerBody = "#version=2\n#ts=1\n#op=append\n" +
      Seq("a.csv", "w.csv").map(GraftStore.encodePartValue).mkString("", "\n", "\n")
    Files.writeString(new File(root, "_MANIFEST.v2").toPath, winnerBody)
    // loser: base still matches the pointer (v1 — the winner died before
    // its swap), but the version-file CAS fails and ROLLS the winner
    // FORWARD instead of wedging or clobbering
    Files.writeString(new File(root, "l.csv").toPath, "l\n")
    intercept[GraftCommitConflictException] {
      GraftCommit.commitManifest(root, Seq("a.csv", "l.csv"),
        op = "append", base = Some(1L))
    }
    assert(GraftCommit.committedVersion(root) == 2L,
      "a complete crashed winner must be rolled forward")
    assert(GraftCommit.current(root).files.toSet == Set("a.csv", "w.csv"))
    // the loser's rebase then lands on v3 with every file intact
    val fresh = GraftCommit.current(root)
    GraftCommit.commitManifest(root, fresh.files :+ "l.csv",
      op = "append", base = Some(fresh.version))
    assert(GraftCommit.current(root).files.toSet ==
      Set("a.csv", "w.csv", "l.csv"))
  }

  test("corrupt orphan history (files missing) is discarded and its version reclaimed") {
    val root = mkVersioned(Seq("a.csv"))
    Files.writeString(new File(root, "_MANIFEST.v2").toPath,
      "#version=2\nno-such-file.csv\n")
    Files.writeString(new File(root, "c.csv").toPath, "c\n")
    val v = GraftCommit.commitManifest(root, Seq("a.csv", "c.csv"),
      op = "append", base = Some(1L))
    assert(v == 2L)
    assert(!Files.readString(Paths.get(root.getPath, "_MANIFEST.v2"))
      .contains("no-such-file"))
    assert(GraftCommit.current(root).files.toSet == Set("a.csv", "c.csv"))
  }

  test("concurrent appends through the real write path: all rows survive, versions serialize") {
    val dir = graft.util.TempDirs.create("graft_occ_par_") + "/t"
    spark.range(0, 100, 1, 2).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    val base = GraftMaintenance.currentVersion(dir).get // versioned from the first write
    // three appends racing through separate threads (local Spark runs
    // them as concurrent jobs); each commit must rebase over the others
    val threads = (0 until 3).map { k =>
      new Thread(() =>
        spark.range(100 + k * 50, 100 + (k + 1) * 50, 1, 1)
          .select(col("id"), (col("id") * 2).as("v"))
          .write.format("graft.sources.GraftStoreProvider")
          .option("path", dir).mode("append").save())
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(GraftMaintenance.currentVersion(dir).contains(base + 3),
      "each append must commit exactly one version")
    val got = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    assert(got.count() == 250L, "a lost update dropped an append's files")
    assert(got.agg(sum("id")).head().getLong(0) == (0L until 250L).sum)
  }

  test("a stale abandoned lock is broken: liveness survives a dead writer") {
    val root = mkVersioned(Seq("a.csv"))
    val lock = new File(root, "_META_LOCK")
    Files.write(lock.toPath, Array.empty[Byte])
    lock.setLastModified(System.currentTimeMillis() - 120000L)
    // the append must break the aged lock and commit
    Files.writeString(new File(root, "x.csv").toPath, "x\n")
    GraftCommit.withMetaLock(root) {
      val m = GraftCommit.current(root)
      GraftCommit.commitManifest(root, m.files :+ "x.csv",
        op = "append", base = Some(m.version))
    }
    assert(GraftCommit.current(root).files.toSet == Set("a.csv", "x.csv"))
  }

  test("write-skew gate: appended files are refuted by zone maps or conflict the rewrite (ADVICE r12)") {
    val dir = graft.util.TempDirs.create("graft_skew_") + "/t"
    // two range-disjoint files with tight id zone maps
    spark.range(0, 100, 1, 1).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("overwrite").save()
    spark.range(200, 300, 1, 1).select(col("id"), (col("id") * 2).as("v"))
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("append").save()
    val root = new File(dir)
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("v", LongType)))
    val added = GraftCommit.current(root).files
    // a DELETE WHERE id = 7: the [200,300) append is provably
    // irrelevant (refuted); the [0,100) one may hold the row -> conflict
    val cond: Array[Filter] = Array(EqualTo("id", 7L))
    val bad = GraftCommit.unrefutableAdds(root, schema, Seq.empty, added, cond)
    assert(bad.length == 1, bad.mkString(","))
    // refutable everywhere -> no conflict at all
    assert(GraftCommit.unrefutableAdds(root, schema, Seq.empty, added,
      Array[Filter](GreaterThan("id", 1000L))).isEmpty)
    // an UNCONDITIONED rewrite (empty condition) conflicts with every add
    assert(GraftCommit.unrefutableAdds(root, schema, Seq.empty, added,
      Array.empty[Filter]).size == added.size)
    // a file with no stats entry cannot be refuted -> conflicts
    GraftCommit.writeStats(root, Seq.empty)
    assert(GraftCommit.unrefutableAdds(root, schema, Seq.empty, added,
      cond).size == added.size)
  }

  test("dynamic overwrite concurrency: appends to untouched partitions compose; touched partitions are last-writer-wins") {
    import graft.sources.{GraftMaintenance => GM}
    val wh = graft.util.TempDirs.create("graft_dynocc_")
    val dir = s"$wh/t"
    spark.range(0, 60, 1, 4)
      .selectExpr("id", "CASE WHEN id < 30 THEN 'a' ELSE 'b' END AS day",
        "id * 2 AS v")
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).option("partitionBy", "day")
      .mode("overwrite").save()
    val base = GM.currentVersion(dir).get // versioned from the first write

    // RACE: a dynamic overwrite of day=a against an append into day=b.
    // Whatever the interleaving, both must commit (the overwrite's CAS
    // rebase recomputes its dead set from the fresh manifest, and an
    // append's files are never in a partition it didn't touch), so the
    // final state is deterministic: a replaced, b = old + appended.
    val table = new GraftStoreTable(dir,
      StructType(Seq(StructField("id", LongType), StructField("day", StringType),
        StructField("v", LongType))), Seq("day"))
    def dynWrite(): Unit = {
      val df = spark.range(0, 5)
        .selectExpr("id + 1000 AS id", "'a' AS day", "id AS v")
      // the catalog writeTo() route is pinned in SourcesSpec; here the
      // builder (the public DSv2 surface) is driven directly so the two
      // sides of the race are plain threads
      val info = new org.apache.spark.sql.connector.write.LogicalWriteInfo {
        override def queryId(): String = java.util.UUID.randomUUID().toString
        override def schema(): StructType = table.schema()
        override def options() =
          new org.apache.spark.sql.util.CaseInsensitiveStringMap(
            java.util.Collections.emptyMap())
      }
      val wb = table.newWriteBuilder(info)
        .asInstanceOf[GraftStoreWriteBuilder]
      val write = wb.overwriteDynamicPartitions().asInstanceOf[GraftStoreWriteBuilder]
        .build().toBatch
      val factory = write.createBatchWriterFactory(null)
      val w = factory.createWriter(0, 0L)
      df.collect().foreach { r =>
        w.write(org.apache.spark.sql.catalyst.InternalRow(
          r.getLong(0), org.apache.spark.unsafe.types.UTF8String.fromString(
            r.getString(1)), r.getLong(2)))
      }
      write.commit(Array(w.commit()))
    }
    val appender = new Thread(() =>
      spark.range(2000, 2010).selectExpr("id", "'b' AS day", "id AS v")
        .write.format("graft.sources.GraftStoreProvider")
        .option("path", dir).mode("append").save())
    val overwriter = new Thread(() => dynWrite())
    appender.start(); overwriter.start()
    appender.join(); overwriter.join()

    assert(GM.currentVersion(dir).contains(base + 2),
      "both the append and the dynamic overwrite must commit")
    val got = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
    val byDay = got.groupBy("day").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byDay == Map("a" -> 5L, "b" -> 40L),
      s"a must be replaced, b must keep old + appended rows: $byDay")
    assert(got.filter(col("day") === "b" && col("id") >= 2000).count() == 10L)

    // SEQUENTIAL contract pin: an append into a partition the overwrite
    // then touches is SUPERSEDED — per-partition last-writer-wins, the
    // same convention as the full overwrite
    spark.range(3000, 3005).selectExpr("id", "'a' AS day", "id AS v")
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", dir).mode("append").save()
    dynWrite()
    assert(spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", dir).load()
      .filter(col("day") === "a").count() == 5L,
      "a later dynamic overwrite supersedes earlier rows in its partitions")
  }

  private def ensureCatalog(): Unit =
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_occ_wh_"))
    }

  test("auto DML rewrites publish from executors; the driver never streams data file contents") {
    // VERDICT r14 task 1: row-level DML's kept-row materialization runs
    // on executors, OUTSIDE the metadata lock — a driver-side loop would
    // serialize O(file bytes × files) through one node while blocking
    // every concurrent committer. materializeKept counts driver-side (no
    // TaskContext) invocations; a DELETE that crosses the rewrite
    // threshold must leave that count untouched.
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.occdb")
    spark.sql("DROP TABLE IF EXISTS graft.occdb.exec")
    spark.sql("CREATE TABLE graft.occdb.exec (id BIGINT, v BIGINT)")
    spark.sql("""INSERT INTO graft.occdb.exec
                |SELECT /*+ REPARTITION(1) */ id, id * 2 FROM range(0, 100)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/occdb/exec"
    val driverBefore = GraftStore.DriverMaterializations.get()
    spark.sql("DELETE FROM graft.occdb.exec WHERE id < 90") // 90% >= 0.5 -> rewrite
    val manifest = Files.readString(Paths.get(tdir, "_MANIFEST"))
    assert(manifest.linesIterator.exists(l =>
      !l.startsWith("#") && l.contains("-m")),
      "the 90%-deleted file must be materialized (not DV-bound)")
    assert(!manifest.linesIterator.exists(_.startsWith("#dv=")))
    assert(GraftStore.DriverMaterializations.get() == driverBefore,
      "the auto rewrite ran materializeKept on the DRIVER")
    assert(spark.sql("SELECT count(*), min(id) FROM graft.occdb.exec").head()
      match { case r => r.getLong(0) == 10L && r.getLong(1) == 90L })
    spark.sql("DROP TABLE graft.occdb.exec")
  }

  test("racing auto deletes on one file: the loser rebases on the fresh DV generation, no resurrection") {
    // The executor-side restructure moved the cumulative-bits OR out of
    // the lock, against a SNAPSHOT; this pins the stale-attempt gate —
    // whichever delete commits second must fold the first one's DV
    // generation in (losing it would RESURRECT deleted rows).
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.occdb")
    spark.sql("DROP TABLE IF EXISTS graft.occdb.race")
    spark.sql("CREATE TABLE graft.occdb.race (id BIGINT, v BIGINT)")
    spark.sql("""INSERT INTO graft.occdb.race
                |SELECT /*+ REPARTITION(1) */ id, id * 2 FROM range(0, 1000)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tdir = s"$wh/occdb/race"
    val base = GraftMaintenance.currentVersion(tdir).get
    // each hits 5% of the single file (cumulative 10% < the 0.5
    // threshold), so BOTH bind deletion vectors on the SAME target — the
    // racing case
    val t1 = new Thread(() =>
      spark.sql("DELETE FROM graft.occdb.race WHERE id >= 0 AND id < 50"))
    val t2 = new Thread(() =>
      spark.sql("DELETE FROM graft.occdb.race WHERE id >= 500 AND id < 550"))
    t1.start(); t2.start(); t1.join(); t2.join()
    assert(GraftMaintenance.currentVersion(tdir).contains(base + 2),
      "each delete must commit exactly one version")
    // the surviving DV generation carries BOTH deletes' ordinals
    val mf = GraftCommit.current(new File(tdir))
    assert(mf.dvs.size == 1, s"one file, one cumulative DV: ${mf.dvs}")
    assert(GraftDv.cardinality(
      new File(tdir, mf.dvs.values.head).getAbsolutePath) == 100L)
    val got = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", tdir).load()
    assert(got.count() == 900L)
    assert(got.filter(col("id") < 50 || (col("id") >= 500 && col("id") < 550))
      .count() == 0L, "a lost DV generation resurrected deleted rows")
    spark.sql("DROP TABLE graft.occdb.race")
  }
}
