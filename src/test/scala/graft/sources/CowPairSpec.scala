package graft.sources

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** VERDICT r15 task 4: rewrite pairing. A row-level DML commit records
  * which replacement file holds each rewritten file's kept rows (`#rw=`
  * manifest headers); the changelog reader then pair-diffs old against
  * new IN the reader, so a rewriting version's raw changelog is exactly
  * the churn — not the whole old file as deletes plus the whole new file
  * as inserts shuffled away relationally. The tests that pin a rewrite
  * set the rewrite threshold at or below 1/(rows per file), so every
  * file with a match rewrites. Pinned here:
  *
  *  1. DELETE: raw changelog rows == deleted rows (input ∝ churn);
  *  2. UPDATE: raw changelog rows == delete+insert per changed row;
  *  3. fallback: with the `#rw` headers stripped from the manifest
  *     history, the plain-diff path still nets to the identical change
  *     set (pairing is an accelerator, never a correctness dependency);
  *  4. a fully-deleted file pairs to an EMPTY replacement set and emits
  *     all its live rows as deletes.
  */
class CowPairSpec extends AnyFunSuite {
  import graft.TestSpark.{spark, withRewriteFraction, RewriteAll}

  private def ensureCatalog(): Unit =
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_cowpair_wh_"))
    }

  test("cow pair-diff: DELETE's raw changelog is exactly the deleted rows; fallback nets identical") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pairdb")
    spark.sql("DROP TABLE IF EXISTS graft.pairdb.t")
    spark.sql("CREATE TABLE graft.pairdb.t (id BIGINT, v BIGINT)")
    spark.range(0, 10000, 1, 1).selectExpr("id", "id * 2 AS v")
      .writeTo("graft.pairdb.t").append() // v2: one file
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/pairdb/t"
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.pairdb.t WHERE id % 100 = 7")) // v3
    val v = GraftMaintenance.currentVersion(tpath).get

    // the commit recorded the pairing
    val mf = GraftCommit.at(new File(tpath), v)
    assert(mf.op == "dv-delete" && mf.rewrites.size == 1 &&
      mf.rewrites.values.head.size == 1, mf.rewrites.toString)

    // 1. raw changelog = exactly the 100 deleted rows
    val raw = GraftCDC.changes(spark, tpath, v - 1, Some(v)).collect()
    assert(raw.length == 100,
      s"paired rewrite raw changelog must be the churn, got ${raw.length}")
    assert(raw.forall(_.getAs[String]("_change_type") == "delete"))
    assert(raw.map(_.getAs[Long]("id")).sorted.toSeq ==
      (0L until 10000L).filter(_ % 100 == 7))

    // 3. fallback equality: strip the #rw headers from the HISTORY copy
    // -> the plain file diff (old deletes + new inserts) nets to the
    // same change set
    val hist = new File(tpath, s"_MANIFEST.v$v")
    val body = Files.readString(hist.toPath)
    Files.writeString(hist.toPath,
      body.linesIterator.filterNot(_.startsWith("#rw="))
        .mkString("", "\n", "\n"))
    val rawNoPair = GraftCDC.changes(spark, tpath, v - 1, Some(v))
    assert(rawNoPair.count() == 10000L + 9900L,
      "without pairing the plain diff emits old deletes + kept inserts")
    val netNoPair = GraftCDC.netChangesOf(rawNoPair).collect()
    assert(netNoPair.map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("id"))).sorted.toSeq ==
      raw.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id")))
        .sorted.toSeq)
    Files.writeString(hist.toPath, body) // restore
    spark.sql("DROP TABLE graft.pairdb.t")
  }

  test("cow pair-diff: UPDATE emits one delete+insert per changed row, in place") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pairdb")
    spark.sql("DROP TABLE IF EXISTS graft.pairdb.u")
    spark.sql("CREATE TABLE graft.pairdb.u (id BIGINT, v BIGINT)")
    spark.range(0, 5000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.pairdb.u").append()
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/pairdb/u"
    withRewriteFraction(RewriteAll)(
      spark.sql("UPDATE graft.pairdb.u SET v = v + 1000000 WHERE id % 50 = 3"))
    val v = GraftMaintenance.currentVersion(tpath).get
    assert(GraftCommit.at(new File(tpath), v).rewrites.nonEmpty)
    val raw = GraftCDC.changes(spark, tpath, v - 1, Some(v)).collect()
    assert(raw.length == 200,
      s"100 updated rows -> 100 delete + 100 insert, got ${raw.length}")
    val byType = raw.groupBy(_.getAs[String]("_change_type"))
    val expect = (0L until 5000L).filter(_ % 50 == 3)
    assert(byType("delete").map(r =>
      (r.getAs[Long]("id"), r.getAs[Long]("v"))).sorted.toSeq ==
      expect.map(i => (i, i)))
    assert(byType("insert").map(r =>
      (r.getAs[Long]("id"), r.getAs[Long]("v"))).sorted.toSeq ==
      expect.map(i => (i, i + 1000000L)))
    spark.sql("DROP TABLE graft.pairdb.u")
  }

  test("cow-merge pair-diff: changelog input ∝ changed rows; clustered write keeps file count ∝ rewritten files") {
    // VERDICT r16 task 1: a MERGE's changelog must not pay the full
    // old+new diff either. Each matched file's kept rows rewrite in one
    // executor task (so the pairing is exact and the replacement count
    // is one file per rewritten file), and the merge's updated and
    // inserted rows arrive as ordinary insert files.
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pairdb")
    spark.sql("DROP TABLE IF EXISTS graft.pairdb.m")
    spark.sql("DROP TABLE IF EXISTS graft.pairdb.msrc")
    spark.sql("""CREATE TABLE graft.pairdb.m (id BIGINT, v BIGINT, p BIGINT)
                |PARTITIONED BY (p)""".stripMargin)
    spark.range(0, 10000, 1, 1)
      .selectExpr("id", "id AS v", "id % 2 AS p")
      .writeTo("graft.pairdb.m").append() // v2: ONE file per partition dir
    spark.sql("CREATE TABLE graft.pairdb.msrc (id BIGINT, v BIGINT, p BIGINT)")
    // source touches BOTH parities: 200 updates (id%100 in 7/8), 100
    // deletes (id%200 in 13/14), 10 inserts (5 per partition)
    spark.sql("""INSERT INTO graft.pairdb.msrc
                |SELECT id, id + 1000000, id % 2 FROM range(0, 10000)
                |WHERE id % 100 IN (7, 8) OR id % 200 IN (13, 14)""".stripMargin)
    spark.sql("""INSERT INTO graft.pairdb.msrc
                |SELECT id, id, id % 2 FROM range(20000, 20010)""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/pairdb/m"
    withRewriteFraction(RewriteAll)(
      spark.sql("""MERGE INTO graft.pairdb.m t USING graft.pairdb.msrc s
                  |ON t.id = s.id
                  |WHEN MATCHED AND s.id % 200 IN (13, 14) THEN DELETE
                  |WHEN MATCHED THEN UPDATE SET v = s.v
                  |WHEN NOT MATCHED THEN INSERT *""".stripMargin)) // v3
    val v = GraftMaintenance.currentVersion(tpath).get
    val mf = GraftCommit.at(new File(tpath), v)
    assert(mf.op == "dv-merge", mf.op)
    // both matched files rewrote -> both pair
    assert(mf.rewrites.size == 2, mf.rewrites.toString)
    // survivors of each matched file land in ONE replacement file, not
    // one shard per join task
    val newFiles = mf.rewrites.values.flatten.toSet
    assert(newFiles.nonEmpty && newFiles.size <= 6,
      s"the merge produced ${newFiles.size} replacement files for 2 " +
        s"rewritten files: $newFiles")

    // churn: 200 updates -> delete+insert pairs; 100 deletes; 10 inserts
    val raw = GraftCDC.changes(spark, tpath, v - 1, Some(v)).collect()
    assert(raw.length == 200 * 2 + 100 + 10,
      s"paired merge raw changelog must be the churn, got ${raw.length}")
    val byType = raw.groupBy(_.getAs[String]("_change_type"))
    assert(byType("delete").length == 300 && byType("insert").length == 210)
    assert(byType("insert").map(r => (r.getAs[Long]("id"), r.getAs[Long]("v")))
      .sorted.toSeq ==
      ((0L until 10000L).filter(i => i % 100 == 7 || i % 100 == 8)
        .map(i => (i, i + 1000000L)) ++
        (20000L until 20010L).map(i => (i, i))).sorted)
    assert(byType("delete").map(r => (r.getAs[Long]("id"), r.getAs[Long]("v")))
      .sorted.toSeq ==
      (0L until 10000L)
        .filter(i => i % 100 == 7 || i % 100 == 8 ||
          i % 200 == 13 || i % 200 == 14)
        .map(i => (i, i)).sorted)

    // fallback equality: strip #rw -> plain diff nets to the same set
    val hist = new File(tpath, s"_MANIFEST.v$v")
    val body = Files.readString(hist.toPath)
    Files.writeString(hist.toPath,
      body.linesIterator.filterNot(_.startsWith("#rw="))
        .mkString("", "\n", "\n"))
    val netNoPair = GraftCDC.netChangesOf(
      GraftCDC.changes(spark, tpath, v - 1, Some(v))).collect()
    assert(netNoPair.map(r =>
      (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[Long]("v"))).sorted.toSeq ==
      raw.map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("id"),
        r.getAs[Long]("v"))).sorted.toSeq)
    Files.writeString(hist.toPath, body)

    // several matched files in one directory: each rewrite is its own
    // task, so each pairs with exactly its own replacement
    spark.sql("DROP TABLE IF EXISTS graft.pairdb.m2")
    spark.sql("CREATE TABLE graft.pairdb.m2 (id BIGINT, v BIGINT)")
    spark.range(0, 1000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.pairdb.m2").append() // file A
    spark.range(1000, 2000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.pairdb.m2").append() // file B: same (root) dir
    withRewriteFraction(RewriteAll)(
      spark.sql("""MERGE INTO graft.pairdb.m2 t
                  |USING (SELECT id * 2 AS id, -1L AS v FROM range(0, 600)) s
                  |ON t.id = s.id
                  |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin))
    val v2 = GraftMaintenance.currentVersion(s"$wh/pairdb/m2").get
    val mf2 = GraftCommit.at(new File(s"$wh/pairdb/m2"), v2)
    assert(mf2.op == "dv-merge" && mf2.rewrites.size == 2 &&
      mf2.rewrites.values.forall(_.size == 1),
      s"two matched files in one dir must each pair with its own rewrite: ${mf2.rewrites}")
    val net2 = GraftCDC.netChanges(spark, s"$wh/pairdb/m2", v2 - 1, Some(v2))
      .collect()
    assert(net2.count(_.getAs[String]("_change_type") == "insert") == 600 &&
      net2.count(_.getAs[String]("_change_type") == "delete") == 600)
    spark.sql("DROP TABLE graft.pairdb.m")
    spark.sql("DROP TABLE graft.pairdb.msrc")
    spark.sql("DROP TABLE graft.pairdb.m2")
  }

  test("auto-DML rewrite pairing: an above-threshold file's changelog is exactly its churn") {
    // VERDICT r16 task 1: the per-file rewrites materialized on
    // executors are one task per old file — attribution exact,
    // replacement an ordered subsequence — so a dv-* version's rewritten
    // files pair-diff while its below-threshold files keep DV delta
    // reads. One mixed commit at the 0.5 default: file A (60% deleted)
    // rewrites, file B (1 row) binds a DV.
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pairdb")
    spark.sql("DROP TABLE IF EXISTS graft.pairdb.a")
    spark.sql("CREATE TABLE graft.pairdb.a (id BIGINT, v BIGINT)")
    spark.range(0, 10000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.pairdb.a").append() // file A: [0, 10000)
    spark.range(10000, 20000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.pairdb.a").append() // file B: [10000, 20000)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/pairdb/a"
    // the default threshold: no pin
    spark.sql("DELETE FROM graft.pairdb.a WHERE id < 6000 OR id = 15000")
    val v = GraftMaintenance.currentVersion(tpath).get
    val mf = GraftCommit.at(new File(tpath), v)
    assert(mf.op == "dv-delete", mf.op)
    assert(mf.rewrites.size == 1 && mf.rewrites.values.head.size == 1,
      s"file A must rewrite and pair: ${mf.rewrites}")
    assert(mf.dvs.size == 1, s"file B must bind a DV: ${mf.dvs}")
    val raw = GraftCDC.changes(spark, tpath, v - 1, Some(v)).collect()
    assert(raw.length == 6001 &&
      raw.forall(_.getAs[String]("_change_type") == "delete"),
      s"auto-rewrite changelog must be the churn, got ${raw.length}")
    assert(raw.map(_.getAs[Long]("id")).sorted.toSeq ==
      ((0L until 6000L) :+ 15000L))
    spark.sql("DROP TABLE graft.pairdb.a")
  }

  test("cow pair-diff: a fully-deleted file pairs to an empty replacement and emits all live rows") {
    ensureCatalog()
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.pairdb")
    spark.sql("DROP TABLE IF EXISTS graft.pairdb.w")
    spark.sql("CREATE TABLE graft.pairdb.w (id BIGINT, v BIGINT)")
    spark.range(0, 1000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.pairdb.w").append() // file A: [0, 1000)
    spark.range(1000, 2000, 1, 1).selectExpr("id", "id AS v")
      .writeTo("graft.pairdb.w").append() // file B: [1000, 2000)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val tpath = s"$wh/pairdb/w"
    // kills ALL of file B and 10 rows of file A — one rewriting commit,
    // two pairs: A -> [rewrite], B -> []
    withRewriteFraction(RewriteAll)(
      spark.sql("DELETE FROM graft.pairdb.w WHERE id >= 1000 OR id < 10"))
    val v = GraftMaintenance.currentVersion(tpath).get
    val mf = GraftCommit.at(new File(tpath), v)
    assert(mf.rewrites.size == 2, mf.rewrites.toString)
    assert(mf.rewrites.values.count(_.isEmpty) == 1,
      s"the fully-deleted file must pair to NO replacements: ${mf.rewrites}")
    val raw = GraftCDC.changes(spark, tpath, v - 1, Some(v)).collect()
    assert(raw.length == 1010 &&
      raw.forall(_.getAs[String]("_change_type") == "delete"))
    assert(raw.map(_.getAs[Long]("id")).sorted.toSeq ==
      ((0L until 10L) ++ (1000L until 2000L)))
    spark.sql("DROP TABLE graft.pairdb.w")
  }
}
