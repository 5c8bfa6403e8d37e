package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.GraftCatalog.onGraftCatalog
import graft.streaming.Pipeline
import graft.streaming.Pipeline.StreamEvent

class StreamingSpec extends AnyFunSuite {
  import TestSpark.{spark, withRewriteFraction, DvOnly}
  import spark.implicits._

  private def ev(id: Long, user: Long, value: Double = 1.0): StreamEvent =
    StreamEvent(id, 1719792000L + id, user, "view", value, s"""{"k": ${id % 100}}""")

  test("stateful author counts accumulate across micro-batches (ST5)") {
    val events = Seq(
      ev(1, 10), ev(2, 20), ev(3, 10), // batch 1
      ev(4, 10), ev(5, 20), ev(6, 30), // batch 2
      ev(7, 10), ev(8, 30), ev(9, 20)) // batch 3
    Pipeline.drive(spark, "spec_author_sink", events.grouped(3).toSeq)(
      Pipeline.authorCounts(_).writeStream.outputMode("append").format("memory"))
    val out = spark.table("spec_author_sink")
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    // per-row as-of counts, state carried across batches
    assert(out == Map(1L -> 1L, 3L -> 2L, 4L -> 3L, 7L -> 4L, // user 10
      2L -> 1L, 5L -> 2L, 9L -> 3L, // user 20
      6L -> 1L, 8L -> 2L)) // user 30
  }

  test("stateful results are identical under the RocksDB state store (large-state path)") {
    // HDFS-backed state lives on the executor heap — fine for bounded key
    // spaces, fatal when streaming state outgrows memory at 100 TB/day.
    // The same queries must run unchanged on the RocksDB provider (state
    // spills to local disk); results may not differ by a single row.
    val events = Seq(
      ev(1, 10), ev(2, 20), ev(3, 10),
      ev(4, 10), ev(5, 20), ev(6, 30),
      ev(7, 10), ev(8, 30), ev(9, 20))
    def run(sink: String) = {
      Pipeline.drive(spark, sink, events.grouped(3).toSeq)(
        Pipeline.authorCounts(_).writeStream.outputMode("append").format("memory"))
      spark.table(sink).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val default = run("spec_rocks_base_sink")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val rocks = run("spec_rocks_sink")
      assert(rocks == default)
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("dropDuplicatesWithinWatermark actually evicts state as event time advances") {
    // the q101 scale claim made observable: after the watermark passes a
    // key's timestamp, its dedup state must leave the store — plain
    // dropDuplicates would keep all 6 keys forever
    import org.apache.spark.sql.functions._
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[StreamEvent](spark)
    spark.catalog.dropTempView("spec_wmdedup_sink")
    val ckpt = graft.util.TempDirs.create("ckpt_spec_wmdedup")
    val base = 1719792000L
    val q = stream.toDS()
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("event_id")
      .select("event_id")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("spec_wmdedup_sink").start()
    def batch(ids: Seq[Long], ts: Long): Unit = {
      stream.addData(ids.map(i => StreamEvent(i, ts, 1L, "view", 1.0, "{}")))
      q.processAllAvailable()
    }
    batch(Seq(1, 2, 3), base)               // 3 keys in state
    batch(Seq(4, 5, 6), base + 7200)        // watermark jumps 2h past batch 1
    batch(Seq(7), base + 7200)              // one more batch so eviction commits
    val stateRows = q.lastProgress.stateOperators.head.numRowsTotal
    q.stop(); q.awaitTermination()
    graft.util.TempDirs.delete(ckpt)
    assert(spark.table("spec_wmdedup_sink").count() == 7) // every id emitted once
    assert(stateRows < 7, s"expected evicted state, store still holds $stateRows rows")
  }

  /** Streams `batches` through [[Pipeline.upsertBatch]] into a fresh
    * upsert table, on a session clone with `conf`; returns the final
    * user → event map and the table dir.
    */
  private def upsertRun(name: String, batches: Seq[Seq[StreamEvent]],
      conf: (String, String)*): (Map[Long, Long], java.io.File) = {
    var dir: java.io.File = null
    val table = onGraftCatalog(spark, conf: _*) { (s, wh) =>
      val t = Pipeline.storeTable(s, "upsert", Pipeline.UpsertDdl, "bkt")
      dir = new java.io.File(wh, "upsert")
      Pipeline.drive(s, name, batches)(
        ds => Pipeline.enrich(ds.toDF()).writeStream.outputMode("update")
          .foreachBatch((b: DataFrame, _: Long) => Pipeline.upsertBatch(s, b, t)))
      s.table(t)
    }
    val state = table.collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("event_id")).toMap
    (state, dir)
  }

  test("keyed upsert: last write per user wins across batches (S10)") {
    val events = Seq(ev(1, 10, 1.0), ev(2, 20, 2.0), ev(3, 10, 3.0),
      ev(4, 20, 4.0), ev(5, 10, 5.0))
    val (state, _) = upsertRun("spec_upsert_sink", events.grouped(2).toSeq)
    assert(state == Map(10L -> 5L, 20L -> 4L))
  }

  test("keyed upsert: a batch touching one user of a shared bucket keeps the bucket's other users") {
    // users 1 and 9 share bucket 1 (user_id mod 8); the second batch
    // rewrites that bucket, so it must merge the stored user 9 back in
    val events = Seq(ev(1, 1, 1.0), ev(2, 9, 2.0), ev(3, 1, 3.0))
    val (state, _) = upsertRun("spec_upsert_shared_sink", events.grouped(2).toSeq)
    assert(state == Map(1L -> 3L, 9L -> 2L))
  }

  test("keyed upsert: the manifest lists one file per touched bucket") {
    // The r17 merge rewrite (partition by bkt once, window by (bkt,
    // user_id)) must preserve the store layout invariant the probe relies
    // on: the current manifest lists exactly ONE file per bucket after
    // any number of batches — the probe's file list stays ∝ buckets,
    // never ∝ batches. A bucket overwrite retires the replaced files
    // instead of deleting them, so the manifest, not a directory
    // listing, is the layout.
    val events = (1L to 40L).map(i => ev(i, i % 10, i.toDouble))
    // AQE would coalesce this input's small shuffles into one task, which
    // hides a merge that splits a bucket across tasks
    val (state, dir) = upsertRun("spec_upsert_files_sink", events.grouped(10).toSeq,
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    // manifest lines are encoded table-relative paths, one per file
    val listed = Files.readAllLines(dir.toPath.resolve("_MANIFEST")).asScala.toSeq
      .filterNot(l => l.isEmpty || l.startsWith("#"))
      .map(graft.sources.GraftStore.decodePartValue)
    val perBucket = listed.groupBy(_.takeWhile(_ != '/'))
    assert(perBucket.keySet == (0 until 8).map(b => s"bkt=$b").toSet)
    perBucket.foreach { case (bucket, files) =>
      assert(files.length == 1,
        s"the manifest lists ${files.length} files in $bucket; expected exactly 1")
    }
    // and the merge semantics are unchanged: last event per user wins
    assert(state == (0L to 9L).map(u => u -> (30L + ((u + 10 - 1) % 10) + 1)).toMap)
  }

  test("batch anomalies use batch-local stats, not global (ST4)") {
    // batch 1 contains an outlier relative to ITS batch; batch 2's values
    // would make it unremarkable globally
    val batch1 = Seq(ev(1, 1, 10.0), ev(2, 1, 10.2), ev(3, 1, 9.9),
      ev(4, 1, 10.1), ev(5, 1, 300.0))
    val flags = Pipeline.batchAnomalies(
      batch1.toDF(), 0L).collect().map(_.getAs[Long]("event_id")).toSeq
    // z of 300 within batch: mean≈68, std≈129 → z≈1.79 < 2.5 with n=5...
    // use a tighter batch to force |z|>2.5: 12 near-constant + 1 outlier
    val tight = (1 to 12).map(i => ev(i.toLong, 1, 10.0 + 0.01 * i)) :+ ev(13, 1, 50.0)
    val flags2 = Pipeline.batchAnomalies(tight.toDF(), 1L)
      .collect().map(_.getAs[Long]("event_id")).toSeq
    assert(flags2 == Seq(13L))
    assert(flags.isEmpty)
  }

  test("anomaly flags are always a subset of the batch (property)") {
    val batch = (1 to 50).map(i => ev(i.toLong, i % 5, (i * 37 % 11).toDouble))
    val ids = Pipeline.batchAnomalies(batch.toDF(), 0L)
      .collect().map(_.getAs[Long]("event_id")).toSet
    assert(ids.subsetOf(batch.map(_.event_id).toSet))
  }

  test("the stream driver stops the query and drops its checkpoint when a batch fails") {
    val name = "spec_driver_fail"
    // TempDirs' scratch roots: tmpfs where present, else java.io.tmpdir
    def leftCheckpoints() =
      Seq("/dev/shm", System.getProperty("java.io.tmpdir")).distinct
        .flatMap(d => Option(new java.io.File(d).listFiles()).getOrElse(Array.empty))
        .map(_.getName).filter(_.startsWith(s"ckpt_${name}_"))
    assert(leftCheckpoints().isEmpty)
    val err = intercept[Exception] {
      Pipeline.drive(spark, name, (1L to 6L).map(i => ev(i, i % 2)).grouped(2).toSeq)(
        _.toDF().writeStream.foreachBatch { (_: DataFrame, id: Long) =>
          if (id == 1L) throw new IllegalStateException("spec batch 1 fails")
        })
    }
    val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => Option(c.getMessage).exists(_.contains("spec batch 1 fails"))),
      s"the caller must see the failing batch's error, got $err")
    assert(spark.streams.active.isEmpty, "the failed query must be stopped")
    assert(leftCheckpoints().isEmpty, "the failed query's checkpoint must be deleted")
  }

  test("only Pipeline.drive feeds a stream or sets a checkpoint") {
    import java.nio.charset.StandardCharsets
    import java.nio.file.Paths
    def sources(dir: String) = {
      val root = Paths.get(dir)
      assert(Files.isDirectory(root), s"$root not found; run from the repository root")
      Files.walk(root).iterator.asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .map(p => p -> new String(Files.readAllBytes(p), StandardCharsets.UTF_8)).toSeq
    }
    val removed = "run" + "Sliced"
    val stale = sources("src").collect { case (p, t) if t.contains(removed) => p }
    assert(stale.isEmpty, stale.mkString(s"files that name the removed $removed:\n", "\n", ""))
    val driver = Paths.get("src/main/scala/graft/streaming/Pipeline.scala")
    // GraftIVM.streamRefresh hands its AvailableNow query to the caller,
    // who restarts it against one checkpoint
    val ivm = Paths.get("src/main/scala/graft/sources/GraftIVM.scala")
    val outside = sources("src/main/scala").filter(_._1 != driver)
    val feeders = outside.collect {
      case (p, t) if t.contains("processAllAvailable") || t.contains("MemoryStream") => p
    }
    assert(feeders.isEmpty, feeders.mkString(
      "files outside Pipeline that feed or drain a stream by hand:\n", "\n", ""))
    val checkpointers = outside.collect {
      case (p, t) if p != ivm && t.contains("\"checkpointLocation\"") => p
    }
    assert(checkpointers.isEmpty, checkpointers.mkString(
      "files outside Pipeline that set a checkpoint by hand:\n", "\n", ""))
  }

  test("file sink + checkpoint: query restart resumes offsets exactly once") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val out = Files.createTempDirectory("spec_ckpt_out_").toString
    val ckpt = Files.createTempDirectory("spec_ckpt_").toString
    val stream = MemoryStream[StreamEvent](spark)
    def start() = stream.toDS()
      .select($"event_id", $"user_id", $"value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    val q1 = start()
    stream.addData((1 to 5).map(i => ev(i.toLong, i.toLong)))
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
    // restart against the same checkpoint; feed more data
    val q2 = start()
    stream.addData((6 to 9).map(i => ev(i.toLong, i.toLong)))
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    val ids = spark.read.parquet(out).select("event_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 9L), s"expected each event exactly once, got $ids")
  }

  test("graft-store streaming sink: kill/restart against the same checkpoint+store is exactly-once") {
    // VERDICT r9 task 7: the DSv2 table and the exactly-once story are one
    // mechanism — epoch-tagged part files make a replayed commit REPLACE
    // its epoch, so a restarted query never duplicates rows.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = Files.createTempDirectory("spec_gstore_sink_").toString + "/t"
    val ckpt = Files.createTempDirectory("spec_gstore_ckpt_").toString
    val stream = MemoryStream[StreamEvent](spark)
    def start() = stream.toDS()
      .select($"event_id", $"user_id", $"value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("graft.sources.GraftStoreProvider")
      .option("path", store).start()
    val q1 = start()
    stream.addData((1 to 5).map(i => ev(i.toLong, i.toLong)))
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
    // kill #1 done; restart against the same checkpoint and table
    val q2 = start()
    stream.addData((6 to 9).map(i => ev(i.toLong, i.toLong)))
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    val back = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", store).load()
    val ids = back.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 9L), s"expected each event exactly once, got $ids")
    // epoch-tagged deterministic layout, with the marker each epoch commit writes
    val files = new java.io.File(store).listFiles().map(_.getName).toSet
    assert(files.contains("_SUCCESS") && files.contains("_SCHEMA"))
    assert(files.exists(_.startsWith("part-e")), s"no epoch parts: $files")
    assert(!files.contains("_temporary"), s"temp residue: $files")
  }

  test("graft-store streaming sink compacts between runs: epoch files merge, restart appends through the manifest") {
    // VERDICT r10 task 2: a q251-shape sink accumulates one file per
    // epoch — the classic small-file failure. Compaction (with the
    // stream QUIESCED — the GraftMaintenance contract) must preserve
    // every row, shrink the file count, and a restarted stream must
    // keep exactly-once semantics with its new epochs visible through
    // the manifest.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val store = Files.createTempDirectory("spec_gstore_cpt_").toString + "/t"
    val ckpt = Files.createTempDirectory("spec_gstore_cptck_").toString
    val stream = MemoryStream[StreamEvent](spark)
    def start() = stream.toDS()
      .select($"event_id", $"user_id", $"value")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("graft.sources.GraftStoreProvider")
      .option("path", store).start()
    def back() = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", store).load()
    def files() = new java.io.File(store).listFiles()
      .filter(f => f.getName.startsWith("part-") || f.getName.startsWith("merged-"))
    // 6 separate micro-batches -> 6 epochs -> >= 6 small files
    val q1 = start()
    (1 to 6).foreach { b =>
      stream.addData((1 to 5).map(i => ev((b * 10 + i).toLong, i.toLong)))
      q1.processAllAvailable()
    }
    q1.stop(); q1.awaitTermination()
    val beforeRows = back().collect().map(_.toString).sorted.toSeq
    val nBefore = files().length
    assert(nBefore >= 6, s"expected an epoch-file pileup, got $nBefore")
    // quiesced compaction
    val res = graft.sources.GraftMaintenance.compact(store)
    assert(res.filesAfter < nBefore, res.toString)
    // replaced epoch files are RETIRED (still on disk for pinned
    // readers); retention GC with a zero window removes them
    graft.sources.GraftMaintenance.expireSnapshots(store, olderThanMs = 0L)
    assert(files().length == res.filesAfter)
    assert(back().collect().map(_.toString).sorted.toSeq == beforeRows,
      "compaction changed streaming rows")
    // restart: new epochs land through the manifest, exactly-once holds
    val q2 = start()
    stream.addData((1 to 5).map(i => ev((70 + i).toLong, i.toLong)))
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    val ids = back().select("event_id").collect().map(_.getLong(0)).sorted.toSeq
    val expect = ((1 to 6).flatMap(b => (1 to 5).map(i => (b * 10 + i).toLong)) ++
      (71L to 75L)).sorted
    assert(ids == expect, s"post-compaction restart diverged: $ids")
  }

  test("stateful state survives a checkpointed restart (recovery == uninterrupted)") {
    // The recovery contract at 100 TB/day: a failed executor/driver resumes
    // from the checkpoint with BOTH offsets and operator state intact. The
    // as-of counts for post-restart events are correct only if the per-user
    // state (not just the source offset) was restored.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val out = Files.createTempDirectory("spec_ckpt_state_out_").toString
    val ckpt = Files.createTempDirectory("spec_ckpt_state_").toString
    val stream = MemoryStream[StreamEvent](spark)
    def start() = Pipeline.authorCounts(stream.toDS()).toDF()
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("parquet").option("path", out).start()
    val events = Seq(
      ev(1, 10), ev(2, 20), ev(3, 10), ev(4, 10), ev(5, 20), // before the crash
      ev(6, 30), ev(7, 10), ev(8, 30), ev(9, 20)) // after recovery
    val q1 = start()
    stream.addData(events.take(5))
    q1.processAllAvailable(); q1.stop(); q1.awaitTermination()
    val q2 = start()
    stream.addData(events.drop(5))
    q2.processAllAvailable(); q2.stop(); q2.awaitTermination()
    val got = spark.read.parquet(out).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    // counts 4 (user 10), 3 (user 20), 2 (user 30) prove restored state,
    // not a from-zero recount
    assert(got == Map(1L -> 1L, 3L -> 2L, 4L -> 3L, 7L -> 4L,
      2L -> 1L, 5L -> 2L, 9L -> 3L,
      6L -> 1L, 8L -> 2L))
  }

  test("zero-variance batch yields no flags (std=0 edge — FIXTURES §3)") {
    val flat = (1 to 10).map(i => ev(i.toLong, 1, 42.0))
    val flags = Pipeline.batchAnomalies(flat.toDF(), 0L).collect()
    assert(flags.isEmpty) // z = x/0 → NaN; abs(NaN) > 2.5 is false
  }

  test("q146 stream outer join equals the batch LEFT JOIN, null rows included") {
    import org.apache.spark.sql.functions._
    val got = Registry.queries("q146_stream_outer_join")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)))).toSet
    val ev = Pipeline.collectEvents(spark, TestSpark.sf, 1000)
    val p = ev.filter(_.event_type == "purchase")
    val c = ev.filter(_.event_type == "click")
    val expected = p.flatMap { pe =>
      val ms = c.filter(ce => ce.user_id == pe.user_id &&
        ce.ts_sec >= pe.ts_sec - 600 && ce.ts_sec < pe.ts_sec)
      if (ms.isEmpty) Seq((pe.user_id, pe.event_id, None))
      else ms.map(ce => (pe.user_id, pe.event_id, Some(ce.event_id)))
    }.toSet
    assert(got == expected)
    // the outer semantics are non-trivial on the testdata
    assert(expected.exists(_._3.isEmpty) && expected.exists(_._3.nonEmpty))
  }

  test("q201 streaming SCD2: contiguous versions, one open row per user, closed intervals chain") {
    val rows = Registry.queries("q201_stream_scd2")(spark, TestSpark.sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        if (r.isNullAt(4)) None else Some(r.getLong(4)), r.getLong(5)))
    rows.groupBy(_._1).foreach { case (uid, hist) =>
      val sorted = hist.sortBy(_._2)
      // versions are 1..n with no gaps (cross-batch chaining must not
      // restart numbering), exactly the last one is open
      assert(sorted.map(_._2).sameElements(1L to sorted.length.toLong), s"user $uid versions")
      assert(sorted.count(_._6 == 1L) == 1 && sorted.last._6 == 1L, s"user $uid open rows")
      // each closed version's valid_to equals the successor's valid_from,
      // and adjacent versions always change state
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._5.contains(b._4), s"user $uid interval chain broke at v${a._2}")
          assert(a._3 != b._3, s"user $uid adjacent versions share state")
        case _ =>
      }
      assert(sorted.last._5.isEmpty)
    }
    // multi-batch behavior is actually exercised: some user crosses a
    // batch boundary with >1 version (head-1000 split into 4 slices)
    assert(rows.groupBy(_._1).values.exists(_.size > 2))
  }

  test("q214 stream top-k: closed windows emit once, sentinel never leaks, ranks dense") {
    val rows = Registry.queries("q214_stream_topk")(spark, TestSpark.sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.nonEmpty)
    // the sentinel user (-1) and its far-future window must never appear
    assert(rows.forall(_._2 >= 0L), "sentinel leaked into the sink")
    rows.groupBy(_._1).foreach { case (win, rs) =>
      // append-mode exactly-once: each (window, user) appears once
      assert(rs.map(_._2).distinct.length == rs.length, s"dup user in window $win")
      // ranks are 1..k dense, ordered by (n desc, user asc)
      val sorted = rs.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to rs.length).toSeq)
      sorted.sliding(2).foreach {
        case Array(a, b) =>
          assert(a._3 > b._3 || (a._3 == b._3 && a._2 < b._2), s"rank order broken in $win")
        case _ =>
      }
    }
  }

  test("q227 admission control forms exactly one micro-batch per file (maxFilesPerTrigger=1, 4 files)") {
    val rows = Registry.queries("q227_rate_limited_upsert")(spark, TestSpark.sf).collect()
    assert(rows.nonEmpty)
    val nb = rows.map(_.getLong(5)).distinct
    assert(nb.toSeq == Seq(4L), s"observed trigger counts: ${nb.mkString(",")}")
  }

  test("streaming IVM: exactly-once across restart, full replay, and the crash window (q261 contract)") {
    // VERDICT r15 task 3's done-bar: a restarted refresh stream neither
    // SKIPS a version (the checkpoint owns the ranges) nor DOUBLE-
    // APPLIES one (the view's applied watermark + pinned-version
    // recompute own replay) — including the crash window between the
    // view overwrite and the watermark write, the batch API's
    // documented sharp edge.
    import graft.sources.{GraftCDC, GraftIVM, GraftMaintenance}
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_sivm_wh_"))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.sivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.sivmdb.view")
    spark.sql("CREATE TABLE graft.sivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.sivmdb.t SELECT id, id % 5, id * 3 FROM range(0, 500)") // v2
    spark.sql("CREATE TABLE graft.sivmdb.view (k BIGINT, n BIGINT, sv BIGINT)")
    spark.sql("""INSERT INTO graft.sivmdb.view
                |SELECT k, count(*), sum(v) FROM graft.sivmdb.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val basePath = s"$wh/sivmdb/t"
    val viewPath = s"$wh/sivmdb/view"
    GraftIVM.bind(viewPath, GraftMaintenance.currentVersion(basePath).get)
    val ckpt = graft.util.TempDirs.create("graft_sivm_ckpt_")
    val view = GraftIVM.View("graft.sivmdb.view", Seq("k"), "n", sums = Seq("sv" -> "v"))
    def runStream(): Unit =
      GraftIVM.streamRefresh(spark, basePath, view, viewPath, ckpt).awaitTermination()
    def viewState(): Map[Long, (Long, Long)] =
      spark.table("graft.sivmdb.view").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def recompute(): Map[Long, (Long, Long)] =
      spark.sql("SELECT k, count(*), sum(v) FROM graft.sivmdb.t GROUP BY k")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

    // batch 1 (append) through the checkpointed stream, then STOP
    spark.sql("INSERT INTO graft.sivmdb.t SELECT id, id % 5, id * 3 FROM range(500, 800)") // v3
    runStream()
    assert(viewState() == recompute(), "stream run 1 must refresh the view")
    val b1 = GraftIVM.binding(viewPath).get
    assert(b1._1 == GraftMaintenance.currentVersion(basePath).get,
      "the applied watermark must reach the consumed version")

    // FULL REPLAY: re-applying the already-applied slice is a no-op
    val slice13 = GraftCDC.changes(spark, basePath, 2L, Some(3L))
    assert(GraftIVM.applyBatchExactlyOnce(slice13, view, viewPath, basePath).consumed == 0L,
      "a replayed applied batch must be skipped")
    assert(viewState() == recompute())

    // batch 2 (delete) applied directly, then the CRASH WINDOW: rewind
    // the watermark to its pre-batch value while the view keeps its
    // refreshed contents (= crash between overwrite and marker write);
    // the replay must land on the SAME state, never double-apply
    spark.sql("DELETE FROM graft.sivmdb.t WHERE id % 7 = 3") // v4
    val v4 = GraftMaintenance.currentVersion(basePath).get
    val slice34 = GraftCDC.changes(spark, basePath, b1._1, Some(v4))
    assert(GraftIVM.applyBatchExactlyOnce(slice34, view, viewPath, basePath).consumed > 0L)
    val after2 = viewState()
    assert(after2 == recompute())
    java.nio.file.Files.writeString( // the simulated crash: old marker
      java.nio.file.Paths.get(viewPath, "_IVM_APPLIED"),
      s"${b1._1}\t${b1._2}\n")
    assert(GraftIVM.applyBatchExactlyOnce(slice34, view, viewPath, basePath).consumed > 0L,
      "the crash-window replay re-applies from the PINNED view version")
    assert(viewState() == after2,
      "a crash-window replay must not double-apply the deltas")
    assert(GraftIVM.binding(viewPath).get._1 == v4)

    // batch 3 through a RESTARTED stream: the checkpoint skips the
    // directly-applied range... it was never checkpointed, so the
    // stream REPLAYS (v3, v4] — the watermark skips it — then applies
    // (v4, v5] exactly once: no version skipped, none double-applied
    withRewriteFraction(DvOnly)(
      spark.sql("UPDATE graft.sivmdb.t SET v = v + 1000 WHERE id % 13 = 2")) // v5
    runStream()
    assert(viewState() == recompute(),
      "the restarted stream must converge on the exact view")
    assert(GraftIVM.binding(viewPath).get._1 ==
      GraftMaintenance.currentVersion(basePath).get)
    spark.sql("DROP TABLE graft.sivmdb.t")
    spark.sql("DROP TABLE graft.sivmdb.view")
  }

  test("streaming partitioned IVM: pruned republish, exactly-once across restart and crash window, untouched partitions' files never move") {
    // VERDICT r16 task 4: the checkpointed refresh loop drives the
    // PARTITIONED form — each micro-batch republishes only the
    // partitions its changelog touches, in ONE atomic view commit, and
    // a replay recomputes them from the PINNED view version. Pinned
    // here: across three batches, a restart, and a simulated crash
    // window, every untouched view partition keeps its EXACT files
    // (names + mtimes + sizes).
    import graft.sources.{GraftCDC, GraftIVM, GraftMaintenance}
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_sivm_wh_"))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.spivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.spivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.spivmdb.view")
    spark.sql("CREATE TABLE graft.spivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.spivmdb.t SELECT id, id % 8, id * 3 FROM range(0, 800)") // v2
    spark.sql("""CREATE TABLE graft.spivmdb.view (k BIGINT, n BIGINT, sv BIGINT)
                |PARTITIONED BY (k)""".stripMargin)
    spark.sql("""INSERT INTO graft.spivmdb.view
                |SELECT k, count(*), sum(v) FROM graft.spivmdb.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val basePath = s"$wh/spivmdb/t"
    val viewPath = s"$wh/spivmdb/view"
    GraftIVM.bind(viewPath, GraftMaintenance.currentVersion(basePath).get)
    val ckpt = graft.util.TempDirs.create("graft_spivm_ckpt_")
    val view = GraftIVM.View("graft.spivmdb.view", Seq("k"), "n",
      sums = Seq("sv" -> "v"), partitionCol = Some("k"))
    def runStream(): Unit =
      GraftIVM.streamRefresh(spark, basePath, view, viewPath, ckpt).awaitTermination()
    def viewState(): Map[Long, (Long, Long)] =
      spark.table("graft.spivmdb.view").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def recompute(): Map[Long, (Long, Long)] =
      spark.sql("SELECT k, count(*), sum(v) FROM graft.spivmdb.t GROUP BY k")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def filesIn(k: Long): Seq[(String, Long, Long)] =
      Option(new java.io.File(s"$viewPath/k=$k").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSeq.sortBy(_._1)
    def snapshot(ks: Seq[Long]): Map[Long, Seq[(String, Long, Long)]] =
      ks.map(k => k -> filesIn(k)).toMap
    val before = snapshot(Seq(0L, 4L, 5L, 6L, 7L))

    // batch 1 through the stream: k=3 vanishes, k=1/2 grow — only those
    // three partitions may move
    spark.sql("DELETE FROM graft.spivmdb.t WHERE k = 3") // v3
    spark.sql("""INSERT INTO graft.spivmdb.t
                |SELECT id, 1 + id % 2, id * 3 FROM range(800, 840)""".stripMargin) // v4
    runStream()
    assert(viewState() == recompute(), "stream run 1 must refresh the view")
    assert(!viewState().contains(3L), "the vanished partition must retire")
    assert(snapshot(Seq(0L, 4L, 5L, 6L, 7L)) == before,
      "untouched view partitions moved in a pruned streaming refresh")

    // batch 2 DIRECT + the crash window: only k=5 is touched; the
    // replay recomputes k=5 from the pinned view version and leaves
    // every other partition's files alone
    val after1 = snapshot(Seq(0L, 1L, 2L, 4L, 6L, 7L))
    val b1 = GraftIVM.binding(viewPath).get
    withRewriteFraction(DvOnly)(
      spark.sql("UPDATE graft.spivmdb.t SET v = v + 1000 WHERE k = 5 AND id % 3 = 0")) // v5
    val v5 = GraftMaintenance.currentVersion(basePath).get
    val slice = GraftCDC.changes(spark, basePath, b1._1, Some(v5))
    assert(GraftIVM.applyBatchExactlyOnce(slice, view, viewPath, basePath).consumed > 0L)
    val after2 = viewState()
    assert(after2 == recompute())
    java.nio.file.Files.writeString( // simulated crash: old marker back
      java.nio.file.Paths.get(viewPath, "_IVM_APPLIED"),
      s"${b1._1}\t${b1._2}\n")
    assert(GraftIVM.applyBatchExactlyOnce(slice, view, viewPath, basePath).consumed > 0L,
      "the crash-window replay re-applies from the PINNED view version")
    assert(viewState() == after2,
      "a crash-window replay must not double-apply the deltas")
    assert(snapshot(Seq(0L, 1L, 2L, 4L, 6L, 7L)) == after1,
      "a crash-window replay must not move untouched partitions' files")

    // batch 3 through a RESTARTED stream: only k=0 grows
    spark.sql("INSERT INTO graft.spivmdb.t SELECT id, 0L, id FROM range(900, 910)") // v6
    val after2Files = snapshot(Seq(1L, 2L, 4L, 6L, 7L))
    runStream()
    assert(viewState() == recompute(),
      "the restarted stream must converge on the exact view")
    assert(GraftIVM.binding(viewPath).get._1 ==
      GraftMaintenance.currentVersion(basePath).get)
    assert(snapshot(Seq(1L, 2L, 4L, 6L, 7L)) == after2Files,
      "the restarted pruned refresh moved untouched partitions' files")
    spark.sql("DROP TABLE graft.spivmdb.t")
    spark.sql("DROP TABLE graft.spivmdb.view")
  }

  test("streaming touched-group IVM: MIN/MAX exactly-once across restart and crash window, pruned republish") {
    // The streaming form of the non-invertible refresh: each micro-batch re-aggregates ONLY the touched
    // groups from the base AS OF the batch's end version, republishes
    // only the touched partitions, and replays byte-identically — the
    // base pin makes the recompute idempotent even though no signed
    // delta exists for MIN/MAX.
    import graft.sources.{GraftCDC, GraftIVM, GraftMaintenance}
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_sivm_wh_"))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.sxivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.sxivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.sxivmdb.view")
    spark.sql("CREATE TABLE graft.sxivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.sxivmdb.t SELECT id, id % 8, id FROM range(0, 800)") // v2
    spark.sql("""CREATE TABLE graft.sxivmdb.view
                |  (k BIGINT, n BIGINT, sv BIGINT, mn BIGINT, mx BIGINT)
                |PARTITIONED BY (k)""".stripMargin)
    spark.sql("""INSERT INTO graft.sxivmdb.view
                |SELECT k, count(*), sum(v), min(v), max(v)
                |FROM graft.sxivmdb.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val basePath = s"$wh/sxivmdb/t"
    val viewPath = s"$wh/sxivmdb/view"
    GraftIVM.bind(viewPath, GraftMaintenance.currentVersion(basePath).get)
    val ckpt = graft.util.TempDirs.create("graft_sxivm_ckpt_")
    val view = GraftIVM.View("graft.sxivmdb.view", Seq("k"), "n", sums = Seq("sv" -> "v"),
      mins = Seq("mn" -> "v"), maxs = Seq("mx" -> "v"), partitionCol = Some("k"))
    def runStream(): Unit =
      GraftIVM.streamRefresh(spark, basePath, view, viewPath, ckpt).awaitTermination()
    def viewState(): Map[Long, (Long, Long, Long, Long)] =
      spark.table("graft.sxivmdb.view").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def recompute(): Map[Long, (Long, Long, Long, Long)] =
      spark.sql("""SELECT k, count(*), sum(v), min(v), max(v)
                  |FROM graft.sxivmdb.t GROUP BY k""".stripMargin).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def filesIn(k: Long): Seq[(String, Long, Long)] =
      Option(new java.io.File(s"$viewPath/k=$k").listFiles())
        .getOrElse(Array.empty).filter(_.getName.endsWith(".csv"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSeq.sortBy(_._1)
    val before = Seq(0L, 1L, 3L, 4L, 6L, 7L).map(k => k -> filesIn(k)).toMap

    // batch 1 through the stream: a MAX-KILLING delete in k=2 — group
    // 2's max (794) goes, the runner-up (698) must surface
    spark.sql("DELETE FROM graft.sxivmdb.t WHERE k = 2 AND v >= 700") // v3
    runStream()
    assert(viewState() == recompute(), "stream run 1 must refresh MIN/MAX")
    assert(viewState()(2L)._4 == 698L, "the killed max must become the runner-up")
    assert(Seq(0L, 1L, 3L, 4L, 6L, 7L).map(k => k -> filesIn(k)).toMap == before,
      "untouched partitions moved in the extrema streaming refresh")

    // batch 2 DIRECT + crash window: a DV update pushes k=5's max UP
    val b1 = GraftIVM.binding(viewPath).get
    withRewriteFraction(DvOnly)(
      spark.sql("UPDATE graft.sxivmdb.t SET v = v + 100000 WHERE k = 5 AND id < 100"))
    val v = GraftMaintenance.currentVersion(basePath).get
    val slice = GraftCDC.changes(spark, basePath, b1._1, Some(v))
    assert(GraftIVM.applyBatchExactlyOnce(slice, view, viewPath, basePath).consumed > 0L)
    val after2 = viewState()
    assert(after2 == recompute())
    java.nio.file.Files.writeString( // simulated crash: old marker back
      java.nio.file.Paths.get(viewPath, "_IVM_APPLIED"),
      s"${b1._1}\t${b1._2}\n")
    assert(GraftIVM.applyBatchExactlyOnce(slice, view, viewPath, basePath).consumed > 0L,
      "the crash-window replay recomputes from the PINNED base+view versions")
    assert(viewState() == after2,
      "a crash-window extrema replay must land on the identical state")
    assert(Seq(0L, 1L, 3L, 4L, 6L, 7L).map(k => k -> filesIn(k)).toMap == before,
      "a crash-window extrema replay moved untouched partitions' files")

    // batch 3 through a RESTARTED stream: only k=7 grows (new max)
    spark.sql("INSERT INTO graft.sxivmdb.t SELECT id, 7L, id * 10 FROM range(900, 905)")
    runStream()
    assert(viewState() == recompute(),
      "the restarted extrema stream must converge on the exact view")
    assert(viewState()(7L)._4 == 9040L)
    assert(GraftIVM.binding(viewPath).get._1 ==
      GraftMaintenance.currentVersion(basePath).get)
    spark.sql("DROP TABLE graft.sxivmdb.t")
    spark.sql("DROP TABLE graft.sxivmdb.view")
  }

  test("streaming touched-group IVM on an unpartitioned view: MIN/MAX exactly-once through the stream, a direct batch and its crash-window replay") {
    // The whole-view overwrite with the touched-group algebra: the base
    // is re-read AS OF each batch's end version and the untouched groups
    // carry from the pinned view version, so a replay lands on the
    // identical state.
    import graft.sources.{GraftCDC, GraftIVM, GraftMaintenance}
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        graft.util.TempDirs.create("graft_sivm_wh_"))
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.suxivmdb")
    spark.sql("DROP TABLE IF EXISTS graft.suxivmdb.t")
    spark.sql("DROP TABLE IF EXISTS graft.suxivmdb.view")
    spark.sql("CREATE TABLE graft.suxivmdb.t (id BIGINT, k BIGINT, v BIGINT)")
    spark.sql("INSERT INTO graft.suxivmdb.t SELECT id, id % 8, id FROM range(0, 800)") // v2
    spark.sql("""CREATE TABLE graft.suxivmdb.view
                |  (k BIGINT, n BIGINT, sv BIGINT, mn BIGINT, mx BIGINT)""".stripMargin)
    spark.sql("""INSERT INTO graft.suxivmdb.view
                |SELECT k, count(*), sum(v), min(v), max(v)
                |FROM graft.suxivmdb.t GROUP BY k""".stripMargin)
    val wh = spark.conf.get("spark.sql.catalog.graft.warehouse")
    val basePath = s"$wh/suxivmdb/t"
    val viewPath = s"$wh/suxivmdb/view"
    GraftIVM.bind(viewPath, GraftMaintenance.currentVersion(basePath).get)
    val ckpt = graft.util.TempDirs.create("graft_suxivm_ckpt_")
    val view = GraftIVM.View("graft.suxivmdb.view", Seq("k"), "n", sums = Seq("sv" -> "v"),
      mins = Seq("mn" -> "v"), maxs = Seq("mx" -> "v"))
    def viewState(): Map[Long, (Long, Long, Long, Long)] =
      spark.table("graft.suxivmdb.view").collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def recompute(): Map[Long, (Long, Long, Long, Long)] =
      spark.sql("""SELECT k, count(*), sum(v), min(v), max(v)
                  |FROM graft.suxivmdb.t GROUP BY k""".stripMargin).collect()
        .map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap

    // through the stream: a MAX-KILLING delete in k=3 — its max (795)
    // goes, the runner-up (699) must surface
    spark.sql("DELETE FROM graft.suxivmdb.t WHERE k = 3 AND v >= 700") // v3
    GraftIVM.streamRefresh(spark, basePath, view, viewPath, ckpt).awaitTermination()
    assert(viewState() == recompute(), "the stream must refresh MIN/MAX")
    assert(viewState()(3L)._4 == 699L, "the killed max must become the runner-up")

    // a DIRECT batch, then the crash window: the old marker comes back
    // and the replay must land on the identical state
    val b1 = GraftIVM.binding(viewPath).get
    spark.sql("DELETE FROM graft.suxivmdb.t WHERE k = 6 AND v < 100") // kills k=6's min
    val v = GraftMaintenance.currentVersion(basePath).get
    val slice = GraftCDC.changes(spark, basePath, b1._1, Some(v))
    assert(GraftIVM.applyBatchExactlyOnce(slice, view, viewPath, basePath).consumed > 0L)
    val after = viewState()
    assert(after == recompute(), "the direct batch must equal the recompute")
    java.nio.file.Files.writeString( // simulated crash: old marker back
      java.nio.file.Paths.get(viewPath, "_IVM_APPLIED"),
      s"${b1._1}\t${b1._2}\n")
    // a commit after the slice: the replay's base pin must ignore it
    spark.sql("INSERT INTO graft.suxivmdb.t SELECT id, 6L, id FROM range(5000, 5003)")
    assert(GraftIVM.applyBatchExactlyOnce(slice, view, viewPath, basePath).consumed > 0L,
      "the crash-window replay recomputes from the PINNED base+view versions")
    assert(viewState() == after,
      "a crash-window replay must land on the identical state")
    assert(GraftIVM.binding(viewPath).get._1 == v)
    spark.sql("DROP TABLE graft.suxivmdb.t")
    spark.sql("DROP TABLE graft.suxivmdb.view")
  }
}
