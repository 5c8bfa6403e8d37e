package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{array, coalesce, col, element_at, expr, lit, max, min, shiftleft, when}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Maintenance for graft-store tables: small-file COMPACTION (VERDICT
  * r10 task 2), SORT-ON-COMPACT re-clustering (VERDICT r11 task 3) and
  * snapshot RETENTION GC (VERDICT r11 task 1).
  *
  * A long-running streaming sink (q251's shape) publishes one file per
  * epoch per task and accumulates thousands of tiny parts — the classic
  * table-format failure at scale (every scan pays per-file open cost;
  * the driver pays per-file planning). `compact` rewrites each
  * partition directory's many small files into few large ones,
  * committed so a CONCURRENT READER never sees duplicates or a torn
  * table:
  *
  *  1. merged files are byte-concatenations of their inputs (records
  *     are self-delimiting: every write ends each record with '\n' and
  *     the parser is quote-aware, so concatenation is exact), staged in
  *     `_temporary/compact-<id>/` and moved into the table under
  *     `merged-<id>-<n>.csv` — invisible, since no manifest lists them
  *     yet, while the old files are still live;
  *  2. `_STATS` entries for the merged files are derived by MERGING the
  *     inputs' zone maps (sum rows/nulls/sums, min of mins, max of
  *     maxes — no re-parse; a column missing from any input is dropped,
  *     an input missing stats entirely falls back to a record-boundary
  *     walk for the row count);
  *  3. the `_MANIFEST` swap is the COMMIT POINT: one atomic rename
  *     commits version N+1 whose visible set is exactly
  *     {merged + untouched} (GraftStoreScan plans the manifest verbatim);
  *  4. the replaced inputs are RETIRED, not deleted: they stay on disk
  *     in the `_RETIRED` ledger so a reader that planned at version N
  *     (or a `versionAsOf` time-travel scan) still collects correctly.
  *     Physical GC is [[expireSnapshots]]' job, after a configurable
  *     retention window — VERDICT r11 task 1's upgrade of the old
  *     "snapshot-expiry caveat" into a guarantee.
  *
  * Kill-safety (SourcesSpec kills at each boundary): before step 3 the
  * store still reads its OLD file set (stray `merged-` files are
  * invisible and swept by retention GC); after step 3 it reads the new
  * set; there is no longer any destructive step to interrupt.
  *
  * CONTRACT with the streaming sink: compaction must not run while a
  * stream whose epochs may still REPLAY is writing the table (quiesce
  * first, or compact only epochs older than the checkpoint's committed
  * watermark). A replayed epoch supersedes its `part-e<n>-*` files by
  * NAME PREFIX; rows already merged away can no longer be matched, so
  * the replay would duplicate them.
  *
  * Scale note: plain `compact` is a driver-side byte loop — fine for
  * the small-file tail it exists for, but O(bytes) through one machine.
  * [[compactSorted]] is the scale path: the rewrite runs as a SPARK JOB
  * (`repartitionByRange` + `sortWithinPartitions` over the table's own
  * scan), so the byte movement is executor-parallel and the output is
  * RANGE-CLUSTERED on the sort key — restoring zone-map skipping that
  * interleaved appends decayed (VERDICT r11 task 3). Only the manifest
  * swap is coordinated.
  */
object GraftMaintenance {

  /** Result: file counts before/after and the number of merge groups. */
  final case class CompactResult(filesBefore: Int, filesAfter: Int, merged: Int)

  /** Result of a retention GC pass. */
  final case class ExpireResult(expiredFiles: Int, sweptStrays: Int,
    droppedVersions: Int)

  /** Current committed version of a table (None before its first commit,
    * which makes version 1).
    */
  def currentVersion(path: String): Option[Long] =
    Option.when(new File(path, GraftStore.ManifestFile).isFile)(
      GraftCommit.committedVersion(new File(path)))

  /** Compact every partition directory whose file count exceeds 1,
    * packing inputs (in name order) into merged files of up to
    * `targetBytes`. Idempotent: a second run over an already-compact
    * table rewrites nothing and leaves the manifest unchanged.
    */
  def compact(path: String, targetBytes: Long = 64L << 20): CompactResult = {
    val root = new File(path)
    GraftCommit.committedVersion(root) // fails loudly before the first commit
    val schema = StructType.fromDDL(new String(Files.readAllBytes(
      new File(root, GraftStore.SchemaFile).toPath), StandardCharsets.UTF_8))
    val partCols = GraftStore.readPartitionCols(path)
    val dataFields = schema.fields.filterNot(f => partCols.contains(f.name))

    val mf0 = GraftCommit.current(root)
    val visible = mf0.files
    // DV-carrying files are EXCLUDED from byte-concat compaction: the
    // merge is a raw concatenation, which would resurrect the deleted
    // ordinals (and shift later files' ordinals). compactSorted is the
    // path that materializes DVs away — it reads through the scan.
    val pinnedDvs = mf0.dvs

    val statsBook = GraftCommit.readStats(root)
    val byDir: Map[String, Seq[String]] = visible
      .filterNot(pinnedDvs.contains).groupBy { rel =>
      val i = rel.lastIndexOf('/')
      if (i < 0) "" else rel.substring(0, i)
    }

    val compactId = java.util.UUID.randomUUID().toString.take(8)
    val stage = new File(new File(root, "_temporary"), s"compact-$compactId")
    var groupNo = 0
    val merged = Seq.newBuilder[(String, GraftFileStats)]
    val replaced = Seq.newBuilder[String]

    byDir.toSeq.sortBy(_._1).foreach { case (relDir, files) =>
      if (files.size <= 1) ()
      else {
        // bin-pack in name order (epoch/job order) up to targetBytes
        val sized = files.sorted.map(rel => rel -> new File(root, rel).length())
        val groups = Seq.newBuilder[Seq[String]]
        var cur = Seq.newBuilder[String]; var curN = 0; var curBytes = 0L
        sized.foreach { case (rel, len) =>
          if (curN > 0 && curBytes + len > targetBytes) {
            groups += cur.result(); cur = Seq.newBuilder[String]; curN = 0; curBytes = 0L
          }
          cur += rel; curN += 1; curBytes += len
        }
        if (curN > 0) groups += cur.result()
        groups.result().foreach { group =>
          if (group.size <= 1) ()
          else {
            val name = f"merged-$compactId-$groupNo%05d.csv"
            groupNo += 1
            val rel = if (relDir.isEmpty) name else s"$relDir/$name"
            // stage: byte-concat (records are '\n'-terminated by the writer)
            stage.mkdirs()
            val tmp = new File(stage, name)
            group.foreach { in =>
              Files.write(tmp.toPath, Files.readAllBytes(new File(root, in).toPath),
                StandardOpenOption.CREATE, StandardOpenOption.APPEND)
            }
            val destDir = if (relDir.isEmpty) root else new File(root, relDir)
            Files.move(tmp.toPath, new File(destDir, name).toPath,
              StandardCopyOption.ATOMIC_MOVE)
            merged += rel -> mergeStats(group.map(statsBook.get), dataFields,
              new File(destDir, name))
            replaced ++= group
          }
        }
      }
    }

    val replacedList = replaced.result()
    if (replacedList.isEmpty) {
      GraftCommit.deleteTemp(path, s"compact-$compactId")
      return CompactResult(visible.size, visible.size, 0)
    }
    commitRewrite(root, path, s"compact-$compactId", replacedList,
      merged.result(), pinnedDvs)
    val after = visible.size - replacedList.size + groupNo
    CompactResult(visible.size, after, groupNo)
  }

  /** SORT-ON-COMPACT re-clustering (VERDICT r11 task 3): rewrite the
    * WHOLE visible table range-clustered on `sortBy`, as a SPARK JOB —
    * the byte movement is executor-parallel (closing plain compact's
    * documented driver-side O(bytes) ceiling) and each output file
    * covers a near-disjoint sort-key range, so zone-map skipping that
    * interleaved/out-of-order appends decayed is RESTORED (q124's
    * linear-order layout as a MAINTENANCE op; SourcesSpec measures the
    * probe's planned-file count before/after).
    *
    * The job writes a STAGED graft-store table under
    * `_temporary/compact-<id>/staged` (same partitioning; its own
    * commit protocol and zone maps), the staged part files are adopted
    * under `merged-<id>-*` names, and the same single manifest-swap
    * commit as plain compact publishes version N+1 with every previous
    * file retired. Aborts on a concurrent write (the compact contract
    * is a quiesced table; the check makes a violation loud, not lossy).
    */
  def compactSorted(path: String, sortBy: Seq[String], spark: SparkSession,
      targetBytes: Long = 64L << 20, zOrder: Boolean = false): CompactResult = {
    require(sortBy.nonEmpty, "compactSorted requires at least one sort column")
    val root = new File(path)
    GraftCommit.committedVersion(root) // fails loudly before the first commit
    val schema = StructType.fromDDL(new String(Files.readAllBytes(
      new File(root, GraftStore.SchemaFile).toPath), StandardCharsets.UTF_8))
    val partCols = GraftStore.readPartitionCols(path)
    sortBy.foreach(c => require(schema.fieldNames.contains(c),
      s"compactSorted: sort column '$c' not in ${schema.toDDL}"))

    // PIN the rewrite's input set: read exactly the current version
    // through the scan — without the pin the scan's lazy manifest
    // resolution could pick up a CONCURRENT append's version and the
    // rewrite would duplicate its rows (the staged output would hold
    // them AND the commit would keep the appended files). With the pin,
    // a concurrent append's files simply survive the swap untouched
    // (commitRewrite keeps non-input files).
    val mfPinned = GraftCommit.current(root)
    val version = mfPinned.version
    val visible = mfPinned.files
    if (visible.isEmpty) return CompactResult(0, 0, 0)

    val totalBytes = visible.map(rel => new File(root, rel).length()).sum
    val nRanges = math.max(1L, math.min(
      (totalBytes + targetBytes - 1) / targetBytes, 4096L)).toInt

    val compactId = java.util.UUID.randomUUID().toString.take(8)
    val stageDir = new File(new File(root, "_temporary"),
      s"compact-$compactId/staged")

    // the rewrite JOB: cluster (partition cols first, then the sort key)
    // so each executor-written range lands in few partition dirs and each
    // file's sortBy zone map is tight; sortWithinPartitions pins row
    // order inside every output file
    val base = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", path)
      .option(GraftStore.VersionAsOfOption, version.toString).load()
    val dims = sortBy.filterNot(partCols.contains)
    val clustered =
      if (!zOrder) {
        val keyCols = (partCols ++ dims).map(col)
        base.repartitionByRange(nRanges, keyCols: _*)
          .sortWithinPartitions(keyCols: _*)
      } else {
        // Z-ORDER layout (VERDICT r12 task 5 — q124's Morton interleave
        // as a MAINTENANCE clustering): rank each dimension to 8 bits,
        // interleave the bits, and range-cluster on the Morton code.
        // Every output file then spans a NARROW range of EVERY dimension
        // (lexicographic clustering gives a tight zone map only on the
        // leading column), so multi-dimensional probes prune files on
        // each predicate — PERF.md round 13 records the planned-file
        // counts under both layouts (18 → 9). Ranking per type (VERDICT
        // r13 task 7):
        //  - integral: exact linear rank against the data min/max
        //    (driver-computed divisor, overflow-safe for any long range);
        //  - string/double: RANK AGAINST STATS — the cut points are the
        //    table's own per-file zone-map bounds (≤255, evenly sampled
        //    when more), so the ranking adapts to the value distribution
        //    with ZERO extra data passes; rank = #cuts ≤ value, the same
        //    total order the zone maps use (UTF-8 binary strings,
        //    NaN-greatest doubles). Nulls rank 0 everywhere.
        require(dims.size >= 2,
          "compactSorted zOrder needs >= 2 non-partition sort columns " +
            "(one dimension is plain range clustering)")
        dims.foreach(c => schema(c).dataType match {
          case LongType | IntegerType | DoubleType | StringType => ()
          case dt => throw new IllegalArgumentException(
            s"compactSorted zOrder: column '$c' has unsupported type $dt " +
              "(rankable dimensions: long/int/double/string)")
        })
        val intDims = dims.filter(c => schema(c).dataType match {
          case LongType | IntegerType => true
          case _                      => false
        })
        val b = if (intDims.isEmpty) null else {
          val aggs = intDims.zipWithIndex.flatMap { case (c, i) =>
            Seq(min(col(c).cast("long")).as(s"lo_$i"),
              max(col(c).cast("long")).as(s"hi_$i"))
          }
          base.agg(aggs.head, aggs.tail: _*).head()
        }
        val intIdx = intDims.zipWithIndex.toMap
        val statsBook = GraftCommit.readStats(root)
        def cutsFor(c: String): Seq[String] = {
          val dt = schema(c).dataType
          val bounds = statsBook.valuesIterator
            .flatMap(_.cols.get(c).toSeq.flatMap(cs => cs.min.toSeq ++ cs.max.toSeq))
            .toSeq.distinct
          val sorted = bounds.sortWith((x, y) => textCmp(dt, x, y) < 0)
          if (sorted.size <= 255) sorted
          else (1 to 255).map(i => sorted((i * sorted.size) / 256))
        }
        def rankOf(c: String): org.apache.spark.sql.Column =
          schema(c).dataType match {
            case LongType | IntegerType =>
              val i = intIdx(c)
              val lo = if (b.isNullAt(b.fieldIndex(s"lo_$i"))) 0L
                       else b.getLong(b.fieldIndex(s"lo_$i"))
              val hi = if (b.isNullAt(b.fieldIndex(s"hi_$i"))) 0L
                       else b.getLong(b.fieldIndex(s"hi_$i"))
              val span = BigInt(hi) - BigInt(lo) + 1
              val divisor = ((span + 255) / 256).max(1).toLong
              coalesce(
                expr(s"(CAST(`$c` AS BIGINT) - ${lo}L) div ${divisor}L"), lit(0L))
            case dt =>
              val cuts = cutsFor(c)
              if (cuts.isEmpty) lit(0L)
              else {
                val lits = dt match {
                  case DoubleType => cuts.map(v => lit(v.toDouble))
                  case _          => cuts.map(lit(_))
                }
                // rank = #cuts <= value; null comparisons fall to 0, so
                // nulls rank 0 without a special case. RESCALED to fill
                // the full 8-bit domain — with few cuts an unscaled rank
                // would occupy only the Morton code's LOW bits and the
                // other dimensions' high bits would dominate the
                // clustering (measured: an unscaled 16-cut string rank
                // prunes nothing)
                val raw = org.apache.spark.sql.functions.aggregate(
                  array(lits: _*), lit(0L),
                  (acc, cut) => acc + when(col(c) >= cut, 1L).otherwise(0L))
                (raw * 255L) / lit(cuts.size.toLong)
              }
          }
        val k = dims.size
        // spread(x) places byte x's bits k apart; z = Σ spread(rank_d)<<d
        val spreadK: Seq[Long] = (0 until 256).map(x =>
          (0 until 8).map(bit => ((x >> bit) & 1).toLong << (bit * k)).sum)
        val spreadArr = array(spreadK.map(lit): _*)
        val z = dims.zipWithIndex.map { case (c, d) =>
          shiftleft(element_at(spreadArr, (rankOf(c) + 1).cast("int")), d)
        }.reduce(_ + _)
        val zname = "__graft_z"
        base.withColumn(zname, z)
          .repartitionByRange(nRanges, (partCols.map(col) :+ col(zname)): _*)
          .sortWithinPartitions((partCols.map(col) :+ col(zname)): _*)
          .drop(zname)
      }
    // a ledgered table's rewrite must KEEP the ledger layout (tombstoned
    // slots included) — stage the ledger first so the overwrite into the
    // staged table writes (and keeps) that layout, and the adopted files
    // bind under the main table's ledger
    GraftCommit.readLedger(root).foreach { led =>
      stageDir.mkdirs()
      GraftCommit.writeLedger(stageDir, led)
    }
    clustered
      .write.format("graft.sources.GraftStoreProvider")
      .option("path", stageDir.getAbsolutePath)
      .option(GraftStore.PartitionByOption, partCols.mkString(","))
      .mode("overwrite").save()

    // adopt the staged files under merged-* names (rename only — the
    // bytes already moved through the executors), carrying their stats
    val stagedStats = GraftCommit.readStats(stageDir)
    val stagedRels = GraftCommit.allPartFiles(stageDir).map { f =>
      f.getAbsolutePath.substring(stageDir.getAbsolutePath.length + 1)
        .replace(File.separatorChar, '/')
    }.sorted
    var n = 0
    val merged = Seq.newBuilder[(String, GraftFileStats)]
    stagedRels.foreach { srel =>
      val i = srel.lastIndexOf('/')
      val relDir = if (i < 0) "" else srel.substring(0, i)
      val name = f"merged-$compactId-$n%05d.csv"
      n += 1
      val rel = if (relDir.isEmpty) name else s"$relDir/$name"
      val destDir = if (relDir.isEmpty) root else new File(root, relDir)
      destDir.mkdirs()
      Files.move(new File(stageDir, srel).toPath,
        new File(destDir, name).toPath, StandardCopyOption.ATOMIC_MOVE)
      // the staged ROW-INDEX sidecar (written by the provider write)
      // adopts the merged name alongside its data file
      val sridx = GraftRidx.fileFor(new File(stageDir, srel))
      if (sridx.isFile)
        Files.move(sridx.toPath,
          GraftRidx.fileFor(new File(destDir, name)).toPath,
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      merged += rel -> stagedStats(srel) // the staged commit wrote every file's
    }
    commitRewrite(root, path, s"compact-$compactId", visible, merged.result(),
      mfPinned.dvs)
    CompactResult(visible.size, n, n)
  }

  /** The shared COMMIT for both compaction forms: check the CURRENT
    * state (a concurrent append's files must survive the swap; a
    * concurrent DELETE of any input aborts — the merged file would
    * resurrect deleted rows), then commit version N+1 with the merged
    * files and their stats, retiring the inputs.
    */
  private def commitRewrite(root: File, path: String, tempJob: String,
      replacedList: Seq[String], merged: Seq[(String, GraftFileStats)],
      pinnedDvs: Map[String, String]): Unit = {
    def abandon(msg: String): Nothing =
      GraftCommit.abortStaged(root, tempJob, merged.map(_._1), msg)
    // CAS-conflict rebase is safe here (VERDICT r12 task 1): compaction
    // is data-neutral over immutable inputs, so once the inputs-present
    // check passes on the fresh read, interleaved appends simply ride
    // through the swap; a concurrent DELETE of an input aborts loudly.
    GraftCommit.commit(root, "compact") { mf =>
      if (!replacedList.forall(mf.files.toSet)) abandon(
        "graft-store: a concurrent writer removed compaction inputs " +
          s"under $path — nothing was swapped; rerun compact")
      // a concurrent row-level DML changed an input's deletion
      // vector: the staged rewrite was read under the OLD generation,
      // so committing it would resurrect the newly-deleted rows and
      // silently drop the new DV binding — abort loudly instead
      if (replacedList.exists(rel => mf.dvs.get(rel) != pinnedDvs.get(rel))) abandon(
        "graft-store: a concurrent row-level DML changed a " +
          s"compaction input's deletion vector under $path — nothing " +
          "was swapped; rerun compact")
      Some(GraftCommit.Edit(drop = replacedList, publish = merged))
    }
    GraftCommit.deleteTemp(path, tempJob)
  }

  /** Retention GC (VERDICT r11 task 1): physically remove what no
    * retained snapshot can reference — under the metadata lock, so it
    * can never race a manifest read-modify-write.
    *
    *  - RETIRED files older than `olderThanMs` are unlinked (with their
    *    `_STATS` entries), unless a KEPT manifest version — the last
    *    `keepVersions`, current included — still references them;
    *  - history manifests older than the kept window are dropped, so a
    *    `versionAsOf` an expired version fails loudly instead of
    *    planning deleted files;
    *  - STRAYS (on-disk part files visible to no retained version, in
    *    no ledger — a killed append or maintenance run) are swept, but
    *    only when older than `strayGraceMs` (ADVICE r11 medium: the old
    *    pre-lock sweep could unlink a concurrent append's
    *    just-published, not-yet-manifested file; the grace window plus
    *    the lock make that impossible — a publisher's file is at most
    *    lock-wait old when its manifest update runs).
    *
    * `DELETE ... ; expireSnapshots(path, olderThanMs = 0)` is the
    * right-to-be-forgotten end state: the bytes go.
    *
    * RETENTION vs STREAMING READERS (VERDICT r13 task 6): a version-
    * pointer stream that falls behind GC fails LOUDLY on resume (the
    * expired range cannot be planned) — but nothing in the window
    * arithmetic knows about checkpoints. `floorVersion` is the
    * deployment's contract: pass the OLDEST version any active
    * checkpoint still needs (its committed offset) and every version
    * from there up stays fully plannable — files protected, history
    * manifests kept — regardless of age or `keepVersions`. Wire it to
    * `min(checkpoint offsets)` in a deployment's GC job; without it the
    * time window alone governs and a lagging stream's failure mode is
    * the loud error, never a silent gap.
    */
  def expireSnapshots(path: String, olderThanMs: Long = 24L * 3600 * 1000,
      keepVersions: Int = 1, strayGraceMs: Long = 60000L,
      floorVersion: Option[Long] = None): ExpireResult = {
    val root = new File(path)
    GraftCommit.committedVersion(root) // fails loudly before the first commit
    def relOf(f: File): String = GraftCommit.relOf(root, f)
    val now = System.currentTimeMillis()
    GraftCommit.withMetaLock(root) {
      val cur = GraftCommit.current(root)
      // protected = every file a kept version can still plan; the floor
      // extends the kept window DOWN to the oldest checkpointed version
      // (a stream diffing (floor, floor+1] needs floor's manifest too)
      val keptFrom = {
        val base = math.max(1L, cur.version - keepVersions + 1)
        floorVersion.fold(base)(f => math.min(base, math.max(1L, f)))
      }
      val protectedRels: Set[String] = (keptFrom to cur.version).flatMap { v =>
        scala.util.Try(GraftCommit.at(root, v).files)
          .getOrElse(Seq.empty) // an already-expired kept version: nothing to protect
      }.toSet ++ cur.files
      // 1) expire retired files past the window
      val retired = GraftCommit.readRetired(root)
      val (expired, kept) = retired.partition { case (rel, _, ms) =>
        now - ms >= olderThanMs && !protectedRels(rel)
      }
      GraftCommit.unlink(root, expired.map(_._1))
      if (expired.nonEmpty) {
        GraftCommit.writeRetired(root, kept)
        val expiredSet = expired.map(_._1).toSet
        GraftCommit.writeStats(root, GraftCommit.readStats(root)
          .filterNot(e => expiredSet(e._1)).toSeq.sortBy(_._1))
      }
      // 2) drop history manifests that reference a file GC just removed
      // (or that lost one earlier): a versionAsOf of such a version must
      // fail loudly at RESOLUTION, not at mid-scan file open. Versions
      // whose files all survive the window stay time-travelable even
      // beyond keepVersions — the window is the contract, keepVersions
      // only PROTECTS recent versions' files from it.
      var droppedVersions = 0
      val HistName = GraftCommit.HistManifestName // the shared naming contract
      Option(root.listFiles()).getOrElse(Array.empty).foreach { f =>
        f.getName match {
          case HistName(vs) =>
            val v = vs.toLong
            // history is BOUNDED: outside the kept window, a version
            // older than the retention window expires even if all its
            // files happen to survive — an append-only streaming sink
            // commits one version per epoch and would otherwise pile up
            // O(epochs) manifests of O(files) lines each, forever.
            // (Checked FIRST: it is two comparisons, while completeness
            // re-reads the manifest and stats O(files) paths — exactly
            // the pile this clause exists to clear cheaply.)
            val agedOut = v < keptFrom &&
              now - f.lastModified() >= olderThanMs
            lazy val complete = scala.util.Try(GraftCommit.at(root, v).files)
              .toOption.exists(_.forall(rel => new File(root, rel).isFile))
            if (agedOut || !complete) {
              Files.deleteIfExists(f.toPath); droppedVersions += 1
            }
          // a torn writeAtomic's orphan temp (kill between tmp write and
          // the atomic move): harmless to readers, swept once aged
          case n if n.startsWith("_") && n.endsWith(".tmp") &&
              now - f.lastModified() >= strayGraceMs =>
            Files.deleteIfExists(f.toPath)
            ()
          case _ => ()
        }
      }
      // 3) sweep aged strays: on disk, in no kept snapshot, in no ledger
      val keptRels = kept.map(_._1).toSet
      val strays = GraftCommit.allPartFiles(root).filter { f =>
        val rel = relOf(f)
        // (expired files were unlinked above, so the re-listing cannot
        // contain them — no membership test needed)
        !protectedRels(rel) && !keptRels(rel) &&
          now - f.lastModified() >= strayGraceMs
      }
      strays.foreach { f => Files.delete(f.toPath); GraftRidx.deleteFor(f) }
      if (strays.nonEmpty) {
        val strayRels = strays.map(relOf).toSet
        GraftCommit.writeStats(root, GraftCommit.readStats(root)
          .filterNot(e => strayRels(e._1)).toSeq.sortBy(_._1))
      }
      // 4) sweep DELETION-VECTOR generations no retained version
      // references (superseded by a newer cumulative DV, materialized
      // away by compaction, or orphaned by a crashed commit) — aged past
      // the same grace as other strays so a mid-commit sidecar survives.
      // The retained references parse every kept manifest, so they are
      // read only when an aged sidecar exists to check against them.
      val agedDvs = Option(root.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isFile && f.getName.startsWith("dv-") &&
          now - f.lastModified() >= strayGraceMs)
      if (agedDvs.nonEmpty) {
        val dvRefs = GraftCommit.retainedDvRefs(root)
        agedDvs.filterNot(f => dvRefs(f.getName)).foreach(f => Files.deleteIfExists(f.toPath))
      }
      // 5) sweep ROW-INDEX sidecars whose data file is gone — the
      // paired deletes handle every normal path; this catches a crash
      // between a data-file unlink and its sidecar's
      def sweepRidx(d: File): Unit =
        Option(d.listFiles()).getOrElse(Array.empty).foreach {
          case f if f.isFile && f.getName.startsWith(GraftRidx.Prefix) &&
              !new File(f.getParentFile,
                f.getName.substring(GraftRidx.Prefix.length)).isFile =>
            Files.deleteIfExists(f.toPath)
            ()
          case d2 if d2.isDirectory && d2.getName.contains("=") => sweepRidx(d2)
          case _ => ()
        }
      sweepRidx(root)
      // drop now-empty partition dirs left behind by expiry
      GraftCommit.pruneEmptyDirs(root,
        (expired.map(e => new File(root, e._1)) ++ strays).map(_.getParentFile))
      ExpireResult(expired.size, strays.size, droppedVersions)
    }
  }

  /** Merge the inputs' zone maps (an input without stats drops
    * per-column bounds, and the row count is recovered with a
    * record-boundary walk of the merged file).
    */
  private def mergeStats(inputs: Seq[Option[GraftFileStats]],
      dataFields: Array[StructField], mergedFile: File): GraftFileStats = {
    if (inputs.exists(_.isEmpty)) {
      val parser = new GraftRecordParser(Files.newBufferedReader(
        mergedFile.toPath, StandardCharsets.UTF_8))
      var n = 0L
      try { while (parser.next() != null) n += 1 } finally parser.close()
      GraftFileStats(n, Map.empty)
    } else {
      val sts = inputs.map(_.get)
      val cols = dataFields.iterator.filter(f => sts.forall(_.cols.contains(f.name)))
        .map { f =>
          val cs = sts.map(_.cols(f.name))
          def bound(pick: GraftColStatsTxt => Option[String], dir: Int): Option[String] = {
            val defined = cs.flatMap(pick)
            if (defined.isEmpty) None
            else Some(defined.reduce((a, b) =>
              if (textCmp(f.dataType, a, b) * dir <= 0) a else b))
          }
          // sums merge only when every NON-all-null input carries one
          // (an all-null input contributes SQL NULL = nothing); integral
          // merge re-checks overflow and drops the sum rather than wrap
          val sum: Option[String] = f.dataType match {
            case LongType | IntegerType =>
              if (sts.zip(cs).forall { case (st, c) =>
                c.sum.isDefined || c.nulls == st.rows })
                scala.util.Try(cs.flatMap(_.sum).map(_.toLong)
                  .foldLeft(Option(0L)) {
                    case (Some(a), b) => scala.util.Try(Math.addExact(a, b)).toOption
                    case (None, _) => None
                  }).toOption.flatten
                  .filter(_ => cs.exists(_.sum.isDefined))
                  .map(_.toString)
              else None
            case DoubleType =>
              if (sts.zip(cs).forall { case (st, c) =>
                c.sum.isDefined || c.nulls == st.rows } &&
                  cs.exists(_.sum.isDefined)) {
                // Kahan-compensated merge, matching the writer (ADVICE r12)
                var s = 0.0; var comp = 0.0
                cs.flatMap(_.sum).map(_.toDouble).foreach { v =>
                  val y = v - comp; val t = s + y; comp = (t - s) - y; s = t
                }
                Some(s.toString)
              } else None
            case _ => None
          }
          f.name -> GraftColStatsTxt(cs.map(_.nulls).sum,
            bound(_.min, 1), bound(_.max, -1), sum)
        }.toMap
      GraftFileStats(sts.map(_.rows).sum, cols)
    }
  }

  /** Text-form stat comparison under the same total order the scan's
    * refutation uses (UTF-8 binary strings, NaN-greatest doubles).
    */
  private def textCmp(dt: DataType, a: String, b: String): Int = dt match {
    case LongType | IntegerType => java.lang.Long.compare(a.toLong, b.toLong)
    case DoubleType  => java.lang.Double.compare(a.toDouble, b.toDouble)
    case BooleanType => java.lang.Boolean.compare(a.toBoolean, b.toBoolean)
    case StringType  =>
      UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
    case other => throw new IllegalArgumentException(
      s"graft-store: no stats for column type $other")
  }
}
