package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** CHANGES-BETWEEN-VERSIONS (CDC) read + version-pointer STREAMING
  * source for graft-store (VERDICT r12 task 2): the versioned manifests
  * and the retirement ledger already encode every commit's adds/removes
  * — this exposes them as a CONSUMABLE CHANGELOG.
  *
  * Batch:
  * {{{
  *   spark.read.format("graft.sources.GraftStoreProvider")
  *     .option("path", dir)
  *     .option("changesFrom", vA)          // exclusive lower bound
  *     .option("changesTo", vB)            // inclusive; default current
  *     .load()                             // schema + _change_type + _commit_version
  * }}}
  * Rows are emitted PER INTERVENING VERSION by diffing each version's
  * manifest against its predecessor: added files → `insert` rows,
  * removed files → `delete` rows (read from the RETIRED copies — loud if
  * retention GC already expired them), a DELETION-VECTOR generation
  * change → `delete` rows at exactly the newly-set ordinals. A
  * `compact` version is DATA-NEUTRAL by construction and emits
  * NOTHING (the file-level diff would be pure rewrite noise).
  *
  * A row-level DML version (`dv-*`) whose commit recorded its old → new
  * file PAIRING (`#rw=` manifest headers, VERDICT r15 task 4 + r16 task
  * 1) is read as PAIR partitions: each rewritten file's kept rows are an
  * ordered subsequence of its old live rows (materializeKept streams the
  * file), so the pair diff cancels them in the reader and the raw
  * changelog already carries only the rows that changed — input ∝
  * churn, no shuffle spent on rewrite noise. A rewrite WITHOUT pairing
  * falls back to the plain file diff — kept rows as same-version
  * delete+insert pairs — and [[GraftCDC.netChanges]] cancels those
  * RELATIONALLY (group by row content + version, net the signs), the
  * Spark-first shape of Iceberg's net-changes changelog. Both forms are
  * net-identical.
  *
  * Streaming: the plain store table now supports `readStream` (TableCapability
  * MICRO_BATCH_READ). Offsets ARE manifest versions; each micro-batch
  * covers the versions committed since the last one. The first batch is
  * the FULL SNAPSHOT at the then-current version (so no history is
  * required), or starts after `startingVersion` when given. The plain
  * stream is APPEND-ONLY and fails LOUDLY on a version that removed or
  * DV-deleted rows (deletes cannot be retracted from a downstream
  * append stream); compact versions pass through silently. The full
  * changelog (with `_change_type`) is the batch changes read above.
  *
  * Scale: planning is O(changed files) per version — manifest diffs,
  * no directory listing; reads parallelize one InputPartition per
  * changed file, so "catch up on the last N commits" costs the changed
  * data, never the table.
  */
private[sources] object GraftChanges {
  val ChangesFromOption = "changesFrom"
  val ChangesToOption = "changesTo"
  val StartingVersionOption = "startingVersion"
  val MaxVersionsPerTriggerOption = "maxVersionsPerTrigger"
  val ChangeTypeColumn = "_change_type"
  val CommitVersionColumn = "_commit_version"

  def changeSchema(data: StructType): StructType =
    StructType(data.fields :+
      StructField(ChangeTypeColumn, StringType, nullable = false) :+
      StructField(CommitVersionColumn, LongType, nullable = false))

  /** Manifest at `v`, with v=0 the empty pre-birth baseline. */
  private def at(root: File, v: Long): GraftManifest =
    if (v == 0L) GraftCommit.Empty
    else GraftCommit.at(root, v)

  /** Ops that change the visible file set without changing DATA. */
  private def dataNeutral(op: String): Boolean = op == "compact"

  /** Plan the changelog for versions (fromV, toV]. `insertsOnly` is the
    * streaming contract: loud on any version that removed or DV-deleted
    * rows.
    */
  def planChanges(root: File, fromV: Long, toV: Long, partCols: Seq[String],
      insertsOnly: Boolean, surface: String): Seq[InputPartition] = {
    require(fromV <= toV,
      s"graft-store: $surface asked for changes ($fromV, $toV] — empty or inverted range")
    // each manifest is parsed once: version v's `cur` is v + 1's `prev`
    if (fromV == toV) Seq.empty
    else (fromV to toV).iterator.map(v => v -> at(root, v)).sliding(2).withPartial(false)
        .flatMap { case Seq((_, prev), (v, cur)) =>
      if (dataNeutral(cur.op)) Seq.empty
      else {
        val curSet = cur.files.toSet
        val prevSet = prev.files.toSet
        val added0 = cur.files.filterNot(prevSet).sorted
        val removed0 = prev.files.filterNot(curSet).sorted
        val dvChanged = cur.files
          .filter(f => prevSet(f) && cur.dvs.get(f) != prev.dvs.get(f)).sorted
        if (insertsOnly && (removed0.nonEmpty || dvChanged.nonEmpty))
          throw new IllegalStateException(
            s"graft-store: version $v (op=${cur.op}) of $root removed or " +
              s"DV-deleted rows; the $surface read is append-only — consume " +
              "the changes read (changesFrom/changesTo) for the full changelog")
        def onDisk(rel: String): File = {
          val f = new File(root, rel)
          if (!f.isFile) throw new IllegalStateException(
            s"graft-store: version $v change file '$rel' is no longer on " +
              s"disk under $root — retention GC expired this range; read a " +
              "newer changesFrom or widen the retention window")
          f
        }
        // REWRITE PAIR-DIFF (VERDICT r15 task 4 + r16 task 1): a version
        // whose commit recorded old → new attribution emits each
        // rewritten file as a PAIR partition — a diff of the old file's
        // live rows against its replacements that cancels kept rows IN
        // the reader, so the changelog carries O(actually-changed rows)
        // instead of the whole old+new sets that netChangesOf would have
        // to shuffle just to cancel. Net-exact under any pairing: every
        // uncancelled row is still emitted with its sign.
        val pairs: Seq[(String, Seq[String])] =
          if (!cur.op.startsWith("dv-")) Seq.empty
          else cur.rewrites.toSeq.sortBy(_._1).filter { case (old, news) =>
            removed0.contains(old) && news.forall(n =>
              curSet(n) && !prevSet(n))
          }
        val pairedOld = pairs.map(_._1).toSet
        val pairedNew = pairs.flatMap(_._2).toSet
        val added = added0.filterNot(pairedNew)
        val removed = removed0.filterNot(pairedOld)
        def part(rel: String, kind: String, dvApply: Option[String],
            dvOld: Option[String], delta: Boolean): GraftChangePartition =
          GraftChangePartition(onDisk(rel).getAbsolutePath,
            partValuesOf(rel, partCols), kind, v,
            dvApply.map(d => new File(root, d).getAbsolutePath),
            dvOld.map(d => new File(root, d).getAbsolutePath), delta)
        added.map(rel =>
          part(rel, "insert", cur.dvs.get(rel), None, delta = false)) ++
          removed.map(rel =>
            // logically-removed rows = rows LIVE at v-1: apply prev's DV
            part(rel, "delete", prev.dvs.get(rel), None, delta = false)) ++
          dvChanged.map(rel =>
            // newly-deleted rows = ordinals in (dv(v) \ dv(v-1))
            part(rel, "delete", cur.dvs.get(rel), prev.dvs.get(rel), delta = true)) ++
          pairs.map { case (old, news) =>
            GraftPairPartition(onDisk(old).getAbsolutePath,
              partValuesOf(old, partCols),
              prev.dvs.get(old).map(d => new File(root, d).getAbsolutePath),
              news.map(n => (onDisk(n).getAbsolutePath, partValuesOf(n, partCols))),
              v)
          }
      }
    }.toSeq
  }

  /** The full snapshot at `v` as `insert` partitions (the streaming
    * first batch — Delta's initial-snapshot semantics, needs no history).
    */
  def planSnapshot(root: File, v: Long, partCols: Seq[String]): Seq[GraftChangePartition] = {
    val m = at(root, v)
    m.files.sorted.map { rel =>
      val f = new File(root, rel)
      if (!f.isFile) throw new IllegalStateException(
        s"graft-store: snapshot file '$rel' missing under $root — torn store")
      GraftChangePartition(f.getAbsolutePath, partValuesOf(rel, partCols),
        "insert", v, m.dvs.get(rel).map(d => new File(root, d).getAbsolutePath),
        None, delta = false)
    }
  }

  private def partValuesOf(rel: String, partCols: Seq[String]): Seq[String] = {
    val comps = rel.split('/')
    require(comps.length == partCols.length + 1,
      s"graft-store: manifest path '$rel' does not match the " +
        s"${partCols.length}-level partitioning ${partCols.mkString(",")}")
    partCols.zipWithIndex.map { case (c, i) =>
      require(comps(i).startsWith(c + "="),
        s"graft-store: manifest path '$rel' level $i is not '$c='")
      GraftStore.decodePartValue(comps(i).substring(c.length + 1))
    }
  }
}

/** Public batch CDC entry points (the option plumbing, typed). */
object GraftCDC {
  /** The RAW changelog for versions (fromV, toV] — file-level diff per
    * version; an unpaired rewrite's kept rows appear as same-version
    * delete+insert pairs (see [[netChanges]]).
    */
  def changes(spark: SparkSession, path: String, fromV: Long,
      toV: Option[Long] = None): DataFrame = {
    val r = spark.read.format("graft.sources.GraftStoreProvider")
      .option("path", path)
      .option(GraftChanges.ChangesFromOption, fromV.toString)
    toV.fold(r)(v => r.option(GraftChanges.ChangesToOption, v.toString)).load()
  }

  /** NET row-level changes for versions (fromV, toV]: the raw changelog
    * with same-version delete+insert pairs of identical row content
    * CANCELLED — a distributed aggregate (group by row content +
    * version, net the signs, re-expand multiplicities), so rewrite
    * amplification never reaches the consumer. Exact for multisets.
    */
  def netChanges(spark: SparkSession, path: String, fromV: Long,
      toV: Option[Long] = None): DataFrame =
    netChangesOf(changes(spark, path, fromV, toV))

  /** The net-changes cancellation over ANY changelog-shaped frame
    * (data columns + `_change_type` + `_commit_version`) — so the SQL
    * metadata-table surface (`SELECT * FROM cat.db.t.changes WHERE
    * _commit_version > v`) composes with the same relational
    * cancellation as the reader-options path, and [[graft.sources
    * .GraftIVM]] can consume either.
    */
  def netChangesOf(raw: DataFrame): DataFrame = {
    val dataCols = raw.columns.filterNot(c =>
      c == GraftChanges.ChangeTypeColumn || c == GraftChanges.CommitVersionColumn)
    raw.groupBy((dataCols :+ GraftChanges.CommitVersionColumn).map(col): _*)
      .agg(sum(when(col(GraftChanges.ChangeTypeColumn) === "insert", 1L)
        .otherwise(-1L)).as("_net"))
      .filter(col("_net") =!= 0L)
      .withColumn(GraftChanges.ChangeTypeColumn,
        when(col("_net") > 0L, "insert").otherwise("delete"))
      .withColumn("_dup", explode(expr("array_repeat(0, int(abs(_net)))")))
      .drop("_net", "_dup")
      .select(raw.columns.map(col): _*)
  }
}

/** The changes TABLE: read-only, schema = data schema + change columns.
  * Batch reads cover an explicit version range; STREAMING (MICRO_BATCH_
  * READ) follows the version pointer from `changesFrom`, emitting the
  * FULL changelog — deletes included as `_change_type = 'delete'` rows,
  * the retractions the plain append-only stream must refuse. The same
  * admission-control option (`maxVersionsPerTrigger`) applies.
  */
private[sources] class GraftChangesTable(
    path: String, fullSchema: StructType, partCols: Seq[String],
    fromV: Long, toV: Option[Long], maxVersionsPerTrigger: Option[Long] = None)
    extends Table with SupportsRead {

  override def name(): String = s"graft-store-changes($path)"
  override def schema(): StructType = fullSchema
  override def partitioning(): Array[Transform] = Array.empty
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftChangesScanBuilder(path, fullSchema, partCols, fromV, toV,
      maxVersionsPerTrigger)
}

private[sources] class GraftChangesScanBuilder(
    path: String, fullSchema: StructType, partCols: Seq[String],
    fromV: Long, toV: Option[Long], maxVersionsPerTrigger: Option[Long])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var required: StructType = fullSchema
  private var lo: Long = fromV          // exclusive lower bound
  // pushed inclusive upper bound — kept SEPARATE from the explicit
  // changesTo option (ADVICE r15 low): a pushed `_commit_version`
  // predicate past the table's history clamps (the residual filter
  // guarantees equivalence), an EXPLICIT changesTo past it stays a
  // loud error (silently truncating a caller's bookkept range would
  // hide a rolled-back/recreated table)
  private var pushedHi: Option[Long] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** `_commit_version` bounds NARROW the planned version range — the
    * SQL surface's way of addressing a changelog slice
    * (`SELECT * FROM cat.db.t.changes WHERE _commit_version > v`)
    * without reader options. Planning then touches only the manifests
    * inside the narrowed range, so a bounded SQL read never trips over
    * retention-GC-expired history outside it. Every filter stays
    * RESIDUAL (Spark re-evaluates on the emitted rows — the bounds are
    * a pruning hint, correctness never depends on them).
    */
  override def pushFilters(filters: Array[org.apache.spark.sql.sources.Filter]):
      Array[org.apache.spark.sql.sources.Filter] = {
    import org.apache.spark.sql.sources._
    val vc = GraftChanges.CommitVersionColumn
    def asL(v: Any): Option[Long] = v match {
      case l: Long => Some(l)
      case i: Int  => Some(i.toLong)
      case _       => None
    }
    def cap(v: Long): Unit =
      pushedHi = Some(pushedHi.fold(v)(math.min(_, v)))
    pushed = filters.filter {
      case GreaterThan(a, v) if a == vc && asL(v).isDefined =>
        lo = math.max(lo, asL(v).get); true
      case GreaterThanOrEqual(a, v) if a == vc && asL(v).isDefined =>
        lo = math.max(lo, asL(v).get - 1); true
      case LessThan(a, v) if a == vc && asL(v).isDefined =>
        cap(asL(v).get - 1); true
      case LessThanOrEqual(a, v) if a == vc && asL(v).isDefined =>
        cap(asL(v).get); true
      case EqualTo(a, v) if a == vc && asL(v).isDefined =>
        lo = math.max(lo, asL(v).get - 1)
        cap(asL(v).get); true
      case _ => false
    }
    filters // all residual
  }
  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def build(): Scan =
    new GraftChangesScan(path, fullSchema, required, partCols, lo, toV,
      pushedHi, maxVersionsPerTrigger)
}

private[sources] class GraftChangesScan(
    path: String, fullSchema: StructType, required: StructType,
    partCols: Seq[String], fromV: Long, toV: Option[Long],
    pushedHi: Option[Long] = None,
    maxVersionsPerTrigger: Option[Long] = None)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** The STREAMING changelog: offsets are manifest versions, each batch
    * emits the full per-version changelog (inserts AND deletes) for the
    * commits since the last one, starting after `changesFrom`.
    */
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new GraftChangelogStream(path, fullSchema, required, partCols, fromV,
      maxVersionsPerTrigger)
  override def description(): String = {
    val to = toV.map(_.toString).getOrElse("current")
    s"graft-store-changes($path) Versions: ($fromV, $to], " +
      s"ReadSchema: ${required.catalogString}"
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val root = new File(path)
    val cur = GraftCommit.committedVersion(root)
    // a PUSHED upper bound past the table's history CLAMPS to the
    // current version (ADVICE r14 medium: a pushed `_commit_version <=
    // 100` on a 5-version table must not plan never-committed manifests
    // and throw — the same query without pushdown succeeds with a
    // residual filter, so the SQL surface would turn a valid query into
    // an error). The EXPLICIT changesTo option does NOT clamp (ADVICE
    // r15 low): a caller's bookkept end version past the history means
    // the table was rolled back or recreated — silently returning a
    // truncated slice would hide it
    toV.foreach(t => require(t <= cur,
      s"graft-store: changesTo = $t but the current version of $path is " +
        s"$cur — the requested range was never committed (rolled-back or " +
        "recreated table?); drop changesTo to read through the current version"))
    val end = (toV.toSeq ++ pushedHi.map(math.min(_, cur)).toSeq)
      .reduceOption((a: Long, b: Long) => math.min(a, b)).getOrElse(cur)
    // a pushed bound past the table's history is an EMPTY slice, not an
    // inverted-range error (e.g. `WHERE _commit_version > current`)
    if (fromV >= end) Array.empty
    else GraftChanges.planChanges(root, fromV, end, partCols,
      insertsOnly = false, surface = "changes").toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangesReaderFactory(fullSchema, required, partCols,
      Some(GraftCommit.slotIndex(new File(path), fullSchema.fields.filterNot(f =>
        partCols.contains(f.name) || f.name == GraftChanges.ChangeTypeColumn ||
          f.name == GraftChanges.CommitVersionColumn).toSeq)))
}

/** One changed file at one version: `changeType`/`version` become the
  * constant change columns; `dvApply` skips deleted ordinals; in
  * `delta` mode only ordinals in (dvApply \ dvOld) are EMITTED — the
  * rows one DV generation deleted.
  */
private[sources] case class GraftChangePartition(
    file: String, partValues: Seq[String], changeType: String, version: Long,
    dvApply: Option[String], dvOld: Option[String], delta: Boolean)
    extends InputPartition

/** One PAIR-DIFFED rewrite at one version (VERDICT r15 task 4, r16
  * task 1): the old file's live rows (dvOld applied) diff against its
  * recorded replacement files, whose rows are an ordered SUBSEQUENCE of
  * them — on mismatch only the old side advances, emitting a delete.
  * Rows are compared as RAW record fields — the codec is canonical, so
  * identical content means identical fields. Under any pairing or
  * ordering the emission is NET-exact: a row is cancelled only against
  * an equal row, so Σinserts − Σdeletes = new − old as multisets.
  */
private[sources] case class GraftPairPartition(
    oldFile: String, oldPartValues: Seq[String], dvOld: Option[String],
    newFiles: Seq[(String, Seq[String])], version: Long)
    extends InputPartition

private[sources] class GraftChangesReaderFactory(
    fullSchema: StructType, required: StructType, partCols: Seq[String],
    fileIndexOpt: Option[Map[String, Int]] = None)
    extends PartitionReaderFactory {

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    // on-disk layout: DATA schema (change columns are virtual) minus
    // partition cols, in schema order — the store's layout contract;
    // tables with a column ledger bind by ledger slot (driver-resolved)
    val fileIndex = fileIndexOpt.getOrElse(fullSchema.fields.filterNot(f =>
      partCols.contains(f.name) || f.name == GraftChanges.ChangeTypeColumn ||
        f.name == GraftChanges.CommitVersionColumn)
      .map(_.name).zipWithIndex.toMap)
    val partIndex = partCols.zipWithIndex.toMap

    sealed trait Slot
    case class Const(v: Any) extends Slot
    case class FromFile(idx: Int, dt: DataType) extends Slot
    // one resolved slot array per (change type, partition values) side
    def slotsFor(version: Long, changeType: String,
        partValues: Seq[String]): Array[Slot] = required.fields.map { f =>
      if (f.name == GraftChanges.ChangeTypeColumn)
        Const(UTF8String.fromString(changeType))
      else if (f.name == GraftChanges.CommitVersionColumn)
        Const(version)
      else partIndex.get(f.name) match {
        case Some(pi) =>
          Const(GraftStore.partValueTyped(partValues(pi), f.dataType) match {
            case s: String => UTF8String.fromString(s)
            case other     => other
          })
        case None => FromFile(fileIndex(f.name), f.dataType)
      }
    }
    def rowFor(slots: Array[Slot], rec: Array[String]): InternalRow =
      InternalRow.fromSeq(slots.toSeq.map {
        case Const(v)          => v
        case FromFile(idx, dt) =>
          GraftStore.convert(if (idx < rec.length) rec(idx) else null, dt)
      })

    p match {
      case pp: GraftPairPartition =>
        // PAIR-DIFF reader (VERDICT r15 task 4): stream the old file's
        // live rows against the concatenated replacements; equal rows
        // cancel IN the reader (no shuffle), an unmatched old row is a
        // delete, and new rows left after the old side drains insert.
        val delSlots = slotsFor(pp.version, "delete", pp.oldPartValues)
        val insSlots = pp.newFiles.map { case (_, pv) =>
          slotsFor(pp.version, "insert", pv) }
        val dvBits = pp.dvOld.map(GraftDv.read).orNull
        return new PartitionReader[InternalRow] {
          private val oldParser = new GraftRecordParser(Files.newBufferedReader(
            Paths.get(pp.oldFile), StandardCharsets.UTF_8))
          private var oldPos = -1L
          private var nfi = -1
          private var newParser: GraftRecordParser = null
          private var oldCur: Array[String] = null
          private var newCur: Array[String] = null
          private var row: InternalRow = null

          // old side = rows LIVE at v-1 (prev's DV applied). Ordinals
          // past the DV range fail LOUDLY (ADVICE r15 low — silently
          // skipping DV application would re-emit already-deleted rows
          // as changelog deletes), mirroring the delta seek reader.
          private def nextOld(): Array[String] = {
            var r = oldParser.next(); oldPos += 1
            while (r != null && dvBits != null && {
                if (oldPos > Int.MaxValue) throw new IllegalStateException(
                  s"graft-store: row ordinal $oldPos of '${pp.oldFile}' " +
                    "exceeds the deletion-vector range — torn store state")
                dvBits.get(oldPos.toInt)
              }) {
              r = oldParser.next(); oldPos += 1
            }
            r
          }
          private def nextNew(): Array[String] = {
            while (true) {
              if (newParser == null) {
                nfi += 1
                if (nfi >= pp.newFiles.length) return null
                newParser = new GraftRecordParser(Files.newBufferedReader(
                  Paths.get(pp.newFiles(nfi)._1), StandardCharsets.UTF_8))
              }
              val r = newParser.next()
              if (r != null) return r
              newParser.close(); newParser = null
            }
            null
          }
          // canonical codec: identical content = identical raw fields
          // (absent trailing fields read as null on both paths)
          private def same(a: Array[String], b: Array[String]): Boolean = {
            val n = math.max(a.length, b.length)
            var i = 0
            while (i < n) {
              val x = if (i < a.length) a(i) else null
              val y = if (i < b.length) b(i) else null
              if (x != y) return false
              i += 1
            }
            true
          }
          override def next(): Boolean = {
            while (true) {
              if (oldCur == null) oldCur = nextOld()
              if (newCur == null) newCur = nextNew()
              if (oldCur == null && newCur == null) return false
              else if (oldCur == null) {
                row = rowFor(insSlots(nfi), newCur); newCur = null; return true
              } else if (newCur == null) {
                row = rowFor(delSlots, oldCur); oldCur = null; return true
              } else if (same(oldCur, newCur)) {
                oldCur = null; newCur = null // kept row: cancels in place
              } else {
                // kept rows are a subsequence: this old row was deleted
                row = rowFor(delSlots, oldCur); oldCur = null; return true
              }
            }
            false
          }
          override def get(): InternalRow = row
          override def close(): Unit = {
            oldParser.close()
            if (newParser != null) newParser.close()
          }
        }
      case _ => ()
    }
    val gp = p.asInstanceOf[GraftChangePartition]
    val slots: Array[Slot] = slotsFor(gp.version, gp.changeType, gp.partValues)
    val applyBits: util.BitSet = gp.dvApply.map(GraftDv.read).orNull
    val oldBits: util.BitSet = gp.dvOld.map(GraftDv.read).orNull

    def buildRow(rec: Array[String]): InternalRow = rowFor(slots, rec)

    // DELTA read with a ROW-INDEX sidecar (VERDICT r15 task 2): the
    // emitted set is exactly (dvApply \ dvOld) — churn-sized — so with
    // block offsets on disk the reader SEEKS to the blocks holding
    // changed ordinals instead of streaming the whole file: the read is
    // O(changed rows), the property that lets an IVM refresh beat a
    // full recompute on wall clock, not just files touched. A file
    // without an index (pre-index history, byte-concat compaction
    // output) falls through to the full-scan path below — enumeration
    // is identical (RowIndexSpec pins equality and the seek).
    if (gp.delta && applyBits != null) {
      val changed = applyBits.clone().asInstanceOf[util.BitSet]
      if (oldBits != null) changed.andNot(oldBits)
      GraftRidx.read(new File(gp.file)) match {
        case Some((blockRows, offs)) if !changed.isEmpty =>
          GraftStore.DeltaSeekReads.incrementAndGet()
          return new PartitionReader[InternalRow] {
            private val blocks: Array[Int] = {
              val b = scala.collection.mutable.SortedSet.empty[Int]
              var i = changed.nextSetBit(0)
              while (i >= 0) { b += i / blockRows; i = changed.nextSetBit(i + 1) }
              b.toArray
            }
            private var bi = 0
            private var parser: GraftRecordParser = null
            private var ordinal = 0
            private var rowsLeftInBlock = 0
            private var row: InternalRow = _

            private def openBlock(): Boolean = {
              if (bi >= blocks.length) return false
              val b = blocks(bi)
              require(b < offs.length,
                s"graft-store: deletion vector of '${gp.file}' marks ordinal " +
                  s"block $b past the row index (${offs.length} blocks) — " +
                  "torn sidecar state")
              val in = new java.io.FileInputStream(gp.file)
              var toSkip = offs(b)
              while (toSkip > 0) {
                val skipped = in.skip(toSkip)
                if (skipped <= 0) throw new IllegalStateException(
                  s"graft-store: could not seek to block $b of '${gp.file}'")
                toSkip -= skipped
              }
              parser = new GraftRecordParser(
                new java.io.InputStreamReader(in, StandardCharsets.UTF_8))
              ordinal = b * blockRows
              rowsLeftInBlock = blockRows
              true
            }
            private def closeBlock(): Unit =
              if (parser != null) { parser.close(); parser = null }

            override def next(): Boolean = {
              while (true) {
                if (parser == null && !openBlock()) return false
                val blockEnd = (blocks(bi) + 1) * blockRows
                val rec = if (rowsLeftInBlock > 0) parser.next() else null
                if (rec == null) { closeBlock(); bi += 1 }
                else {
                  val ord = ordinal
                  ordinal += 1; rowsLeftInBlock -= 1
                  if (changed.get(ord)) {
                    row = buildRow(rec)
                    // no more hits in this block: release it now so the
                    // next call seeks straight to the next one
                    val nxt = changed.nextSetBit(ordinal)
                    if (nxt < 0 || nxt >= blockEnd) { closeBlock(); bi += 1 }
                    return true
                  }
                }
              }
              throw new IllegalStateException("unreachable")
            }
            override def get(): InternalRow = row
            override def close(): Unit = closeBlock()
          }
        case _ => () // no index / empty delta: full-scan fallback below
      }
    }

    val parser = new GraftRecordParser(Files.newBufferedReader(
      Paths.get(gp.file), StandardCharsets.UTF_8))
    new PartitionReader[InternalRow] {
      private var row: InternalRow = _
      private var pos = -1L
      private def emit(): Boolean = {
        // loud past the DV range (ADVICE r15 low, same class as the
        // pair-diff reader): a silently-unapplied DV would emit rows a
        // delete already removed
        if ((applyBits != null || oldBits != null) && pos > Int.MaxValue)
          throw new IllegalStateException(
            s"graft-store: row ordinal $pos of '${gp.file}' exceeds the " +
              "deletion-vector range — torn store state")
        val in = applyBits != null && applyBits.get(pos.toInt)
        if (gp.delta) in && !(oldBits != null && oldBits.get(pos.toInt))
        else !in
      }
      override def next(): Boolean = {
        var rec = parser.next()
        if (rec != null) pos += 1
        while (rec != null && !emit()) {
          rec = parser.next()
          if (rec != null) pos += 1
        }
        if (rec == null) false
        else {
          row = buildRow(rec)
          true
        }
      }
      override def get(): InternalRow = row
      override def close(): Unit = parser.close()
    }
  }
}

// ------------------------------------------------------------- streaming

/** The streaming CHANGELOG over the changes table: like
  * [[GraftVersionStream]] but emits the FULL per-version changelog
  * (`_change_type` deletes included), so downstream state can apply
  * retractions — the streaming form of [[GraftCDC.changes]]. Starts
  * AFTER `fromV` (the `changesFrom` option); no snapshot batch — a
  * changelog consumer wants deltas, the snapshot is the batch read.
  */
private[sources] class GraftChangelogStream(
    path: String, fullSchema: StructType, required: StructType,
    partCols: Seq[String], fromV: Long, maxVersionsPerTrigger: Option[Long])
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  private val root = new File(path)

  private def current(): Long = GraftCommit.committedVersion(root)

  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(current())

  override def initialOffset(): Offset = GraftVersionOffset(fromV)
  override def latestOffset(): Offset = GraftVersionOffset(current())
  override def reportLatestOffset(): Offset = GraftVersionOffset(current())

  override def latestOffset(startOffset: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val cur = availableNowTarget.getOrElse(current())
    val s = startOffset.asInstanceOf[GraftVersionOffset].v
    GraftVersionOffset(maxVersionsPerTrigger match {
      case Some(m) => math.min(cur, s + math.max(1L, m))
      case None    => cur
    })
  }

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    if (s == e) Array.empty
    else GraftChanges.planChanges(root, s, e, partCols,
      insertsOnly = false, surface = "streaming changes").toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangesReaderFactory(fullSchema, required, partCols,
      Some(GraftCommit.slotIndex(new File(path), fullSchema.fields.filterNot(f =>
        partCols.contains(f.name) || f.name == GraftChanges.ChangeTypeColumn ||
          f.name == GraftChanges.CommitVersionColumn).toSeq)))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** A manifest version as a streaming offset. -1 is the pre-snapshot
  * sentinel: the next batch is the full snapshot at its end version.
  */
private[sources] case class GraftVersionOffset(v: Long) extends Offset {
  override def json(): String = v.toString
}

/** The version-pointer MICRO-BATCH stream over a plain store table
  * (VERDICT r12 task 2): append-only rows, schema = table schema.
  * ADMISSION CONTROL: `maxVersionsPerTrigger` caps how many commits one
  * micro-batch absorbs — a stream catching up on a month-old pointer
  * processes the backlog as bounded batches (checkpointed progress
  * between them) instead of one giant batch that must fit in memory and
  * restart from zero on failure. The first (snapshot) batch is always
  * one batch — it reads one manifest, not a version range.
  */
private[sources] class GraftVersionStream(
    path: String, fullSchema: StructType, required: StructType,
    partCols: Seq[String], startingVersion: Option[Long],
    maxVersionsPerTrigger: Option[Long] = None)
    extends MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  private val root = new File(path)

  private def current(): Long = GraftCommit.committedVersion(root)

  // Trigger.AvailableNow pins its end version ONCE at query start, so a
  // bounded catch-up drains to a fixed target across several batches and
  // terminates even while writers keep committing
  @volatile private var availableNowTarget: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowTarget = Some(current())

  override def initialOffset(): Offset =
    GraftVersionOffset(startingVersion.map(_ - 1).getOrElse(-1L))

  override def latestOffset(): Offset = GraftVersionOffset(current())

  /** Bounded catch-up: advance at most `maxVersionsPerTrigger` versions
    * past the batch's start (the ReadLimit row shapes don't map to a
    * version-addressed source; the option is the contract). The
    * pre-snapshot sentinel always advances to the full snapshot — that
    * batch reads ONE manifest regardless of how many commits preceded it.
    */
  override def latestOffset(startOffset: Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit): Offset = {
    val cur = availableNowTarget.getOrElse(current())
    val s = startOffset.asInstanceOf[GraftVersionOffset].v
    val capped = maxVersionsPerTrigger match {
      case Some(m) if s >= 0 => math.min(cur, s + math.max(1L, m))
      case _                 => cur
    }
    GraftVersionOffset(capped)
  }

  override def reportLatestOffset(): Offset = GraftVersionOffset(current())

  override def deserializeOffset(json: String): Offset =
    GraftVersionOffset(json.toLong)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftVersionOffset].v
    val e = end.asInstanceOf[GraftVersionOffset].v
    if (s == e) Array.empty
    else if (s == -1L)
      // first batch: the full snapshot at e (no history needed)
      GraftChanges.planSnapshot(root, e, partCols).toArray
    else GraftChanges.planChanges(root, s, e, partCols,
      insertsOnly = true, surface = "streaming").toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftChangesReaderFactory(fullSchema, required, partCols,
      Some(GraftCommit.slotIndex(new File(path), fullSchema.fields.filterNot(f =>
        partCols.contains(f.name) || f.name == GraftChanges.ChangeTypeColumn ||
          f.name == GraftChanges.CommitVersionColumn).toSeq)))

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}
