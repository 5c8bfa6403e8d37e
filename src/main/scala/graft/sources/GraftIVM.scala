package graft.sources

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.util.Materialize

/** INCREMENTAL VIEW MAINTENANCE over the store changelog: a stored
  * aggregate view is REFRESHED from the net row-level changes since the
  * version it reflects, never by rescanning the base table. This is the
  * table-format answer to the reference's serving refresh loop
  * (`S/reddit_lambda.py:71-108` recomputes `latest-data.csv` from
  * scratch on every run).
  *
  * A [[View]] is a per-group COUNT(*) plus any SUM, MIN and MAX columns,
  * optionally partitioned on one group column. Every refresh is the same
  * operator chain; two choices, both read off the view, pick its parts:
  *
  *  - THE ALGEBRA. COUNT and SUM are invertible: with no MIN/MAX the
  *    refresh is ONE union-aggregate of the current view rows and the
  *    signed changelog rows (+1/-1 per row for COUNT, ±value for each
  *    SUM) — no net-change pass and no join, because a rewrite's
  *    same-version delete+insert pair contributes +x−x = 0 to every
  *    signed sum. One shuffle over O(changed rows). MIN/MAX are not
  *    invertible (a delete of a group's current maximum needs the base
  *    data to find the runner-up), so a view carrying them takes the
  *    TOUCHED-GROUP re-aggregation instead: the changelog contributes
  *    only the touched group keys, those groups re-aggregate from a
  *    PRUNED base scan, and every untouched group's row carries through
  *    verbatim. Up to [[InListKeyLimit]] keys on one group column the
  *    prune is an IN-list pushed to the store scan (partition pruning
  *    and zone-map refutation apply); otherwise it is a semi join,
  *    broadcast-hinted only while the probe proves the key set bounded —
  *    a forced broadcast of an unbounded changelog key set is an OOM
  *    waiting for one hot batch, and AQE still broadcasts the plain join
  *    at runtime when the key frame measures small. COUNT and SUMs
  *    recompute in the same pruned scan with exact SQL null semantics.
  *  - THE REPUBLISH. An unpartitioned view is overwritten whole (view
  *    tables are aggregate-sized). A partitioned view prunes its own scan
  *    to the partitions the changelog touches and republishes only those
  *    with a dynamic partition overwrite; touched partitions whose groups
  *    all vanished ride the same write's
  *    [[GraftStore.AlsoReplacePartitionsOption]], so the survivor
  *    republish and the retirement are ONE manifest version and no
  *    reader sees a half-refreshed view. Untouched partitions keep their
  *    exact files. Touched-partition values are collected to the driver
  *    (partition columns are low-cardinality by design) and handled as
  *    typed values end to end: a NULL key prunes, republishes and retires
  *    like any other, and vanished values travel as the store's
  *    canonical encoded directory names, never as SQL text.
  *
  * The view is itself a versioned store table, so every refresh is
  * atomic and the previous view state stays time-travelable.
  *
  * RANGE OWNERSHIP: the caller of [[refresh]] owns the version
  * bookkeeping, like any changelog consumer — each refresh must cover
  * the half-open range since the previous one (apply a slice twice and
  * the deltas double-apply). [[streamRefresh]] is the managed form: its
  * checkpoint owns the ranges and the view's applied watermark
  * ([[bind]]) owns replay protection.
  *
  * QUIESCENCE: a touched-group refresh's `base` must be the snapshot the
  * changelog leads to. Either no commit lands on the base between the
  * slice's end and the refresh, or the caller reads the base AS OF the
  * slice's end version ([[applyBatchExactlyOnce]] always does).
  *
  * Null contract: COUNT(*) is exact. Signed-delta SUMs treat an all-null
  * group as 0 where SQL reports NULL (nulls contribute nothing to the
  * deltas) — the standard distributive-IVM divergence, acceptable because
  * the view's own schema declares the sums. Touched-group refreshes
  * recompute SUMs with SQL semantics.
  */
object GraftIVM {

  /** An aggregate view `table` (catalog-qualified) over one base table.
    * `countCol` is its COUNT(*) column; `sums`, `mins` and `maxs` map
    * each view column to the BASE column it aggregates. With
    * `partitionCol` set — a group column the view table is partitioned
    * on — refreshes republish only the touched partitions.
    */
  final case class View(table: String, groupCols: Seq[String], countCol: String,
      sums: Seq[(String, String)] = Nil, mins: Seq[(String, String)] = Nil,
      maxs: Seq[(String, String)] = Nil, partitionCol: Option[String] = None) {
    require(groupCols.nonEmpty, "graft-ivm: at least one group column")
    require(partitionCol.forall(groupCols.contains),
      s"graft-ivm: view partition column '${partitionCol.getOrElse("")}' must be a group column")

    /** MIN/MAX present: refreshes need the base rows of touched groups. */
    def extrema: Boolean = mins.nonEmpty || maxs.nonEmpty
  }

  /** What one refresh read: `consumed` changelog rows (its whole input
    * for a signed-delta view) and `baseRows` base rows re-aggregated for
    * the touched groups (0 for a signed-delta view; -1 if the metric was
    * lost). Both are observed on the refresh's own actions — no extra
    * job.
    */
  final case class Refreshed(consumed: Long, baseRows: Long)

  private val NoInput = Refreshed(0L, 0L)

  /** Refresh `view` from a raw changelog slice of its base table — the
    * reader-options form ([[GraftCDC.changes]]) or the SQL metadata table
    * (`SELECT * FROM cat.db.t.changes WHERE _commit_version > v`); both
    * carry `_change_type` and `_commit_version`. `base` is the base
    * table, given exactly when the view has MIN/MAX (see QUIESCENCE).
    */
  def refresh(changelog: DataFrame, view: View, base: Option[DataFrame]): Refreshed =
    refreshFrom(changelog.sparkSession.table(view.table), changelog, view, base)

  /** The one refresh body: `current` is the view state the changelog
    * applies to — the live table, or a pinned version on a replay.
    */
  private def refreshFrom(current: DataFrame, changelog: DataFrame, view: View,
      base: Option[DataFrame]): Refreshed = {
    require(base.nonEmpty == view.extrema,
      "graft-ivm: pass the base table exactly when the view has MIN/MAX columns")
    // every frame must live on the CHANGELOG's session: inside
    // foreachBatch the batch frame belongs to the stream's own session,
    // and an action run through another session fires its execution
    // events on that session's bus — the Observation would never complete
    require((current +: base.toSeq).forall(_.sparkSession eq changelog.sparkSession),
      "graft-ivm: the view, base and changelog frames must share one SparkSession")
    val groups = view.groupCols.map(col)
    // a partitioned view's partition column and the values it touches
    val touched = view.partitionCol.map(pc => pc -> distinctValues(changelog, pc))
    if (touched.exists(_._2.isEmpty)) return NoInput
    val inTouchedParts: DataFrame => DataFrame = df =>
      touched.fold(df) { case (pc, parts) => df.filter(memberPred(col(pc), parts)) }
    // the consumed-row metric rides the refresh action itself (a separate
    // count() would read the changelog a second time)
    val consumedObs = observation("graft_ivm")
    val baseObs = Option.when(view.extrema)(observation("graft_ivm_base"))
    val input = changelog.observe(consumedObs, count(lit(1)).as("consumed"))
    Materialize.scoped { m =>
      val rows: Option[DataFrame] =
        if (!view.extrema) {
          val sign = when(col(GraftChanges.ChangeTypeColumn) === "insert", 1L)
            .otherwise(-1L)
          // signed changelog rows in the VIEW's shape (null measures
          // contribute nothing, like SQL SUM); the coalesce keeps the
          // "all-null group sums to 0" contract
          val deltas = input.select((groups :+ sign.as(view.countCol)) ++
            view.sums.map { case (vc, bc) => (sign * col(bc)).as(vc) }: _*)
          Some(inTouchedParts(current)
            .unionByName(deltas)
            .groupBy(groups: _*)
            .agg(sum(col(view.countCol)).as(view.countCol),
              view.sums.map { case (vc, _) =>
                coalesce(sum(col(vc)), lit(0L)).as(vc) }: _*)
            .filter(col(view.countCol) > 0L))
        } else {
          val keyFrame = m.cache(input.select(groups: _*).distinct())
          val probe = keyFrame.limit(InListKeyLimit + 1).collect()
          Option.when(probe.nonEmpty) {
            val keysBounded = probe.length <= InListKeyLimit
            val (touchedBase, carried) =
              if (view.groupCols.size == 1 && keysBounded) {
                // a partitioned view's one group column IS its partition
                // column: the key prune and the partition prune coincide
                val p = memberPred(groups.head, probe.map(_.get(0)).toSeq)
                (base.get.filter(p), inTouchedParts(current).filter(!p))
              } else {
                def cond(l: DataFrame) =
                  view.groupCols.map(c => l(c) <=> keyFrame(c)).reduce(_ && _)
                val kf = if (keysBounded) broadcast(keyFrame) else keyFrame
                val b = inTouchedParts(base.get)
                val c = inTouchedParts(current)
                (b.join(kf, cond(b), "left_semi"), c.join(kf, cond(c), "left_anti"))
              }
            carried.unionByName(touchedBase
              .observe(baseObs.get, count(lit(1)).as("rows"))
              .groupBy(groups: _*)
              .agg(count(lit(1)).as(view.countCol),
                view.sums.map { case (vc, bc) => sum(col(bc)).as(vc) } ++
                  view.mins.map { case (vc, bc) => min(col(bc)).as(vc) } ++
                  view.maxs.map { case (vc, bc) => max(col(bc)).as(vc) }: _*))
          }
        }
      rows.map(_.select(current.columns.map(col): _*)).fold(NoInput) { out =>
        // direct v2 writes — no temp view, so the refresh runs entirely on
        // the changelog's session
        touched match {
          case Some((pc, parts)) =>
            // the survivor collect and the write read the same frame
            val cached = m.cache(out)
            val vanished = parts.filterNot(distinctValues(cached, pc).toSet)
            val w = cached.writeTo(view.table)
            (if (vanished.isEmpty) w
             else w.option(GraftStore.AlsoReplacePartitionsOption,
               vanished.map(v => GraftStore.encodePartValue(
                 pc + "=" + GraftStore.encodePartValue(
                   if (v == null) null else v.toString))).mkString(",")))
              .overwritePartitions()
          case None => out.writeTo(view.table).overwrite(lit(true))
        }
        Refreshed(metric(consumedObs, "consumed", changelog.count()),
          baseObs.fold(0L)(metric(_, "rows", -1L)))
      }
    }
  }

  /** Above this many touched group keys the base prune switches from an
    * IN-list (store-scan pushdown) to a semi join.
    */
  private val InListKeyLimit = 1000

  private def observation(prefix: String): Observation =
    Observation(s"${prefix}_${java.util.UUID.randomUUID().toString.take(8)}")

  private def distinctValues(df: DataFrame, c: String): Seq[Any] =
    df.select(col(c)).distinct().collect().map(_.get(0)).toSeq

  /** An observed metric, with a BOUNDED wait (the listener fires
    * asynchronously after the action) and a fallback — a refresh must
    * never hang on a lost metric. The fallback also covers AQE
    * empty-relation propagation: a refresh whose surviving result is
    * empty (every touched group vanished) can have its CollectMetrics
    * node optimized out of the final adaptive plan, completing the
    * future with a schemaless empty row instead of the metric.
    */
  private def metric(obs: Observation, name: String, fallback: => Long): Long =
    try {
      val row = Await.result(obs.future, 30.seconds)
      if (row.length == 0 || row.schema == null) fallback else row.getAs[Long](name)
    } catch {
      case _: java.util.concurrent.TimeoutException => fallback
    }

  /** A 3-value-safe membership predicate over collected key values:
    * covers NULL explicitly in BOTH directions, so `!pred` is exact too
    * (a bare `isInCollection` evaluates to NULL for a null key —
    * filtered out on the positive side AND on the negation, silently
    * dropping the null group).
    */
  private def memberPred(c: Column, values: Seq[Any]): Column = {
    val (nulls, vs) = values.partition(_ == null)
    val inVals =
      if (vs.isEmpty) lit(false)
      else c.isNotNull && c.isInCollection(vs)
    if (nulls.nonEmpty) c.isNull || inVals else inVals
  }

  // ------------------------------------------------- exactly-once

  /** The APPLIED-WATERMARK binding: `_IVM_APPLIED` in the VIEW table's
    * directory records `(applied base version, view version at that
    * point)`. foreachBatch is at-least-once, so a replayed batch must
    * either be SKIPPED (its range is at or below the watermark) or
    * recomputed FROM THE PINNED view version — the view state the
    * watermark named — so a crash between the view overwrite and the
    * watermark write replays to the identical result instead of
    * double-applying the deltas.
    */
  private val AppliedMarker = "_IVM_APPLIED"

  /** Declare that `viewPath`'s current contents reflect the base table
    * AS OF `appliedVersion` — call ONCE, right after materializing the
    * view. [[streamRefresh]] refuses to run without it (an unbound view
    * cannot be replay-protected: a crashed first batch would otherwise
    * re-apply onto its own output). A view that is already bound refuses
    * a rebind — an accidental second bind would rewind the applied
    * watermark and a later replay would double-apply already-applied
    * versions. Pass `force = true` only when the view was genuinely
    * RE-materialized from a fresh base snapshot.
    */
  def bind(viewPath: String, appliedVersion: Long,
      force: Boolean = false): Unit = {
    val root = new java.io.File(viewPath)
    require(force || !new java.io.File(root, AppliedMarker).isFile,
      s"graft-ivm: $viewPath is already bound to a base version — " +
        "rebinding rewinds the applied watermark and double-applies " +
        "replayed versions; re-materialize the view and pass force = true " +
        "if that is really what you want")
    val viewV = GraftCommit.committedVersion(root)
    GraftCommit.writeAtomic(root, AppliedMarker, s"$appliedVersion\t$viewV\n")
  }

  /** The current binding: (applied base version, view version). */
  def binding(viewPath: String): Option[(Long, Long)] = {
    val f = new java.io.File(viewPath, AppliedMarker)
    if (!f.isFile) None
    else {
      val t = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8).trim.split("\t")
      require(t.length == 2,
        s"graft-ivm: malformed $AppliedMarker under $viewPath")
      Some((t(0).toLong, t(1).toLong))
    }
  }

  private def bound(viewPath: String): (Long, Long) = binding(viewPath).getOrElse(
    throw new IllegalStateException(
      s"graft-ivm: no $AppliedMarker under $viewPath — call " +
        "GraftIVM.bind(viewPath, baseVersion) after materializing the view"))

  /** Apply ONE changelog batch exactly-once (the foreachBatch body of
    * [[streamRefresh]], public so the replay contract is directly
    * testable). An empty or already-applied (replayed) batch consumes
    * nothing. A batch may STRADDLE the watermark (a restart whose
    * checkpoint predates versions applied directly): only versions beyond
    * it are consumed. The refresh applies to the view AS OF the
    * watermark's pinned version, and a MIN/MAX view re-aggregates from
    * the base at `basePath` AS OF the batch's end version — both pins
    * make a crash-window replay land on the identical state, and a
    * partitioned view's untouched partitions never move, replay included.
    */
  def applyBatchExactlyOnce(batch: DataFrame, view: View, viewPath: String,
      basePath: String): Refreshed = {
    val (applied, viewV) = bound(viewPath)
    val hiRow = batch.agg(max(col(GraftChanges.CommitVersionColumn))).head()
    if (hiRow.isNullAt(0)) return NoInput
    val hi = hiRow.getLong(0)
    if (hi <= applied) return NoInput
    val live = batch.filter(col(GraftChanges.CommitVersionColumn) > applied)
    def asOf(path: String, version: Long): DataFrame = batch.sparkSession.read
      .format("graft.sources.GraftStoreProvider")
      .option("path", path)
      .option(GraftStore.VersionAsOfOption, version.toString).load()
    val refreshed = refreshFrom(asOf(viewPath, viewV), live, view,
      Option.when(view.extrema)(asOf(basePath, hi)))
    val root = new java.io.File(viewPath)
    val newViewV = GraftCommit.committedVersion(root)
    GraftCommit.writeAtomic(root, AppliedMarker, s"$hi\t$newViewV\n")
    refreshed
  }

  /** The CHECKPOINTED streaming refresh: the streaming changelog
    * (`readStream` + `changesFrom` at the bound version) drives
    * [[applyBatchExactlyOnce]] through foreachBatch. The checkpoint owns
    * the version ranges, the applied watermark owns replay protection —
    * together exactly-once view maintenance across stop/restart. Use
    * `Trigger.AvailableNow` for a catch-up-and-stop refresh job, or a
    * processing-time trigger for a continuous one.
    */
  def streamRefresh(spark: SparkSession, basePath: String, view: View,
      viewPath: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val (applied, _) = bound(viewPath)
    spark.readStream.format("graft.sources.GraftStoreProvider")
      .option("path", basePath)
      .option(GraftChanges.ChangesFromOption, applied.toString).load()
      .writeStream
      .foreachBatch { (df: DataFrame, _: Long) =>
        applyBatchExactlyOnce(df, view, viewPath, basePath)
        ()
      }
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .start()
  }
}
