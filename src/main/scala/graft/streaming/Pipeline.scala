package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StructType

import graft.enrich.Features
import graft.util.{Det, TempDirs}

/** The hot path (SURVEY §3.1) as Structured Streaming: micro-batch source →
  * row-local enrichment → foreachBatch{keyed upsert + batch-local anomaly} +
  * cross-batch author-activity state.
  *
  * Semantics owed (SURVEY §2.12):
  *  - ST1: micro-batching — bounded batches via MemoryStream slices (the
  *    poll-loop `Limit=100`) or file-source triggers.
  *  - ST3: per-record enrich then sink write — enrichment is a `select`,
  *    the sink is `foreachBatch`.
  *  - ST4: anomaly Z-scores use *batch-local* mean/std — computed inside
  *    `foreachBatch` on the micro-batch, NOT a global streaming agg.
  *  - ST5: author activity count accumulates across batches for the
  *    process lifetime and each row carries the as-of value —
  *    `flatMapGroupsWithState` (exact per-row parity, not just
  *    `groupBy.count` update mode).
  *  - S10: keyed upsert (DynamoDB put_item) — last-write-wins by key via
  *    read∪batch → row_number dedup → overwrite (a Delta/Hudi MERGE at
  *    cluster scale; plain parquet rewrite here).
  */
object Pipeline {

  /** Shuffle width for stateful streaming queries. Stateful operators
    * instantiate one state store per shuffle partition per batch; with
    * ~150 distinct keys, 32 partitions is pure fixed overhead — 8 halves
    * the per-batch cost without touching results (state partitioning
    * never affects content, only layout).
    */
  val StateWidth: (String, String) = "spark.sql.shuffle.partitions" -> "8"

  /** No-data micro-batches off (r17, guide §2.4 — remove work outright).
    * After any data batch that advances the watermark, Structured
    * Streaming runs an extra NO-DATA micro-batch so stateful operators can
    * evict state and emit eviction-driven results. For queries whose
    * OUTPUT never depends on eviction — inner stream-stream joins (matches
    * emit during data batches; eviction only trims provably-unmatchable
    * state) and watermarked dedup whose redeliveries all arrive inside
    * the delay (first occurrence always emits; longer retention can only
    * keep suppressing) — those batches are pure fixed cost: at sf0.1 they
    * were ~35-40% of q69's and q101's micro-batch count for
    * byte-identical output (OPTIMIZATION_r17.md). Queries whose
    * append-mode EMISSION is the eviction (q146 outer join, q214/q229
    * closed-window emits) must keep them (or replace them with an
    * explicit quiescence feed — q146's two-sentinel close).
    */
  val NoDataBatchesOff: (String, String) =
    "spark.sql.streaming.noDataMicroBatches.enabled" -> "false"

  /** A collected event row for MemoryStream feeding (ts as floor-epoch
    * seconds — the reference serializes timestamps as strings and reparses,
    * SURVEY §1.2; second precision is its grain).
    */
  case class StreamEvent(event_id: Long, ts_sec: Long, user_id: Long,
      event_type: String, value: Double, props: String)

  /** Per-row as-of output of the stateful author counter. */
  case class AuthorCount(event_id: Long, user_id: Long, rc: Long)

  /** Collect the first `n` events (by event_id) as MemoryStream feed.
    * Bounded by construction — the driver-side collect is the test
    * harness's stand-in for the Kinesis poll loop, not an engine operator.
    */
  def collectEvents(spark: SparkSession, sfDir: String, n: Int): Seq[StreamEvent] = {
    import spark.implicits._
    graft.Tables.events(spark, sfDir)
      .select(col("event_id"), unix_timestamp(col("ts")).as("ts_sec"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .orderBy("event_id")
      .limit(n)
      .as[StreamEvent]
      .collect()
      .toSeq
  }

  /** Enrichment select over a (streaming or batch) events frame. */
  def enrich(df: DataFrame): DataFrame = {
    val ts = timestamp_seconds(col("ts_sec"))
    val upvoteRatio = expr("try_cast(get_json_object(props, '$.k') as double)") / 100.0
    df.select(col("event_id"), col("user_id"), col("value"),
      Features.popularityScore(col("value"), upvoteRatio,
        col("event_id") % 97).as("pop"),
      Features.timeOfDay(ts).as("time_of_day"))
  }

  /** Bucket count for the keyed upsert store layout. Sized to the
    * testdata key space (~150 users); a production table raises it with
    * key cardinality — per-batch cost stays ∝ touched buckets either way.
    */
  val UpsertBuckets = 8

  /** Keyed last-write-wins upsert of a micro-batch into a parquet store
    * laid out `partitionBy(bkt = user_id mod UpsertBuckets)` — the
    * bucket-wise MERGE shape: only buckets containing one of the batch's
    * keys are read (partition filter on the probe) and only those buckets
    * are rewritten (dynamic partition overwrite); untouched buckets are
    * never opened. Rewrite cost is ∝ the batch's key spread, NOT the
    * total store size. At cluster scale this is a Delta/Hudi MERGE on a
    * table bucketed by key; the mechanism here is identical, minus the
    * transaction log.
    */
  def upsertBatch(spark: SparkSession, batch: DataFrame, dir: String): Unit = {
    val b = batch.withColumn("bkt",
      pmod(col("user_id"), lit(UpsertBuckets)).cast("int"))
    // Restrict the store read to the batch's buckets by handing the
    // reader the matching bucket DIRECTORIES with an explicit schema —
    // the round-6 broadcast-semi-join + dynamic-partition-pruning form
    // avoided a driver round-trip but paid a full store listing, schema
    // inference, and the DPP subquery machinery EVERY batch (the q129
    // profile finding; same store shape). The collect is bounded by
    // UpsertBuckets ints — a layout knob, never data volume. bkt is a
    // pure function of user_id, so it is recomputed instead of read
    // from the directory names.
    val batchBkts = b.select("bkt").distinct().collect().map(_.getInt(0))
    // Trust bucket directories only under the store-level _SUCCESS
    // commit marker: a failed/partial prior write job leaves bucket dirs
    // without the marker, and merging those torn files into the new
    // state would persist the corruption (ADVICE r7 — the round-7
    // bucket-dir probe dropped this check the round-6 listing had).
    val committed = new java.io.File(dir, "_SUCCESS").isFile
    val bktDirs =
      if (!committed) Seq.empty[String]
      else batchBkts
        .map(v => new java.io.File(s"$dir/bkt=$v"))
        .filter(_.isDirectory).map(_.toString).toSeq
    val existing =
      if (bktDirs.nonEmpty)
        spark.read.schema(batch.schema).parquet(bktDirs: _*)
          .withColumn("bkt", pmod(col("user_id"), lit(UpsertBuckets)).cast("int"))
      else b.limit(0)
    // ONE exchange per batch, not two (r17, guide §2.4): the pre-r17 form
    // windowed by user_id (Exchange hashpartitioning(user_id)) and then
    // repartitioned by bkt for the write (a second Exchange of the same
    // rows). bkt is a pure function of user_id, so hash-partitioning by
    // bkt ALREADY co-locates each user's rows: partition by bkt once,
    // window by (bkt, user_id) — HashPartitioning(bkt) satisfies
    // ClusteredDistribution(bkt, user_id), so the window adds only a
    // local sort — and write directly. Same winner per user (event_id is
    // unique per user), same one-file-per-bucket layout (each bkt still
    // lives in exactly one task). Interleaved A/B (sf0.1, local[32]):
    // q61 median 4.05 → 3.95 s (min 3.82 → 3.41), q227 median
    // 2.69 → 2.42 s — optimized arm won all 10 pairs; oracle PASS both.
    val w = Window.partitionBy("bkt", "user_id").orderBy(desc("event_id"))
    val merged = existing.unionByName(b)
      .repartition(UpsertBuckets, col("bkt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
    // dynamic overwrite replaces exactly the partitions present in
    // `merged` = the touched buckets (each holds ≥1 batch row by
    // construction). Hash-repartition on bkt keeps each bucket's rows in
    // ONE task → one file per bucket dir (the next probe's file list
    // stays ∝ buckets, not ∝ batches) while buckets write in parallel —
    // the earlier coalesce(1) kept the one-file invariant but serialized
    // the whole merge (window + write) into a single thread per batch.
    // The mode is a writer option, so it holds whichever session `merged`
    // belongs to. An uncommitted store is written STATIC: only a static
    // overwrite leaves the store-level _SUCCESS marker the probe above
    // requires (a dynamic one commits the bucket dirs alone).
    merged.write.mode("overwrite")
      .option("partitionOverwriteMode", if (committed) "dynamic" else "static")
      .partitionBy("bkt").parquet(dir)
  }

  /** Batch-local Z-score anomalies (ST4): mean/std of THIS micro-batch
    * only, via exact decimal moments (Det), flag |z| > 2.5.
    */
  def batchAnomalies(batch: DataFrame, batchId: Long): DataFrame = {
    val w = Window.partitionBy(lit(1))
    val dec = col("value").cast("decimal(12,2)")
    val sx = sum(dec).over(w).cast("double")
    val sx2 = sum((dec * dec).cast("decimal(30,4)")).over(w).cast("double")
    val cnt = count(lit(1)).over(w).cast("double")
    val mean = sx / cnt
    val std = sqrt((sx2 * cnt - sx * sx) / (cnt * (cnt - lit(1.0))))
    batch
      .select(col("event_id"), col("user_id"), col("value"),
        // zero-variance guard: a constant batch has no outliers (the
        // reference's pandas yields NaN z-scores there, which its >3
        // comparison drops); also keeps ANSI mode from raising /0
        when(std > 0, (col("value") - mean) / std).as("z"))
      .filter(abs(col("z")) > 2.5)
      .withColumn("batch_id", lit(batchId))
  }

  /** Per-user session accumulator for [[sessionize]]. */
  case class SessionState(lastTs: Long, nSessions: Long, nEvents: Long)

  /** Event-time sessionization with custom state: sessions split at gaps
    * > `gapSec`. Emits a (user, sessions-so-far, events-so-far) snapshot
    * per group per batch; the final snapshot per user (highest nEvents) is
    * the answer. State lives for the process lifetime — the
    * mapGroupsWithState pattern the reference's author-activity dict
    * gestures at, applied to the classic sessionization problem.
    */
  def sessionize(events: Dataset[StreamEvent], gapSec: Long): Dataset[(Long, Long, Long)] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[StreamEvent], state: GroupState[SessionState]) => {
          var st = state.getOption.getOrElse(SessionState(Long.MinValue, 0L, 0L))
          rows.toSeq.sortBy(_.event_id).foreach { e =>
            val isNew = st.lastTs == Long.MinValue || e.ts_sec - st.lastTs > gapSec
            st = SessionState(e.ts_sec,
              st.nSessions + (if (isNew) 1L else 0L), st.nEvents + 1L)
          }
          state.update(st)
          Iterator((user, st.nSessions, st.nEvents))
        })
  }

  /** The author counter as a Spark 4 `StatefulProcessor` — the
    * transformWithState successor API to flatMapGroupsWithState: typed
    * named state cells (ValueState here; List/Map state and timers for
    * richer operators), explicit TTL, and a RocksDB-backed store
    * requirement — the API built for state that outgrows executor memory.
    * Semantics identical to [[authorCounts]]; q102's oracle pins that.
    */
  class AuthorCountProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, StreamEvent, AuthorCount] {
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TTLConfig, ValueState}
    @transient private var countState: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      countState = getHandle.getValueState[Long]("count",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(user: Long, rows: Iterator[StreamEvent],
        tv: org.apache.spark.sql.streaming.TimerValues): Iterator[AuthorCount] = {
      var c = if (countState.exists()) countState.get() else 0L
      val out = rows.toSeq.sortBy(_.event_id).map { e =>
        c += 1
        AuthorCount(e.event_id, user, c)
      }
      countState.update(c)
      out.iterator
    }
  }

  /** [[authorCounts]] through transformWithState (requires the RocksDB
    * state store — enforced by the API, set scoped by the caller).
    */
  def authorCountsTws(events: Dataset[StreamEvent]): Dataset[AuthorCount] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new AuthorCountProcessor, TimeMode.None(), OutputMode.Append())
  }

  /** Cross-batch stateful author counter (ST5): per-row as-of counts with
    * process-lifetime state. Rows within a (group, batch) are counted in
    * event_id order so results are independent of shuffle order.
    */
  def authorCounts(events: Dataset[StreamEvent]): Dataset[AuthorCount] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout())(
        (user: Long, rows: Iterator[StreamEvent], state: GroupState[Long]) => {
          var c = state.getOption.getOrElse(0L)
          val out = rows.toSeq.sortBy(_.event_id).map { e =>
            c += 1
            AuthorCount(e.event_id, user, c)
          }
          state.update(c)
          out.iterator
        })
  }

  /** Drive a MemoryStream through `build` in fixed-size slices, blocking
    * per batch so micro-batch boundaries are exactly the slices.
    */
  def runSliced[T](spark: SparkSession, events: Seq[StreamEvent], sliceSize: Int,
      sinkName: String)(build: Dataset[StreamEvent] => DataFrame)(
      foreach: Option[(DataFrame, Long) => Unit] = None): DataFrame = {
    import spark.implicits._
    val stream = MemoryStream[StreamEvent](spark)
    val transformed = build(stream.toDS())
    val ckpt = TempDirs.create(s"ckpt_$sinkName")
    val query: StreamingQuery = foreach match {
      case Some(fn) =>
        transformed.writeStream.outputMode("update")
          .option("checkpointLocation", ckpt)
          .foreachBatch((b: DataFrame, id: Long) => fn(b, id))
          .queryName(sinkName).start()
      case None =>
        transformed.writeStream.outputMode("append")
          .option("checkpointLocation", ckpt)
          .format("memory").queryName(sinkName).start()
    }
    events.grouped(sliceSize).foreach { slice =>
      stream.addData(slice)
      query.processAllAvailable()
    }
    query.stop()
    query.awaitTermination()
    TempDirs.delete(ckpt)
    if (foreach.isEmpty) spark.table(sinkName) else spark.emptyDataFrame
  }

  /** File-source streaming read of the events table (S8/ST2: the Kinesis
    * consumer as `readStream`; `latest`/`TRIM_HORIZON` ↔ file-source
    * catch-up semantics). A user schema must agree with the reader's
    * native representation: Spark 4.1 reads parquet TIMESTAMP(NANOS) as
    * TIMESTAMP_NTZ, and declaring LONG over that read would silently
    * reinterpret the internal MICROS value as the long, shrinking every
    * timestamp 1000× (caught by the q60 oracle as a collapsed window
    * range).
    */
  def eventsStream(spark: SparkSession, sfDir: String): DataFrame = {
    val sch = StructType.fromDDL("event_id BIGINT, ts TIMESTAMP_NTZ, user_id BIGINT, " +
      "event_type STRING, value DOUBLE, props STRING")
    // The events table may be a single file (driver testdata) or a
    // Spark-written DIRECTORY of part files (ScaleGen dirs, production
    // layouts). pathGlobFilter matches LEAF file names, so globbing
    // "events.parquet" over a directory layout silently streams 0 rows —
    // point the stream at the directory itself in that case.
    val evPath = new org.apache.hadoop.fs.Path(sfDir, "events.parquet")
    val isDir = evPath.getFileSystem(spark.sessionState.newHadoopConf())
      .getFileStatus(evPath).isDirectory
    val base = spark.readStream.schema(sch)
    val raw =
      if (isDir) base.parquet(evPath.toString)
      else base.option("pathGlobFilter", "events.parquet").parquet(sfDir)
    raw.withColumn("ts", col("ts").cast("timestamp"))
  }
}
