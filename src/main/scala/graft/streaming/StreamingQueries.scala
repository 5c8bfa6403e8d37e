package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Sessions

import graft.{QueryDef, Tables}
import graft.util.{Det, TempDirs}
import Pipeline.{NoDataBatchesOff, StateWidth}

/** Streaming operator family. Each query RUNS a genuine Structured
  * Streaming job (file source or MemoryStream micro-batches) and returns
  * the final materialized result, which — because the inputs are bounded
  * and batch slicing is pinned — is deterministic and hash-comparable
  * against a batch SQL oracle. This is the strongest correctness statement
  * available for streaming: stream result ≡ batch result over the same
  * (bounded) input. Each body runs on its own session clone
  * ([[Sessions.isolated]]), so its sink names, state width and trigger
  * conf stay private to that execution.
  */
object StreamingQueries {

  /** Event-time 5-minute tumbling window aggregation with watermark (ST6
    * upgraded: the reference is processing-time-only; we add event-time
    * windows + watermark as engine hygiene) over the file-source stream.
    * Complete output mode materializes every window for the bounded input.
    */
  private def q60(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val sinkName = "graft_q60_sink"
    val agg = Pipeline.eventsStream(s, d)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
    val ckpt = TempDirs.create("ckpt_q60")
    val q = agg.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(sinkName).start()
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.table(sinkName)
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("event_type"), col("n"), col("sum_v"))
      .orderBy("win_start", "event_type")
  }

  private val q60Sql =
    """SELECT strftime(time_bucket(INTERVAL '5 minutes', ts), '%Y-%m-%d %H:%M:%S') AS win_start,
      |  event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM events GROUP BY 1, 2 ORDER BY win_start, event_type""".stripMargin

  /** Keyed streaming upsert (S10/ST3): enrich each micro-batch (100-row
    * slices — the reference's get_records Limit=100) and upsert into a
    * keyed store, last write per user_id wins. Stream-equals-batch oracle:
    * the final store is exactly "latest event per user, enriched".
    */
  private def q61(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val dir = TempDirs.create("graft_upsert_")
    Pipeline.runSliced(s, eventsSeq, 100, "graft_q61_sink")(
      ds => Pipeline.enrich(ds.toDF()))(
      Some((batch, _) => Pipeline.upsertBatch(s, batch, dir)))
    s.read.parquet(dir)
      .select("user_id", "event_id", "value", "pop", "time_of_day")
      .orderBy("user_id")
  }

  private val q61Sql =
    """WITH head AS (SELECT * FROM events ORDER BY event_id LIMIT 1000),
      |ranked AS (
      |  SELECT user_id, event_id, value,
      |    value * coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0, 0.0)
      |      + 0.5 * CAST(event_id % 97 AS DOUBLE) AS pop,
      |    CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END AS time_of_day,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM head)
      |SELECT user_id, event_id, value, pop, time_of_day
      |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** RATE-LIMITED trigger ingestion (ST1's Limit=100-per-poll contract
    * exercised through the ENGINE's own rate limiter, not fixture
    * slicing — VERDICT r8 task 9): the q61 head is laid out as FOUR
    * parquet files with pinned mtimes, the file source reads them with
    * `maxFilesPerTrigger = 1` (so Spark's admission control, not the
    * test harness, forms the micro-batches), and each batch upserts into
    * the keyed store. The emitted `n_batches` column carries the
    * OBSERVED trigger count and the oracle pins it to the file count —
    * if rate limiting collapsed the files into one batch, the hash
    * breaks. Final store ≡ "latest event per user, enriched" (q61's
    * stream-equals-batch law; upsert is last-event-id-wins, so the
    * verdict is independent of batch arrival order).
    *
    * Scale: maxFilesPerTrigger is THE knob for bounded-catch-up restarts
    * over a 100 TB backlog — per-batch work stays ∝ files admitted, and
    * the upsert store probe stays ∝ touched buckets (upsertBatch).
    */
  private def q227(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    import s.implicits._
    val base = TempDirs.create("graft_mft_")
    val srcDir = new java.io.File(base, "src"); srcDir.mkdirs()
    val store = base + "/store"
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val slices = eventsSeq.grouped(250).toSeq
    slices.zipWithIndex.foreach { case (sl, i) =>
      val tmp = base + s"/tmp$i"
      s.createDataset(sl).toDF().coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new java.io.File(srcDir, f"slice-$i%02d.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      // pin the (mtime, path) admission order the file source sorts by
      dst.setLastModified(1700000000000L + i * 60000L)
    }
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("event_id", LongType), StructField("ts_sec", LongType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
    // Count TRIGGERS as distinct batchIds, not raw foreachBatch invocations:
    // a retried / checkpoint-recovered micro-batch re-runs foreachBatch with
    // the SAME batchId, and a raw increment would double-count it and break
    // the pinned n_batches oracle even though the upsert is idempotent
    // (ADVICE r9).
    val seenBatchIds = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val ckpt = TempDirs.create("ckpt_q227")
    val stream = s.readStream.schema(sch)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
    val q = Pipeline.enrich(stream).writeStream
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        seenBatchIds.add(batchId)
        Pipeline.upsertBatch(s, batch.toDF(), store)
      }.start()
    q.processAllAvailable(); q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.read.parquet(store)
      .select("user_id", "event_id", "value", "pop", "time_of_day")
      .crossJoin(broadcast(
        s.range(1).select(lit(seenBatchIds.size().toLong).as("n_batches"))))
      .orderBy("user_id")
  }

  private val q227Sql =
    """WITH head AS (SELECT * FROM events ORDER BY event_id LIMIT 1000),
      |ranked AS (
      |  SELECT user_id, event_id, value,
      |    value * coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0, 0.0)
      |      + 0.5 * CAST(event_id % 97 AS DOUBLE) AS pop,
      |    CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END AS time_of_day,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM head)
      |SELECT user_id, event_id, value, pop, time_of_day,
      |  CAST(4 AS BIGINT) AS n_batches
      |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** STREAMING WRITE through the graft-store DSv2 table (VERDICT r9 task
    * 7 — the exactly-once story and the table format are ONE mechanism):
    * a q61-shape enriched event stream sinks via
    * `writeStream.format(graft-store)`, which commits each micro-batch
    * through the same task-temp → rename protocol as batch writes, with
    * epoch-tagged part names so a replayed epoch REPLACES its files
    * (idempotent commit; StreamingSpec kills and restarts a query
    * against the same checkpoint and store to prove no duplication).
    * The result pins BOTH semantics: `n_rows` is the exactly-once
    * cardinality of the appended table (any duplicate or lost epoch
    * breaks the hash), and the per-user last event is the q61 upsert
    * answer derived relationally from the append log — the
    * Kappa-architecture reading of an upsert store.
    */
  private def q251(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    import s.implicits._
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val store = TempDirs.create("graft_ssink_") + "/store"
    val ckpt = TempDirs.create("ckpt_q251")
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Pipeline.StreamEvent](s)
    val q = Pipeline.enrich(stream.toDS().toDF()).writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("graft.sources.GraftStoreProvider")
      .option("path", store)
      .start()
    eventsSeq.grouped(250).foreach { sl =>
      stream.addData(sl); q.processAllAvailable()
    }
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    val t = s.read.format("graft.sources.GraftStoreProvider")
      .option("path", store).load()
    val nRows = t.agg(count(lit(1)).as("n_rows"))
    val w = Window.partitionBy("user_id").orderBy(desc("event_id"))
    t.withColumn("rn", row_number().over(w)).filter(col("rn") === 1).drop("rn")
      .crossJoin(broadcast(nRows))
      .select(col("user_id"), col("event_id"), col("value"), col("pop"),
        col("time_of_day"), col("n_rows"))
      .orderBy("user_id")
  }

  private val q251Sql =
    """WITH head AS (SELECT * FROM events ORDER BY event_id LIMIT 1000),
      |ranked AS (
      |  SELECT user_id, event_id, value,
      |    value * coalesce(TRY_CAST(json_extract_string(props, '$.k') AS DOUBLE) / 100.0, 0.0)
      |      + 0.5 * CAST(event_id % 97 AS DOUBLE) AS pop,
      |    CASE WHEN hour(ts) BETWEEN 6 AND 17 THEN 'day' ELSE 'night' END AS time_of_day,
      |    row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      |  FROM head)
      |SELECT user_id, event_id, value, pop, time_of_day,
      |  CAST(1000 AS BIGINT) AS n_rows
      |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin

  /** Cross-batch stateful author counts (ST5/A7): flatMapGroupsWithState
    * accumulating per-user totals across 4 MemoryStream micro-batches,
    * emitting the as-of count on every row. Stream ≡ batch running count.
    */
  private def q62(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    import s.implicits._
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    Pipeline.runSliced(s, eventsSeq, 250, "graft_q62_sink")(
      ds => Pipeline.authorCounts(ds).toDF())(None)
      .orderBy("event_id")
  }

  private val q62Sql =
    """WITH head AS (SELECT * FROM events ORDER BY event_id LIMIT 1000)
      |SELECT event_id, user_id,
      |  count(*) OVER (PARTITION BY user_id ORDER BY event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rc
      |FROM head ORDER BY event_id""".stripMargin

  /** Incremental aggregate-table maintenance (materialized-view upkeep):
    * each micro-batch computes its PARTIAL aggregates (map-side shape),
    * which merge into the stored totals by key — new = old + delta — and
    * the table is atomically swapped. Unlike q61 (row-level upsert) this
    * maintains a derived AGGREGATE under append-only input: the final
    * table must equal the from-scratch batch aggregate, which is the
    * oracle. At 100 TB/day this is the only affordable way to keep a
    * dashboard aggregate current — O(batch) work per refresh instead of
    * O(history).
    */
  private def q108(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val dir = TempDirs.create("graft_incr_agg_")
    def mergeBatch(batch: DataFrame, @annotation.unused id: Long): Unit = {
      val delta = batch.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast("decimal(18,4)")).as("sum_v_dec"))
      val existing =
        if (Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
          s.read.parquet(dir)
        else delta.limit(0)
      val merged = existing.unionByName(delta)
        .groupBy("event_type")
        .agg(sum(col("n")).as("n"), sum(col("sum_v_dec")).as("sum_v_dec"))
      val tmp = dir + ".tmp"
      merged.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(dir))
    }
    // 3 refresh cycles prove the cross-batch merge; each cycle pays a
    // fixed read-merge-write cost, so slice count is the cost knob
    Pipeline.runSliced(s, eventsSeq, 334, "graft_q108_sink")(_.toDF())(
      Some(mergeBatch))
    s.read.parquet(dir)
      .select(col("event_type"), col("n"),
        col("sum_v_dec").cast("double").as("sum_v"))
      .orderBy("event_type")
  }

  private val q108Sql =
    """SELECT event_type, count(*) AS n,
      |  CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM (SELECT * FROM events ORDER BY event_id LIMIT 1000)
      |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Streaming SCD2 history maintenance — the CDC-to-warehouse pattern
    * q88 computes in one batch pass, maintained INCREMENTALLY under
    * append-only micro-batches: each batch's per-user state changes
    * (seeded by the store's current open version, so chains continue
    * across batches) close the previously-open version and append new
    * ones, and the history table is atomically swapped (q108's
    * read-merge-write refresh). Contract is ARRIVAL-order CDC (ordered
    * by event_id — what a change stream actually delivers); the oracle
    * is the from-scratch arrival-ordered SCD2 over the same head-1000,
    * so stream ≡ batch is the correctness statement. At 100 TB/day this
    * is how dimension history stays current: O(batch + open rows) work
    * per refresh, never O(history).
    */
  private def q201(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val dir = TempDirs.create("graft_scd2_stream_")
    val histSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "user_id BIGINT, version BIGINT, state STRING, " +
        "valid_from_sec BIGINT, valid_to_sec BIGINT, is_current BIGINT")
    def mergeBatch(batch: DataFrame, @annotation.unused id: Long): Unit = {
      val ev = batch.select(col("user_id"), col("event_id"),
        col("ts_sec"), col("event_type"))
      val existing =
        if (Files.exists(java.nio.file.Paths.get(dir, "_SUCCESS")))
          s.read.parquet(dir)
        else s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          histSchema)
      val open = existing.filter(col("is_current") === 1L)
        .select(col("user_id"), col("version").as("seed_version"),
          col("state").as("seed_state"))
      val w = Window.partitionBy("user_id").orderBy("event_id")
      // change points within the batch, seeded by the open version's
      // state (a batch whose first event repeats the stored state opens
      // no new version)
      val changes = ev.join(open, Seq("user_id"), "left")
        .withColumn("prev_type",
          coalesce(lag("event_type", 1).over(w), col("seed_state")))
        .filter(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("version",
          (row_number().over(w) + coalesce(col("seed_version"), lit(0L))).cast("long"))
        .withColumn("valid_to_sec", lead("ts_sec", 1).over(w))
      val newRows = changes.select(col("user_id"), col("version"),
        col("event_type").as("state"), col("ts_sec").as("valid_from_sec"),
        col("valid_to_sec"),
        when(col("valid_to_sec").isNull, 1L).otherwise(0L).as("is_current"))
      // close the previously-open version of any user the batch changed
      val firstChange = changes.groupBy("user_id")
        .agg(min("ts_sec").as("close_at"))
      val openRows = existing.filter(col("is_current") === 1L)
      val openUpdated = openRows.join(firstChange, Seq("user_id"), "left")
        .select(col("user_id"), col("version"), col("state"),
          col("valid_from_sec"),
          coalesce(col("close_at"), col("valid_to_sec")).as("valid_to_sec"),
          when(col("close_at").isNull, col("is_current")).otherwise(0L)
            .as("is_current"))
      val merged = existing.filter(col("is_current") === 0L)
        .unionByName(openUpdated).unionByName(newRows)
      val tmp = dir + ".tmp"
      merged.coalesce(1).write.mode("overwrite").parquet(tmp)
      val fs = org.apache.hadoop.fs.FileSystem.get(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(dir))
    }
    Pipeline.runSliced(s, eventsSeq, 250, "graft_q201_sink")(_.toDF())(
      Some(mergeBatch))
    s.read.parquet(dir)
      .select("user_id", "version", "state", "valid_from_sec",
        "valid_to_sec", "is_current")
      .orderBy("user_id", "version")
  }

  private val q201Sql =
    """WITH head AS (
      |  SELECT user_id, event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |         event_type
      |  FROM events ORDER BY event_id LIMIT 1000),
      |marked AS (
      |  SELECT *, lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id)
      |    AS prev FROM head),
      |changes AS (SELECT * FROM marked WHERE prev IS NULL OR prev <> event_type)
      |SELECT user_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS BIGINT)
      |    AS version,
      |  event_type AS state, ts_sec AS valid_from_sec,
      |  lead(ts_sec) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to_sec,
      |  CAST(CASE WHEN lead(ts_sec) OVER (PARTITION BY user_id ORDER BY event_id)
      |       IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM changes ORDER BY user_id, version""".stripMargin

  /** q62's counter through the Spark 4 `transformWithState` API (typed
    * named state + RocksDB store): same semantics, same oracle — proving
    * the engine's custom-state operators port to the successor API
    * unchanged. The RocksDB provider is required by transformWithState
    * and set on this query's session clone.
    */
  private def q102(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth,
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") { s =>
    import s.implicits._
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    Pipeline.runSliced(s, eventsSeq, 250, "graft_q102_sink")(
      ds => Pipeline.authorCountsTws(ds).toDF())(None)
      .orderBy("event_id")
  }

  /** Batch-local anomaly detection (ST4/M2): Z-scores computed per
    * micro-batch (250-row slices) inside foreachBatch — NOT a global
    * streaming aggregate; the stats reset every batch exactly like the
    * reference's pandas-per-poll (S/kinesis_processing_2.py:104-119).
    */
  private def q63(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val dir = TempDirs.create("graft_anomaly_")
    Pipeline.runSliced(s, eventsSeq, 250, "graft_q63_sink")(_.toDF())(
      Some((batch, id) =>
        Pipeline.batchAnomalies(batch, id).write.mode("append").parquet(dir)))
    s.read.parquet(dir)
      .select("batch_id", "event_id", "user_id", "value", "z")
      .orderBy("event_id")
  }

  private val q63Sql =
    """WITH head AS (
      |  SELECT *, CAST((row_number() OVER (ORDER BY event_id) - 1) // 250 AS BIGINT) AS batch_id
      |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 1000)),
      |s AS (
      |  SELECT batch_id, event_id, user_id, value,
      |    CAST(sum(CAST(value AS DECIMAL(12,2))) OVER (PARTITION BY batch_id) AS DOUBLE) AS sx,
      |    CAST(sum(CAST(CAST(value AS DECIMAL(12,2)) * CAST(value AS DECIMAL(12,2)) AS DECIMAL(30,4))) OVER (PARTITION BY batch_id) AS DOUBLE) AS sx2,
      |    CAST(count(*) OVER (PARTITION BY batch_id) AS DOUBLE) AS n
      |  FROM head)
      |SELECT batch_id, event_id, user_id, value,
      |  CASE WHEN sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) > 0
      |    THEN (value - sx / n) / sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) END AS z
      |FROM s
      |WHERE abs(CASE WHEN sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) > 0
      |  THEN (value - sx / n) / sqrt((sx2 * n - sx * sx) / (n * (n - 1.0))) END) > 2.5
      |ORDER BY event_id""".stripMargin

  /** Streaming deduplication: `dropDuplicates` keyed state over
    * overlapping micro-batches (each 150-row slice re-sends the previous
    * slice's last 50 rows — the at-least-once redelivery a real queue
    * produces). Every event_id must be emitted exactly once, so the final
    * sink equals plain DISTINCT over the bounded input.
    */
  private def q64(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val eventsSeq = Pipeline.collectEvents(s, d, 300)
    // overlapping slices: [0,150), [100,250), [200,300) — 50% resend
    val slices = (0 until 300 by 100).map(i => eventsSeq.slice(i, i + 150))
      .filter(_.nonEmpty)
    import s.implicits._
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Pipeline.StreamEvent](s)
    val ckpt = TempDirs.create("ckpt_q64")
    val q = stream.toDS().dropDuplicates("event_id")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_q64_sink").start()
    slices.foreach { sl => stream.addData(sl); q.processAllAvailable() }
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.table("graft_q64_sink").orderBy("event_id")
  }

  private val q64Sql =
    """SELECT event_id, user_id, value
      |FROM (SELECT * FROM events ORDER BY event_id LIMIT 300)
      |ORDER BY event_id""".stripMargin

  /** Streaming dedup with BOUNDED state: `dropDuplicatesWithinWatermark`
    * evicts a key's dedup state once the watermark passes it — the only
    * dedup that survives an unbounded 100 TB/day stream (q64's plain
    * `dropDuplicates` keeps every key forever). Redeliveries here arrive
    * within one slice of the original (well inside the 1-hour delay), so
    * the bounded-state result still equals plain DISTINCT and the same
    * oracle applies; at-least-once delivery outside the watermark is the
    * documented (and inherent) trade.
    */
  private def q101(s: SparkSession, d: String): DataFrame =
      Sessions.isolated(s, StateWidth, NoDataBatchesOff) { s =>
    val eventsSeq = Pipeline.collectEvents(s, d, 300)
    val slices = (0 until 300 by 100).map(i => eventsSeq.slice(i, i + 150))
      .filter(_.nonEmpty)
    import s.implicits._
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Pipeline.StreamEvent](s)
    val ckpt = TempDirs.create("ckpt_q101")
    // No-data micro-batches OFF (r17, guide §2.4): dedup emits each key's
    // FIRST occurrence during its data batch; the no-data batches only
    // evict expired keys (3 of the 6 batches, ~0.7 s of a 2.35 s warm run
    // — OPTIMIZATION_r17.md). Suppressing eviction can only retain state LONGER,
    // and since every redelivery here already arrives inside the delay
    // (the current output equals plain DISTINCT — the oracle pins it),
    // longer retention changes nothing: first occurrences still emit,
    // duplicates still suppress. The documented at-least-once trade
    // outside the watermark is unchanged at scale — eviction still runs,
    // during data batches. Interleaved A/B (sf0.1): median 1.75 → 1.11 s,
    // 5/5 pairs; oracle PASS.
    val q = stream.toDS()
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")
      .select(col("event_id"), col("user_id"), col("value"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_q101_sink").start()
    slices.foreach { sl => stream.addData(sl); q.processAllAvailable() }
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.table("graft_q101_sink").orderBy("event_id")
  }

  private val q101Sql =
    """SELECT event_id, user_id, value
      |FROM (SELECT * FROM events ORDER BY event_id LIMIT 300)
      |ORDER BY event_id""".stripMargin

  /** Streaming sessionization (custom state machine per key): sessions
    * split at >30-minute gaps, counted across 4 micro-batches. The final
    * per-user snapshot (highest event count) must equal the batch gap-flag
    * formulation — lag() + cumulative sum — over the same bounded input.
    */
  private def q68(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val snapshots = Pipeline.runSliced(s, eventsSeq, 250, "graft_q68_sink")(
      ds => Pipeline.sessionize(ds, 1800L).toDF("user_id", "n_sessions", "n_events"))(None)
    // final snapshot per user: n_events strictly increases, so max(struct)
    // picks the last state deterministically
    snapshots
      .groupBy("user_id")
      .agg(max(struct(col("n_events"), col("n_sessions"))).as("fin"))
      .select(col("user_id"), col("fin.n_sessions").as("n_sessions"),
        col("fin.n_events").as("n_events"))
      .orderBy("user_id")
  }

  private val q68Sql =
    """WITH head AS (
      |  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events ORDER BY event_id LIMIT 1000),
      |flagged AS (
      |  SELECT user_id,
      |    CASE WHEN lag(ts_sec) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
      |           OR ts_sec - lag(ts_sec) OVER (PARTITION BY user_id ORDER BY event_id) > 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM head)
      |SELECT user_id, CAST(sum(new_session) AS BIGINT) AS n_sessions,
      |  count(*) AS n_events
      |FROM flagged GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Watermarked stream-stream self-join: purchases joined to the same
    * user's clicks within the preceding 10 minutes, both sides streaming
    * (2 micro-batches — enough to prove matches span batch boundaries
    * through join state; per-batch state-store cost is the bench budget).
    * Second-precision event times make the interval condition exactly the
    * oracle's integer-seconds band. Watermarks bound the join state — the
    * piece that makes this viable on an unbounded 100 TB/day stream.
    */
  private def q69(s: SparkSession, d: String): DataFrame =
      Sessions.isolated(s, StateWidth, NoDataBatchesOff) { s =>
    import s.implicits._
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Pipeline.StreamEvent](s)
    val base = stream.toDS()
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_seconds(col("ts_sec")).as("ts"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"))
    val ckpt = TempDirs.create("ckpt_q69")
    // No-data micro-batches OFF (r17, guide §2.4): an INNER stream-stream
    // join emits every match during the data batch that completes it;
    // the watermark-advance no-data batches only evict
    // provably-unmatchable state, producing no rows — with 2 data batches
    // they were half the micro-batch count for byte-identical output
    // (OPTIMIZATION_r17.md: 2 × ~0.75 s of a 4.1 s warm run). Eviction still
    // happens during later data batches; q146 (LEFT OUTER — emission IS
    // the eviction) replaces them with an explicit two-sentinel close.
    // Interleaved A/B (sf0.1): median 3.58 → 2.24 s, 5/5 pairs; oracle
    // PASS.
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_q69_sink").start()
    eventsSeq.grouped(500).foreach { sl => stream.addData(sl); q.processAllAvailable() }
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.table("graft_q69_sink")
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
      .orderBy("purchase_id", "click_id")
  }

  private val q69Sql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events ORDER BY event_id LIMIT 1000)
      |SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      |FROM ev p JOIN ev c
      |  ON p.user_id = c.user_id
      | AND p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.ts_sec >= p.ts_sec - 600 AND c.ts_sec < p.ts_sec
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Watermarked stream-stream LEFT OUTER interval join (completes q69's
    * inner join): purchases with no qualifying click in the preceding 10
    * minutes surface as null-click rows. The null rows are the
    * interesting semantics — Structured Streaming can only emit an
    * unmatched left row once the RIGHT watermark proves no match can
    * still arrive, i.e. outer results are produced BY state eviction.
    *
    * Harness: a far-future sentinel pair (user −999, filtered from the
    * result) advances both watermarks past every real event so all
    * pending outer rows flush — the MemoryStream equivalent of a
    * quiescent-stream close. Stream ≡ batch: the sink must equal the
    * batch LEFT JOIN oracle exactly.
    *
    * Scale: identical state shape to q69 — per-key interval state bounded
    * by watermark delay + interval width; the outer side adds no state,
    * only an eviction-time emit.
    */
  private def q146(s: SparkSession, d: String): DataFrame =
      Sessions.isolated(s, StateWidth, NoDataBatchesOff) { s =>
    import s.implicits._
    val eventsSeq = Pipeline.collectEvents(s, d, 1000)
    val maxTs = eventsSeq.map(_.ts_sec).max
    val sentinels = Seq(
      Pipeline.StreamEvent(9999991L, maxTs + 86400L, -999L, "purchase", 0.0, "{}"),
      Pipeline.StreamEvent(9999992L, maxTs + 86400L, -999L, "click", 0.0, "{}"))
    // Second sentinel pair, one further day out (r17): with no-data
    // micro-batches disabled, state eviction — and therefore the outer-row
    // emission — happens only DURING data batches, using the watermark the
    // PREVIOUS batch established. Sentinel 1 advances the watermark past
    // every real event; sentinel 2's batch is the batch that runs under
    // that watermark and flushes every remaining real outer row. The
    // sentinels' own rows match nothing (click ts == purchase ts fails
    // `c_ts < p_ts`; cross-pair gaps exceed the band) and are filtered
    // from the result like sentinel 1 always was.
    val sentinels2 = Seq(
      Pipeline.StreamEvent(9999993L, maxTs + 2 * 86400L, -999L, "purchase", 0.0, "{}"),
      Pipeline.StreamEvent(9999994L, maxTs + 2 * 86400L, -999L, "click", 0.0, "{}"))
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Pipeline.StreamEvent](s)
    val base = stream.toDS()
      .select(col("event_id"), col("user_id"), col("event_type"),
        timestamp_seconds(col("ts_sec")).as("ts"))
    val purchases = base.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "1 hour")
    val clicks = base.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 10 MINUTES") &&
        col("c_ts") < col("p_ts"),
      "left_outer")
    val ckpt = TempDirs.create("ckpt_q146")
    // Two-sentinel quiescence instead of no-data micro-batches (r17,
    // guide §2.4): the outer join ran 6 micro-batches — 3 data + 3
    // watermark-advance no-data batches whose only job was evicting state
    // so unmatched purchases could emit. With no-data batches disabled,
    // the SECOND sentinel batch performs the final eviction under the
    // watermark the first sentinel established: 4 data batches total,
    // byte-identical output (every real purchase's inner/outer rows flush
    // by sentinel batch 2 — the watermark after sentinel 1 exceeds every
    // real p_ts + band). Interleaved A/B (sf0.1): median 4.49 → 3.34 s,
    // 5/5 pairs; oracle PASS.
    val q = joined.writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_q146_sink").start()
    eventsSeq.grouped(500).foreach { sl => stream.addData(sl); q.processAllAvailable() }
    stream.addData(sentinels); q.processAllAvailable()
    stream.addData(sentinels2); q.processAllAvailable()
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.table("graft_q146_sink")
      .filter(col("p_user") =!= -999L)
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"))
      .orderBy("purchase_id", "click_id")
  }

  private val q146Sql =
    """WITH ev AS (
      |  SELECT event_id, user_id, event_type,
      |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM events ORDER BY event_id LIMIT 1000),
      |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
      |c AS (SELECT * FROM ev WHERE event_type = 'click')
      |SELECT p.user_id, p.event_id AS purchase_id, c.event_id AS click_id
      |FROM p LEFT JOIN c
      |  ON p.user_id = c.user_id
      | AND c.ts_sec >= p.ts_sec - 600 AND c.ts_sec < p.ts_sec
      |ORDER BY purchase_id, click_id""".stripMargin

  /** Stream-static join (the dimension-enrichment pattern Structured
    * Streaming ships natively): the event file-stream joins a STATIC
    * nation-derived dimension per micro-batch; the static side is
    * broadcast, so the streaming side never shuffles for the join — at
    * production scale this is exactly how a firehose is enriched against
    * reference data without re-reading it per batch. Stream ≡ batch: the
    * final aggregate equals the same join+aggregate run in batch SQL.
    */
  private def q123(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    val sinkName = "graft_q123_sink"
    val dim = Tables.nation(s, d)
      .select(pmod(col("n_nationkey"), lit(5L)).as("mod5"), col("n_name"))
      .groupBy("mod5").agg(min("n_name").as("dim_name"))
    val joined = Pipeline.eventsStream(s, d)
      .withColumn("mod5", pmod(col("user_id"), lit(5L)))
      .join(broadcast(dim), "mod5")
      .groupBy("dim_name")
      .agg(count(lit(1)).as("n"), Det.dsum(col("value")).as("sum_v"))
    val ckpt = TempDirs.create("ckpt_q123")
    val q = joined.writeStream.outputMode("complete")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName(sinkName).start()
    q.processAllAvailable()
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.table(sinkName).orderBy("dim_name")
  }

  private val q123Sql =
    """WITH dim AS (
      |  SELECT n_nationkey % 5 AS mod5, min(n_name) AS dim_name
      |  FROM nation GROUP BY 1)
      |SELECT d.dim_name, count(*) AS n,
      |  CAST(sum(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE) AS sum_v
      |FROM events e JOIN dim d ON e.user_id % 5 = d.mod5
      |GROUP BY 1 ORDER BY d.dim_name""".stripMargin

  // ---------------------------------------------------------------- q214

  /** Streaming windowed TOP-K ("trending entities"): per 5-minute
    * event-time window, the 3 most active users — the canonical
    * leaderboard/trending-topics job. Structured Streaming cannot rank
    * inside an append-mode aggregation (no windowed row_number over an
    * unclosed group), so the scalable decomposition is:
    *
    *  1. in-stream: watermarked (window × user) counts in APPEND mode —
    *     each (window, user) row emits EXACTLY ONCE, when the watermark
    *     closes its window (state bounded by open windows only);
    *  2. a far-future sentinel event advances the watermark so every real
    *     window provably closes before the query stops (the bounded-feed
    *     analogue of stream retirement; the sentinel's own window stays
    *     open and never emits);
    *  3. post-sink: a batch top-k window rank over the CLOSED-window
    *     table — O(closed windows × users-per-window), incremental in
    *     production because append mode never rewrites a closed window.
    *
    * Stream-equals-batch oracle: the sink must equal the batch
    * (window × user) counts over the same 400 events, so the top-3 ranks
    * match the all-batch formulation exactly.
    */
  private def q214(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    import s.implicits._
    val eventsSeq = Pipeline.collectEvents(s, d, 400)
    val sentinel = Pipeline.StreamEvent(-1L,
      eventsSeq.map(_.ts_sec).max + 86400L, -1L, "sentinel", 0.0, "{}")
    val slices = (0 until 400 by 100).map(i => eventsSeq.slice(i, i + 100))
      .filter(_.nonEmpty) :+ Seq(sentinel)
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Pipeline.StreamEvent](s)
    val ckpt = TempDirs.create("ckpt_q214")
    val q = stream.toDS()
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_q214_sink").start()
    slices.foreach { sl => stream.addData(sl); q.processAllAvailable() }
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("win_start").orderBy(desc("n"), asc("user_id"))
    s.table("graft_q214_sink")
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("win_start"),
        col("user_id"), col("n"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .orderBy("win_start", "rank")
  }

  private val q214Sql =
    """WITH e AS (SELECT * FROM events ORDER BY event_id LIMIT 400),
      |c AS (
      |  SELECT strftime(time_bucket(INTERVAL '5 minutes', ts),
      |           '%Y-%m-%d %H:%M:%S') AS win_start,
      |    user_id, CAST(count(*) AS BIGINT) AS n
      |  FROM e GROUP BY 1, 2),
      |rk AS (SELECT *, CAST(row_number() OVER
      |         (PARTITION BY win_start ORDER BY n DESC, user_id) AS BIGINT) AS rank
      |       FROM c)
      |SELECT win_start, user_id, n, rank FROM rk
      |WHERE rank <= 3 ORDER BY win_start, rank""".stripMargin

  // ---------------------------------------------------------------- q222

  /** WATERMARK-LATENESS AUDIT — the planning query every watermark knob
    * should be set from, not guessed: replay the event stream in ARRIVAL
    * order, track the running max event time (exactly the value Spark's
    * watermark trails), measure each event's lateness against it, and
    * report how many events each candidate delay (0/1/5/10/30 minutes)
    * would have dropped. The testdata's event time is monotone in
    * event_id, so arrival order is synthesized with deterministic
    * BOUNDED jitter (each event displaced up to ±8 positions by a hash —
    * the mostly-ordered-with-small-reordering shape real ingest has);
    * the out-of-order-ness is the fixture, the audit arithmetic is the
    * operator.
    *
    * Batch relational form: ONE running-max window over arrival order
    * (production shards this by source partition — a Kinesis shard's
    * arrival order is per-shard anyway), then a 5-row grouped rollup.
    * Lateness is integer seconds throughout.
    */
  private def q222(s: SparkSession, d: String): DataFrame = {
    val w = Window.orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val lates = Tables.events(s, d)
      .select(col("event_id"), unix_timestamp(col("ts")).as("ts_sec"))
      .withColumn("arr",
        col("event_id") + pmod(col("event_id") * 2654435761L, lit(17L)) - 8L)
      .withColumn("run_max", max(col("ts_sec")).over(w))
      .withColumn("late_s", col("run_max") - col("ts_sec"))
    val bands = Seq(0L, 60L, 300L, 600L, 1800L)
    lates.select(explode(array(bands.map(lit): _*)).as("delay_s"), col("late_s"))
      .groupBy("delay_s")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_s") > col("delay_s"), 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("drop_bp", expr("n_dropped * 10000 div n_events"))
      .orderBy("delay_s")
  }

  private val q222Sql =
    """WITH ev AS (
      |  SELECT event_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec,
      |    event_id + (event_id * 2654435761) % 17 - 8 AS arr
      |  FROM events),
      |lt AS (
      |  SELECT ts_sec,
      |    max(ts_sec) OVER (ORDER BY arr, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ts_sec AS late_s
      |  FROM ev),
      |bands AS (SELECT unnest([0, 60, 300, 600, 1800]) AS delay_s)
      |SELECT CAST(b.delay_s AS BIGINT) AS delay_s,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CASE WHEN l.late_s > b.delay_s THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_dropped,
      |  CAST(sum(CASE WHEN l.late_s > b.delay_s THEN 1 ELSE 0 END) AS BIGINT)
      |    * 10000 // count(*) AS drop_bp
      |FROM lt l CROSS JOIN bands b
      |GROUP BY b.delay_s ORDER BY delay_s""".stripMargin

  // ---------------------------------------------------------------- q229

  /** STREAMING NATIVE SESSION WINDOWS — the stateful complement of q128's
    * batch `session_window` and q68's hand-built mapGroupsWithState
    * sessionizer: Spark's built-in `session_window` running in a
    * watermarked APPEND-mode streaming aggregation. Each (user, session)
    * row emits EXACTLY ONCE, when the watermark passes the session's
    * close (last event + gap) — the production shape for "emit the
    * session record when the visitor goes quiet". State is bounded by
    * OPEN sessions only; closed sessions leave the store the moment they
    * emit, so a 100 TB firehose holds state proportional to concurrently
    * active users, not to history.
    *
    * Feed: the bounded 600-event fixture in event-id order (event time is
    * monotone in event_id, so nothing is watermark-dropped), then a
    * far-future sentinel that advances the watermark past every real
    * session's close — the bounded-feed analogue of stream retirement
    * (q214's pattern; the sentinel's own session stays open and never
    * emits). Stream ≡ batch: the emitted session table must equal the
    * gap-islands SQL over the same 600 events (session end = last event
    * + 30 min gap, second granularity — the feed carries epoch seconds).
    */
  private def q229(s: SparkSession, d: String): DataFrame = Sessions.isolated(s, StateWidth) { s =>
    import s.implicits._
    val eventsSeq = Pipeline.collectEvents(s, d, 600)
    val sentinel = Pipeline.StreamEvent(-1L,
      eventsSeq.map(_.ts_sec).max + 30L * 86400L, -1L, "sentinel", 0.0, "{}")
    val slices = (0 until 600 by 150).map(i => eventsSeq.slice(i, i + 150))
      .filter(_.nonEmpty) :+ Seq(sentinel)
    val stream = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Pipeline.StreamEvent](s)
    val ckpt = TempDirs.create("ckpt_q229")
    val q = stream.toDS()
      .filter(col("user_id") < 30 || col("user_id") === -1L)
      .withColumn("ts", timestamp_seconds(col("ts_sec")))
      .withWatermark("ts", "10 minutes")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .format("memory").queryName("graft_q229_sink").start()
    slices.foreach { sl => stream.addData(sl); q.processAllAvailable() }
    q.stop(); q.awaitTermination()
    TempDirs.delete(ckpt)
    s.table("graft_q229_sink")
      .filter(col("user_id") >= 0)
      .select(col("user_id"),
        date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss").as("s_start"),
        date_format(col("session_window.end"), "yyyy-MM-dd HH:mm:ss").as("s_end"),
        col("n_events"))
      .orderBy("user_id", "s_start")
  }

  private val q229Sql =
    """WITH ev AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
      |  FROM (SELECT * FROM events ORDER BY event_id LIMIT 600)
      |  WHERE user_id < 30),
      |flagged AS (
      |  SELECT user_id, ts_sec,
      |    CASE WHEN lag(ts_sec) OVER w IS NULL
      |           OR ts_sec - lag(ts_sec) OVER w >= 1800
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
      |sess AS (
      |  SELECT user_id, ts_sec,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_sec
      |      ROWS UNBOUNDED PRECEDING) AS sid
      |  FROM flagged)
      |SELECT user_id,
      |  strftime(make_timestamp(min(ts_sec) * 1000000), '%Y-%m-%d %H:%M:%S') AS s_start,
      |  strftime(make_timestamp((max(ts_sec) + 1800) * 1000000), '%Y-%m-%d %H:%M:%S') AS s_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM sess GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q229_stream_sessions", q229, Some(q229Sql),
      "streaming native session_window: watermarked append-mode gap sessions, stream == gap-islands batch"),
    QueryDef("q222_watermark_audit", q222, Some(q222Sql),
      "watermark-lateness audit: running-max event time over (synthesized) arrival order, would-drop counts per candidate delay"),
    QueryDef("q214_stream_topk", q214, Some(q214Sql),
      "streaming windowed top-k (trending users): append-mode closed-window counts + sentinel watermark advance + post-sink rank"),
    QueryDef("q146_stream_outer_join", q146, Some(q146Sql),
      "watermarked stream-stream LEFT OUTER interval join (null rows on state eviction)"),
    QueryDef("q123_stream_static_join", q123, Some(q123Sql),
      "stream-static broadcast dimension enrichment"),
    QueryDef("q69_stream_stream_join", q69, Some(q69Sql), "watermarked stream-stream interval join"),
    QueryDef("q68_sessionization", q68, Some(q68Sql), "stateful streaming sessionization"),
    QueryDef("q64_stream_dedup", q64, Some(q64Sql), "stateful streaming dropDuplicates"),
    QueryDef("q101_stream_dedup_wm", q101, Some(q101Sql), "bounded-state dedup within watermark"),
    QueryDef("q60_stream_window_agg", q60, Some(q60Sql), "ST6 event-time windows + watermark"),
    QueryDef("q61_stream_upsert", q61, Some(q61Sql), "S10/ST3 keyed streaming upsert"),
    QueryDef("q251_store_stream_sink", q251, Some(q251Sql),
      "streaming write through the graft-store DSv2 table: epoch-idempotent commits, exactly-once cardinality pin + q61-shape last-per-user"),
    QueryDef("q227_rate_limited_upsert", q227, Some(q227Sql),
      "ST1 rate-limited ingestion: maxFilesPerTrigger=1 over a 4-file layout, oracle pins the trigger count"),
    QueryDef("q62_stream_author_state", q62, Some(q62Sql), "ST5 flatMapGroupsWithState as-of counts"),
    QueryDef("q102_tws_author_state", q102, Some(q62Sql), "ST5 via Spark 4 transformWithState + RocksDB"),
    QueryDef("q108_incremental_agg", q108, Some(q108Sql), "incremental aggregate-table maintenance"),
    QueryDef("q201_stream_scd2", q201, Some(q201Sql),
      "streaming SCD2 history maintenance: per-batch change append + open-version close, stream = batch"),
    QueryDef("q63_stream_batch_anomaly", q63, Some(q63Sql), "ST4 batch-local z-score in foreachBatch"))
}
