package perfbench

import java.time.Instant
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed execution as the client thread saw it. Times are epoch ms
  * (the clock Spark's listener events use) plus nanosecond durations.
  */
final case class Exec(id: Long, client: Int, pass: Int, query: String,
    startMs: Long, endMs: Long, buildNs: Long, actionNs: Long, rows: Long,
    error: Option[String], cacheLeft: Int, confChanged: Int) {
  def tag: String = id.toString
  def wallMs: Long = endMs - startMs
}

object Spans {
  /** Length of the union of `spans`, each clipped to [lo, hi]. */
  def unionMs(spans: Iterable[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = spans.iterator
      .map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.toArray.sortBy(_._1)
    var total = 0L
    var cs = 0L
    var ce = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > ce) {
        if (ce != Long.MinValue) total += ce - cs
        cs = a; ce = b
      } else ce = math.max(ce, b)
    }
    if (ce != Long.MinValue) total += ce - cs
    total
  }
}

/** Streaming batch durations (`durationMs.triggerExecution`), recorded in
  * both the timed and the traced run.
  */
final class BatchTimes extends StreamingQueryListener {
  private val times = mutable.ArrayBuffer.empty[(Long, Long)]
  def since(ms: Long): Seq[Long] =
    times.synchronized(times.filter(_._1 >= ms).map(_._2).toSeq)
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue)
    d.foreach(v => times.synchronized(times += ((Instant.parse(p.timestamp).toEpochMilli, v))))
  }
}

/** The traced run's collector. Jobs, stages and tasks are tied to the
  * execution that caused them through the local property [[Tracer.ExecKey]],
  * which the client thread sets before calling into a query and which
  * stream threads inherit. Query executions and streaming batches are tied
  * through the SQL execution and streaming query their jobs belong to.
  * Everything is kept in memory and reduced once the run is over.
  */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class StageAgg(val tag: String, val submitted: Long) {
    var tasks, runMs, cpuNs, gcMs, waitMs, shWrite, shRead, fetchWaitMs = 0L
    var spillMem, spillDisk, inBytes, inRecs, outBytes, outRecs = 0L
    val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  }
  private final class JobRec(val tag: String, val start: Long, val stageIds: Seq[Int]) {
    var end = -1L
  }
  private final case class QeRec(id: Long, phases: Seq[(String, Long, Long)])
  private final case class BatchRec(queryId: String, start: Long,
      durations: Map[String, Long], inputRows: Long, stateRows: Long, stateCommitMs: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val qeTag = mutable.HashMap.empty[Long, String]
  private val streamTag = mutable.HashMap.empty[String, String]
  private val qes = mutable.ArrayBuffer.empty[QeRec]
  private val batches = mutable.ArrayBuffer.empty[BatchRec]
  @volatile private var lastEventNs = System.nanoTime()

  private def record[T](f: => T): T = synchronized {
    lastEventNs = System.nanoTime()
    f
  }

  /** Wait until the listener buses have been quiet for a moment. */
  def drain(): Unit = {
    val limit = System.nanoTime() + 10e9.toLong
    while (System.nanoTime() - lastEventNs < 500e6.toLong && System.nanoTime() < limit)
      Thread.sleep(100)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    p.flatMap(x => Option(x.getProperty(ExecKey))).foreach { tag =>
      record {
        jobs(e.jobId) = new JobRec(tag, e.time, e.stageIds)
        // The QueryExecution is registered under its execution id only
        // while it runs; jobs are looked up as they start.
        p.flatMap(x => Option(x.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .flatMap(id => Option(SQLExecution.getQueryExecution(id.toLong)))
          .foreach(qe => qeTag(qe.id) = tag)
        p.flatMap(x => Option(x.getProperty("sql.streaming.queryId")))
          .foreach(id => streamTag(id) = tag)
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    record(jobs.get(e.jobId).foreach(_.end = e.time))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(x => Option(x.getProperty(ExecKey))).foreach { tag =>
      val info = e.stageInfo
      record(stages.getOrElseUpdate(info.stageId,
        new StageAgg(tag, info.submissionTime.getOrElse(System.currentTimeMillis()))))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = record {
    stages.get(e.stageId).foreach { s =>
      val i = e.taskInfo
      s.tasks += 1
      s.waitMs += math.max(0L, i.launchTime - s.submitted)
      s.taskSpans += ((i.launchTime, i.finishTime))
      Option(e.taskMetrics).foreach { m =>
        s.runMs += m.executorRunTime
        s.cpuNs += m.executorCpuTime
        s.gcMs += m.jvmGCTime
        s.shWrite += m.shuffleWriteMetrics.bytesWritten
        s.shRead += m.shuffleReadMetrics.totalBytesRead
        s.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        s.spillMem += m.memoryBytesSpilled
        s.spillDisk += m.diskBytesSpilled
        s.inBytes += m.inputMetrics.bytesRead
        s.inRecs += m.inputMetrics.recordsRead
        s.outBytes += m.outputMetrics.bytesWritten
        s.outRecs += m.outputMetrics.recordsWritten
      }
    }
  }

  private def onQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases.toSeq.map { case (n, p) => (n, p.startTimeMs, p.endTimeMs) }
    record(qes += QeRec(qe.id, phases))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = onQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = onQe(qe)

  val streams: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      record(batches += BatchRec(p.id.toString, Instant.parse(p.timestamp).toEpochMilli, d,
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum))
    }
  }

  /** Per-execution layer breakdown plus workload totals. Five self times
    * partition each execution's wall time exactly: `executor.active_s`
    * (some task running), `scheduler.self_s` (a job running, no task),
    * `driver.plan_self_s` (planning outside jobs), `query.build_self_s`
    * (the rest of the call into `QueryDef.fn`) and `query.self_s`, the
    * unattributed remainder.
    */
  def reduce(execs: Seq[Exec], cores: Int, windowMs: Long)
      : (Seq[(String, String, Double)], Seq[Map[String, Any]]) = synchronized {
    // SQL executions and batches whose jobs carried no tag (e.g. plans that
    // ran no job) go to the one execution whose interval contains them.
    def containing(lo: Long, hi: Long): Option[String] = {
      val hits = execs.filter(x => x.startMs <= lo && hi <= x.endMs)
      if (hits.size == 1) Some(hits.head.tag) else None
    }
    val qeByTag = qes.groupBy { q =>
      qeTag.get(q.id).orElse {
        if (q.phases.isEmpty) None
        else containing(q.phases.map(_._2).min, q.phases.map(_._3).max)
      }
    }
    val batchByTag = batches.groupBy(b => streamTag.get(b.queryId).orElse(
      containing(b.start, b.start + b.durations.getOrElse("triggerExecution", 0L))))
    val jobsByTag = jobs.values.groupBy(_.tag)
    val stagesByTag = stages.values.groupBy(_.tag)

    val rows = execs.map { x =>
      val lo = x.startMs
      val hi = x.endMs
      val js = jobsByTag.getOrElse(x.tag, Nil)
      val ss = stagesByTag.getOrElse(x.tag, Nil)
      val qs = qeByTag.getOrElse(Some(x.tag), Nil)
      val bs = batchByTag.getOrElse(Some(x.tag), Nil)
      val jobSpans = js.map(j => (j.start, if (j.end < 0) hi else j.end))
      val taskSpans = ss.flatMap(_.taskSpans)
      val planSpans = qs.flatMap(_.phases.map(p => (p._2, p._3)))
      val uTask = Spans.unionMs(taskSpans, lo, hi)
      val uJob = Spans.unionMs(jobSpans, lo, hi)
      val uJobTask = Spans.unionMs(jobSpans ++ taskSpans, lo, hi)
      val uAll = Spans.unionMs(jobSpans ++ taskSpans ++ planSpans, lo, hi)
      val buildSpan = (lo, lo + x.buildNs / 1000000)
      val uBuild = Spans.unionMs(jobSpans ++ taskSpans ++ planSpans ++ Seq(buildSpan), lo, hi)
      val submitted = ss.size
      val skipped = js.map(j => j.stageIds.count(id => !stages.contains(id))).sum
      def sumS(f: StageAgg => Long) = ss.map(f).sum
      def dur(k: String) = bs.map(_.durations.getOrElse(k, 0L)).sum.toDouble
      val outB = sumS(_.outBytes)
      val outR = sumS(_.outRecs)
      val MB = 1024.0 * 1024.0
      val m: Seq[(String, String, Double)] = Seq(
        ("query.wall_s", "s", x.wallMs / 1e3),
        ("query.build_s", "s", x.buildNs / 1e9),
        ("query.action_s", "s", x.actionNs / 1e9),
        ("query.build_self_s", "s", (uBuild - uAll) / 1e3),
        ("query.self_s", "s", (x.wallMs - uBuild) / 1e3),
        ("driver.actions", "count", qs.size.toDouble),
        ("driver.plan_s", "s", qs.flatMap(_.phases.map(p => p._3 - p._2)).sum / 1e3),
        ("driver.plan_self_s", "s", (uAll - uJobTask) / 1e3),
        ("driver.gap_s", "s", (x.wallMs - uJob) / 1e3),
        ("scheduler.jobs", "count", js.size.toDouble),
        ("scheduler.stages", "count", submitted.toDouble),
        ("scheduler.stages_skipped", "count", skipped.toDouble),
        ("scheduler.tasks", "count", sumS(_.tasks).toDouble),
        ("scheduler.task_wait_s", "s", sumS(_.waitMs) / 1e3),
        ("scheduler.self_s", "s", (uJobTask - uTask) / 1e3),
        ("executor.active_s", "s", uTask / 1e3),
        ("executor.run_s", "s", sumS(_.runMs) / 1e3),
        ("executor.cpu_s", "s", sumS(_.cpuNs) / 1e9),
        ("executor.gc_s", "s", sumS(_.gcMs) / 1e3),
        ("shuffle.write_mb", "MB", sumS(_.shWrite) / MB),
        ("shuffle.read_mb", "MB", sumS(_.shRead) / MB),
        ("shuffle.fetch_wait_s", "s", sumS(_.fetchWaitMs) / 1e3),
        ("spill.mem_mb", "MB", sumS(_.spillMem) / MB),
        ("spill.disk_mb", "MB", sumS(_.spillDisk) / MB),
        ("scan.read_mb", "MB", sumS(_.inBytes) / MB),
        ("scan.records", "count", sumS(_.inRecs).toDouble),
        ("sink.write_mb", "MB", outB / MB),
        ("sink.records", "count", outR.toDouble),
        ("streaming.batches", "count", bs.size.toDouble),
        ("streaming.useful_batches", "count", bs.count(_.inputRows > 0).toDouble),
        ("streaming.input_rows", "count", bs.map(_.inputRows).sum.toDouble),
        ("streaming.plan_ms", "ms", dur("queryPlanning")),
        ("streaming.get_batch_ms", "ms", dur("getBatch")),
        ("streaming.add_batch_ms", "ms", dur("addBatch")),
        ("streaming.wal_commit_ms", "ms", dur("walCommit")),
        ("streaming.commit_offsets_ms", "ms", dur("commitOffsets")),
        ("streaming.state_rows", "count", bs.map(_.stateRows).sum.toDouble),
        ("streaming.state_commit_ms", "ms", bs.map(_.stateCommitMs).sum.toDouble))
      val spans =
        Seq(Map("name" -> "query.build", "start_ms" -> lo, "end_ms" -> (lo + x.buildNs / 1000000))) ++
          js.toSeq.sortBy(_.start).map(j => Map("name" -> "scheduler.job", "start_ms" -> j.start,
            "end_ms" -> (if (j.end < 0) hi else j.end), "stages" -> j.stageIds.size)) ++
          qs.flatMap(_.phases.map(p => Map("name" -> s"driver.${p._1}", "start_ms" -> p._2, "end_ms" -> p._3))) ++
          bs.sortBy(_.start).map(b => Map("name" -> "streaming.batch", "start_ms" -> b.start,
            "end_ms" -> (b.start + b.durations.getOrElse("triggerExecution", 0L)), "input_rows" -> b.inputRows))
      (m, Map[String, Any]("exec" -> x.id, "client" -> x.client, "pass" -> x.pass,
        "query" -> x.query, "start_ms" -> lo, "end_ms" -> hi, "rows" -> x.rows,
        "error" -> x.error.orNull, "session.cache_left" -> x.cacheLeft,
        "session.conf_changed" -> x.confChanged,
        "layers" -> m.map(t => t._1 -> t._3).toMap, "spans" -> spans))
    }
    val totals = rows.flatMap(_._1).groupBy(_._1).map { case (k, vs) => k -> (vs.head._2, vs.map(_._3).sum) }
    def t(k: String) = totals.get(k).map(_._2).getOrElse(0.0)
    val names = rows.headOption.map(_._1.map(_._1)).getOrElse(Nil)
    val derived = Seq(
      ("executor.busy_frac", "ratio", if (windowMs > 0) t("executor.run_s") / (windowMs / 1e3 * cores) else 0.0),
      ("sink.bytes_per_record", "B/record",
        if (t("sink.records") > 0) t("sink.write_mb") * 1024 * 1024 / t("sink.records") else 0.0),
      ("streaming.useful_batch_frac", "ratio",
        if (t("streaming.batches") > 0) t("streaming.useful_batches") / t("streaming.batches") else 0.0))
    (names.map(k => (k, totals(k)._1, totals(k)._2)) ++ derived, rows.map(_._2))
  }
}

object Tracer {
  /** Local property naming the execution a job belongs to. */
  val ExecKey = "perfbench.exec"
}
