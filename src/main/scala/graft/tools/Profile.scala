package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ExecutedPlans
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.LocalSpark

/** The one profiler. Runs registry queries with a job/stage listener and
  * a streaming-progress listener attached and reports, for each profiled
  * run: its full-result wall time and rows ([[LocalSpark.timed]]); its
  * Spark job, stage and task counts; the stages with the most executor
  * run time, with the RDD scopes that name their operators (under AQE a
  * stage's call site is an anonymous materialization future); and for a
  * streaming query each micro-batch's `durationMs` phases and state rows.
  * Each query runs once untimed first, so analysis and codegen are paid
  * before the profiled runs.
  * Usage: runMain graft.tools.Profile <q1,q2,...> [sfDir] [reps]
  */
object Profile {
  final case class Stage(id: Int, tasks: Int, runSeconds: Double, scopes: Seq[String])
  final case class Batch(id: Long, durationMs: Map[String, Long], stateRows: Long)
  final case class Record(name: String, seconds: Double, rows: Long, jobs: Int,
      stages: Seq[Stage], batches: Seq[Batch])

  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(2).fold(2)(_.toInt)
    val spark = LocalSpark.session()
    names.foreach { name =>
      try {
        LocalSpark.timed(spark, graft.Registry.queries(name), sfDir)
        (1 to reps).foreach(i => report(i, run(spark, name, sfDir)))
      } catch { case e: Throwable =>
        System.err.println(s"[profile] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }

  /** One profiled run of the registry query `name`. */
  def run(spark: SparkSession, name: String, sfDir: String): Record = {
    val jobs = new AtomicInteger
    val stages = new ConcurrentLinkedQueue[Stage]
    val batches = new ConcurrentLinkedQueue[Batch]
    val jobListener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
        val si = s.stageInfo
        stages.add(Stage(si.stageId, si.numTasks, si.taskMetrics.executorRunTime / 1e3,
          si.rddInfos.flatMap(_.scope).map(_.name).distinct.toSeq))
      }
    }
    val batchListener = new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val p = e.progress
        batches.add(Batch(p.batchId,
          p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
          p.stateOperators.map(_.numRowsTotal).sum))
      }
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.streams.addListener(batchListener)
    try {
      val t = LocalSpark.timed(spark, graft.Registry.queries(name), sfDir)
      ExecutedPlans.drainListenerBus(spark)
      Record(name, t.seconds, t.rows, jobs.get, stages.asScala.toSeq, batches.asScala.toSeq)
    } finally {
      spark.streams.removeListener(batchListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  private def report(rep: Int, r: Record): Unit = {
    println(f"[profile] ${r.name} rep $rep: ${r.seconds}%.3f s, ${r.rows} rows, " +
      s"${r.jobs} jobs, ${r.stages.size} stages, ${r.stages.map(_.tasks).sum} tasks")
    r.stages.sortBy(-_.runSeconds).take(8).foreach { s =>
      println(f"[profile]   stage ${s.id} (${s.tasks} tasks) ${s.runSeconds}%.2f s :: " +
        s.scopes.mkString(" > "))
    }
    r.batches.sortBy(_.id).foreach { b =>
      val phases = b.durationMs.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")
      println(s"[profile]   batch ${b.id}: $phases ms, ${b.stateRows} state rows")
    }
  }
}
