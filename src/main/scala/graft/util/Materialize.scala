package graft.util

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** The one way to materialize and release an intermediate.
  *
  * `Materialize.scoped { m => … }` hands its body a scope. `m.cache(df)`
  * puts a frame in the session cache for the rest of the body, and the
  * scope unpersists every registered frame when the body exits, whether
  * it returns or throws — newest first, so no cached frame is re-planned
  * over one that is about to go.
  *
  * A body whose result reads a scoped cache returns
  * `res.localCheckpoint(true)`: the result is computed while the cache
  * is live, and nothing stays in the session cache after the query.
  */
final class Materialize private () {
  private val frames = mutable.ArrayBuffer.empty[DataFrame]

  /** Cache `df` until the scope exits; returns `df`. */
  def cache(df: DataFrame): DataFrame = {
    frames += df
    df.cache()
  }

  private def release(): Unit = frames.reverseIterator.foreach(_.unpersist())
}

object Materialize {
  def scoped[A](body: Materialize => A): A = {
    val m = new Materialize
    try body(m) finally m.release()
  }

  /** Best-effort release of the blocks behind a `localCheckpoint(true)`
    * frame, for session memos that hold checkpointed frames past a query.
    * The checkpointed RDD is the leaf `LogicalRDD`'s rdd, which
    * `Dataset.unpersist` cannot reach (it was persisted directly, not
    * through the cache manager).
    */
  def releaseCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case lr: LogicalRDD => lr.rdd.unpersist(false); ()
      case _ => ()
    } catch { case _: Throwable => () }

  /** A session memo for values built from the dataset files `files` of a
    * dataset dir — train once, apply many. See [[Memo]].
    */
  def memo[A](files: String*)(release: A => Unit): Memo[A] = new Memo(files, release)
}

/** Values memoized per dataset GENERATION: the Spark app, the dataset dir,
  * and the mtime and length of each file the values are built from, so a
  * dataset rewritten at the same path within one app is never served a
  * stale value. `apply` builds under a lock (a bare `getOrElseUpdate`
  * could run an expensive build twice under concurrent first calls); the
  * lock is reentrant, so a build may read another key of the same memo.
  * The memo holds one generation at a time: a new one evicts the old
  * values and `release`s them (e.g. their checkpoint blocks), so a
  * long-lived session walking many datasets holds one dataset's worth.
  */
final class Memo[A] private[util] (files: Seq[String], release: A => Unit) {
  private val values = mutable.HashMap.empty[((String, String, String), String), A]

  def apply(s: SparkSession, d: String, what: String = "")(build: => A): A = synchronized {
    val gen = (s.sparkContext.applicationId, d, files.map { f =>
      val file = new java.io.File(d, f)
      s"${file.lastModified}:${file.length}"
    }.mkString(","))
    values.getOrElse((gen, what), {
      values.keySet.filterNot(_._1 == gen).toList.foreach(k => values.remove(k).foreach(release))
      val v = build
      values.put((gen, what), v)
      v
    })
  }
}
