package graft.util

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
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
}
