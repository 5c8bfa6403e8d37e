package org.apache.spark.sql.graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession, classic}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.{StreamingQueryListenerBus, StreamingQueryWrapper}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.{ExecutionListenerBus, QueryExecutionListener}

/** One query, one session clone.
  *
  * [[isolated]] runs a query body on a clone of the caller's session with
  * the body's conf overrides applied. Whatever the body sets, registers or
  * starts — conf, temp views, memory sinks, streaming query names, a
  * catalog binding — lives on the clone, so concurrent queries on one
  * session cannot see each other's, and the caller's session is left as
  * it was.
  *
  * A clone inherits the caller's runtime conf, query-execution listeners,
  * temp functions and experimental rules. Streaming listeners are not
  * cloned by Spark, so the caller's are copied onto the clone. Every
  * session that touches `.streams` registers a listener bus on the
  * SparkContext that Spark never removes; the buses of the clone and of
  * the sessions its streaming queries run on are removed once those
  * queries' last events have been delivered, and so are those sessions'
  * query-execution buses.
  *
  * The returned frame is rebound to the caller's session: the caller's
  * action on it plans and runs under the caller's conf, as for any other
  * query.
  *
  * Lives in this package because `cloneSession`, `Dataset.ofRows` and the
  * SparkContext listener bus are `private[sql]` / `private[spark]`.
  */
object Sessions {

  def isolated(s: SparkSession, conf: (String, String)*)(body: SparkSession => DataFrame): DataFrame = {
    val parent = s.asInstanceOf[classic.SparkSession]
    val cloned = parent.cloneSession()
    conf.foreach { case (k, v) => cloned.conf.set(k, v) }
    // A session with query-execution listeners has its own bus for them,
    // freed by Spark only when the session is garbage-collected; this
    // marker finds it.
    val qeMarker = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = ()
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val marker = new StreamingQueryListener {
      @volatile var started = false
      // Runs on the query's thread, with the query already registered. The
      // query runs its batches on a session of its own, whose buses leak
      // the same way: its streaming bus (made when its state stores start)
      // and its execution bus (made when a batch registers an
      // `Observation`). Mark both.
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
        started = true
        Option(cloned.streams.get(e.id)).foreach { q =>
          val session = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.sparkSessionForStream
          session.streams.addListener(this)
          session.listenerManager.register(qeMarker)
        }
      }
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    (parent.streams.listListeners() :+ marker).foreach(cloned.streams.addListener)
    // Registering the marker on a clone without listeners would make the
    // bus, so only a clone that inherited some gets it.
    val cloneListens = cloned.listenerManager.listListeners().nonEmpty
    if (cloneListens) cloned.listenerManager.register(qeMarker)
    try {
      val df = body(cloned).asInstanceOf[classic.Dataset[Row]]
      classic.Dataset.ofRows(parent, df.logicalPlan)
    } finally {
      cloned.streams.active.foreach(_.stop())
      val bus = parent.sparkContext.listenerBus
      // A query's started event reaches the marker on the starting thread;
      // its progress and terminated events, and the clone's execution
      // events, arrive through the bus. A bus still busy after the drain's
      // 10 s loses those events, not the query.
      if (marker.started || cloneListens)
        try bus.waitUntilEmpty() catch { case _: java.util.concurrent.TimeoutException => }
      bus.listeners.asScala.foreach {
        case b: StreamingQueryListenerBus if b.listeners.contains(marker) => bus.removeListener(b)
        case b: ExecutionListenerBus if b.listeners.contains(qeMarker) => bus.removeListener(b)
        case _ =>
      }
    }
  }
}
