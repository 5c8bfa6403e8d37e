package org.apache.spark.sql.graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

import graft.{Registry, TestSpark}

/** Queries that own conf, temp views, memory sinks or a catalog binding,
  * run concurrently on ONE session. In this package because the
  * SparkContext listener bus is `private[spark]`.
  */
class ConcurrentSessionSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val names = Seq("q64_stream_dedup", "q69_stream_stream_join",
    "q102_tws_author_state", "q259_store_cdc", "q13_correlated_subq",
    "q61_stream_upsert", "q227_rate_limited_upsert")

  private def sortedRows(name: String): Seq[String] =
    Registry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted

  /** Runs two adjacent copies of each of `queries` on 4 threads, so both
    * copies of a query overlap, and fails on any whose sorted rows differ
    * from `serial`.
    */
  private def assertConcurrentMatch(queries: Seq[String], serial: Map[String, Seq[String]]): Unit = {
    val pool = Executors.newFixedThreadPool(4)
    val got =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        Await.result(Future.traverse(queries.flatMap(n => Seq(n, n)))(n =>
          Future(n -> Try(sortedRows(n)))), 10.minutes)
      } finally pool.shutdown()
    val wrong = got.collect {
      case (n, r) if !r.toOption.contains(serial(n)) =>
        s"$n: ${r.fold(e => s"threw $e", rows => s"${rows.size} rows differ from serial ${serial(n).size}")}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  /** Fails if a SparkContext listener was added since `listeners0`. Spark
    * itself drops the buses of garbage-collected sessions, so the check is
    * that no listener was added, not that the count is equal.
    *
    * In a full run the shared session already holds one
    * `QueryExecutionListener`, and its clones inherit it: Spark's own
    * `classic.ObservationManager$Listener`, which the session's first
    * `Dataset.observe` registers for the session's lifetime (a direct
    * `GraftIVM.refresh` in `SourcesSpec`, `ObservabilitySpec`, or
    * `LocalSpark.timed` in `ProfileSpec`, whichever runs first). No test
    * leaves a listener of its own.
    */
  private def assertNoListenerAdded(listeners0: Set[AnyRef]): Unit = {
    val added = spark.sparkContext.listenerBus.listeners.asScala.filterNot(listeners0.contains)
    assert(added.isEmpty, s"SparkContext listeners added: $added")
  }

  private def listeners(): Set[AnyRef] = spark.sparkContext.listenerBus.listeners.asScala.toSet

  test("two copies each of seven session-owning queries on 4 threads match their serial runs") {
    val serial = names.map(n => n -> sortedRows(n)).toMap
    val listeners0 = listeners()
    val conf0 = spark.conf.getAll
    assertConcurrentMatch(names, serial)
    assertNoListenerAdded(listeners0)
    assert(spark.conf.getAll == conf0)
  }

  test("one q261 execution adds no SparkContext listener") {
    spark.streams // the caller's own streaming bus is made on first use
    val listeners0 = listeners()
    Registry.queries("q261_store_stream_ivm")(spark, sf).collect()
    assertNoListenerAdded(listeners0)
  }

  test("two copies each of q71 and q74 on 4 threads match a serial run and leave no catalog table") {
    val tableQueries = Seq("q71_sql_catalog", "q74_bucketed_join")
    val serial = tableQueries.map(n => n -> sortedRows(n)).toMap
    assertConcurrentMatch(tableQueries, serial)
    val left = spark.catalog.listTables().collect().map(_.name)
      .filter(t => Seq("graft_orders_by_month", "graft_orders_b", "graft_customer_b").exists(t.startsWith))
    assert(left.isEmpty, s"tables left in the session catalog: ${left.mkString(", ")}")
  }
}
