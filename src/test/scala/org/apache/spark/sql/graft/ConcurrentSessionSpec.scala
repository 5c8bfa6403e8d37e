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
    "q102_tws_author_state", "q259_store_cdc", "q13_correlated_subq")

  private def sortedRows(name: String): Seq[String] =
    Registry.queries(name)(spark, sf).collect().map(_.toString).toSeq.sorted

  test("two copies each of five session-owning queries on 4 threads match their serial runs") {
    val serial = names.map(n => n -> sortedRows(n)).toMap
    val bus = spark.sparkContext.listenerBus
    val listeners0 = bus.listeners.asScala.toSet
    val conf0 = spark.conf.getAll
    val pool = Executors.newFixedThreadPool(4)
    val got =
      try {
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
        // both copies of a query start together, so they overlap
        Await.result(Future.traverse(names.flatMap(n => Seq(n, n)))(n =>
          Future(n -> Try(sortedRows(n)))), 10.minutes)
      } finally pool.shutdown()
    val wrong = got.collect {
      case (n, r) if !r.toOption.contains(serial(n)) =>
        s"$n: ${r.fold(e => s"threw $e", rows => s"${rows.size} rows differ from serial ${serial(n).size}")}"
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
    // Spark itself drops the buses of garbage-collected sessions, so the
    // check is that no listener was added, not that the count is equal
    val added = bus.listeners.asScala.filterNot(listeners0.contains)
    assert(added.isEmpty, s"SparkContext listeners added: $added")
    assert(spark.conf.getAll == conf0)
  }
}
