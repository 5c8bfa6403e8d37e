package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Results do not depend on shuffle width. Registry results carry no row
  * order, so this pins their content: each `serve` dashboard query runs on
  * sessions that differ from the test session only in
  * `spark.sql.shuffle.partitions`, and its sorted rows must agree.
  */
class ShuffleWidthSpec extends AnyFunSuite {
  import TestSpark.{spark, sf}

  private val serve = Seq("q11_filter_project", "q96_histogram", "q79_map_explode",
    "q151_ols_trend", "q09_semi_join", "q29_range_ntile", "q26_pivot_counts",
    "q246_benford_audit", "q233_bootstrap_ci", "q27_approx_distinct")

  /** A new session on the test session's context with its conf, at `width`
    * shuffle partitions.
    */
  private def sessionAt(width: Int): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) => if (s.conf.isModifiable(k)) s.conf.set(k, v) }
    s.conf.set("spark.sql.shuffle.partitions", width.toLong)
    s
  }

  test("the 10 serve queries return the same rows at shuffle widths 1, 7 and the session's own") {
    val widths = Seq(1, 7, spark.conf.get("spark.sql.shuffle.partitions").toInt)
    val sessions = widths.map(w => w -> sessionAt(w))
    assert(sessions.forall(_._2.conf.get("spark.sql.session.timeZone") == "UTC"))
    val differ = serve.flatMap { name =>
      val byWidth = sessions.map { case (w, s) =>
        w -> Registry.queries(name)(s, sf).collect().map(_.toString).toSeq.sorted
      }
      val (w0, rows0) = byWidth.head
      Option.when(rows0.isEmpty)(s"$name: no rows at width $w0") ++
        byWidth.tail.collect { case (w, rows) if rows != rows0 =>
          s"$name: ${rows.size} rows at width $w differ from ${rows0.size} at width $w0"
        }
    }
    assert(differ.isEmpty, differ.mkString("\n"))
  }
}
